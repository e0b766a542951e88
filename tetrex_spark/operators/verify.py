"""Regex verification over candidate bins — the F10/F11 analog
(/root/reference/src/query.cpp:167-339, include/query.h:98-224).

The reference re-opens candidate FASTA bins and scans every record with
RE2 under an OMP parallel-for (include/query.h:126-138). Here the
candidate rows reach the verify kernel by one of three reads, chosen by
the planner's read rule (plans.planner, `MotifIndex._driver_scan`), which
prices a query by the characters the kernel will scan:
  - driver, as-is: the candidate bins' row groups of the index's
    bin-sorted text copy (sources.bin_text), read with pyarrow, when the
    query's corpus is the indexed file scan and the bins hold few
    characters; the kernel runs on the driver and the result is a local
    DataFrame (no Spark job until a consumer asks for one);
  - driver, with a document prefilter: the same read for a pattern whose
    bins hold too many characters but whose NFA traversal was
    constrained; the read is normalized once, the traversal runs again
    over each document's exact grams, and the kernel scans only the
    documents it keeps, when those are few;
  - Spark: a scan of the whole corpus with the candidate-bin list as an
    `isin` predicate on the per-row `bin_id`. Catalyst pushes it into the
    scan, so it prunes only a corpus that stores bin_id; one whose bin_id
    is computed per row is read in full.

All three call the same kernels (`match_rows`, `all_match_rows`; on the
executors through `match_batch`, `all_match_batch`), where Python's C
regex engine plays RE2's role. Matches are emitted as (url, match, start,
end) rows — the TSV sink (S7) becomes a DataFrame.

Offsets are relative to the NORMALIZED text (the index and the verifier
must see the same bytes — same rule as the reference's reduced-alphabet
verify at src/query.cpp:240-315, which rewrites the record through
redmap_ before matching).
"""

from __future__ import annotations

import re
import warnings
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.text import corpus_text_series

MATCH_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("match", T.StringType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
    ]
)


def prune_to_bins(corpus: DataFrame, bin_ids: list[int], n_bins: int) -> DataFrame:
    """Candidate-bin semi-join prune (J2). When every bin is a candidate
    (full-scan fallback) the filter is skipped so Catalyst doesn't waste a
    predicate."""
    if len(bin_ids) >= n_bins:
        return corpus
    return corpus.filter(F.col("bin_id").isin(bin_ids))


MULTI_MATCH_SCHEMA = T.StructType(
    [T.StructField("query_id", T.StringType(), False)] + list(MATCH_SCHEMA)
)

# one (query_id, pattern, candidate bins or None for every row) per pattern
PatternBins = list[tuple[str, str, "list[int] | None"]]


def compile_pattern(pattern: str) -> re.Pattern:
    """The verify's regex: case-insensitive, over normalized text."""
    return re.compile(pattern, re.IGNORECASE)


def compile_patterns(pattern_bins: PatternBins) -> list[tuple]:
    """(query_id, compiled regex, int64 bin array or None) per pattern:
    the form `match_batch` takes."""
    return [
        (qid, compile_pattern(pat),
         None if bins is None else np.asarray(sorted(bins), dtype=np.int64))
        for qid, pat, bins in pattern_bins
    ]


def _contains(text: pd.Series, rx: re.Pattern) -> np.ndarray:
    """Vectorized `rx.search` per row. pandas warns on every call whose
    pattern has capture groups (they do not change a contains test)."""
    with warnings.catch_warnings():
        warnings.filterwarnings("ignore", "This pattern .* has match groups", UserWarning)
        return text.str.contains(rx).to_numpy()


def _batch_text(pdf: pd.DataFrame) -> pd.Series:
    return corpus_text_series(pdf["text"], pdf["html"] if "html" in pdf else None)


def match_rows(text: pd.Series, ids: np.ndarray, rxs: list[tuple]) -> pd.DataFrame:
    """The verify kernel: every match of every pattern of `rxs` —
    (query_id, compiled regex, bool row mask or None for every row) — in
    the normalized `text` rows -> (query_id, url, match, start, end), the
    url being the row's entry of `ids`."""
    out = {"query_id": [], "url": [], "match": [], "start": [], "end": []}
    for qid, rx, rows in rxs:
        # row gating + vectorized contains prefilter per pattern: the
        # Python finditer loop touches only (gated, actually-matching) rows
        if rows is not None:
            if not rows.any():
                continue
            sub_text, sub_ids = text[rows], ids[rows]
        else:
            sub_text, sub_ids = text, ids
        hit = _contains(sub_text, rx)
        for url, doc in zip(sub_ids[hit], sub_text.to_numpy()[hit]):
            for m in rx.finditer(doc):
                out["query_id"].append(qid)
                out["url"].append(url)
                out["match"].append(m.group(0))
                out["start"].append(m.start())
                out["end"].append(m.end())
    return pd.DataFrame(out).astype({"start": "int64", "end": "int64"})


def match_batch(pdf: pd.DataFrame, rxs: list[tuple], id_col: str = "url") -> pd.DataFrame:
    """`match_rows` over one batch `pdf` (id_col, text[, html][, bin_id]),
    normalized here; a pattern of `rxs` (compile_patterns) with bins
    applies only to rows of those bins when `pdf` has bin_id."""
    bin_ids = pdf["bin_id"].to_numpy() if "bin_id" in pdf else None
    return match_rows(_batch_text(pdf), pdf[id_col].to_numpy(), [
        (qid, rx, None if bins is None or bin_ids is None else np.isin(bin_ids, bins))
        for qid, rx, bins in rxs
    ])


def all_match_rows(text: pd.Series, patterns: list[str]) -> np.ndarray:
    """The conjunctive kernel: a bool mask of the normalized `text` rows
    where every pattern matches."""
    mask = np.ones(len(text), dtype=bool)
    for pat in patterns:
        mask &= _contains(text, compile_pattern(pat))
    return mask


def all_match_batch(pdf: pd.DataFrame, patterns: list[str], id_col: str = "url") -> pd.DataFrame:
    """`all_match_rows` over one batch: the id_col of rows where every
    pattern matches."""
    return pdf.loc[all_match_rows(_batch_text(pdf), patterns), [id_col]]


def verify_regex_many(
    corpus: DataFrame,
    pattern_bins: PatternBins,
    id_col: str = "url",
) -> DataFrame:
    """Batched multi-pattern verify: ONE scan emits (query_id, url,
    match, start, end) for every pattern, each applied only to rows of
    its own candidate bins (bins=None -> every row). The Spark-first
    answer to the reference's run_multiple_queries loop
    (src/query.cpp:342-373, one sequential full pass per query): N
    patterns share a single pruned corpus pass, and the per-row work is
    gated by the same bin bitvectors the single-query path prunes with."""
    has_bin = "bin_id" in corpus.columns and any(
        bins is not None for _, _, bins in pattern_bins
    )
    cols = [id_col, "text"] + (["html"] if "html" in corpus.columns else []) + (
        ["bin_id"] if has_bin else []
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rxs = compile_patterns(pattern_bins)
        for pdf in batches:
            if not pdf.empty:
                yield match_batch(pdf, rxs, id_col)

    return corpus.select(*cols).mapInPandas(fn, MULTI_MATCH_SCHEMA)


def verify_regex(corpus: DataFrame, pattern: str, id_col: str = "url") -> DataFrame:
    """All matches of `pattern` (case-insensitive, over normalized text)
    in every row of `corpus` -> (url, match, start, end): the one-pattern
    case of verify_regex_many."""
    return verify_regex_many(corpus, [("", pattern, None)], id_col).drop("query_id")


def conjunctive_schema(id_type: T.DataType, id_col: str = "url") -> T.StructType:
    return T.StructType([T.StructField(id_col, id_type, False)])


def verify_conjunctive(corpus: DataFrame, patterns: list[str], id_col: str = "url") -> DataFrame:
    """Docs where ALL patterns match (F11: RE2::Set semantics,
    include/query.h:191-224 — `matching_rules.size() == count`)."""
    cols = [id_col, "text"] + (["html"] if "html" in corpus.columns else [])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not pdf.empty:
                yield all_match_batch(pdf, patterns, id_col)

    return corpus.select(*cols).mapInPandas(
        fn, conjunctive_schema(corpus.schema[id_col].dataType, id_col)
    )


def local_frame(spark: SparkSession, pdf: pd.DataFrame, schema: T.StructType) -> DataFrame:
    """A driver-side result as a DataFrame over one Arrow table: it plans a
    LocalTableScan, so collecting it runs no Spark job (a DataFrame made
    from a list of rows starts a Python RDD job instead)."""
    table = pa.Table.from_pandas(
        pdf[schema.names], schema=to_arrow_schema(schema), preserve_index=False
    )
    return spark.createDataFrame(table, schema)
