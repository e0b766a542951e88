"""Regex verification over candidate bins — the F10/F11 analog
(/root/reference/src/query.cpp:167-339, include/query.h:98-224).

The reference re-opens candidate FASTA bins and scans every record with
RE2 under an OMP parallel-for (include/query.h:126-138). Here the
candidate rows reach the verify kernel by one of two reads:
  - a driver-side read of the candidate bins' row groups from the index's
    bin-sorted text copy (sources.bin_text), when the query's corpus is
    the indexed file scan and the candidate bins hold few characters; the
    kernel then runs on the driver and the result is a local DataFrame
    (no Spark job until a consumer asks for one);
  - otherwise a Spark scan of the whole corpus with the candidate-bin list
    as an `isin` predicate on the per-row `bin_id`. Catalyst pushes it
    into the scan, so it prunes only a corpus that stores bin_id; one
    whose bin_id is computed per row is read in full.

Both reads call the same per-batch kernels (`match_batch`,
`all_match_batch`), where Python's C regex engine plays RE2's role.
Matches are emitted as (url, match, start, end) rows — the TSV sink (S7)
becomes a DataFrame.

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


def compile_patterns(pattern_bins: PatternBins) -> list[tuple]:
    """(query_id, compiled case-insensitive regex, int64 bin array or None)
    per pattern: the form `match_batch` takes."""
    return [
        (qid, re.compile(pat, re.IGNORECASE),
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


def match_batch(pdf: pd.DataFrame, rxs: list[tuple], id_col: str = "url") -> pd.DataFrame:
    """The verify kernel of one batch: every match of every compiled
    pattern of `rxs` (compile_patterns) in the rows of `pdf` (id_col,
    text[, html][, bin_id]) -> (query_id, url, match, start, end). A
    pattern with bins applies only to rows of those bins when `pdf` has
    bin_id."""
    text = _batch_text(pdf)
    urls = pdf[id_col].to_numpy()
    bin_ids = pdf["bin_id"].to_numpy() if "bin_id" in pdf else None
    out = {"query_id": [], "url": [], "match": [], "start": [], "end": []}
    for qid, rx, bins in rxs:
        # bin gating + vectorized contains prefilter per pattern: the
        # Python finditer loop touches only (candidate-bin, actually-
        # matching) rows
        if bins is not None and bin_ids is not None:
            mask = np.isin(bin_ids, bins)
            if not mask.any():
                continue
            sub_text, sub_urls = text[mask], urls[mask]
        else:
            sub_text, sub_urls = text, urls
        hit = _contains(sub_text, rx)
        for url, doc in zip(sub_urls[hit], sub_text.to_numpy()[hit]):
            for m in rx.finditer(doc):
                out["query_id"].append(qid)
                out["url"].append(url)
                out["match"].append(m.group(0))
                out["start"].append(m.start())
                out["end"].append(m.end())
    return pd.DataFrame(out).astype({"start": "int64", "end": "int64"})


def all_match_batch(pdf: pd.DataFrame, patterns: list[str], id_col: str = "url") -> pd.DataFrame:
    """The conjunctive kernel of one batch: the id_col of rows where every
    pattern matches."""
    text = _batch_text(pdf)
    mask = np.ones(len(text), dtype=bool)
    for pat in patterns:
        mask &= _contains(text, re.compile(pat, re.IGNORECASE))
    return pdf.loc[mask, [id_col]]


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
