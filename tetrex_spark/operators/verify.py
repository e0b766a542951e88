"""Distributed regex verification over candidate bins — the F10/F11
analog (/root/reference/src/query.cpp:167-339, include/query.h:98-224).

The reference re-opens candidate FASTA bins and scans every record with
RE2 under an OMP parallel-for (include/query.h:126-138). Spark-first
re-expression: the candidate-bin list becomes an `isin` predicate (a tiny
IN-list Catalyst pushes into the scan; for a corpus materialized
partitioned-by-bin_id this is real partition pruning), and the per-record
scan is an Arrow-batched mapInPandas where Python's C regex engine plays
RE2's role. Matches are emitted as (url, match, start, end) rows — the
TSV sink (S7) becomes a DataFrame.

Offsets are relative to the NORMALIZED text (the index and the verifier
must see the same bytes — same rule as the reference's reduced-alphabet
verify at src/query.cpp:240-315, which rewrites the record through
redmap_ before matching).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def verify_regex_many(
    corpus: DataFrame,
    pattern_bins: list[tuple[str, str, list[int] | None]],
    id_col: str = "url",
) -> DataFrame:
    """Batched multi-pattern verify: ONE scan emits (query_id, url,
    match, start, end) for every pattern, each applied only to rows of
    its own candidate bins (bins=None -> every row). The Spark-first
    answer to the reference's run_multiple_queries loop
    (src/query.cpp:342-373, one sequential full pass per query): N
    patterns share a single pruned corpus pass, and the per-row work is
    gated by the same bin bitvectors the single-query path prunes with."""
    has_html = "html" in corpus.columns
    has_bin = "bin_id" in corpus.columns and any(
        bins is not None for _, _, bins in pattern_bins
    )
    cols = [id_col, "text"] + (["html"] if has_html else []) + (
        ["bin_id"] if has_bin else []
    )
    compiled_spec = [
        (qid, pat, None if bins is None else frozenset(bins))
        for qid, pat, bins in pattern_bins
    ]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        rxs = [
            (qid, re.compile(pat, re.IGNORECASE),
             None if bins is None else np.fromiter(bins, dtype=np.int64))
            for qid, pat, bins in compiled_spec
        ]
        for pdf in batches:
            if pdf.empty:
                continue
            text = corpus_text_series(
                pdf["text"], pdf["html"] if has_html and "html" in pdf else None
            )
            urls = pdf[id_col].to_numpy()
            bin_ids = pdf["bin_id"].to_numpy() if has_bin else None
            out = {"query_id": [], "url": [], "match": [], "start": [], "end": []}
            for qid, rx, bins in rxs:
                # bin gating + vectorized contains prefilter per pattern:
                # the Python finditer loop touches only (candidate-bin,
                # actually-matching) rows
                if bins is not None and bin_ids is not None:
                    mask = np.isin(bin_ids, bins)
                    if not mask.any():
                        continue
                    sub_text, sub_urls = text[mask], urls[mask]
                else:
                    sub_text, sub_urls = text, urls
                hit = sub_text.str.contains(rx).to_numpy()
                for url, doc in zip(
                    sub_urls[hit], sub_text.to_numpy()[hit]
                ):
                    for m in rx.finditer(doc):
                        out["query_id"].append(qid)
                        out["url"].append(url)
                        out["match"].append(m.group(0))
                        out["start"].append(m.start())
                        out["end"].append(m.end())
            yield pd.DataFrame(out).astype({"start": "int64", "end": "int64"})

    return corpus.select(*cols).mapInPandas(fn, MULTI_MATCH_SCHEMA)


def verify_regex(corpus: DataFrame, pattern: str, id_col: str = "url") -> DataFrame:
    """All matches of `pattern` (case-insensitive, over normalized text)
    in every row of `corpus` -> (url, match, start, end): the one-pattern
    case of verify_regex_many."""
    return verify_regex_many(corpus, [("", pattern, None)], id_col).drop("query_id")


def verify_conjunctive(corpus: DataFrame, patterns: list[str], id_col: str = "url") -> DataFrame:
    """Docs where ALL patterns match (F11: RE2::Set semantics,
    include/query.h:191-224 — `matching_rules.size() == count`)."""
    has_html = "html" in corpus.columns
    cols = [id_col, "text"] + (["html"] if has_html else [])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rxs = [re.compile(p, re.IGNORECASE) for p in patterns]
        for pdf in batches:
            if pdf.empty:
                continue
            text = corpus_text_series(
                pdf["text"], pdf["html"] if has_html and "html" in pdf else None
            )
            mask = pd.Series(True, index=text.index)
            for rx in rxs:
                mask &= text.str.contains(rx)
            yield pdf.loc[mask.to_numpy(), [id_col]]

    return corpus.select(*cols).mapInPandas(
        fn, T.StructType([T.StructField(id_col, corpus.schema[id_col].dataType, False)])
    )
