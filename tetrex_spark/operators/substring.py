"""Substring-level (span) deduplication: exact duplicated character
spans of length >= min_len across documents — the training-data
curation step document-level dedup cannot express (Lee et al. 2021,
"Deduplicating Training Data Makes Language Models Better": verbatim
boilerplate/license/quote spans repeat across otherwise-distinct pages
and memorize disproportionately).

Not in the reference (TetRex answers membership over whole records);
same graft rationale as operators/dedup.py: the reference's
filter-then-verify architecture (include/query.h:265-281 — sketch
prune, then exact re-scan) re-expressed for span discovery.

Scale design — no distributed suffix array needed:

  1. ANCHORS: per doc, winnowing (Schleimer 2003) selects the min-hash
     char k-gram of every sliding window of w = min_len - k + 1 grams.
     The winnowing guarantee: any shared span of length >= w + k - 1
     = min_len contains a FULL window of w grams in both docs with
     identical hash content, so both select the same k-gram at the
     same in-span offset — every qualifying span is anchored, recall 1
     (absent bucket-cap drops, which are warn-logged, never silent).
     Anchor density is ~2/(w+1) per char (the winnowing bound): ~8% of
     positions at the default (40, 16), NOT one row per char position —
     this is what makes the blocking shuffle linear-with-small-constant
     instead of len(text) rows per doc.
  2. BLOCK: anchors with equal hash meet in a bucket
     (dedup.candidate_pairs — the same size-capped machinery as the
     MinHash/SimHash families, positions riding the bucket rows as the
     payload); candidate = two docs sharing an anchor hash, WITH the
     aligned positions attached.
  3. VERIFY: candidate pair-anchors are grouped per doc pair, broadcast
     against the corpus twice (map-side joins — the corpus is never
     shuffled), and one Arrow pass extends each anchor left/right by
     exact char comparison to the maximal shared span. Hash collisions
     and cross-repeat misalignments die here (extension compares real
     characters), so precision is exactly 1.

Positions are 0-based gram/byte offsets into the NORMALIZED text
(functions.text.normalize_series) during blocking and are reported
1-based (SQL substr convention) in the result. Byte offsets equal char
offsets for ASCII text; for non-ASCII, anchors can land off char
boundaries, which can only LOSE candidates (extension still compares
true characters — reported spans are always real), so min_len-recall is
guaranteed for ASCII corpora and precision for all corpora.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import normalize_series
from ..kernel.hashing import concat_ranges, hash_char_kgrams_series
from .dedup import candidate_pairs

_ANCHOR_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("pos", T.LongType()),
        T.StructField("bh", T.LongType()),
    ]
)

_SPAN_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("match_len", T.LongType()),
        T.StructField("pos_a", T.LongType()),
        T.StructField("pos_b", T.LongType()),
    ]
)


def winnow_anchor_rows(
    df: DataFrame, k: int, window: int,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, bh) winnowing anchors: per doc, the argmin char k-gram
    hash of every sliding window of `window` grams over the normalized
    text, deduplicated per (doc, position). Positions are 0-based gram
    offsets. Docs with fewer than `window` grams (normalized length
    < window + k - 1) emit nothing — they cannot contain a qualifying
    span. Differs from functions.analysis.winnow_fingerprints in
    keeping POSITIONS (needed to seed span extension) where that one
    keeps the distinct value set (a document signature).

    Vectorized over the Arrow batch like winnow_fingerprints: one
    hash_char_kgrams_series pass, one batch-wide sliding argmin, one
    np.unique dedupe — no per-document Python."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            text = normalize_series(pdf[text_col])
            grams, counts = hash_char_kgrams_series(text, k)
            ids = pdf[id_col].to_numpy()
            long = counts >= window
            if grams.size < window or not long.any():
                continue
            starts = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            wins = np.lib.stride_tricks.sliding_window_view(grams, window)
            # in-document window start indices (global gram coordinates)
            n_wins = counts[long] - window + 1
            w_idx = concat_ranges(starts[long], n_wins)
            sel = w_idx + wins[w_idx].argmin(axis=1)
            # global gram index is unique across docs: dedupe directly,
            # then recover (doc, in-doc offset) from the cumsum bounds
            sel = np.unique(sel)
            ends = starts + counts
            doc_of = np.searchsorted(ends, sel, side="right")
            yield pd.DataFrame(
                {
                    "id": ids[doc_of],
                    "pos": sel - starts[doc_of],
                    "bh": grams[sel].view(np.int64),
                }
            )

    return df.select(id_col, text_col).mapInPandas(fn, _ANCHOR_SCHEMA)


def _extend_fn(k: int, min_len: int, all_spans: bool = False):
    """Arrow-pass span extension: for each (pair, anchors, text_a,
    text_b) row, extend every anchor alignment to its maximal exact
    shared span by byte comparison on the normalized texts. Default:
    emit the pair's best span (max length; ties to the smallest
    (pos_a, pos_b)) when it reaches min_len. With ``all_spans``: emit
    EVERY distinct maximal span >= min_len (multiple anchors inside one
    span dedupe to the same maximal triple; spans on different
    diagonals — e.g. a boilerplate block repeated within one doc — are
    distinct rows). Extension cost is O(span length) per anchor over
    numpy byte arrays — no quadratic scan."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_a, out_b, out_l, out_pa, out_pb = [], [], [], [], []
            if not pdf.empty:
                na = normalize_series(pdf["__ta"])
                nb = normalize_series(pdf["__tb"])
            for i in range(len(pdf)):
                ta = np.frombuffer(na.iat[i].encode(), dtype=np.uint8)
                tb = np.frombuffer(nb.iat[i].encode(), dtype=np.uint8)
                best = None  # (-len, pa, pb)
                spans: set[tuple[int, int, int]] = set()
                for anc in pdf["anchors"].iat[i]:
                    pa, pb = int(anc["pos_a"]), int(anc["pos_b"])
                    if not np.array_equal(ta[pa:pa + k], tb[pb:pb + k]):
                        continue  # hash collision / non-ASCII offset
                    # right: first mismatch past the anchor
                    sa, sb = ta[pa + k:], tb[pb + k:]
                    n = min(sa.size, sb.size)
                    ne = np.nonzero(sa[:n] != sb[:n])[0]
                    right = int(ne[0]) if ne.size else n
                    # left: first mismatch before the anchor (reversed)
                    ra, rb = ta[:pa][::-1], tb[:pb][::-1]
                    n = min(ra.size, rb.size)
                    ne = np.nonzero(ra[:n] != rb[:n])[0]
                    left = int(ne[0]) if ne.size else n
                    cand = (-(k + left + right), pa - left, pb - left)
                    if all_spans:
                        if -cand[0] >= min_len:
                            spans.add(cand)
                    elif best is None or cand < best:
                        best = cand
                ia, ib = int(pdf["id_a"].iat[i]), int(pdf["id_b"].iat[i])
                if all_spans:
                    for neg_l, pa, pb in sorted(spans):
                        out_a.append(ia)
                        out_b.append(ib)
                        out_l.append(-neg_l)
                        out_pa.append(pa + 1)  # 1-based (SQL substr)
                        out_pb.append(pb + 1)
                elif best is not None and -best[0] >= min_len:
                    out_a.append(ia)
                    out_b.append(ib)
                    out_l.append(-best[0])
                    out_pa.append(best[1] + 1)
                    out_pb.append(best[2] + 1)
            yield pd.DataFrame(
                {
                    "id_a": out_a, "id_b": out_b, "match_len": out_l,
                    "pos_a": out_pa, "pos_b": out_pb,
                }
            )

    return fn


def substring_dup_spans(
    df: DataFrame, min_len: int = 40, k: int | None = None, *,
    max_bucket: int | None = 512, all_spans: bool = False,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """(id_a, id_b, match_len, pos_a, pos_b): for every cross-document
    pair sharing an exact normalized-text span of >= min_len chars, the
    LONGEST such span (ties broken to the smallest (pos_a, pos_b);
    positions 1-based into the normalized texts, id_a < id_b). With
    ``all_spans=True``, EVERY maximal shared span >= min_len instead —
    one row per span occurrence-pair (the input `strip_dup_spans`
    consumes; equals the >= min_len diagonal runs of the gram match
    matrix, so a block repeated r times across the two docs yields its
    full r_a x r_b alignment grid).

    Winnowing anchors (recall 1 for qualifying spans, see module doc) →
    size-capped hash buckets (over-cap buckets warn-logged and dropped,
    exactly the dedup-family cap semantics — a span verbatim in more
    than max_bucket docs is a giant boilerplate cluster whose quadratic
    pair list the cap bounds) → per-pair exact extension. The corpus is
    never shuffled: the candidate pair-anchor table (bounded by the
    caps) broadcasts into two map-side joins, reference-style
    filter-then-verify.

    `k` trades the two linear costs against candidate precision, at
    identical output (the winnowing guarantee holds for every valid k):
    candidacy requires a shared k-char gram, so LARGER k makes
    candidates exponentially rarer (sf0.1 corpus, min_len=40: 267k
    candidate pairs at k=16 vs 322 at k=32 — both verify to the same
    259 spans) while anchor density ~2/(min_len - k + 2) per char grows
    the blocking shuffle. Default k = min(28, min_len): at min_len=40
    that is window 13, ~0.14 anchors/char — measured fastest end-to-end
    on the 50k-doc corpus (k=32's 0.2/char anchor stream costs more in
    the blocking shuffle than its sparser candidates save; k<=20's
    candidate explosion swamps the verify). Web-scale pipelines with
    high thresholds (Lee et al. use ~50 tokens) get sparse anchors
    automatically since density falls as 1/min_len."""
    if k is None:
        k = min(28, min_len)
    if min_len < k:
        raise ValueError(f"min_len ({min_len}) must be >= k ({k})")
    window = min_len - k + 1
    anchors = winnow_anchor_rows(
        df, k, window, text_col=text_col, id_col=id_col
    )
    buckets = anchors.select(
        "id", F.lit(0).alias("band"), "bh", "pos"
    )
    with candidate_pairs(buckets, max_bucket, payload_col="pos") as cand:
        pair_anchors = (
            cand.groupBy("id_a", "id_b")
            .agg(
                F.collect_list(F.struct("pos_a", "pos_b")).alias("anchors")
            )
            .localCheckpoint(eager=True)  # candidate-bounded
        )
    ta = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    tb = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    joined = F.broadcast(pair_anchors).join(ta, "id_a").join(tb, "id_b")
    return joined.mapInPandas(_extend_fn(k, min_len, all_spans), _SPAN_SCHEMA)


_CLEAN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("clean_text", T.StringType()),
    ]
)


def strip_dup_spans(
    df: DataFrame, min_len: int = 40, k: int | None = None, *,
    max_bucket: int | None = 512, spans: DataFrame | None = None,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """The curation ACTION substring dedup exists for (Lee et al. 2021
    remove all-but-one copy of each duplicated span): (doc_id,
    clean_text) for EVERY input doc, where clean_text is the normalized
    text with every char removed that lies inside a maximal shared span
    (>= min_len) with any SMALLER doc_id — the first (lowest-id) copy of
    each duplicated span survives, later copies are cut. One pass over
    the ORIGINAL corpus (non-cascading by design: coverage is computed
    on the input text, so the result is deterministic and independent of
    evaluation order — a cascade would make doc C's text depend on what
    was already cut from B). Same-doc internal repeats are untouched
    (cross-document dedup only).

    Plan: all-spans discovery (see substring_dup_spans) → per-doc
    coverage intervals aggregated JVM-side (spans are candidate-bounded,
    so the interval table is small and BROADCAST) → one Arrow pass
    splices each doc's uncovered bytes back together. The corpus is
    scanned once and never shuffled.

    `spans` short-circuits discovery with an existing all-spans table
    (id_b, pos_b, match_len cols; e.g. one already written to parquet by
    the stripdup CLI) so span discovery is paid once, not per consumer."""
    if spans is None:
        spans = substring_dup_spans(
            df, min_len, k, max_bucket=max_bucket, all_spans=True,
            text_col=text_col, id_col=id_col,
        )
    cover = (
        spans.groupBy(F.col("id_b").alias("__cid"))
        .agg(
            F.collect_list(F.struct("pos_b", "match_len")).alias("__cover")
        )
    )
    src = df.select(F.col(id_col).cast("long").alias("doc_id"), F.col(text_col))
    joined = src.join(
        F.broadcast(cover), src["doc_id"] == cover["__cid"], "left"
    ).drop("__cid")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            norm = normalize_series(pdf[text_col])
            out = []
            for i in range(len(pdf)):
                t = norm.iat[i]
                cov = pdf["__cover"].iat[i]
                if cov is None or len(cov) == 0:
                    out.append(t)
                    continue
                b = np.frombuffer(t.encode(), dtype=np.uint8)
                keep = np.ones(b.size, dtype=bool)
                for iv in cov:
                    s = int(iv["pos_b"]) - 1  # 1-based → 0-based
                    keep[s:s + int(iv["match_len"])] = False
                raw = bytes(b[keep])
                try:
                    out.append(raw.decode())
                except UnicodeDecodeError:
                    # span byte-offsets can split a multi-byte UTF-8
                    # char on non-ASCII text (module doc: anchors are
                    # byte-offset based); dropping the orphaned
                    # continuation/lead bytes keeps the job alive with
                    # every decodable char intact — ASCII corpora never
                    # reach this branch (byte == char boundaries)
                    out.append(raw.decode(errors="ignore"))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"), "clean_text": out}
            )

    return joined.mapInPandas(fn, _CLEAN_SCHEMA)
