"""Deduplication operators for training-data pipelines — exact, MinHash
LSH, SimHash, and exact n-gram Jaccard.

Not present in the reference (TetRex answers membership, not similarity)
but required by the graft: the same shingle machinery that feeds the
Bloom index feeds these. Scale design:

  - candidate generation is 100% JVM expressions (split / transform /
    xxhash64 / min-agg): whole-stage-codegen, no Python in the hot path;
  - the only O(corpus) shuffles are groupBy(doc) over shingle hashes
    (map-side combined) and the band-bucket self-join, whose build side
    is (doc, band_hash) rows — tiny next to the corpus;
  - exact Jaccard verification touches only LSH candidate pairs, which
    is the filter-then-verify architecture of the reference
    (include/query.h:265-281) transplanted to similarity.
"""

from __future__ import annotations

import contextlib
import functools
import logging
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

NORM = "lower(trim(regexp_replace({c}, '\\\\s+', ' ')))"


def norm_col(c: str):
    """JVM-side normalization, equal to functions.text.normalize_series
    for already-single-spaced input (tested for agreement)."""
    return F.expr(NORM.format(c=c))


def tokens_col(c: str):
    return F.split(norm_col(c), " ")


def _spread(df: DataFrame, per_core_bytes: int = 8 << 20) -> DataFrame:
    """Give a SMALL input enough partitions to use every core for a
    Python-kernel mapInPandas pass. A toy/sf corpus often arrives as one
    parquet file (one input split), and AQE coalesces small shuffle
    outputs to one partition — either way the kernel serializes on a
    single core. Gate on Catalyst's size estimate, not partition count:
    the estimate is known without running anything, while an AQE plan's
    runtime partition count is not. Inputs estimated above
    per_core_bytes * defaultParallelism (≈256 MB at 32 cores) already
    have enough splits — at production scale this is a no-op, and when
    it does fire the round-robin shuffle moves only the small frame it
    measured."""
    sc = df.sparkSession.sparkContext
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # stats unavailable — leave the plan alone
        return df
    if est < per_core_bytes * sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _compact(
    df: DataFrame, sizer: DataFrame | None = None,
    bytes_per_part: int = 64 << 20,
) -> DataFrame:
    """Right-size a frame about to be checkpointed and re-read by many
    downstream stages: a union of several 32-partition branches carries
    ~100 near-empty partitions at toy scale, and every consuming stage
    then schedules ~100 near-empty tasks — pure job-floor overhead. Uses
    Catalyst's size estimate to coalesce (never shuffle) toward
    `bytes_per_part` partitions with a floor of defaultParallelism/4, so
    a genuinely large frame keeps its partition count at scale. `sizer`
    supplies the frame to ESTIMATE when df's own plan contains joins
    (whose multiplicative row estimates make sizeInBytes useless) — pick
    the scan-derived branch that dominates the real output size."""
    sc = df.sparkSession.sparkContext
    try:
        est = int(
            (sizer if sizer is not None else df)
            ._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return df
    floor = max(1, sc.defaultParallelism // 4)
    # cap keeps the value a valid Java int; a huge (or unknown =
    # Long.Max) estimate lands at the cap, where coalesce() is a no-op
    # because the plan has fewer partitions than that anyway
    target = int(max(floor, min(-(-est // bytes_per_part), 1 << 20)))
    return df.coalesce(target)


def shingles_col(c: str, k: int):
    """Array of token k-shingle strings (JVM transform over slice).

    The token array is bound ONCE via a single-element-array transform
    (a Catalyst 'let'): a higher-order-function lambda body re-evaluates
    any captured OUTER expression per element, so referencing the
    tokenizer (split+regexp_replace) inside the window lambda re-ran it
    for every shingle — O(tokens^2) normalize work per doc (measured
    8.7x wall on the distinct-shingles scan). A lambda variable is an
    already-evaluated value, so every reference to `ts` below is free."""
    return F.get(
        F.transform(
            F.array(tokens_col(c)),
            lambda ts: F.when(
                F.size(ts) < k, F.array().cast("array<string>")
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.size(ts) - F.lit(k - 1)),
                    lambda i: F.concat_ws(" ", F.slice(ts, i, k)),
                )
            ),
        ),
        0,
    )


# -- exact ---------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text with
    the kept (minimum) id and the duplicate count."""
    return (
        df.select(F.col(id_col), norm_col(text_col).alias("norm_text"))
        .groupBy("norm_text")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# -- exact n-gram jaccard (the oracle-able base) ---------------------------


def jaccard_pairs_exact(
    df: DataFrame, k: int = 3, threshold: float = 0.8,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs exact k-shingle Jaccard >= threshold via a shingle
    equi-join (scales as sum of shingle-bucket squares — use the LSH
    variant for big corpora; this one is the correctness oracle)."""
    ds = (
        df.select(F.col(id_col).alias("id"), F.explode(shingles_col(text_col, k)).alias("g"))
        .distinct()
    )
    sizes = ds.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a, b = ds.alias("a"), ds.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# -- minhash + LSH ----------------------------------------------------------


_MH_GOLDEN = np.uint64(0x9E3779B97F4A7C15)

_SIGSET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("sig", T.ArrayType(T.LongType(), False), False),
        T.StructField("s", T.ArrayType(T.LongType(), False), False),
    ]
)


def minhash_sigs_and_sets(
    df: DataFrame, k: int = 3, num_perm: int = 128,
    text_col: str = "text", id_col: str = "doc_id",
    passthrough: tuple[str, ...] = (), *, bands: int = 32,
) -> DataFrame:
    """(id, s, bhs, *passthrough): the rep-level MinHash sig table every
    near-dup caller builds (batch pairs/edges, CheckpointedDedup, the
    near-dup index and its gate). One tokenize+hash pass per doc gives
    both the sorted distinct shingle-hash set `s` (the exact verify's
    input) and the `bands` band-bucket keys `bhs` (element b = xxhash64
    of signature slice b, r = num_perm / bands rows each; band_buckets
    is their one reader). The num_perm-long signature is not emitted.
    Docs with fewer than k tokens emit no row, so the table's rows are
    exactly the shingle-eligible docs.

    Each doc's row is computed where the doc lives — the shingle stream
    never shuffles. Each permutation is an independent splitmix64
    re-mix of the kernel shingle hash: g_i(x) = splitmix64(x ^ seed_i).
    (A cheaper h1 + i*h2 double-hash is NOT sound here: minima across i
    track the lower envelope of lines, so the permutations are strongly
    correlated and band-match counts get fat tails.)

    `passthrough` names extra input columns copied verbatim onto each
    output row (the rep-group key and member count), so downstream
    plans read per-rep metadata from the one materialized table."""
    if num_perm % bands:
        raise ValueError(f"bands={bands} must divide num_perm={num_perm}")
    r = num_perm // bands
    from ..functions.text import normalize_series, token_shingle_hashes_series
    from ..kernel.hashing import splitmix64

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            text = normalize_series(pdf[text_col])
            sh, counts = token_shingle_hashes_series(text, k)
            valid = counts > 0
            if sh.size == 0 or not valid.any():
                continue
            seeds = splitmix64(
                np.arange(1, num_perm + 1, dtype=np.uint64) * _MH_GOLDEN
            )
            starts = np.zeros(len(counts), dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            vstarts = starts[valid]
            sig = np.empty((int(valid.sum()), num_perm), dtype=np.uint64)
            # in-place splitmix64 over two preallocated scratch buffers:
            # the expression form allocated ~2 stream-sized temporaries
            # per permutation (256 large mmaps per batch) — allocator +
            # DRAM traffic, not math, dominated this loop
            # (bit-identical; ~18% measured on the full-corpus stream)
            z = np.empty_like(sh)
            t = np.empty_like(sh)
            _G = np.uint64(0x9E3779B97F4A7C15)
            _C1 = np.uint64(0xBF58476D1CE4E5B9)
            _C2 = np.uint64(0x94D049BB133111EB)
            with np.errstate(over="ignore"):
                for i in range(num_perm):
                    np.bitwise_xor(sh, seeds[i], out=z)
                    z += _G
                    np.right_shift(z, np.uint64(30), out=t)
                    z ^= t
                    z *= _C1
                    np.right_shift(z, np.uint64(27), out=t)
                    z ^= t
                    z *= _C2
                    np.right_shift(z, np.uint64(31), out=t)
                    z ^= t
                    sig[:, i] = np.minimum.reduceat(z, vstarts)
            sets = [
                np.unique(sh[st : st + c]).view(np.int64)
                for st, c in zip(vstarts, counts[valid])
            ]
            out = {
                "id": pdf[id_col].to_numpy()[valid],
                "sig": list(sig.view(np.int64)),
                "s": sets,
            }
            for c in passthrough:
                out[c] = pdf[c].to_numpy()[valid]
            yield pd.DataFrame(out)

    schema = T.StructType(
        list(_SIGSET_SCHEMA) + [df.schema[c] for c in passthrough]
    )
    # one SQL expression, parsed once on the JVM side: the same tree
    # built column by column costs two py4j round trips per band
    # (~0.1 s per call at 32 bands)
    bhs = F.expr("array(" + ", ".join(
        f"xxhash64(slice(sig, {b * r + 1}, {r}))" for b in range(bands)
    ) + ")")
    return (
        _spread(df.select(id_col, text_col, *passthrough))
        .mapInPandas(fn, schema)
        .select("id", "s", bhs.alias("bhs"), *passthrough)
    )


def band_buckets(sig_df: DataFrame, bands: int, r: int) -> DataFrame:
    """(id, band, bh) rows from a minhash_sigs_and_sets table — one row
    per (doc, band), exploded from the stored `bhs` keys. This is the one
    reader of band keys, so it checks them in-plan: a row carrying other
    than `bands` keys (a table built or stored with different banding)
    fails the consuming job with an error naming both counts, instead of
    yielding wrong band indices. `r` (rows per band) is reported in that
    error only — the keys were hashed when the table was built."""
    bhs = F.when(F.size("bhs") == bands, F.col("bhs")).otherwise(
        F.raise_error(F.format_string(
            f"band_buckets: sig table row has %d band keys, expected "
            f"bands={bands} (r={r}); rebuild the table with matching bands",
            F.size("bhs"),
        ))
    )
    return sig_df.select("id", F.posexplode(bhs).alias("band", "bh"))


@contextlib.contextmanager
def cap_buckets(
    buckets: DataFrame, max_bucket: int
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """A block over the LSH over-cap rule. It yields (buckets minus
    every (band, bh) bucket with more than `max_bucket` members, over),
    where `over` is the persisted (band, bh, bc) list of dropped buckets.
    The list stays a distributed DataFrame end to end and the anti-join
    against it is unconditional (against an empty list it is a no-op),
    hinted — not forced — broadcast, so no eager job runs before the
    caller's plan exists. The caller materializes its plan and reads its
    drop statistics from `over` inside the block; `over` is unpersisted
    when the block exits, normally or not."""
    over = (
        buckets.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("bc"))
        .filter(F.col("bc") > max_bucket)
        .persist()
    )
    try:
        yield buckets.join(
            over.select("band", "bh").hint("broadcast"), ["band", "bh"],
            "left_anti",
        ), over
    finally:
        over.unpersist()


@contextlib.contextmanager
def candidate_pairs(
    buckets: DataFrame, max_bucket: int | None, *, log_drops: bool = True,
    payload_col: str | None = None,
) -> Iterator[DataFrame]:
    """A block yielding the lazy (id_a < id_b) candidate-pair plan of a
    (id, band, bh) bucket table — distinct unless a payload rides along
    (below) — skipping buckets with more than `max_bucket` members.

    `payload_col` names an extra bucket column to carry through the
    self-join as `<payload>_a` / `<payload>_b` — for a FIXED-WIDTH
    verify key (the 8-byte simhash fingerprint) this removes the two
    verify joins entirely: the pair row arrives with both fingerprints
    attached, paying `bands * 8` extra bytes of bucket shuffle instead
    of a broadcast plus two join stages. (Do NOT use it for wide
    payloads — the MinHash shingle sets would multiply the shuffle by
    the band count; that family keeps the broadcast-join verify.) With
    a payload the candidates are NOT deduplicated: a pair colliding in
    several bands arrives once per band (the substring family keeps
    every anchor position), and a caller with a selective verify filter
    dedups after it, shuffling only surviving pairs.

    The cap bounds the self-join at B buckets x max_bucket^2 pairs instead
    of the unbounded sum of bucket-size squares (one pathological bucket of
    10^6 members is 5*10^11 pairs). Over-cap buckets are *whole-bucket*
    drops (see cap_buckets) — a pair can still surface via its other
    bands — and are NEVER silent: when the block exits normally, the
    warn-log scalars (count / member rows / largest) are read from the
    persisted over-cap list in one job, AFTER the caller materialized
    the pairs, so no eager job precedes the plan and nothing
    bucket-shaped is ever collected (log_drops=False skips that job).
    (In-plan DataFrame.observe is not used: observed metrics do not
    propagate when the subtree executes inside the verify's
    BroadcastExchange.) With exact-dup pre-collapse upstream (see
    minhash_lsh_pairs) an over-cap bucket requires > max_bucket
    *distinct* texts colliding in one band — a genuine giant near-dup
    cluster, which the cap converts from a quadratic join into a
    bounded one.

    Block contract: materialize the yielded plan (or any plan built on
    it) inside the block. With a cap active the bucket table is persisted
    for the plan's branches (unless the caller already cached it) and the
    over-cap list is persisted for the anti-join; both are unpersisted
    when the block exits, normally or by an exception, so a plan read
    after the block recomputes what it reads."""
    with contextlib.ExitStack() as scope:
        over = None
        if max_bucket is not None:
            if not (buckets.storageLevel.useMemory or buckets.storageLevel.useDisk):
                buckets = buckets.persist()
                scope.callback(buckets.unpersist)
            buckets, over = scope.enter_context(cap_buckets(buckets, max_bucket))
        x, y = buckets.alias("x"), buckets.alias("y")
        cols = [F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b")]
        if payload_col:
            cols += [
                F.col(f"x.{payload_col}").alias(f"{payload_col}_a"),
                F.col(f"y.{payload_col}").alias(f"{payload_col}_b"),
            ]
        cand = x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.id") < F.col("y.id")),
        ).select(*cols)
        yield cand.distinct() if payload_col is None else cand
        if over is not None and log_drops:
            # the over-cap list is small; read through one partition,
            # the aggregate needs no exchange and runs as one job
            stats = over.coalesce(1).agg(
                F.count(F.lit(1)).alias("n_over"),
                F.sum("bc").alias("rows_over"),
                F.max("bc").alias("max_bc"),
            ).collect()[0]
            if stats["n_over"]:
                logging.getLogger(__name__).warning(
                    "LSH bucket cap %d drops %d buckets (%d member rows;"
                    " largest %d); pairs in them surface only via other"
                    " bands",
                    max_bucket, int(stats["n_over"]), int(stats["rows_over"]),
                    int(stats["max_bc"]),
                )


def capped_candidate_pairs(
    buckets: DataFrame, max_bucket: int | None, *, log_drops: bool = True,
    payload_col: str | None = None,
) -> DataFrame:
    """The candidate_pairs block as one call: with a cap active the pairs
    are localCheckpointed (bounded by the cap) inside the block, which
    then releases its caches; without one the lazy plan is returned."""
    with candidate_pairs(
        buckets, max_bucket, log_drops=log_drops, payload_col=payload_col
    ) as cand:
        return cand if max_bucket is None else cand.localCheckpoint(eager=True)


# -- the representative level --------------------------------------------------


class RepLevelRun(NamedTuple):
    """The one result of an exact-dup-collapsing near-dup run — MinHash
    or SimHash, in session (minhash_lsh_*, simhash_*_from_fingerprints)
    or checkpointed (lineage.Checkpointed*Dedup.run_rep_level): verified
    representative pairs plus the member view that maps documents onto
    them. Every consumer is a view of it: pairs() is the member-level
    pair list, edges() its linear connectivity equivalent, and
    clusters.rep_keep_list(members, rep_pairs, reps) the keep-list of
    pairs() without materializing it.

      members      (grp, id) — every document and its exact-dup group key;
      rep_pairs    verified rep pairs (id_a, id_b, <value_col>, grp_a,
                   grp_b), each id its group's minimum id;
      reps         (grp, rid) — every eligible group with more than one
                   member, rid its minimum id. Eligible groups are the
                   ones whose members pair with each other: MinHash
                   groups with a sig row (at least k tokens), and every
                   SimHash group;
      value_col    "jaccard" | "hamming";
      intra_value  the value of an exact-duplicate pair (1.0 | 0).

    Members of a group are exact duplicates of its representative, so
    rep-to-rep distance IS member-to-member distance: no view re-reads
    text."""

    members: DataFrame
    rep_pairs: DataFrame
    reps: DataFrame
    value_col: str
    intra_value: float | int

    def pairs(self) -> DataFrame:
        """Member-level pairs (id_a, id_b, <value_col>): cross-group pairs
        inherit their representatives' value through the broadcast rep
        pairs; intra-group pairs, a self-join of the members of `reps`
        groups, get intra_value. Lazy: the list is quadratic in exact-dup
        cluster size, so it is never materialized here."""
        v = self.value_col
        m = self.members
        cross = (
            m.select(F.col("grp").alias("grp_a"), F.col("id").alias("ia"))
            .join(F.broadcast(self.rep_pairs.select("grp_a", "grp_b", v)), "grp_a")
            .join(m.select(F.col("grp").alias("grp_b"), F.col("id").alias("ib")),
                  "grp_b")
            .select(F.least("ia", "ib").alias("id_a"),
                    F.greatest("ia", "ib").alias("id_b"), v)
        )
        mi = m.join(self.reps.select("grp"), "grp")
        xi, yi = mi.alias("xi"), mi.alias("yi")
        intra = xi.join(
            yi, (F.col("xi.grp") == F.col("yi.grp")) & (F.col("xi.id") < F.col("yi.id"))
        ).select(F.col("xi.id").alias("id_a"), F.col("yi.id").alias("id_b"),
                 F.lit(self.intra_value).alias(v))
        return cross.unionByName(intra)

    def edges(self) -> DataFrame:
        """(id_a, id_b) edges whose connected components equal those of
        pairs(): one rep -> member star edge per other member of each
        `reps` group, plus the rep pairs. Linear where pairs() is
        quadratic (a 10^6-copy cluster is 5*10^11 intra pairs), and
        components only need connectivity — the input a clustering or
        keep-list pipeline should consume at scale."""
        star = (
            self.members.join(self.reps.select("grp", "rid"), "grp")
            .where(F.col("id") != F.col("rid"))
            .select(F.col("rid").alias("id_a"), F.col("id").alias("id_b"))
        )
        # With either branch order, Spark 4.1's AQE can fail to re-plan
        # the localCheckpoints that connected_components' star rounds
        # derive from this union (NoSuchElementException: key not found
        # <attr>); its round loop re-wraps the edge checkpoint when that
        # happens. tests/test_clusters.py runs both orders on both paths.
        return star.unionByName(self.rep_pairs.select("id_a", "id_b"))


def _checkpoint_together(
    *frames: DataFrame, sizer: DataFrame | None = None
) -> tuple[DataFrame, ...]:
    """Materialize `frames` with ONE eager localCheckpoint: each rides
    its own struct column of a tagged union (`part` = its position, the
    other frames' columns null), the union is right-sized by _compact
    (estimated from `sizer`), and each frame is split back out of the
    checkpoint with its own columns."""
    def tagged(i: int, f: DataFrame) -> DataFrame:
        return f.select(F.lit(i).alias("part"), *[
            (F.struct(*f.columns) if j == i else F.lit(None).cast(g.schema))
            .alias(f"_{j}")
            for j, g in enumerate(frames)
        ])

    ck = (
        functools.reduce(
            DataFrame.unionByName, [tagged(i, f) for i, f in enumerate(frames)]
        )
        .transform(lambda u: _compact(u, sizer=sizer))
        .localCheckpoint(eager=True)
    )
    return tuple(
        ck.filter(F.col("part") == i).select(f"_{i}.*") for i in range(len(frames))
    )


def minhash_lsh_pairs(
    df: DataFrame, k: int = 3, num_perm: int = 128, bands: int = 32,
    threshold: float = 0.8, text_col: str = "text", id_col: str = "doc_id",
    max_bucket: int | None = 512, expand_exact_dups: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard) via banded MinHash LSH
    + exact-Jaccard verify.

    bands x rows = num_perm; a pair collides in some band w.p.
    1-(1-j^r)^b — at the default (32x4) recall is ~0.99985 for j>=0.7
    and ~1-5e-8 for j>=0.8, and the exact verify removes all false
    positives, so the output equals the exact all-pairs result with
    overwhelming (deterministic-given-seed) probability.

    Scale shape (the boilerplate-cluster killer): web corpora carry
    exact-duplicate clusters of ~10^6 copies, which would put c copies in
    the SAME bucket of EVERY band (O(c^2) candidates x bands). So:

      1. exact-dup pre-collapse (dup_groups): group by md5(normalized
         text) — partial aggregation collapses copies map-side, so the
         shuffle carries one row per distinct text; LSH runs on group
         representatives only.
      2. ONE kernel pass (minhash_sigs_and_sets) builds the checkpointed
         rep-level sig table (id, s, bhs, grp, csize); blocking, verify
         and the eligible groups all read it.
      3. band buckets are size-capped (see capped_candidate_pairs).
      4. verified representative pairs (tiny, broadcast) are expanded back
         to member pairs (RepLevelRun.pairs): cross-group pairs inherit
         the representatives' jaccard (identical normalized text =>
         identical shingle set); intra-group pairs are exact duplicates
         => jaccard 1.0. With expand_exact_dups=False the output is the
         representative-level pairs (at 10^12 docs you want the dup
         *groups* table plus rep-level near-dup pairs, not the quadratic
         pair list).

    md5 collision risk for the pre-collapse is ~n^2/2^128 — far below the
    shingle-hash collision tolerance minhash itself assumes."""
    run = _minhash_rep_level(
        df, k, num_perm, bands, threshold, text_col, id_col, max_bucket
    )
    if not expand_exact_dups:
        return run.rep_pairs.select("id_a", "id_b", "jaccard")
    return run.pairs()


def _minhash_rep_level(
    df, k, num_perm, bands, threshold, text_col, id_col, max_bucket
) -> RepLevelRun:
    """Steps 1-3 of minhash_lsh_pairs as a RepLevelRun, shared with
    minhash_lsh_edges.

    Eager jobs: the kernel checkpoint of the sig table, then ONE
    checkpoint of rep_pairs and members together, plus the cap-stats
    job as the verify block exits — the job budget in
    tests/test_job_budget.py holds this.
    The kernel runs exactly once: every branch reads its checkpoint.
    `reps` reads the sig checkpoint lazily (fusing it into the second
    checkpoint measured one construct job and two keep-list jobs more).

    Storage: the sig checkpoint stays pinned for as long as `reps` or
    any frame derived from it is alive; it is released by GC together
    with them."""
    docs, reps = dup_groups(df, text_col, id_col)
    ss = minhash_sigs_and_sets(
        reps, k, num_perm, "txt", "id", passthrough=("grp", "csize"),
        bands=bands,
    ).localCheckpoint(eager=True)
    members = docs.select("grp", "id")
    with verify_rep_pairs(
        ss, bands=bands, r=num_perm // bands, threshold=threshold,
        max_bucket=max_bucket,
    ) as rp:
        rep_pairs, members = _checkpoint_together(rp, members, sizer=members)
    return _minhash_run(members, rep_pairs, ss)


def _minhash_run(
    members: DataFrame, rep_pairs: DataFrame, ss: DataFrame
) -> RepLevelRun:
    """The MinHash RepLevelRun over a rep-level sig table `ss` (id, s,
    bhs, grp, csize), in session or read from stored chunks. Its rows
    are exactly the shingle-eligible representatives, so `reps` is its
    csize > 1 rows: documents with fewer than k tokens have no jaccard to
    anything, matching the exact oracle."""
    reps = ss.filter(F.col("csize") > 1).select("grp", F.col("id").alias("rid"))
    return RepLevelRun(members, rep_pairs, reps, "jaccard", 1.0)


def minhash_lsh_edges(
    df: DataFrame, k: int = 3, num_perm: int = 128, bands: int = 32,
    threshold: float = 0.8, text_col: str = "text", id_col: str = "doc_id",
    max_bucket: int | None = 512,
) -> DataFrame:
    """(id_a, id_b) edge list whose connected components EQUAL those of
    minhash_lsh_pairs(df, ...) — RepLevelRun.edges() of the same run:
    the rep-level near-dup pairs plus one member -> representative star
    edge per exact duplicate (shingle-eligible groups only — groups whose
    text has < k tokens produce no pairs at all, matching the pair list's
    semantics). Use with clusters.connected_components / dedup_keep_list;
    keep minhash_lsh_pairs for consumers that need the actual pair list
    with jaccard values."""
    return _minhash_rep_level(
        df, k, num_perm, bands, threshold, text_col, id_col, max_bucket
    ).edges()


def dup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """(docs, reps): exact-dup pre-collapse by md5(normalized text), the
    one pre-collapse every MinHash caller uses. docs = (id, txt, grp);
    reps = one representative row per distinct text (grp, min id, the
    text, the member count csize). Deterministic — the same derivation
    at any parallelism, which is what lets the checkpointed dedup
    pipeline (lineage.CheckpointedDedup) recompute it on resume."""
    docs = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.md5(norm_col(text_col)).alias("grp"),
    )
    reps = docs.groupBy("grp").agg(
        F.min("id").alias("id"),
        F.first("txt").alias("txt"),
        F.count(F.lit(1)).alias("csize"),
    )
    return docs, reps


@contextlib.contextmanager
def verify_rep_pairs(
    ss: DataFrame, *, bands: int, r: int, threshold: float,
    max_bucket: int | None,
) -> Iterator[DataFrame]:
    """A block yielding the lazy (id_a, id_b, jaccard, grp_a, grp_b)
    rep-level near-dup pairs of a sig table carrying `grp`
    (minhash_sigs_and_sets with the grp passthrough): banded blocking
    (size-capped) then exact-Jaccard verify on candidates only — the
    reference's filter-then-verify (query.h:265-281) transplanted to
    similarity. The (tiny) candidate-pair side is broadcast into two
    map-side joins; jaccard is array_intersect arithmetic on the sets,
    and each side's group key rides the same joins so the member
    expansion needs no rep-id -> group lookup. It is a candidate_pairs
    block: materialize the pairs inside it; its exit logs cap drops
    (normal exit) and releases the bucket caches (every exit)."""
    def side(x: str) -> DataFrame:
        return ss.select(F.col("id").alias(f"id_{x}"),
                         F.col("s").alias(f"s_{x}"),
                         F.col("grp").alias(f"grp_{x}"))

    inter = F.size(F.array_intersect("s_a", "s_b"))
    with candidate_pairs(band_buckets(ss, bands, r), max_bucket) as cand:
        yield (
            F.broadcast(cand).join(side("a"), "id_a").join(side("b"), "id_b")
            .withColumn("jaccard", inter / (F.size("s_a") + F.size("s_b") - inter))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"),
                    "grp_a", "grp_b")
        )


# -- simhash -----------------------------------------------------------------


_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("simhash", T.LongType(), False),
    ]
)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash of token hashes (Charikar 2002), vectorized numpy
    inside mapInPandas: unpack token-hash bits -> signed column sums ->
    sign -> fingerprint."""
    from ..functions.text import normalize_series, token_shingle_hashes_series

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            text = normalize_series(pdf[text_col])
            hashes, counts = token_shingle_hashes_series(text, 1)
            out = np.zeros(len(pdf), dtype=np.uint64)
            valid = counts > 0
            if valid.any() and hashes.size:
                bits = np.unpackbits(
                    hashes.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
                )  # (n_tokens, 64) uint8 — stays 1 B/lane: the earlier
                # int32 signed form moved 8x the bytes through the
                # reduceat; popcount > n/2 is the same majority test as
                # sign(sum of +/-1) > 0, bit-identical
                # (zero-count docs are excluded from the boundary list,
                # so segments stay exact)
                starts = np.zeros(len(counts), dtype=np.int64)
                np.cumsum(counts[:-1], out=starts[1:])
                sums = np.add.reduceat(bits, starts[valid], axis=0, dtype=np.int64)
                out[valid] = np.packbits(
                    2 * sums > counts[valid, None], axis=1, bitorder="little"
                ).view(np.uint64)[:, 0]
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "simhash": out.view(np.int64)}
            )

    return _spread(df.select(id_col, text_col)).mapInPandas(fn, _SIMHASH_SCHEMA)


def simhash_blocking_plan(n_blocks: int, max_hamming: int) -> list[tuple[int, ...]]:
    """Pigeonhole band plan (Manku/Jain/Das Sarma 2007): split 64 bits into
    n_blocks spans; any pair at hamming <= max_hamming differs in at most
    max_hamming blocks, so SOME combination of (n_blocks - max_hamming)
    blocks is untouched — index every such combination as one band key.
    Returns the block combinations; C(n_blocks, n_blocks - max_hamming)
    bands, key width = sum of the selected block widths.

    Capacity scales with n_blocks: the r01 scheme was the fixed n_blocks=4
    (4 bands x 16-bit keys = 65,536 buckets — quadratic at 10^12 docs);
    n_blocks=6 gives 20 bands x >=31-bit keys (>=2^31 buckets), n_blocks=8
    gives 56 bands x 40-bit keys, etc. Recall stays exactly 1.0 for
    hamming <= max_hamming at every width (deterministic pigeonhole, no
    probability involved)."""
    import itertools

    if not (max_hamming < n_blocks <= 64):
        raise ValueError("need max_hamming < n_blocks <= 64")
    return list(itertools.combinations(range(n_blocks), n_blocks - max_hamming))


def simhash_pairs(
    df: DataFrame, max_hamming: int = 3, *, n_blocks: int | None = None,
    max_bucket: int | None = 512, expand_exact_dups: bool = True,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming: pigeonhole
    block-combination blocking (see simhash_blocking_plan) + bit_count
    verify, all JVM expressions after the simhash pass.

    Same scale shape as minhash_lsh_pairs: identical-simhash groups are
    pre-collapsed (map-side combine) so exact-dup clusters cost one
    representative; buckets are size-capped; verified representative pairs
    expand back to member pairs (cross pairs inherit the representatives'
    hamming — equal simhash => equal distance to everything; intra pairs
    are hamming 0).

    n_blocks=None picks the blocking width adaptively: 4 (4 bands x
    16-bit keys, 5x fewer bucket rows) below 2e5 docs, 6 (20 bands x
    >=31-bit keys) above. Pigeonhole recall is exactly 1.0 at every
    width ABSENT cap drops; narrow 16-bit keys make over-cap buckets
    likelier on bias-concentrated fingerprints, which is why the cutoff
    sits well under the 65536-buckets-per-band capacity — and any drop
    that does happen is warn-logged by capped_candidate_pairs, never
    silent. The count probe runs on the checkpointed 16-byte/doc
    fingerprint table inside simhash_pairs_from_fingerprints, never as a
    separate scan of the raw text."""
    return simhash_pairs_from_fingerprints(
        simhash(df, text_col, id_col), max_hamming,
        n_blocks=n_blocks, max_bucket=max_bucket,
        expand_exact_dups=expand_exact_dups,
    )


def simhash_band_struct(n_blocks: int, max_hamming: int, col: str = "simhash"):
    """The pigeonhole band-key expression array for a simhash column:
    one struct (band, bh) per block combination (see
    simhash_blocking_plan). Shared by the batch pair join and the
    streaming stateful gate so both block identically."""
    combos = simhash_blocking_plan(n_blocks, max_hamming)
    base, rem = divmod(64, n_blocks)
    widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    offs = [sum(widths[:i]) for i in range(n_blocks)]

    def block(i: int):
        return F.shiftrightunsigned(F.col(col), offs[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    return F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                # xxhash64 of the selected block values: exact-match key
                # for the combination (hash collisions only ADD
                # candidates; the bit_count verify removes them)
                F.xxhash64(*[block(i) for i in combo]).alias("bh"),
            )
            for bi, combo in enumerate(combos)
        ]
    )


def simhash_pairs_from_fingerprints(
    sh: DataFrame, max_hamming: int = 3, *, n_blocks: int | None = 6,
    max_bucket: int | None = 512, expand_exact_dups: bool = True,
) -> DataFrame:
    """simhash_pairs over a precomputed (id, simhash) table — useful when
    fingerprints are stored (they are 8 bytes/doc; recomputing them is the
    expensive part) and for property-testing the blocking directly.
    Returns (id_a, id_b, hamming).

    The fingerprint table is checkpointed once (linear, ~16 B/doc) and
    the (tiny, candidate-bounded) rep-level pairs once, the bucket cache
    being released after — no storage leak across repeated calls. The
    member-level expansion (RepLevelRun.pairs) stays LAZY (it can be
    quadratic for giant dup clusters — never eagerly materialized here);
    at 10^12-doc scale use expand_exact_dups=False (rep-level pairs + the
    dup-groups table) as documented on minhash_lsh_pairs."""
    run = _simhash_rep_level(sh, max_hamming, n_blocks, max_bucket)
    if not expand_exact_dups:
        return run.rep_pairs.select("id_a", "id_b", "hamming")
    return run.pairs()


@contextlib.contextmanager
def simhash_rep_pairs(
    sh: DataFrame, max_hamming: int, n_blocks: int,
    max_bucket: int | None,
) -> Iterator[DataFrame]:
    """A block yielding the lazy (id_a, id_b, hamming, grp_a, grp_b)
    rep-level near-dup pairs of a fingerprint table (id, simhash) — the
    SimHash counterpart of verify_rep_pairs, with the same block
    contract. One representative (minimum id) per distinct fingerprint;
    the group keys are the fingerprints themselves. The 8-byte
    fingerprint RIDES the bucket rows (payload_col), so the verify needs
    NO joins at all — each candidate pair arrives with both fingerprints
    attached (bands * 8 extra shuffle bytes instead of a broadcast + two
    join stages) — and the candidate dedup runs AFTER the bit_count
    filter, shuffling only surviving pairs."""
    groups = sh.groupBy("simhash").agg(F.min("id").alias("id"))
    buckets = groups.select(
        "id", "simhash",
        F.explode(simhash_band_struct(n_blocks, max_hamming)).alias("bb"),
    ).select(
        "id", "simhash", F.col("bb.band").alias("band"),
        F.col("bb.bh").alias("bh"),
    )
    with candidate_pairs(buckets, max_bucket, payload_col="simhash") as cand:
        yield (
            cand.select(
                "id_a", "id_b",
                F.bit_count(
                    F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
                ).alias("hamming"),
                F.col("simhash_a").alias("grp_a"),
                F.col("simhash_b").alias("grp_b"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .dropDuplicates(["id_a", "id_b"])
        )


def _simhash_run(sh: DataFrame, rep_pairs: DataFrame) -> RepLevelRun:
    """The SimHash RepLevelRun over a fingerprint table (id, simhash), in
    session or read from stored chunks: the fingerprint is the group key,
    and every group is eligible (equal fingerprints are hamming 0)."""
    members = sh.select(F.col("simhash").alias("grp"), "id")
    reps = (
        members.groupBy("grp")
        .agg(F.min("id").alias("rid"), F.count(F.lit(1)).alias("csize"))
        .filter(F.col("csize") > 1)
        .select("grp", "rid")
    )
    return RepLevelRun(members, rep_pairs, reps, "hamming", 0)


def _simhash_rep_level(
    sh: DataFrame, max_hamming: int, n_blocks: int | None,
    max_bucket: int | None,
) -> RepLevelRun:
    """The in-session SimHash RepLevelRun, shared by
    simhash_pairs_from_fingerprints and simhash_edges_from_fingerprints.
    Only the rep pairs are checkpointed; members and reps read the
    fingerprint checkpoint lazily."""
    # materialize the fingerprint table ONCE (localCheckpoint — linear,
    # ~16 B/doc, nothing like the quadratic member-pair list): the plan
    # branches (buckets, members, reps) all read it without ever
    # re-running the simhash kernel pass; the checkpoint blocks are freed
    # when the returned frames are garbage-collected. With adaptive width
    # the checkpoint is LAZY and the count() both materializes it and
    # returns the size in ONE job.
    if not (sh.storageLevel.useMemory or sh.storageLevel.useDisk):
        sh = sh.localCheckpoint(eager=n_blocks is not None)
    if n_blocks is None:
        # adaptive width (see simhash_pairs): this count is what
        # materializes the lazy checkpoint — never a second text scan
        n_blocks = 4 if sh.count() <= 200_000 else 6
    with simhash_rep_pairs(sh, max_hamming, n_blocks, max_bucket) as rp:
        rep_pairs = rp.localCheckpoint(eager=True)  # tiny: candidate-bounded
    return _simhash_run(sh, rep_pairs)


def simhash_edges_from_fingerprints(
    sh: DataFrame, max_hamming: int = 3, *, n_blocks: int | None = 6,
    max_bucket: int | None = 512,
) -> DataFrame:
    """(id_a, id_b) edge list whose connected components EQUAL those of
    simhash_pairs_from_fingerprints(sh, ...) — RepLevelRun.edges() of
    the same run: rep-level pairs plus one member -> representative star
    edge per identical-fingerprint duplicate, the SimHash counterpart of
    minhash_lsh_edges. The fingerprint table is checkpointed once for
    both branches, so raw simhash(df) output runs the text kernel once."""
    return _simhash_rep_level(sh, max_hamming, n_blocks, max_bucket).edges()


# -- snapshot collapse --------------------------------------------------------


def latest_snapshot(
    df: DataFrame, key_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """One row per key: the most recent snapshot — the recrawl collapse a
    Common-Crawl-style pipeline runs before any text-level dedup (the
    same url is fetched in many crawls; downstream operators want exactly
    one version).

    Implemented as ONE aggregation with max_by over a packed struct, not
    a window rank: the aggregate gets map-side partial combining (each
    task keeps one candidate row per key before the shuffle), where a
    row_number window must shuffle and SORT every version of every key.
    Ties on `ts_col` are broken DETERMINISTICALLY by a stable content
    digest (xxhash64 of the row's non-key columns, maps excluded — maps
    are unhashable and unorderable in Spark): equal-timestamp recrawls
    collapse to the same winner at any parallelism, which the resumable
    pipelines downstream (lineage.*) rely on. Rows whose hashable
    columns are fully identical tie harmlessly (any winner is the same
    row); distinct rows colliding in the 64-bit digest is ~2^-64. Rows
    with NULL `ts_col` lose to any timestamped version (the order key is
    (ts IS NOT NULL, ts, digest), never null itself — naked max_by would
    SKIP null-ordered rows and fabricate an all-NULL winner for keys
    whose versions are all untimestamped; here some real row always
    wins)."""
    if "n_versions" in df.columns:
        raise ValueError(
            "input already has an n_versions column — rename it before "
            "collapsing (the output's version count would be ambiguous)"
        )
    others = [c for c in df.columns if c != key_col]
    hashable = [
        f.name for f in df.schema.fields
        if f.name != key_col and not isinstance(f.dataType, T.MapType)
    ]
    order_key = F.struct(
        F.col(ts_col).isNotNull().alias("has_ts"),
        F.col(ts_col).alias("ts"),
        F.xxhash64(F.struct(*[F.col(c) for c in hashable])).alias("tie"),
    )
    return (
        df.groupBy(key_col)
        .agg(
            F.max_by(F.struct(*[F.col(c) for c in others]), order_key)
            .alias("_r"),
            F.count(F.lit(1)).alias("n_versions"),
        )
        .select(key_col, "_r.*", "n_versions")
    )
