"""Incremental (cross-corpus) exact dedup: gate a NEW crawl increment
against a FROZEN reference corpus without rescanning the reference.

The reference's core architecture — approximate-membership prefilter,
then exact verification of the survivors (IBF probe → bin re-scan,
/root/reference/include/index_ibf.h:88-99 + query verification) —
applied to the training-data problem it fits best: at 10^12 reference
docs you cannot afford an anti-join of every new crawl against the full
corpus, but a one-time membership index makes the recurring gate cost
proportional to the INCREMENT, not the corpus:

  build (once per corpus freeze):
    hash every doc's normalized text to (h, h2) = two independent
    xxhash64s, route to `n_buckets` by pmod(h), and write
      <dir>/hashes   (bucket, h, h2) distinct, PARTITIONED BY bucket
                     (16 B/doc — the corpus text is never stored)
      <dir>/blooms   one kernel BloomFilter per bucket, sized to the
                     bucket's own key count at `fpr`
                     (kernel/bloom.py — same sizing rule as the
                     reference's per-bin filters)
      <dir>/params.json  normalization + layout guard, written last
                         (a rebuild removes it first, so a directory
                         whose build died is refused, not half-read)

  gate (per increment):
    1. hash + route the increment the same way: ONE shuffle of the
       increment only; the reference is untouched.
    2. Bloom probe: the increment rows and the stored filter rows go
       through one exchange together (runs.fold_runs on bucket), so each
       bucket's run holds its increment rows and its filter, if any; the
       filter is deserialized once per run and probed vectorized against
       those rows. "Definitely new" rows (no Bloom hit — no false
       negatives) exit here, which at realistic dup rates is almost
       everything.
    3. confirm the survivors: semi-join on (bucket, h, h2) against the
       hashes table, read with an explicit bucket IN (...) partition
       filter so only candidate buckets' files are scanned. Bloom false
       positives die here, making the gate EXACT (up to the 2^-128
       double-hash collision, documented below).

  Scale knobs: `n_buckets` bounds per-run memory (a bucket's filter +
  its increment rows are held by one fold call — size n_buckets so a
  bucket's hashes ≈ tens of MB; 10^12 docs at fpr 1e-2 ≈ 1.2 TB of
  filter total, fine across 10k buckets / 1000 executors, never on one
  node). The only driver-side data is the candidate bucket-id list
  (bounded by n_buckets, a config).

Equality is hash equality on (h, h2): 128 independent bits per
normalized text, so a false "duplicate" verdict needs a double xxhash64
collision (~2^-128) — the price of never storing corpus text in the
index. Within-increment duplicates are NOT collapsed here (both copies
are "new" if absent from the reference); compose with exact_dedup for
intra-increment dedup.
"""

from __future__ import annotations

import contextlib
import json
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from ..kernel.bloom import BloomFilter, bloom_m_bits
from ..sources.corpus import read_parquet
from ..sources.sketch_store import write_json
from .dedup import norm_col
from .runs import fold_runs

LAYOUT_VERSION = 1
NORM_VERSION = 1  # the norm_col / normalize_series convention
_N_HASHES = 3  # hash functions per bucket filter, recorded in params.json

_BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("m_bits", T.LongType()),
        T.StructField("n_hashes", T.IntegerType()),
        T.StructField("n_keys", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def _hashed(df: DataFrame, n_buckets: int, text_col: str, id_col: str) -> DataFrame:
    """(id, h, h2, bucket): two independent xxhash64s of the normalized
    text (the second seeded by a literal tag column), bucket routed by
    pmod(h). Pure JVM; stays inside the scan's codegen stage."""
    norm = norm_col(text_col)
    return df.select(
        F.col(id_col),
        F.xxhash64(norm).alias("h"),
        F.xxhash64(norm, F.lit("memb2")).alias("h2"),
        F.pmod(F.xxhash64(norm), F.lit(n_buckets)).cast("int").alias("bucket"),
    )


def _clear_params(out_dir: str) -> None:
    """Drop `params.json` before an index build's first write: until the
    build writes it again, a reader refuses the directory instead of
    reading the previous build's params over a mix of old and new files."""
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(out_dir, "params.json"))


def _release_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD behind a localCheckpoint'ed frame, which
    otherwise holds its blocks until the JVM collects the frame."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def _concurrent(*writes) -> None:
    """Run independent index writes as concurrent jobs (§2.6). Each write
    is an inheritable_thread_target, so its jobs join the caller's job
    group and tags."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        for fut in [pool.submit(w) for w in writes]:
            fut.result()


def build_membership_index(
    df: DataFrame,
    out_dir: str,
    *,
    n_buckets: int = 64,
    fpr: float = 0.01,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Freeze `df` into a membership index at `out_dir` (see module
    doc). Returns {n_buckets, n_keys, mean_fill} stats. One shuffle of
    the 16 B/doc hash projection; the text column never leaves the
    scan stage."""
    # ONE materialized pass: distinct + repartition ON bucket (so each
    # bucket dir is one file, not one-per-upstream-task — the rows are
    # 16 B, the extra shuffle is cheap; the gate's pruned confirm reads
    # open few). The hashes write, the Bloom build and the stats all
    # read this checkpoint.
    _clear_params(out_dir)
    hashes = (
        _hashed(df, n_buckets, text_col, id_col)
        .select("bucket", "h", "h2")
        .distinct()
        .repartition(F.col("bucket"))
        .localCheckpoint(eager=True)
    )

    def build(run: pa.Table) -> dict:
        keys = run.column("h").to_numpy().view(np.uint64)
        bf = BloomFilter(bloom_m_bits(len(keys), fpr), _N_HASHES)
        bf.update(keys)
        return {
            "bucket": run.column("bucket")[0].as_py(),
            "m_bits": bf.m_bits,
            "n_hashes": _N_HASHES,
            "n_keys": len(keys),
            "payload": bf.bits.tobytes(),
        }

    blooms = fold_runs(hashes, ("bucket",), build, _BLOOM_SCHEMA).persist()

    @inheritable_thread_target(df.sparkSession)
    def _write_hashes() -> None:
        hashes.write.mode("overwrite").partitionBy("bucket").parquet(
            f"{out_dir}/hashes"
        )

    @inheritable_thread_target(df.sparkSession)
    def _write_blooms() -> None:
        blooms.write.mode("overwrite").parquet(f"{out_dir}/blooms")

    try:
        _concurrent(_write_hashes, _write_blooms)
        stats = blooms.agg(
            F.sum("n_keys").alias("n_keys"),
            F.count(F.lit(1)).alias("n_filled_buckets"),
        ).collect()[0]
    finally:
        blooms.unpersist()
        _release_checkpoint(hashes)
    n_keys = int(stats["n_keys"] or 0)
    write_json(os.path.join(out_dir, "params.json"), {
        "_layout": LAYOUT_VERSION,
        "kind": "membership",
        "norm_version": NORM_VERSION,
        "n_buckets": n_buckets,
        "fpr": fpr,
        "n_hashes": _N_HASHES,
        "n_keys": n_keys,
    })
    return {
        "n_buckets": n_buckets,
        "n_keys": n_keys,
        "n_filled_buckets": int(stats["n_filled_buckets"]),
    }


def _read_params(index_dir: str, kind: str = "membership") -> dict:
    with open(os.path.join(index_dir, "params.json")) as f:
        params = json.load(f)
    if params.get("kind", "membership") != kind:
        raise ValueError(
            f"index at {index_dir} is a {params.get('kind')!r} index, "
            f"this operator needs a {kind!r} index"
        )
    if params.get("_layout") != LAYOUT_VERSION:
        raise ValueError(
            f"membership index at {index_dir} has layout "
            f"{params.get('_layout')}, this version reads layout "
            f"{LAYOUT_VERSION} — rebuild the index"
        )
    if params.get("norm_version") != NORM_VERSION:
        raise ValueError(
            f"membership index at {index_dir} was built with text "
            f"normalization v{params.get('norm_version')}, this version "
            f"hashes v{NORM_VERSION} — probes would silently miss; "
            "rebuild the index"
        )
    return params


def incremental_exact_dedup(
    increment: DataFrame,
    index_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, is_new): for every increment row, whether its normalized
    text is ABSENT from the frozen reference corpus behind `index_dir`
    (see module doc for the probe → confirm plan). Exact: Bloom false
    positives are confirmed away against the stored hashes; false
    negatives are impossible."""
    spark = increment.sparkSession
    params = _read_params(index_dir)
    n_buckets = int(params["n_buckets"])

    inc = _hashed(increment, n_buckets, text_col, id_col)
    blooms = read_parquet(spark, f"{index_dir}/blooms")
    out_schema = T.StructType(
        [
            increment.schema[id_col],
            T.StructField("h", T.LongType()),
            T.StructField("h2", T.LongType()),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("maybe_dup", T.BooleanType()),
        ]
    )
    inc_cols = [id_col, "h", "h2", "bucket"]

    def probe(run: pa.Table) -> pa.Table | None:
        is_bloom = run.column("payload").is_valid().to_numpy(zero_copy_only=False)
        rows = run.filter(~is_bloom).select(inc_cols)
        if rows.num_rows == 0:
            return None
        hit = np.zeros(rows.num_rows, dtype=bool)
        if is_bloom.any():
            bloom = run.filter(is_bloom).slice(0, 1).to_pylist()[0]
            bf = BloomFilter(
                bloom["m_bits"], bloom["n_hashes"],
                bits=np.frombuffer(bloom["payload"], dtype=np.uint8),
            )
            hit = bf.contains(rows.column("h").to_numpy().view(np.uint64))
        # else the reference has no keys in this bucket: definitely new
        return rows.append_column("maybe_dup", pa.array(hit))

    # one exchange of the increment rows and the bloom rows together:
    # each bucket's run holds its increment rows and its filter, if any
    probed = fold_runs(
        inc.unionByName(blooms, allowMissingColumns=True), ("bucket",),
        probe, out_schema,
    ).localCheckpoint(eager=True)  # one pass; reused by 3 consumers

    cand = probed.filter("maybe_dup")
    # candidate bucket list: bounded by n_buckets (a config), so the
    # collect is driver-tiny by construction — it buys a LITERAL
    # partition filter on the hashes read (real file pruning, which a
    # join key alone would only get via best-effort DPP).
    cand_buckets = [int(r["bucket"]) for r in cand.select("bucket").distinct().collect()]
    if cand_buckets:
        hashes = read_parquet(spark, f"{index_dir}/hashes").filter(
            F.col("bucket").isin(cand_buckets)
        )
        confirmed = cand.join(hashes, ["bucket", "h", "h2"], "left_semi")
    else:
        confirmed = cand.limit(0)
    dup_ids = confirmed.select(id_col)
    return (
        probed.select(id_col)
        .join(dup_ids.withColumn("__dup", F.lit(True)), id_col, "left")
        .select(F.col(id_col), F.coalesce(F.col("__dup"), F.lit(False)).alias("is_dup"))
        .select(F.col(id_col), (~F.col("is_dup")).alias("is_new"))
    )


# -- near-dup gate (MinHash LSH against a frozen corpus) -----------------
#
# Same freeze-once / gate-per-increment shape as the exact gate, one
# level up the similarity ladder: the frozen side is the corpus's
# MinHash band-bucket table plus its shingle sets (both sharded for
# partition pruning), and the gate blocks increment docs against the
# stored buckets, then exact-Jaccard-verifies candidates only. Gate
# cost is proportional to the increment + its candidates; the reference
# corpus text is never read at gate time (sets live in the index).


def _sshard(id_expr, n_shards: int):
    return F.pmod(F.xxhash64(id_expr), F.lit(n_shards)).cast("int")


def build_neardup_index(
    df: DataFrame,
    out_dir: str,
    *,
    threshold: float = 0.8,
    k: int = 3,
    num_perm: int = 128,
    bands: int = 32,
    n_shards: int | None = None,
    max_bucket: int | None = 512,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Freeze `df`'s MinHash LSH state at `out_dir`:

      <dir>/buckets  (shard, band, bh, id) partitioned by shard —
                     the band-bucket membership of every representative
      <dir>/sets     (sshard, id, s) partitioned by sshard — the sorted
                     shingle-hash set the verify step needs
      <dir>/params.json  banding + normalization + layout guard

    The rep-level table is the batch path's: dup_groups pre-collapses
    exact-duplicate texts to one representative (min id) and
    minhash_sigs_and_sets signs it; a dup of ANY copy is a dup of the
    representative, so the gate verdict is unchanged. Buckets larger
    than `max_bucket` representatives are dropped by the batch over-cap
    rule (cap_buckets), with their count recorded in params.
    num_perm/bands (default 32x4) give recall ~1-5e-8 at jaccard >= 0.8."""
    from .dedup import band_buckets, cap_buckets, dup_groups, minhash_sigs_and_sets

    _clear_params(out_dir)
    _, reps = dup_groups(df, text_col, id_col)
    # ONE kernel pass: the buckets write (and its over-cap branch), the
    # sets write and the over.count() all read this checkpoint. It is
    # lazy: the count() below both materializes it and sizes the shards,
    # in one job.
    ss = minhash_sigs_and_sets(
        reps, k, num_perm, "txt", "id", bands=bands
    ).localCheckpoint(eager=False)
    over, n_dropped = None, 0
    with contextlib.ExitStack() as scope:
        scope.callback(_release_checkpoint, ss)
        n_reps = ss.count()
        if n_shards is None:
            # scale-adaptive sharding: target ~100k representatives per shard
            # (sets dominate at ~1-2 KB/rep -> shard files land in the
            # 100-300 MB range), floor 4, cap 4096 — a toy corpus does not pay
            # many tiny file opens per pruned gate read, and a 10^9-rep
            # corpus gets real pruning granularity. Recorded in params, so
            # gates never depend on the default.
            n_shards = max(4, min(4096, -(-n_reps // 100_000)))
        buckets = band_buckets(ss, bands, num_perm // bands)
        if max_bucket is not None:
            buckets, over = scope.enter_context(cap_buckets(buckets, max_bucket))
        # repartition ON the partition column before the partitioned write:
        # otherwise every task writes into every shard dir (tasks x shards
        # tiny files); this way each shard is one file and the gate's pruned
        # reads open few. The two index writes are INDEPENDENT readers of
        # the checkpointed sig table, so they run as concurrent jobs: the
        # second write's tasks back-fill executors freed by the first's tail.
        # The threads inherit the caller's job group and tags.

        @inheritable_thread_target(df.sparkSession)
        def _write_buckets() -> None:
            buckets.withColumn(
                "shard", _sshard(F.col("bh"), n_shards)
            ).repartition(F.col("shard")).write.mode("overwrite").partitionBy(
                "shard"
            ).parquet(f"{out_dir}/buckets")

        @inheritable_thread_target(df.sparkSession)
        def _write_sets() -> None:
            ss.select(
                _sshard(F.col("id"), n_shards).alias("sshard"), "id", "s"
            ).repartition(F.col("sshard")).write.mode("overwrite").partitionBy(
                "sshard"
            ).parquet(f"{out_dir}/sets")

        _concurrent(_write_buckets, _write_sets)
        if over is not None:
            # one partition: the count needs no exchange (one job, not two)
            n_dropped = int(over.coalesce(1).count())
    write_json(os.path.join(out_dir, "params.json"), {
        "_layout": LAYOUT_VERSION,
        "kind": "neardup",
        "norm_version": NORM_VERSION,
        "threshold": threshold,
        "k": k,
        "num_perm": num_perm,
        "bands": bands,
        "n_shards": n_shards,
        "max_bucket": max_bucket,
        "n_reps": n_reps,
        "n_dropped_buckets": n_dropped,
    })
    return {"n_reps": n_reps, "n_dropped_buckets": n_dropped}


def _neardup_rep_matches(
    increment: DataFrame, index_dir: str, text_col: str, id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """(docs, matches): the increment's dup_groups docs (id, txt, grp)
    and the verified (grp, ref_id, jaccard) rows of its exact-dup
    representatives against the frozen index. The increment is
    collapsed and signed the way the index was built (dup_groups, then
    one minhash_sigs_and_sets pass); its band keys join the stored
    buckets read under a literal shard IN (...) partition filter (a
    small delta touches few shards), and candidate (rep, ref) pairs are
    exact-verified against the stored sets, read pruned the same way.
    Only the bounded shard-id lists (<= n_shards, a config) are ever
    collected."""
    from .dedup import band_buckets, dup_groups, minhash_sigs_and_sets

    spark = increment.sparkSession
    params = _read_params(index_dir, kind="neardup")
    bands, num_perm = int(params["bands"]), int(params["num_perm"])
    n_shards, threshold = int(params["n_shards"]), float(params["threshold"])
    docs, reps = dup_groups(increment, text_col, id_col)
    empty = spark.createDataFrame([], "grp string, ref_id long, jaccard double")
    # one kernel pass that blocking and verify both read; the checkpoint
    # is lazy, materialized by the shard-list collect (its first reader)
    inc_ss = minhash_sigs_and_sets(
        reps, int(params["k"]), num_perm, "txt", "id",
        passthrough=("grp",), bands=bands,
    ).localCheckpoint(eager=False)
    inc_b = band_buckets(inc_ss, bands, num_perm // bands).withColumn(
        "shard", _sshard(F.col("bh"), n_shards)
    )
    shards = [int(x["shard"]) for x in inc_b.select("shard").distinct().collect()]
    if not shards:
        return docs, empty
    ref_b = (
        read_parquet(spark, f"{index_dir}/buckets")
        .filter(F.col("shard").isin(shards))
        .select("band", "bh", F.col("id").alias("ref_id"))
    )
    cand = (
        inc_b.select("band", "bh", F.col("id").alias("__iid"))
        .join(ref_b, ["band", "bh"])
        .select("__iid", "ref_id")
        .distinct()
        .localCheckpoint(eager=True)  # reused: shard collect + verify join
    )
    sshards = [
        int(x["s"]) for x in
        cand.select(_sshard(F.col("ref_id"), n_shards).alias("s")).distinct().collect()
    ]
    if not sshards:
        return docs, empty
    ref_sets = (
        read_parquet(spark, f"{index_dir}/sets")
        .filter(F.col("sshard").isin(sshards))
        .select(F.col("id").alias("ref_id"), F.col("s").alias("s_b"))
    )
    inc_sets = inc_ss.select(F.col("id").alias("__iid"), F.col("s").alias("s_a"), "grp")
    inter = F.size(F.array_intersect("s_a", "s_b"))
    # cand is checkpointed (exact size stats), so AQE broadcasts it when
    # the delta is small — a FORCED broadcast would be an executor-memory
    # ceiling when a corpus-sized increment is gated (many candidates)
    matches = (
        cand.join(inc_sets, "__iid").join(ref_sets, "ref_id")
        .withColumn("jaccard", inter / (F.size("s_a") + F.size("s_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("grp", "ref_id", F.round("jaccard", 6).alias("jaccard"))
    )
    return docs, matches


def incremental_neardup_pairs(
    increment: DataFrame,
    index_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, ref_id, jaccard): every frozen-corpus representative
    within the index's Jaccard threshold of an increment doc (see
    _neardup_rep_matches for the plan). Exact duplicates inside the
    increment are signed once and share their representative's rows."""
    docs, matches = _neardup_rep_matches(increment, index_dir, text_col, id_col)
    return matches.join(
        docs.select(F.col("id").alias(id_col), "grp"), "grp"
    ).select(id_col, "ref_id", "jaccard")


def incremental_neardup_gate(
    increment: DataFrame,
    index_dir: str,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id_col, is_new): whether each increment doc has NO frozen-corpus
    doc within the index's Jaccard threshold. Docs with fewer than k
    tokens have no signature and cannot match — they are new (same
    convention as the batch LSH path, which emits no row for them)."""
    docs, matches = _neardup_rep_matches(increment, index_dir, text_col, id_col)
    matched = matches.select("grp").distinct()
    return (
        docs.select(F.col("id").alias(id_col), "grp")
        .join(matched.withColumn("__m", F.lit(True)), "grp", "left")
        .select(F.col(id_col), F.col("__m").isNull().alias("is_new"))
    )
