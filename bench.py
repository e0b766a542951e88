"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Extra keys: "throughput" (docs/sec for the sketch build+merge — the
north-rule metric), "rows" (result sizes, as a drift canary),
"foreign_cores" (per-entry foreign-CPU during the accepted run) and
"gate" (the foreign-CPU acceptance summary).

FOREIGN-CPU GATING (round-4 verdict item 1): this host shows episodic
foreign load bursts that inflated BENCH_r04 ~15-25% across
code-identical entries, making round-over-round deltas unreadable. Every
timed entry is therefore gated on foreign load: foreign CPU during the
attempt = non-idle jiffies from /proc/stat minus this process tree's own
CPU (rusage + live-descendant /proc walk — the py4j JVM is invisible to
RUSAGE_CHILDREN); an attempt is ACCEPTED when foreign stayed under
$SPARK_GRAFT_FOREIGN_MAX cores (default 0.7). Entries retry (bounded
global budget) until an accepted attempt exists; entries that never got
one are listed in gate.ungated so a reader knows exactly which figures
carry window noise. The bench also waits (bounded) for 1-min loadavg to
drop before starting.
"""

from __future__ import annotations

import json
import os
import resource
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

FOREIGN_MAX = float(os.environ.get("SPARK_GRAFT_FOREIGN_MAX", "0.7"))
PRE_WAIT_MAX = float(os.environ.get("SPARK_GRAFT_PRE_WAIT", "600"))
RETRY_BUDGET = int(os.environ.get("SPARK_GRAFT_RETRY_BUDGET", "24"))
_HZ = os.sysconf("SC_CLK_TCK")


def _busy_jiffies() -> int:
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return sum(vals) - vals[3] - vals[4]  # total minus idle+iowait


def _descendant_cpu_sec() -> float:
    """CPU seconds of every LIVE descendant (py4j JVM + pyspark workers)
    via one /proc walk — same accounting as scripts/scaling.py (the JVM
    is never reaped, so RUSAGE_CHILDREN cannot see it)."""
    ppid, cpu = {}, {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ppid[int(p)] = int(rest[1])
        cpu[int(p)] = sum(map(int, rest[11:15])) / _HZ
    total, frontier = 0.0, {os.getpid()}
    while frontier:
        frontier = {p for p, pp in ppid.items() if pp in frontier}
        total += sum(cpu.get(p, 0.0) for p in frontier)
    return total


def _my_cpu_sec() -> float:
    a = resource.getrusage(resource.RUSAGE_SELF)
    b = resource.getrusage(resource.RUSAGE_CHILDREN)
    return a.ru_utime + a.ru_stime + b.ru_utime + b.ru_stime


class _ForeignMeter:
    """Average foreign cores over a timed region."""

    def start(self) -> None:
        self._b0 = _busy_jiffies()
        self._m0 = _my_cpu_sec() + _descendant_cpu_sec()
        self._t0 = time.time()

    def stop(self) -> float:
        dt = max(time.time() - self._t0, 1e-9)
        busy = (_busy_jiffies() - self._b0) / _HZ
        mine = _my_cpu_sec() + _descendant_cpu_sec() - self._m0
        return max(0.0, (busy - mine) / dt)


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("tetrex_spark-bench")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from tetrex_spark.operators.sketch_build import SketchSpec, build_sketches
    from tetrex_spark.sources.corpus import documents_as_corpus, with_bin_id

    corpus = documents_as_corpus(spark, sf_dir)
    n_docs = corpus.count()  # warms the JVM + file listing
    # warm the Arrow/Python worker pool too (spark.python.worker.reuse is
    # on by default; first mapInPandas otherwise pays ~3s of interpreter
    # spawn + numpy import across all slots, misattributed to query 1)
    def _warm(it):
        import numpy  # noqa: F401
        import tetrex_spark.functions.text  # noqa: F401

        yield from it

    spark.range(int(cpus) * 4, numPartitions=int(cpus)).mapInPandas(
        _warm, "id long"
    ).count()

    times: dict[str, float] = {}
    rows: dict[str, int] = {}
    foreign: dict[str, float] = {}
    ungated: list[str] = []
    meter = _ForeignMeter()
    retries_left = RETRY_BUDGET

    # bounded pre-wait for a quiet window (bounded so a bench run can
    # never stall indefinitely)
    wait_t0 = time.time()
    while _load1() >= 2.0 and time.time() - wait_t0 < PRE_WAIT_MAX:
        time.sleep(10)
    pre_wait = round(time.time() - wait_t0, 1)

    def timed(name: str, fn) -> None:
        # min over accepted (foreign < FOREIGN_MAX cores) attempts: 2
        # base attempts plus gated retries from a shared budget. Without
        # the gate, min-of-2 was ±15-25% window noise on sub-second
        # entries (BENCH_r04) — round-over-round deltas were unreadable.
        nonlocal retries_left
        # every entry starts with a clean block manager: earlier
        # entries' caches and (via gc -> ContextCleaner) their
        # localCheckpoint RDDs would otherwise accumulate and penalize
        # late entries — hyperplane (last) measured 2.1 s in a 26-entry
        # suite and 3.7 s code-identical in a 33-entry one
        import gc as _gc

        spark.catalog.clearCache()
        _gc.collect()
        attempts: list[tuple[float, float]] = []
        while True:
            meter.start()
            t0 = time.time()
            rows[name] = int(fn())
            dt = time.time() - t0
            attempts.append((dt, meter.stop()))
            accepted = [a for a in attempts if a[1] < FOREIGN_MAX]
            if len(attempts) >= 2 and accepted:
                break
            if len(attempts) >= 2:
                if retries_left <= 0 or len(attempts) >= 5:
                    break
                retries_left -= 1
        accepted = [a for a in attempts if a[1] < FOREIGN_MAX]
        pool = accepted if accepted else attempts
        best = min(pool)
        times[name] = round(best[0], 3)
        foreign[name] = round(best[1], 2)
        if not accepted:
            ungated.append(name)

    # 1. the north-rule headline: full 5-kind sketch build + merge
    specs = [
        SketchSpec("bloom", "bloom", "token_shingle", k=3,
                   params={"m_bits": 1 << 18, "n_hashes": 3}),
        SketchSpec("hll", "hll", "token_shingle", k=3, params={"p": 12}),
        SketchSpec("cms", "cms", "token", k=1, params={"width": 2048, "depth": 5}),
        SketchSpec("kll", "kll", "doc_length_tokens", params={"k": 200}),
        SketchSpec("td", "tdigest", "doc_length_chars", params={"delta": 100.0}),
    ]
    binned = with_bin_id(corpus, 64)
    timed("sketch_build_merge", lambda: build_sketches(binned, specs).count())

    # 1b. high-threshold embedding near-dup: the hyperplane-LSH path with
    # the packed-BLAS candidate verify (the true near-dup regime where
    # blocking prunes; the flagship entry covers the moderate-threshold
    # block-exact regime). Runs over the twin-augmented corpus
    # (entrymod._emb_augmented — the raw fixture has no pairs above cosine
    # ~0.6) so the verify path is exercised with real survivors; the same
    # input is DuckDB-oracled as the hyperplane_pairs_t90 CORRECTNESS
    # entry. Runs EARLY on purpose: the pre-wait guarantees the suite's
    # start is quiet, and this BLAS/bandwidth-bound entry is the most
    # sensitive to neighbor bandwidth the core-count gate cannot see —
    # in tail position it read 2.1 s in clean windows and 3.2-8.2 s
    # burst-adjacent, code-identical.
    timed(
        "hyperplane_lsh_pairs_t90",
        lambda: entrymod.queries()["hyperplane_pairs_t90"](spark, sf_dir).count(),
    )

    # 2. motif index build + queries (index cached across the 3 patterns)
    def _build_index() -> int:
        entrymod._index_cache.clear()
        return entrymod._motif_index(spark, sf_dir).bloom.n_bins

    timed("motif_index_build", _build_index)
    idx = entrymod._motif_index(spark, sf_dir)  # cached by the last attempt
    timed("motif_query", lambda: idx.query(corpus, entrymod.MOTIF_PATTERN).count())
    timed(
        "motif_conjunctive",
        lambda: idx.query_all(corpus, entrymod.MOTIF_PATTERNS_CONJ).count(),
    )

    # warm-index multi-query: N patterns through ONE loaded index, so the
    # per-pattern driver cost (sub-ms NFA+Bloom traversal, the analog of
    # the reference's 0.007 s prebuilt-index probe) is visible past the
    # Spark job-launch floor that dominates single-query entries
    warm_patterns = [
        entrymod.MOTIF_PATTERN, "wind+ow", "qu(e|a)ry stream", "zyzzyva",
        "merge sort", "sp?ark", "filter (window|merge)", "approximate membership",
    ]

    def warm_queries() -> int:
        return sum(idx.query(corpus, p).count() for p in warm_patterns)

    timed("motif_query_warm8", warm_queries)
    # the batched variant: SAME 8 patterns, ONE pruned scan (query_many)
    timed(
        "motif_query_batch8",
        lambda: idx.query_many(corpus, {p: p for p in warm_patterns}).count(),
    )

    # traversal-only probe: regex -> NFA -> Bloom-matrix walk, pure
    # driver, NO Spark job — the direct analog of the reference's 0.007 s
    # prebuilt-index in-process query (README.md:77-109); the warm8 entry
    # above additionally pays the distributed verify scan per pattern
    reps_n = 25
    t0 = time.time()
    for _ in range(reps_n):
        for p in warm_patterns:
            idx.candidate_bins(p)
    traversal_per_pattern = (time.time() - t0) / (reps_n * len(warm_patterns))

    # 3. training-pipeline operators (+ the d-gram-pruned gap motif; its
    # one-time track build lands in run 1, min-of-2 reports steady state)
    for name in [
        "motif_gap",
        "exact_dedup",
        "latest_snapshot",
        "jaccard_pairs_lsh",
        "dedup_clusters",
        "token_stats",
        "quality_filter",
        "heavy_hitters_exact",
        "heavy_hitters_cms",
        "distinct_shingles_by_lang",
        "length_quantiles",
        "ann_topk",
        "ann_topk_ivf",
        "embedding_near_dup",
        "simhash_pairs",
        "fingerprints",
        "substring_spans",
        "strip_dup_spans",
        "dataset_split",
        "incremental_dedup",
        "incremental_neardup",
        "decontaminate",
        "lm_quality",
        "token_budget",
        "importance_weights",
        "bigram_pmi",
    ]:
        fn = entrymod.queries()[name]
        timed(name, lambda fn=fn: fn(spark, sf_dir).count())

    # Pipeline entries (single-shot, reported under "pipelines" and NOT
    # summed into the headline total: the operator-suite total stays
    # comparable across rounds, while these carry streaming-query startup
    # / stage-write costs and cannot re-run warm by design).
    pipelines: dict[str, float] = {}

    # streaming SimHash near-dup gate: the corpus's fingerprints fed as 4
    # micro-batches through the applyInPandasWithState bucket operator —
    # the cross-batch stateful path a batch join can't express. Single
    # shot (stateful streams have no warm re-run), so the figure carries
    # the ~1-2 s streaming-query startup alongside per-batch work.
    from pyspark.sql import functions as F

    from tetrex_spark.operators.dedup import simhash as _simhash_fp
    from tetrex_spark.streaming.simhash_stream import streaming_simhash_pairs

    import shutil as _sh
    import tempfile as _tf

    sdir = _tf.mkdtemp(prefix="tetrex_stream_bench_")
    try:
        # materialize the fingerprint pass ONCE — the 4 filtered writes
        # below would otherwise re-run the full-corpus simhash kernel
        # each time
        fps = _simhash_fp(
            spark.read.parquet(f"{sf_dir}/documents.parquet"), "text", "doc_id"
        ).withColumn("b", F.pmod(F.col("id"), F.lit(4))).localCheckpoint(
            eager=True
        )
        for b in range(4):
            # one file per micro-batch so maxFilesPerTrigger=1 gives
            # exactly 4 cross-batch state transitions
            fps.filter(F.col("b") == b).select("id", "simhash").coalesce(
                1
            ).write.mode("overwrite").parquet(f"{sdir}/in/batch={b}")
        meter.start()
        t0 = time.time()
        stream = spark.readStream.schema("id long, simhash long").option(
            "maxFilesPerTrigger", "1"
        ).parquet(f"{sdir}/in/batch=*")
        q = (
            streaming_simhash_pairs(stream, max_hamming=3, n_blocks=4)
            .writeStream.format("parquet")
            .option("path", f"{sdir}/out")
            .option("checkpointLocation", f"{sdir}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        finished = q.awaitTermination(300)
        if not finished:
            # stalled stream: stop it BEFORE the dir teardown (a live
            # query over deleted checkpoint/input dirs throws
            # FileNotFound into the shared session while later entries
            # run) and record the entry as failed rather than a bogus
            # ~300 s "success"
            q.stop()
            pipelines["streaming_simhash_gate"] = -1.0
            rows["streaming_simhash_gate"] = -1
        else:
            pipelines["streaming_simhash_gate"] = round(time.time() - t0, 3)
            foreign["streaming_simhash_gate"] = round(meter.stop(), 2)
            rows["streaming_simhash_gate"] = int(
                spark.read.parquet(f"{sdir}/out").count()
            )
    finally:
        _sh.rmtree(sdir, ignore_errors=True)

    # CLI dedup end-to-end (the checkpointed MinHash pipeline + CC keep
    # list behind `tetrex_spark dedup`), plus a resume leg over the same
    # checkpoint: the resume re-reads committed stages only, so the delta
    # vs the cold run is the checkpointed pipeline's stage-write overhead
    # against the direct minhash_lsh_pairs call (jaccard_pairs_lsh above)
    import shutil
    import tempfile

    from tetrex_spark.cli import main as cli_main

    cli_dir = tempfile.mkdtemp(prefix="tetrex_cli_dedup_")
    try:
        cli_args = [
            "dedup", "--corpus", f"{sf_dir}/documents.parquet",
            "--output", f"{cli_dir}/out", "--id-col", "doc_id",
            "--text-col", "text", "--chunks", "4",
        ]
        meter.start()
        t0 = time.time()
        cli_main(cli_args)
        pipelines["cli_dedup_cold"] = round(time.time() - t0, 3)
        foreign["cli_dedup_cold"] = round(meter.stop(), 2)
        rows["cli_dedup_cold"] = int(
            spark.read.parquet(f"{cli_dir}/out/pairs").count()
        )
        meter.start()
        t0 = time.time()
        cli_main(cli_args)  # resume: all stages committed, re-read only
        pipelines["cli_dedup_resume"] = round(time.time() - t0, 3)
        foreign["cli_dedup_resume"] = round(meter.stop(), 2)
        rows["cli_dedup_resume"] = rows["cli_dedup_cold"]
    finally:
        shutil.rmtree(cli_dir, ignore_errors=True)

    total = round(sum(times.values()), 3)
    build_rate = round(n_docs / max(times["sketch_build_merge"], 1e-9), 1)
    print(
        json.dumps(
            {
                "metric": "e2e_operator_suite",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": float(sf),
                "throughput": {
                    "sketch_build_merge_docs_per_sec": build_rate,
                    "n_docs": n_docs,
                    "motif_query_warm_sec_per_pattern": round(
                        times["motif_query_warm8"] / len(warm_patterns), 4
                    ),
                    "motif_traversal_sec_per_pattern": round(
                        traversal_per_pattern, 6
                    ),
                },
                "pipelines": pipelines,
                "rows": rows,
                "foreign_cores": foreign,
                "gate": {
                    "threshold_cores": FOREIGN_MAX,
                    "pre_wait_sec": pre_wait,
                    "retries_used": RETRY_BUDGET - retries_left,
                    "ungated": ungated,
                },
            }
        )
    )


if __name__ == "__main__":
    main()
