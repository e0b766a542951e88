"""Eager-job budgets for the LSH dedup family and its keep-list
(round-4 verdict item 2: the fixed per-call job count is the toy-scale
cost driver — count it, budget it, and fail on regression).

Spark jobs are counted per job group via the status tracker. With AQE on
every materialized exchange is its own job, so the counts are
plan-shaped and deterministic for a fixed Spark version: a regression
(an extra eager checkpoint, a lost cache causing a second kernel pass, a
new uncached scan) shows up as a count jump well past the slack.
"""

import pytest
from pyspark.sql import functions as F  # noqa: F401


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(60):
        rows.append((i, f"shared boilerplate text block number {i % 7} "
                        "with cookies notice and more filler words here"))
    for i in range(60, 200):
        rows.append((i, f"unique document {i} about engine internals "
                        f"{i * 17} partition shuffle topic {i % 13}"))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup(group, group)
    out = fn()
    sc.setJobGroup(None, None)
    return out, len(tracker.getJobIdsForGroup(group) or [])


def test_minhash_lsh_pairs_job_budget(spark, corpus):
    from tetrex_spark.operators.dedup import minhash_lsh_pairs

    corpus.count()
    df, n_construct = _jobs(
        spark, "mh-construct", lambda: minhash_lsh_pairs(corpus, threshold=0.8)
    )
    # ONE kernel checkpoint + ONE fused rep_pairs/members checkpoint +
    # the cap-stats job at the block exit ( + AQE stage jobs inside each)
    assert n_construct <= 18, f"minhash construction ran {n_construct} jobs"
    # the member-level expansion must be cache-only: no text re-scan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan
    _, n_count = _jobs(spark, "mh-count", lambda: df.count())
    assert n_count <= 16, f"minhash count ran {n_count} jobs"


def test_simhash_pairs_job_budget(spark, corpus):
    from tetrex_spark.operators.dedup import simhash_pairs

    corpus.count()
    df, n_construct = _jobs(
        spark, "sh-construct", lambda: simhash_pairs(corpus, max_hamming=3)
    )
    # r5 plan: fingerprint checkpoint whose materializing count IS the
    # adaptive-width probe (one job where r4 paid two) + rep-pair
    # checkpoint with the fingerprint riding the bucket rows (NO verify
    # joins, no broadcast) + the cap-stats job
    assert n_construct <= 17, f"simhash construction ran {n_construct} jobs"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan and "Scan parquet" not in plan
    _, n_count = _jobs(spark, "sh-count", lambda: df.count())
    assert n_count <= 13, f"simhash count ran {n_count} jobs"


def test_minhash_keep_list_job_budget(spark, corpus):
    """Edges + connected components + keep-list join, collected. The
    graph is small, so CC is one signature job on the edge checkpoint
    plus the one-task in-memory finish; per-round star jobs (5+ a round,
    40 in all for this call) would blow the budget."""
    from tetrex_spark.operators.clusters import dedup_keep_list
    from tetrex_spark.operators.dedup import minhash_lsh_edges

    corpus.count()
    rows, n_jobs = _jobs(spark, "mh-keep", lambda: dedup_keep_list(
        corpus.select("doc_id"), minhash_lsh_edges(corpus, threshold=0.8)
    ).collect())
    assert len(rows) == 200
    # 22 jobs when written (the cap-stats job is one), + 3 slack
    assert n_jobs <= 25, f"minhash keep-list ran {n_jobs} jobs"


def test_checkpointed_dedup_job_budget(spark, corpus, tmp_path):
    """The checkpointed MinHash pipeline in one chunk: the sigset stage,
    the pairs stage and the member expansion counted. The expansion
    reads eligibility and rep groups from the stored sig table, so it
    adds no rep-group aggregate or rep-id -> group joins; stage row
    counts and read schemas come from the parquet footers, with no
    re-read or schema-inference job."""
    from tetrex_spark.lineage import CheckpointedDedup

    corpus.count()
    n, n_jobs = _jobs(spark, "ckpt-dedup", lambda: CheckpointedDedup(
        str(tmp_path / "ck"), threshold=0.8, n_chunks=1
    ).run(corpus).count())
    assert n > 0
    # 23 jobs when written, plus the slack the budgets above allow
    assert n_jobs <= 26, f"checkpointed dedup ran {n_jobs} jobs"


@pytest.mark.parametrize("family", ["minhash", "simhash", "cosine"])
def test_resumed_checkpointed_pipeline_runs_no_job(spark, corpus, tmp_path, family):
    """Re-running a finished checkpointed pipeline: every stage is
    committed, so the pairs stage's candidate block is never entered —
    no candidate plan, no cap-stats job — and the stored stages are read
    through their footers. run_rep_level (MinHash, SimHash) and the
    cosine pipeline's run run 0 jobs."""
    import numpy as np

    from tetrex_spark.lineage import (
        CheckpointedCosineDedup,
        CheckpointedDedup,
        CheckpointedSimhashDedup,
    )

    d = str(tmp_path / "ck")
    if family == "cosine":
        rng = np.random.default_rng(3)
        df = spark.createDataFrame(
            [(i, rng.standard_normal(16).tolist()) for i in range(40)],
            "vec_id long, embedding array<double>",
        )

        def resume():
            return CheckpointedCosineDedup(d, dim=16, n_chunks=2).run(df)
    else:
        make = CheckpointedDedup if family == "minhash" else CheckpointedSimhashDedup

        def resume():
            return make(d, n_chunks=2).run_rep_level(corpus)
    assert resume() is not None
    out, n_jobs = _jobs(spark, f"resume-{family}", resume)
    assert out is not None
    assert n_jobs == 0, f"resumed {family} pipeline ran {n_jobs} jobs"


def test_cli_dedup_job_budget(spark, corpus, tmp_path):
    """`cli dedup` end to end in one chunk: the checkpointed stages, the
    pairs/ write and the keep/ write. The keep-list runs components over
    the rep-level graph, and nothing written is re-read to be counted."""
    import contextlib
    import io

    from tetrex_spark import cli

    path = str(tmp_path / "corpus")
    corpus.write.parquet(path)
    with contextlib.redirect_stdout(io.StringIO()) as out:
        rc, n_jobs = _jobs(spark, "cli-dedup", lambda: cli.main([
            "dedup", "--corpus", path, "--output", str(tmp_path / "out"),
            "--id-col", "doc_id", "--chunks", "1",
        ]))
    assert rc == 0 and "Deduplicated 200 documents" in out.getvalue()
    # 29 jobs when written, + 3 slack
    assert n_jobs <= 32, f"cli dedup ran {n_jobs} jobs"


def test_motif_index_job_budget(spark, tmp_path):
    """Motif index write and read paths. build = one fused sizing and
    alphabet aggregate + the sketch write; track reuses the build's
    recorded sizing, so it is the d-gram write alone and does not grow
    with the gap count; a load reads the index on the driver with no
    Spark job at all."""
    from tetrex_spark.plans.planner import MotifIndex
    from tetrex_spark.sources.corpus import webtext_small

    corpus = webtext_small(spark).cache()
    corpus.count()
    path = str(tmp_path / "motif_idx")
    idx, n_build = _jobs(spark, "motif-build", lambda: MotifIndex.build(
        corpus, path, n_bins=16, k=3))
    # 5 jobs when written (3 sizing aggregate + 2 sketch write)
    assert n_build <= 7, f"MotifIndex.build ran {n_build} jobs"
    n_track = {}
    for lo, hi in ((1, 3), (3, 21)):
        idx, n_track[lo, hi] = _jobs(spark, f"motif-track-{lo}-{hi}",
                                     lambda: idx.track(corpus, path, min_gap=lo, max_gap=hi))
    assert n_track[1, 3] == n_track[3, 21], n_track
    # 2 jobs when written (the d-gram sketch write)
    assert n_track[1, 3] <= 4, f"track ran {n_track} jobs"
    loaded, n_load = _jobs(spark, "motif-load", lambda: MotifIndex.load(spark, path))
    assert loaded.dgram.max_gap == 21
    assert n_load == 0, f"MotifIndex.load ran {n_load} jobs"
    corpus.unpersist()


def test_motif_index_file_backed_job_budget(spark, tmp_path):
    """A corpus read from files: build also writes the bin-sorted text
    copy, in a thread whose jobs count in the caller's group, within the
    in-memory build's bound; a selective query, query_many and query_all
    then verify on the driver from that copy and run no Spark job."""
    from tetrex_spark.plans.planner import MotifIndex
    from tetrex_spark.sources.corpus import webtext_small

    webtext_small(spark).repartition(3).write.parquet(str(tmp_path / "corpus"))
    corpus = spark.read.parquet(str(tmp_path / "corpus"))
    path = str(tmp_path / "motif_idx")
    idx, n_build = _jobs(spark, "motif-build-files", lambda: MotifIndex.build(
        corpus, path, n_bins=16, k=3))
    assert idx.manifest["corpus_fingerprint"] is not None
    # 7 jobs when written (the in-memory build's 5 + 2 text-copy write)
    assert n_build <= 7, f"file-backed MotifIndex.build ran {n_build} jobs"
    pats = ["zyzzyva", "filter (window|merge)", "approximate membership query"]
    for name, call in [
        ("query", lambda: idx.query(corpus, pats[0])),
        ("query_many", lambda: idx.query_many(corpus, pats)),
        ("query_all", lambda: idx.query_all(corpus, ["zyzzyva", "filter"])),
    ]:
        rows, n_query = _jobs(spark, f"motif-{name}-files", lambda: call().collect())
        assert rows, name
        assert n_query == 0, f"{name} ran {n_query} jobs"


def test_cli_query_on_parquet_corpus_runs_no_job(spark, tmp_path):
    """`cli index` then `cli query` (selective pattern, stdout sink) over a
    parquet corpus Spark wrote: the corpus is read with the schema in its
    footer, so the query runs no job at all and still verifies on the
    driver (the read's fingerprint matches the one the index recorded)."""
    import contextlib
    import io

    from tetrex_spark import cli
    from tetrex_spark.plans.planner import MotifIndex
    from tetrex_spark.sources.bin_text import corpus_fingerprint
    from tetrex_spark.sources.corpus import read_corpus, webtext_small

    src, idx = str(tmp_path / "corpus"), str(tmp_path / "idx")
    webtext_small(spark).repartition(2).write.parquet(src)
    with contextlib.redirect_stdout(io.StringIO()):
        assert cli.main(["index", "--corpus", src, "--output", idx, "--bins", "8"]) == 0
    loaded = MotifIndex.load(spark, idx)
    fingerprint = loaded.manifest["corpus_fingerprint"]
    assert fingerprint is not None
    with contextlib.redirect_stdout(io.StringIO()) as out:
        rc, n_jobs = _jobs(spark, "cli-query", lambda: cli.main(
            ["query", "--index", idx, "--corpus", src, "--regex", "zyzzyva"]))
    assert rc == 0 and out.getvalue().count("zyzzyva") > 0
    assert n_jobs == 0, f"cli query ran {n_jobs} jobs"
    assert corpus_fingerprint(read_corpus(spark, src)) == fingerprint


def test_sketch_stream_append_job_budget(spark, tmp_path):
    """A SketchStream append onto existing state: the stored state rows
    and the batch's partial sketches meet in one merge exchange, and the
    state is read with the schema recorded in its parquet footer, so no
    schema-inference job runs."""
    from tetrex_spark.operators.sketch_build import SketchSpec
    from tetrex_spark.sources.corpus import webtext_small, with_bin_id
    from tetrex_spark.streaming.sketch_stream import SketchStream

    corpus = with_bin_id(webtext_small(spark), 8).cache()
    corpus.count()
    ss = SketchStream(str(tmp_path / "state"), [
        SketchSpec("hll", "hll", "token_shingle", k=2, params={"p": 11}),
        SketchSpec("cms", "cms", "token", k=1, params={"width": 2048, "depth": 5}),
    ], n_bins=8)
    ss.process_batch(corpus.filter("pmod(xxhash64(url), 2) = 0"), 0)
    _, n_jobs = _jobs(spark, "stream-append", lambda: ss.process_batch(
        corpus.filter("pmod(xxhash64(url), 2) = 1"), 1))
    assert ss.current_version() == 1
    # 2 jobs when written (the merge exchange + the state write), + 1 slack
    assert n_jobs <= 3, f"SketchStream append ran {n_jobs} jobs"
    corpus.unpersist()


def test_heavy_hitters_job_budget(spark, hh_fallback_docs):
    """Top-k heavy hitters are one report pass collected to the driver,
    and the result is a local frame whose collect runs no job. Every doc
    carries the same 24 head tokens, so each task reports all of them and
    the reports decide every count; only a corpus whose reports leave a
    token undecided pays the one recount pass."""
    from tetrex_spark.operators.heavy_hitters import heavy_hitters_topk

    head = [f"w{j}" for j in range(24) for _ in range(j % 3 + 1)]
    rows = [(i, " ".join(head + [f"u{i}a", f"u{i}b"])) for i in range(200)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    top, n_jobs = _jobs(spark, "hh-topk", lambda: heavy_hitters_topk(
        corpus, k=20, phi_num=1, phi_den=50).collect())
    assert [r["cnt"] for r in top] == [600] * 8 + [400] * 8 + [200] * 4
    assert n_jobs <= 1, f"heavy_hitters_topk ran {n_jobs} jobs"
    top, n_jobs = _jobs(spark, "hh-recount", lambda: heavy_hitters_topk(
        hh_fallback_docs, k=1, phi_num=1, phi_den=50).collect())
    assert [(r["token"], r["cnt"]) for r in top] == [("x", 109)]
    assert n_jobs <= 2, f"heavy_hitters_topk with a recount ran {n_jobs} jobs"


def _gate_text(i, edit=""):
    return (f"crawl page {i} about engine internals {i * 17} and the partition "
            f"shuffle topic {i % 13} {edit} with a cookie notice and more words")


@pytest.fixture(scope="module")
def gate_paths(spark, tmp_path_factory):
    """A 400-doc reference corpus and a 300-doc increment of it: 100 exact
    copies, 100 one-word edits, 100 fresh pages."""
    root = tmp_path_factory.mktemp("gates")
    ref = [(i, _gate_text(i)) for i in range(400)]
    inc = ([(1000 + i, _gate_text(i)) for i in range(100)]
           + [(1100 + i, _gate_text(100 + i, "zq9")) for i in range(100)]
           + [(1200 + i, _gate_text(5000 + i)) for i in range(100)])
    paths = {"ref": str(root / "ref"), "inc": str(root / "inc")}
    spark.createDataFrame(ref, "doc_id long, text string").write.parquet(paths["ref"])
    spark.createDataFrame(inc, "doc_id long, text string").write.parquet(paths["inc"])
    return paths


@pytest.mark.parametrize("gate,index,budget", [
    # measured 17 / 21 jobs (+1 with --new-only), + 3 slack
    ("membgate", "membindex", 20),
    ("ndgate", "ndindex", 24),
])
def test_cli_gate_job_budget(spark, gate_paths, tmp_path, gate, index, budget):
    """`cli membgate` / `cli ndgate`: the verdict plan runs once (an eager
    local checkpoint) and feeds both the write and one aggregate for the
    printed new/total counts, instead of two counts that each re-run the
    whole gate."""
    import contextlib
    import io

    from tetrex_spark import cli

    idx = str(tmp_path / "idx")
    with contextlib.redirect_stdout(io.StringIO()):
        assert cli.main([index, "--corpus", gate_paths["ref"], "--output", idx]) == 0
    for extra in ([], ["--new-only"]):
        with contextlib.redirect_stdout(io.StringIO()) as out:
            rc, n_jobs = _jobs(spark, f"{gate}{extra}", lambda: cli.main([
                gate, "--increment", gate_paths["inc"], "--index", idx,
                "--output", str(tmp_path / f"out{len(extra)}"), *extra,
            ]))
        assert rc == 0 and "/300 increment docs are new." in out.getvalue()
        limit = budget + len(extra)
        assert n_jobs <= limit, f"{gate} {extra} ran {n_jobs} jobs"
