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
    # the cap-stats finisher ( + AQE stage jobs inside each)
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
    # joins, no broadcast) + cap-stats finisher
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
    # 22 jobs when written (the cap-stats finisher is one job), + 3 slack
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
