"""End-to-end Spark sketch build: partials -> merge tree -> estimates,
checked against exact answers and determinism across parallelism levels."""

import numpy as np
import pandas as pd
import pytest

from tetrex_spark.functions.text import corpus_text_series, token_shingle_hashes_series
from tetrex_spark.kernel import from_bytes
from tetrex_spark.operators import sketch_build
from tetrex_spark.operators.sketch_build import (
    SketchSpec,
    build_sketches,
    collect_sketches,
    max_bin_cardinality,
)
from tetrex_spark.sources.corpus import webtext_small, with_bin_id

N_BINS = 16


@pytest.fixture(scope="module")
def corpus(spark):
    return with_bin_id(webtext_small(spark), N_BINS).cache()


@pytest.fixture(scope="module")
def corpus_pdf(corpus):
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    return pdf


def specs():
    return [
        SketchSpec("tok_bloom", "bloom", "token_shingle", k=2,
                   params={"m_bits": 1 << 14, "n_hashes": 3}),
        SketchSpec("tok_hll", "hll", "token_shingle", k=2, params={"p": 12}),
        SketchSpec("tok_cms", "cms", "token", k=1,
                   params={"width": 2048, "depth": 5}),
        SketchSpec("len_kll", "kll", "doc_length_tokens", params={"k": 200}),
        SketchSpec("len_td", "tdigest", "doc_length_chars", params={"delta": 100.0}),
    ]


@pytest.fixture(scope="module")
def built(corpus):
    return build_sketches(corpus, specs()).cache()


def test_one_row_per_bin_and_spec(built, corpus_pdf):
    rows = built.collect()
    names = {r["name"] for r in rows}
    assert names == {s.name for s in specs()}
    # every (bin, name) unique
    keys = [(r["bin_id"], r["name"]) for r in rows]
    assert len(keys) == len(set(keys))


def test_hll_estimate_matches_exact_distinct(built, corpus_pdf):
    sk = collect_sketches(built.filter("name = 'tok_hll'"))
    merged = None
    for (_, _), s in sk.items():
        merged = s if merged is None else merged.merge(s)
    hashes, _ = token_shingle_hashes_series(corpus_pdf["norm"], 2)
    exact = len(np.unique(hashes))
    est = merged.estimate()
    assert abs(est - exact) / exact < 3 * merged.rel_error + 0.01


def test_bloom_no_false_negatives_per_bin(built, corpus_pdf):
    sk = collect_sketches(built.filter("name = 'tok_bloom'"))
    for bin_id in corpus_pdf["bin_id"].unique():
        sub = corpus_pdf[corpus_pdf["bin_id"] == bin_id]
        hashes, _ = token_shingle_hashes_series(sub["norm"], 2)
        if hashes.size == 0:
            continue
        bf = sk[(int(bin_id), "tok_bloom")]
        assert bf.contains(hashes).all(), f"false negative in bin {bin_id}"


def test_cms_token_counts_within_eps(built, corpus_pdf):
    sk = collect_sketches(built.filter("name = 'tok_cms'"))
    merged = None
    for s in sk.values():
        merged = s if merged is None else merged.merge(s)
    toks = corpus_pdf["norm"].str.split().explode().dropna()
    exact = toks.value_counts()
    n = len(toks)
    from tetrex_spark.functions.text import hash_token_shingle

    for tok in ["zyzzyva", "the", "spark"]:
        est = int(merged.estimate(np.array([hash_token_shingle([tok])], dtype=np.uint64))[0])
        assert exact.get(tok, 0) <= est <= exact.get(tok, 0) + merged.eps * n


def test_zyzzyva_planted_count(corpus_pdf):
    toks = corpus_pdf["norm"].str.split().explode()
    assert (toks == "zyzzyva").sum() == 37


def test_kll_quantiles_within_bound(built, corpus_pdf):
    sk = collect_sketches(built.filter("name = 'len_kll'"))
    merged = None
    for s in sk.values():
        merged = s if merged is None else merged.merge(s)
    lens = corpus_pdf["norm"].str.split().str.len().to_numpy(np.float64)
    assert merged.n == 64
    svals = np.sort(lens)
    for q in [0.1, 0.5, 0.9]:
        est = merged.quantile(q)
        rank = np.searchsorted(svals, est, side="right") / len(svals)
        assert abs(rank - q) <= 3.0 / 200 + 1.0 / 64  # sketch + n-granularity


def test_deterministic_across_parallelism(spark, corpus):
    """Same input at 2 vs 8 partitions -> byte-identical lattice payloads
    (the two-cluster-size determinism invariant)."""
    sp = [s for s in specs() if s.kind in ("bloom", "hll", "cms")]
    a = build_sketches(corpus.repartition(2), sp).collect()
    b = build_sketches(corpus.repartition(8), sp).collect()
    ka = {(r["bin_id"], r["name"]): bytes(r["payload"]) for r in a}
    kb = {(r["bin_id"], r["name"]): bytes(r["payload"]) for r in b}
    assert ka == kb


def test_two_level_merge_same_result(corpus, monkeypatch):
    """All five kinds through the salted inner level (16 partitions, fan-in
    4) vs the final level alone: equal n_items and byte-identical
    payloads. KLL writes each level sorted, so the order in which the
    tree shape delivers its items does not reach the payload."""
    wide_input = corpus.repartition(16)
    narrow = build_sketches(wide_input, specs()).collect()
    monkeypatch.setattr(sketch_build, "_FANIN", 4)
    plan = sketch_build.sketch_partials(wide_input, specs())._jdf.queryExecution()
    plan = plan.executedPlan().toString()
    assert "MapInArrow" in plan  # inner level on, as an Arrow fold
    assert "FlatMapGroupsInPandas" not in plan
    wide = build_sketches(wide_input, specs()).collect()
    kw = {(r["bin_id"], r["name"]): (bytes(r["payload"]), r["n_items"]) for r in wide}
    kn = {(r["bin_id"], r["name"]): (bytes(r["payload"]), r["n_items"]) for r in narrow}
    assert kw == kn


def test_final_level_one_arrow_pass_per_core(spark, corpus):
    """merge_sketch_rows runs on defaultParallelism partitions whatever
    the shuffle setting. With one group (heavy hitters' constant bin) all
    partitions but one are empty, and the one row equals a build whose
    map side saw every row in one task (CMS is a lattice sketch), also
    when every Arrow batch holds one row, so the group spans batches;
    empty input gives no rows."""
    from pyspark.sql import functions as F

    spec = SketchSpec("one_cms", "cms", "token", k=1,
                      params={"width": 2048, "depth": 5})
    one_bin = corpus.repartition(8).withColumn("bin_id", F.lit(0))
    partials = sketch_build.sketch_partials(one_bin, [spec])
    assert partials.count() > 1
    merged = sketch_build.merge_sketch_rows(partials, [spec])
    n = spark.sparkContext.defaultParallelism
    rows_per_part = merged.rdd.glom().map(len).collect()
    assert sorted(rows_per_part) == [0] * (n - 1) + [1]
    [row] = merged.collect()
    [ref] = build_sketches(one_bin.coalesce(1), [spec]).collect()
    assert (row["bin_id"], row["name"], row["n_items"]) == (0, "one_cms", ref["n_items"])
    assert bytes(row["payload"]) == bytes(ref["payload"])
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "1")
    try:
        [row1] = merged.collect()
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    assert row1 == row
    assert sketch_build.merge_sketch_rows(partials.limit(0), [spec]).count() == 0


def _fold_rows(run):
    """A non-sketch fold: one (k, s, n, vals) row per run, vals in arrival order."""
    vals = run.column("v").to_pylist()
    return {"k": run.column("k")[0].as_py(), "s": run.column("s")[0].as_py(),
            "n": len(vals), "vals": vals}


@pytest.mark.parametrize("cuts", [
    [],                      # one batch, several runs
    [1, 2, 3, 4, 5, 6, 7],   # one-row batches: every run spans batches
    [2, 5],                  # runs cut mid-run and at run bounds
    [0, 0, 8, 8],            # empty batches around the rows
])
def test_fold_runs_batch_shapes(cuts):
    """runs._folder calls the fold once per run of equal keys whatever the
    batch cuts; null keys form one run, as in a SQL GROUP BY."""
    import pyarrow as pa

    from tetrex_spark.operators.runs import _folder

    t = pa.table({"k": pa.array([None, None, 1, 1, 1, 2, 2, 3], pa.int64()),
                  "s": ["a", "a", "a", "a", "b", "b", "b", "b"],
                  "v": list(range(8))})
    bounds = [0, *cuts, t.num_rows]
    batches = [t.slice(lo, hi - lo).to_batches(max_chunksize=8)[0] if hi > lo
               else pa.RecordBatch.from_pylist([], schema=t.schema)
               for lo, hi in zip(bounds[:-1], bounds[1:])]
    seen = []
    list(_folder(("k", "s"), lambda run: seen.append(_fold_rows(run)), None)(iter(batches)))
    assert seen == [
        {"k": None, "s": "a", "n": 2, "vals": [0, 1]},
        {"k": 1, "s": "a", "n": 2, "vals": [2, 3]},
        {"k": 1, "s": "b", "n": 1, "vals": [4]},
        {"k": 2, "s": "b", "n": 2, "vals": [5, 6]},
        {"k": 3, "s": "b", "n": 1, "vals": [7]},
    ]
    # an empty partition folds nothing; a partition that is one run folds once
    assert list(_folder(("k",), _fold_rows, None)(iter([]))) == []
    one = [b.slice(i, 1) for b in batches if b.num_rows for i in range(b.num_rows)]
    calls = []
    list(_folder(("s",), lambda run: calls.append(run.num_rows), None)(
        iter([b for b in one if b.column("s")[0].as_py() == "b"])))
    assert calls == [4]


def test_fold_runs_equals_group_by(spark):
    """fold_runs with a non-sketch fold on defaultParallelism partitions:
    one output row per group, equal to a JVM groupBy, with one-row Arrow
    batches (every group spans batches) and with partitions left empty
    (3 groups on at least 4 partitions); a fold returning several rows
    as a Table, or None, keeps its rows."""
    import pyarrow as pa
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from tetrex_spark.operators.runs import fold_runs

    df = spark.range(60).select(
        (F.col("id") % 3).alias("k"), F.lit("x").alias("s"), F.col("id").alias("v")
    )
    schema = T.StructType([
        T.StructField("k", T.LongType()), T.StructField("s", T.StringType()),
        T.StructField("n", T.LongType()), T.StructField("vals", T.ArrayType(T.LongType())),
    ])
    want = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    out = fold_runs(df, ("k",), lambda run: {
        "k": run.column("k")[0].as_py(), "s": run.column("s")[0].as_py(),
        "n": run.num_rows, "vals": run.column("v").to_pylist(),
    }, schema)
    for batch_rows in (None, "1"):
        if batch_rows:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch_rows)
        try:
            rows = out.collect()
            per_part = out.rdd.glom().map(len).collect()
        finally:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        assert {r["k"]: r["n"] for r in rows} == want
        assert all(sorted(r["vals"]) == list(range(r["k"], 60, 3)) for r in rows)
        assert len(per_part) == spark.sparkContext.defaultParallelism
        assert sum(per_part) == 3 and per_part.count(0) >= len(per_part) - 3

    def evens(run):
        kept = run.filter(pa.compute.equal(pa.compute.bit_wise_and(run.column("v"), 1), 0))
        return kept.select(["v"]) if kept.num_rows else None

    flat = fold_runs(df.filter("k = 0"), ("k",), evens,
                     T.StructType([T.StructField("v", T.LongType())]))
    assert sorted(r["v"] for r in flat.collect()) == list(range(0, 60, 6))


def test_n_items_matches_exact_shingle_count(built, corpus_pdf):
    rows = built.filter("name = 'tok_bloom'").collect()
    total = sum(r["n_items"] for r in rows)
    hashes, _ = token_shingle_hashes_series(corpus_pdf["norm"], 2)
    assert total == hashes.size


def test_max_bin_cardinality_is_safe_upper_bound(corpus, corpus_pdf):
    mx = max_bin_cardinality(corpus, "token_shingle", 2)
    hashes_per_bin = corpus_pdf.groupby("bin_id")["norm"].apply(
        lambda s: token_shingle_hashes_series(s, 2)[0].size
    )
    assert mx >= hashes_per_bin.max()


def test_payload_roundtrip_via_spark(built):
    row = built.filter("name = 'tok_hll'").limit(1).collect()[0]
    sk = from_bytes(bytes(row["payload"]))
    assert sk.KIND == "hll"


def test_salted_hot_hosts_build_merges_identical(spark):
    """with_bin_id(salt_hot_hosts=...): h0 (owns half of webtext_small)
    spreads over multiple bins; the global merge of all bins is
    byte-identical to the unsalted build, and the hot bin shrinks."""
    from tetrex_spark.sources.corpus import host_of_url, hot_hosts
    from pyspark.sql import functions as F

    base = webtext_small(spark)
    hot = hot_hosts(base, N_BINS, factor=4.0)
    assert hot == ["h0.example"]  # the planted skew

    plain = with_bin_id(base, N_BINS)
    salted = with_bin_id(base, N_BINS, salt_hot_hosts=hot, n_salt=4)
    # the hot host now occupies > 1 bin
    n_bins_hot = (
        salted.filter(host_of_url(F.col("url")) == "h0.example")
        .select("bin_id").distinct().count()
    )
    assert n_bins_hot > 1
    # and its largest bin load strictly drops
    def max_load(df):
        return (
            df.filter(host_of_url(F.col("url")) == "h0.example")
            .groupBy("bin_id").count().agg(F.max("count")).collect()[0][0]
        )
    assert max_load(salted) < max_load(plain)

    def global_merge(binned):
        sks = collect_sketches(build_sketches(binned, specs()))
        merged = {}
        for (_, name), sk in sks.items():
            merged[name] = sk if name not in merged else merged[name].merge(sk)
        return merged

    gs, gp = global_merge(salted), global_merge(plain)
    # lattice sketches (bloom/hll/cms): byte-identical regardless of how
    # keys were grouped into bins; kll/tdigest are estimate-stable only
    # (their payload depends on merge grouping — documented invariant)
    for name in ("tok_bloom", "tok_hll", "tok_cms"):
        assert gs[name].to_bytes() == gp[name].to_bytes(), name
    for name, sk in gs.items():
        if hasattr(sk, "quantile"):
            for q in (0.1, 0.5, 0.9):
                a, b = sk.quantile(q), gp[name].quantile(q)
                assert abs(a - b) <= 0.05 * max(abs(b), 1.0), (name, q)


def test_salted_index_query_hit_set_unchanged(spark, tmp_path):
    """Motif queries over a hot-host-salted index return the exact same
    hit set (salted shards are ordinary bins; no query-side changes)."""
    import re

    from tetrex_spark.plans.planner import MotifIndex
    from tetrex_spark.sources.corpus import hot_hosts

    base = webtext_small(spark)
    hot = hot_hosts(base, N_BINS, factor=4.0)
    salted = with_bin_id(base, N_BINS, salt_hot_hosts=hot, n_salt=4)
    idx = MotifIndex.build(salted, str(tmp_path / "idx_salt"), n_bins=N_BINS, k=3)
    pdf = base.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    for pattern in ["w.{2}ld", "zyzzyva", "approximate membership"]:
        rx = re.compile(pattern, re.IGNORECASE)
        truth = {
            (url, m.group(0), m.start(), m.end())
            for url, doc in zip(pdf["url"], pdf["norm"])
            for m in rx.finditer(doc)
        }
        got = {
            (r["url"], r["match"], r["start"], r["end"])
            for r in idx.query(salted, pattern).collect()
        }
        assert got == truth, pattern
