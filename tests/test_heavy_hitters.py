"""Exact heavy hitters from per-task frequent-token reports vs
`collections.Counter`: threshold edge cases and ties, independence from
partitioning, the exact recount of undecided tokens, and the bound on
what one task reports."""

import collections

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tetrex_spark.operators.heavy_hitters import (
    _SLACK,
    _report,
    heavy_hitters,
    heavy_hitters_topk,
)


@pytest.fixture(scope="module")
def skewed_docs(spark):
    """Zipf-ish corpus: a few hot tokens, a long tail of singletons; one
    token planted EXACTLY at the phi=1/50 threshold."""
    rows = []
    doc_id = 0

    def add(words):
        nonlocal doc_id
        rows.append((doc_id, " ".join(words)))
        doc_id += 1

    # 2000 total tokens: hot tokens hot1 x300, hot2 x200, hot3 x100,
    # edge x40 (exactly 2000/50), sub x39 (just below), tail fills the rest
    stream = (
        ["hot1"] * 300 + ["hot2"] * 200 + ["hot3"] * 100
        + ["edge"] * 40 + ["sub"] * 39
    )
    stream += [f"tail{i}" for i in range(2000 - len(stream))]
    for i in range(0, len(stream), 25):
        add(stream[i : i + 25])
    return spark.createDataFrame(rows, "doc_id long, text string")


def _exact_counts(texts):
    c = collections.Counter()
    for t in texts:
        c.update((t or "").lower().split())
    return c


def _ranked(counts, phi_num, phi_den):
    n = sum(counts.values())
    hh = [(t, k) for t, k in counts.items() if k * phi_den >= n * phi_num]
    return sorted(hh, key=lambda kv: (-kv[1], kv[0]))


def _rows(df):
    return [(r["token"], r["cnt"]) for r in df.collect()]


def test_heavy_hitters_equals_exact_threshold(spark, skewed_docs):
    c = _exact_counts(r["text"] for r in skewed_docs.collect())
    got = _rows(heavy_hitters(skewed_docs, 1, 50))
    assert got == _ranked(c, 1, 50)
    # the planted edge token (count*50 == N) is IN, the sub token is OUT
    assert "edge" in dict(got) and "sub" not in dict(got)


def test_heavy_hitters_prunes_tail(spark, skewed_docs):
    """The report pass keeps the singleton tail inside its task: a task
    sends at most _SLACK * phi_den / phi_num tokens plus its summary row,
    and no token seen once in the corpus is among them."""
    c = _exact_counts(r["text"] for r in skewed_docs.collect())
    rep = _report(skewed_docs.repartition(4), 1, 50, "text").withColumn(
        "part", F.spark_partition_id()
    ).collect()
    per_task = collections.Counter(r["part"] for r in rep)
    assert max(per_task.values()) <= _SLACK * 50 + 1
    summaries = [r for r in rep if r["token"] is None]
    assert len(summaries) == len(per_task)  # one summary row per task
    assert sum(r["cnt"] for r in summaries) == sum(c.values())
    reported = {r["token"] for r in rep if r["token"] is not None}
    assert all(c[t] > 1 for t in reported)
    assert len(rep) < len(c) / 10


def test_heavy_hitters_exact_recount(spark, hh_fallback_docs):
    """x is reported by one task only, and the other task's tau leaves it
    undecided: its count comes from the recount pass, exact."""
    rep = _report(hh_fallback_docs, 1, 50, "text").collect()
    assert [r["cnt"] for r in rep if r["token"] == "x"] == [90]
    assert _rows(heavy_hitters(hh_fallback_docs, 1, 50)) == [("x", 109)]


_VOCAB = ["a", "B", "cc", "d", "Ee", "f", "g"]
_doc = st.one_of(
    st.none(),
    st.lists(
        st.tuples(st.sampled_from(_VOCAB), st.sampled_from([" ", "  ", "\t", "\n "])),
        max_size=12,
    ).map(lambda ws: "".join(w + sep for w, sep in ws)),
)


@settings(max_examples=25, deadline=None)
@given(
    docs=st.lists(_doc, max_size=30),
    n_parts=st.sampled_from([1, 2, 3, 7]),
    order=st.randoms(use_true_random=False),
    pick=st.integers(0, 8),
)
def test_heavy_hitters_match_counter(spark, docs, n_parts, order, pick):
    """Any corpus, any partitioning, any row order: the exact answer.
    phi is often one token's share of N, so that token and its ties sit
    exactly on the threshold."""
    c = _exact_counts(docs)
    n = sum(c.values())
    ranked_counts = sorted(set(c.values()))
    if pick < len(ranked_counts):
        phi_num, phi_den = ranked_counts[pick], n
    else:
        phi_num, phi_den = 1, pick + 1
    rows = list(enumerate(docs))
    order.shuffle(rows)
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_parts), "doc_id long, text string"
    )
    want = _ranked(c, phi_num, phi_den)
    assert _rows(heavy_hitters(df, phi_num, phi_den)) == want
    top = heavy_hitters_topk(df, len(want), phi_num, phi_den).collect()
    assert [(r["token"], r["cnt"], r["rank"]) for r in top] == [
        (t, k, i + 1) for i, (t, k) in enumerate(want)
    ]
    with pytest.raises(ValueError, match="lower phi"):
        heavy_hitters_topk(df, len(want) + 1, phi_num, phi_den)


def test_heavy_hitters_topk_matches_exact(spark, skewed_docs):
    c = _exact_counts(r["text"] for r in skewed_docs.collect())
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    got = [
        (r["token"], r["cnt"])
        for r in heavy_hitters_topk(skewed_docs, k=3, phi_num=1, phi_den=50)
        .orderBy("rank")
        .collect()
    ]
    assert got == want


def test_heavy_hitters_topk_refuses_truncation(spark, skewed_docs):
    """Asking for more ranks than there are heavy hitters would silently
    return a wrong tail -> must raise."""
    with pytest.raises(ValueError, match="lower phi"):
        heavy_hitters_topk(skewed_docs, k=10, phi_num=1, phi_den=50)


def test_heavy_hitters_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id long, text string")
    assert heavy_hitters(df, 1, 50).count() == 0
