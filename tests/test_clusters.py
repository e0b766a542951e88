"""connected_components vs brute-force union-find on random graphs,
chains (multi-round convergence) and the dedup_keep_list join
semantics. Every Spark case runs on both paths — star rounds only, a
switch to the in-memory finish once a round reaches a spanning forest,
and in-memory from the start — which must agree; the numpy kernel is
checked against the union-find without Spark."""

import random

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from tetrex_spark.operators import clusters
from tetrex_spark.operators.clusters import (
    _min_label_components,
    connected_components,
    dedup_keep_list,
)


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min reachable id
    return {n: find(n) for n in nodes}


def _forest_size(comp):
    """Edges in a spanning forest of the graph: ids minus components."""
    return len(comp) - len(set(comp.values()))


def _on_each_path(run, forest=None):
    """run() with the in-memory bound at 0 (star rounds to the fixpoint),
    at `forest` (the rounds hand over once the edge count falls to a
    spanning forest's; by default the forest of the first run's
    components) and at its default (in memory from the start). All runs
    must agree; returns their common result."""

    def under(bound):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(clusters, "_LOCAL_MAX_EDGES", bound)
            return run()

    star = under(0)
    if forest is None:
        forest = _forest_size(star)
    for bound in (forest, clusters._LOCAL_MAX_EDGES):
        assert under(bound) == star, f"bound {bound} disagrees with the star rounds"
    return star


def _components(pairs):
    return {r.id: r.component for r in connected_components(pairs).collect()}


def _check(spark, edges, id_type="long"):
    nodes = sorted({x for e in edges for x in e})
    truth = _union_find(nodes, edges)
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], f"id_a {id_type}, id_b {id_type}"
    )
    assert _on_each_path(lambda: _components(pairs)) == truth


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graphs_match_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(40))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(35)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_long_chain_converges(spark):
    # a 120-node path: worst-case diameter, exercises the O(log n) rounds
    edges = [(i, i + 1) for i in range(120)]
    _check(spark, edges)


def test_two_components_and_duplicate_edges(spark):
    edges = [(5, 3), (3, 9), (9, 5), (20, 21), (21, 20), (20, 21)]
    _check(spark, edges)


def test_string_ids(spark):
    edges = [("doc-b", "doc-a"), ("doc-c", "doc-b"), ("zz", "z"),
             ("\u00e9t\u00e9", "doc-c"), ("z", "zz")]
    _check(spark, edges, id_type="string")


def test_empty_and_self_loop_only_input(spark):
    # self loops are dropped with the canonical edges: no ids, on both paths
    for rows in ([], [(4, 4), (7, 7)]):
        pairs = spark.createDataFrame(rows, "id_a long, id_b long")
        assert _on_each_path(lambda: _components(pairs)) == {}


def test_rounds_hand_over_to_the_in_memory_finish(spark, monkeypatch):
    """A 12-clique (66 edges) collapses to an 11-edge star in one round;
    with the bound between the two, exactly one star round runs before
    the in-memory finish."""
    rounds, finishes = [], []
    large_star, local = clusters._large_star, clusters._local_components
    monkeypatch.setattr(clusters, "_LOCAL_MAX_EDGES", 20)
    monkeypatch.setattr(
        clusters, "_large_star", lambda e: rounds.append(1) or large_star(e)
    )
    monkeypatch.setattr(
        clusters, "_local_components",
        lambda e: finishes.append(1) or local(e),
    )
    edges = [(a, b) for a in range(100, 112) for b in range(a + 1, 112)]
    edges += [(i, i + 1) for i in range(5)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = _components(pairs)
    assert (len(rounds), len(finishes)) == (1, 1)
    assert got == {**{i: 0 for i in range(6)}, **{i: 100 for i in range(100, 112)}}


_edge_lists = st.lists(
    st.tuples(st.integers(-50, 50), st.integers(-50, 50)), max_size=80
)


@settings(max_examples=200, deadline=None)
@given(_edge_lists, st.integers(0, 3))
def test_kernel_matches_union_find_on_random_graphs(edges, dup):
    # duplicate (and reversed) edges must not change the components
    edges = edges + [(b, a) for a, b in edges[: dup * 5]] + edges[:dup]
    _check_kernel(edges)


@settings(max_examples=100, deadline=None)
@given(st.permutations(list(range(60))), st.integers(1, 60))
def test_kernel_matches_union_find_on_permuted_chains(labels, n):
    # a path over permuted labels: the min label sits anywhere in it
    chain = labels[:n]
    _check_kernel(list(zip(chain, chain[1:])) or [(chain[0], chain[0])])


def _check_kernel(edges):
    src = np.array([a for a, _ in edges], dtype=np.int64)
    dst = np.array([b for _, b in edges], dtype=np.int64)
    nodes, comp = _min_label_components(src, dst)
    truth = _union_find(sorted({x for e in edges for x in e}), edges)
    assert dict(zip(nodes.tolist(), comp.tolist())) == truth


def test_keep_list_covers_unpaired_docs(spark):
    docs = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 4), (4, 6), (2, 7)], "id_a long, id_b long"
    )
    out = _on_each_path(lambda: {
        r.id: (r.component, r.keep)
        for r in dedup_keep_list(docs, pairs).collect()
    }, forest=3)
    assert out == {
        0: (0, 1), 1: (1, 1), 2: (2, 1), 3: (3, 1),
        4: (1, 0), 5: (5, 1), 6: (1, 0), 7: (2, 0),
    }
    # exactly one keeper per component
    keep = dedup_keep_list(docs, pairs)
    per = keep.groupBy("component").agg(F.sum("keep").alias("k")).collect()
    assert all(r.k == 1 for r in per)


def test_minhash_edges_components_equal_pair_components(spark):
    """minhash_lsh_edges (rep pairs + member->rep stars, LINEAR) must
    yield the same connected components as the full member-level pair
    list (quadratic in dup-cluster sizes) — including on the skewed
    boilerplate shape, and excluding shingle-ineligible groups."""
    from tetrex_spark.operators.dedup import minhash_lsh_edges, minhash_lsh_pairs

    boiler = ("this site uses cookies to improve your experience accept "
              "all cookies to continue reading the page")
    rows = [(i, boiler) for i in range(300)]
    near = boiler.split(); near[-1] = "content"
    rows.append((5000, " ".join(near)))
    for j in range(7):
        rows.append((6000 + j,
                     f"unrelated document {j} about columnar engines {j}"))
    # a shingle-INELIGIBLE exact-dup group (< 3 tokens): no pairs at all
    rows.append((7000, "too short"))
    rows.append((7001, "too short"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    edges = minhash_lsh_edges(df, k=3, threshold=0.7)
    pairs = minhash_lsh_pairs(df, k=3, threshold=0.7)
    got = _on_each_path(lambda: _components(edges))
    want = _on_each_path(lambda: _components(pairs))
    assert got == want
    # the boilerplate cluster + near-dup all collapse to component 0
    assert want and all(want[i] == 0 for i in list(range(300)) + [5000])
    assert 7000 not in want and 7001 not in want  # ineligible: no edges
    # and the edge list is linear, not quadratic: 300-copy cluster
    # contributes 299 star edges, not C(300,2) pairs
    n_edges = minhash_lsh_edges(df, k=3, threshold=0.7).count()
    assert n_edges <= 310


def test_simhash_edges_components_equal_pair_components(spark):
    """simhash_edges_from_fingerprints (rep pairs + stars) yields the
    same components as the member-level simhash pair list, with a linear
    edge count on a skewed identical-fingerprint cluster."""
    from tetrex_spark.operators.dedup import (
        simhash_edges_from_fingerprints,
        simhash_pairs_from_fingerprints,
    )

    base = 0x0123456789ABCDEF
    rows = [(i, base) for i in range(400)]          # 400-copy cluster
    rows.append((5000, base ^ 0b101))               # hamming-2 neighbor
    rows.append((6000, -1))                         # isolated
    rows.append((7000, 0x7EDCBA9876543210))
    rows.append((7001, 0x7EDCBA9876543210 ^ 0b1))   # small pair
    sh = spark.createDataFrame(rows, "id long, simhash long")

    edges = simhash_edges_from_fingerprints(sh, n_blocks=4)
    pairs = simhash_pairs_from_fingerprints(sh, n_blocks=4)
    got = _on_each_path(lambda: _components(edges))
    want = _on_each_path(lambda: _components(pairs))
    assert got == want
    assert all(want[i] == 0 for i in list(range(400)) + [5000])
    assert want[7001] == 7000 and 6000 not in want
    n_edges = simhash_edges_from_fingerprints(sh, n_blocks=4).count()
    assert n_edges <= 402  # 399 stars + cross pair + small pair


def test_cc_rewrap_fallback_on_poisoned_checkpoint_input(spark):
    """connected_components on a union whose attribute-defining branch
    is a checkpointed frame (the opposite branch order to
    minhash_lsh_edges). Spark 4.1's AQE can fail to re-plan
    localCheckpoints derived from such unions (NoSuchElementException:
    key not found <attr>), which the star rounds' re-wrap fallback
    covers; both paths must find the boilerplate cluster."""
    from tetrex_spark.operators.dedup import _minhash_rep_level

    boiler = ("this site uses cookies to improve your experience accept "
              "all cookies to continue reading the page")
    rows = [(i, boiler) for i in range(50)]
    rows += [(6000 + j, f"unrelated doc {j} about columnar engines {j}")
             for j in range(7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    run = _minhash_rep_level(df, 3, 128, 32, 0.7, "text", "doc_id", 512)
    members, rep_pairs = run.members, run.rep_pairs
    rg = members.groupBy("grp").agg(
        F.min("id").alias("rid"), F.count(F.lit(1)).alias("csize")
    )
    eg = rg.filter(F.col("csize") > 1).join(run.reps.select("rid"), "rid")
    star = (
        members.join(eg.select("grp", "rid"), "grp")
        .where(F.col("id") != F.col("rid"))
        .select(F.col("rid").alias("id_a"), F.col("id").alias("id_b"))
    )
    poisoned = rep_pairs.select("id_a", "id_b").unionByName(star)
    comp = _on_each_path(lambda: _components(poisoned))
    assert comp and all(comp[i] == 0 for i in range(50))


def _keep_rows(df):
    return sorted(tuple(r) for r in df.select("id", "component", "keep").collect())


@pytest.mark.parametrize("family", ["minhash", "simhash"])
def test_rep_keep_list_equals_pair_keep_list(spark, family):
    """The keep-list from a RepLevelRun's rep level equals the keep-list
    over its member-level pairs(), for both families. The fixture has a
    3-copy cluster, an eligible singleton near-dup of it whose id is
    larger than the cluster's rep (it is in no `reps` row, so only the
    coalesce(rid, id) lookup reaches its rep pairs), a duplicated doc
    with fewer than k tokens (MinHash: an ineligible group), and
    unrelated singletons."""
    from tetrex_spark.operators.clusters import rep_keep_list
    from tetrex_spark.operators.dedup import _minhash_rep_level, _simhash_rep_level

    if family == "minhash":
        base = ("the archive holds letters written by the harbour master "
                "about ships cargo storms and the long winter of that year")
        near = base.rsplit(" ", 1)[0] + " decade"
        rows = [(10, base), (11, base), (12, base), (20, near),
                (40, "tiny doc"), (41, "tiny doc")]
        rows += [(50 + j, f"unrelated note {j} on columnar storage engines {j * 7}")
                 for j in range(4)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        run = _minhash_rep_level(docs, 3, 128, 32, 0.8, "text", "doc_id", 512)
    else:
        fp = 0x0123456789ABCDEF
        rows = [(10, fp), (11, fp), (12, fp), (20, fp ^ 0b101),
                (40, 0x7EDCBA9876543210), (41, 0x7EDCBA9876543210)]
        rows += [(50 + j, (0x1111111111111111 * (j + 2)) & 0x7FFFFFFFFFFFFFFF)
                 for j in range(4)]
        sh = spark.createDataFrame(rows, "id long, simhash long")
        docs = sh.select(F.col("id").alias("doc_id"))
        run = _simhash_rep_level(sh, 3, 4, 512)
    got = _keep_rows(rep_keep_list(run.members, run.rep_pairs, run.reps))
    want = _keep_rows(dedup_keep_list(docs.select("doc_id"), run.pairs()))
    assert got == want
    comp = {i: c for i, c, _ in got}
    assert comp[10] == comp[11] == comp[12] == comp[20] == 10
    assert 20 not in {r["rid"] for r in run.reps.collect()}
    if family == "minhash":
        assert comp[40] == 40 and comp[41] == 41
    else:
        assert comp[40] == comp[41] == 40
