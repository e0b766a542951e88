"""Connected components over near-duplicate pair lists — the step that
turns pairwise dedup output into per-document cluster assignments (one
canonical "keep" representative per cluster).

Two paths, chosen by the size of the canonical edge set (src > dst, no
self loops, distinct):

- Above `_LOCAL_MAX_EDGES` edges: alternating large-star / small-star
  rounds (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii —
  "Connected Components in MapReduce and Beyond", SoCC 2014). They
  converge in O(log n) rounds to a star forest rooted at each
  component's minimum node id, using only groupBy(min) + self-join per
  round — no driver-side graph state, no collect. Each round is
  localCheckpoint-ed to truncate the iterative lineage.
- At or below it, on input or after any round: one task finishes with a
  numpy union-find (`_min_label_components`) over the already
  materialized edges, via `coalesce(1).mapInPandas` — no exchange.
  The bound (5M int64 pairs ≈ 80 MB, a few hundred MB of working arrays)
  keeps that task's memory modest on one executor.

The switch costs no Spark job: the first action on the edge checkpoint,
and on every round's checkpoint, is `_sig` (edge count + xor of edge
hashes). That action materializes the checkpoint, its count picks the
path, and the pair of signatures detects the star-round fixpoint. Both
paths return the same rows.

The reference has no clustering step (its outputs are per-query hit
lists); this is part of the training-pipeline extension (SURVEY §2.8):
exact / minhash / simhash dedup all emit pairs, and a pipeline needs
keep-lists.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Edge count at or below which one task finishes the components in memory.
_LOCAL_MAX_EDGES = 5_000_000


def _canon_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(src, dst) with src > dst, self-loops dropped, distinct."""
    return (
        pairs.select(
            F.greatest(F.col(a), F.col(b)).alias("src"),
            F.least(F.col(a), F.col(b)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(N(u) ∪ {u}). Preserves connectivity, strictly reduces large
    nodes' eccentricity. Output is canonical and distinct: for
    clique-shaped components the distinct collapses O(k^2) duplicate
    rows to O(k) before they reach small-star's shuffles."""
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    m = F.least(F.col("mn"), F.col("src"))
    return (
        sym.join(mins, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), m.alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(d: DataFrame) -> DataFrame:
    """For each node u of a canonical edge set (src > dst, no self
    loops — every _large_star output), hang u and all its smaller
    neighbors off min(N⁻(u) ∪ {u})."""
    mins = d.groupBy("src").agg(F.min("dst").alias("m"))
    moved = (
        d.join(mins, "src")
        .where(F.col("dst") != F.col("m"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    rehung = mins.select("src", F.col("m").alias("dst"))
    return (
        moved.union(rehung).where(F.col("src") != F.col("dst")).distinct()
    )


def _min_label_components(
    src: np.ndarray, dst: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, component): every node of the edge list src[i]–dst[i],
    sorted, and the minimum node of its connected component.

    Nodes are compacted to their rank in `np.unique`, so the minimum
    rank is the minimum node for any sortable id type. Each pass hooks
    the larger root of every edge whose endpoints have different roots
    onto the smallest such neighbouring root (`np.minimum.at`), then
    pointer-jumps to a fixpoint so every node points at its root. Roots
    only ever point at smaller ranks, so no cycle forms. A live root that
    neither hooks nor is hooked onto in one pass has only neighbours that
    hooked onto smaller roots, so it hooks in the next: the live roots at
    least halve every two passes."""
    nodes, codes = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = codes[: len(src)], codes[len(src):]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[a], parent[b]
        live = ra != rb
        if not live.any():
            break
        a, b, ra, rb = a[live], b[live], ra[live], rb[live]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return nodes, nodes[parent]


def _local_components(edges: DataFrame) -> DataFrame:
    """(id, component) of a materialized canonical edge frame, computed
    in one task. Lazily checkpointed so the caller's later actions read
    the stored rows instead of re-running the kernel."""
    id_type = edges.schema["src"].dataType
    schema = T.StructType([
        T.StructField("id", id_type),
        T.StructField("component", id_type),
    ])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        frames = list(batches)
        if not frames:
            return
        e = pd.concat(frames, ignore_index=True)
        nodes, comp = _min_label_components(
            e["src"].to_numpy(), e["dst"].to_numpy()
        )
        yield pd.DataFrame({"id": nodes, "component": comp})

    return (
        edges.coalesce(1).mapInPandas(fn, schema).localCheckpoint(eager=False)
    )


def _sig(e: DataFrame) -> tuple:
    """(count, xor-fold of edge hashes) of a distinct edge set in one
    aggregate. Two distinct sets with equal signatures are equal up to
    a ~2^-64 xor collision — and a false positive merely ends the star
    rounds one round early. (bit_xor, not sum: a sum of hashes overflows
    long under ANSI mode.)"""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
    ).collect()[0]
    return (row.n, row.h)


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(id, component) for every id of a non-self-loop pair in `pairs`,
    where `component` is the minimum id reachable through the pair
    graph — i.e. the cluster's canonical representative. Deterministic,
    and the same rows on either path (see the module docstring).

    The star rounds terminate when a round is a fixpoint (the edge set
    is a star forest rooted at component minima); the paper bounds
    rounds at O(log n). max_iter is a safety valve only."""
    # lazy localCheckpoint: each _sig is the materializing action, so a
    # checkpoint costs no job of its own while still truncating lineage
    edges = _canon_edges(pairs, id_a, id_b).localCheckpoint(eager=False)
    sig = _sig(edges)
    for _ in range(max_iter):
        if sig[0] <= _LOCAL_MAX_EDGES:
            return _local_components(edges)
        try:
            new = _small_star(_large_star(edges)).localCheckpoint(eager=False)
            new_sig = _sig(new)
        except Exception as ex:  # pragma: no cover - Spark-version quirk
            if "NoSuchElementException" not in str(ex):
                raise
            # Spark 4.1 AQE bug: when the checkpointed edge frame's
            # attributes descend from certain checkpointed-union inputs,
            # re-planning a derived localCheckpoint dies with
            # 'NoSuchElementException: key not found <attr>'. Re-wrap the
            # (already materialized) checkpoint through an RDD round-trip
            # to mint fresh attributes, then retry the round.
            edges = edges.sparkSession.createDataFrame(edges.rdd, edges.schema)
            new = _small_star(_large_star(edges)).localCheckpoint(eager=False)
            new_sig = _sig(new)
        edges = new
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    roots = edges.select(F.col("dst").alias("id")).distinct().select(
        "id", F.col("id").alias("component")
    )
    return edges.select(
        F.col("src").alias("id"), F.col("dst").alias("component")
    ).union(roots)


def dedup_keep_list(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id, component, keep): every document of `docs`, its near-dup
    cluster representative (itself when unpaired), and keep=1 iff it IS
    the representative — the materialized decision a training pipeline
    filters on."""
    comp = connected_components(pairs, id_a, id_b)
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce("component", F.col("id")).alias("component"),
        )
        .withColumn(
            "keep", (F.col("component") == F.col("id")).cast("int")
        )
    )


def rep_keep_list(
    members: DataFrame, rep_pairs: DataFrame, reps: DataFrame
) -> DataFrame:
    """(id, component, keep) for every document of `members`, equal to
    dedup_keep_list over the member-level pairs that an exact-dup
    expansion of `rep_pairs` would emit (operators.dedup.RepLevelRun's
    pairs()) — without that (quadratic) list.

    members:   (grp, id) — every document and its exact-dup group key;
    rep_pairs: verified representative pairs (id_a, id_b, ...), each id
               its group's minimum id;
    reps:      (grp, rid) — every eligible group (one whose members are
               all paired with each other) with more than one member,
               rid being its minimum id.

    Components run over the rep pairs only; each document then takes the
    component of coalesce(rid, id): its group's representative, or its
    own id when its group is not in `reps`. The rows match because a rep
    id is its group's minimum id (so the component minimum is the same)
    and an eligible group's members are all intra-paired. A document
    outside `reps` is either an eligible singleton — its own id is its
    group's rep id, so it looks up its rep pairs directly — or a member
    of an ineligible group, whose id no rep pair carries, so it is its
    own component."""
    comp = connected_components(rep_pairs, "id_a", "id_b").select(
        F.col("id").alias("key"), F.col("component").alias("rc")
    )
    return (
        members.select("grp", "id")
        .join(reps.select("grp", "rid"), "grp", "left")
        .withColumn("key", F.coalesce("rid", "id"))
        .join(comp, "key", "left")
        .select("id", F.coalesce("rc", "key").alias("component"))
        .withColumn(
            "keep", (F.col("component") == F.col("id")).cast("int")
        )
    )
