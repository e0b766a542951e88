"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (pure JVM expressions for
small query sets; Arrow-batched BLAS matmul for fleets of queries), and a
random-hyperplane LSH-bucketed variant as the 100 TB scale path — the
same filter-then-verify shape as the Bloom/motif pipeline: cheap
approximate blocking, exact scoring only on candidates.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .runs import fold_runs

_MAX_BROADCAST_ROWS = 2_000_000  # cosine_pairs_exact's driver-matrix ceiling


def _vectors(col: pa.Array | pa.ChunkedArray) -> np.ndarray:
    """(n, d) float64 matrix of an array<float> or array<double> Arrow
    column, read from the list's flat values buffer (no Python object
    per vector)."""
    flat = pc.list_flatten(col).to_numpy(zero_copy_only=False)
    n = len(col)
    return flat.astype(np.float64, copy=False).reshape(n, flat.size // max(n, 1))


def _unit_rows(M: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm; a zero row stays zero."""
    return M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)


_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType(), False),
        T.StructField("id_b", T.LongType(), False),
        T.StructField("cosine", T.DoubleType(), False),
    ]
)


def _pair_rows(id_a: np.ndarray, id_b: np.ndarray, cosine: np.ndarray) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {"id_a": id_a, "id_b": id_b, "cosine": cosine},
        schema=to_arrow_schema(_PAIR_SCHEMA),
    )


def _dot_expr(col, vec: list[float]):
    """JVM dot product of an array<float> column with a literal vector
    (zip_with + aggregate fold — sequential sum, bit-compatible with
    DuckDB's list_dot_product for oracle comparisons)."""
    lit = F.array(*[F.lit(float(v)) for v in vec])
    return F.aggregate(
        F.zip_with(col.cast("array<double>"), lit, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(col):
    return F.sqrt(
        F.aggregate(
            F.transform(col.cast("array<double>"), lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force cosine top-k for ONE query vector — entirely
    JVM-side; Catalyst turns the limit into TakeOrderedAndProject (a
    per-partition top-k + driver merge: no full sort, no shuffle of the
    corpus)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    out = df.select(
        F.col(id_col),
        (_dot_expr(F.col(vec_col), list(q)) / (norm_expr(F.col(vec_col)) * F.lit(qn)))
        .alias("cosine"),
    )
    return out.orderBy(F.desc("cosine"), F.col(id_col)).limit(k)


def _topk_idx(s: np.ndarray, ids: np.ndarray, top: int) -> np.ndarray:
    """Indices of the top-`top` rows under the (score desc, id asc) total
    order — O(n) argpartition to find the boundary score, then lexsort
    only the top slice PLUS every row tied at the boundary, so the
    deterministic tie-break picks the same ids a full sort would."""
    if s.size > top:
        thresh = s[np.argpartition(-s, top - 1)[top - 1]]
        cand = np.nonzero(s >= thresh)[0]
    else:
        cand = np.arange(s.size)
    return cand[np.lexsort((ids[cand], -s[cand]))][:top]


def _map_vectors(
    df: DataFrame, id_col: str, vec_col: str, kernel, schema: T.StructType
) -> DataFrame:
    """mapInArrow over df's (id, vector) rows: `kernel(ids, M)` once per
    non-empty Arrow batch, M the batch's (n, d) float64 vectors
    (_vectors); it returns the batch's output columns, a dict following
    `schema`, or None."""
    out = to_arrow_schema(schema)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows:
                cols = kernel(batch.column(id_col).to_numpy(), _vectors(batch.column(vec_col)))
                if cols is not None:
                    yield pa.RecordBatch.from_pydict(cols, schema=out)

    return df.select(id_col, vec_col).mapInArrow(fn, schema)


def _ranked_topk(df: DataFrame, id_col: str, vec_col: str, k: int, kernel) -> DataFrame:
    """(query_id, id, cosine, rank) for rank <= k: `kernel(ids, M)` gives
    each Arrow batch's partial top-k as [(query id, ids, cosines)], and
    one global window rank runs over those partials only. Each partial
    uses the window's total order (cosine desc, id asc) and _topk_idx
    keeps boundary ties, so the id the global tie-break picks survives."""
    from pyspark.sql.window import Window

    def cols(ids, M):
        picks = kernel(ids, M)
        if not picks:
            return None
        return {
            "query_id": np.repeat([q for q, _, _ in picks], [len(i) for _, i, _ in picks]),
            id_col: np.concatenate([i for _, i, _ in picks]),
            "cosine": np.concatenate([c for _, _, c in picks]),
        }

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField(id_col, T.LongType(), False),
            T.StructField("cosine", T.DoubleType(), False),
        ]
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col(id_col))
    return (
        _map_vectors(df, id_col, vec_col, cols, schema)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def cosine_topk_batch(
    df: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Top-k for a fleet of queries: broadcast the query matrix, numpy
    matmul per Arrow batch (partial top-k per partition), then a global
    window rank over Q x partitions x k rows only."""
    qids = sorted(queries)
    Qn = _unit_rows(np.asarray([queries[i] for i in qids], dtype=np.float64))

    def topk(ids, M):
        scores = Qn @ _unit_rows(M).T  # (Q, n)
        top = min(k, scores.shape[1])
        parts = [_topk_idx(scores[qi], ids, top) for qi in range(len(qids))]
        return [(qid, ids[p], scores[qi, p]) for qi, (qid, p) in enumerate(zip(qids, parts))]

    return _ranked_topk(df, id_col, vec_col, k, topk)


def cosine_pairs_exact(
    df: DataFrame,
    threshold: float,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold via broadcast matmul: the full
    (normalized) matrix is broadcast once, each Arrow batch multiplies
    against it with BLAS and emits only surviving (id_a < id_b) pairs.
    O(n^2) work but O(n·d) shuffle — right up to ~1e6 rows; beyond that
    use hyperplane_lsh_pairs (blocking) instead."""
    table = df.select(id_col, vec_col).toArrow()
    if table.num_rows > _MAX_BROADCAST_ROWS:
        raise ValueError("too many rows for exact all-pairs; use the LSH variant")
    ids = table.column(id_col).to_numpy().astype(np.int64)
    Mn = _unit_rows(_vectors(table.column(vec_col)))
    spark = df.sparkSession
    b_ids = spark.sparkContext.broadcast(ids)
    b_m = spark.sparkContext.broadcast(Mn)

    def pairs(xid, M):
        all_ids = b_ids.value
        S = _unit_rows(M) @ b_m.value.T  # (batch, n)
        bi, bj = np.nonzero((S >= threshold) & (xid[:, None] < all_ids[None, :]))
        return {"id_a": xid[bi], "id_b": all_ids[bj], "cosine": S[bi, bj]}

    return _map_vectors(df, id_col, vec_col, pairs, _PAIR_SCHEMA).select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def train_ivf_centroids(
    df: DataFrame,
    n_cells: int,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample: int = 8192,
    iters: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Spherical-k-means coarse quantizer for IVF: train on a seeded
    hash-sample of the corpus (classic offline/sampled training — the
    quantizer needs the distribution's shape, not every row), Lloyd
    iterations in numpy, centroids L2-normalized. Deterministic."""
    n = df.count()
    frac = max(1, n // sample)
    rows = (
        df.select(id_col, vec_col)
        .where(F.pmod(F.xxhash64(F.col(id_col) + seed), F.lit(frac)) == 0)
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    X = _unit_rows(np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64))
    rng = np.random.default_rng(seed)
    C = X[rng.permutation(len(X))[:n_cells]].copy()
    for _ in range(iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(n_cells):
            members = X[assign == c]
            if len(members):
                C[c] = members.sum(axis=0)
        C = _unit_rows(C)
    return C


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    with_vec: bool = False,
) -> DataFrame:
    """(id, cell): nearest-centroid cell per vector — broadcast centroid
    matrix, one matmul per Arrow batch. Only (id, cell) crosses back from
    the Python worker (16 B/row); the embedding column is never
    round-tripped through Arrow. with_vec=True joins the original vector
    column back JVM-side — use it to materialize a corpus
    partitioned-by-cell, which turns every probe into file-level
    pruning."""
    b_c = df.sparkSession.sparkContext.broadcast(centroids)
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), False),
            T.StructField("cell", T.IntegerType(), False),
        ]
    )

    def assign(ids, M):
        return {id_col: ids, "cell": np.argmax(_unit_rows(M) @ b_c.value.T, axis=1).astype(np.int32)}

    assigned = _map_vectors(df, id_col, vec_col, assign, schema)
    if with_vec:
        return df.select(id_col, vec_col).join(assigned, id_col)
    return assigned


def ivf_topk_batch(
    df: DataFrame,
    queries: dict[int, list[float]],
    k: int = 10,
    *,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: np.ndarray | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """IVF ANN top-k (the brief's 'IVF variant as the scale path'):
    each query scores only the vectors of its n_probe nearest quantizer
    cells — the scan shrinks by ~n_probe/n_cells, and a cell-partitioned
    corpus prunes files. n_probe = n_cells degrades to exact brute force
    (recall 1 — the oracle-checked configuration); smaller n_probe
    trades recall for a proportionally smaller scan (recall
    property-tested on planted clusters)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            df, n_cells, vec_col=vec_col, id_col=id_col, seed=seed
        )
    qids = sorted(queries)
    Qn = _unit_rows(np.asarray([queries[i] for i in qids], dtype=np.float64))
    # n_probe nearest cells per query (driver-side: Q x n_cells dots)
    probe = np.argsort(-(Qn @ centroids.T), axis=1)[:, :n_probe]
    probe_sets = {qid: set(map(int, probe[qi])) for qi, qid in enumerate(qids)}
    cells_needed = np.asarray(
        sorted(set().union(*probe_sets.values())), dtype=np.int64
    )
    spark = df.sparkSession
    # assignment + probe filter + scoring FUSED into ONE Arrow pass: the
    # embedding column crosses the Python boundary exactly once and
    # nothing but (query_id, id, cosine) partials crosses back (an earlier
    # revision round-tripped full vectors out of ivf_assign and back in
    # for scoring — 2x the necessary Arrow traffic on the corpus's widest
    # column). On a corpus materialized partitioned-by-cell (see
    # ivf_assign with_vec=True) filter on `cell` FIRST for file pruning,
    # then this pass rescopes to per-query probe cells for free.
    b_q = spark.sparkContext.broadcast((qids, Qn, probe_sets, centroids))

    def topk(ids, M):
        _qids, _Qn, _probe, _C = b_q.value
        Mn = _unit_rows(M)
        cells = np.argmax(Mn @ _C.T, axis=1)
        # drop rows in cells no query probes before any scoring
        needed = np.isin(cells, cells_needed)
        Mn, cells, ids = Mn[needed], cells[needed], ids[needed]
        scores = _Qn @ Mn.T  # (Q, n_kept)
        picks = []
        for qi, qid in enumerate(_qids):
            mask = np.isin(cells, list(_probe[qid]))
            if mask.any():
                s, mids = scores[qi][mask], ids[mask]
                part = _topk_idx(s, mids, min(k, s.size))
                picks.append((qid, mids[part], s[part]))
        return picks

    return _ranked_topk(df, id_col, vec_col, k, topk)


_PACKED_SCHEMA = T.StructType(
    [
        T.StructField("b", T.IntegerType(), False),
        T.StructField("ids", T.BinaryType(), False),
        T.StructField("mat", T.BinaryType(), False),
    ]
)


def _pack_blocks(
    df: DataFrame, nblocks: int, *, vec_col: str, id_col: str
) -> DataFrame:
    """(b, ids, mat): vectors hashed into `nblocks` blocks, each packed
    once into a row-normalized float64 matrix (ids sorted ascending, so
    probes can binary-search them). One block = one Arrow row of
    ~block*d*8 bytes — the unit every blocked cosine operator below
    shuffles and matmuls."""

    def pack(run: pa.Table) -> dict:
        ids = run.column(id_col).to_numpy().astype(np.int64)
        order = np.argsort(ids)
        return {
            "b": run.column("b")[0].as_py(),
            "ids": ids[order].tobytes(),
            "mat": _unit_rows(_vectors(run.column(vec_col)))[order].tobytes(),
        }

    blocked = df.select(id_col, vec_col).withColumn(
        "b", F.pmod(F.xxhash64(F.col(id_col)), F.lit(nblocks)).cast("int")
    )
    return fold_runs(blocked, ("b",), pack, _PACKED_SCHEMA)


def cosine_pairs_blocked(
    df: DataFrame,
    threshold: float,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block: int = 4096,
) -> DataFrame:
    """Exact all-pairs cosine >= threshold, FULLY distributed: vectors are
    hashed into ~`block`-row blocks, each block is packed once into a
    row-normalized float64 matrix, and every block pair (b1 <= b2) does
    ONE BLAS matmul and emits only surviving (id_a < id_b) pairs.

    This is the moderate-threshold scale path: below cosine ~0.85
    hyperplane blocking cannot be selective (p_plane ~0.63 at cos 0.4 —
    the bucket join degenerates to ~all pairs). Here the same O(n^2)
    verify work runs as dense matmul: no driver-side matrix (unlike
    cosine_pairs_exact), no per-pair expression evaluation. Keep
    hyperplane_lsh_pairs for the true near-dup regime (threshold >=
    ~0.9) where blocking prunes.

    Block pairing is a SHUFFLE join on explicit (b1, b2) keys — each side
    replicated ~nblocks/2 times, shuffle O(nblocks * n * d) — never a
    broadcast of the packed table: broadcasting it would ship the entire
    corpus matrix (n*d*8 bytes; ~600 GB at 1e8 docs x 768 dims) to every
    executor and OOM long before the O(n^2) compute binds. Each (b1, b2)
    key holds exactly one row per side, so the join has zero key skew and
    one matmul per task."""
    import math

    # NOT checkpointed here (unlike hyperplane_lsh_pairs, whose input is
    # consumed three times): the sizing count and the packing pass are
    # the only two consumers, and an A/B showed the materialization
    # costs more than the second scan it saves on this path
    n = df.count()
    nblocks = max(1, math.ceil(n / block))
    blocks = _pack_blocks(df, nblocks, vec_col=vec_col, id_col=id_col)
    if nblocks == 1:
        # single block: the only pair is the diagonal — no join at all
        pairs = blocks.select(
            "b", "ids", "mat", F.col("b").alias("b2"),
            F.col("ids").alias("ids2"), F.col("mat").alias("mat2"),
        )
    else:
        # left block b joins every partner b2 >= b; right block b2 joins
        # every b1 <= b2 — (b1, b2) pair keys are unique on both sides
        left = blocks.withColumn(
            "b2", F.explode(F.sequence(F.col("b"), F.lit(nblocks - 1)))
        )
        right = (
            blocks.select(
                F.col("b").alias("rb2"), F.col("ids").alias("ids2"),
                F.col("mat").alias("mat2"),
            )
            .withColumn("rb", F.explode(F.sequence(F.lit(0), F.col("rb2"))))
        )
        pairs = left.join(
            right.hint("shuffle_hash"),
            (F.col("b") == F.col("rb")) & (F.col("b2") == F.col("rb2")),
        )

    def emit(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for r in batch.to_pylist():  # a handful of block pairs per batch
                ids1 = np.frombuffer(r["ids"], np.int64)
                ids2 = np.frombuffer(r["ids2"], np.int64)
                A = np.frombuffer(r["mat"], np.float64).reshape(len(ids1), -1)
                B = np.frombuffer(r["mat2"], np.float64).reshape(len(ids2), -1)
                S = A @ B.T
                if r["b"] == r["b2"]:
                    ii, jj = np.triu_indices(len(ids1), k=1)
                    keep = S[ii, jj] >= threshold
                    ii, jj = ii[keep], jj[keep]
                else:
                    ii, jj = np.nonzero(S >= threshold)
                ia, ib = ids1[ii], ids2[jj]
                yield _pair_rows(np.minimum(ia, ib), np.maximum(ia, ib), S[ii, jj])

    return (
        pairs.mapInArrow(emit, _PAIR_SCHEMA)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def cosine_verify_pairs(
    df: DataFrame,
    cand: DataFrame,
    threshold: float,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block: int = 4096,
) -> DataFrame:
    """Exact cosine scoring of an explicit candidate-pair list via the
    packed-block machinery: candidates are grouped by their (block_a,
    block_b) key, each group joins its two packed blocks (shuffle join on
    the tiny block-id key), and one vectorized gather + row-wise dot
    scores the whole group — O(|cand| * d) flops in BLAS-shaped numpy,
    never a per-candidate interpreted expression (measured 37 s vs ~2 s
    on identical output for the zip_with formulation this replaces).

    `cand` needs columns (id_a, id_b); output keeps only pairs with
    cosine >= threshold."""
    import math

    n = df.count()
    nblocks = max(1, math.ceil(n / block))
    packed = _pack_blocks(df, nblocks, vec_col=vec_col, id_col=id_col)
    grouped = (
        cand.select("id_a", "id_b")
        .withColumn(
            "ba", F.pmod(F.xxhash64(F.col("id_a")), F.lit(nblocks)).cast("int")
        )
        .withColumn(
            "bb", F.pmod(F.xxhash64(F.col("id_b")), F.lit(nblocks)).cast("int")
        )
        .groupBy("ba", "bb")
        .agg(
            F.collect_list("id_a").alias("ias"),
            F.collect_list("id_b").alias("ibs"),
        )
    )
    side_a = packed.select(
        F.col("b").alias("ba"), F.col("ids").alias("ids_a"),
        F.col("mat").alias("mat_a"),
    )
    side_b = packed.select(
        F.col("b").alias("bb"), F.col("ids").alias("ids_b"),
        F.col("mat").alias("mat_b"),
    )
    j = grouped.join(side_a.hint("shuffle_hash"), "ba").join(
        side_b.hint("shuffle_hash"), "bb"
    )

    def score(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            for r in batch.to_pylist():
                ids_a = np.frombuffer(r["ids_a"], np.int64)
                ids_b = np.frombuffer(r["ids_b"], np.int64)
                A = np.frombuffer(r["mat_a"], np.float64).reshape(len(ids_a), -1)
                B = np.frombuffer(r["mat_b"], np.float64).reshape(len(ids_b), -1)
                ia = np.asarray(r["ias"], dtype=np.int64)
                ib = np.asarray(r["ibs"], dtype=np.int64)
                # packed ids are sorted; candidates whose id is absent
                # from df (stale pair list) are DROPPED, not scored
                # against a neighboring row
                ra = np.minimum(np.searchsorted(ids_a, ia), len(ids_a) - 1)
                rb = np.minimum(np.searchsorted(ids_b, ib), len(ids_b) - 1)
                present = (ids_a[ra] == ia) & (ids_b[rb] == ib)
                ia, ib, ra, rb = ia[present], ib[present], ra[present], rb[present]
                cos = np.einsum("ij,ij->i", A[ra], B[rb])
                keep = cos >= threshold
                yield _pair_rows(ia[keep], ib[keep], cos[keep])

    return (
        j.mapInArrow(score, _PAIR_SCHEMA)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
    )


def hyperplane_lsh_params(
    threshold: float,
    recall: float = 0.999,
    *,
    max_bands: int = 64,
    max_candidate_rate: float = 0.05,
) -> tuple[int, int]:
    """Closed-form (n_planes, n_bands) for hyperplane LSH: the most
    SELECTIVE plane count whose band budget still guarantees the target
    recall at the threshold, AND whose spurious-candidate rate (the
    probability an ORTHOGONAL pair shares some bucket, ~1-(1-0.5^P)^b)
    stays under max_candidate_rate — without the second bound the
    moderate-threshold regime 'succeeds' with a plan that makes nearly
    every pair a candidate.

    P(same bucket | cosine c) per band = (1 - arccos(c)/pi)^n_planes;
    recall over b bands = 1 - (1 - p)^b, worst case at c = threshold.
    More planes = exponentially fewer spurious candidates but more bands
    for the same recall — so walk n_planes downward until the required
    band count fits max_bands. Raises when no plane count satisfies both
    bounds (use cosine_pairs_blocked there; blocking cannot prune)."""
    import math

    if not (0.0 < threshold < 1.0 and 0.0 < recall < 1.0):
        raise ValueError("need 0 < threshold < 1 and 0 < recall < 1")
    p_plane = 1.0 - math.acos(threshold) / math.pi
    for n_planes in range(24, 0, -1):
        p = p_plane ** n_planes
        if p >= 1.0:  # degenerate (threshold ~ 1)
            return n_planes, 1
        b = math.ceil(math.log1p(-recall) / math.log1p(-p))
        fp = 1.0 - (1.0 - 0.5 ** n_planes) ** b
        if b <= max_bands and fp <= max_candidate_rate:
            return n_planes, b
    raise ValueError(
        f"no hyperplane blocking meets recall {recall} at threshold "
        f"{threshold} within {max_bands} bands and candidate rate "
        f"{max_candidate_rate} — blocking cannot prune in this regime; "
        "use cosine_pairs_blocked"
    )


def resolve_hyperplane_plan(
    threshold: float,
    recall: float,
    n_planes: int | None,
    n_bands: int | None,
) -> tuple[int, int]:
    """Resolve the blocking plan every hyperplane consumer uses: both
    knobs given -> use them verbatim (expert override); neither ->
    derive from (threshold, recall) via hyperplane_lsh_params and log
    the derived plan; exactly one given is refused — the pair is a JOINT
    solution of the recall equation, overriding half of it silently
    changes the other half's meaning."""
    import logging

    if (n_planes is None) != (n_bands is None):
        raise ValueError(
            "give BOTH n_planes and n_bands (expert override) or NEITHER "
            "(derived from threshold+recall) — one without the other has "
            "no defined recall"
        )
    if n_planes is None:
        n_planes, n_bands = hyperplane_lsh_params(threshold, recall)
        logging.getLogger(__name__).info(
            "hyperplane LSH plan for threshold=%.3f recall=%.4g: "
            "%d planes x %d bands", threshold, recall, n_planes, n_bands,
        )
    return n_planes, n_bands


def hyperplane_lsh_pairs(
    df: DataFrame,
    *,
    dim: int,
    n_planes: int | None = None,
    n_bands: int | None = None,
    threshold: float = 0.85,
    recall: float = 0.999,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_bucket: int | None = 4096,
) -> DataFrame:
    """Embedding near-duplicate pairs: random-hyperplane signature
    (vectorized matmul) -> bucket equi-join -> exact cosine verify.

    P(same bucket | angle θ) = (1 - θ/π)^n_planes per band; recall over
    b bands is 1-(1-p)^b — blocking is probabilistic (tunable), and the
    exact cosine verify keeps precision at 1. By DEFAULT (n_planes and
    n_bands both None) the plan comes from hyperplane_lsh_params in
    closed form: the user states WHAT they want — (threshold, recall) —
    and the planner picks the most selective (n_planes, n_bands) that
    guarantees it; pass both knobs explicitly to override. Parameter
    regimes:

      - high threshold (>= 0.9, the true near-dup regime): the planner
        derives e.g. 14 planes x 57 bands at (0.9, 0.999) — selective
        buckets (orthogonal-pair candidate rate < 0.05) with the recall
        guaranteed AT the threshold, not just for ~1.0-cosine twins.
      - moderate threshold (~0.4-0.6): blocking cannot be selective
        (p_plane ~ 0.63 at cos 0.4) — the planner raises and points at
        cosine_pairs_blocked, which streams the exact block-pair matmul
        instead.

    Buckets are size-capped like the MinHash path (whole-bucket drops,
    counted and logged by default — see dedup.capped_candidate_pairs).
    Candidate scoring runs through the packed-block BLAS machinery
    (cosine_verify_pairs), not per-candidate interpreted zip_with dots.
    Note: the candidate list is materialized (bounded by the bucket
    caps) before verification; in the moderate-threshold regime where
    blocking cannot prune, candidates approach all-pairs — use
    cosine_pairs_blocked there, which streams block pairs instead."""
    n_planes, n_bands = resolve_hyperplane_plan(
        threshold, recall, n_planes, n_bands
    )
    # materialize the (id, vec) projection ONCE: the signature pass, the
    # verify's row count and its block packing all consume it — without
    # the checkpoint each re-derived the input plan (three scans of the
    # corpus per call; linear, n*d*8 bytes, nothing like the pair list)
    df = df.select(id_col, vec_col).localCheckpoint(eager=True)
    buckets = lsh_buckets(
        df, dim=dim, n_planes=n_planes, n_bands=n_bands,
        vec_col=vec_col, id_col=id_col, seed=seed,
    )
    from .dedup import capped_candidate_pairs

    cand = capped_candidate_pairs(buckets, max_bucket)
    return cosine_verify_pairs(
        df, cand, threshold, vec_col=vec_col, id_col=id_col
    )


def lsh_buckets(
    df: DataFrame,
    *,
    dim: int,
    n_planes: int,
    n_bands: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
) -> DataFrame:
    """(id, band, bh) hyperplane-signature bucket table — the same shape
    operators.dedup.capped_candidate_pairs consumes."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bands, n_planes, dim))
    # all bands in ONE GEMM: (n, dim) @ (dim, n_bands*n_planes). Each
    # output element is an independent length-`dim` dot product, so the
    # per-band signatures are the same numbers the per-band matmul loop
    # produced (bucket tables bit-identical — regression-tested); the
    # loop additionally built its output via ~bands x n Python-list
    # appends per column, which dominated the pass wall time.
    planes_flat = planes.reshape(n_bands * n_planes, dim)
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("bhs", T.ArrayType(T.LongType(), False), False),
        ]
    )

    def signatures(ids, M):
        n = len(ids)
        bits = (M @ planes_flat.T) > 0  # (n, n_bands*n_planes)
        sig = bits.reshape(n, n_bands, n_planes) @ weights  # (n, bands)
        # one Arrow row per VECTOR (band index = array position):
        # the (id, band, bh) long form crossed the Python boundary
        # as n_bands x n rows; the JVM-side posexplode below emits
        # the identical bucket rows from n-row batches
        offsets = np.arange(0, n * n_bands + 1, n_bands, dtype=np.int32)
        return {"id": ids, "bhs": pa.ListArray.from_arrays(offsets, sig.ravel())}

    return (
        _map_vectors(df, id_col, vec_col, signatures, schema)
        .select("id", F.posexplode("bhs").alias("band", "bh"))
    )
