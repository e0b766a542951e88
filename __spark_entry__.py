"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship motif query (build char-gram Bloom index
over the sf0.001 documents corpus, regex -> NFA -> candidate bins ->
pruned verify). `queries()` exposes one entry per implemented operator
family from SURVEY.md §2 + the training-pipeline additions; `oracle_sql()`
carries the DuckDB-equivalent SQL for everything ANSI-expressible (sketch
*estimates* and LSH internals are rows-only by design — the estimates are
checked against exact answers within published bounds in tests/).
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared helpers

MOTIF_PATTERN = "spark jo.n"
MOTIF_PATTERNS_CONJ = ["window", "merge sort"]
JACCARD_K = 3
JACCARD_T = 0.8
ANN_QUERY_IDS = [0, 1, 2, 3, 4]
ANN_K = 10
COS_T = 0.4
# planted near-dup twins for the HIGH-threshold (hyperplane-LSH) path: the
# raw fixture has no pairs above cosine ~0.6, so every HP_TWIN_MOD-th vector
# is re-emitted as (vec_id + HP_TWIN_OFFSET, embedding + eps*ones) — a
# deterministic augmentation DuckDB re-derives exactly (list_transform);
# cos(v, v + eps*1) >= 0.9967 on this corpus vs a 0.60 background ceiling,
# so the >= 0.9 decision has a ~0.4 margin on both engines
HP_T = 0.9
HP_TWIN_MOD = 16
HP_TWIN_OFFSET = 100_000_000
HP_TWIN_EPS = 0.01

_NORM_SQL_DUCK = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"

from tetrex_spark.functions.analysis import BPE_PRETOKEN_RE as _BPE_RE  # noqa: E402
from tetrex_spark.functions.sampling import hex_threshold as _hex_threshold  # noqa: E402

_BPE_SQL = _BPE_RE.replace("'", "''")

# Shared islands derivation for the substring-dedup oracles: all maximal
# cross-doc shared spans >= 40 normalized chars, as >= 1-long runs of
# matching 40-grams on one diagonal (ia - ib) of the match matrix.
_SPAN_CTE_SQL = f"""
            with docs as (select doc_id, {_NORM_SQL_DUCK} as t from documents),
            grams as (
              select doc_id, i, substr(t, i, 40) as g
              from docs join generate_series(1, 100000) s(i)
                on i <= length(t) - 39
            ),
            m as (
              select a.doc_id as id_a, b.doc_id as id_b, a.i as ia, b.i as ib
              from grams a join grams b
                on a.g = b.g and a.doc_id < b.doc_id
            ),
            runs as (
              select id_a, id_b, ia, ib, ia - ib as diag,
                     ia - row_number() over (
                       partition by id_a, id_b, ia - ib order by ia) as isl
              from m
            ),
            spans as (
              select id_a, id_b,
                     (count(*) + 39)::bigint as match_len,
                     min(ia)::bigint as pos_a, min(ib)::bigint as pos_b
              from runs group by id_a, id_b, diag, isl
            )"""

_index_cache: dict[str, object] = {}


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tetrex_spark.sources.corpus import documents_as_corpus

    return documents_as_corpus(spark, sf_dir)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tetrex_spark.sources.corpus import read_documents

    return read_documents(spark, sf_dir)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _emb_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings ∪ planted near-dup twins (see HP_* constants): the
    deterministic high-cosine fixture for the hyperplane-LSH path, derived
    identically by the DuckDB oracle via list_transform."""
    emb = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = emb.filter(F.col("vec_id") % HP_TWIN_MOD == 0).select(
        (F.col("vec_id") + F.lit(HP_TWIN_OFFSET)).alias("vec_id"),
        F.transform("embedding", lambda x: x + F.lit(HP_TWIN_EPS)).alias(
            "embedding"
        ),
    )
    return emb.unionByName(twins)


def _motif_index(spark: SparkSession, sf_dir: str):
    """Build (once per sf_dir) the char-gram Bloom index for the motif
    queries — S1/S4 + A1-A3 of SURVEY.md §2."""
    from tetrex_spark.plans.planner import MotifIndex

    key = sf_dir
    if key not in _index_cache:
        path = os.path.join(
            tempfile.gettempdir(), f"tetrex_motif_idx_{abs(hash(sf_dir))}"
        )
        _index_cache[key] = MotifIndex.build(
            _corpus(spark, sf_dir), path, n_bins=32, k=3
        )
    return _index_cache[key]


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: end-to-end motif query on sf0.001 (index-accelerated
    regex search, the reference's `tetrex query` — src/query.cpp:375-498)."""
    sf_dir = "/root/testdata/sf0.001"
    idx = _motif_index(spark, sf_dir)
    return idx.query(_corpus(spark, sf_dir), MOTIF_PATTERN)


# ---------------------------------------------------------------------------
# queries


def q_motif_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 verification scan + J1/J2 pruning (url, match)."""
    idx = _motif_index(spark, sf_dir)
    return idx.query(_corpus(spark, sf_dir), MOTIF_PATTERN).select("url", "match")


def q_motif_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 conjunctive multi-motif (A5 hit-vector AND)."""
    idx = _motif_index(spark, sf_dir)
    return idx.query_all(_corpus(spark, sf_dir), MOTIF_PATTERNS_CONJ)


def _motif_gap_index(spark: SparkSession, sf_dir: str):
    """_motif_index + the d-gram (gapped-gram) sketch family — the
    `tetrex track` analog (SURVEY.md §3.3), cached per sf_dir."""
    key = ("gap", sf_dir)
    if key not in _index_cache:
        idx = _motif_index(spark, sf_dir)
        path = os.path.join(
            tempfile.gettempdir(), f"tetrex_motif_idx_{abs(hash(sf_dir))}"
        )
        if idx.dgram is None:
            # min_gap=0: the flagship pattern 'data .{0,8}stream' yields gap
            # set {0..8}; a gap below min_gap makes probe_gap unconstrained
            # (all-ones), so gap-0 must be tracked for the probe to prune
            idx = idx.track(_corpus(spark, sf_dir), path, min_gap=0, max_gap=9)
        _index_cache[key] = idx
    return _index_cache[key]


def q_motif_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7 end-to-end: '.{0,8}' forces a complexity site -> GAP node ->
    d-gram Bloom probes (update_gapped analog); output must equal the
    full-scan oracle (candidate superset + exact verify)."""
    idx = _motif_gap_index(spark, sf_dir)
    return idx.query(_corpus(spark, sf_dir), "data .{0,8}stream").select(
        "url", "match"
    )


def q_motif_full_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3-style unindexed scan (bin_count==1 fallback, query.h:265-272):
    verify a pattern over the whole corpus without pruning."""
    from tetrex_spark.operators.verify import verify_regex

    # url+match only: DuckDB's regexp_extract_all has no offsets, and both
    # engines share leftmost/non-overlapping/greedy semantics, so this is
    # fully oracle-checkable (offsets are exercised by entry() and tests)
    return verify_regex(_corpus(spark, sf_dir), "data .{0,8}stream").select(
        "url", "match"
    )


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tetrex_spark.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_jaccard_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH + exact verify == exact all-pairs jaccard >= t."""
    from tetrex_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), k=JACCARD_K, threshold=JACCARD_T)


def q_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl collapse (url, warc_ts) -> one newest version per url: the
    snapshot dedup a Common-Crawl-style pipeline runs before text-level
    dedup. Every 5th document is re-emitted as a one-day-later recrawl
    with amended text; the operator (ONE max_by aggregate, map-side
    partial combining — not a window sort) must keep exactly the recrawl
    for those urls and the single original elsewhere. The oracle derives
    the same augmentation and picks per-url winners with a window."""
    from tetrex_spark.operators.dedup import latest_snapshot

    # the canonical corpus shape supplies url + warc_ts (one source of
    # truth for the url/timestamp scheme — sources.corpus adapter); the
    # recrawl branch filters it directly, no key-list self-join
    base = _corpus(spark, sf_dir).select("url", "warc_ts", "text")
    recrawl = base.filter(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long") % 5 == 0
    ).select(
        "url",
        (F.col("warc_ts") + F.expr("interval 1 day")).alias("warc_ts"),
        F.concat(F.col("text"), F.lit(" (recrawl)")).alias("text"),
    )
    out = latest_snapshot(base.unionByName(recrawl))
    return out.select("url", "text", "n_versions")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> per-doc cluster assignment + keep flag:
    large-star/small-star connected components (operators/clusters.py)
    over the MinHash-LSH graph; oracle = recursive-CTE transitive
    closure of the exact-Jaccard pair graph. CC consumes
    minhash_lsh_edges (rep-level pairs + member->rep star edges — same
    components, LINEAR edge count) rather than the member-level pair
    list, which is quadratic in exact-dup cluster sizes."""
    from tetrex_spark.operators.clusters import dedup_keep_list
    from tetrex_spark.operators.dedup import minhash_lsh_edges

    docs = _docs(spark, sf_dir)
    edges = minhash_lsh_edges(docs, k=JACCARD_K, threshold=JACCARD_T)
    return dedup_keep_list(docs, edges)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tetrex_spark.functions.analysis import (
        bpe_token_count_col,
        char_count_col,
        quality_score_col,
        stopword_ratio_col,
        token_count_col,
    )

    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count_col("text").alias("n_tokens"),
        bpe_token_count_col("text").alias("n_bpe_tokens"),
        char_count_col("text").alias("n_chars_norm"),
        F.round(stopword_ratio_col("text"), 6).alias("stopword_ratio"),
        quality_score_col("text").alias("quality"),
    )


def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tetrex_spark.functions.analysis import langid_col

    return _docs(spark, sf_dir).select(
        "doc_id", langid_col("text").alias("lang_pred")
    )


def q_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 tokens (deterministic tie-break) — the ground truth
    the CMS sketch (rows-only below) approximates."""
    from tetrex_spark.operators.dedup import tokens_col
    from pyspark.sql.window import Window

    tok = (
        _docs(spark, sf_dir)
        .select(F.explode(tokens_col("text")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.col("token"))
    return (
        tok.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("token", "cnt", "rank")
    )


def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for heavy_hitters_exact's answer: one corpus pass in
    which each task reports only its frequent tokens with exact counts,
    collected without a shuffle, instead of shuffling the whole
    distinct-token tail. The entry keeps its historical name (it once
    ran a Count-Min candidate pass) because the benchmark keys on it."""
    from tetrex_spark.operators.heavy_hitters import heavy_hitters_topk

    return heavy_hitters_topk(_docs(spark, sf_dir), k=20, phi_num=1, phi_den=50)


def q_distinct_shingles_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct 3-shingle count per lang — the ground truth HLL
    approximates; exercises the shingle pipeline end-to-end."""
    from tetrex_spark.operators.dedup import shingles_col

    return (
        _docs(spark, sf_dir)
        .select("lang", F.explode(shingles_col("text", 3)).alias("g"))
        .groupBy("lang")
        .agg(F.countDistinct("g").alias("n_distinct_shingles"))
    )


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-lang quantiles of n_chars — ground truth for KLL/t-digest."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.expr("percentile(n_chars, 0.1)").alias("q10"),
            F.expr("percentile(n_chars, 0.5)").alias("q50"),
            F.expr("percentile(n_chars, 0.9)").alias("q90"),
        )
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for a query fleet (partial top-k per
    partition + global rank merge)."""
    from tetrex_spark.operators.similarity import cosine_topk_batch

    emb = _emb(spark, sf_dir)
    qrows = emb.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).collect()
    queries = {int(r["vec_id"]): list(r["embedding"]) for r in qrows}
    return cosine_topk_batch(emb, queries, k=ANN_K).select(
        "query_id", "vec_id", "rank"
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: spherical-k-means cells + n_probe cell pruning.
    Run here with n_probe = n_cells (exhaustive probing) so the output
    is exactly the brute-force oracle — machinery value-checked; the
    pruned-recall regime (n_probe < n_cells) is property-tested."""
    from tetrex_spark.operators.similarity import ivf_topk_batch

    emb = _emb(spark, sf_dir)
    qrows = emb.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).collect()
    queries = {int(r["vec_id"]): list(r["embedding"]) for r in qrows}
    return ivf_topk_batch(
        emb, queries, k=ANN_K, n_cells=16, n_probe=16
    ).select("query_id", "vec_id", "rank")


ANN_IVF_PROBE = 4
ANN_IVF_CELLS = 16
ANN_IVF_RECALL_FLOOR = 0.2


def q_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF in the PRUNED regime (n_probe=4 of 16 cells) — the
    configuration users actually run, value-checked per query (round-4
    'What's missing #3'). Emits (query_id, top1_id, ok):

      top1_id — the brute-force top-1 (cosine desc, id asc), derivable
        in DuckDB, so the exact scorer is hash-checked alongside;
      ok — the pruning invariant: IVF scores probed cells EXACTLY, so
        its top-k must contain every true-top-k vector whose cell is
        probed, and measured recall@k must EQUAL that probe coverage —
        any deviation is a machinery bug, not an approximation; plus
        the documented empirical floor recall >= 0.2 for this seeded
        quantizer on the fixture.

    The oracle asserts ok=true for every query; recall itself is a
    k-means artifact DuckDB cannot re-derive, which is exactly why the
    entry emits the invariant verdict (the sketch_estimates pattern)."""
    from tetrex_spark.operators.similarity import (
        cosine_topk_batch,
        ivf_assign,
        ivf_topk_batch,
        train_ivf_centroids,
    )

    import numpy as np

    emb = _emb(spark, sf_dir)
    qrows = emb.filter(F.col("vec_id").isin(ANN_QUERY_IDS)).collect()
    queries = {int(r["vec_id"]): list(r["embedding"]) for r in qrows}
    C = train_ivf_centroids(emb, ANN_IVF_CELLS, seed=42)
    brute = cosine_topk_batch(emb, queries, k=ANN_K).collect()
    ivf = ivf_topk_batch(
        emb, queries, k=ANN_K, n_cells=ANN_IVF_CELLS,
        n_probe=ANN_IVF_PROBE, centroids=C,
    ).collect()
    cell_of = {
        int(r["vec_id"]): int(r["cell"]) for r in ivf_assign(emb, C).collect()
    }
    qids = sorted(queries)
    Q = np.asarray([queries[i] for i in qids], dtype=np.float64)
    Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    probe = np.argsort(-(Qn @ C.T), axis=1)[:, :ANN_IVF_PROBE]
    probe_sets = {qid: set(map(int, probe[qi])) for qi, qid in enumerate(qids)}
    b_of: dict[int, list[int]] = {q: [] for q in qids}
    for r in brute:
        b_of[int(r["query_id"])].append(int(r["vec_id"]))
    i_of: dict[int, set[int]] = {q: set() for q in qids}
    for r in ivf:
        i_of[int(r["query_id"])].add(int(r["vec_id"]))
    out = []
    for q in qids:
        true_k = b_of[q]
        covered = {v for v in true_k if cell_of[v] in probe_sets[q]}
        recall = len(i_of[q] & set(true_k)) / float(ANN_K)
        ok = (
            covered <= i_of[q]
            and recall == len(covered) / float(ANN_K)
            and recall >= ANN_IVF_RECALL_FLOOR
        )
        out.append((q, true_k[0], bool(ok)))
    return spark.createDataFrame(
        out, "query_id long, top1_id long, ok boolean"
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed block-exact all-pairs cosine — the scale path for this
    corpus's MODERATE threshold (0.4): below cos ~0.85 hyperplane blocking
    cannot prune (it degenerates to all pairs paid as millions of
    interpreted per-candidate dots — measured 37 s vs ~2 s at sf0.1), so
    the same O(n^2) work runs as one BLAS matmul per block pair, fully
    distributed with no driver-side matrix. hyperplane_lsh_pairs remains
    the high-threshold (>= ~0.9) path, recall-property-tested in pytest."""
    from tetrex_spark.operators.similarity import cosine_pairs_blocked

    # default block=4096: at this corpus size the packer yields ONE block
    # and the operator takes its no-join diagonal fast path (a single
    # matmul task — the plan you'd want here); larger corpora spill into
    # the shuffled (b1, b2) block-pair join, which is plan- and
    # value-tested in pytest (never a broadcast of the packed matrix)
    return cosine_pairs_blocked(_emb(spark, sf_dir), COS_T).select(
        "id_a", "id_b"
    )


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs -> per-vector cluster assignment + keep
    flag: the same large-star/small-star CC machinery as dedup_clusters,
    composed over cosine_pairs_blocked — the full embedding-dedup
    pipeline (pairs -> components -> keep list) a curation job runs.
    Oracle: recursive-CTE closure of the exact cosine pair graph."""
    from tetrex_spark.operators.clusters import dedup_keep_list
    from tetrex_spark.operators.similarity import cosine_pairs_blocked

    emb = _emb(spark, sf_dir)
    pairs = cosine_pairs_blocked(emb, COS_T).select("id_a", "id_b")
    return dedup_keep_list(emb.select("vec_id"), pairs, id_col="vec_id")


def q_hyperplane_pairs_t90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-threshold (0.9) embedding near-dup via random-hyperplane LSH
    blocking + packed-BLAS exact verify — the true near-dup regime where
    blocking prunes (the flagship embedding_near_dup entry covers the
    moderate-threshold block-exact regime). Runs over the twin-augmented
    corpus (_emb_augmented) because the raw fixture has no pairs above
    cosine ~0.6; the oracle re-derives the same augmentation and scores
    all pairs exactly with list_cosine_similarity."""
    from tetrex_spark.operators.similarity import hyperplane_lsh_pairs

    aug = _emb_augmented(spark, sf_dir)
    return hyperplane_lsh_pairs(aug, dim=64, threshold=HP_T).select(
        "id_a", "id_b"
    )


def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs cosine >= t via broadcast matmul — the oracle twin
    of the LSH entry above (O(n^2) compute but O(n*d) shuffle; capped at
    ~1e6 rows, use the LSH path beyond)."""
    from tetrex_spark.operators.similarity import cosine_pairs_exact

    return cosine_pairs_exact(_emb(spark, sf_dir), COS_T).select("id_a", "id_b")


# -- rows-only (non-SQL-expressible: sketch estimates & LSH internals) ------


def q_sketch_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The five mergeable sketch UDAFs end-to-end (A1-A3 + north-rule
    additions): global estimates from per-bin merged sketches, emitted as
    (name, exact, ok) so the DuckDB oracle hash-checks BOTH the exact
    ground truth and the published-bound verdicts (the estimates
    themselves are not ANSI-SQL-expressible; the bound checks are the
    contract). Bounds mirror tests/test_kernel_sketches.py:
    HLL 3*1.04/sqrt(2^p); CMS exact <= est <= exact + eps*N;
    KLL rank error 3/k; t-digest rank error max(0.01, 4q(1-q)/delta);
    Bloom |fill - (1-(1-1/m)^(h*D))| <= 0.01."""
    import math

    import numpy as np

    from tetrex_spark.functions.text import hash_token_shingle
    from tetrex_spark.operators.dedup import norm_col, shingles_col, tokens_col
    from tetrex_spark.operators.sketch_build import SketchSpec, build_sketches, collect_sketches
    from tetrex_spark.sources.corpus import with_bin_id

    corpus = with_bin_id(_corpus(spark, sf_dir), 32)
    specs = [
        SketchSpec("hll", "hll", "token_shingle", k=3, params={"p": 12}),
        SketchSpec("cms", "cms", "token", k=1, params={"width": 2048, "depth": 5}),
        SketchSpec("kll", "kll", "doc_length_tokens", params={"k": 200}),
        SketchSpec("td", "tdigest", "doc_length_chars", params={"delta": 100.0}),
        SketchSpec("bloom", "bloom", "token_shingle", k=3,
                   params={"m_bits": 1 << 18, "n_hashes": 3}),
    ]
    sks = collect_sketches(build_sketches(corpus, specs))
    merged: dict[str, object] = {}
    for (_, name), sk in sks.items():
        merged[name] = sk if name not in merged else merged[name].merge(sk)

    # exact ground truths (JVM-only aggregates, same derivations as the
    # DuckDB oracle)
    toks = corpus.select(F.explode(tokens_col("text")).alias("t")).filter(
        F.col("t") != ""
    )
    n_tokens_stream = toks.count()
    exact = {
        "hll_distinct_3shingles": float(
            corpus.select(F.explode(shingles_col("text", 3)).alias("g"))
            .select(F.countDistinct("g")).collect()[0][0]
        ),
        "cms_count_the": float(toks.filter(F.col("t") == "the").count()),
        "kll_median_tokens": float(
            corpus.select(norm_col("text").alias("norm"))
            .select(
                F.when(F.length("norm") == 0, F.lit(0))
                .otherwise(F.size(F.split(F.col("norm"), " "))).alias("nt")
            )
            .agg(F.expr("percentile(nt, 0.5)")).collect()[0][0]
        ),
        "tdigest_p90_chars": float(
            corpus.select(F.length(norm_col("text")).alias("nc"))
            .agg(F.expr("percentile(nc, 0.9)")).collect()[0][0]
        ),
    }
    est = {
        "hll_distinct_3shingles": float(merged["hll"].estimate()),
        "cms_count_the": float(merged["cms"].estimate(
            np.array([hash_token_shingle(["the"])], dtype=np.uint64))[0]),
        "kll_median_tokens": float(merged["kll"].quantile(0.5)),
        "tdigest_p90_chars": float(merged["td"].quantile(0.9)),
    }
    # bound verdicts
    ok = {}
    ok["hll_distinct_3shingles"] = (
        abs(est["hll_distinct_3shingles"] - exact["hll_distinct_3shingles"])
        <= 3 * 1.04 / math.sqrt(1 << 12) * exact["hll_distinct_3shingles"]
    )
    eps_n = merged["cms"].eps * n_tokens_stream
    ok["cms_count_the"] = (
        exact["cms_count_the"] <= est["cms_count_the"] <= exact["cms_count_the"] + eps_n
    )
    # quantile sketches: rank-error bounds against the sorted exact values
    nt_vals = np.sort(np.array(
        corpus.select(norm_col("text").alias("norm"))
        .select(
            F.when(F.length("norm") == 0, F.lit(0))
            .otherwise(F.size(F.split(F.col("norm"), " "))).alias("v")
        ).toPandas()["v"], dtype=np.float64
    ))
    nc_vals = np.sort(np.array(
        corpus.select(F.length(norm_col("text")).alias("v")).toPandas()["v"],
        dtype=np.float64,
    ))
    r_kll = np.searchsorted(nt_vals, est["kll_median_tokens"], side="right") / len(nt_vals)
    ok["kll_median_tokens"] = abs(r_kll - 0.5) <= 3.0 / 200
    r_td = np.searchsorted(nc_vals, est["tdigest_p90_chars"], side="right") / len(nc_vals)
    ok["tdigest_p90_chars"] = abs(r_td - 0.9) <= max(0.01, 4 * 0.9 * 0.1 / 100.0)
    # bloom: observed fill vs expected fill from the exact distinct count
    d = exact["hll_distinct_3shingles"]
    expected_fill = 1.0 - (1.0 - 1.0 / (1 << 18)) ** (3 * d)
    exact["bloom_fill_ratio"] = round(expected_fill, 6)
    ok["bloom_fill_ratio"] = abs(merged["bloom"].fill_ratio() - expected_fill) <= 0.01

    out = [
        (name, round(float(exact[name]), 6), bool(ok[name]))
        for name in sorted(exact)
    ]
    return spark.createDataFrame(out, "name string, exact double, ok boolean")


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tetrex_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir), max_hamming=3)


def q_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup graph -> per-doc cluster assignment + keep flag:
    the SimHash counterpart of dedup_clusters. CC consumes the LINEAR
    edge list (rep-level pairs + member->rep stars,
    simhash_edges_from_fingerprints); oracle = recursive-CTE transitive
    closure of the member-level simhash pair graph, with fingerprints
    re-derived in pure SQL."""
    from tetrex_spark.operators.clusters import dedup_keep_list
    from tetrex_spark.operators.dedup import (
        simhash,
        simhash_edges_from_fingerprints,
    )

    docs = _docs(spark, sf_dir)
    edges = simhash_edges_from_fingerprints(
        simhash(docs, "text", "doc_id"), max_hamming=3, n_blocks=None
    )
    return dedup_keep_list(docs, edges)


def q_streaming_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful streaming SimHash gate, driver-oracled (round-4
    'What's missing #1'): corpus fingerprints split into 4 deterministic
    micro-batches (pmod(id, 4)), streamed through the
    applyInPandasWithState bucket operator UNCAPPED (max_per_key far
    above the corpus, so the documented overflow-drop semantics never
    engage), collected pair set distinct-ed (the gate may emit one pair
    via several bands/batches). Must equal the batch member-level
    derivation the DuckDB oracle re-derives in pure SQL — the same
    _SIMHASH_PAIRS_SQL the batch entry is checked against: streamed ==
    batch on the same corpus."""
    import tempfile

    from tetrex_spark.operators.dedup import simhash
    from tetrex_spark.streaming.simhash_stream import streaming_simhash_pairs

    sdir = tempfile.mkdtemp(prefix="tetrex_stream_oracle_")
    fps = simhash(_docs(spark, sf_dir), "text", "doc_id").withColumn(
        "b", F.pmod(F.col("id"), F.lit(4))
    ).localCheckpoint(eager=True)
    for b in range(4):
        # one file per micro-batch: maxFilesPerTrigger=1 gives exactly 4
        # cross-batch state transitions
        fps.filter(F.col("b") == b).select("id", "simhash").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{sdir}/in/batch={b}")
    stream = spark.readStream.schema("id long, simhash long").option(
        "maxFilesPerTrigger", "1"
    ).parquet(f"{sdir}/in/batch=*")
    q = (
        streaming_simhash_pairs(
            stream, max_hamming=3, n_blocks=4, max_per_key=1_000_000
        )
        .writeStream.format("parquet")
        .option("path", f"{sdir}/out")
        .option("checkpointLocation", f"{sdir}/ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(600):
        q.stop()
        raise RuntimeError("streaming simhash gate did not finish in 600s")
    return (
        spark.read.schema("id_a long, id_b long, hamming int")
        .parquet(f"{sdir}/out")
        .distinct()
    )


CANDIDATE_PATTERNS = [MOTIF_PATTERN, "wind+ow", "qu(e|a)ry stream"]


def q_candidate_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 probe correctness as an oracle-checkable superset property:
    for each pattern, the distinct urls found by scanning ONLY the
    candidate bins. Equality with the DuckDB full-corpus truth holds iff
    the traversal's candidate set has recall 1 (no bin containing a match
    was pruned) — the invariant the Bloom/NFA machinery must guarantee.
    The raw (pattern, bin_id) sets remain visible via
    MotifIndex.candidate_bins and the pruning tests."""
    idx = _motif_index(spark, sf_dir)
    corpus = _corpus(spark, sf_dir)
    out = None
    for pat in CANDIDATE_PATTERNS:
        hits = (
            idx.query(corpus, pat)
            .select(F.lit(pat).alias("pattern"), "url")
            .distinct()
        )
        out = hits if out is None else out.unionByName(hits)
    return out


def q_motif_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/run_multiple_queries done Spark-first: the whole pattern batch
    shares ONE pruned scan, each pattern applied only to rows of its own
    candidate bins (MotifIndex.query_many). Oracle: per-pattern
    regexp_extract_all over the full corpus, unioned — equality holds
    iff batching loses no matches AND per-pattern bin gating keeps
    recall 1."""
    idx = _motif_index(spark, sf_dir)
    return idx.query_many(
        _corpus(spark, sf_dir), {p: p for p in CANDIDATE_PATTERNS}
    ).select(F.col("query_id").alias("pattern"), "url", "match")


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: deterministic media table -> image features.
    The decode is the documented fake codec (payload bytes -> pixel
    buffer), but the payload bytes are splitmix64 arithmetic, so the
    DuckDB oracle re-derives every byte, the per-pixel gray means and the
    population stddev in pure SQL — the feature path is hash-checked, not
    rows-only."""
    from tetrex_spark.operators.multimodal import image_features, synth_media

    return image_features(synth_media(spark, 24)).select(
        "media_id", "width", "height", F.round("std_gray", 6).alias("std_gray")
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality gate: per-doc repetition ratios,
    symbol/word ratio, line-shape fractions and a keep(0/1) verdict —
    pure JVM expressions, zero shuffle (functions/analysis.py)."""
    from tetrex_spark.functions.analysis import repetition_quality

    return repetition_quality(_docs(spark, sf_dir))


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host curation aggregates (drop-low-quality-domains table):
    one partial-aggregated shuffle, JVM-only per-doc metrics."""
    from tetrex_spark.functions.analysis import host_stats

    docs = _docs(spark, sf_dir).withColumn(
        "url",
        F.concat(
            F.lit("http://"), F.col("source"),
            F.lit(".example/doc/"), F.col("doc_id"),
        ),
    )
    return host_stats(docs)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction gate: emails/IPv4/phone-like runs counted (on the
    original text) and redacted in order; pure JVM regexp, zero shuffle."""
    from tetrex_spark.functions.analysis import pii_scrub

    return pii_scrub(_docs(spark, sf_dir))


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end curation decision a training pipeline
    materializes: Gopher quality gate x PII exposure x near-dup keep-list
    joined per doc into one final keep verdict. Every stage is an
    already-oracled operator; this entry verifies the COMPOSITION
    (joins, column flow, verdict arithmetic) against a single composed
    DuckDB query."""
    from tetrex_spark.functions.analysis import pii_scrub, repetition_quality
    from tetrex_spark.operators.clusters import dedup_keep_list
    from tetrex_spark.operators.dedup import minhash_lsh_edges

    docs = _docs(spark, sf_dir)
    quality = repetition_quality(docs).select(
        "id", F.col("keep").alias("q_keep")
    )
    pii = pii_scrub(docs).select(
        "id",
        (F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")).alias("n_pii"),
    )
    pairs = minhash_lsh_edges(docs, k=JACCARD_K, threshold=JACCARD_T)
    dup = dedup_keep_list(docs, pairs).select(
        "id", F.col("keep").alias("dup_keep")
    )
    return (
        quality.join(pii, "id")
        .join(dup, "id")
        .select(
            "id", "q_keep", "n_pii", "dup_keep",
            (F.col("q_keep") * F.col("dup_keep")).alias("final_keep"),
        )
    )


def q_gram_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12 analog (k-mer -> string debug decode): the observed
    (gram, splitmix64 hash) mapping, value-checked against a pure-SQL
    re-derivation of the kernel hash."""
    from tetrex_spark.functions.analysis import gram_decode_table

    return gram_decode_table(_docs(spark, sf_dir))


def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints, value-checked: n_grams = |fingerprint set|
    and fp_xor = xor-fold of the fingerprint values themselves, so the
    DuckDB oracle (which re-derives the splitmix64 gram hashes + window
    minima in pure SQL) verifies the actual hash values, not just counts."""
    from tetrex_spark.functions.analysis import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir)).select(
        "id",
        F.size("fingerprint").alias("n_grams"),
        F.aggregate(
            "fingerprint", F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x)
        ).alias("fp_xor"),
    )


def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. 2021): for every cross-doc pair
    sharing an exact normalized span >= 40 chars, the longest such span
    (length + 1-based positions, ties to the smallest positions).
    Winnowing anchors -> capped buckets -> exact extension verify
    (operators/substring.py); DuckDB re-derives the full contract as an
    L-gram equi-join + diagonal-run (islands) query — value-hash checks
    lengths AND positions, not just the pair list. Uncapped here so the
    oracle's exhaustive pair set is the exact target (cap semantics are
    covered by tests/test_substring.py)."""
    from tetrex_spark.operators.substring import substring_dup_spans

    return substring_dup_spans(
        _docs(spark, sf_dir), min_len=40, max_bucket=None
    )


def q_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup curation ACTION (Lee et al. 2021): every doc
    with the chars of any >= 40-char span shared with a smaller doc_id
    removed (the lowest-id copy survives; non-cascading single pass over
    the original corpus). DuckDB re-derives it as all islands -> per-
    char covered test -> string_agg reassembly — the value hash checks
    every byte of every cleaned document."""
    from tetrex_spark.operators.substring import strip_dup_spans

    return strip_dup_spans(_docs(spark, sf_dir), min_len=40, max_bucket=None)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus gate: freeze the even-doc_id half of the corpus
    into a bucketed Bloom membership index (built fresh per call under
    /tmp), then gate an increment made of the odd half (all genuinely
    new) plus re-keyed copies of the even half (all duplicates). The
    probe → confirm pipeline is exact, so DuckDB re-derives the verdict
    as a NOT EXISTS on normalized text (operators/incremental.py)."""
    import re as _re

    from tetrex_spark.operators.incremental import (
        build_membership_index,
        incremental_exact_dedup,
    )

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    inc = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text").unionAll(
        ref.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    idx = f"/tmp/tetrex_memb_{_re.sub(r'[^A-Za-z0-9.]', '_', sf_dir)}"
    build_membership_index(ref, idx, n_buckets=16)
    return incremental_exact_dedup(inc, idx)


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup gate against a frozen corpus: freeze the even half's
    MinHash band buckets + shingle sets, then gate the odd half plus
    re-keyed copies of the even half. Re-keyed copies match their
    original at jaccard 1.0; odd docs match only if the corpus contains
    a cross-parity near-dup pair. LSH recall at the 32x4 banding is
    1-5e-8 for j>=0.8, so DuckDB re-derives the verdict exactly as NOT
    EXISTS over the k-shingle Jaccard (operators/incremental.py)."""
    import re as _re

    from tetrex_spark.operators.incremental import (
        build_neardup_index,
        incremental_neardup_gate,
    )

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 2 == 0)
    inc = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", "text").unionAll(
        ref.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    idx = f"/tmp/tetrex_ndidx_{_re.sub(r'[^A-Za-z0-9.]', '_', sf_dir)}"
    build_neardup_index(ref, idx, threshold=0.8, max_bucket=None)
    return incremental_neardup_gate(inc, idx)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (13-gram overlap, Brown et al. 2020
    §C): synthesize the benchmark as a 24-token window (tokens 11-34)
    of every doc_id % 20 == 0 document — a verbatim "eval question"
    lifted from the corpus — then flag every training doc sharing a
    13-gram with it. Contaminated = the source docs themselves plus any
    near-dup that preserves the window. JVM-only plan: grams via
    transform+slice, xxhash64-compressed, benchmark set broadcast; the
    oracle re-derives exact string-gram overlap in DuckDB."""
    from tetrex_spark.operators.decontam import decontaminate
    from tetrex_spark.operators.dedup import tokens_col

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.array_join(F.slice(tokens_col("text"), 11, 24), " ").alias("text")
    )
    return decontaminate(docs, bench, n=13)


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram LM quality scores: fit the unigram model on
    the even half (top_k=500 so the pruning path is exercised — rarer
    retained-vocab misses price at the OOV floor), score ALL docs by
    mean token log-prob + perplexity. The oracle re-derives the same
    fit (count desc / token asc top-500), floor ln(0.5/total), and
    per-doc average in DuckDB (functions/lm.py)."""
    from tetrex_spark.functions.lm import doc_logprob, unigram_model

    docs = _docs(spark, sf_dir)
    model = unigram_model(docs.filter(F.col("doc_id") % 2 == 0), top_k=500)
    return doc_logprob(docs, model)


def q_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights: target = the en docs (a stand-in
    for "make the crawl look like English Wikipedia"), background = the
    whole corpus, both fit at top_k=500 so pruning + both OOV floors are
    exercised; every doc scored by mean unigram log-ratio. The oracle
    re-runs both fits, the floor difference, and the per-doc mean in
    DuckDB (functions/lm.py)."""
    from tetrex_spark.functions.lm import importance_weights, unigram_model

    docs = _docs(spark, sf_dir)
    tgt = unigram_model(docs.filter(F.col("lang") == "en"), top_k=500)
    bg = unigram_model(docs, top_k=500)
    return importance_weights(docs, tgt, bg)


def q_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 adjacent-token collocations (count-ordered, min_count=3)
    with PMI — phrase mining / the BPE first-merge count. Count ordering
    keeps the top-k boundary integer-deterministic across engines; the
    oracle re-derives bigram + unigram counts and the same PMI formula
    in DuckDB (functions/lm.py)."""
    from tetrex_spark.functions.lm import bigram_pmi

    return bigram_pmi(_docs(spark, sf_dir), min_count=3, top_k=50)


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget fill (2000 tokens/lang in md5 order):
    the "mix N tokens per language" step. The Spark side never runs a
    per-group window over the corpus — it cuts on a bounded bin
    histogram and resolves at most one boundary bin per group; the
    oracle IS the naive window cumsum, so agreement proves the binned
    cut equals the exact greedy fill (functions/sampling.py)."""
    from tetrex_spark.functions.sampling import token_budget_sample

    return token_budget_sample(
        _docs(spark, sf_dir), 2000, by="lang", salt="r5"
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-stable train/val/test assignment (80/10/10): each doc's
    split is a pure function of md5(salt ':' doc_id) vs cumulative
    hex thresholds — no RNG state, no row-order or partitioning
    dependence, so growing the corpus never reassigns existing docs.
    Pure JVM CASE expression inside the scan; DuckDB re-derives the
    same digest comparison independently (functions/sampling.py)."""
    from tetrex_spark.functions.sampling import deterministic_split

    return deterministic_split(
        _docs(spark, sf_dir), salt="r5"
    ).select("doc_id", "split")


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% downsample: keep doc_ids whose digest falls
    below floor(0.2 * 2^128). A pure row predicate (reproducible across
    runs and partitionings; nested rates compose) — unlike
    DataFrame.sample, which depends on partition layout."""
    from tetrex_spark.functions.sampling import hash_sample

    return hash_sample(_docs(spark, sf_dir), 0.2, salt="r5").select("doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "motif_regex": q_motif_regex,
        "motif_conjunctive": q_motif_conjunctive,
        "motif_full_scan": q_motif_full_scan,
        "motif_gap": q_motif_gap,
        "exact_dedup": q_exact_dedup,
        "latest_snapshot": q_latest_snapshot,
        "jaccard_pairs_lsh": q_jaccard_pairs_lsh,
        "dedup_clusters": q_dedup_clusters,
        "token_stats": q_token_stats,
        "langid": q_langid,
        "heavy_hitters_exact": q_heavy_hitters_exact,
        "heavy_hitters_cms": q_heavy_hitters_cms,
        "distinct_shingles_by_lang": q_distinct_shingles_by_lang,
        "length_quantiles": q_length_quantiles,
        "quality_filter": q_quality_filter,
        "pii_scrub": q_pii_scrub,
        "host_stats": q_host_stats,
        "ann_topk": q_ann_topk,
        "ann_topk_ivf": q_ann_topk_ivf,
        # oracle-checked: brute-force top-1 hash vs DuckDB + the IVF
        # pruning invariant verdict (recall == probe coverage, exactly)
        "ann_recall_ivf": q_ann_recall_ivf,
        "embedding_near_dup": q_embedding_near_dup,
        "embedding_near_dup_exact": q_embedding_near_dup_exact,
        "embedding_clusters": q_embedding_clusters,
        "hyperplane_pairs_t90": q_hyperplane_pairs_t90,
        # oracle-checked via exact ground truth + bound verdicts
        "sketch_estimates": q_sketch_estimates,
        "candidate_bins": q_candidate_bins,
        "motif_multi": q_motif_multi,
        # oracle-checked: DuckDB re-derives the kernel's splitmix64 hash
        # pipelines in pure SQL (HUGEINT mod-2^64 arithmetic) — winnowing
        # gram hashes + window minima for fingerprints; per-token hashes +
        # bit-majority votes + brute-force hamming join for simhash
        "fingerprints": q_fingerprints,
        # oracle-checked: L-gram diagonal-run (islands) re-derivation of
        # the longest shared span per pair, lengths AND positions
        "substring_spans": q_substring_spans,
        # oracle-checked: per-char coverage re-derivation; value hash
        # covers every byte of every cleaned document
        "strip_dup_spans": q_strip_dup_spans,
        # oracle-checked: DuckDB computes the same md5-vs-threshold
        # comparison independently — every assignment value-hashed
        "dataset_split": q_dataset_split,
        "hash_sample": q_hash_sample,
        # oracle-checked: Bloom probe -> hash confirm is exact, so the
        # oracle is a NOT EXISTS on normalized text
        "incremental_dedup": q_incremental_dedup,
        # oracle-checked: LSH block + exact-Jaccard verify vs the
        # frozen even-half index; NOT EXISTS over k-shingle Jaccard
        "incremental_neardup": q_incremental_neardup,
        # oracle-checked: broadcast 13-gram-hash semi-join vs exact
        # string-gram overlap re-derived in DuckDB
        "decontaminate": q_decontaminate,
        # oracle-checked: unigram fit + OOV floor + per-doc mean re-run
        # in DuckDB on the same deterministic top-500 vocab
        "lm_quality": q_lm_quality,
        # oracle-checked: binned budget cut vs DuckDB's direct window
        # cumsum in the same md5 order
        "token_budget": q_token_budget,
        # oracle-checked: both unigram fits + floor difference + per-doc
        # mean log-ratio re-run in DuckDB
        "importance_weights": q_importance_weights,
        # oracle-checked: bigram/unigram counts + PMI re-derived in
        # DuckDB, count-ordered top-50
        "bigram_pmi": q_bigram_pmi,
        "simhash_pairs": q_simhash_pairs,
        "simhash_clusters": q_simhash_clusters,
        # oracle-checked: the STREAMING stateful gate against the same
        # SQL derivation as the batch entry (streamed == batch)
        "streaming_simhash_pairs": q_streaming_simhash_pairs,
        "gram_decode": q_gram_decode,
        # composed pipeline decision (quality x PII x near-dup keep)
        "curation_pipeline": q_curation_pipeline,
        # oracle-checked: the synthetic payload bytes are splitmix64
        # arithmetic, so DuckDB re-derives the fake decode + gray stddev
        "multimodal_features": q_multimodal_features,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB dialect; views pre-registered per TESTDATA.md)

_URL = "'http://' || source || '.example/doc/' || doc_id"
_TOKS = f"string_split({_NORM_SQL_DUCK}, ' ')"

_EMB_PAIRS_SQL = f"""
    select a.vec_id as id_a, b.vec_id as id_b
    from embeddings a join embeddings b on a.vec_id < b.vec_id
    where list_cosine_similarity(a.embedding::double[], b.embedding::double[])
          >= {COS_T}
"""

# hyperplane_pairs_t90 oracle: the SAME deterministic twin augmentation as
# _emb_augmented (float->double widening then +eps is identical IEEE
# arithmetic on both engines), scored exactly — planted pairs sit at cosine
# >= 0.9967 vs a 0.60 background ceiling, so the >= 0.9 decision is
# engine-robust even though each engine sums the dot in its own order.
_HP_PAIRS_SQL = f"""
    with aug as (
      select vec_id, embedding::double[] as e from embeddings
      union all
      select vec_id + {HP_TWIN_OFFSET},
             list_transform(embedding::double[], x -> x + {HP_TWIN_EPS})
      from embeddings where vec_id % {HP_TWIN_MOD} = 0
    )
    select a.vec_id as id_a, b.vec_id as id_b
    from aug a join aug b on a.vec_id < b.vec_id
    where list_cosine_similarity(a.e, b.e) >= {HP_T}
"""

# embedding_clusters oracle: transitive closure of the exact cosine pair
# graph (same fixpoint the large-star/small-star rounds converge to).
_EMB_CLUSTERS_SQL = f"""
with recursive p as ({_EMB_PAIRS_SQL}),
edges as (
  select id_a as a, id_b as b from p
  union select id_b, id_a from p
),
reach(id, r) as (
  select vec_id, vec_id from embeddings
  union
  select rc.id, e.b from reach rc join edges e on e.a = rc.r
),
comp as (select id, min(r) as component from reach group by id)
select id, component, (component = id)::int as keep from comp
"""

_HH_TOP20_SQL = f"""
    with tok as (
      select unnest({_TOKS}) as token from documents
    ),
    c as (select token, count(*) cnt from tok where token != '' group by 1),
    r as (select token, cnt,
                 row_number() over (order by cnt desc, token) as rank
          from c)
    select token, cnt, rank from r where rank <= 20
"""


def oracle_sql() -> dict[str, str]:
    d = {
        "motif_regex": f"""
            with n as (select {_URL} as url, {_NORM_SQL_DUCK} as norm from documents)
            select url, unnest(regexp_extract_all(norm, '{MOTIF_PATTERN}')) as match
            from n
        """,
        "motif_full_scan": f"""
            with n as (select {_URL} as url, {_NORM_SQL_DUCK} as norm from documents)
            select url, unnest(regexp_extract_all(norm, 'data .{{0,8}}stream')) as match
            from n
        """,
        "motif_gap": f"""
            with n as (select {_URL} as url, {_NORM_SQL_DUCK} as norm from documents)
            select url, unnest(regexp_extract_all(norm, 'data .{{0,8}}stream')) as match
            from n
        """,
        "motif_conjunctive": f"""
            with n as (select {_URL} as url, {_NORM_SQL_DUCK} as norm from documents)
            select url from n
            where regexp_matches(norm, '{MOTIF_PATTERNS_CONJ[0]}')
              and regexp_matches(norm, '{MOTIF_PATTERNS_CONJ[1]}')
        """,
        "exact_dedup": f"""
            select {_NORM_SQL_DUCK} as norm_text,
                   min(doc_id) as keep_id,
                   count(*) as n_dups
            from documents group by 1
        """,
        "latest_snapshot": f"""
            with b as (
              select {_URL} as url, 0 as v, text from documents
            ),
            r as (
              select {_URL} as url, 1 as v, text || ' (recrawl)' as text
              from documents where doc_id % 5 = 0
            ),
            u as (select * from b union all select * from r),
            ranked as (
              select url, text, v,
                     row_number() over (partition by url order by v desc)
                       as rn,
                     count(*) over (partition by url) as n_versions
              from u
            )
            select url, text, n_versions from ranked where rn = 1
        """,
        "jaccard_pairs_lsh": f"with {_JACCARD_CTES} select * from jp",
        "dedup_clusters": _DEDUP_CLUSTERS_SQL,
        "token_stats": f"""
            with n as (select doc_id, {_NORM_SQL_DUCK} as norm from documents),
            t as (select doc_id, norm,
                         case when length(norm) = 0 then []::varchar[]
                              else string_split(norm, ' ') end as toks
                  from n)
            select doc_id,
                   len(toks) as n_tokens,
                   len(regexp_extract_all(norm, '{_BPE_SQL}')) as n_bpe_tokens,
                   length(norm) as n_chars_norm,
                   round(case when len(toks) = 0 then 0.0 else
                     len(list_filter(toks, x -> x in
                       ('the','a','of','and','to','in','is','it','that','for')))
                     * 1.0 / len(toks) end, 6) as stopword_ratio,
                   round(
                     least(len(toks) / 100.0, 1.0) * 0.4
                     + least((case when len(toks) = 0 then 0.0 else
                         len(list_filter(toks, x -> x in
                           ('the','a','of','and','to','in','is','it','that','for')))
                         * 1.0 / len(toks) end) * 5.0, 1.0) * 0.3
                     + (case when length(norm) = 0 then 0.0 else
                         length(regexp_replace(norm, '[^a-z ]', '', 'g'))
                         * 1.0 / length(norm) end) * 0.3
                   , 6) as quality
            from t
        """,
        "langid": _LANGID_SQL,
        "quality_filter": _QUALITY_SQL,
        "pii_scrub": _PII_SQL,
        "host_stats": _HOST_STATS_SQL,
        "fingerprints": _FINGERPRINTS_SQL,
        # substring_spans: every 40-gram of the normalized text,
        # equi-joined across docs; consecutive matches on one diagonal
        # (ia - ib) form an island whose run length r is a shared span
        # of r + 39 chars; per pair keep the longest (ties -> smallest
        # positions). The 100000 series bound safely exceeds any sf0.01
        # doc length (max raw length 553).
        "substring_spans": f"""
            {_SPAN_CTE_SQL}
            select id_a, id_b, match_len, pos_a, pos_b from spans
            qualify row_number() over (
              partition by id_a, id_b
              order by match_len desc, pos_a, pos_b) = 1
        """,
        # strip_dup_spans: same islands derivation, ALL spans; a char of
        # doc b is removed iff covered by a span shared with any a < b
        # (the lowest-id copy survives); docs with no removals (or no
        # text) pass through normalized (resp. empty).
        "strip_dup_spans": f"""
            {_SPAN_CTE_SQL},
            chars as (
              select d.doc_id, s.i, substr(d.t, s.i, 1) as ch
              from docs d join generate_series(1, 100000) s(i)
                on s.i <= length(d.t)
            ),
            kept as (
              select c.doc_id, c.i, c.ch from chars c
              where not exists (
                select 1 from spans v
                where v.id_b = c.doc_id
                  and c.i >= v.pos_b and c.i < v.pos_b + v.match_len
              )
            ),
            agg as (
              select doc_id, string_agg(ch, '' order by i) as clean_text
              from kept group by doc_id
            )
            select d.doc_id, coalesce(a.clean_text, '') as clean_text
            from docs d left join agg a using (doc_id)
        """,
        # dataset_split / hash_sample: DuckDB's md5() yields the same 32
        # lowercase hex chars as Spark's, so the split is re-derived by
        # the identical digest-vs-threshold comparison; the thresholds
        # are the library's own closed form (floor(f * 2^128) as hex).
        "dataset_split": f"""
            select doc_id,
                   case when md5('r5:' || cast(doc_id as varchar))
                             < '{_hex_threshold(0.8)}' then 'train'
                        when md5('r5:' || cast(doc_id as varchar))
                             < '{_hex_threshold(0.9)}' then 'val'
                        else 'test' end as split
            from documents
        """,
        "hash_sample": f"""
            select doc_id from documents
            where md5('r5:' || cast(doc_id as varchar))
                  < '{_hex_threshold(0.2)}'
        """,
        # importance_weights: both fits (target=en, background=all,
        # top-500 each), both OOV floors, and the per-doc mean log-ratio
        # re-derived in DuckDB
        "importance_weights": """
            with toks as (select doc_id, lang, __TOKS__ as t from documents),
            tok as (select doc_id, lang, unnest(t) as token from toks),
            tok_ne as (
              select doc_id, lang, token from tok where token <> ''
            ),
            tfit as (
              select token, count(*) as cnt from tok_ne
              where lang = 'en' group by 1
            ),
            ttot as (select sum(cnt) as total from tfit),
            tmodel as (
              select token, ln(cnt * 1.0 / total) as lt
              from tfit, ttot order by cnt desc, token asc limit 500
            ),
            bfit as (select token, count(*) as cnt from tok_ne group by 1),
            btot as (select sum(cnt) as total from bfit),
            bmodel as (
              select token, ln(cnt * 1.0 / total) as lb
              from bfit, btot order by cnt desc, token asc limit 500
            ),
            fl as (
              select ln(0.5 / ttot.total) as ft, ln(0.5 / btot.total) as fb
              from ttot, btot
            ),
            scored as (
              select d.doc_id, count(*) as n_tokens,
                     avg(coalesce(tm.lt, fl.ft) - coalesce(bm.lb, fl.fb))
                       as mean_logratio
              from tok_ne d
              left join tmodel tm using (token)
              left join bmodel bm using (token)
              cross join fl
              group by 1
            )
            select doc.doc_id,
                   coalesce(s.n_tokens, 0)::bigint as n_tokens,
                   s.mean_logratio
            from documents doc left join scored s using (doc_id)
        """.replace("__TOKS__", _TOKS),
        # bigram_pmi: bigram + unigram counts, totals, and the PMI
        # formula re-derived in DuckDB; count-ordered top-50 keeps the
        # boundary integer-deterministic
        "bigram_pmi": """
            with toks as (select __TOKS__ as t from documents),
            ne as (select list_filter(t, x -> x <> '') as t from toks),
            big as (
              select t[i] as tok_a, t[i + 1] as tok_b, count(*) as cnt
              from ne, unnest(range(1, len(t))) r(i)
              where len(t) >= 2
              group by 1, 2
              having count(*) >= 3
            ),
            uni as (
              select x as token, count(*) as c
              from ne, unnest(t) u(x) group by 1
            ),
            tot as (select sum(c) as n_uni from uni),
            nb as (select sum(greatest(len(t) - 1, 0)) as n_bi from ne)
            select b.tok_a, b.tok_b, b.cnt,
                   ln((b.cnt * 1.0 / n_bi)
                      / ((ua.c * 1.0 / n_uni) * (ub.c * 1.0 / n_uni)))
                     as pmi
            from big b
            join uni ua on ua.token = b.tok_a
            join uni ub on ub.token = b.tok_b
            cross join tot cross join nb
            order by b.cnt desc, b.tok_a asc, b.tok_b asc
            limit 50
        """.replace("__TOKS__", _TOKS),
        # token_budget: DuckDB runs the NAIVE formulation (per-lang
        # window cumsum in (md5, doc_id) order) that the Spark side's
        # binned cut must equal exactly
        "token_budget": """
            with t as (
              select doc_id,
                     lang,
                     len(list_filter(__TOKS__, x -> x <> ''))::bigint
                       as n_tokens,
                     md5('r5:' || cast(doc_id as varchar)) as h
              from documents
            ),
            w as (
              select doc_id, n_tokens,
                     coalesce(sum(n_tokens) over (
                       partition by lang order by h, doc_id
                       rows between unbounded preceding and 1 preceding
                     ), 0) as before
              from t
            )
            select doc_id, n_tokens, before < 2000 as keep from w
        """.replace("__TOKS__", _TOKS),
        # incremental_dedup: the Bloom-gated verdict is exact, so the
        # oracle is plain normalized-text membership of the synthetic
        # increment (odd half new, re-keyed even half duplicate).
        "incremental_dedup": f"""
            with ref as (
              select {_NORM_SQL_DUCK} as t from documents where doc_id % 2 = 0
            ),
            inc as (
              select doc_id, {_NORM_SQL_DUCK} as t
              from documents where doc_id % 2 = 1
              union all
              select doc_id + 1000000 as doc_id, {_NORM_SQL_DUCK} as t
              from documents where doc_id % 2 = 0
            )
            select i.doc_id,
                   not exists (select 1 from ref r where r.t = i.t) as is_new
            from inc i
        """,
        # incremental_neardup: the gate's LSH recall at 32x4 banding is
        # 1-5e-8 for j>=0.8 and the verify is exact Jaccard, so the
        # oracle re-derives the verdict as NOT EXISTS over k-shingle
        # Jaccard between the synthetic increment and the even half.
        "incremental_neardup": f"""
            with all_docs as (
              select doc_id, text, (doc_id % 2 = 1) as is_inc
              from documents where doc_id % 2 = 1
              union all
              select doc_id + 1000000 as doc_id, text, true
              from documents where doc_id % 2 = 0
              union all
              select doc_id, text, false from documents where doc_id % 2 = 0
            ),
            toks as (select doc_id, is_inc, {_TOKS} as t from all_docs),
            sh as (
              select distinct doc_id, is_inc,
                     array_to_string(t[i:i+{JACCARD_K - 1}], ' ') as g
              from toks, unnest(range(1, len(t) - {JACCARD_K - 2})) r(i)
              where len(t) >= {JACCARD_K}
            ),
            sz as (select doc_id, count(*) n from sh group by 1),
            inter as (
              select a.doc_id ia, b.doc_id ib, count(*) c
              from sh a join sh b on a.g = b.g
              where a.is_inc and not b.is_inc
              group by 1, 2
            ),
            matched as (
              select distinct ia from inter
              join sz sa on sa.doc_id = ia
              join sz sb on sb.doc_id = ib
              where c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_T}
            )
            select d.doc_id,
                   d.doc_id not in (select ia from matched) as is_new
            from all_docs d where d.is_inc
        """,
        # decontaminate: the Spark side joins on xxhash64(gram); the
        # oracle overlaps the exact gram STRINGS — agreement also rules
        # out hash collisions on the fixture. Benchmark re-derivation:
        # the 24-token window is already normalized single-spaced text,
        # so re-tokenizing it is a plain string_split.
        "decontaminate": """
            with toks as (select doc_id, __TOKS__ as t from documents),
            btoks as (
              select string_split(array_to_string(t[11:34], ' '), ' ') as t
              from toks where doc_id % 20 = 0
            ),
            bgrams as (
              select distinct array_to_string(t[i:i+12], ' ') as g
              from btoks, unnest(range(1, len(t) - 11)) r(i)
              where len(t) >= 13
            ),
            dgrams as (
              select distinct doc_id, array_to_string(t[i:i+12], ' ') as g
              from toks, unnest(range(1, len(t) - 11)) r(i)
              where len(t) >= 13
            ),
            hits as (
              select doc_id, count(*) as n
              from dgrams join bgrams using (g) group by 1
            )
            select d.doc_id,
                   coalesce(h.n, 0)::bigint as n_hit_grams,
                   coalesce(h.n, 0) < 1 as is_clean
            from documents d left join hits h using (doc_id)
        """.replace("__TOKS__", _TOKS),
        # lm_quality: identical fit (even half, count-desc/token-asc
        # top-500), identical floor ln(0.5/total with total counted
        # before pruning), identical per-doc mean; float agreement is
        # within the harness's 6-decimal rounding.
        "lm_quality": """
            with toks as (select doc_id, __TOKS__ as t from documents),
            tok as (
              select doc_id, unnest(t) as token from toks
            ),
            tok_ne as (select doc_id, token from tok where token <> ''),
            fit as (
              select token, count(*) as cnt from tok_ne
              where doc_id % 2 = 0 group by 1
            ),
            tot as (select sum(cnt) as total from fit),
            model as (
              select token, ln(cnt * 1.0 / total) as logp
              from fit, tot
              order by cnt desc, token asc
              limit 500
            ),
            oov as (select ln(0.5 / total) as o from tot),
            scored as (
              select d.doc_id, count(*) as n_tokens,
                     avg(coalesce(m.logp, o.o)) as mean_logp
              from tok_ne d left join model m using (token), oov o
              group by 1
            )
            select doc.doc_id,
                   coalesce(s.n_tokens, 0)::bigint as n_tokens,
                   s.mean_logp,
                   exp(-s.mean_logp) as perplexity
            from documents doc left join scored s using (doc_id)
        """.replace("__TOKS__", _TOKS),
        "simhash_pairs": _SIMHASH_PAIRS_SQL,
        "simhash_clusters": _SIMHASH_CLUSTERS_SQL,
        "streaming_simhash_pairs": _SIMHASH_PAIRS_SQL,
        "gram_decode": _GRAM_DECODE_SQL,
        "heavy_hitters_exact": _HH_TOP20_SQL,
        # same ground truth, different compute path (CMS-pruned candidates)
        "heavy_hitters_cms": _HH_TOP20_SQL,
        "distinct_shingles_by_lang": f"""
            with toks as (select lang, {_TOKS} as t from documents),
            sh as (
              select lang, array_to_string(t[i:i+2], ' ') as g
              from toks, unnest(range(1, len(t) - 1)) r(i)
              where len(t) >= 3
            )
            select lang, count(distinct g) as n_distinct_shingles
            from sh group by 1
        """,
        "length_quantiles": """
            select lang,
                   quantile_cont(n_chars, 0.1) as q10,
                   quantile_cont(n_chars, 0.5) as q50,
                   quantile_cont(n_chars, 0.9) as q90
            from documents group by 1
        """,
        "ann_topk": f"""
            with q as (
              select vec_id as query_id, embedding::double[] as qv
              from embeddings where vec_id in ({",".join(map(str, ANN_QUERY_IDS))})
            ),
            scored as (
              select q.query_id, e.vec_id,
                     list_cosine_similarity(e.embedding::double[], q.qv) as cosine
              from embeddings e, q
            ),
            r as (
              select query_id, vec_id,
                     row_number() over (partition by query_id
                                        order by cosine desc, vec_id) as rank
              from scored
            )
            select query_id, vec_id, rank from r where rank <= {ANN_K}
        """,
        "ann_recall_ivf": f"""
            with q as (
              select vec_id as query_id, embedding::double[] as qv
              from embeddings where vec_id in ({",".join(map(str, ANN_QUERY_IDS))})
            ),
            scored as (
              select q.query_id, e.vec_id,
                     list_cosine_similarity(e.embedding::double[], q.qv) as cosine
              from embeddings e, q
            ),
            r as (
              select query_id, vec_id,
                     row_number() over (partition by query_id
                                        order by cosine desc, vec_id) as rank
              from scored
            )
            select query_id, vec_id as top1_id, true as ok
            from r where rank = 1
        """,
        "embedding_near_dup": _EMB_PAIRS_SQL,
        "embedding_near_dup_exact": _EMB_PAIRS_SQL,
        "embedding_clusters": _EMB_CLUSTERS_SQL,
        "hyperplane_pairs_t90": _HP_PAIRS_SQL,
        "candidate_bins": " union all ".join(
            f"""
            select '{p.replace("'", "''")}' as pattern, {_URL} as url
            from documents
            where regexp_matches({_NORM_SQL_DUCK}, '{p}')
            """
            for p in CANDIDATE_PATTERNS
        ),
        "motif_multi": " union all ".join(
            f"""
            select '{p.replace("'", "''")}' as pattern, url,
                   unnest(regexp_extract_all(norm, '{p}')) as match
            from (select {_URL} as url, {_NORM_SQL_DUCK} as norm
                  from documents)
            """
            for p in CANDIDATE_PATTERNS
        ),
        "sketch_estimates": f"""
            with n as (select {_NORM_SQL_DUCK} as norm from documents),
            t as (select norm,
                         case when length(norm) = 0 then []::varchar[]
                              else string_split(norm, ' ') end as toks
                  from n),
            sh as (
              select distinct array_to_string(toks[i:i+2], ' ') as g
              from t, unnest(range(1, len(toks) - 1)) r(i)
              where len(toks) >= 3
            ),
            d as (select count(*) dd from sh),
            tok as (select unnest(toks) as tk from t),
            c_the as (select count(*) c from tok where tk = 'the')
            select 'bloom_fill_ratio' as name,
                   round(1.0 - pow(1.0 - 1.0/262144.0, 3 * dd), 6) as exact,
                   true as ok from d
            union all
            select 'cms_count_the', round(c, 6), true from c_the
            union all
            select 'hll_distinct_3shingles', round(dd, 6), true from d
            union all
            select 'kll_median_tokens',
                   round((select quantile_cont(len(toks), 0.5) from t), 6), true
            union all
            select 'tdigest_p90_chars',
                   round((select quantile_cont(length(norm), 0.9) from t), 6), true
        """,
    }
    # IVF at n_probe = n_cells is exhaustive: exactly the brute-force
    # top-k ground truth
    d["ann_topk_ivf"] = d["ann_topk"]
    d["multimodal_features"] = _MULTIMODAL_SQL
    # composition of three already-oracled stages into one verdict table
    d["curation_pipeline"] = f"""
        select q.id, q.keep as q_keep,
               (p.n_email + p.n_ipv4 + p.n_phone)::int as n_pii,
               d.keep as dup_keep,
               (q.keep * d.keep)::int as final_keep
        from ({_QUALITY_SQL}) q
        join ({_PII_SQL}) p using (id)
        join ({_DEDUP_CLUSTERS_SQL}) d using (id)
    """
    return d


# -- winnowing-fingerprint oracle: re-derives the kernel's splitmix64
# char-5-gram hashes in pure SQL (HUGEINT mod-2^64 arithmetic), applies
# the same window-4 minima + per-doc distinct, and xor-folds the values.
# Matches kernel/hashing.py exactly for ASCII corpora (the synthetic
# documents table is ASCII; ord(char) == utf-8 byte there).
_FP_K, _FP_W = 5, 4
_M64, _M32 = 1 << 64, 1 << 32
_FP_POW = [pow(0x9E3779B97F4A7C15, j, _M64) for j in range(_FP_K)]
_FP_LENMIX = (_FP_K * 0xC2B2AE3D27D4EB4F) % _M64
_FP_SEED = 42


def _mulmod_sql(a: str, b: int) -> str:
    """(a * b) mod 2^64 over UBIGINT via 32-bit split in HUGEINT."""
    bl, bh = b % _M32, b >> 32
    return (
        f"((({a} % 4294967296)::hugeint * {bl}"
        f" + ((({a} >> 32)::hugeint * {bl}"
        f" + ({a} % 4294967296)::hugeint * {bh}) % 4294967296)"
        f" * 4294967296) % 18446744073709551616)::ubigint"
    )


_FP_RAW = " + ".join(
    f"ord(substr(gram, {j + 1}, 1))::hugeint * {_FP_POW[j]}::hugeint"
    for j in range(_FP_K)
)

_FINGERPRINTS_SQL = f"""
with n as (select doc_id as id, {_NORM_SQL_DUCK} as norm from documents),
g as (
  select id, i as pos, substr(norm, i, {_FP_K}) as gram,
         length(norm) - {_FP_K - 1} as n_grams
  from n, unnest(generate_series(1, length(norm) - {_FP_K - 1})) u(i)
  where length(norm) >= {_FP_K}
),
h0 as (select id, pos, n_grams,
              (({_FP_RAW}) % 18446744073709551616)::ubigint as raw from g),
h1 as (select id, pos, n_grams,
              xor(xor(raw, {_FP_LENMIX}::ubigint), {_FP_SEED}::ubigint) as mix
       from h0),
s1 as (select id, pos, n_grams,
              ((mix::hugeint + 11400714819323198485)
               % 18446744073709551616)::ubigint as z from h1),
s2 as (select id, pos, n_grams, xor(z, z >> 30) as z from s1),
s3 as (select id, pos, n_grams, {_mulmod_sql('z', 0xBF58476D1CE4E5B9)} as z
       from s2),
s4 as (select id, pos, n_grams, xor(z, z >> 27) as z from s3),
s5 as (select id, pos, n_grams, {_mulmod_sql('z', 0x94D049BB133111EB)} as z
       from s4),
hh as (select id, pos, n_grams, xor(z, z >> 31) as h from s5),
w as (
  select id, pos, n_grams, h,
    min(h) over (partition by id order by pos
                 rows between current row and {_FP_W - 1} following) as wmin
  from hh
),
vals as (
  select distinct id, wmin as v from w
  where n_grams > {_FP_W} and pos <= n_grams - {_FP_W - 1}
  union
  select id, min(h) as v from w where n_grams <= {_FP_W} group by id
),
agg as (
  select id, count(*) as n_grams,
         bit_xor(case when v >= 9223372036854775808
                 then (v::hugeint - 18446744073709551616)::bigint
                 else v::bigint end) as fp_xor
  from vals group by id
)
select n.id, coalesce(a.n_grams, 0) as n_grams,
       coalesce(a.fp_xor, 0) as fp_xor
from n left join agg a using (id)
"""

# Exact n-gram-Jaccard pair CTEs, shared by the jaccard_pairs_lsh oracle
# and the dedup_clusters oracle (which closes the pair graph).
_JACCARD_CTES = f"""
toks as (select doc_id, {_TOKS} as t from documents),
sh as (
  select distinct doc_id, array_to_string(t[i:i+{JACCARD_K - 1}], ' ') as g
  from toks, unnest(range(1, len(t) - {JACCARD_K - 2})) r(i)
  where len(t) >= {JACCARD_K}
),
sz as (select doc_id, count(*) n from sh group by 1),
inter as (
  select a.doc_id ia, b.doc_id ib, count(*) c
  from sh a join sh b on a.g = b.g and a.doc_id < b.doc_id
  group by 1, 2
),
jp as (
  select ia as id_a, ib as id_b,
         round(c * 1.0 / (sa.n + sb.n - c), 6) as jaccard
  from inter
  join sz sa on sa.doc_id = ia join sz sb on sb.doc_id = ib
  where c * 1.0 / (sa.n + sb.n - c) >= {JACCARD_T}
)"""

# dedup_clusters oracle: transitive closure of the exact-Jaccard pair
# graph via a recursive CTE; component = min reachable doc_id — the same
# fixpoint the large-star/small-star rounds converge to.
_DEDUP_CLUSTERS_SQL = f"""
with recursive {_JACCARD_CTES},
edges as (
  select id_a as a, id_b as b from jp
  union select id_b, id_a from jp
),
reach(id, r) as (
  select doc_id, doc_id from documents
  union
  select rc.id, e.b from reach rc join edges e on e.a = rc.r
),
comp as (select id, min(r) as component from reach group by id)
select id, component, (component = id)::int as keep from comp
"""


def _splitmix_ctes(src: str, in_expr: str, out_col: str, pfx: str,
                   carry: list[str]) -> str:
    """CTE chain applying the kernel's splitmix64 to in_expr (UBIGINT),
    yielding out_col; carry columns pass through each stage. Sequential
    stages (not one nested expression) because xor(z, z >> 30) uses z
    twice — inlining would double the expression per stage."""
    c = "".join(f"{x}, " for x in carry)
    return (
        f"{pfx}1 as (select {c}((({in_expr})::hugeint + 11400714819323198485)"
        f" % 18446744073709551616)::ubigint as z from {src}),\n"
        f"{pfx}2 as (select {c}xor(z, z >> 30) as z from {pfx}1),\n"
        f"{pfx}3 as (select {c}{_mulmod_sql('z', 0xBF58476D1CE4E5B9)} as z from {pfx}2),\n"
        f"{pfx}4 as (select {c}xor(z, z >> 27) as z from {pfx}3),\n"
        f"{pfx}5 as (select {c}{_mulmod_sql('z', 0x94D049BB133111EB)} as z from {pfx}4),\n"
        f"{pfx}6 as (select {c}xor(z, z >> 31) as {out_col} from {pfx}5)"
    )


_STOPS_EN = "('the','a','of','and','to','in','is','it','that','for')"
_HOST_STATS_SQL = f"""
with n as (select {_URL} as url, {_NORM_SQL_DUCK} as norm from documents),
t as (select lower(regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1)) as host,
             case when length(norm) = 0 then 0
                  else len(string_split(norm, ' ')) end as ntok,
             norm
      from n),
q as (select host, ntok,
        round(
          least(ntok / 100.0, 1.0) * 0.4
          + least((case when ntok = 0 then 0.0 else
              len(list_filter(string_split(norm, ' '), x -> x in {_STOPS_EN}))
              * 1.0 / ntok end) * 5.0, 1.0) * 0.3
          + (case when length(norm) = 0 then 0.0 else
              length(regexp_replace(norm, '[^a-z ]', '', 'g'))
              * 1.0 / length(norm) end) * 0.3
        , 6) as quality
      from t)
select host, count(*) as n_docs,
       round(avg(quality), 6) as mean_quality,
       round(avg(ntok), 6) as mean_tokens
from q group by host
"""

# -- multimodal oracle: re-derives the fake image decode in pure SQL.
# synth_media payload byte j of row i is splitmix64(i*STRIDE + j) & 255
# (operators/multimodal.py synth_payload), and for image rows the payload
# length equals h*w*3 exactly, so the fake decode (np.resize tiling) is
# the identity mapping byte j -> (pixel j//3, channel j%3). gray mean per
# pixel + population stddev per image then match numpy's float64 math to
# well past the 1e-6 rounding grain.
def _multimodal_sql() -> str:
    from tetrex_spark.operators.multimodal import SYNTH_PAYLOAD_STRIDE

    return f"""
with dims as (
  select i as media_id,
         (16 + (i % 4) * 8) as h,
         (16 + (i % 3) * 8) as w
  from unnest(generate_series(0, 23)) t(i)
  where i % 3 = 0
),
byt as (
  select media_id, h, w, (j // 3) as p,
         (media_id * {SYNTH_PAYLOAD_STRIDE} + j)::ubigint as mix
  from dims, unnest(generate_series(0, h * w * 3 - 1)) u(j)
),
{_splitmix_ctes('byt', 'mix', 'hh', 'mm', ['media_id', 'h', 'w', 'p'])},
gray as (
  select media_id, h, w, p, sum(hh & 255) / 3.0 as g
  from mm6 group by media_id, h, w, p
)
select media_id, any_value(w)::int as width, any_value(h)::int as height,
       round(stddev_pop(g), 6) as std_gray
from gray group by media_id
"""


_MULTIMODAL_SQL = _multimodal_sql()


# -- gram-decode oracle (F12 analog): distinct (gram, splitmix64 hash)
# pairs re-derived in SQL — hash-checks that the decode table maps every
# observed gram to exactly the kernel's hash.
_GRAM_DECODE_SQL = f"""
with n as (select {_NORM_SQL_DUCK} as norm from documents),
g as (
  select substr(norm, i, {_FP_K}) as gram
  from n, unnest(generate_series(1, length(norm) - {_FP_K - 1})) u(i)
  where length(norm) >= {_FP_K}
),
h0 as (select distinct gram,
              (({_FP_RAW}) % 18446744073709551616)::ubigint as raw from g),
h1 as (select gram,
              xor(xor(raw, {_FP_LENMIX}::ubigint), {_FP_SEED}::ubigint) as mix
       from h0),
{{SM}}
select gram,
       (case when h >= 9223372036854775808
             then (h::hugeint - 18446744073709551616)::bigint
             else h::bigint end) as gram_hash
from gd6
"""
_GRAM_DECODE_SQL = _GRAM_DECODE_SQL.format(
    SM=_splitmix_ctes("h1", "mix", "h", "gd", ["gram"])
)

# -- SimHash oracle: re-derives the kernel's 64-bit SimHash in pure SQL
# (per-token polynomial hash -> splitmix64 -> 1-shingle mix -> splitmix64
# -> per-bit majority votes), then emits ALL pairs with hamming <= 3 by
# brute-force self-join — the ground truth the pigeonhole blocking must
# reproduce exactly (recall 1.0, caps not triggered at test scale).
_SIMHASH_LENMIX = 0xC2B2AE3D27D4EB4F
_SIMHASH_POWS = "[" + ", ".join(
    str(pow(0x9E3779B97F4A7C15, j, _M64)) for j in range(64)
) + "]::ubigint[]"

# shared CTE body: normalized tokens -> splitmix64 token hashes ->
# bit-majority fingerprint per doc (fp). Used by the pairs oracle and the
# clusters (recursive-closure) oracle.
_SIMHASH_FP_CTES = f"""n as (select doc_id as id, {_NORM_SQL_DUCK} as norm from documents),
pw as (select {_SIMHASH_POWS} as pows),
tok as (
  select id, t.tok as tok from n, unnest(string_split(norm, ' ')) as t(tok)
  where length(norm) > 0
),
r0 as (
  select id,
    xor(xor(((length(tok)::hugeint * {_SIMHASH_LENMIX})
             % 18446744073709551616)::ubigint,
            (list_aggregate(list_transform(generate_series(1, length(tok)),
               p -> ord(substr(tok, p, 1))::hugeint * pows[p]::hugeint),
              'sum') % 18446744073709551616)::ubigint),
        42::ubigint) as mix
  from tok, pw
),
{_splitmix_ctes('r0', 'mix', 'h', 'sma', ['id'])},
x0 as (select id, xor(h, 1::ubigint) as mix from sma6),
{_splitmix_ctes('x0', 'mix', 'h', 'smb', ['id'])},
bits as (
  select id, j, sum(((h >> j) & 1)::int) as ones, count(*) as ntok
  from smb6, unnest(generate_series(0, 63)) b(j)
  group by id, j
),
fpu as (
  select id,
    (sum(case when 2 * ones > ntok then (1::ubigint << j)::hugeint
         else 0::hugeint end) % 18446744073709551616)::ubigint as fp
  from bits group by id
),
fp as (
  select n.id, coalesce(f.fp, 0::ubigint) as fp
  from n left join fpu f using (id)
)"""

_SIMHASH_PAIRS_SQL = f"""
with {_SIMHASH_FP_CTES}
select a.id as id_a, b.id as id_b,
       bit_count(xor(a.fp, b.fp))::int as hamming
from fp a join fp b on a.id < b.id
where bit_count(xor(a.fp, b.fp)) <= 3
"""

# simhash_clusters oracle: recursive-CTE transitive closure of the
# member-level simhash pair graph (the fixpoint the large-star/small-star
# rounds converge to over the linear edge list).
_SIMHASH_CLUSTERS_SQL = f"""
with recursive {_SIMHASH_FP_CTES},
sp as (
  select a.id as id_a, b.id as id_b
  from fp a join fp b on a.id < b.id
  where bit_count(xor(a.fp, b.fp)) <= 3
),
edges as (
  select id_a as a, id_b as b from sp
  union select id_b, id_a from sp
),
reach(id, r) as (
  select doc_id, doc_id from documents
  union
  select rc.id, e.b from reach rc join edges e on e.a = rc.r
),
comp as (select id, min(r) as component from reach group by id)
select id, component, (component = id)::int as keep from comp
"""

# PII-scrub oracle: same patterns, same order (counts on the original
# text, sequential redaction) — Java regex and RE2 agree on these
# lookaround-free patterns.
def _pii_sql() -> str:
    from tetrex_spark.functions.analysis import PII_PATTERNS

    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}'))::int as n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    clean = "text"
    for _, pat, rep in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{rep}', 'g')"
    return f"""
        select doc_id as id, {clean} as clean_text, {counts}
        from documents
    """


_PII_SQL = _pii_sql()

_QUALITY_SQL = f"""
with n as (
  select doc_id as id, text, {_NORM_SQL_DUCK} as norm,
    list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                l -> l <> '') as lines
  from documents
), w as (
  select *, string_split(norm, ' ') as toks,
    case when length(norm) = 0 then 0
         else len(string_split(norm, ' ')) end as n_words
  from n
), b as (
  select *, case when n_words >= 2
    then list_transform(generate_series(1, n_words - 1),
                        i -> toks[i] || ' ' || toks[i + 1])
    else [] end as bigrams
  from w
), s as (
  select id, n_words,
    case when n_words = 0 then 0.0 else
      round((length(norm) - (n_words - 1))::double / n_words, 6)
    end as mean_word_len,
    case when len(lines) = 0 then 0.0 else
      round(1.0 - len(list_distinct(lines))::double / len(lines), 6)
    end as dup_line_frac,
    case when len(bigrams) = 0 then 0.0 else
      round(list_max(list_transform(list_distinct(bigrams),
              x -> len(list_filter(bigrams, y -> y = x))))::double
            / len(bigrams), 6)
    end as top_bigram_frac,
    case when n_words = 0 then 0.0 else
      round((length(text) - length(replace(text, '#', ''))
             + (length(text) - length(replace(text, '...', ''))) / 3)::double
            / n_words, 6)
    end as symbol_word_ratio,
    case when len(lines) = 0 then 0.0 else
      round(len(list_filter(lines,
              l -> starts_with(l, '- ') or starts_with(l, '* ')))::double
            / len(lines), 6)
    end as frac_bullet_lines,
    case when len(lines) = 0 then 0.0 else
      round(len(list_filter(lines, l -> l like '%...'))::double
            / len(lines), 6)
    end as frac_ellipsis_lines
  from b
)
select *,
  (n_words between 50 and 100000
   and mean_word_len between 3.0 and 10.0
   and dup_line_frac <= 0.30 and top_bigram_frac <= 0.18
   and symbol_word_ratio <= 0.10 and frac_bullet_lines <= 0.90
   and frac_ellipsis_lines <= 0.30)::int as keep
from s
"""

_LANGID_SQL = """
with n as (select doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') as toks from documents),
c as (
  select doc_id,
    len(list_filter(toks, x -> x in ('the','a','of','and','to','in','is','it','that','for'))) as c_en,
    len(list_filter(toks, x -> x in ('der','die','das','und','ist','nicht','ein','mit','auf','zu'))) as c_de,
    len(list_filter(toks, x -> x in ('le','la','les','et','est','un','une','dans','pour','que'))) as c_fr,
    len(list_filter(toks, x -> x in ('el','la','los','y','es','un','una','en','por','para'))) as c_es
  from n
)
select doc_id,
  case when greatest(c_en, c_de, c_es, c_fr) = 0 then 'und'
       when c_de = greatest(c_en, c_de, c_es, c_fr) then 'de'
       when c_en = greatest(c_en, c_de, c_es, c_fr) then 'en'
       when c_es = greatest(c_en, c_de, c_es, c_fr) then 'es'
       else 'fr' end as lang_pred
from c
"""
