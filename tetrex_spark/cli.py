"""CLI entry points — the `tetrex {index, query, inspect, track}`
surface (/root/reference/src/main.cpp:78-93,113-115) re-expressed for
spark-submit. Usage:

  spark-submit --py-files tetrex_spark.zip -m tetrex_spark.cli index \
      --corpus <parquet path | catalog table> --output <index_dir> [--bins 64 --k 3 --fpr 0.05]
  ... query  --index <index_dir> --corpus <parquet> --regex 'AC+G' [--regex-file f.tsv]
  ... inspect --index <index_dir>
  ... track  --corpus <parquet> --output <index_dir> [--min-gap 3 --max-gap 21]
      (track adds to the index `index` wrote; its bins come from the manifest)

The regex file format matches the reference's TSV (id \\t motif) source
(src/query.cpp:342-363); '-' reads patterns from stdin (S5, :479).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

from .sources.corpus import read_corpus


def _spark(app: str) -> SparkSession:
    return (
        SparkSession.builder.appName(f"tetrex_spark-{app}")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )


def read_regex_file(path: str) -> list[tuple[str, str]]:
    """TSV (id \\t motif) -> [(id, motif)] — S6 parity; '-' = stdin."""
    fh = sys.stdin if path == "-" else open(path)
    out = []
    for line in fh:
        line = line.rstrip("\n")
        if not line:
            continue
        qid, _, motif = line.partition("\t")
        out.append((qid, motif) if motif else (qid, qid))
    if fh is not sys.stdin:
        fh.close()
    return out


def cmd_index(args) -> int:
    from .plans.planner import MotifIndex

    spark = _spark("index")
    corpus = read_corpus(spark, args.corpus)
    salt = getattr(args, "salt_hot_hosts", None)
    if salt and salt != "auto":
        salt = salt.split(",")
    MotifIndex.build(
        corpus, args.output, n_bins=args.bins, k=args.k,
        fpr=args.fpr, n_hashes=args.hash_count, salt_hot_hosts=salt,
    )
    n = corpus.count()
    # build golden parity: 'Indexed N sequences across B bins.'
    # (/root/reference/test/cli/kbioreg_test.cpp:38-40)
    print(f"Indexed {n} documents across {args.bins} bins.")
    return 0


def cmd_query(args) -> int:
    from .plans.planner import MotifIndex

    spark = _spark("query")
    idx = MotifIndex.load(spark, args.index)
    corpus = read_corpus(spark, args.corpus)
    patterns = [("q0", args.regex)] if args.regex else read_regex_file(args.regex_file)
    if getattr(args, "syntax", "posix") == "prosite":
        from .plans.rx import prosite_to_posix

        patterns = [(qid, prosite_to_posix(m)) for qid, m in patterns]
    # one batched pruned scan for the whole pattern file (query_many) —
    # the reference loops queries sequentially (src/query.cpp:342-373).
    # Repeated query ids in the file are disambiguated (q1, q1#2, ...)
    # instead of silently dropping earlier lines
    seen: dict[str, int] = {}
    uniq: dict[str, str] = {}
    for qid, motif in patterns:
        n = seen.get(qid, 0)
        seen[qid] = n + 1
        uniq[qid if n == 0 else f"{qid}#{n + 1}"] = motif
    hits = idx.query_many(corpus, uniq)
    multi = len(patterns) > 1
    if args.output:
        hits.write.mode("overwrite").partitionBy("query_id").parquet(args.output)
    else:
        # S7 TSV sink parity: [qid \t] url \t match \t start,end
        for r in hits.collect():
            qid = f"{r['query_id']}\t" if multi else ""
            print(f"{qid}{r['url']}\t{r['match']}\t{r['start']},{r['end']}")
    return 0


def cmd_inspect(args) -> int:
    """S9 parity (src/inspect_idx.cpp): print index params + bin stats,
    read on the driver with no Spark session."""
    from .sources.sketch_store import read_manifest, read_sketch_table

    manifest = read_manifest(args.index)
    print(json.dumps({k: v for k, v in manifest.items() if k != "specs"}, indent=2))
    for spec in manifest["specs"]:
        print(f"spec: {json.dumps(spec)}")
    stats = read_sketch_table(args.index, ["name", "bin_id", "n_items"]).group_by(
        "name").aggregate([("bin_id", "count"), ("n_items", "sum"), ("n_items", "max")])
    for r in sorted(stats.to_pylist(), key=lambda r: r["name"]):
        print(f"{r['name']}: bins={r['bin_id_count']} items={r['n_items_sum']} "
              f"max_bin_items={r['n_items_max']}")
    return 0


def cmd_track(args) -> int:
    """`tetrex track` analog: add the d-gram (gapped-gram) filter
    (src/dGramIndex.cpp:20-38) to the motif index in --output, which
    `tetrex index` built."""
    from .plans.planner import MotifIndex

    try:
        idx = MotifIndex.load(None, args.output)
    except (FileNotFoundError, ValueError) as e:
        print(f"no motif index at {args.output} ({e}); build one with "
              "`tetrex index` first", file=sys.stderr)
        return 1
    spark = _spark("track")
    idx.track(read_corpus(spark, args.corpus), args.output,
              min_gap=args.min_gap, max_gap=args.max_gap, fpr=args.fpr)
    print(f"Tracked d-grams (gap {args.min_gap}..{args.max_gap}) "
          f"across {idx.manifest['n_bins']} bins.")
    return 0


def cmd_analyze(args) -> int:
    """Training-pipeline curation gates over a corpus (beyond the
    reference's surface): per-doc repetition/quality stats with keep
    flags, PII redaction, token/language stats, per-host aggregates —
    one parquet table per gate under --output/<gate>/."""
    from .functions.analysis import (
        host_stats,
        pii_scrub,
        repetition_quality,
        text_stats,
    )

    spark = _spark("analyze")
    corpus = read_corpus(spark, args.corpus)
    gates = {
        "quality": lambda: repetition_quality(corpus, id_col="url"),
        "pii": lambda: pii_scrub(corpus, id_col="url"),
        "stats": lambda: text_stats(corpus, id_col="url"),
        "hosts": lambda: host_stats(corpus),
    }
    selected = args.gates.split(",") if args.gates else list(gates)
    unknown = set(selected) - set(gates)
    if unknown:
        raise SystemExit(f"unknown gates: {sorted(unknown)}")
    for g in selected:
        gates[g]().write.mode("overwrite").parquet(f"{args.output}/{g}")
        print(f"{g}: wrote {args.output}/{g}")
    return 0


def _write_keep_list(keep, path: str) -> tuple[int, int]:
    """Write a keep-list to `path` and return its (rows, kept rows),
    observed on that write — no second pass over the written parquet."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("keep_totals")
    keep.observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.coalesce(F.sum("keep"), F.lit(0)).alias("kept"),
    ).write.mode("overwrite").parquet(path)
    return obs.get["total"], obs.get["kept"]


def cmd_dedup(args) -> int:
    """Resumable near-dup dedup over a corpus: MinHash-LSH (default) or
    SimHash pairs through the matching checkpointed pipeline (a killed
    run resumes at the first uncommitted stage; re-running a finished one
    only re-reads). Writes pairs/ (the member-level pair list) and keep/
    parquet under --output; stage lineage under --checkpoint.

    Both outputs are views of the pipeline's one RepLevelRun
    (operators.dedup): pairs/ is its pairs() expansion, and the keep-list
    comes from the rep-level graph, not from pairs/ — connected
    components run over the stored representative pairs, and each
    document takes its group representative's component
    (clusters.rep_keep_list) — the same rows as components over the
    member pairs, without re-reading a list that is quadratic in
    exact-dup cluster size. Row counts (lineage stages, pairs/) are read
    from the written parquet footers, and the keep totals are observed
    on the keep/ write, so no output is re-read to be counted."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F
    from pyspark.util import inheritable_thread_target

    from .lineage import CheckpointedDedup, CheckpointedSimhashDedup, parquet_rows
    from .operators.clusters import rep_keep_list

    spark = _spark("dedup")
    corpus = read_corpus(spark, args.corpus)
    # the sig/set pipeline keys on int64 ids; string ids (urls) map
    # through xxhash64 (collision odds ~n^2/2^64) and join back below
    keyed = corpus.withColumn("_did", F.xxhash64(F.col(args.id_col)))
    ckpt = args.checkpoint or f"{args.output}/_checkpoint"
    if args.method == "simhash":
        cd = CheckpointedSimhashDedup(
            ckpt, max_hamming=args.max_hamming, n_blocks=args.n_blocks,
            n_chunks=args.chunks,
        )
    else:
        cd = CheckpointedDedup(
            ckpt, k=args.k, threshold=args.threshold, n_chunks=args.chunks,
        )
    run = cd.run_rep_level(keyed, text_col=args.text_col, id_col="_did")
    ids = keyed.select(F.col("_did").alias("id"), F.col(args.id_col))

    # pairs/ and keep/ (components included) are independent readers of
    # the stored rep level and the members checkpoint, so they run as
    # concurrent jobs whose tasks back-fill each other's idle cores. The
    # threads inherit the caller's job group and tags.
    @inheritable_thread_target(spark)
    def write_pairs() -> None:
        run.pairs().write.mode("overwrite").parquet(f"{args.output}/pairs")

    @inheritable_thread_target(spark)
    def write_keep() -> tuple[int, int]:
        keep = (
            rep_keep_list(run.members, run.rep_pairs, run.reps)
            .join(ids, "id")
            .select(args.id_col, "component", "keep")
        )
        return _write_keep_list(keep, f"{args.output}/keep")

    with ThreadPoolExecutor(max_workers=2) as pool:
        pairs_done, keep_done = pool.submit(write_pairs), pool.submit(write_keep)
        pairs_done.result()
        total, kept = keep_done.result()
    print(f"Deduplicated {total} documents: kept {kept}, "
          f"{parquet_rows(f'{args.output}/pairs')} near-dup pairs.")
    return 0


def cmd_embdedup(args) -> int:
    """Resumable embedding near-dup over an embeddings table: hyperplane
    bucket chunks + packed-BLAS exact-cosine verify through
    CheckpointedCosineDedup, then the connected-components keep-list.
    Writes pairs/ and keep/ parquet under --output."""
    from .lineage import CheckpointedCosineDedup, parquet_rows, read_stored
    from .operators.clusters import dedup_keep_list

    spark = _spark("embdedup")
    df = read_corpus(spark, args.corpus)
    if args.vec_col not in df.columns:
        raise SystemExit(
            f"--vec-col {args.vec_col!r} not in {args.corpus}: "
            f"columns are {df.columns}"
        )
    first = df.select(args.vec_col).head()
    if first is None or first[args.vec_col] is None:
        raise SystemExit(f"{args.corpus} is empty — nothing to dedup")
    dim = len(first[args.vec_col])
    from .operators.similarity import resolve_hyperplane_plan

    n_planes, n_bands = resolve_hyperplane_plan(
        args.threshold, args.recall, args.n_planes, args.n_bands
    )
    print(
        f"hyperplane plan: {n_planes} planes x {n_bands} bands "
        f"(threshold {args.threshold}, target recall {args.recall})"
    )
    cd = CheckpointedCosineDedup(
        args.checkpoint or f"{args.output}/_checkpoint",
        dim=dim, threshold=args.threshold, n_chunks=args.chunks,
        n_planes=n_planes, n_bands=n_bands,
    )
    pairs = cd.run(df, vec_col=args.vec_col, id_col=args.id_col)
    pairs.write.mode("overwrite").parquet(f"{args.output}/pairs")
    stored = read_stored(spark, f"{args.output}/pairs")
    keep = dedup_keep_list(
        df.select(args.id_col), stored, id_col=args.id_col
    ).withColumnRenamed("id", args.id_col)
    total, kept = _write_keep_list(keep, f"{args.output}/keep")
    print(f"Deduplicated {total} vectors: kept {kept}, "
          f"{parquet_rows(f'{args.output}/pairs')} near-dup pairs.")
    return 0


def cmd_stripdup(args) -> int:
    """Substring-level dedup curation (Lee et al. 2021): write every
    maximal cross-doc shared span >= --min-len chars (spans/) and the
    cleaned corpus with all later copies of each span removed (clean/,
    lowest doc key survives). Span discovery runs ONCE; the committed
    spans/ parquet feeds the cleaning pass. The surviving copy is picked
    by the smallest doc key: the id column itself when integral, else a
    deterministic xxhash64 of it (stable but arbitrary precedence). The
    printed counts are read from the written parquet footers on the
    driver, so --output must be a driver-local path."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from .lineage import parquet_rows, read_stored
    from .operators.substring import strip_dup_spans, substring_dup_spans

    spark = _spark("stripdup")
    corpus = read_corpus(spark, args.corpus)
    integral = isinstance(
        corpus.schema[args.id_col].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    keyed = corpus.withColumn(
        "_did",
        F.col(args.id_col).cast("long") if integral
        else F.xxhash64(F.col(args.id_col)),
    )
    spans = substring_dup_spans(
        keyed, args.min_len, args.k, max_bucket=args.max_bucket,
        all_spans=True, text_col=args.text_col, id_col="_did",
    )
    spans.write.mode("overwrite").parquet(f"{args.output}/spans")
    stored = read_stored(spark, f"{args.output}/spans")
    clean = strip_dup_spans(
        keyed, args.min_len, args.k, spans=stored,
        text_col=args.text_col, id_col="_did",
    )
    if integral:
        out = clean.withColumnRenamed("doc_id", args.id_col)
    else:
        ids = keyed.select("_did", args.id_col)
        out = clean.join(
            ids, clean["doc_id"] == ids["_did"]
        ).select(args.id_col, "clean_text")
    out.write.mode("overwrite").parquet(f"{args.output}/clean")
    print(
        f"Stripped {parquet_rows(f'{args.output}/spans')} duplicated spans "
        f"across {parquet_rows(f'{args.output}/clean')} documents."
    )
    return 0


def cmd_membindex(args) -> int:
    """Freeze a corpus into a bucketed Bloom membership index (16 B/doc
    hash table partitioned by bucket + one sized filter per bucket), the
    once-per-freeze half of the incremental dedup gate."""
    from .operators.incremental import build_membership_index

    spark = _spark("membindex")
    stats = build_membership_index(
        read_corpus(spark, args.corpus), args.output,
        n_buckets=args.n_buckets, fpr=args.fpr,
        text_col=args.text_col, id_col=args.id_col,
    )
    print(
        f"Membership index: {stats['n_keys']} distinct texts in "
        f"{stats['n_filled_buckets']}/{args.n_buckets} buckets."
    )
    return 0


def _write_verdicts(docs, verdict, id_col: str, flag: str,
                    flagged_only: bool, path: str) -> tuple[int, int]:
    """Write `verdict` (one row per doc of `docs`: id_col, the boolean
    column `flag`, ...) to `path` — or, with `flagged_only`, the rows of
    `docs` whose flag is true — and return the verdict's (flagged, total)
    counts. The verdict plan runs once: an eager localCheckpoint feeds
    the write and one aggregate for both counts."""
    from pyspark.sql import functions as F

    verdict = verdict.localCheckpoint(eager=True)
    out = (
        docs.join(verdict.filter(F.col(flag)).select(id_col), id_col)
        if flagged_only else verdict
    )
    out.write.mode("overwrite").parquet(path)
    row = verdict.agg(
        F.count(F.when(F.col(flag), 1)).alias("flagged"),
        F.count(F.lit(1)).alias("total"),
    ).collect()[0]
    return row["flagged"], row["total"]


def _gate(args, app: str, gate, label: str) -> int:
    """Shared body of the gate commands: verdict an increment against a
    frozen index with `gate`, write it and print the new/total line."""
    spark = _spark(app)
    inc = read_corpus(spark, args.increment)
    verdict = gate(inc, args.index, text_col=args.text_col, id_col=args.id_col)
    n_new, n_all = _write_verdicts(
        inc, verdict, args.id_col, "is_new", args.new_only, args.output
    )
    print(f"{label}: {n_new}/{n_all} increment docs are new.")
    return 0


def cmd_membgate(args) -> int:
    """Gate a crawl increment against a frozen membership index: write
    (id, is_new) verdicts, or only the new rows with --new-only. Cost is
    proportional to the increment; the reference corpus is never read
    beyond the candidate buckets' hash files."""
    from .operators.incremental import incremental_exact_dedup

    return _gate(args, "membgate", incremental_exact_dedup, "Gate")


def cmd_ndindex(args) -> int:
    """Freeze a corpus's MinHash LSH state (sharded band buckets +
    shingle sets, exact-dup pre-collapse) — the once-per-freeze half of
    the incremental NEAR-dup gate."""
    from .operators.incremental import build_neardup_index

    spark = _spark("ndindex")
    stats = build_neardup_index(
        read_corpus(spark, args.corpus), args.output,
        threshold=args.threshold, k=args.k, num_perm=args.num_perm,
        bands=args.bands, n_shards=args.n_shards,
        max_bucket=args.max_bucket,
        text_col=args.text_col, id_col=args.id_col,
    )
    print(
        f"Near-dup index: {stats['n_reps']} representatives frozen "
        f"({stats['n_dropped_buckets']} over-cap buckets dropped)."
    )
    return 0


def cmd_ndgate(args) -> int:
    """Gate a crawl increment against a frozen near-dup index: write
    (id, is_new) verdicts, or only the genuinely-new rows with
    --new-only. Cost is proportional to the increment plus its LSH
    candidates; the frozen corpus text is never read."""
    from .operators.incremental import incremental_neardup_gate

    return _gate(args, "ndgate", incremental_neardup_gate, "Near-dup gate")


def cmd_decont(args) -> int:
    """Flag (or drop, with --clean-only) training docs sharing token
    n-grams with a benchmark/eval set."""
    from .operators.decontam import decontaminate

    spark = _spark("decont")
    docs = read_corpus(spark, args.corpus)
    bench = read_corpus(spark, args.benchmark)
    verdict = decontaminate(
        docs, bench, n=args.n, min_hits=args.min_hits,
        text_col=args.text_col, id_col=args.id_col,
        bench_text_col=args.bench_text_col,
    )
    n_clean, n_all = _write_verdicts(
        docs, verdict, args.id_col, "is_clean", args.clean_only, args.output
    )
    n_bad = n_all - n_clean
    print(f"Decontamination: {n_bad}/{n_all} docs contaminated.")
    return 0


def cmd_lmscore(args) -> int:
    """Fit a unigram LM on a reference corpus (or the corpus itself) and
    write per-doc perplexity scores."""
    from pyspark.sql import functions as F

    from .functions.lm import doc_logprob, unigram_model

    spark = _spark("lmscore")
    docs = read_corpus(spark, args.corpus)
    fit_on = read_corpus(spark, args.fit_corpus) if args.fit_corpus else docs
    model = unigram_model(fit_on, top_k=args.top_k, min_count=args.min_count,
                          text_col=args.text_col)
    scored = doc_logprob(docs, model, text_col=args.text_col,
                         id_col=args.id_col)
    scored.write.mode("overwrite").parquet(args.output)
    row = scored.agg(
        F.count("*").alias("n"),
        F.avg("perplexity").alias("mean_ppl"),
    ).collect()[0]
    print(f"Scored {row['n']} docs; mean perplexity {row['mean_ppl']:.2f}.")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="tetrex_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pi = sub.add_parser("index")
    pi.add_argument("--corpus", required=True)
    pi.add_argument("--output", required=True)
    pi.add_argument("--bins", type=int, default=64)
    pi.add_argument("--k", type=int, default=3)
    pi.add_argument("--fpr", type=float, default=0.05)
    pi.add_argument("--hash-count", type=int, default=3)
    pi.add_argument("--salt-hot-hosts", default=None,
                    help="'auto' (detect skewed hosts) or a comma host list")
    pi.set_defaults(fn=cmd_index)

    pq = sub.add_parser("query")
    pq.add_argument("--index", required=True)
    pq.add_argument("--corpus", required=True)
    pq_src = pq.add_mutually_exclusive_group(required=True)
    pq_src.add_argument("--regex")
    pq_src.add_argument("--regex-file")
    pq.add_argument("--syntax", choices=["posix", "prosite"], default="posix")
    pq.add_argument("--output")
    pq.set_defaults(fn=cmd_query)

    pins = sub.add_parser("inspect")
    pins.add_argument("--index", required=True)
    pins.set_defaults(fn=cmd_inspect)

    pt = sub.add_parser("track")
    pt.add_argument("--corpus", required=True)
    pt.add_argument("--output", required=True,
                    help="the index directory `index` wrote")
    pt.add_argument("--min-gap", type=int, default=3)
    pt.add_argument("--max-gap", type=int, default=21)
    pt.add_argument("--fpr", type=float, default=0.05)
    pt.set_defaults(fn=cmd_track)

    pa = sub.add_parser("analyze")
    pa.add_argument("--corpus", required=True)
    pa.add_argument("--output", required=True)
    pa.add_argument("--gates", default=None,
                    help="comma list of quality,pii,stats,hosts (default all)")
    pa.set_defaults(fn=cmd_analyze)

    pd_ = sub.add_parser("dedup")
    pd_.add_argument("--corpus", required=True)
    pd_.add_argument("--output", required=True)
    pd_.add_argument("--checkpoint", default=None,
                     help="stage-lineage dir (default <output>/_checkpoint)")
    pd_.add_argument("--id-col", default="url")
    pd_.add_argument("--text-col", default="text")
    pd_.add_argument("--method", choices=["minhash", "simhash"],
                     default="minhash")
    pd_.add_argument("--k", type=int, default=3,
                     help="minhash shingle width")
    pd_.add_argument("--threshold", type=float, default=0.8,
                     help="minhash jaccard threshold")
    pd_.add_argument("--max-hamming", type=int, default=3,
                     help="simhash hamming threshold")
    pd_.add_argument("--n-blocks", type=int, default=6,
                     help="simhash pigeonhole blocks (must exceed "
                          "--max-hamming; validated before any work runs)")
    pd_.add_argument("--chunks", type=int, default=8)
    pd_.set_defaults(fn=cmd_dedup)

    pe = sub.add_parser("embdedup")
    pe.add_argument("--corpus", required=True,
                    help="embeddings parquet/table: (id, array<float>)")
    pe.add_argument("--output", required=True)
    pe.add_argument("--checkpoint", default=None)
    pe.add_argument("--id-col", default="vec_id")
    pe.add_argument("--vec-col", default="embedding")
    pe.add_argument("--threshold", type=float, default=0.9)
    pe.add_argument("--recall", type=float, default=0.999,
                    help="target blocking recall AT the threshold; the "
                         "(planes, bands) plan is derived in closed form")
    pe.add_argument("--n-planes", type=int, default=None,
                    help="expert override (give with --n-bands)")
    pe.add_argument("--n-bands", type=int, default=None,
                    help="expert override (give with --n-planes)")
    pe.add_argument("--chunks", type=int, default=8)
    pe.set_defaults(fn=cmd_embdedup)

    ps = sub.add_parser("stripdup")
    ps.add_argument("--corpus", required=True)
    ps.add_argument("--output", required=True)
    ps.add_argument("--id-col", default="doc_id")
    ps.add_argument("--text-col", default="text")
    ps.add_argument("--min-len", type=int, default=40,
                    help="minimum duplicated span length (normalized chars)")
    ps.add_argument("--k", type=int, default=None,
                    help="anchor gram size (default min(32, min_len))")
    ps.add_argument("--max-bucket", type=int, default=512,
                    help="anchor bucket cap; over-cap buckets are "
                         "warn-logged and dropped")
    ps.set_defaults(fn=cmd_stripdup)

    pm = sub.add_parser("membindex")
    pm.add_argument("--corpus", required=True)
    pm.add_argument("--output", required=True)
    pm.add_argument("--id-col", default="doc_id")
    pm.add_argument("--text-col", default="text")
    pm.add_argument("--n-buckets", type=int, default=64,
                    help="hash-range buckets (size so one bucket's keys "
                         "fit a task: ~10M keys/bucket at scale)")
    pm.add_argument("--fpr", type=float, default=0.01)
    pm.set_defaults(fn=cmd_membindex)

    pg = sub.add_parser("membgate")
    pg.add_argument("--increment", required=True)
    pg.add_argument("--index", required=True)
    pg.add_argument("--output", required=True)
    pg.add_argument("--id-col", default="doc_id")
    pg.add_argument("--text-col", default="text")
    pg.add_argument("--new-only", action="store_true",
                    help="write the surviving increment rows instead of "
                         "(id, is_new) verdicts")
    pg.set_defaults(fn=cmd_membgate)

    pn = sub.add_parser("ndindex")
    pn.add_argument("--corpus", required=True)
    pn.add_argument("--output", required=True)
    pn.add_argument("--id-col", default="doc_id")
    pn.add_argument("--text-col", default="text")
    pn.add_argument("--threshold", type=float, default=0.8,
                    help="jaccard threshold the gate will enforce")
    pn.add_argument("--k", type=int, default=3, help="shingle width")
    pn.add_argument("--num-perm", type=int, default=128)
    pn.add_argument("--bands", type=int, default=32)
    pn.add_argument("--n-shards", type=int, default=None,
                    help="partition shards for buckets and sets (a small "
                         "increment reads only its shards); default: "
                         "scale-adaptive, ~100k reps per shard")
    pn.add_argument("--max-bucket", type=int, default=512,
                    help="bucket cap; over-cap buckets dropped and the "
                         "count recorded in params.json")
    pn.set_defaults(fn=cmd_ndindex)

    png = sub.add_parser("ndgate")
    png.add_argument("--increment", required=True)
    png.add_argument("--index", required=True)
    png.add_argument("--output", required=True)
    png.add_argument("--id-col", default="doc_id")
    png.add_argument("--text-col", default="text")
    png.add_argument("--new-only", action="store_true",
                     help="write the surviving increment rows instead of "
                          "(id, is_new) verdicts")
    png.set_defaults(fn=cmd_ndgate)

    pdc = sub.add_parser("decont")
    pdc.add_argument("--corpus", required=True)
    pdc.add_argument("--benchmark", required=True,
                     help="eval-set parquet/table with a text column")
    pdc.add_argument("--output", required=True)
    pdc.add_argument("--id-col", default="doc_id")
    pdc.add_argument("--text-col", default="text")
    pdc.add_argument("--bench-text-col", default="text")
    pdc.add_argument("--n", type=int, default=13, help="token n-gram width")
    pdc.add_argument("--min-hits", type=int, default=1,
                     help="shared distinct grams to count as contaminated")
    pdc.add_argument("--clean-only", action="store_true",
                     help="write surviving docs instead of verdicts")
    pdc.set_defaults(fn=cmd_decont)

    pl = sub.add_parser("lmscore")
    pl.add_argument("--corpus", required=True)
    pl.add_argument("--output", required=True)
    pl.add_argument("--fit-corpus", default=None,
                    help="reference corpus to fit the model on "
                         "(default: the corpus itself)")
    pl.add_argument("--id-col", default="doc_id")
    pl.add_argument("--text-col", default="text")
    pl.add_argument("--top-k", type=int, default=1_000_000)
    pl.add_argument("--min-count", type=int, default=1)
    pl.set_defaults(fn=cmd_lmscore)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
