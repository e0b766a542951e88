"""D-gram (track) index: gap probes tighten candidates without losing
recall; CLI surface goldens."""

import hashlib
import json
import os
import re

import numpy as np
from pyspark.sql import functions as F
import pytest

from tetrex_spark.functions.text import corpus_text_series
from tetrex_spark.plans.planner import MotifIndex
from tetrex_spark.sources.corpus import webtext_small
from tetrex_spark.sources.sketch_store import read_sketch_payloads


@pytest.fixture(scope="module")
def tracked(spark, tmp_path_factory):
    corpus = webtext_small(spark)
    path = str(tmp_path_factory.mktemp("idx_dg"))
    idx = MotifIndex.build(corpus, path, n_bins=16, k=3)
    idx = idx.track(corpus, path, min_gap=1, max_gap=12)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    return corpus, idx, pdf


def _assert_every_gap_constrained(dgram, gaps, doc):
    """Every tracked gap's keys live in the one filter: at each gap a
    d-gram of `doc` is found, and an absent one rules out some bin (the
    probe is constrained, not all-ones)."""
    for gap in gaps:
        assert dgram.probe_gap(doc[:3], [gap], doc[3 + gap : 6 + gap]).any(), gap
        assert not dgram.probe_gap("qxj", [gap], "jxq").all(), gap


def test_dgram_loaded(tracked):
    _, idx, pdf = tracked
    assert idx.dgram is not None
    assert idx.dgram.min_gap == 1 and idx.dgram.max_gap == 12
    _assert_every_gap_constrained(idx.dgram, range(1, 13), pdf["norm"][0])


GAP_PATTERNS = ["w.{2}ld", "data.{2,6}merge", "merge.{1,4}index", "z.{3}yva"]


@pytest.mark.parametrize("pattern", GAP_PATTERNS)
def test_gap_queries_hit_set_equality(tracked, pattern):
    corpus, idx, pdf = tracked
    rx = re.compile(pattern, re.IGNORECASE)
    truth = set()
    for url, doc in zip(pdf["url"], pdf["norm"]):
        for m in rx.finditer(doc):
            truth.add((url, m.group(0), m.start(), m.end()))
    got = {
        (r["url"], r["match"], r["start"], r["end"])
        for r in idx.query(corpus, pattern).collect()
    }
    assert got == truth


def test_dgram_tightens_candidates(tracked, spark, tmp_path_factory):
    """The same query without the d-gram index must give a candidate set
    that is a superset of the tracked one (gap probes only remove bins)."""
    corpus, idx, pdf = tracked
    untracked = MotifIndex(idx.bloom, idx.manifest, idx.k, idx.alphabet, dgram=None)
    for pattern in GAP_PATTERNS:
        with_dg = set(idx.candidate_bins(pattern).bin_ids())
        without = set(untracked.candidate_bins(pattern).bin_ids())
        assert with_dg <= without
    # and for at least one pattern it strictly prunes on this corpus
    strict = any(
        set(idx.candidate_bins(p).bin_ids()) < set(untracked.candidate_bins(p).bin_ids())
        for p in GAP_PATTERNS
    )
    assert strict, "d-gram index never pruned anything"


def test_retrack_replaces_dgram_filter(tracked, spark, tmp_path):
    """Tracking again replaces the d-gram filter (it used to append a
    second row set that every later load refused): two tracks with other
    gaps and fpr end equal to one fresh track with the last settings."""
    corpus, fresh, _ = tracked
    path = str(tmp_path / "idx_retrack")
    idx = MotifIndex.build(corpus, path, n_bins=16, k=3)
    idx.track(corpus, path, min_gap=2, max_gap=4, fpr=0.01)
    idx = idx.track(corpus, path, min_gap=1, max_gap=12)
    reloaded = MotifIndex.load(spark, path)
    for got in (idx, reloaded):
        assert (got.dgram.min_gap, got.dgram.max_gap) == (1, 12)
        assert got.dgram.bloom.m_bits == fresh.dgram.bloom.m_bits
        assert np.array_equal(got.dgram.bloom.matrix, fresh.dgram.bloom.matrix)
        for pattern in GAP_PATTERNS:
            assert (got.candidate_bins(pattern).bin_ids()
                    == fresh.candidate_bins(pattern).bin_ids()), pattern


def test_track_into_another_directory_raises_before_any_job(spark, tmp_path):
    """`track` writes into its index's own directory only: another path
    raises before a Spark job runs and before anything is written there;
    a symlink to the index's directory is the same directory."""
    corpus = webtext_small(spark)
    path = tmp_path / "idx"
    idx = MotifIndex.build(corpus, str(path), n_bins=16, k=3)
    other = tmp_path / "other"
    sc = spark.sparkContext
    sc.setJobGroup("track-elsewhere", "track-elsewhere")
    try:
        with pytest.raises(ValueError, match="own directory"):
            idx.track(corpus, str(other), min_gap=1, max_gap=3)
    finally:
        sc.setJobGroup(None, None)
    assert not sc.statusTracker().getJobIdsForGroup("track-elsewhere")
    assert not other.exists()
    (tmp_path / "link").symlink_to(path)
    tracked = idx.track(corpus, str(tmp_path / "link"), min_gap=1, max_gap=3)
    assert (tracked.dgram.min_gap, tracked.dgram.max_gap) == (1, 3)


def test_failed_retrack_is_never_read_as_complete(spark, tmp_path, monkeypatch):
    """A re-track that dies at its last manifest write (the one that
    records the new gap range) leaves an index that loads untracked or
    with the new gaps, never with the old gap range over the new rows:
    a gap query keeps every true bin."""
    corpus = webtext_small(spark)
    path = str(tmp_path / "idx")
    idx = MotifIndex.build(corpus, path, n_bins=16, k=3)
    idx = idx.track(corpus, path, min_gap=1, max_gap=3)
    dump = json.dump

    def dump_fails_on_new_gaps(obj, *args, **kwargs):
        if isinstance(obj, dict) and obj.get("dgram", {}).get("max_gap") == 8:
            raise OSError("disk full")
        return dump(obj, *args, **kwargs)

    monkeypatch.setattr(json, "dump", dump_fails_on_new_gaps)
    with pytest.raises(OSError, match="disk full"):
        idx.track(corpus, path, min_gap=5, max_gap=8)
    monkeypatch.undo()
    loaded = MotifIndex.load(spark, path)
    assert loaded.dgram is None or (loaded.dgram.min_gap, loaded.dgram.max_gap) == (5, 8)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    pattern = "w.{2}ld"  # gap 2
    truth = {
        (url, m.group(0), m.start(), m.end())
        for url, doc in zip(pdf["url"], pdf["norm"])
        for m in re.finditer(pattern, doc, re.IGNORECASE)
    }
    assert truth
    got = {(r["url"], r["match"], r["start"], r["end"])
           for r in loaded.query(corpus, pattern).collect()}
    assert got == truth


def _index_digests(path):
    """sha256 of manifest.json, and of every (name, bin_id, payload) row
    of `rows/` in sorted order."""
    manifest = hashlib.sha256(open(os.path.join(path, "manifest.json"), "rb").read())
    rows = hashlib.sha256()
    for name, bin_rows in sorted(read_sketch_payloads(path).items()):
        for bin_id, payload in sorted(bin_rows):
            rows.update(name.encode() + b"\0" + str(bin_id).encode() + b"\0" + bytes(payload))
    return manifest.hexdigest(), rows.hexdigest()


# The index bytes of webtext_small (16 bins, k=3) after a track of gaps
# 1..6 and after a re-track of gaps 0..4 at fpr 0.01. They are the index
# format: a change to them needs a FORMAT_VERSION bump.
INDEX_DIGESTS = {
    None: [
        ("dd6926361cba07cabb64d745dd9ad515d3513c9f6e9e47c654380029411667c7",
         "60dff207e07c2e0f759ae2c1567602af86aa945266f0b3186b91695b96c23f36"),
        ("947aa16f3007b62de30228ccd78b0123b2e697b2fbacde5b7976851c8cb5e400",
         "7f8697c0f6de94a52f75846dda4eab5047feb8a8921f1d509f06a6629097e882"),
    ],
    "auto": [
        ("fbc283a16b44f9972565da6dae44f18e005da5589bdac38e9d29594aea908ed3",
         "51a214724c992b1de9417a21cdb965100faf518785276cf024df1bd0fa2d6d64"),
        ("098f833363c2086f50ab559f2d738558a173c23240c072bacc286515df7db3f0",
         "a82b938ed6e768406337907893fe8089aba7b5a090707ad14b39be527355d5de"),
    ],
}


@pytest.mark.parametrize("salt", [None, "auto"])
def test_index_bytes_after_track_and_retrack(spark, tmp_path, salt):
    corpus = webtext_small(spark)
    path = str(tmp_path / "idx")
    idx = MotifIndex.build(corpus, path, n_bins=16, k=3, salt_hot_hosts=salt, hot_factor=2.0)
    idx = idx.track(corpus, path, min_gap=1, max_gap=6)
    got = [_index_digests(path)]
    idx.track(corpus, path, min_gap=0, max_gap=4, fpr=0.01)
    got.append(_index_digests(path))
    assert got == INDEX_DIGESTS[salt]


def test_gap0_tracked_min_gap_zero(spark, tmp_path):
    """min_gap=0 support: a '.{0,2}' gap (gap set {0,1,2}) only prunes when
    gap-0 d-grams are tracked; hit-set equality must hold either way."""
    corpus = webtext_small(spark)
    path = str(tmp_path / "idx_g0")
    idx = MotifIndex.build(corpus, path, n_bins=16, k=3)
    idx = idx.track(corpus, path, min_gap=0, max_gap=4)
    pattern = "w.{0,2}ld"
    rx = re.compile(pattern, re.IGNORECASE)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    assert idx.dgram.min_gap == 0 and idx.dgram.max_gap == 4
    _assert_every_gap_constrained(idx.dgram, range(0, 5), pdf["norm"][0])
    truth = set()
    for url, doc in zip(pdf["url"], pdf["norm"]):
        for m in rx.finditer(doc):
            truth.add((url, m.group(0)))
    got = {(r["url"], r["match"]) for r in idx.query(corpus, pattern).collect()}
    assert got == truth
    # the probe is constrained (not all-ones) now that gap 0 is in range
    untracked = MotifIndex(idx.bloom, idx.manifest, idx.k, idx.alphabet, dgram=None)
    assert set(idx.candidate_bins(pattern).bin_ids()) <= set(
        untracked.candidate_bins(pattern).bin_ids()
    )


# -- CLI ---------------------------------------------------------------------


def test_cli_index_query_inspect(spark, tmp_path, capsys):
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import motif_mini

    corpus_path = str(tmp_path / "corpus")
    motif_mini(spark).write.parquet(corpus_path)
    idx_path = str(tmp_path / "idx")

    rc = main(["index", "--corpus", corpus_path, "--output", idx_path,
               "--bins", "2", "--k", "3"])
    out = capsys.readouterr().out
    assert rc == 0
    # reference golden shape: 'Indexed 4 sequences across 2 bins.'
    assert "Indexed 4 documents across 2 bins." in out

    rc = main(["query", "--index", idx_path, "--corpus", corpus_path,
               "--regex", "AC+G"])
    out = capsys.readouterr().out
    assert rc == 0
    lines = sorted(l for l in out.splitlines() if "\t" in l)
    assert lines == [
        "http://bin1.example/snippet1.1\taccg\t1,5",
        "http://bin1.example/snippet1.2\tacg\t1,4",
    ]

    sc = spark.sparkContext
    sc.setJobGroup("inspect", "inspect")
    try:
        rc = main(["inspect", "--index", idx_path])
    finally:
        sc.setJobGroup(None, None)
    out = capsys.readouterr().out
    assert rc == 0
    assert "char_bloom" in out and '"n_bins": 2' in out
    assert "char_bloom: bins=2 items=" in out
    # read on the driver: no Spark job
    assert not sc.statusTracker().getJobIdsForGroup("inspect")


def test_cli_regex_file(spark, tmp_path, capsys):
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import motif_mini

    corpus_path = str(tmp_path / "corpus2")
    motif_mini(spark).write.parquet(corpus_path)
    idx_path = str(tmp_path / "idx2")
    main(["index", "--corpus", corpus_path, "--output", idx_path, "--bins", "2"])
    capsys.readouterr()
    qfile = tmp_path / "queries.tsv"
    qfile.write_text("q1\tAC+G\nq2\tTTCC\n")
    rc = main(["query", "--index", idx_path, "--corpus", corpus_path,
               "--regex-file", str(qfile)])
    out = capsys.readouterr().out
    assert rc == 0
    assert "accg" in out and "ttcc" in out


def test_cli_analyze_writes_gate_tables(spark, tmp_path, capsys):
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import webtext_small

    corpus_path = str(tmp_path / "corpus")
    webtext_small(spark).write.parquet(corpus_path)
    out_dir = str(tmp_path / "gates")
    rc = main(["analyze", "--corpus", corpus_path, "--output", out_dir,
               "--gates", "quality,hosts"])
    assert rc == 0
    n_docs = webtext_small(spark).count()
    q = spark.read.parquet(f"{out_dir}/quality")
    assert q.count() == n_docs and "keep" in q.columns
    h = spark.read.parquet(f"{out_dir}/hosts")
    assert h.count() == 8  # webtext_small has 8 hosts
    import pytest as _pt
    with _pt.raises(SystemExit):
        main(["analyze", "--corpus", corpus_path, "--output", out_dir,
              "--gates", "nope"])


def test_cli_dedup_resumable_keep_list(spark, tmp_path, capsys):
    """`tetrex_spark dedup`: checkpointed pairs + CC keep-list; a second
    invocation resumes (no stage re-execution) and rewrites identical
    outputs."""
    import json

    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import webtext_small

    corpus_path = str(tmp_path / "corpus")
    corpus = webtext_small(spark)
    # plant an exact duplicate pair so the keep-list has a decision to make
    dup = corpus.limit(1).withColumn(
        "url", F.concat(F.col("url"), F.lit("-copy"))
    )
    corpus.unionByName(dup).write.parquet(corpus_path)
    out_dir = str(tmp_path / "dedup_out")
    rc = main(["dedup", "--corpus", corpus_path, "--output", out_dir,
               "--threshold", "0.7", "--chunks", "4"])
    assert rc == 0
    keep = spark.read.parquet(f"{out_dir}/keep")
    n = keep.count()
    assert n == 65  # 64 docs + the planted copy
    assert keep.filter("keep = 1").count() < n  # the copy was dropped
    pairs1 = {
        tuple(r) for r in spark.read.parquet(f"{out_dir}/pairs").collect()
    }
    # second run resumes: same outputs, no new stage commits
    lineage_path = f"{out_dir}/_checkpoint/lineage.jsonl"
    n_commits = sum(1 for _ in open(lineage_path))
    rc = main(["dedup", "--corpus", corpus_path, "--output", out_dir,
               "--threshold", "0.7", "--chunks", "4"])
    assert rc == 0
    assert sum(1 for _ in open(lineage_path)) == n_commits
    pairs2 = {
        tuple(r) for r in spark.read.parquet(f"{out_dir}/pairs").collect()
    }
    assert pairs1 == pairs2


def _rep_level_fixture(spark, path):
    """String ids (urls) over: a 4-copy exact-dup cluster at the head of
    a near-dup chain of three texts whose ends are not near-dups of each
    other, for each method (the SimHash edits were picked so that the
    fingerprints are 2, 2 and 4 bits apart), a duplicated text shorter
    than k=3 tokens, a duplicated text near nothing else, and unrelated
    singletons."""
    long_ = [f"word{i}" for i in range(120)]
    sh_chain = [list(long_), list(long_), list(long_)]
    sh_chain[1][2] = sh_chain[2][2] = "edit2"
    sh_chain[2][6] = "edit6"
    short = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
             "kilo lima mike november oscar papa quebec romeo sierra tango "
             "uniform victor whiskey xray yankee zulu").split()
    mh_chain = [list(short), list(short), list(short)]
    mh_chain[1][5] = mh_chain[2][5] = "changed"
    mh_chain[2][20] = "altered"
    texts = [" ".join(sh_chain[0])] * 4 + [" ".join(c) for c in sh_chain[1:]]
    texts += [" ".join(c) for c in mh_chain] + [" ".join(mh_chain[2])]
    texts += ["short doc", "short doc"]
    texts += [f"unrelated page {i} about topic {i * 7} with words {i * 13} "
              f"and more words {i * 31} here" for i in range(6)]
    texts.append(texts[-1])
    rows = [(f"http://h{i % 3}.example/p{i}", t) for i, t in enumerate(texts)]
    spark.createDataFrame(rows, "url string, text string").write.parquet(path)
    return rows


@pytest.mark.parametrize("method", ["minhash", "simhash"])
def test_cli_dedup_rep_level_keep_list_equals_member_pairs(spark, tmp_path, method):
    """The CLI's keep-list comes from the rep-level graph; it must equal
    connected components over the member-level pairs it writes to
    pairs/, for both methods."""
    from tetrex_spark.cli import main
    from tetrex_spark.operators.clusters import dedup_keep_list

    corpus_path = str(tmp_path / "corpus")
    rows = _rep_level_fixture(spark, corpus_path)
    out_dir = str(tmp_path / "out")
    assert main(["dedup", "--corpus", corpus_path, "--output", out_dir,
                 "--method", method, "--threshold", "0.7", "--chunks", "2"]) == 0
    docs = spark.read.parquet(corpus_path).withColumn(
        "_did", F.xxhash64("url")
    )
    pairs = spark.read.parquet(f"{out_dir}/pairs")
    url_of = {r["_did"]: r["url"] for r in docs.collect()}
    want = {
        (url_of[r["id"]], r["component"], r["keep"])
        for r in dedup_keep_list(docs, pairs, id_col="_did").collect()
    }
    got = {tuple(r) for r in spark.read.parquet(f"{out_dir}/keep").collect()}
    assert got == want and len(got) == len(rows)
    # the fixture exercises what it is meant to: the 4 copies share one
    # component, and a component holds two docs that are not paired (a
    # chain across exact-dup groups)
    paired = {
        frozenset((url_of[r["id_a"]], url_of[r["id_b"]]))
        for r in pairs.collect()
    }
    comps: dict = {}
    for url, comp, _ in got:
        comps.setdefault(comp, set()).add(url)
    assert any(len(c) >= 5 for c in comps.values())
    assert any(
        frozenset((a, b)) not in paired
        for c in comps.values() for a in c for b in c if a < b
    )


def test_cli_track_twice_on_index_dir(spark, tmp_path, capsys):
    """`track` on the directory `index` wrote takes its bins from the
    manifest; tracking again ends with the second run's gaps."""
    from tetrex_spark.cli import main

    corpus_path = str(tmp_path / "corpus")
    webtext_small(spark).write.parquet(corpus_path)
    path = str(tmp_path / "idx")
    assert main(["index", "--corpus", corpus_path, "--output", path, "--bins", "8"]) == 0
    assert main(["track", "--corpus", corpus_path, "--output", path,
                 "--min-gap", "2", "--max-gap", "4"]) == 0
    assert main(["track", "--corpus", corpus_path, "--output", path,
                 "--min-gap", "1", "--max-gap", "6"]) == 0
    assert "Tracked d-grams (gap 1..6) across 8 bins." in capsys.readouterr().out
    dgram = MotifIndex.load(spark, path).dgram
    assert (dgram.min_gap, dgram.max_gap) == (1, 6)
    assert dgram.bloom.n_bins == 8


def test_cli_track_without_index_fails_cleanly(spark, tmp_path, capsys):
    """`track` into an empty or missing directory exits non-zero with a
    message that names `tetrex index`, and writes nothing."""
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import motif_mini

    corpus_path = str(tmp_path / "corpus")
    motif_mini(spark).write.parquet(corpus_path)
    empty, missing = tmp_path / "empty", tmp_path / "missing"
    empty.mkdir()
    for out in (empty, missing):
        assert main(["track", "--corpus", corpus_path, "--output", str(out)]) != 0
        assert "tetrex index" in capsys.readouterr().err
    assert list(empty.iterdir()) == [] and not missing.exists()


def test_cli_regex_file_duplicate_qids_not_dropped(spark, tmp_path, capsys):
    """Repeated query ids in a TSV file must not silently drop earlier
    lines (they are disambiguated, every line queried)."""
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import motif_mini

    corpus_path = str(tmp_path / "corpus3")
    motif_mini(spark).write.parquet(corpus_path)
    idx_path = str(tmp_path / "idx3")
    main(["index", "--corpus", corpus_path, "--output", idx_path, "--bins", "2"])
    capsys.readouterr()
    qfile = tmp_path / "dup_queries.tsv"
    qfile.write_text("q1\tAC+G\nq1\tTTCC\n")
    rc = main(["query", "--index", idx_path, "--corpus", corpus_path,
               "--regex-file", str(qfile)])
    out = capsys.readouterr().out
    assert rc == 0
    qids = {l.split("\t")[0] for l in out.splitlines() if "\t" in l}
    assert qids == {"q1", "q1#2"}
    assert "accg" in out and "ttcc" in out


def test_cli_dedup_simhash_method(spark, tmp_path):
    """`dedup --method simhash` routes through CheckpointedSimhashDedup:
    pairs carry hamming, the keep-list drops the planted exact copy, and
    a re-run resumes without new stage commits."""
    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import webtext_small

    corpus_path = str(tmp_path / "corpus_sh")
    corpus = webtext_small(spark)
    dup = corpus.limit(1).withColumn(
        "url", F.concat(F.col("url"), F.lit("-copy"))
    )
    corpus.unionByName(dup).write.parquet(corpus_path)
    out_dir = str(tmp_path / "dedup_sh_out")
    rc = main(["dedup", "--corpus", corpus_path, "--output", out_dir,
               "--method", "simhash", "--chunks", "4"])
    assert rc == 0
    pairs = spark.read.parquet(f"{out_dir}/pairs")
    assert "hamming" in pairs.columns and pairs.count() >= 1
    keep = spark.read.parquet(f"{out_dir}/keep")
    assert keep.count() == 65 and keep.filter("keep = 1").count() < 65
    lineage_path = f"{out_dir}/_checkpoint/lineage.jsonl"
    n_commits = sum(1 for _ in open(lineage_path))
    assert main(["dedup", "--corpus", corpus_path, "--output", out_dir,
                 "--method", "simhash", "--chunks", "4"]) == 0
    assert sum(1 for _ in open(lineage_path)) == n_commits


def test_cli_embdedup_keep_list(spark, tmp_path):
    """`embdedup`: hyperplane-LSH + packed-BLAS verify over an embeddings
    table through CheckpointedCosineDedup; planted near-dup twins are
    clustered and dropped; resume adds no stage commits."""
    import numpy as np

    from tetrex_spark.cli import main

    rng = np.random.default_rng(5)
    base = rng.standard_normal((40, 16))
    rows = [(i, base[i].tolist()) for i in range(40)]
    for i in range(6):  # near-dup twins of vectors 0..5
        rows.append((100 + i, (base[i] + 0.01).tolist()))
    emb_path = str(tmp_path / "emb")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).write.parquet(emb_path)
    out_dir = str(tmp_path / "embdedup_out")
    rc = main(["embdedup", "--corpus", emb_path, "--output", out_dir,
               "--threshold", "0.9", "--chunks", "4"])
    assert rc == 0
    pairs = spark.read.parquet(f"{out_dir}/pairs")
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert {(i, 100 + i) for i in range(6)} <= got
    keep = spark.read.parquet(f"{out_dir}/keep")
    assert keep.count() == 46
    # each twin pair keeps exactly one member
    assert keep.filter("keep = 1").count() == 40
    lineage_path = f"{out_dir}/_checkpoint/lineage.jsonl"
    n_commits = sum(1 for _ in open(lineage_path))
    assert main(["embdedup", "--corpus", emb_path, "--output", out_dir,
                 "--threshold", "0.9", "--chunks", "4"]) == 0
    assert sum(1 for _ in open(lineage_path)) == n_commits
