"""End-to-end motif queries on Spark: index build -> candidate bins ->
pruned verify, checked for hit-set EQUALITY against a full-scan Python
`re` oracle (FIXTURES.md §6) — the reference's correctness bar
(test/cli/kbioreg_test.cpp golden hit-sets), exceeded with properties."""

import os
import re

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st

from tetrex_spark.functions.text import corpus_text_series
from tetrex_spark.plans.planner import MotifIndex
from tetrex_spark.sources.bin_text import corpus_fingerprint
from tetrex_spark.sources.corpus import motif_mini, motif_split5, webtext_small


def oracle_hits(pdf, pattern):
    """(url, match, start, end) via plain re over every normalized doc."""
    rx = re.compile(pattern, re.IGNORECASE)
    out = set()
    for url, doc in zip(pdf["url"], pdf["norm"]):
        for m in rx.finditer(doc):
            out.add((url, m.group(0), m.start(), m.end()))
    return out


def spark_hits(df):
    return {(r["url"], r["match"], r["start"], r["end"]) for r in df.collect()}


@pytest.fixture(scope="module")
def mini(spark, tmp_path_factory):
    corpus = motif_mini(spark)
    path = str(tmp_path_factory.mktemp("idx_mini"))
    idx = MotifIndex.build(corpus, path, n_bins=2, k=3)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    return corpus, idx, pdf


@pytest.fixture(scope="module")
def split5(spark, tmp_path_factory):
    corpus = motif_split5(spark)
    path = str(tmp_path_factory.mktemp("idx_split5"))
    idx = MotifIndex.build(corpus, path, n_bins=5, k=3)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    return corpus, idx, pdf


@pytest.fixture(scope="module")
def webtext(spark, tmp_path_factory):
    corpus = webtext_small(spark)
    path = str(tmp_path_factory.mktemp("idx_web"))
    idx = MotifIndex.build(corpus, path, n_bins=16, k=3)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    return corpus, idx, pdf


def test_reference_golden_acg(mini):
    """kbioreg_test.cpp:71-79: 'AC+G' -> Snippet1.1 ACCG, Snippet1.2 ACG."""
    corpus, idx, pdf = mini
    hits = spark_hits(idx.query(corpus, "AC+G"))
    assert hits == {
        ("http://bin1.example/snippet1.1", "accg", 1, 5),
        ("http://bin1.example/snippet1.2", "acg", 1, 4),
    }
    # candidate pruning really happened: bin2 excluded
    cand = idx.candidate_bins("AC+G")
    assert len(cand.bin_ids()) < 2 or not cand.full_scan


def test_reference_golden_split5(split5):
    """README.md:44-51: 'A(C+|G+)T' hits s1, s2, s4."""
    corpus, idx, pdf = split5
    hits = spark_hits(idx.query(corpus, "A(C+|G+)T"))
    assert hits == oracle_hits(pdf, "a(c+|g+)t")
    assert {u for (u, _, _, _) in hits} == {
        "http://s1.example/",
        "http://s2.example/",
        "http://s4.example/",
    }


WEB_PATTERNS = [
    "zyzzyva",
    "wor",
    "w.{2}ld",
    "approximate membership query",
    "filter (window|merge)",
    "qu+ery",
    "sp?ark",
    "data .{0,5}stream",
]


@pytest.mark.parametrize("pattern", WEB_PATTERNS)
def test_webtext_hit_set_equality(webtext, pattern):
    corpus, idx, pdf = webtext
    assert spark_hits(idx.query(corpus, pattern)) == oracle_hits(pdf, pattern)


def test_webtext_candidate_superset_and_pruning(webtext):
    corpus, idx, pdf = webtext
    res = idx.candidate_bins("approximate membership query")
    # superset of true bins
    from tetrex_spark.sources.corpus import with_bin_id

    binned = with_bin_id(corpus, 16).toPandas()
    pdf2 = pdf.merge(binned[["url"]].assign(bin_id=binned["bin_id"]), on="url")
    truth = set(pdf2[pdf2["norm"].str.contains("approximate membership query")]["bin_id"])
    assert truth <= set(res.bin_ids())
    # and it actually prunes (planted in 5 docs across <= 5 hosts of 16 bins)
    assert len(res.bin_ids()) < 16


def test_conjunctive_multi_motif(webtext):
    corpus, idx, pdf = webtext
    pats = ["zyzzyva", "filter"]
    urls = {r["url"] for r in idx.query_all(corpus, pats).collect()}
    truth = {
        u
        for u, d in zip(pdf["url"], pdf["norm"])
        if all(re.search(p, d) for p in pats)
    }
    assert urls == truth


def test_html_extraction_docs_are_searchable(webtext):
    """Docs with text=NULL must be found via the html extraction path."""
    corpus, idx, pdf = webtext
    null_urls = set(pdf[pdf["text"].isna()]["url"])
    assert null_urls
    # pick a token present in one of the html docs
    doc = pdf[pdf["text"].isna()].iloc[0]
    token = doc["norm"].split()[1]
    hits = {u for (u, _, _, _) in spark_hits(idx.query(corpus, token))}
    assert doc["url"] in hits


def test_salted_build_identical_hits_and_spread(spark, tmp_path, webtext):
    """MotifIndex.build(salt_hot_hosts='auto') on the skewed webtext
    corpus (h0 owns half the docs): the hot host is detected, recorded in
    the manifest, spread over multiple bins — and every query's hit set
    is byte-identical to the unsalted index (salted shards are ordinary
    bins; queries need zero caller involvement)."""
    from tetrex_spark.sources.corpus import with_bin_id

    corpus, idx_plain, pdf = webtext
    path = str(tmp_path / "idx_salted")
    idx = MotifIndex.build(
        corpus, path, n_bins=16, k=3, salt_hot_hosts="auto", hot_factor=2.0
    )
    assert idx.manifest["salted_hosts"] == ["h0.example"]
    # the hot host's docs really spread over > 1 bin now
    binned = with_bin_id(
        corpus, 16, salt_hot_hosts=idx.manifest["salted_hosts"],
        n_salt=idx.manifest["n_salt"],
    ).toPandas()
    h0_bins = set(binned[binned["url"].str.contains("//h0.example")]["bin_id"])
    assert len(h0_bins) > 1
    unsalted = with_bin_id(corpus, 16).toPandas()
    h0_before = set(unsalted[unsalted["url"].str.contains("//h0.example")]["bin_id"])
    assert len(h0_before) == 1
    # identical hit sets across patterns, salted index loaded fresh
    idx2 = MotifIndex.load(spark, path)
    for pattern in WEB_PATTERNS[:4]:
        assert spark_hits(idx2.query(corpus, pattern)) == oracle_hits(pdf, pattern)


def test_fused_sizing_alphabet_matches_two_pass(spark):
    """alphabet_and_sizing (one scan) == the two old pre-passes: same
    Bloom sizing bound, and an alphabet covering every char the indexed
    (extracted, normalized) text can contain."""
    from tetrex_spark.operators.sketch_build import max_bin_cardinality
    from tetrex_spark.plans.planner import alphabet_and_sizing
    from tetrex_spark.sources.corpus import with_bin_id

    corpus = webtext_small(spark)
    binned = with_bin_id(corpus, 16)
    n_max, alpha, bin_chars = alphabet_and_sizing(binned, 3)
    assert n_max == max_bin_cardinality(binned, "char_kgram", 3)
    pdf = corpus.toPandas()
    norm = corpus_text_series(pdf["text"], pdf["html"])
    assert set("".join(norm)) <= set(alpha)
    # per-bin characters: text, or the tag-stripped html where text is null
    pdf = binned.toPandas()
    stripped = pdf["html"].map(
        lambda h: None if h is None else re.sub("<[^>]*>", " ", bytes(h).decode()))
    chars = pdf["text"].fillna(stripped).str.len().groupby(pdf["bin_id"]).sum()
    assert bin_chars == {int(b): int(n) for b, n in chars.items()}


def test_query_many_equals_sequential(webtext):
    """Batched multi-pattern query (one pruned scan, per-pattern bin
    gating) returns exactly the per-pattern sequential hit sets."""
    corpus, idx, pdf = webtext
    pats = {f"q{i}": p for i, p in enumerate(WEB_PATTERNS[:5])}
    got = {}
    for r in idx.query_many(corpus, pats).collect():
        got.setdefault(r["query_id"], set()).add(
            (r["url"], r["match"], r["start"], r["end"])
        )
    for qid, p in pats.items():
        assert got.get(qid, set()) == oracle_hits(pdf, p.lower()), (qid, p)


def test_salt_refused_on_prebinned_corpus(spark, tmp_path):
    """Recording a salt that was never applied to a pre-binned corpus
    would silently re-bin hot hosts at query time (false negatives) —
    build must refuse instead."""
    from tetrex_spark.sources.corpus import with_bin_id

    corpus = with_bin_id(webtext_small(spark), 16)
    with pytest.raises(ValueError, match="salt_hot_hosts"):
        MotifIndex.build(
            corpus, str(tmp_path / "idx"), n_bins=16, k=3,
            salt_hot_hosts="auto",
        )


def test_query_many_is_single_scan(webtext):
    """The batched plan reads the corpus ONCE: exactly one scan node for
    N patterns (the whole point vs N sequential query() jobs)."""
    import contextlib
    import io

    corpus, idx, pdf = webtext
    out = idx.query_many(corpus, {p: p for p in WEB_PATTERNS[:4]})
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    import re as _re

    # the formatted plan prints each node in the tree AND the detail
    # section; count unique "(N) Scan" detail headers
    scans = _re.findall(r"^\(\d+\) Scan", plan, flags=_re.M)
    assert len(scans) == 1, plan


def test_salted_index_gap_query_consistent(spark, tmp_path, webtext):
    """track() on a salted index bins d-grams with the manifest's salted
    assignment — gap queries prune the same bins the grams were indexed
    under (hit sets equal the full-scan oracle)."""
    corpus, _, pdf = webtext
    path = str(tmp_path / "idx_salted_gap")
    idx = MotifIndex.build(
        corpus, path, n_bins=16, k=3, salt_hot_hosts="auto", hot_factor=2.0
    )
    assert idx.manifest["salted_hosts"]
    idx = idx.track(corpus, path, min_gap=0, max_gap=6)
    pattern = "data .{0,5}stream"
    assert spark_hits(idx.query(corpus, pattern)) == oracle_hits(pdf, pattern)


def test_bin_filter_and_projection_reach_parquet_scan(spark, tmp_path, webtext):
    """Scan-level evidence for the two scale claims the pruned verify
    makes: (1) the candidate-bin `isin` predicate is PUSHED into the
    parquet scan (PushedFilters: In(bin_id, ...)), (2) a projection that
    needs only (url, text) prunes the ReadSchema to those columns — the
    scan never decodes the rest of a wide corpus row."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from tetrex_spark.operators.verify import prune_to_bins
    from tetrex_spark.sources.corpus import with_bin_id

    corpus, _, _ = webtext
    p = str(tmp_path / "binned_corpus")
    with_bin_id(corpus, 16).write.mode("overwrite").parquet(p)
    stored = spark.read.parquet(p)
    pruned = prune_to_bins(stored, [1, 3, 5], 16).select("url", "text")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    import re as _re

    m = _re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "In(bin_id" in m.group(1), plan
    rs = _re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert rs is not None, plan
    read_cols = {c.split(":")[0] for c in rs.group(1).split(",") if c}
    assert read_cols == {"url", "text", "bin_id"}, read_cols
    # and the full-scan fallback (every bin a candidate) skips the filter
    assert prune_to_bins(stored, list(range(16)), 16) is stored


def test_bloom_rows_refuse_duplicate_bins():
    """Two rows for one bin are a corrupt table (e.g. an appended second
    build); loading one of them silently would depend on read order."""
    import numpy as np

    from tetrex_spark.kernel.bloom import BloomFilter
    from tetrex_spark.sources.sketch_store import BloomMatrix

    a = BloomFilter(512).update(np.array([1, 2], dtype=np.uint64)).to_bytes()
    b = BloomFilter(512).update(np.array([3], dtype=np.uint64)).to_bytes()
    assert BloomMatrix.from_rows([(0, a), (1, b)], 2).n_bins == 2
    with pytest.raises(ValueError, match="duplicate"):
        BloomMatrix.from_rows([(0, a), (1, b), (0, b)], 2)


def test_old_format_version_refused(tmp_path):
    """Format 1 kept one d-gram filter per gap; such a directory must be
    refused with a rebuild message, not read as the one-filter layout."""
    import json

    from tetrex_spark.functions.text import TOKENIZER_VERSION
    from tetrex_spark.sources.sketch_store import read_manifest

    (tmp_path / "manifest.json").write_text(json.dumps({
        "format_version": 1, "tokenizer_version": TOKENIZER_VERSION,
        "n_bins": 2, "specs": [],
    }))
    with pytest.raises(ValueError, match="rebuild required"):
        read_manifest(str(tmp_path))


def test_format_2_refused(spark, tmp_path, webtext):
    """Format 2 had no per-bin character totals or corpus fingerprint, so
    its queries could not choose the driver path: a format 2 index is
    refused with a rebuild message, not read."""
    import json

    _, idx, _ = webtext
    manifest = {k: v for k, v in idx.manifest.items()
                if k not in ("bin_chars", "corpus_fingerprint")}
    (tmp_path / "manifest.json").write_text(json.dumps({**manifest, "format_version": 2}))
    with pytest.raises(ValueError, match="rebuild required"):
        MotifIndex.load(spark, str(tmp_path))


# -- the driver-side verify over the bin-sorted text copy -------------------


def _n_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group) or [])


def _both_paths(spark, idx, corpus, call):
    """(rows, jobs) of `call(idx, corpus)` on the indexed file scan, which
    verifies on the driver, and on a filtered view of it, which is not a
    bare file scan and so runs the Spark scan."""
    spark_corpus = corpus.filter("url is not null")
    local, n_local = _n_jobs(spark, "driver-path", lambda: call(idx, corpus).collect())
    remote, n_remote = _n_jobs(spark, "spark-path", lambda: call(idx, spark_corpus).collect())
    assert n_local == 0 and n_remote > 0, (n_local, n_remote)
    return sorted(map(tuple, local)), sorted(map(tuple, remote))


@pytest.fixture(scope="module")
def webfiles(spark, tmp_path_factory):
    """webtext_small stored as 3 parquet files and read back (a bare file
    scan), indexed with a text copy and tracked for gap queries."""
    root = tmp_path_factory.mktemp("webfiles")
    webtext_small(spark).repartition(3).write.parquet(str(root / "corpus"))
    corpus = spark.read.parquet(str(root / "corpus"))
    idx = MotifIndex.build(corpus, str(root / "idx"), n_bins=16, k=3)
    assert idx.manifest["corpus_fingerprint"] is not None
    idx = idx.track(corpus, str(root / "idx"), min_gap=0, max_gap=6)
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    return corpus, idx, pdf


@pytest.mark.parametrize("pattern", [
    "zyzzyva",                # literal
    "filter (window|merge)",  # alternation with a capture group
    "w.{2}ld",                # gap
    "data .{0,5}stream",      # gap, tracked range
    "qjxzvq",                 # no match, (almost surely) no candidate bin
])
def test_driver_path_equals_spark_path(spark, webfiles, recwarn, pattern):
    corpus, idx, pdf = webfiles
    local, remote = _both_paths(
        spark, idx, corpus, lambda i, c: i.query(c, pattern))
    assert local == remote
    assert {(u, m, s, e) for u, m, s, e in local} == oracle_hits(pdf, pattern)
    assert not [w for w in recwarn if "match groups" in str(w.message)]


@pytest.mark.parametrize("pattern", [
    "zyzzyva",                # literal
    "filter (window|merge)",  # alternation with a capture group
    "w.{2}ld",                # gap
    "the",                    # unselective: a candidate in every non-empty bin
    "^.{3}",                  # trims to an empty pattern: every bin, no prune
])
def test_query_is_one_pattern_query_many(spark, webfiles, pattern):
    """`query` returns `query_many`'s rows for the one pattern, without
    the query id, on the driver path and on the Spark path."""
    corpus, idx, _ = webfiles
    if pattern == "^.{3}":
        assert idx.candidate_bins(pattern).bins.all()
    one = _both_paths(spark, idx, corpus, lambda i, c: i.query(c, pattern))
    many = _both_paths(spark, idx, corpus, lambda i, c: i.query_many(c, {"q": pattern}))
    for rows, qid_rows in zip(one, many):
        assert rows and rows == [r[1:] for r in qid_rows]


def test_driver_path_query_many_and_query_all(spark, webfiles):
    corpus, idx, pdf = webfiles
    pats = {f"q{i}": p for i, p in enumerate(WEB_PATTERNS)}
    local, remote = _both_paths(
        spark, idx, corpus, lambda i, c: i.query_many(c, pats))
    assert local == remote
    for qid, p in pats.items():
        assert {r[1:] for r in local if r[0] == qid} == oracle_hits(pdf, p), qid
    both = ["zyzzyva", "filter"]
    local, remote = _both_paths(
        spark, idx, corpus, lambda i, c: i.query_all(c, both))
    assert local == remote
    assert {u for (u,) in local} == {
        u for u, d in zip(pdf["url"], pdf["norm"]) if all(p in d for p in both)
    }


def test_driver_path_reads_html_of_null_text_rows(spark, webfiles):
    """The copy keeps html only where text is null, and the driver verify
    extracts it like the Spark verify does."""
    corpus, idx, pdf = webfiles
    doc = pdf[pdf["text"].isna()].iloc[0]
    token = doc["norm"].split()[1]
    local, remote = _both_paths(spark, idx, corpus, lambda i, c: i.query(c, token))
    assert local == remote
    assert doc["url"] in {u for u, _, _, _ in local}


def test_driver_path_salted_and_prebinned(spark, tmp_path, webfiles):
    """The copy carries the build's bin ids: a salted assignment
    (salt_hot_hosts='auto') and a pre-binned corpus's own bin_id."""
    from tetrex_spark.sources.corpus import with_bin_id

    corpus, _, pdf = webfiles
    salted = MotifIndex.build(corpus, str(tmp_path / "salted"), n_bins=16, k=3,
                              salt_hot_hosts="auto", hot_factor=2.0)
    assert salted.manifest["salted_hosts"] == ["h0.example"]
    with_bin_id(corpus, 16, salt_hot_hosts=["h0.example"]).write.parquet(
        str(tmp_path / "prebinned"))
    prebinned = spark.read.parquet(str(tmp_path / "prebinned"))
    pre_idx = MotifIndex.build(prebinned, str(tmp_path / "pre_idx"), n_bins=16, k=3)
    for idx, c in ((salted, corpus), (pre_idx, prebinned)):
        for pattern in WEB_PATTERNS[:4]:
            local, remote = _both_paths(spark, idx, c, lambda i, c: i.query(c, pattern))
            assert local == remote
            assert set(local) == oracle_hits(pdf, pattern)


def test_rewritten_corpus_file_falls_back_to_spark(spark, tmp_path):
    """Rewriting one corpus file changes the fingerprint: the query scans
    the corpus with Spark, and answers from the new rows, not from the
    index's now stale text copy."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "corpus")
    webtext_small(spark).repartition(2).write.parquet(path)
    idx = MotifIndex.build(spark.read.parquet(path), str(tmp_path / "idx"), n_bins=16, k=3)
    victim = next(f.path for f in os.scandir(path) if f.name.endswith(".parquet")
                  and spark.read.parquet(f.path).filter(F.col("text").contains("zyzzyva")).count())
    kept = spark.read.parquet(victim).filter(~F.col("text").contains("zyzzyva")).toPandas()
    os.remove(victim)
    spark.createDataFrame(kept, spark.read.parquet(path).schema).coalesce(1) \
        .write.parquet(str(tmp_path / "rewrite"))
    (new_file,) = (f.path for f in os.scandir(tmp_path / "rewrite") if f.name.endswith(".parquet"))
    os.replace(new_file, victim)
    # the local file system's checksum file goes with it
    crc = lambda f: os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")  # noqa: E731
    os.replace(crc(new_file), crc(victim))

    corpus = spark.read.parquet(path)
    assert corpus_fingerprint(corpus) != idx.manifest["corpus_fingerprint"]
    rows, n_jobs = _n_jobs(spark, "stale", lambda: idx.query(corpus, "zyzzyva").collect())
    assert n_jobs > 0
    pdf = corpus.toPandas()
    pdf["norm"] = corpus_text_series(pdf["text"], pdf["html"])
    assert spark_hits(idx.query(corpus, "zyzzyva")) == oracle_hits(pdf, "zyzzyva")
    assert len(rows) < 37  # the copy still holds all 37 planted tokens


@pytest.mark.parametrize("failing", ["write_bin_text", "write_sketch_rows"])
def test_failed_build_leaves_no_manifest(
    spark, tmp_path, monkeypatch, webfiles, failing, no_new_persisted_rdds
):
    """Either side of the build failing (the text-copy write in its thread,
    or the sketch write) fails the build after joining the other, and
    leaves no manifest, also where a previous build stood, so `load`
    refuses the directory; nothing stays persisted."""
    from tetrex_spark.plans import planner

    corpus, _, _ = webfiles
    path = str(tmp_path / "idx")
    MotifIndex.build(corpus, path, n_bins=16, k=3)

    def boom(*args, **kwargs):
        raise RuntimeError("injected write failure")

    monkeypatch.setattr(planner, failing, boom)
    with no_new_persisted_rdds(), pytest.raises(RuntimeError, match="injected"):
        MotifIndex.build(corpus, path, n_bins=16, k=3)
    with pytest.raises(FileNotFoundError):
        MotifIndex.load(spark, path)


# -- the document prefilter of unselective patterns --------------------------

_DOC_CHARS = list("abcdeABCDE") + [" ", "\t", "\n", "\xa0", " ", "\x1c"]


@settings(max_examples=150, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.text(alphabet=_DOC_CHARS, min_size=1, max_size=30), st.booleans()),
        min_size=1, max_size=8,
    ),
    k=st.sampled_from([3, 5]),
    data=st.data(),
)
def test_prefilter_keeps_every_matching_document(rows, k, data):
    """The document prefilter (the NFA traversal over each document's exact
    grams, gap terms dropped) keeps every document the verify regex
    matches: upper case, Unicode whitespace (folded by the normalizer on
    both sides) and html-only rows, under literal, dot, class,
    alternation and gap patterns drawn from the documents."""
    from tetrex_spark.functions.text import normalize_query
    from tetrex_spark.plans.nfa import compile_nfa
    from tetrex_spark.plans.rx import trim_regex
    from tetrex_spark.plans.traverse import DocGrams, collect

    text = pd.Series([None if html else t for t, html in rows], dtype="object")
    html = pd.Series([f"<p>{t}</p>".encode() if html else None for t, html in rows],
                     dtype="object")
    docs = corpus_text_series(text, html).tolist()
    src = data.draw(st.sampled_from([d for d in docs if d] or ["abc"]))
    i = data.draw(st.integers(0, max(len(src) - 1, 0)))
    s = src[i:i + data.draw(st.integers(3, 9))] or "abc"
    other = data.draw(st.sampled_from(docs))[:6] or "e"
    j = data.draw(st.integers(0, len(s) - 1))
    pattern = data.draw(st.sampled_from([
        s,
        s[:j] + "." + s[j + 1:],
        s[:j] + f"[{s[j]}x]" + s[j + 1:],
        f"({s}|{other})",
        f"{s[:j]}.{{0,3}}{s[j:]}",
    ]))
    if data.draw(st.booleans()):
        pattern = pattern.upper().replace(" ", "\xa0")
    rx = re.compile(normalize_query(pattern), re.IGNORECASE)
    trimmed = trim_regex(normalize_query(pattern))
    alphabet = frozenset("".join(docs)) | {" "}
    if trimmed:
        res = collect(compile_nfa(trimmed, k, alphabet), DocGrams(docs), k)
        kept = np.ones(len(docs), dtype=bool) if res.full_scan else res.bins
    else:
        kept = np.ones(len(docs), dtype=bool)
    for d, keep in zip(docs, kept):
        assert keep or not rx.search(d), (pattern, d)


# constrained patterns whose candidate bins hold 22.5k-45k of the webfiles
# corpus's 45k characters, of which the prefilter keeps 3k-18k (k = 3: a
# trigram of common words is in most documents)
UNSELECTIVE = [
    "zyzzyva (data|filter)",  # alternation
    "dup token",              # literal
    "d[aeiou]p token",        # class
    "zyzzyva d.ta",           # dot
    "zyzzyva .{0,3}filter",   # gap
]


@pytest.fixture
def prefiltered(monkeypatch):
    """The driver verify bound lowered to 22k characters: under every
    UNSELECTIVE pattern's candidate characters, above what the prefilter
    keeps of them. Yields the document counts the prefilter traversed."""
    from tetrex_spark.plans import planner
    from tetrex_spark.plans.traverse import DocGrams

    runs = []

    class CountingDocGrams(DocGrams):
        def __init__(self, texts):
            runs.append(len(texts))
            super().__init__(texts)

    monkeypatch.setattr(planner, "DRIVER_VERIFY_MAX_CHARS", 22_000)
    monkeypatch.setattr(planner, "DocGrams", CountingDocGrams)
    return runs


@pytest.mark.parametrize("pattern", UNSELECTIVE)
def test_prefilter_driver_rows_equal_spark_rows(spark, webfiles, prefiltered, pattern):
    """An unselective pattern forced through the prefilter: the driver
    rows equal the Spark rows and the oracle's, through query, query_many
    and query_all, and the prefilter really ran on the driver path."""
    corpus, idx, pdf = webfiles
    (scan,) = idx._scans([pattern])
    assert scan.nfa is not None and idx._chars(scan.bins) > 22_000
    local, remote = _both_paths(spark, idx, corpus, lambda i, c: i.query(c, pattern))
    assert prefiltered and local == remote
    assert set(local) == oracle_hits(pdf, pattern)
    pats = {"u": pattern, "d": "zyzzyva d.ta", "none": "qjxzvq"}
    local, remote = _both_paths(spark, idx, corpus, lambda i, c: i.query_many(c, pats))
    assert local == remote
    for qid, p in pats.items():
        assert {r[1:] for r in local if r[0] == qid} == oracle_hits(pdf, p), qid
    both = [pattern, "zyzzyva"]
    local, remote = _both_paths(spark, idx, corpus, lambda i, c: i.query_all(c, both))
    assert local == remote
    rxs = [re.compile(p, re.IGNORECASE) for p in both]
    assert {u for (u,) in local} == {
        u for u, d in zip(pdf["url"], pdf["norm"]) if all(r.search(d) for r in rxs)
    }


def test_prefilter_survivors_over_the_bound_go_to_spark(spark, webfiles, prefiltered):
    """'the' is constrained, but 57 of 64 documents hold it: the
    prefilter keeps 43k characters, over the bound, so the query takes the
    Spark verify, with the oracle's rows."""
    corpus, idx, pdf = webfiles
    rows, n_jobs = _n_jobs(spark, "prefilter-over", lambda: idx.query(corpus, "the").collect())
    assert prefiltered and n_jobs > 0
    assert {tuple(r) for r in rows} == oracle_hits(pdf, "the")


@pytest.mark.parametrize("pattern", [
    "[^x]{3}zyzzyva", ".?zyzzyva", "[a-z]+filter", "[^q]{2}data .{0,5}stream",
])
def test_leading_quantified_atom_query(spark, webfiles, pattern):
    """A leading uninformative atom with a quantifier is trimmed whole, so
    the query plans (it raised IndexError in the NFA build) and answers
    like the oracle on both verify paths."""
    corpus, idx, pdf = webfiles
    assert not idx.candidate_bins(pattern).full_scan
    local, remote = _both_paths(spark, idx, corpus, lambda i, c: i.query(c, pattern))
    assert local == remote
    assert set(local) == oracle_hits(pdf, pattern)
