"""substring_dup_spans: exact duplicated-span discovery.

Oracle in these tests = O(n·m) dynamic-programming longest-common-
substring over the normalized texts (the same contract the DuckDB
driver oracle re-states as an L-gram diagonal-run query): for every
pair with LCS >= min_len, the operator must report exactly (max length,
smallest (pos_a, pos_b) span start among maxima, 1-based)."""

import re

import numpy as np
import pytest


def _norm(s: str | None) -> str:
    return re.sub(r"\s+", " ", s).strip().lower() if s else ""


def _lcs(a: str, b: str):
    """(len, pos_a, pos_b) of the longest common substring, ties to the
    smallest (pos_a, pos_b); positions 1-based. Plain DP oracle."""
    a, b = _norm(a), _norm(b)
    best = (0, 0, 0)
    prev = np.zeros(len(b) + 1, dtype=np.int64)
    bb = np.frombuffer(b.encode(), dtype=np.uint8)
    for i in range(1, len(a) + 1):
        cur = np.zeros(len(b) + 1, dtype=np.int64)
        eq = bb == a[i - 1].encode()[0]
        cur[1:][eq] = prev[:-1][eq] + 1
        j = int(cur.argmax())
        if cur[j]:
            cand = (int(cur[j]), i - int(cur[j]) + 1, j - int(cur[j]) + 1)
            # max length; among maxima the smallest (pos_a, pos_b).
            # Scanning i ascending + argmax's first-j preference yields
            # the smallest pos for each fresh maximum already; only
            # replace on a strictly longer match.
            if cand[0] > best[0]:
                best = cand
        prev = cur
    return best


def _expected_pairs(rows, min_len):
    out = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            l, pa, pb = _lcs(rows[i][1], rows[j][1])
            if l >= min_len:
                out[(rows[i][0], rows[j][0])] = (l, pa, pb)
    return out


def _got_pairs(spark, rows, min_len, k=16, **kw):
    from tetrex_spark.operators.substring import substring_dup_spans

    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {
        (r["id_a"], r["id_b"]): (r["match_len"], r["pos_a"], r["pos_b"])
        for r in substring_dup_spans(df, min_len, k, **kw).collect()
    }


BOILER = ("all rights reserved this page uses cookies to improve your "
          "experience please accept our terms of service")


def test_planted_spans_match_dp_oracle(spark):
    rows = [
        (1, f"alpha document one {BOILER} and then unique tail one"),
        (2, f"beta document two with {BOILER} plus other unique text"),
        (3, "gamma shares nothing with the others in this small corpus"),
        (4, f"delta has the span twice {BOILER} middle {BOILER} end"),
        (5, "epsilon    has   WHITESPACE  and CASE variants: " + BOILER.upper()),
        (6, "short"),
        (7, None),
        (8, ""),
    ]
    want = _expected_pairs(rows, 40)
    got = _got_pairs(spark, rows, 40)
    assert got == want
    assert (1, 2) in got and (1, 5) in got  # normalization matters


def test_winnowing_guarantee_random_planted(spark):
    """Recall-1 property: a span of EXACTLY min_len planted at random
    offsets in otherwise-random text is always found (the winnowing
    window is sized so every qualifying span holds an anchor)."""
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz "))
    span = "".join(rng.choice(letters, 40)).replace(" ", "x")
    rows = []
    for i in range(12):
        pad_l = "".join(rng.choice(letters[:-1], int(rng.integers(0, 120))))
        pad_r = "".join(rng.choice(letters[:-1], int(rng.integers(0, 120))))
        rows.append((i, pad_l + span + pad_r))
    got = _got_pairs(spark, rows, 40)
    for i in range(12):
        for j in range(i + 1, 12):
            assert (i, j) in got, (i, j)
            assert got[(i, j)][0] >= 40


def test_below_min_len_not_reported(spark):
    shared39 = "the shared run here is exactly thirtynine"[:39]
    assert len(shared39) == 39
    # no whitespace abutting the span: boundary chars differ so the
    # shared run is exactly 39 normalized chars
    rows = [
        (1, f"aa q{shared39}q tail one padding padding padding padding"),
        (2, f"bb z{shared39}z tail two padding padding padding padding"),
    ]
    # the DP oracle confirms the premise (shared < 40)
    assert _lcs(rows[0][1], rows[1][1])[0] < 40
    assert _got_pairs(spark, rows, 40) == {}


def test_bucket_cap_drops_are_bounded_not_fatal(spark, caplog):
    """A span verbatim in more docs than max_bucket: whole-bucket drops
    (warn-logged by the shared cap machinery), never an error; with the
    cap lifted the full quadratic pair set appears."""
    rows = [(i, f"doc {i} prefix {BOILER} suffix number {i}")
            for i in range(10)]
    full = _got_pairs(spark, rows, 40, max_bucket=None)
    assert len(full) == 45  # C(10,2)
    capped = _got_pairs(spark, rows, 40, max_bucket=4)
    assert len(capped) < 45


def test_deterministic_across_partitionings(spark):
    rows = [(i, f"doc {i} body {BOILER} tail {i % 3}") for i in range(9)]
    rows += [(100 + i, f"unique {i} " + "filler words here " * 8)
             for i in range(6)]
    from tetrex_spark.operators.substring import substring_dup_spans

    outs = []
    for parts in (1, 7):
        df = spark.createDataFrame(rows, "doc_id long, text string") \
            .repartition(parts)
        outs.append(sorted(
            tuple(r) for r in
            substring_dup_spans(df, 40, 16).collect()
        ))
    assert outs[0] == outs[1]
    assert outs[0] == sorted(
        (a, b, *v) for (a, b), v in _expected_pairs(rows, 40).items()
    )


def _all_spans_oracle(a, b, min_len):
    """Islands oracle: every maximal shared span >= min_len between two
    normalized texts = the >= min_len diagonal runs of the exact char
    match matrix, stated via L-gram matches exactly like the DuckDB
    driver oracle. Returns {(len, pos_a, pos_b)} 1-based."""
    a, b = _norm(a), _norm(b)
    L = min_len
    grams = {}
    for j in range(len(b) - L + 1):
        grams.setdefault(b[j:j + L], []).append(j)
    by_diag = {}
    for i in range(len(a) - L + 1):
        for j in grams.get(a[i:i + L], ()):
            by_diag.setdefault(i - j, []).append(i)
    out = set()
    for d, pos in by_diag.items():
        pos.sort()
        run_start = prev = pos[0]
        for i in pos[1:] + [None]:
            if i is not None and i == prev + 1:
                prev = i
                continue
            out.add((prev - run_start + L, run_start + 1, run_start - d + 1))
            if i is not None:
                run_start = prev = i
    return out


REPEAT_DOC = f"start {BOILER} middle part {BOILER} closing remarks"


def test_all_spans_matches_islands_oracle(spark):
    from tetrex_spark.operators.substring import substring_dup_spans

    rows = [
        (1, f"alpha page {BOILER} tail one"),
        (2, REPEAT_DOC),                       # 1x2 alignment grid vs 1
        (3, f"third page also quotes {BOILER} here"),
        (4, "unrelated filler text " * 6),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in substring_dup_spans(df, 40, 16, all_spans=True).collect():
        got.setdefault((r["id_a"], r["id_b"]), set()).add(
            (r["match_len"], r["pos_a"], r["pos_b"])
        )
    want = {}
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            s = _all_spans_oracle(rows[i][1], rows[j][1], 40)
            if s:
                want[(rows[i][0], rows[j][0])] = s
    assert got == want
    assert len(got[(1, 2)]) == 2  # both copies in doc 2 aligned to doc 1


def test_strip_dup_spans_removes_later_copies(spark):
    """Lowest-id copy survives; every covered char in higher ids is cut;
    docs outside any pair pass through normalized; None/empty -> ''."""
    from tetrex_spark.operators.substring import strip_dup_spans

    rows = [
        (1, f"alpha page {BOILER} tail one"),
        (2, REPEAT_DOC),
        (3, f"third page also quotes {BOILER} here"),
        (4, "unrelated filler text " * 6),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["clean_text"]
           for r in strip_dup_spans(df, 40, 16).collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    assert got[1] == _norm(rows[0][1])          # lowest id keeps its copy
    assert BOILER not in got[2] and BOILER not in got[3]
    assert got[4] == _norm(rows[3][1])
    assert got[5] == "" and got[6] == ""
    # non-cascading one-pass contract: coverage from ORIGINAL text — the
    # exact removed intervals are the all-spans islands vs smaller ids
    for did, raw in [(2, rows[1][1]), (3, rows[2][1])]:
        t = _norm(raw)
        keep = np.ones(len(t), dtype=bool)
        for sid, sraw in [r for r in rows[:4] if r[0] < did]:
            for l, _, pb in _all_spans_oracle(sraw, raw, 40):
                keep[pb - 1:pb - 1 + l] = False
        assert got[did] == "".join(c for c, k0 in zip(t, keep) if k0)


def test_cli_stripdup_end_to_end(spark, tmp_path, capsys):
    """`tetrex_spark stripdup` on a string-keyed corpus: spans/ + clean/
    written; the boilerplate span survives in exactly one of the two
    planted docs (the smaller xxhash64 key), the other is cut."""
    from pyspark.sql import functions as F

    from tetrex_spark.cli import main
    from tetrex_spark.sources.corpus import webtext_small

    corpus = webtext_small(spark).limit(20)
    two = corpus.limit(2).withColumn(
        "text", F.concat(F.lit(BOILER + " and then "), F.col("text"))
    ).withColumn("url", F.concat(F.col("url"), F.lit("-planted")))
    corpus_path = str(tmp_path / "corpus")
    corpus.unionByName(two).write.parquet(corpus_path)
    out_dir = str(tmp_path / "strip_out")
    rc = main(["stripdup", "--corpus", corpus_path, "--output", out_dir,
               "--id-col", "url"])
    assert rc == 0
    assert "duplicated spans" in capsys.readouterr().out
    clean = {r["url"]: r["clean_text"]
             for r in spark.read.parquet(f"{out_dir}/clean").collect()}
    assert len(clean) == 22
    planted = [u for u in clean if u.endswith("-planted")]
    kept = [u for u in planted if BOILER in clean[u]]
    assert len(kept) == 1  # exactly one copy survives
    assert spark.read.parquet(f"{out_dir}/spans").count() >= 1


def test_min_len_validation(spark):
    from tetrex_spark.operators.substring import substring_dup_spans

    df = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_len"):
        substring_dup_spans(df, min_len=8, k=16)


def test_anchor_rows_density_and_coords(spark):
    """Anchors are winnowing-sparse (far fewer than one per char) and
    their (pos, hash) coordinates are consistent: re-hashing the k-gram
    at each reported position reproduces the anchor hash."""
    from tetrex_spark.functions.text import normalize_series
    from tetrex_spark.kernel.hashing import hash_char_kgrams_series
    from tetrex_spark.operators.substring import winnow_anchor_rows

    import pandas as pd

    text = ("spark shuffles partition data across executors while the "
            "optimizer prunes columns and pushes filters down " * 4)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    anchors = winnow_anchor_rows(df, 16, 25).collect()
    n = len(normalize_series(pd.Series([text])).iat[0])
    assert 0 < len(anchors) < n / 4  # density ~2/(w+1) ~ 0.077
    norm = normalize_series(pd.Series([text])).iat[0]
    for r in anchors:
        gram = norm[r["pos"]:r["pos"] + 16]
        h, _ = hash_char_kgrams_series(pd.Series([gram]), 16)
        assert h.view(np.int64)[0] == r["bh"]


def test_strip_dup_spans_non_ascii_no_crash(spark):
    """r6: span byte-offsets can split a multi-byte UTF-8 char; the strip
    pass must survive (decode falls back to dropping orphaned bytes)
    instead of raising UnicodeDecodeError, and ASCII docs in the same
    corpus keep byte-exact output."""
    from tetrex_spark.operators.substring import strip_dup_spans

    shared = "x" * 45  # a 45-char ASCII span shared verbatim
    rows = [
        (1, shared + " worldé tail one"),
        (2, shared + " worldü tail two"),
        (3, "an unrelated ascii document with nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["clean_text"]
           for r in strip_dup_spans(df, min_len=40, k=16).collect()}
    assert set(out) == {1, 2, 3}
    # doc 1 (lowest id) keeps the span; doc 2 loses it; doc 3 untouched
    assert shared in out[1]
    assert shared not in out[2]
    assert out[3] == rows[2][1]
    for t in out.values():  # every result is valid text
        t.encode()


def test_failure_after_candidates_leaks_no_storage(
    spark, fail_after, no_new_persisted_rdds
):
    """substring_dup_spans failing after its capped candidate plan ran
    (the pair-anchor checkpoint) leaves neither the cached anchor buckets
    nor the over-cap list persisted."""
    from tetrex_spark.operators.substring import substring_dup_spans

    rows = [(i, f"doc {i} {BOILER} tail {i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fail_after(type(df), "localCheckpoint")
    with no_new_persisted_rdds(allow_checkpoints=True), \
            pytest.raises(RuntimeError, match="injected"):
        substring_dup_spans(df, min_len=40, k=16, max_bucket=2)
