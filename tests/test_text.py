import re

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from tetrex_spark.functions.text import (
    char_kgram_hashes_series,
    corpus_text_series,
    extract_text_from_html_series,
    hash_char_kgram,
    hash_token_shingle,
    normalize_query,
    normalize_series,
    token_shingle_hashes_series,
)


def test_normalize_matches_query_normalizer():
    raw = "  The   QUICK\tBrown\nFox  "
    assert normalize_series(pd.Series([raw])).iloc[0] == normalize_query(raw)
    assert normalize_query(raw) == "the quick brown fox"


def _regex_normalize(s: pd.Series) -> pd.Series:
    """The regex form the normalizer replaced: the reference for its output."""
    return s.fillna("").str.lower().str.replace(r"\s+", " ", regex=True).str.strip()


def test_normalize_whitespace_is_re_whitespace_at_every_code_point():
    r"""`str.split()`/`str.strip()` and `re`'s `\s` select the same 29 code
    points, so the split form normalizes every character as the regex
    form does (TOKENIZER_VERSION unchanged)."""
    every = "".join(map(chr, range(0x110000)))
    spaces = re.findall(r"\s", every)
    assert spaces == [c for c in every if c.isspace()] and len(spaces) == 29
    joined = "x".join(every)
    assert normalize_query(joined) == re.sub(r"\s+", " ", joined.lower()).strip()
    assert normalize_series(pd.Series([joined])).iat[0] == normalize_query(joined)


_ws_text = st.text(alphabet=st.sampled_from(
    list("aZ\u0130\u00df.") + [" ", "\t", "\n", "\r", "\x0b", "\x0c", "\x1c", "\x1f",
                              "\x85", "\xa0", "\u1680", "\u2003", "\u2028", "\u3000", "\u200b"]
), max_size=40)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(st.none(), _ws_text), max_size=8))
def test_normalize_series_equals_regex_form(docs):
    s = pd.Series(docs, dtype="object", index=range(10, 10 + len(docs)))
    got = normalize_series(s)
    assert got.index.equals(s.index)
    assert got.tolist() == _regex_normalize(s).tolist()
    assert got.tolist() == [normalize_query(d or "") for d in docs]


def test_extract_html_deterministic_and_byte_identical():
    html = b"<html><head><title>t</title></head><body><p>Hello  World</p></body></html>"
    s = pd.Series([html, html, None], dtype="object")
    out1 = extract_text_from_html_series(s)
    out2 = extract_text_from_html_series(s)
    assert out1.iloc[0] == out1.iloc[1] == out2.iloc[0]
    assert out1.iloc[2] is None
    assert "Hello  World" in out1.iloc[0]
    assert "<" not in out1.iloc[0]


def test_corpus_text_prefers_text_falls_back_to_html():
    text = pd.Series(["Direct Text", None])
    html = pd.Series([None, b"<body>From HTML</body>"], dtype="object")
    out = corpus_text_series(text, html)
    assert out.iloc[0] == "direct text"
    assert out.iloc[1] == "from html"


def test_token_shingles_match_driver_side_hash():
    docs = pd.Series(["the quick brown fox jumps", "a b", ""])
    k = 3
    hashes, counts = token_shingle_hashes_series(docs, k)
    assert list(counts) == [3, 0, 0]
    toks = "the quick brown fox jumps".split()
    for i in range(3):
        assert int(hashes[i]) == hash_token_shingle(toks[i : i + k])


def test_token_shingles_k1_are_token_hashes():
    docs = pd.Series(["spark join spark"])
    hashes, counts = token_shingle_hashes_series(docs, 1)
    assert counts[0] == 3
    assert hashes[0] == hashes[2] != hashes[1]
    assert int(hashes[0]) == hash_token_shingle(["spark"])


def test_token_shingle_order_sensitivity():
    a = hash_token_shingle(["alpha", "beta"])
    b = hash_token_shingle(["beta", "alpha"])
    assert a != b


def test_char_kgrams_match_driver_side():
    docs = pd.Series(["accg"])
    hashes, counts = char_kgram_hashes_series(docs, 3)
    assert counts[0] == 2
    assert int(hashes[0]) == hash_char_kgram("acc")
    assert int(hashes[1]) == hash_char_kgram("ccg")


def test_shingles_concatenation_boundaries_not_crossed():
    # doc boundary must not create a phantom shingle spanning two docs
    two = pd.Series(["aa bb", "cc dd"])
    one = pd.Series(["aa bb cc dd"])
    h2, c2 = token_shingle_hashes_series(two, 2)
    h1, c1 = token_shingle_hashes_series(one, 2)
    assert list(c2) == [1, 1] and list(c1) == [3]
    # the cross-boundary shingle 'bb cc' appears only in the single doc
    assert hash_token_shingle(["bb", "cc"]) in set(int(x) for x in h1)
    assert hash_token_shingle(["bb", "cc"]) not in set(int(x) for x in h2)


def test_determinism_across_chunkings():
    docs = ["doc %d token soup here" % i for i in range(100)]
    full, _ = token_shingle_hashes_series(pd.Series(docs), 2)
    parts = [
        token_shingle_hashes_series(pd.Series(docs[i : i + 10]), 2)[0]
        for i in range(0, 100, 10)
    ]
    assert np.array_equal(full, np.concatenate(parts))


def test_gram_decode_table_matches_driver_hash(spark):
    """F12 analog: every (gram, hash) row of the decode table reproduces
    the driver-side single-gram hash, and covers exactly the distinct
    grams of the corpus."""
    from tetrex_spark.functions.analysis import gram_decode_table

    docs = [(0, "abcdefg"), (1, "the cat sat"), (2, "abcd")]  # doc 2: < k
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {r.gram: r.gram_hash for r in gram_decode_table(df, k=5).collect()}
    want = set()
    for _, t in docs:
        t = normalize_query(t)
        want |= {t[i : i + 5] for i in range(len(t) - 4)}
    assert set(rows) == want
    for g, h in rows.items():
        assert h == np.int64(np.uint64(hash_char_kgram(g)))
