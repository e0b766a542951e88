import numpy as np
import pandas as pd
import pytest

from tetrex_spark.kernel.hashing import (
    bloom_positions,
    combine_dgram,
    dgram_keys_from_chargrams,
    hash_char_kgrams,
    hash_char_kgrams_series,
    hash_str,
    hash_str_series,
    splitmix64,
)


def test_splitmix_deterministic_and_spread():
    x = np.arange(10_000, dtype=np.uint64)
    h = splitmix64(x)
    assert h.dtype == np.uint64
    assert len(np.unique(h)) == 10_000
    assert np.array_equal(h, splitmix64(x))


def test_hash_str_series_matches_single():
    words = ["spark", "join", "", "a", "filter window", "zyzzyva", "spark"]
    hs = hash_str_series(words)
    assert hs[0] == hs[6]
    for i, w in enumerate(words):
        assert int(hs[i]) == hash_str(w)
    # distinct strings hash differently
    assert len(set(int(h) for h in hs)) == 6


def test_hash_str_series_handles_nulls_and_slices():
    s = pd.Series(["abc", None, "def", "abc"])
    hs = hash_str_series(s)
    assert hs[1] == hash_str("")
    assert hs[0] == hs[3]
    # a sliced/offset series hashes identically (arrow offset handling)
    hs2 = hash_str_series(s.iloc[2:])
    assert hs2[0] == hs[2]


def test_seed_changes_hash():
    assert hash_str("spark", seed=1) != hash_str("spark", seed=2)


def test_char_kgrams_match_standalone_hash():
    text = "the quick brown fox"
    k = 3
    grams = [text[i : i + k] for i in range(len(text) - k + 1)]
    hs = hash_char_kgrams(text, k)
    assert len(hs) == len(grams)
    for h, g in zip(hs, grams):
        assert int(h) == hash_str(g)


def test_char_kgrams_short_text():
    assert hash_char_kgrams("ab", 3).size == 0


def test_char_kgrams_series_matches_per_doc():
    docs = pd.Series(["abcdef", "xy", "", "hello world"])
    k = 3
    hs, counts = hash_char_kgrams_series(docs, k)
    expected_counts = [4, 0, 0, 9]
    assert list(counts) == expected_counts
    off = 0
    for d, c in zip(docs, expected_counts):
        single = hash_char_kgrams(d, k)
        assert np.array_equal(hs[off : off + c], single)
        off += c


def test_bloom_positions_shape_and_range():
    pos = bloom_positions(np.arange(100, dtype=np.uint64), 1024, 3)
    assert pos.shape == (100, 3)
    assert pos.min() >= 0 and pos.max() < 1024


@pytest.mark.parametrize("k", [2, 3, 5])
def test_kgram_hash_equals_series_hash_of_grams(k):
    text = "spark filter join window merge"
    grams = [text[i : i + k] for i in range(len(text) - k + 1)]
    assert np.array_equal(hash_char_kgrams(text, k), hash_str_series(grams))


def _split_path_token_hashes(docs: pd.Series, seed=42):
    """The original str.split() formulation — kept as the test oracle for
    the one-pass buffer tokenizer."""
    tokens_per_doc = docs.fillna("").str.split()
    counts = tokens_per_doc.str.len().to_numpy(dtype=np.int64)
    flat = tokens_per_doc.explode().dropna().reset_index(drop=True)
    h = hash_str_series(flat, seed) if not flat.empty else np.zeros(0, dtype=np.uint64)
    return h, counts


def test_ws_tokens_equals_split_path():
    from tetrex_spark.kernel.hashing import hash_ws_tokens_series

    docs = pd.Series(
        [
            "the quick brown fox",
            "",
            None,
            "  leading and   double  spaces ",
            "tabs\tand\nnewlines\r\nmixed",
            "single",
            " ",
            "ünïcode tökens stay bytes",
            "x" * 5000 + " tail",  # token longer than the pow table
        ]
    )
    fast_h, fast_c = hash_ws_tokens_series(docs)
    ref_h, ref_c = _split_path_token_hashes(docs)
    assert np.array_equal(fast_c, ref_c)
    assert np.array_equal(fast_h, ref_h)


def test_ws_tokens_random_property():
    from tetrex_spark.kernel.hashing import hash_ws_tokens_series

    rng = np.random.default_rng(7)
    vocab = ["a", "bb", "ccc", "dddd", "e" * 17]
    docs = []
    for _ in range(300):
        n = int(rng.integers(0, 12))
        seps = rng.choice([" ", "  ", "\t", "\n", " \t "], size=max(n, 1))
        words = rng.choice(vocab, size=n)
        docs.append("".join(w + s for w, s in zip(words, seps)))
    s = pd.Series(docs)
    fast_h, fast_c = hash_ws_tokens_series(s)
    ref_h, ref_c = _split_path_token_hashes(s)
    assert np.array_equal(fast_c, ref_c)
    assert np.array_equal(fast_h, ref_h)


def test_concat_ranges():
    from tetrex_spark.kernel.hashing import concat_ranges

    out = concat_ranges(np.array([5, 0, 9]), np.array([2, 0, 3]))
    assert list(out) == [5, 6, 9, 10, 11]
    assert concat_ranges(np.array([], dtype=np.int64), np.array([], dtype=np.int64)).size == 0


@pytest.mark.parametrize("gaps", [(0, 0), (1, 3), (0, 9)])
def test_dgram_keys_equal_per_doc_per_gap_loop(gaps):
    """The one-call gap-range key function equals the plain loop: for each
    doc, for each gap, every (left 3-gram, right 3-gram) pair `gap` chars
    apart, laid out doc by doc — no pair crosses a document boundary."""
    docs = ["", "ab", "abcdef", "the quick brown fox", "zyzzyva data stream", "abcabcabc"]
    per_doc = [hash_char_kgrams(d, 3) for d in docs]
    counts = np.array([g.size for g in per_doc], dtype=np.int64)
    grams = np.concatenate(per_doc)
    keys, key_counts = dgram_keys_from_chargrams(grams, counts, *gaps, 3)
    want, want_counts = [], []
    for g in per_doc:
        n = 0
        for gap in range(gaps[0], gaps[1] + 1):
            for p in range(g.size - 3 - gap):
                want.append(int(combine_dgram(g[p : p + 1], gap, g[p + 3 + gap : p + 4 + gap])[0]))
                n += 1
        want_counts.append(n)
    assert key_counts.tolist() == want_counts
    assert keys.tolist() == want
