"""Hypothesis fuzzing of the vectorized byte-buffer hashers against their
straightforward per-doc reference formulations — the buffer paths carry
the byte-identical determinism invariant, so they get generative coverage
on top of the fixed-fixture goldens."""

import numpy as np
import pandas as pd
from hypothesis import given, settings, strategies as st

from tetrex_spark.kernel.hashing import (
    concat_ranges,
    hash_char_kgrams,
    hash_char_kgrams_series,
    hash_str,
    hash_str_series,
    hash_ws_tokens_series,
)

# ASCII text with plenty of whitespace variety (the normalizer guarantees
# single spaces in production; the hasher is tested on the wilder set)
_doc = st.text(alphabet=list("ab z.!\t\n\r"), max_size=60)
_docs = st.lists(_doc, max_size=12)


@settings(max_examples=60, deadline=None)
@given(_docs)
def test_ws_tokens_matches_split_formulation(docs):
    s = pd.Series(docs, dtype="object")
    fast_h, fast_c = hash_ws_tokens_series(s)
    tokens_per_doc = s.fillna("").str.split()
    ref_c = (
        tokens_per_doc.str.len().to_numpy(dtype=np.int64)
        if len(s)
        else np.zeros(0, dtype=np.int64)
    )
    flat = tokens_per_doc.explode().dropna().reset_index(drop=True)
    ref_h = (
        hash_str_series(flat) if not flat.empty else np.zeros(0, dtype=np.uint64)
    )
    assert np.array_equal(fast_c, ref_c)
    assert np.array_equal(fast_h, ref_h)


@settings(max_examples=60, deadline=None)
@given(_docs, st.integers(min_value=1, max_value=5))
def test_char_kgrams_series_matches_per_doc(docs, k):
    s = pd.Series(docs, dtype="object")
    hs, counts = hash_char_kgrams_series(s, k)
    off = 0
    for d, c in zip(s.fillna(""), counts):
        single = hash_char_kgrams(d, k)
        assert single.size == c
        assert np.array_equal(hs[off : off + c], single)
        off += c
    assert off == hs.size


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1000),
            st.integers(min_value=0, max_value=20),
        ),
        max_size=30,
    )
)
def test_concat_ranges_matches_naive(pairs):
    starts = np.array([p[0] for p in pairs], dtype=np.int64)
    counts = np.array([p[1] for p in pairs], dtype=np.int64)
    naive = (
        np.concatenate(
            [np.arange(s, s + c) for s, c in pairs if c > 0] or [np.zeros(0, np.int64)]
        )
    )
    assert np.array_equal(concat_ranges(starts, counts), naive)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=40), st.integers(min_value=0, max_value=2**64 - 1))
def test_hash_str_equals_series_hash(s, seed):
    """The single-string hash (bytes straight to hash_bytes_buffer) equals
    the Arrow-buffer Series hash, non-ASCII input included."""
    assert hash_str(s, seed) == int(hash_str_series([s], seed)[0])
    assert hash_str(s) == int(hash_str_series(pd.Series([s], dtype="object"))[0])
