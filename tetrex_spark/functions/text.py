"""Deterministic text extraction, normalization, tokenization, shingling.

This is the analog of the reference's decomposer layer
(/root/reference/include/nucleotide_decomposer.h,
 /root/reference/include/peptide_decomposer.h): the single place that maps
raw records to hashable keys. TetRex's alphabet reduction
(peptide_decomposer.h:59-151, applied to BOTH data and query at
src/query.cpp:145-155) becomes text normalization here — and exactly like
the reference, the SAME function must run on the build path and the query
path, or candidate sets silently lose recall.

Hard invariant (BASELINE.json input_hint): extracted text is
byte-identical per url across runs and parallelism levels. Everything
here is pure, seeded, and wall-clock-free; batch work is pandas/Arrow
vectorized (no per-row Python UDFs).

TOKENIZER_VERSION is recorded in the sketch manifest; bump it whenever
any function in this file changes behavior.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from ..kernel.hashing import (
    DEFAULT_SEED,
    hash_char_kgrams_series,
    hash_str,
    hash_str_series,
    hash_ws_tokens_series,
)

TOKENIZER_VERSION = "tx1"

_TAG_RE = re.compile(rb"<[^>]*>")


# -- extraction ------------------------------------------------------------


def extract_text_from_html_series(html: pd.Series) -> pd.Series:
    """binary html -> text, deterministic (regex tag strip + entity-lite).

    Vectorized via pandas .str on the decoded series. This is intentionally
    a small deterministic extractor, not a real HTML parser — the invariant
    is byte-identical output per input, not fidelity to browsers.
    """
    def strip(b):
        if b is None:
            return None
        return _TAG_RE.sub(b" ", bytes(b)).decode("utf-8", errors="replace")

    # object-dtype map over binary payloads (Arrow binary arrives as bytes);
    # the regex work is C-level per element.
    return html.map(strip)


def normalize_series(text: pd.Series) -> pd.Series:
    r"""Canonical normalization: lowercase + whitespace collapse + strip.

    The analog of TetRex's reduce_alphabet (src/query.cpp:145-155) — it must
    be applied identically to corpus text (build) and query motifs (query).

    Computed as `" ".join(x.lower().split())` per document, which equals
    `re.sub(r"\s+", " ", x.lower()).strip()` byte for byte: `str.split()`
    and `str.strip()` split on `str.isspace`, and `re`'s `\s` matches
    exactly the same code points (tested over all of them). It is 3-3.5x
    faster than the pandas `.str` chain of that regex form: 48 vs 169 ms
    for 6,000 documents of 3.26M characters on one core.
    """
    return pd.Series(
        [normalize_query(x) for x in text.fillna("")], index=text.index, dtype=object
    )


def normalize_query(q: str) -> str:
    """Driver-side normalization of a query motif — same transform as
    normalize_series, single-string version (one semantic, two arities)."""
    return " ".join(q.lower().split())


def corpus_text_series(text: pd.Series, html: pd.Series | None = None) -> pd.Series:
    """The one build/query text pipeline: prefer `text`, fall back to
    extracting from `html` when text is null, then normalize."""
    s = text
    if html is not None:
        null_mask = s.isna()
        if null_mask.any():
            s = s.copy()
            s[null_mask] = extract_text_from_html_series(html[null_mask])
    return normalize_series(s)


# -- shingling -------------------------------------------------------------


def token_shingle_hashes_series(
    text: pd.Series, k: int, seed: int = int(DEFAULT_SEED)
) -> tuple[np.ndarray, np.ndarray]:
    """Token k-shingle hashes for a batch of normalized documents.

    Returns (hashes, per_doc_counts): the concatenated uint64 hashes of
    every window of k consecutive tokens (joined by a single space) per
    document. The analog of the reference's rolling k-mer emission
    (include/index_ibf.h:101-131) with tokens instead of bases.

    Implementation: rather than materializing shingle strings, we hash
    each *token* once (one vectorized pass over the Arrow byte buffer —
    property-tested equal to the str.split()-then-hash formulation), then
    combine k consecutive token hashes with position-weighted mixing —
    order-sensitive, collision-safe in 64 bits, and equal to
    `hash_token_shingle(tokens[i:i+k])` on the driver.
    """
    tok_hash, counts_tok = hash_ws_tokens_series(text, seed)
    if tok_hash.size == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(len(text), dtype=np.int64)
    return _combine_shingles(tok_hash, counts_tok, k)


def _combine_shingles(
    tok_hash: np.ndarray, counts_tok: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Combine per-token hashes into k-window hashes, respecting doc
    boundaries. Window hash = splitmix-free positional mix (vectorized)."""
    from ..kernel.hashing import _POW, splitmix64

    n_total = tok_hash.size
    counts = np.maximum(counts_tok - k + 1, 0)
    if counts.sum() == 0:
        return np.zeros(0, dtype=np.uint64), counts
    with np.errstate(over="ignore"):
        acc = np.zeros(n_total - k + 1, dtype=np.uint64)
        for j in range(k):
            acc += tok_hash[j : n_total - k + 1 + j] * _POW[j]
        mixed = splitmix64(acc ^ np.uint64(k))
    from ..kernel.hashing import concat_ranges

    starts = np.concatenate([[0], np.cumsum(counts_tok)])[:-1]
    return mixed[concat_ranges(starts, counts)], counts


def hash_token_shingle(tokens: list[str], seed: int = int(DEFAULT_SEED)) -> int:
    """Driver-side hash of ONE token k-shingle — matches the build path."""
    from ..kernel.hashing import _POW, splitmix64

    th = hash_str_series(pd.Series(tokens, dtype="object"), seed)
    with np.errstate(over="ignore"):
        acc = np.uint64(0)
        for j, h in enumerate(th):
            acc += h * _POW[j]
    return int(splitmix64(acc ^ np.uint64(len(tokens))))


def char_kgram_hashes_series(
    text: pd.Series, k: int, seed: int = int(DEFAULT_SEED)
) -> tuple[np.ndarray, np.ndarray]:
    """Char k-gram hashes per normalized document (build side of the motif
    index). Single-gram driver equivalent: kernel.hashing.hash_str."""
    return hash_char_kgrams_series(text.fillna(""), k, seed)


def hash_char_kgram(gram: str, seed: int = int(DEFAULT_SEED)) -> int:
    """Driver-side hash of one char k-gram — matches the build path."""
    return hash_str(gram, seed)
