"""Deterministic, vectorized 64-bit hashing shared by every sketch kernel.

This is the analog of the reference's k-mer encoders
(/root/reference/include/nucleotide_decomposer.h:81-101 packs DNA 2-bit,
/root/reference/include/peptide_decomposer.h:261-291 packs AA 5-bit): a
seeded, rolling-window-friendly map from variable-length byte strings to
``uint64`` keys. We replace bit-packing (alphabet-bounded) with a
polynomial hash over UTF-8 bytes finalized by splitmix64 — alphabet-free,
vectorized with numpy/pyarrow, and *identical* on the build path (Arrow
batches inside executors) and the query path (single shingles on the
driver). Determinism across runs and parallelism levels is a hard
requirement (byte-identical payload invariant).

No Spark imports — unit-testable in milliseconds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

U64 = np.uint64

# Fixed constants — changing any of these invalidates existing sketch tables,
# so they are recorded in the build manifest (see sources/sketch_store.py).
DEFAULT_SEED = U64(42)
_POLY_BASE = U64(0x9E3779B97F4A7C15)  # odd => invertible multiplier mod 2^64
_LEN_MIX = U64(0xC2B2AE3D27D4EB4F)
_GOLDEN = U64(0x9E3779B97F4A7C15)

# Precomputed powers of the polynomial base; cycled for strings longer than
# the table (still deterministic — position weights repeat mod table size).
_POW_TABLE_SIZE = 4096
_old = np.seterr(over="ignore")
_POW = np.empty(_POW_TABLE_SIZE, dtype=U64)
_POW[0] = U64(1)
for _i in range(1, _POW_TABLE_SIZE):
    _POW[_i] = _POW[_i - 1] * _POLY_BASE
np.seterr(**_old)


def splitmix64(x: np.ndarray | int) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant set).

    In-place formulation: 2 buffers (result + one shift scratch) instead
    of ~8 full-size temporaries — this runs over every key of every
    sketch build, and allocator+DRAM traffic here is what the 16-slot
    legs are starved of (bit-identical to the expression form)."""
    with np.errstate(over="ignore"):
        z = np.asarray(x, dtype=U64) + U64(0x9E3779B97F4A7C15)  # new array
        t = np.empty_like(z)
        np.right_shift(z, U64(30), out=t)
        z ^= t
        z *= U64(0xBF58476D1CE4E5B9)
        np.right_shift(z, U64(27), out=t)
        z ^= t
        z *= U64(0x94D049BB133111EB)
        np.right_shift(z, U64(31), out=t)
        z ^= t
        return z


def _finalize(raw: np.ndarray, lengths: np.ndarray, seed: int) -> np.ndarray:
    with np.errstate(over="ignore"):
        # ufunc upcast multiply: no explicit lengths.astype(U64) copy
        mix = np.multiply(lengths, _LEN_MIX, dtype=U64, casting="unsafe")
        mix ^= raw
        mix ^= U64(seed)
        return splitmix64(mix)


def hash_bytes_buffer(
    data: np.ndarray, offsets: np.ndarray, seed: int = int(DEFAULT_SEED)
) -> np.ndarray:
    """Hash ``n`` variable-length byte strings stored contiguously.

    ``data`` is a flat uint8 buffer; string ``i`` spans
    ``data[offsets[i]:offsets[i+1]]``. Fully vectorized: per-byte positional
    weights + ``np.add.reduceat`` segment sums + splitmix finalize.
    """
    offsets = offsets.astype(np.int64)
    n = len(offsets) - 1
    lengths = offsets[1:] - offsets[:-1]
    if data.size == 0 or int(lengths.max(initial=0)) == 0:
        return _finalize(np.zeros(n, dtype=U64), lengths, seed)
    starts = np.repeat(offsets[:-1], lengths)
    # data buffer may not start at offset 0 (arrow slices); normalize.
    base = offsets[0]
    idx = np.arange(base, offsets[-1], dtype=np.int64)
    exp = (idx - starts) % _POW_TABLE_SIZE
    with np.errstate(over="ignore"):
        weighted = data[base : offsets[-1]].astype(U64) * _POW[exp]
    raw = np.zeros(n, dtype=U64)
    nz = lengths > 0
    red_idx = (offsets[:-1] - base)[nz]
    with np.errstate(over="ignore"):
        sums = np.add.reduceat(weighted, red_idx)
    raw[nz] = sums
    return _finalize(raw, lengths, seed)


def _arrow_buffers(s: pd.Series | list[str]) -> tuple[np.ndarray, np.ndarray]:
    """(flat uint8 data, int64 offsets) of a string Series via Arrow —
    the zero-copy view every vectorized hasher here works on."""
    arr = pa.array(pd.Series(s, dtype="object").fillna(""), type=pa.large_string())
    offsets = np.frombuffer(arr.buffers()[1], dtype=np.int64, count=len(arr) + 1 + arr.offset)
    offsets = offsets[arr.offset : arr.offset + len(arr) + 1]
    databuf = arr.buffers()[2]
    data = (
        np.frombuffer(databuf, dtype=np.uint8)
        if databuf is not None and databuf.size
        else np.zeros(0, dtype=np.uint8)
    )
    return data, offsets


def concat_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of [starts[i], starts[i]+counts[i]) as one int64 index
    array, fully vectorized (the per-doc `np.arange` loop this replaces was
    a top-3 cost of the sketch build at 10^5 docs/batch)."""
    counts = np.asarray(counts, dtype=np.int64)
    nz = counts > 0
    s = np.asarray(starts, dtype=np.int64)[nz]
    c = counts[nz]
    total = int(c.sum())
    if total == 0:
        return np.zeros(0, dtype=np.int64)
    seg_base = np.zeros(c.size, dtype=np.int64)
    np.cumsum(c[:-1], out=seg_base[1:])
    return np.repeat(s - seg_base, c) + np.arange(total, dtype=np.int64)


def hash_str_series(s: pd.Series | list[str], seed: int = int(DEFAULT_SEED)) -> np.ndarray:
    """Hash a pandas Series (or list) of strings to uint64, vectorized.

    Uses the Arrow string buffer layout (offsets + contiguous UTF-8 data) so
    there is no per-row Python. Nulls hash like empty strings.
    """
    data, offsets = _arrow_buffers(s)
    return hash_bytes_buffer(data, offsets, seed)


_WS_LUT = np.zeros(256, dtype=bool)
_WS_LUT[[9, 10, 11, 12, 13, 32]] = True  # ASCII whitespace


def hash_ws_tokens_series(
    s: pd.Series | list[str], seed: int = int(DEFAULT_SEED)
) -> tuple[np.ndarray, np.ndarray]:
    """Per-token hashes of whitespace-separated documents, one pass.

    Returns ``(token_hashes, tokens_per_doc)`` where token ``i`` of the
    concatenation hashes exactly like ``hash_str_series([token])[0]`` —
    equality with the ``str.split()``-then-hash path is property-tested.
    Splits on runs of ASCII whitespace; this library's normalizer reduces
    all whitespace to single ASCII spaces first, so the two are identical
    on every build/query input. Replaces a pandas-object split + explode
    that dominated the sketch-build profile (~40 s / 320k docs -> ~2 s).
    """
    data, offsets = _arrow_buffers(s)
    offsets = offsets.astype(np.int64)
    n_docs = len(offsets) - 1
    base = offsets[0]
    buf = data[base : offsets[-1]]
    n = buf.size
    counts = np.zeros(n_docs, dtype=np.int64)
    if n == 0:
        return np.zeros(0, dtype=U64), counts
    is_ws = _WS_LUT[buf]
    doc_starts = offsets[:-1] - base
    reset = np.zeros(n, dtype=bool)
    reset[doc_starts[doc_starts < n]] = True
    nxt = np.flatnonzero(is_ws) + 1
    reset[nxt[nxt < n]] = True
    # int32 index math (Arrow batches are < 2 GiB in practice) and a
    # power-of-two mask instead of %: these arrays are 5x the text size,
    # so narrowing them measurably cuts memory traffic at high core counts.
    # Guarded: a pathological > 2 GiB concatenated batch falls back to
    # int64 instead of silently wrapping.
    itype = np.int32 if n < 2**31 else np.int64
    idx = np.arange(n, dtype=itype)
    last_reset = np.maximum.accumulate(np.where(reset, idx, itype(-1)))
    # in-place: g reuses last_reset's buffer (idx - last_reset, masked)
    np.subtract(idx, last_reset, out=last_reset)
    g = last_reset
    g &= itype(_POW_TABLE_SIZE - 1)
    with np.errstate(over="ignore"):
        # ufunc upcast: no full-size buf.astype(U64) copy
        w = np.multiply(buf, _POW[g], dtype=U64, casting="unsafe")
    w[is_ws] = U64(0)
    token_starts = np.flatnonzero(reset & ~is_ws)
    if token_starts.size == 0:
        return np.zeros(0, dtype=U64), counts
    raw = np.add.reduceat(w, token_starts)
    # token byte length = non-ws bytes in [start, next start): trailing ws
    # of a token (and nothing else) sits in its segment
    nonws_cum = np.zeros(n + 1, dtype=itype)
    np.cumsum(~is_ws, out=nonws_cum[1:])
    seg_end = np.append(token_starts[1:], n)
    lengths = nonws_cum[seg_end] - nonws_cum[token_starts]
    hashes = _finalize(raw, lengths, seed)
    counts = np.diff(np.searchsorted(token_starts, np.append(doc_starts, n)))
    return hashes, counts.astype(np.int64)


def hash_str(s: str, seed: int = int(DEFAULT_SEED)) -> int:
    """Hash one string — the driver-side (query shingle) entry point.

    Guaranteed equal to ``hash_str_series([s], seed)[0]`` (one code path:
    the UTF-8 bytes go straight to ``hash_bytes_buffer``, without the
    pandas/Arrow conversion a Series needs).
    """
    data = np.frombuffer(s.encode("utf-8"), dtype=np.uint8)
    return int(hash_bytes_buffer(data, np.array([0, data.size], dtype=np.int64), seed)[0])


def hash_char_kgrams(text: str, k: int, seed: int = int(DEFAULT_SEED)) -> np.ndarray:
    """All length-k character windows of ``text`` → uint64, vectorized.

    The analog of the reference's rolling k-mer hash
    (/root/reference/include/nucleotide_decomposer.h:93-101) over web text:
    a sliding window on the UTF-8 byte stream. Window ``i`` hashes exactly
    like the standalone k-byte string, so driver-side probes of single
    grams (``hash_str``) match build-side window hashes.

    Note: windows are over *bytes*; for the ASCII-normalized text this
    library produces, byte windows == character windows.
    """
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = b.size - k + 1
    if n <= 0:
        return np.zeros(0, dtype=U64)
    win = np.lib.stride_tricks.sliding_window_view(b, k).astype(U64)
    with np.errstate(over="ignore"):
        raw = win @ _POW[:k]
    return _finalize(raw, np.full(n, k, dtype=np.int64), seed)


def hash_char_kgrams_series(
    s: pd.Series, k: int, seed: int = int(DEFAULT_SEED)
) -> tuple[np.ndarray, np.ndarray]:
    """Char k-gram hashes for a whole Series at once.

    Returns ``(hashes, doc_lengths_in_grams)`` where ``hashes`` is the
    concatenation of per-document gram hashes (document i owns the slice
    ``[cum[i-1]:cum[i]]``). One vectorized pass over the Arrow buffer —
    no per-document Python loop.
    """
    data, offsets = _arrow_buffers(s)
    lengths = offsets[1:] - offsets[:-1]
    counts = np.maximum(lengths - k + 1, 0)
    if data.size == 0 or counts.sum() == 0:
        return np.zeros(0, dtype=U64), counts
    base = offsets[0]
    buf = data[base : offsets[-1]]
    # Rolling polynomial over the *whole* buffer via k shifted multiply-adds
    # (a sliding_window_view + matvec materializes an (n, k) uint64 matrix —
    # 8k bytes/char of traffic; this is k streaming passes instead), then
    # keep only windows fully inside one string.
    n_win = buf.size - k + 1
    bufu = buf.astype(U64)
    with np.errstate(over="ignore"):
        raw_all = bufu[:n_win] * _POW[0]
        tmp = np.empty(n_win, dtype=U64)
        for j in range(1, k):
            np.multiply(bufu[j : n_win + j], _POW[j], out=tmp)
            raw_all += tmp
    # valid window start positions per string, relative to buf
    starts = offsets[:-1] - base
    keep = concat_ranges(starts, counts)
    raw = raw_all[keep]
    return _finalize(raw, np.full(raw.size, k, dtype=np.int64), seed), counts


def combine_dgram(left_h: np.ndarray, gap, right_h: np.ndarray) -> np.ndarray:
    """(left 3-gram hash, gap length, right 3-gram hash) -> d-gram key,
    position-weighted polynomial mix + splitmix finalize. `gap` is a scalar
    or an array aligned with the hashes. One code path for the vectorized
    build and the driver-side probe (plans/dgram.py). The analog of the
    reference's gapped-gram code formula (include/dGramIndex.h:231-238):
    the gap is part of the key, so every gap's keys share one filter."""
    with np.errstate(over="ignore"):
        acc = (
            np.asarray(left_h, dtype=U64) * _POW[1]
            + np.asarray(right_h, dtype=U64) * _POW[2]
            + np.asarray(gap, dtype=U64) * _POW[3]
        )
        return splitmix64(acc)


def dgram_keys_from_chargrams(
    grams: np.ndarray, counts: np.ndarray, min_gap: int, max_gap: int, pad: int
) -> tuple[np.ndarray, np.ndarray]:
    """Concatenated per-doc char-`pad`-gram hashes -> d-gram keys for every
    gap in [min_gap, max_gap], respecting document boundaries (no cross-doc
    pairs). Keys are laid out per document (doc-major, then gap), the
    layout every key source hands the sketch build. Returns (keys, per-doc
    key counts).

    One vectorized gather per gap writes straight into the output, so the
    transient memory beyond the keys themselves is one gap's worth."""
    counts = np.asarray(counts, dtype=np.int64)
    gaps = np.arange(min_gap, max_gap + 1, dtype=np.int64)
    per_gap = np.maximum(counts[:, None] - pad - gaps[None, :], 0)  # (docs, gaps)
    counts_out = per_gap.sum(axis=1)
    total = int(counts_out.sum())
    if total == 0:
        return np.zeros(0, dtype=U64), counts_out
    gram_starts = np.zeros(counts.size, dtype=np.int64)
    np.cumsum(counts[:-1], out=gram_starts[1:])
    # out_starts[d, j]: where doc d's keys for gap j begin in the output
    flat = per_gap.reshape(-1)
    out_starts = np.zeros(flat.size, dtype=np.int64)
    np.cumsum(flat[:-1], out=out_starts[1:])
    out_starts = out_starts.reshape(per_gap.shape)
    keys = np.empty(total, dtype=U64)
    for j, gap in enumerate(gaps):
        left = concat_ranges(gram_starts, per_gap[:, j])
        keys[concat_ranges(out_starts[:, j], per_gap[:, j])] = combine_dgram(
            grams[left], gap, grams[left + pad + gap]
        )
    return keys, counts_out


def bloom_positions(keys: np.ndarray, m_bits: int, n_hashes: int) -> np.ndarray:
    """Kirsch–Mitzenmacher double hashing: ``n_hashes`` positions per key.

    Returns an ``(len(keys), n_hashes)`` int64 array of bit positions. The
    analog of the reference's h hash functions per k-mer
    (/root/reference/include/index_ibf.h:88-99, hash_count default 3 per
    include/arg_parse.h:19).
    """
    keys = np.asarray(keys, dtype=U64)
    h1 = splitmix64(keys)
    with np.errstate(over="ignore"):
        h2 = splitmix64(keys ^ _GOLDEN) | U64(1)
        i = np.arange(n_hashes, dtype=U64)
        pos = (h1[:, None] + i[None, :] * h2[:, None]) % U64(m_bits)
    return pos.astype(np.int64)


_M1 = np.int64(0x5555555555555555)
_M2 = np.int64(0x3333333333333333)
_M4 = np.int64(0x0F0F0F0F0F0F0F0F)
_H01 = np.int64(0x0101010101010101)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Per-element popcount of a uint64/int64 array — SWAR fold on INT64
    lanes (numpy 1.x has no bitwise_count, and this numpy build's uint64
    shift falls into a ~13x-slower generic loop than the int64 kernel).
    int64 arithmetic right-shift is safe here: the sign-extension bits a
    logical shift would zero land only in positions each following mask
    clears (bit 63 of _M1, bits 62-63 of _M2, 60-63 of _M4), and after
    the first two folds every lane value is small enough that the sign
    bit is clear. Flattens any input shape (matrix callers reshape).
    Used by the streaming SimHash gate's in-state hamming checks; matches
    the JVM bit_count the batch verify uses."""
    v = np.ascontiguousarray(x).view(np.int64).reshape(-1)
    v = v - ((v >> 1) & _M1)
    v = (v & _M2) + ((v >> 2) & _M2)
    v = (v + (v >> 4)) & _M4
    return (v * _H01) >> 56
