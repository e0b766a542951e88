"""Kernel layer, measured with no Spark on fixed arrays cut from the
generated corpus. Following the update / merge / accuracy-vs-size method
of the experimental analysis of quantile sketches (EDBT 2023):

- `<kind>.update_ns_per_key`: one bulk update of the key array;
- `<kind>.merge_us`: one merge of two half-fed sketches;
- `<kind>.err_ratio_{small,large}`: observed error / the sketch's error
  bound at two sketch sizes (HLL: 4 standard errors; CMS: eps * N over the
  200 most frequent keys; KLL: published rank error; t-digest: a nominal
  1/delta rank error, which t-digest does not guarantee);
- hashing and `BloomMatrix.probe` cost per key.

Each timing is the median of `REPEATS` runs, every run long enough to
read on a coarse clock. Sketches are fed the first N_KEYS token hashes
(values: those hashes mod 100,000).
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from gen import QUANTILES

REPEATS = 3
MIN_RUN_S = 0.02
N_DOCS = 2000  # texts hashed
N_KEYS = 50_000  # keys fed to each sketch


def _time_per(fn, n_keys: int, setup=None) -> float:
    """Median ns per key of fn(state) over REPEATS runs; `setup` builds a
    fresh state for every call (excluded from the time)."""
    runs = []
    for _ in range(REPEATS):
        calls, spent = 0, 0.0
        while spent < MIN_RUN_S:
            state = setup() if setup else None
            t0 = time.perf_counter()
            fn(state)
            spent += time.perf_counter() - t0
            calls += 1
        runs.append(spent / calls)
    return statistics.median(runs) * 1e9 / max(n_keys, 1)


def max_rank_err(sorted_vals: np.ndarray, qs, ests) -> float:
    """Largest rank distance between quantile q and the rank interval of
    its estimate in the exact sorted sample (0 when q falls in a tie run)."""
    n = sorted_vals.size
    worst = 0.0
    for q, e in zip(qs, ests):
        lo = np.searchsorted(sorted_vals, e, side="left") / n
        hi = np.searchsorted(sorted_vals, e, side="right") / n
        worst = max(worst, 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi)))
    return worst


def run(corpus_dir: str) -> dict[str, float]:
    from tetrex_spark.functions.text import char_kgram_hashes_series
    from tetrex_spark.kernel import REGISTRY, from_bytes
    from tetrex_spark.kernel.hashing import hash_ws_tokens_series
    from tetrex_spark.sources.sketch_store import BloomMatrix

    text = pq.read_table(corpus_dir, columns=["text"]).column("text").to_pandas()[:N_DOCS]
    out: dict[str, float] = {}
    tok, _ = hash_ws_tokens_series(text, 42)
    out["kernel.hash_tokens.ns_per_key"] = _time_per(
        lambda _: hash_ws_tokens_series(text, 42), tok.size)
    grams, _ = char_kgram_hashes_series(text, 5)
    out["kernel.hash_kgrams.ns_per_key"] = _time_per(
        lambda _: char_kgram_hashes_series(text, 5), grams.size)

    tok = tok[:N_KEYS]
    values = (tok % np.uint64(100_000)).astype(np.float64)
    feeds = {
        "bloom": ({"m_bits": 1 << 20, "n_hashes": 3}, tok),
        "hll": ({"p": 12}, tok),
        "cms": ({"width": 2048, "depth": 5}, tok),
        "kll": ({"k": 200}, values),
        "tdigest": ({"delta": 100.0}, values),
    }
    for kind, (params, keys) in feeds.items():
        cls = REGISTRY[kind]
        out[f"kernel.{kind}.update_ns_per_key"] = _time_per(
            lambda sk: sk.update(keys), keys.size, setup=lambda: cls(**params))
        half = keys.size // 2
        a = cls(**params).update(keys[:half]).to_bytes()
        b = cls(**params).update(keys[half:])
        out[f"kernel.{kind}.merge_us"] = _time_per(
            lambda sk: sk.merge(b), 1, setup=lambda: from_bytes(a)) / 1e3

    # accuracy against size
    uniq, counts = np.unique(tok, return_counts=True)
    top = np.argsort(-counts, kind="stable")[:200]
    sorted_vals = np.sort(values)
    for label, sizes in (("small", (10, 512, 50, 25.0)), ("large", (14, 8192, 400, 200.0))):
        p, width, k, delta = sizes
        hll = REGISTRY["hll"](p=p).update(tok)
        out[f"kernel.hll.err_ratio_{label}"] = (
            abs(hll.estimate() - uniq.size) / uniq.size / (4 * hll.rel_error))
        cms = REGISTRY["cms"](width=width, depth=5).update(tok)
        err = cms.estimate(uniq[top]) - counts[top]
        out[f"kernel.cms.err_ratio_{label}"] = float(err.max() / (cms.eps * tok.size))
        kll = REGISTRY["kll"](k=k).update(values)
        out[f"kernel.kll.err_ratio_{label}"] = (
            max_rank_err(sorted_vals, QUANTILES, kll.quantiles(QUANTILES)) / kll.rank_error)
        td = REGISTRY["tdigest"](delta=delta).update(values)
        out[f"kernel.tdigest.err_ratio_{label}"] = (
            max_rank_err(sorted_vals, QUANTILES, td.quantiles(QUANTILES)) * delta)

    # a 32-bin matrix with half its bits set, probed with real k-gram keys
    n_bins, m_bits = 32, 1 << 16
    matrix = np.random.default_rng(0).integers(0, 256, size=(n_bins, m_bits // 8), dtype=np.uint8)
    bm = BloomMatrix(n_bins, m_bits, 3, matrix)
    probe_keys = grams[:10_000]
    out["kernel.bloom_matrix.probe_ns_per_key"] = _time_per(
        lambda _: bm.probe(probe_keys), probe_keys.size)
    return out
