"""Merging t-digest kernel (Dunning & Ertl 2019) — quantiles of doc lengths.

Required by the north rule (BASELINE.json) alongside KLL. Uses the k1
scale function k(q) = (delta / 2pi) * asin(2q - 1), which bounds centroid
weight so that quantile error is O(q(1-q)/delta) — tightest at the tails.

Sampling/clustering sketch: payloads vary with merge order; estimates are
bound-preserving (property-tested). Compression is greedy left-to-right
over mean-sorted centroids — deterministic for a fixed input multiset.
"""

from __future__ import annotations

import numpy as np

from .base import Sketch


class TDigest(Sketch):
    KIND = "tdigest"

    def __init__(
        self,
        delta: float = 100.0,
        *,
        means: np.ndarray | None = None,
        weights: np.ndarray | None = None,
    ):
        self.delta = float(delta)
        self.means = means if means is not None else np.zeros(0, dtype=np.float64)
        self.weights = weights if weights is not None else np.zeros(0, dtype=np.float64)
        self._buffer: list[np.ndarray] = []
        self._buffer_n = 0

    def params(self) -> dict:
        return {"delta": self.delta}

    @property
    def n(self) -> float:
        self._flush()
        return float(self.weights.sum())

    def update(self, values: np.ndarray) -> "TDigest":
        values = np.asarray(values, dtype=np.float64).ravel()
        values = values[~np.isnan(values)]
        if values.size == 0:
            return self
        self._buffer.append(values)
        self._buffer_n += values.size
        if self._buffer_n >= 8192:
            self._flush()
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        self._check_mergeable(other)
        other._flush()
        self._flush()
        self.means = np.concatenate([self.means, other.means])
        self.weights = np.concatenate([self.weights, other.weights])
        self._compress()
        return self

    # -- internals ---------------------------------------------------------

    def _k(self, q: np.ndarray | float) -> np.ndarray:
        return (self.delta / (2 * np.pi)) * np.arcsin(2 * np.clip(q, 0, 1) - 1)

    def _flush(self) -> None:
        if not self._buffer:
            return
        vals = np.concatenate(self._buffer)
        self._buffer = []
        self._buffer_n = 0
        self.means = np.concatenate([self.means, vals])
        self.weights = np.concatenate([self.weights, np.ones(vals.size)])
        self._compress()

    def _compress(self) -> None:
        """Greedy left-to-right merge of the mean-sorted centroids, each
        output centroid spanning <= 1 k-unit. On the k1 values of the
        sorted cumulative weights, the next centroid starts at the first
        input whose right edge lies more than one unit past the current
        start: one searchsorted per OUTPUT centroid (<= ~delta of them),
        none per input."""
        if self.means.size == 0:
            return
        order = np.argsort(self.means, kind="stable")
        means, weights = self.means[order], self.weights[order]
        right = np.cumsum(weights)
        k_lo = self._k((right - weights) / right[-1])
        k_hi = self._k(right / right[-1])
        starts = [0]
        while True:
            s = starts[-1]
            nxt = max(int(np.searchsorted(k_hi, k_lo[s] + 1.0, side="right")), s + 1)
            if nxt >= means.size:
                break
            starts.append(nxt)
        self.weights = np.add.reduceat(weights, starts)
        self.means = np.add.reduceat(means * weights, starts) / self.weights

    # -- queries -----------------------------------------------------------

    def quantile(self, q: float) -> float:
        self._flush()
        if self.means.size == 0:
            return float("nan")
        if self.means.size == 1:
            return float(self.means[0])
        total = self.weights.sum()
        target = q * total
        cum = np.cumsum(self.weights) - self.weights / 2.0
        if target <= cum[0]:
            return float(self.means[0])
        if target >= cum[-1]:
            return float(self.means[-1])
        i = int(np.searchsorted(cum, target) - 1)
        t = (target - cum[i]) / (cum[i + 1] - cum[i])
        return float(self.means[i] + t * (self.means[i + 1] - self.means[i]))

    def quantiles(self, qs: list[float]) -> list[float]:
        return [self.quantile(q) for q in qs]

    def rank(self, x: float) -> float:
        self._flush()
        if self.means.size == 0:
            return 0.0
        total = self.weights.sum()
        below = self.weights[self.means < x].sum()
        at = self.weights[self.means == x].sum()
        return float((below + at / 2.0) / total)

    def _body(self) -> bytes:
        self._flush()
        return np.concatenate([self.means, self.weights]).astype(np.float64).tobytes()

    @classmethod
    def _from_body(cls, params: dict, body: bytes) -> "TDigest":
        arr = np.frombuffer(body, dtype=np.float64)
        half = arr.size // 2
        return cls(params["delta"], means=arr[:half].copy(), weights=arr[half:].copy())
