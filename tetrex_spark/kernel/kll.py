"""KLL quantile sketch kernel (Karnin, Lang, Liberty 2016).

Required by the north rule (BASELINE.json): quantile digests of document
lengths with the published rank-error guarantee: a KLL sketch with
parameter k answers any rank query within eps * n where eps ~= C / k
(C ~ 1.7 for the 2/3-capacity-decay variant implemented here, at ~99%
confidence). We property-test |est_rank - true_rank| <= 3.0/k * n across
shuffled merge orders (tests/test_kernel_merge.py).

Sampling sketch: payloads are NOT byte-identical across merge orders that
compact differently (the compaction coin flips differ) — only the
estimates are bound-preserving. The RNG is seeded from a fixed constant
plus a compaction counter, so a fixed pipeline is fully deterministic
run-to-run. Levels are serialized sorted, so the order in which items
reached a level never changes the payload.
"""

from __future__ import annotations

import numpy as np

from .base import Sketch

_CAP_DECAY = 2.0 / 3.0


def _capacity(k: int, depth_from_top: int) -> int:
    return max(2, int(np.ceil(k * _CAP_DECAY**depth_from_top)))


class KLL(Sketch):
    KIND = "kll"

    def __init__(self, k: int = 200, *, levels: list[np.ndarray] | None = None, n: int = 0):
        self.k = int(k)
        # levels[h] holds items of weight 2^h; level 0 is the raw buffer
        self.levels: list[np.ndarray] = levels if levels is not None else [
            np.zeros(0, dtype=np.float64)
        ]
        self.n = int(n)
        self._compactions = 0

    def params(self) -> dict:
        return {"k": self.k}

    @property
    def rank_error(self) -> float:
        """Published eps ~= 1.7/k at ~99% confidence (KLL paper, Sec. 5)."""
        return 1.7 / self.k

    def update(self, values: np.ndarray) -> "KLL":
        values = np.asarray(values, dtype=np.float64).ravel()
        values = values[~np.isnan(values)]
        if values.size == 0:
            return self
        self.levels[0] = np.concatenate([self.levels[0], values])
        self.n += values.size
        self._compress()
        return self

    def merge(self, other: "KLL") -> "KLL":
        self._check_mergeable(other)
        while len(self.levels) < len(other.levels):
            self.levels.append(np.zeros(0, dtype=np.float64))
        for h, items in enumerate(other.levels):
            if items.size:
                self.levels[h] = np.concatenate([self.levels[h], items])
        self.n += other.n
        self._compress()
        return self

    def _compress(self) -> None:
        while True:
            H = len(self.levels)
            total_cap = sum(_capacity(self.k, H - 1 - h) for h in range(H))
            if sum(lv.size for lv in self.levels) <= total_cap:
                return
            for h in range(H):
                cap = _capacity(self.k, H - 1 - h)
                if self.levels[h].size > cap:
                    self._compact(h)
                    break
            else:
                return

    def _compact(self, h: int) -> None:
        items = np.sort(self.levels[h])
        rng = np.random.default_rng(0x7E7_42 + self._compactions)
        self._compactions += 1
        offset = int(rng.integers(0, 2))
        promoted = items[offset::2]
        self.levels[h] = np.zeros(0, dtype=np.float64)
        if h + 1 == len(self.levels):
            self.levels.append(np.zeros(0, dtype=np.float64))
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])

    def _sorted_weighted(self) -> tuple[np.ndarray, np.ndarray]:
        vals, wts = [], []
        for h, items in enumerate(self.levels):
            if items.size:
                vals.append(items)
                wts.append(np.full(items.size, 1 << h, dtype=np.int64))
        if not vals:
            return np.zeros(0), np.zeros(0, dtype=np.int64)
        v = np.concatenate(vals)
        w = np.concatenate(wts)
        order = np.argsort(v, kind="stable")
        return v[order], w[order]

    def rank(self, x: float) -> float:
        """Estimated fraction of items <= x."""
        v, w = self._sorted_weighted()
        if v.size == 0:
            return 0.0
        return float(w[v <= x].sum()) / max(1, self.n)

    def quantile(self, q: float) -> float:
        v, w = self._sorted_weighted()
        if v.size == 0:
            return float("nan")
        cum = np.cumsum(w)
        target = q * cum[-1]
        i = int(np.searchsorted(cum, target, side="left"))
        return float(v[min(i, v.size - 1)])

    def quantiles(self, qs: list[float]) -> list[float]:
        return [self.quantile(q) for q in qs]

    def _body(self) -> bytes:
        import struct

        # each level is written sorted: the order items arrived in (merge
        # order, tree shape) never reaches the payload, and no estimate
        # depends on it (_compact sorts before it samples)
        parts = [struct.pack("<qq", self.n, len(self.levels))]
        for lv in self.levels:
            parts.append(struct.pack("<q", lv.size))
            parts.append(np.sort(lv).astype(np.float64, copy=False).tobytes())
        return b"".join(parts)

    @classmethod
    def _from_body(cls, params: dict, body: bytes) -> "KLL":
        import struct

        n, nlev = struct.unpack_from("<qq", body, 0)
        off = 16
        levels = []
        for _ in range(nlev):
            (sz,) = struct.unpack_from("<q", body, off)
            off += 8
            levels.append(np.frombuffer(body, dtype=np.float64, count=sz, offset=off).copy())
            off += 8 * sz
        return cls(params["k"], levels=levels, n=n)
