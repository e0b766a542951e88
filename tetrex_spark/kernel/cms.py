"""Count-Min Sketch kernel — heavy-hitter token frequencies.

Required by the north rule (BASELINE.json): heavy-hitter tokens with the
published epsilon-delta guarantee (Cormode & Muthukrishnan 2005):
with width w = ceil(e / eps) and depth d = ceil(ln(1 / delta)),
    true_count <= estimate <= true_count + eps * N   w.p. >= 1 - delta.

Merge = element-wise ADD (we deliberately use plain update, not
conservative update, because conservative update breaks merge
associativity). Byte-identical payloads under any merge order.

The kernel answers point queries. Heavy-hitter *identification* does
not use it: operators/heavy_hitters finds the exact heavy hitters from
per-task frequent-token reports in one corpus pass.
"""

from __future__ import annotations

import math

import numpy as np

from .base import Sketch
from .hashing import splitmix64

U64 = np.uint64


class CountMinSketch(Sketch):
    KIND = "cms"

    def __init__(self, width: int = 2048, depth: int = 5, *, table: np.ndarray | None = None):
        self.width = int(width)
        self.depth = int(depth)
        self.table = (
            table if table is not None else np.zeros((depth, width), dtype=np.int64)
        )
        self.n_total = 0  # not serialized; derived as table[0].sum()

    @classmethod
    def from_error(cls, eps: float = 0.001, delta: float = 0.01) -> "CountMinSketch":
        return cls(width=math.ceil(math.e / eps), depth=math.ceil(math.log(1.0 / delta)))

    @property
    def eps(self) -> float:
        return math.e / self.width

    @property
    def delta(self) -> float:
        return math.exp(-self.depth)

    def params(self) -> dict:
        return {"width": self.width, "depth": self.depth}

    def _cols(self, keys: np.ndarray) -> np.ndarray:
        keys = np.atleast_1d(np.asarray(keys, dtype=U64))
        with np.errstate(over="ignore"):
            rows = np.arange(1, self.depth + 1, dtype=U64)
            h = splitmix64(keys[:, None] * U64(0xFF51AFD7ED558CCD) + rows[None, :])
        return (h % U64(self.width)).astype(np.int64)  # (n, depth)

    def update(self, keys: np.ndarray, counts: np.ndarray | None = None) -> "CountMinSketch":
        if len(keys) == 0:
            return self
        cols = self._cols(keys)
        if counts is None:
            counts = np.ones(len(cols), dtype=np.int64)
        counts = np.asarray(counts, dtype=np.int64)
        for d in range(self.depth):
            np.add.at(self.table[d], cols[:, d], counts)
        return self

    def estimate(self, keys: np.ndarray) -> np.ndarray:
        cols = self._cols(keys)
        ests = np.stack([self.table[d][cols[:, d]] for d in range(self.depth)])
        return ests.min(axis=0)

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        self._check_mergeable(other)
        self.table += other.table
        return self

    def total(self) -> int:
        return int(self.table[0].sum())

    def _body(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def _from_body(cls, params: dict, body: bytes) -> "CountMinSketch":
        table = np.frombuffer(body, dtype=np.int64).reshape(
            params["depth"], params["width"]
        ).copy()
        return cls(params["width"], params["depth"], table=table)
