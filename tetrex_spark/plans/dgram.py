"""D-gram (gapped-gram) index — the `tetrex track` analog.

The reference builds an auxiliary IBF over (3 chars, gap g, 3 chars)
grams for g in [min_gap, max_gap] (process_sequence,
/root/reference/include/dGramIndex.h:194-243; code formula :231-238;
driver src/dGramIndex.cpp:20-38) and probes it when the traversal crosses
a Gap node (update_gapped, include/otf_collector.h:216-245) — recovering
pruning power for motifs with bounded wildcard runs like 'w.{2}ld'.

`MotifIndex.track` (plans.planner) builds it as the second sketch spec of
a motif index, binned and stored like the first. Layout (index format 3),
a contract shared by that build and `DGramIndex.load`:
  - ONE Bloom sketch name, `dgram_bloom`, one row per bin, holds the keys
    of every gap in [min_gap, max_gap]. The key
    combine(h(left3), g, h(right3)) encodes its gap, as the reference's
    `gap·20⁶ + …` code does, so gaps need no filters of their own.
  - The filter is sized for n_gaps × the largest bin's PAD-gram count,
    which `MotifIndex.build` records in the manifest (`max_bin_padgrams`),
    so track runs no sizing scan. Its fill, and the false-positive rate
    of one probe, equal those of a per-gap filter sized for one gap.
  - `manifest["dgram"]` records the gap range, m_bits, n_hashes and seed.
  - The load is driver-side (sources.sketch_store.read_sketch_payloads):
    no Spark job, at any gap count. A probe over candidate gaps hashes one
    key per gap and answers them in one vectorized matrix probe, ORing the
    bin vectors.

Key formula: combine(h(left3), g, h(right3)) via position-weighted mixing
— computed identically by the vectorized build path and the driver-side
probe (kernel.hashing.combine_dgram serves both).
"""

from __future__ import annotations

import numpy as np

from ..kernel.hashing import combine_dgram, hash_str
from ..operators.sketch_build import DGRAM_PAD
from ..sources.sketch_store import BloomMatrix

DGRAM_SKETCH_NAME = "dgram_bloom"
PAD = DGRAM_PAD  # fixed 3+3 pads, like the reference (dGramIndex.h pad_)
# manifest key of the largest per-bin PAD-gram count, recorded by
# MotifIndex.build so track sizes its filter without another corpus scan
MAX_BIN_PADGRAMS = "max_bin_padgrams"


class DGramIndex:
    """Driver-side d-gram Bloom matrix: probe_gap(left3, gaps, right3) ->
    length-B bin vector; gaps outside [min_gap, max_gap] are
    unconstrained (all-ones), mirroring update_gapped's behavior."""

    def __init__(self, bloom: BloomMatrix, min_gap: int, max_gap: int,
                 seed: int = 42):
        self.bloom = bloom
        self.min_gap = min_gap
        self.max_gap = max_gap
        self.seed = seed

    @classmethod
    def load(cls, manifest: dict,
             payloads: dict[str, list[tuple[int, bytes]]]) -> "DGramIndex | None":
        """The tracked filter out of `read_sketch_payloads(path)`; None when
        the index was never tracked, or no document was long enough to
        give a d-gram (then nothing can be pruned either way)."""
        cfg = manifest.get("dgram")
        if not cfg or not payloads.get(DGRAM_SKETCH_NAME):
            return None
        bloom = BloomMatrix.load(payloads, DGRAM_SKETCH_NAME, manifest["n_bins"])
        return cls(bloom, cfg["min_gap"], cfg["max_gap"], cfg["seed"])

    def probe_gap(self, left3: str, gaps, right3: str) -> np.ndarray:
        """OR over candidate gap lengths; any out-of-range gap makes the
        whole probe unconstrained (cannot rule anything out)."""
        gaps = np.asarray(list(gaps), dtype=np.int64)
        if gaps.size == 0:
            return np.zeros(self.bloom.n_bins, dtype=bool)
        if gaps.min() < self.min_gap or gaps.max() > self.max_gap:
            return np.ones(self.bloom.n_bins, dtype=bool)
        keys = combine_dgram(
            np.full(gaps.size, hash_str(left3, self.seed), dtype=np.uint64),
            gaps,
            np.full(gaps.size, hash_str(right3, self.seed), dtype=np.uint64),
        )
        return self.bloom.probe(keys).any(axis=0)
