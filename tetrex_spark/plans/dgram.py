"""D-gram (gapped-gram) index — the `tetrex track` analog.

The reference builds an auxiliary IBF over (3 chars, gap g, 3 chars)
grams for g in [min_gap, max_gap] (process_sequence,
/root/reference/include/dGramIndex.h:194-243; code formula :231-238;
driver src/dGramIndex.cpp:20-38) and probes it when the traversal crosses
a Gap node (update_gapped, include/otf_collector.h:216-245) — recovering
pruning power for motifs with bounded wildcard runs like 'w.{2}ld'.

Layout (index format 2), a contract shared by the build and the load:
  - ONE Bloom sketch name, `dgram_bloom`, one row per bin, holds the keys
    of every gap in [min_gap, max_gap]. The key
    combine(h(left3), g, h(right3)) encodes its gap, as the reference's
    `gap·20⁶ + …` code does, so gaps need no filters of their own.
  - The filter is sized for n_gaps × the largest bin's PAD-gram count, so
    its fill, and the false-positive rate of one probe, equal those of a
    per-gap filter sized for one gap.
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

import json
import os

import numpy as np
from pyspark.sql import DataFrame

from ..functions.text import TOKENIZER_VERSION
from ..kernel.bloom import bloom_m_bits
from ..kernel.hashing import combine_dgram, hash_str
from ..operators.sketch_build import (
    DGRAM_PAD,
    SketchSpec,
    build_sketches,
    max_bin_cardinality,
)
from ..sources.corpus import with_bin_id
from ..sources.sketch_store import (
    FORMAT_VERSION,
    MANIFEST_NAME,
    BloomMatrix,
    read_manifest,
)

DGRAM_SKETCH_NAME = "dgram_bloom"
PAD = DGRAM_PAD  # fixed 3+3 pads, like the reference (dGramIndex.h pad_)
# manifest key of the largest per-bin PAD-gram count, recorded by
# MotifIndex.build so track sizes its filter without another corpus scan
MAX_BIN_PADGRAMS = "max_bin_padgrams"


def build_dgram_index(
    corpus: DataFrame,
    path: str,
    *,
    n_bins: int = 64,
    min_gap: int = 3,
    max_gap: int = 21,
    fpr: float = 0.05,
    n_hashes: int = 3,
    bin_key=None,
    seed: int = 42,
) -> None:
    """Build the one gapped-gram Bloom sketch (`dgram_bloom`, every gap in
    [min_gap, max_gap]) into an index dir, next to an existing index if
    there is one (track runs after index, like the reference).

    The write REPLACES the `name=dgram_bloom` partition of `rows/` and the
    manifest's `dgram` entry, so tracking again with other gaps or fpr
    leaves exactly one d-gram row set. Sizing comes from the manifest's
    `max_bin_padgrams` (written by MotifIndex.build over the same corpus);
    only a directory without it, such as a standalone d-gram index, pays
    a sizing scan (max_bin_cardinality) here."""
    # Guard against binning d-grams with a different modulus than the
    # existing index (same pattern as the tokenizer_version check in
    # read_manifest): a mismatched n_bins would AND mis-mapped bin vectors
    # into query paths — silent recall loss, not an error.
    manifest_path = f"{path}/{MANIFEST_NAME}"
    manifest = read_manifest(path) if os.path.exists(manifest_path) else {}
    if manifest.get("n_bins") not in (None, n_bins):
        raise ValueError(
            f"n_bins={n_bins} does not match the existing index manifest "
            f"(n_bins={manifest['n_bins']}) at {path}; pass n_bins="
            f"{manifest['n_bins']} (the CLI does this automatically)"
        )

    binned = (
        corpus
        if "bin_id" in corpus.columns
        else with_bin_id(corpus, n_bins, bin_key=bin_key)
    )
    n_max = manifest.get(MAX_BIN_PADGRAMS)
    if n_max is None:
        n_max = max_bin_cardinality(binned, "char_kgram", PAD)
    # per-bin keys of one gap <= the bin's PAD-gram count
    m_bits = bloom_m_bits((max_gap - min_gap + 1) * n_max, fpr)
    spec = SketchSpec(
        DGRAM_SKETCH_NAME, "bloom", "dgram", k=PAD, gaps=(min_gap, max_gap),
        params={"m_bits": m_bits, "n_hashes": n_hashes}, seed=seed,
    )
    rows = build_sketches(binned, [spec]).drop("name")
    rows.write.mode("overwrite").parquet(f"{path}/rows/name={DGRAM_SKETCH_NAME}")

    if not manifest:
        manifest = {
            "format_version": FORMAT_VERSION,
            "tokenizer_version": TOKENIZER_VERSION,
            "n_bins": n_bins,
            "specs": [],
            MAX_BIN_PADGRAMS: n_max,
        }
    manifest["dgram"] = {
        "min_gap": min_gap,
        "max_gap": max_gap,
        "m_bits": m_bits,
        "n_hashes": n_hashes,
        "seed": seed,
    }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=2, sort_keys=True)


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
