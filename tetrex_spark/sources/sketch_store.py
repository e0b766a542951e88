"""Sketch-table persistence + manifest — the analog of the reference's
cereal archive (store_ibf/load_ibf/load_params,
/root/reference/include/index_base.h:181-202).

TetRex serializes {k, molecule, is_hibf} ahead of the index and re-probes
them at query time to dispatch (src/query.cpp:477-498). We persist:
  - parquet sketch rows (bin_id, name, payload, n_items), partitioned by
    `name` so a query touching one sketch kind prunes the rest;
  - `manifest.json` holding the format version, n_bins, tokenizer
    version, seed and the full spec list — the query planner refuses to
    run against a manifest whose format or tokenizer disagree with its own
    (silent-recall-loss guard).

Index directories are driver-local: `read_manifest` opens manifest.json on
the driver, and `read_sketch_table` reads every `rows/` partition there
too, with pyarrow and no Spark job. A motif index load is therefore one
file-system read, whatever the number of sketch names it holds.
`write_manifest` is the one writer of manifest.json, through
`write_json`, which every index and checkpoint marker file goes through.

Format 3 (this version) adds two manifest entries for the query's
driver-side verify: `bin_chars`, the characters of text per bin, and
`corpus_fingerprint`, the file scan a bin-sorted text copy under `text/`
was taken from (sources.bin_text; null when the build wrote none). Format
2 had neither; format 1 kept one d-gram sketch name per gap. Both are
refused, not read.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame

from ..functions.text import TOKENIZER_VERSION, hash_char_kgram
from ..kernel import from_bytes, unpack_payload
from ..operators.sketch_build import SketchSpec

MANIFEST_NAME = "manifest.json"
FORMAT_VERSION = 3


def write_sketch_rows(sketch_df: DataFrame, path: str) -> None:
    sketch_df.write.mode("overwrite").partitionBy("name").parquet(f"{path}/rows")


def index_manifest(specs: list[SketchSpec], n_bins: int, extra: dict) -> dict:
    """The manifest of a new index over `specs` in `n_bins` bins."""
    return {
        "format_version": FORMAT_VERSION,
        "tokenizer_version": TOKENIZER_VERSION,
        "n_bins": n_bins,
        "build_id": "build-0",
        "specs": [s.manifest_entry() for s in specs],
        **extra,
    }


def write_json(path: str, obj: dict) -> None:
    """Write a JSON marker file — an index manifest or params file, a
    checkpoint's params, a stream's state pointer — through `<path>.tmp`
    and one rename, so a reader finds the previous file or this one,
    never a part of one. A write that dies leaves only the stray .tmp,
    which the next write overwrites."""
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2, sort_keys=True)
    os.replace(tmp, path)


def write_manifest(path: str, manifest: dict) -> None:
    """Write `manifest.json`, the last file of an index build (a
    directory without one is refused by `read_manifest`)."""
    os.makedirs(path, exist_ok=True)
    write_json(f"{path}/{MANIFEST_NAME}", manifest)


def read_manifest(path: str) -> dict:
    with open(f"{path}/{MANIFEST_NAME}") as f:
        manifest = json.load(f)
    if manifest.get("format_version") != FORMAT_VERSION:
        raise ValueError(
            "sketch table has format_version "
            f"{manifest.get('format_version')!r}, this library reads "
            f"{FORMAT_VERSION!r} — rebuild required"
        )
    if manifest.get("tokenizer_version") != TOKENIZER_VERSION:
        raise ValueError(
            "sketch table was built with tokenizer "
            f"{manifest.get('tokenizer_version')!r}, this library is "
            f"{TOKENIZER_VERSION!r} — rebuild required (recall-loss guard)"
        )
    return manifest


def read_sketch_table(path: str, columns: list[str]) -> pa.Table:
    """`columns` of every sketch row under `path/rows`, read on the driver
    in one pass with pyarrow (no Spark job). The `name` partition
    directories are decoded as strings; pyarrow's default ignore prefixes
    skip Spark's `_SUCCESS` markers and `_temporary` dirs."""
    return pads.dataset(
        f"{path}/rows",
        format="parquet",
        partitioning=pads.partitioning(pa.schema([("name", pa.string())]), flavor="hive"),
    ).to_table(columns=columns)


def read_sketch_payloads(path: str) -> dict[str, list[tuple[int, bytes]]]:
    """Every sketch row under `path/rows` as name -> [(bin_id, payload)]."""
    table = read_sketch_table(path, ["name", "bin_id", "payload"])
    out: dict[str, list[tuple[int, bytes]]] = {}
    for name, bin_id, payload in zip(
        table.column("name").to_pylist(),
        table.column("bin_id").to_pylist(),
        table.column("payload").to_pylist(),
    ):
        out.setdefault(name, []).append((bin_id, payload))
    return out


class BloomMatrix:
    """Driver-side stacked Bloom filters: the re-created 'interleaving'.

    TetRex's IBF answers one k-mer against B bins in one bulk_contains
    (/root/reference/include/index_ibf.h:146-150). We stack the B per-bin
    payload bitarrays into a (B, m/8) uint8 matrix; a probe slices h byte
    columns and ANDs — one vectorized op returning a length-B bool vector.
    Missing bins (no rows reached them) stay all-zero = 'cannot match'.
    """

    def __init__(self, n_bins: int, m_bits: int, n_hashes: int, matrix: np.ndarray):
        self.n_bins = n_bins
        self.m_bits = m_bits
        self.n_hashes = n_hashes
        self.matrix = matrix  # (n_bins, m_bits // 8) uint8

    @classmethod
    def from_rows(cls, rows: list[tuple[int, bytes]], n_bins: int) -> "BloomMatrix":
        first = from_bytes(rows[0][1])
        m_bits, n_hashes = first.m_bits, first.n_hashes
        matrix = np.zeros((n_bins, m_bits // 8), dtype=np.uint8)
        seen = np.zeros(n_bins, dtype=bool)
        for bin_id, blob in rows:
            kind, params, body = unpack_payload(bytes(blob))
            if kind != "bloom" or params["m_bits"] != m_bits:
                raise ValueError("inconsistent bloom rows")
            if seen[bin_id]:
                raise ValueError(f"duplicate bloom rows for bin {bin_id}")
            seen[bin_id] = True
            matrix[bin_id] = np.frombuffer(body, dtype=np.uint8)
        return cls(n_bins, m_bits, n_hashes, matrix)

    @classmethod
    def load(cls, payloads: dict[str, list[tuple[int, bytes]]], name: str,
             n_bins: int) -> "BloomMatrix":
        """One sketch name out of `read_sketch_payloads(path)`."""
        rows = payloads.get(name)
        if not rows:
            raise ValueError(f"no sketch rows for {name!r}")
        return cls.from_rows(rows, n_bins)

    def probe(self, keys: np.ndarray) -> np.ndarray:
        """(n_keys,) uint64 -> (n_keys, n_bins) bool membership matrix."""
        from ..kernel.hashing import bloom_positions

        keys = np.atleast_1d(np.asarray(keys, dtype=np.uint64))
        pos = bloom_positions(keys, self.m_bits, self.n_hashes)  # (n, h)
        byte_idx = pos >> 3
        bit = (np.uint8(1) << (pos & 7).astype(np.uint8))
        # matrix[:, byte_idx] -> (B, n, h); AND over h, transpose to (n, B)
        got = (self.matrix[:, byte_idx] & bit[None, :, :]) != 0
        return got.all(axis=2).T

    def probe_gram(self, gram: str, live: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """The traversal's probe (plans.traverse.collect; the bulk_contains
        analog): one char gram, hashed as the build hashes it, in every bin
        at once, so the hit vector is known on every bin whatever `live`
        holds."""
        hit = self.probe(np.array([hash_char_kgram(gram)], dtype=np.uint64))[0]
        return hit, np.ones(self.n_bins, dtype=bool)
