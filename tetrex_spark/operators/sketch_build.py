"""Distributed sketch build + merge — the UDAF family of the north rule.

The reference's index build (populate_index,
/root/reference/include/index_ibf.h:101-131) buffers k-mers per bin (A1),
sizes the filter to the largest bin (A2, :133-139) and bulk-inserts (A3,
:88-99) — all single-process. The Spark-first re-expression:

  stage 1 (map side, NO shuffle of raw data) — sketch_partials:
      mapInPandas over corpus partitions; each task folds its rows into
      one partial per (bin_id, spec) it sees, Arrow-batch at a time, fully
      numpy-vectorized: a compact partial (reduced keys) while that is
      smaller than the dense sketch, else the dense sketch (_payload holds
      the rule). The shuffle then moves only serialized payloads, never
      shingles. When the task count is large, a salted inner level merges
      ~_FANIN partials per bucket and keeps its output compact (the
      treeAggregate shape, but expressed on DataFrames so AQE still plans
      it).
  stage 2 (final level) — merge_sketch_rows:
      the library's one shape for grouped Python work (runs.fold_runs):
      a hash exchange on (bin_id, name) into defaultParallelism
      partitions, a sort on those keys, and one mapInArrow pass per
      partition whose fold (_merge_level) turns each run of equal keys —
      any mix of dense sketches and compact partials — into one dense
      row per (bin, spec); the inner level is the same fold keyed by salt
      too. Its three callers: build_sketches (over sketch_partials),
      CheckpointedBuild.finalize (over the stored chunk rows) and
      SketchStream.process_batch (over the previous state plus the
      batch's partials, in one exchange).

Scale notes (100 TB / 1000 executors):
  - raw keys never shuffle; partial count = tasks x bins-per-task.
  - merge fan-in capped by _FANIN via a deterministic-enough salt
    (spark_partition_id); merge is associative+commutative so grouping
    layout cannot change lattice results (property-tested).
  - skewed hosts don't skew this build: partials are per *task*, so a hot
    bin simply appears in more tasks; no repartition-by-bin is needed.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernel import REGISTRY, from_bytes, pack_payload, unpack_payload
from ..kernel.hashing import concat_ranges
from ..functions.text import corpus_text_series
from .runs import fold_runs

SKETCH_ROW_SCHEMA = T.StructType(
    [
        T.StructField("bin_id", T.IntegerType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("payload", T.BinaryType(), False),
        T.StructField("n_items", T.LongType(), False),
    ]
)

KEY_SOURCES = ("token_shingle", "char_kgram", "token", "dgram")
VALUE_SOURCES = ("doc_length_chars", "doc_length_tokens")
DGRAM_PAD = 3  # fixed 3+3 d-gram pads, like the reference (dGramIndex.h)
_FANIN = 64  # partials per inner-level bucket; the inner level engages above 2x


@dataclass(frozen=True)
class SketchSpec:
    """One sketch to build: which kernel, over which derived keys/values."""

    name: str
    kind: str  # bloom | hll | cms | kll | tdigest
    source: str  # token_shingle | char_kgram | token | dgram | doc_length_*
    k: int = 3  # shingle/gram width (source='dgram' pads are DGRAM_PAD wide)
    params: dict = field(default_factory=dict)
    seed: int = 42
    # inclusive (min_gap, max_gap) for source='dgram': one spec holds the
    # keys of every gap, because the key encodes its gap
    gaps: tuple[int, int] | None = None

    def __post_init__(self):
        if self.kind not in REGISTRY:
            raise ValueError(f"unknown sketch kind {self.kind!r}")
        if self.source not in KEY_SOURCES + VALUE_SOURCES:
            raise ValueError(f"unknown source {self.source!r}")
        if (self.source == "dgram") != (self.gaps is not None):
            raise ValueError("gaps is required for source='dgram' and only there")

    def make(self):
        return REGISTRY[self.kind](**self.params)

    def manifest_entry(self) -> dict:
        return {
            "name": self.name,
            "kind": self.kind,
            "source": self.source,
            "k": self.k,
            "params": self.params,
            "seed": self.seed,
            "gaps": self.gaps,
        }


class _BatchDerived:
    """Per-Arrow-batch derivation cache: tokenize + hash each batch ONCE
    and serve every spec from it (three token-sourced specs used to cost
    three full split+hash passes)."""

    def __init__(self, text: pd.Series):
        self.text = text
        self._tok: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._chargrams: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}

    def _token_hashes(self, seed: int) -> tuple[np.ndarray, np.ndarray]:
        got = self._tok.get(seed)
        if got is None:
            from ..kernel.hashing import hash_ws_tokens_series

            got = self._tok[seed] = hash_ws_tokens_series(self.text, seed)
        return got

    def _char_grams(self, k: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
        got = self._chargrams.get((k, seed))
        if got is None:
            from ..kernel.hashing import hash_char_kgrams_series

            got = self._chargrams[(k, seed)] = hash_char_kgrams_series(
                self.text, k, seed
            )
        return got

    def extract(self, spec: SketchSpec) -> tuple[np.ndarray, np.ndarray]:
        """(concatenated keys/values, per-doc counts)."""
        from ..functions.text import _combine_shingles

        if spec.source in ("token_shingle", "token"):
            th, counts_tok = self._token_hashes(spec.seed)
            k = spec.k if spec.source == "token_shingle" else 1
            if th.size == 0:
                return np.zeros(0, dtype=np.uint64), np.zeros(len(self.text), np.int64)
            return _combine_shingles(th, counts_tok, k)
        if spec.source == "char_kgram":
            return self._char_grams(spec.k, spec.seed)
        if spec.source == "dgram":
            # keys pair char-PAD-grams across every gap of spec.gaps: one
            # gram hashing pass, then one gather per gap into one key array
            from ..kernel.hashing import dgram_keys_from_chargrams

            grams, counts = self._char_grams(DGRAM_PAD, spec.seed)
            return dgram_keys_from_chargrams(grams, counts, *spec.gaps, DGRAM_PAD)
        if spec.source == "doc_length_chars":
            vals = self.text.str.len().fillna(0).to_numpy(dtype=np.float64)
            return vals, np.ones(len(self.text), dtype=np.int64)
        if spec.source == "doc_length_tokens":
            _, counts_tok = self._token_hashes(spec.seed)
            return counts_tok.astype(np.float64), np.ones(len(self.text), dtype=np.int64)
        raise AssertionError(spec.source)


def _dense_bytes(spec: SketchSpec) -> int:
    """Approximate serialized size of the dense sketch — the spill/compact
    threshold."""
    p = spec.params
    if spec.kind == "bloom":
        return p["m_bits"] // 8
    if spec.kind == "hll":
        return 1 << p["p"]
    if spec.kind == "cms":
        return p["width"] * p["depth"] * 8
    return 4096  # kll / tdigest payloads are small and value-count-bound


def _payload(spec: SketchSpec, sk, keys=None, counts=None, *, compact=False) -> bytes:
    """The one exit of a sketch row: a dense sketch `sk` and/or pending
    keys/values (`counts` per key, CMS only; either may be None, not
    both) -> payload.

    With `compact` and no dense sketch, the keys are reduced — unique keys
    (bloom/hll), unique (key, count) pairs (cms), float64 values
    (kll/tdigest) — and shipped as a `partial` payload while that is
    smaller than the dense sketch (_dense_bytes). This is A1, the
    reference's per-bin k-mer buffering before the filter is built
    (include/index_ibf.h:71-99), made distributed: sparse (task, bin)
    segments shuffle their keys, not full bitmaps, and inner merge levels
    stay compact instead of multiplying shuffle bytes by the fan-out.
    Otherwise the keys fold into the sketch, which is serialized."""
    if keys is None:
        return sk.to_bytes()
    if compact and sk is None:
        if spec.kind in ("bloom", "hll"):
            keys = np.unique(keys)
            form, body = "keys", keys.tobytes()
        elif spec.kind == "cms":
            if counts is None:
                keys, counts = np.unique(keys, return_counts=True)
            else:
                keys, inv = np.unique(keys, return_inverse=True)
                summed = np.zeros(keys.size, dtype=np.int64)
                np.add.at(summed, inv, counts)
                counts = summed
            form, body = "pairs", keys.tobytes() + counts.astype(np.int64).tobytes()
        else:
            keys = keys.astype(np.float64)
            form, body = "values", keys.tobytes()
        if len(body) < _dense_bytes(spec):
            return pack_payload("partial", {"spec": spec.name, "form": form}, body)
    if sk is None:
        sk = spec.make()
    if counts is not None:
        sk.update(keys, counts)
    else:
        sk.update(keys)
    return sk.to_bytes()


def _merge_level(
    rows: DataFrame, specs: list[SketchSpec], keys: tuple[str, ...], compact: bool
) -> DataFrame:
    """One merge level (runs.fold_runs on `keys`): each run of equal keys
    (one (bin_id, name[, salt]) group) is merged, whatever mix of dense
    sketches and compact partials it holds: dense sketches merge, partial
    keys concatenate, and the row exits through _payload. `compact`
    keeps an all-partial group compact (inner tree levels); without it
    the row is dense (the final level)."""
    by_name = {s.name: s for s in specs}

    def merge(run) -> dict:
        name = run.column("name")[0].as_py()
        sk, parts, counts = None, [], []
        for blob in run.column("payload").to_pylist():
            kind, params, body = unpack_payload(blob)
            if kind != "partial":
                part = from_bytes(blob)
                sk = part if sk is None else sk.merge(part)
            elif params["form"] == "pairs":
                half = len(body) // 2
                parts.append(np.frombuffer(body[:half], dtype=np.uint64))
                counts.append(np.frombuffer(body[half:], dtype=np.int64))
            else:
                dtype = np.float64 if params["form"] == "values" else np.uint64
                parts.append(np.frombuffer(body, dtype=dtype))
        payload = _payload(
            by_name[name], sk,
            np.concatenate(parts) if parts else None,
            np.concatenate(counts) if counts else None,
            compact=compact,
        )
        return {
            "bin_id": run.column("bin_id")[0].as_py(),
            "name": name,
            "payload": payload,
            "n_items": int(run.column("n_items").to_numpy().sum()),
        }

    return fold_runs(rows, keys, merge, SKETCH_ROW_SCHEMA)


# Cache tiling: an Arrow batch (10k docs) spawns per-stage uint64
# temporaries ~10-30x the text bytes; at full batch size every stage
# round-trips DRAM, and DRAM bandwidth is the shared resource that caps
# 4->16-slot scaling on one socket. Processing a cache-sized slice of
# documents at a time keeps the hash/shingle intermediates
# L2/L3-resident; the (bin, spec) buffers already accumulate across
# slices, so output is unchanged.
_CHUNK_DOCS = 2048


def _partial_builder(specs: list[SketchSpec], has_html: bool):
    dense = {s.name: _dense_bytes(s) for s in specs}
    by_name = {s.name: s for s in specs}

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # (bin, spec) -> either buffered arrays or a materialized sketch
        bufs: dict[tuple[int, str], list[np.ndarray]] = {}
        buf_bytes: dict[tuple[int, str], int] = {}
        sketches: dict[tuple[int, str], object] = {}
        items: dict[tuple[int, str], int] = {}
        def _consume_chunk(pdf: pd.DataFrame) -> None:
            text = corpus_text_series(
                pdf["text"], pdf["html"] if has_html and "html" in pdf else None
            )
            bins = pdf["bin_id"].to_numpy(dtype=np.int64)
            derived = _BatchDerived(text)
            # group DOCS by bin once (300k-element argsort), then gather
            # each spec's keys through concat_ranges — never argsort the
            # 100x-larger key stream itself
            doc_order = np.argsort(bins, kind="stable")
            doc_bins_sorted = bins[doc_order]
            uniq, doc_firsts = np.unique(doc_bins_sorted, return_index=True)
            for spec in specs:
                keys, counts = derived.extract(spec)
                if keys.size == 0:
                    continue
                key_starts = np.zeros(counts.size, dtype=np.int64)
                np.cumsum(counts[:-1], out=key_starts[1:])
                c_sorted = counts[doc_order]
                sorted_keys = keys[concat_ranges(key_starts[doc_order], c_sorted)]
                kcum = np.zeros(c_sorted.size + 1, dtype=np.int64)
                np.cumsum(c_sorted, out=kcum[1:])
                bounds = np.append(kcum[doc_firsts], sorted_keys.size)
                for i, b in enumerate(uniq):
                    seg = sorted_keys[bounds[i] : bounds[i + 1]]
                    if seg.size == 0:
                        continue
                    kk = (int(b), spec.name)
                    items[kk] = items.get(kk, 0) + seg.size
                    if kk in sketches:
                        sketches[kk].update(seg)
                        continue
                    bufs.setdefault(kk, []).append(seg)
                    buf_bytes[kk] = buf_bytes.get(kk, 0) + seg.nbytes
                    if buf_bytes[kk] >= 2 * dense[spec.name]:
                        # buffer outgrew the dense form: spill into a sketch
                        allv = np.concatenate(bufs.pop(kk))
                        buf_bytes.pop(kk)
                        sketches[kk] = spec.make().update(allv)

        for whole in batches:
            if whole.empty:
                continue
            if len(whole) <= _CHUNK_DOCS:
                _consume_chunk(whole)
            else:
                for lo in range(0, len(whole), _CHUNK_DOCS):
                    _consume_chunk(whole.iloc[lo : lo + _CHUNK_DOCS])

        out = {"bin_id": [], "name": [], "payload": [], "n_items": []}
        for kk, n in items.items():
            buf = bufs.get(kk)
            out["bin_id"].append(kk[0])
            out["name"].append(kk[1])
            out["payload"].append(_payload(
                by_name[kk[1]], sketches.get(kk),
                None if buf is None else np.concatenate(buf), compact=True,
            ))
            out["n_items"].append(n)
        if out["bin_id"]:
            yield pd.DataFrame(out)

    return fn


def sketch_partials(corpus: DataFrame, specs: list[SketchSpec]) -> DataFrame:
    """corpus (must carry bin_id, text[, html]) -> partial sketch rows
    (SKETCH_ROW_SCHEMA), each a dense sketch or a compact partial, any
    number per (bin, spec): the map side, plus the salted inner merge
    level when the input has more than 2 x _FANIN partitions (~_FANIN
    partials per bucket, compact output). Finish with merge_sketch_rows."""
    if "bin_id" not in corpus.columns:
        raise ValueError("corpus needs a bin_id column (sources.corpus.with_bin_id)")
    has_html = "html" in corpus.columns
    cols = ["bin_id", "text"] + (["html"] if has_html else [])
    partials = corpus.select(*cols).mapInPandas(
        _partial_builder(specs, has_html), SKETCH_ROW_SCHEMA
    )
    n_parts = corpus.rdd.getNumPartitions()
    if n_parts > 2 * _FANIN:
        n_buckets = (n_parts + _FANIN - 1) // _FANIN
        salted = partials.withColumn(
            "salt", (F.spark_partition_id() % F.lit(n_buckets)).cast("int")
        )
        partials = _merge_level(salted, specs, ("bin_id", "name", "salt"), compact=True)
    return partials


def merge_sketch_rows(rows: DataFrame, specs: list[SketchSpec]) -> DataFrame:
    """Sketch rows of `specs` (SKETCH_ROW_SCHEMA, any mix of dense
    sketches and compact partials, any number per (bin, spec)) -> one
    dense row per (bin, spec). The one final merge level: build_sketches,
    CheckpointedBuild.finalize and SketchStream.process_batch end here."""
    return _merge_level(rows, specs, ("bin_id", "name"), compact=False)


def build_sketches(corpus: DataFrame, specs: list[SketchSpec]) -> DataFrame:
    """corpus (must carry bin_id, text[, html]) -> sketch rows
    (bin_id, name, payload, n_items), one row per (bin, spec)."""
    return merge_sketch_rows(sketch_partials(corpus, specs), specs)


# -- sizing (reference parity: find_largest_bin + compute_bitcount) ----------


def max_bin_cardinality(corpus: DataFrame, source: str, k: int) -> int:
    """Upper bound on per-bin key count for Bloom sizing, computed with
    pure JVM expressions (one cheap aggregate scan, no UDF) — the analog
    of find_largest_bin (/root/reference/include/index_ibf.h:133-139).
    Counts are pre-dedup (an overestimate of distinct keys, hence safe)."""
    html_text = (
        F.regexp_replace(F.decode(F.col("html"), "UTF-8"), "<[^>]*>", " ")
        if "html" in corpus.columns
        else F.lit(None)
    )
    text = F.coalesce(F.col("text"), html_text, F.lit(""))
    if source == "char_kgram":
        cnt = F.greatest(F.length(text) - F.lit(k - 1), F.lit(0))
    elif source in ("token_shingle", "token"):
        ntok = F.size(F.split(F.trim(text), r"\s+"))
        w = 1 if source == "token" else k
        cnt = F.greatest(ntok - F.lit(w - 1), F.lit(0))
    else:
        raise ValueError(f"not a key source: {source}")
    row = (
        corpus.groupBy("bin_id")
        .agg(F.sum(cnt).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]
    )
    return int(row["mx"] or 0)


def collect_sketches(sketch_df: DataFrame) -> dict[tuple[int, str], object]:
    """Driver-side: materialize sketch rows into kernel objects."""
    return {
        (r["bin_id"], r["name"]): from_bytes(bytes(r["payload"]))
        for r in sketch_df.collect()
    }
