"""MotifIndex — the end-to-end query planner tying build, traversal and
verification together. The Spark analog of `tetrex index` + `tetrex query`
(/root/reference/src/main.cpp:36-59, src/query.cpp:375-498):

  build:  corpus -> bin_id -> char-kgram Bloom per bin (sketch table +
          manifest, including the observed corpus alphabet — the closed
          alphabet TetRex gets for free from the 20-AA residue set — and
          the characters of text per bin). A corpus that is a bare file
          scan also gets a bin-sorted copy of its text (sources.bin_text),
          written concurrently with the sketch jobs.
  query:  normalize + trim -> postfix -> NFA (bounded unroll) ->
          traversal over the stacked Bloom matrix -> candidate bins ->
          verify -> (url, match, start, end) DataFrame.

The read rule (`MotifIndex._driver_scan`) is a contract. It prices a
query by the characters the regex kernel will scan and picks one of three
verifies, before any read where that is possible:
  - driver, as-is: the query's corpus is the indexed file scan and its
    patterns' candidate bins hold at most DRIVER_VERIFY_MAX_CHARS in all.
    The bins' row groups of the text copy are read with pyarrow and
    verified on the driver into a local DataFrame (no Spark job);
  - driver, with a document prefilter: as above, but a pattern whose
    traversal was constrained (not full_scan) and whose bins hold more
    than DRIVER_VERIFY_MAX_CHARS is prefiltered. The read (at most
    PREFILTER_MAX_READ_CHARS) is normalized once, the pattern's NFA is
    traversed a second time with each candidate document as a "bin" and
    its exact grams as the filter (traverse.DocGrams), and the kernel
    scans only the documents that traversal keeps, if they and the as-is
    patterns' bins hold at most DRIVER_VERIFY_MAX_CHARS;
  - Spark: anything else — another corpus, an unconstrained (full_scan)
    pattern over a large corpus, a prefilter whose read or probe work
    would exceed its bound, or survivors that still exceed the verify
    bound. An isin-pruned corpus scan with an Arrow-batched regex verify
    on the executors.
The prefilter is sound: it is the bin traversal with a false-positive-free
filter per document, over the same normalized text the kernel searches,
and gap terms dropped. It drops a document only where the bin traversal
over an exact filter of that document would, so its recall equals the
index's.

The traversal runs on the driver exactly as in TetRex — the Bloom matrix
is tiny relative to the corpus (B x m bits). On the Spark path the corpus
never moves; only candidate bin ids cross back into the cluster as a
pushed-down predicate. On the driver path, like TetRex re-opening its
candidate bin files, only the candidate bins' text is read."""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..functions.text import corpus_text_series, normalize_query
from ..operators.sketch_build import SketchSpec, build_sketches
from ..operators.verify import (
    MULTI_MATCH_SCHEMA,
    all_match_rows,
    compile_pattern,
    conjunctive_schema,
    local_frame,
    match_rows,
    prune_to_bins,
    verify_conjunctive,
    verify_regex_many,
)
from ..sources.bin_text import TEXT_DIR, corpus_fingerprint, read_bin_text, write_bin_text
from ..sources.corpus import hot_hosts, with_bin_id
from ..sources.sketch_store import (
    MANIFEST_NAME,
    BloomMatrix,
    index_manifest,
    read_manifest,
    read_sketch_payloads,
    write_manifest,
    write_sketch_rows,
)
from ..kernel.bloom import bloom_m_bits
from .dgram import DGRAM_SKETCH_NAME, MAX_BIN_PADGRAMS, PAD, DGramIndex
from .nfa import NFA, compile_nfa
from .rx import trim_regex
from .traverse import DocGrams, TraversalResult, collect

MOTIF_SKETCH_NAME = "char_bloom"
# salt-shards per hot host of a salted build (recorded in the manifest)
N_SALT = 8
# The read rule (module docstring) prices a query by the characters the
# regex kernel scans. Measured on a 4-core host (local[4], median of 7)
# over the perfbench sketch_motif corpus (seed 302, 3.26M chars in 32
# bins), one alternation verified over growing bin sets: the driver read +
# normalize + verify took 62 ms at 181k chars, 107 ms at 1.16M, 149 ms at
# 2.27M and 216 ms at 3.26M; the Spark scan 180-310 ms at any size. The
# most characters the kernel scans on the driver sits below that ~2.8M
# break-even. (It was 1M when normalizing cost 3.5x more: 211 ms at 1.57M.)
DRIVER_VERIFY_MAX_CHARS = 2_000_000
# A document prefilter reads and normalizes its bins before it knows
# whether the survivors fit: 88 ms for the 3.26M chars above (pyarrow read
# 31, to pandas 9, normalize 48). A read of at most this many characters
# loses ~110 ms when the query then goes to Spark anyway.
PREFILTER_MAX_READ_CHARS = 4_000_000
# A gram probe over every document costs ~0.8 ns a character (2.6 ms for
# the 3.26M chars). A pattern's Bloom probes x its bins' characters bounds
# its document traversal's work (the unselective perfbench patterns: 9-18
# probes, 12-18 ms), and this cap holds it near 100 ms: '[aeiou]{5}' (3,125
# probes, 12.5 s at document level) is verified on Spark.
PREFILTER_MAX_PROBE_CHARS = 128_000_000


class _Scan(NamedTuple):
    """What the verify of one pattern scans: its normalized `pattern`, its
    candidate `bins` (None: every bin), the `nfa` of a traversal that was
    constrained (None when some accepting path was not: full_scan), and
    the grams its Bloom traversal probed."""

    pattern: str
    bins: list[int] | None
    nfa: NFA | None
    n_probes: int


def alphabet_and_sizing(binned: DataFrame, *widths: int) -> tuple:
    """(max per-bin char-gram count for each of `widths`..., corpus
    alphabet, {bin_id: characters of text}) from ONE aggregation job over
    `binned` (bin_id, text[, html]).

    A width-w entry is the largest per-bin sum of max(len - w + 1, 0) over
    the bin's docs — what max_bin_cardinality(binned, "char_kgram", w)
    returns, the Bloom sizing input. The alphabet is every distinct char of
    the lowered, tag-stripped text, whitespace folded to ' ', as a sorted
    string: a sound closed set for dot-expansion, since it covers every
    char the indexed (extracted, normalized) text can contain — a superset
    only ever adds candidate probes, which verify removes. The per-bin
    character totals (text, or tag-stripped html where text is null) are
    the sums the width entries take the max of, at width 1; a query
    prices its verify with them.

    Shape: per row, project (bin_id, chars, one gram count per width,
    distinct chars), posexplode the char array (<= |alphabet| rows per
    doc), attribute the counts to pos==0 only, then ONE groupBy(bin_id)
    with map-side-combined partials (per-bin sums + char set, all tiny)
    and a final fold to (maxes, union, per-bin chars)."""
    html_text = (
        F.regexp_replace(F.decode(F.col("html"), "UTF-8"), "<[^>]*>", " ")
        if "html" in binned.columns
        else F.lit(None)
    )
    text = F.coalesce(F.col("text"), html_text, F.lit(""))
    cnts = [
        F.greatest(F.length(text) - F.lit(w - 1), F.lit(0)).alias(f"cnt{i}")
        for i, w in enumerate(widths)
    ]
    chars = F.array_distinct(F.split(F.lower(text), ""))
    ex = binned.select(
        "bin_id", F.length(text).alias("len"), *cnts,
        F.posexplode(chars).alias("pos", "c"),
    )
    first = F.col("pos") == 0
    row = (
        ex.groupBy("bin_id")
        .agg(
            F.sum(F.when(first, F.col("len")).otherwise(0)).alias("chars"),
            *[
                F.sum(F.when(first, F.col(f"cnt{i}")).otherwise(0)).alias(f"n{i}")
                for i in range(len(widths))
            ],
            F.collect_set("c").alias("cs"),
        )
        .agg(
            *[F.max(f"n{i}").alias(f"mx{i}") for i in range(len(widths))],
            F.array_distinct(F.flatten(F.collect_list("cs"))).alias("alpha"),
            F.collect_list(F.struct("bin_id", "chars")).alias("bins"),
        )
        .collect()[0]
    )
    chars_out = {c for c in (row["alpha"] or []) if c != ""}
    chars_out = {(" " if c.isspace() else c) for c in chars_out}
    maxes = [int(row[f"mx{i}"] or 0) for i in range(len(widths))]
    bin_chars = {int(r["bin_id"]): int(r["chars"]) for r in row["bins"] or []}
    return (*maxes, "".join(sorted(chars_out)), bin_chars)


class MotifIndex:
    """Built index handle: manifest + driver-side Bloom matrix (+ the
    optional d-gram filter from a `track` run, plans.dgram.DGramIndex).

    The index directory is driver-local: `load` reads the manifest and
    every sketch row with one pyarrow read on the driver and runs no Spark
    job, whatever the number of tracked gaps. A query against the indexed
    file scan may read the index's bin-sorted text copy there too
    (sources.bin_text)."""

    def __init__(self, bloom: BloomMatrix, manifest: dict, k: int, alphabet: str,
                 dgram=None, path: str | None = None):
        self.bloom = bloom
        self.manifest = manifest
        self.k = k
        self.alphabet = alphabet
        self.dgram = dgram
        self.path = path
        self.bin_chars = np.asarray(manifest.get("bin_chars", []), dtype=np.int64)

    # -- build ---------------------------------------------------------------

    @staticmethod
    def build(
        corpus: DataFrame,
        path: str,
        *,
        n_bins: int = 64,
        k: int = 3,
        fpr: float = 0.05,
        n_hashes: int = 3,
        salt_hot_hosts: str | list[str] | None = None,
        hot_factor: float = 4.0,
    ) -> "MotifIndex":
        """`tetrex index` analog. Sizes the filters to the largest bin
        (include/index_ibf.h:133-139) via a JVM-only pre-pass.

        `salt_hot_hosts` wires the north-rule salted-repartitioning clause
        into the build itself: 'auto' detects hosts exceeding `hot_factor`
        x the mean bin load (sources.corpus.hot_hosts) and spreads each
        over N_SALT salt-shards; an explicit host list skips detection
        (e.g. fed from lineage.skew_report). The salted assignment is
        RECORDED IN THE MANIFEST, so track and the queries recompute the
        identical bin ids from it alone — hit sets are unchanged (salted
        shards are ordinary bins; property-tested), only the hot host's
        verify scan stops concentrating in one bin. This is the
        recommended setting for skewed web corpora.

        A corpus that already carries bin_id (e.g. pre-salted via
        with_bin_id(salt_hot_hosts=...)) keeps its assignment — query()
        honors the same rule, so build and prune always agree.

        A corpus that is a bare file scan (sources.bin_text.
        corpus_fingerprint) also gets a bin-sorted copy of its text under
        `path/text`, written by a JVM-only job that runs in a thread
        alongside the sizing and sketch jobs; queries of that same scan
        verify small candidate sets from it on the driver. The manifest is
        written last, after both sides finished: a failed build leaves no
        manifest, so `load` refuses the directory."""
        if "bin_id" in corpus.columns:
            # the pre-assigned bin ids ARE the index layout; recording a
            # salt we never applied would make query() re-bin hot hosts
            # differently from the bins their kgrams were indexed under
            # (silent false negatives)
            if salt_hot_hosts:
                raise ValueError(
                    "salt_hot_hosts requires build() to assign bin_id "
                    "itself; either drop the corpus's bin_id column or "
                    "pre-salt via with_bin_id(salt_hot_hosts=...) and "
                    "query with the same pre-binned corpus"
                )
            salted: list[str] = []
            binned = corpus
        else:
            if salt_hot_hosts == "auto":
                salted = hot_hosts(corpus, n_bins, factor=hot_factor)
            else:
                salted = sorted(salt_hot_hosts) if salt_hot_hosts else []
            binned = with_bin_id(
                corpus, n_bins, salt_hot_hosts=salted or None, n_salt=N_SALT,
            )
        spark = corpus.sparkSession
        fingerprint = corpus_fingerprint(corpus)
        # a rebuild first drops what could describe the previous build
        if os.path.exists(os.path.join(path, MANIFEST_NAME)):
            os.remove(os.path.join(path, MANIFEST_NAME))
        shutil.rmtree(os.path.join(path, TEXT_DIR), ignore_errors=True)
        n_files = min(n_bins, spark.sparkContext.defaultParallelism)
        # leaving the pool joins the text write, whichever side failed
        with ThreadPoolExecutor(max_workers=1) as pool:
            text_written = None
            if fingerprint is not None:
                text_written = pool.submit(
                    inheritable_thread_target(spark)(write_bin_text), binned, path, n_files
                )
            # ONE fused pre-pass for Bloom sizing, the manifest alphabet,
            # the per-bin character totals and the PAD-gram count that
            # sizes a later track's d-gram filter
            n_max, n_padgrams, alphabet, bin_chars = alphabet_and_sizing(binned, k, PAD)
            m_bits = bloom_m_bits(n_max, fpr)
            spec = SketchSpec(
                MOTIF_SKETCH_NAME,
                "bloom",
                "char_kgram",
                k=k,
                params={"m_bits": m_bits, "n_hashes": n_hashes},
            )
            write_sketch_rows(build_sketches(binned, [spec]), path)
            if text_written:
                text_written.result()
        write_manifest(path, index_manifest([spec], n_bins, {
            "k": k, "fpr": fpr, "alphabet": alphabet,
            "salted_hosts": salted, "n_salt": N_SALT,
            MAX_BIN_PADGRAMS: n_padgrams,
            "bin_chars": [bin_chars.get(b, 0) for b in range(n_bins)],
            "corpus_fingerprint": fingerprint,
        }))
        return MotifIndex.load(spark, path)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "MotifIndex":
        """Driver-side load of a built (and possibly tracked) index: one
        manifest read and one read of `rows/`, no Spark job. `spark` is
        unused; the signature matches the other entry points."""
        manifest = read_manifest(path)
        payloads = read_sketch_payloads(path)
        bloom = BloomMatrix.load(payloads, MOTIF_SKETCH_NAME, manifest["n_bins"])
        dgram = DGramIndex.load(manifest, payloads)
        return MotifIndex(bloom, manifest, manifest["k"], manifest["alphabet"],
                          dgram=dgram, path=path)

    def _binned(self, corpus: DataFrame) -> DataFrame:
        """Bin assignment matching THIS index's manifest — including any
        recorded hot-host salting, so build, d-gram track and query prune
        always agree on bin ids."""
        if "bin_id" in corpus.columns:
            return corpus
        return with_bin_id(
            corpus, self.manifest["n_bins"],
            salt_hot_hosts=self.manifest["salted_hosts"] or None,
            n_salt=self.manifest["n_salt"],
        )

    def track(self, corpus: DataFrame, path: str, *, min_gap: int = 1,
              max_gap: int = 21, fpr: float = 0.05) -> "MotifIndex":
        """`tetrex track` analog: add the one gapped-gram filter
        (`dgram_bloom`, every gap in [min_gap, max_gap]) to this index and
        reload (src/dGramIndex.cpp:20-38). It is the index's second sketch
        spec: the corpus is binned from the manifest like the build's, so
        both sketch families prune identically.

        `corpus` must be the corpus the index was built from, and `path`
        this index's own directory: the filter is sized from the PAD-gram
        count the build recorded in the manifest, so track runs no sizing
        scan. Tracking again replaces the previous d-gram filter and its
        gap range. The manifest loses its `dgram` entry before the rows
        are rewritten and gets the new one after, so a failed track leaves
        an untracked index, never a gap range over rows of other gaps."""
        if self.path is None or os.path.realpath(path) != os.path.realpath(self.path):
            raise ValueError(
                f"track writes into the index's own directory {self.path!r}, "
                f"not {path!r}"
            )
        manifest = {k: v for k, v in self.manifest.items() if k != "dgram"}
        # per-bin keys of one gap <= the bin's PAD-gram count
        m_bits = bloom_m_bits((max_gap - min_gap + 1) * manifest[MAX_BIN_PADGRAMS], fpr)
        spec = SketchSpec(
            DGRAM_SKETCH_NAME, "bloom", "dgram", k=PAD, gaps=(min_gap, max_gap),
            params={"m_bits": m_bits, "n_hashes": 3},
        )
        write_manifest(path, manifest)
        build_sketches(self._binned(corpus), [spec]).drop("name").write.mode(
            "overwrite").parquet(f"{path}/rows/name={DGRAM_SKETCH_NAME}")
        write_manifest(path, {**manifest, "dgram": {
            "min_gap": min_gap, "max_gap": max_gap, **spec.params, "seed": spec.seed,
        }})
        return MotifIndex.load(corpus.sparkSession, path)

    # -- plan ----------------------------------------------------------------

    def _plan(self, pattern: str) -> tuple[NFA | None, TraversalResult]:
        """(NFA of the trimmed pattern, or None when trimming leaves
        nothing; its traversal over the Bloom matrix)."""
        trimmed = trim_regex(normalize_query(pattern))
        if not trimmed:
            ones = np.ones(self.bloom.n_bins, dtype=bool)
            return None, TraversalResult(ones, 0, 0, True)
        nfa = compile_nfa(trimmed, self.k, frozenset(self.alphabet))
        return nfa, collect(nfa, self.bloom, self.k, dgram=self.dgram)

    def candidate_bins(self, pattern: str) -> TraversalResult:
        """regex -> candidate bin vector (stages P7/P8 -> F1-F3 -> A5-A8)."""
        return self._plan(pattern)[1]

    def _scans(self, patterns: list[str], conjunctive: bool = False) -> list[_Scan]:
        """One _Scan per pattern from one traversal each. In a conjunctive
        query every pattern's candidate bins are the AND over all patterns
        (include/query.h:267)."""
        plans = [self._plan(p) for p in patterns]
        vecs = [res.bins for _, res in plans]
        if conjunctive:
            vecs = [np.logical_and.reduce(vecs)] * len(vecs)
        return [
            _Scan(normalize_query(p),
                  None if vec.all() else [int(i) for i in np.flatnonzero(vec)],
                  None if res.full_scan else nfa, res.n_probes)
            for p, (nfa, res), vec in zip(patterns, plans, vecs)
        ]

    # -- execute ---------------------------------------------------------------

    def _driver_scan(
        self, corpus: DataFrame, scans: list[_Scan], conjunctive: bool = False
    ) -> tuple[np.ndarray, pd.Series, list[np.ndarray]] | None:
        """The read rule of the module docstring: (urls, normalized text,
        one row mask per scan) of this index's text copy when the verify
        runs on the driver, None when it runs on Spark. A scan's mask holds
        the rows its kernel scans: the rows of its bins, less what the
        prefilter drops; in a conjunctive query, the rows every scan kept.
        Each scan is priced by its bins' characters before the read, a
        prefiltered one again by its survivors' after it."""
        fingerprint = self.manifest.get("corpus_fingerprint")
        if fingerprint is None or self.path is None:
            return None
        chars = [self._chars(sc.bins) for sc in scans]
        prefilter = [sc.nfa is not None and c > DRIVER_VERIFY_MAX_CHARS
                     for sc, c in zip(scans, chars)]
        if sum(c for c, pf in zip(chars, prefilter) if not pf) > DRIVER_VERIFY_MAX_CHARS:
            return None
        read = _union(scans)
        if any(prefilter) and (
            self._chars(read) > PREFILTER_MAX_READ_CHARS
            or any(pf and sc.n_probes * c > PREFILTER_MAX_PROBE_CHARS
                   for sc, c, pf in zip(scans, chars, prefilter))
        ):
            return None
        if corpus_fingerprint(corpus) != fingerprint:
            return None
        pdf = read_bin_text(self.path, read).to_pandas()
        urls = pdf["url"].to_numpy()
        text = corpus_text_series(pdf["text"], pdf["html"] if "html" in pdf else None)
        bin_ids = pdf["bin_id"].to_numpy()
        masks = [np.ones(len(pdf), dtype=bool) if sc.bins is None else np.isin(bin_ids, sc.bins)
                 for sc in scans]
        if not any(prefilter):
            return urls, text, masks
        docs = text.to_numpy()
        for sc, pf, mask in zip(scans, prefilter, masks):
            if pf:
                rows = np.flatnonzero(mask)
                mask[rows[~collect(sc.nfa, DocGrams(docs[rows].tolist()), self.k).bins]] = False
        if conjunctive:
            masks = [np.logical_and.reduce(masks)] * len(masks)
        lengths = text.str.len().to_numpy()
        if sum(int(lengths[m].sum()) for m in masks) > DRIVER_VERIFY_MAX_CHARS:
            return None
        return urls, text, masks

    def _chars(self, bins: list[int] | None) -> int:
        """Characters of text in `bins` (None: every bin)."""
        return int(self.bin_chars.sum() if bins is None else self.bin_chars[bins].sum())

    def query(self, corpus: DataFrame, pattern: str) -> DataFrame:
        """Full pipeline -> matches (url, match, start, end): the
        one-pattern case of `query_many`.

        `corpus` may be the same DataFrame the index was built from or a
        re-read of the same table; bin assignment is recomputed from the
        manifest so ids line up. A re-read of the indexed files verifies
        on the driver when the read rule allows (see `_driver_scan`) and
        returns a local DataFrame: no Spark job."""
        return self.query_many(corpus, {"": pattern}).drop("query_id")

    def query_many(self, corpus: DataFrame, patterns: dict[str, str] | list[str]) -> DataFrame:
        """Batched multi-pattern query — the reference's TSV query-file
        path (S6, run_multiple_queries src/query.cpp:342-373) done
        Spark-first: every pattern's candidate bins come from the driver
        traversal (sub-ms each), the corpus is pruned ONCE to the union
        of candidate bins, and a single verify pass applies each pattern
        only to rows of its own bins. N patterns cost one scan instead
        of N sequential jobs, or none when the verify runs on the driver
        (see `_driver_scan`). Returns (query_id, url, match, start, end)."""
        if not isinstance(patterns, dict):
            patterns = {p: p for p in patterns}
        scans = self._scans(list(patterns.values()))
        local = self._driver_scan(corpus, scans)
        if local is not None:
            urls, text, masks = local
            return local_frame(corpus.sparkSession, match_rows(text, urls, [
                (qid, compile_pattern(sc.pattern), mask)
                for qid, sc, mask in zip(patterns, scans, masks)
            ]), MULTI_MATCH_SCHEMA)
        return verify_regex_many(self._pruned(corpus, scans),
                                 [(qid, sc.pattern, sc.bins) for qid, sc in zip(patterns, scans)])

    def query_all(self, corpus: DataFrame, patterns: list[str]) -> DataFrame:
        """Conjunctive multi-motif (A5 + F11): candidate vectors AND-ed
        across queries (include/query.h:267), then one pruned scan (or a
        driver-side verify under the same read rule as `query_many`)
        where every pattern must match."""
        if not patterns:
            raise ValueError("query_all needs at least one pattern")
        scans = self._scans(patterns, conjunctive=True)
        local = self._driver_scan(corpus, scans, conjunctive=True)
        if local is not None:
            urls, text, masks = local
            rows = masks[0]
            keep = all_match_rows(text[rows], [sc.pattern for sc in scans])
            return local_frame(corpus.sparkSession, pd.DataFrame({"url": urls[rows][keep]}),
                               conjunctive_schema(corpus.schema["url"].dataType))
        return verify_conjunctive(self._pruned(corpus, scans), [sc.pattern for sc in scans])

    def _pruned(self, corpus: DataFrame, scans: list[_Scan]) -> DataFrame:
        """The corpus binned by this index, pruned to the union of the
        scans' candidate bins (Spark verify path)."""
        binned = self._binned(corpus)
        bins = _union(scans)
        return binned if bins is None else prune_to_bins(binned, bins, self.bloom.n_bins)


def _union(scans: list[_Scan]) -> list[int] | None:
    """The sorted union of the scans' candidate bins (None: every bin)."""
    if any(sc.bins is None for sc in scans):
        return None
    return sorted({b for sc in scans for b in sc.bins})
