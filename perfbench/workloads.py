"""The closed-loop workloads: their operations, the order a single client
sends them in, and the correctness check of every answer.

An operation is a call a library user makes and waits for. Its latency
is the call plus the action that consumes its result (collect, or the
write the call performs); the check against the generator's truth runs
after the timer stops. Inside an operation, `tracer.span` marks the
calls into each tetrex_spark module. Spans cost two clock reads; the
trace-only extras (sizes on disk, plan statistics) run only when the
tracer is enabled, under `Workload.extra`, outside the op's latency.
"""

from __future__ import annotations

import contextlib
import io
import logging
import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np

from gen import QUANTILES, SKETCH_N_BINS
from kernels import max_rank_err


EXTRA = "trace.extra"


@dataclass
class Op:
    """One timed call: `run()` returns the answer, `check(answer)` returns
    None when it is right or a one-line reason when it is wrong."""

    kind: str  # op type, e.g. "build"; names the latency series
    docs: int  # input docs the call processes
    run: Callable[[], object]
    check: Callable[[object], str | None]
    attrs: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Workload:
    """Base: owns the corpus frame and the seeded op stream."""

    name = ""
    kinds: tuple[str, ...] = ()  # every op kind of the stream
    write_kinds: tuple[str, ...] = ()

    def __init__(self, data_dir: str, truth: dict, tracer):
        self.data_dir = data_dir
        self.truth = truth
        self.tracer = tracer
        self.out_dir = os.path.join(data_dir, "out")
        os.makedirs(self.out_dir, exist_ok=True)
        self._n = 0
        self.layer: dict[str, list[float]] = {}

    def note(self, key: str, value: float) -> None:
        """Record one observation of a layer metric (traced runs read them)."""
        self.layer.setdefault(key, []).append(float(value))

    @contextlib.contextmanager
    def extra(self):
        """Trace-only work inside an op. Its span is subtracted from the
        op's latency and its Spark jobs run outside the op's job group."""
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", None)
        try:
            with self.tracer.span(EXTRA) as sp:
                yield sp
        finally:
            sc.setLocalProperty("spark.jobGroup.id", group)

    def load(self, spark) -> None:
        """Set-up scan: read the corpus and count it (the first scan)."""
        self.spark = spark
        self.full_dir = os.path.join(self.data_dir, "corpus")
        self.full = spark.read.parquet(self.full_dir)
        with self.tracer.span("sources.scan") as sp:
            n = self.full.count()
        self.note("sources.scan_s", sp.duration)
        if n != self.truth["n_docs"]:
            raise RuntimeError(f"corpus has {n} rows, generator wrote {self.truth['n_docs']}")
        self.use(self.full, self.full_dir)

    def use(self, corpus, corpus_dir: str) -> None:
        """Point the ops at `corpus` (read from `corpus_dir`)."""
        self.corpus, self.corpus_dir = corpus, corpus_dir

    def warm_slice(self) -> None:
        """Point the ops at the first parquet file of the corpus, for the
        warm-up calls: they compile and load what every later call uses
        at a fraction of the full corpus's cost."""
        first = sorted(f for f in os.listdir(self.full_dir) if f.endswith(".parquet"))[0]
        path = os.path.join(self.full_dir, first)
        self.use(self.spark.read.parquet(path), path)

    def reset(self) -> None:
        """Drop the state the warm-up calls left (after use(full))."""

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.out_dir, f"{tag}_{self._n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warm_ops(self) -> list[Op]:
        """Ops run once, unchecked, on warm_slice() before timing."""
        raise NotImplementedError

    def next_op(self, rng: np.random.Generator) -> Op:
        raise NotImplementedError

    def op_of(self, kind: str, rng: np.random.Generator) -> Op:
        """A fresh op of `kind` (to retake a disturbed sample)."""
        raise NotImplementedError

    def trace_extras(self) -> None:
        """Layer counts that need calls of their own (traced runs only)."""

    def quality(self) -> dict[str, float]:
        """Answer-quality figures of the run (reported, not timed)."""
        return {}


# -- sketch_motif ------------------------------------------------------------------

BATCH = 8
QUERY_KINDS = ("literal", "alternation", "gap", "unselective", "batch8")
BLOCK = ("index_build", "build", "heavy_hitters", "append")


class SketchMotif(Workload):
    """Sketch reports and motif search over one corpus of topical pages.

    The op stream starts with one each of index_build (MotifIndex.build +
    track, whose index the queries use), build (five sketch kinds per
    host bin, merged to global estimates), heavy_hitters and append (one
    SketchStream batch into persisted state). Queries follow for the rest
    of the run, in rounds of one query per class, each round in an order
    drawn from the seeded stream."""

    name = "sketch_motif"
    kinds = BLOCK + QUERY_KINDS
    write_kinds = ("append", "index_build")

    def load(self, spark) -> None:
        from tetrex_spark.operators.sketch_build import SketchSpec

        super().load(spark)
        self.specs = [
            SketchSpec("bloom_tok", "bloom", "token", k=1,
                       params={"m_bits": 1 << 17, "n_hashes": 3}),
            SketchSpec("hll_sh3", "hll", "token_shingle", k=3, params={"p": 12}),
            SketchSpec("cms_tok", "cms", "token", k=1,
                       params={"width": 2048, "depth": 5}),
            SketchSpec("kll_len", "kll", "doc_length_tokens", params={"k": 200}),
            SketchSpec("td_chars", "tdigest", "doc_length_chars",
                       params={"delta": 100.0}),
        ]
        t = self.truth
        self.top = t["top_tokens"]
        self.len_tok = np.asarray(t["doc_len_tokens"], dtype=np.float64)
        self.len_chr = np.asarray(t["doc_len_chars"], dtype=np.float64)
        self.want = {p: {(u, s, e) for u, s, e in rows} for p, rows in t["matches"].items()}
        self.err_ratios: list[float] = []
        self.reset()

    def use(self, corpus, corpus_dir: str) -> None:
        from tetrex_spark.sources.corpus import with_bin_id

        super().use(corpus, corpus_dir)
        self.binned = with_bin_id(corpus, SKETCH_N_BINS)

    def reset(self) -> None:
        from tetrex_spark.streaming.sketch_stream import SketchStream

        self.stream = SketchStream(
            self.fresh_dir("stream"), [self.specs[1], self.specs[2]], SKETCH_N_BINS
        )
        self.appended: list[int] = []  # token totals of the batches appended so far
        self._step = 0
        self._queue: list[str] = []
        self.idx = None
        self._idx_path = None

    # build: five sketch kinds per bin, merged to global estimates
    def _build(self):
        from tetrex_spark.functions.text import hash_token_shingle
        from tetrex_spark.kernel import from_bytes
        from tetrex_spark.operators.sketch_build import build_sketches, collect_sketches

        with self.tracer.span("sketch_build") as sp:
            per_bin = collect_sketches(build_sketches(self.binned, self.specs))
        self.note("sketch_build.s", sp.duration)
        if self.tracer.enabled:
            with self.extra():
                self.note("sketch_build.payload_bytes",
                          sum(len(sk.to_bytes()) for sk in per_bin.values()))
        merged = {}
        for (_, name), sk in sorted(per_bin.items(), key=lambda kv: kv[0]):
            if name in merged:
                merged[name].merge(sk)
            else:
                merged[name] = from_bytes(sk.to_bytes())
        keys = np.array([hash_token_shingle([w], 42) for w, _ in self.top], dtype=np.uint64)
        return {
            "n_rows": len(per_bin),
            "hll": (merged["hll_sh3"].estimate(), merged["hll_sh3"].rel_error),
            "cms": (merged["cms_tok"].estimate(keys), merged["cms_tok"].eps),
            "bloom_fn": int((~merged["bloom_tok"].contains(keys)).sum()),
            "kll": (merged["kll_len"].quantiles(QUANTILES), merged["kll_len"].rank_error),
            "td": (merged["td_chars"].quantiles(QUANTILES), 1.0 / merged["td_chars"].delta),
        }

    def _check_build(self, r) -> str | None:
        t = self.truth
        est, rel = r["hll"]
        # 4 standard errors: exceeded with probability ~6e-5
        ratios = {"hll": abs(est - t["distinct_shingles"]) / t["distinct_shingles"] / (4 * rel)}
        cms_est, eps = r["cms"]
        true = np.array([c for _, c in self.top])
        if (cms_est < true).any():
            return "count-min underestimated a token count"
        ratios["cms"] = float((cms_est - true).max() / (eps * t["n_tokens"]))
        q_est, kll_eps = r["kll"]
        ratios["kll"] = max_rank_err(self.len_tok, QUANTILES, q_est) / kll_eps
        q_est, td_eps = r["td"]
        ratios["tdigest"] = max_rank_err(self.len_chr, QUANTILES, q_est) / td_eps
        self.err_ratios.append(max(ratios.values()))
        if r["bloom_fn"]:
            return f"bloom missed {r['bloom_fn']} inserted tokens"
        if r["n_rows"] % len(self.specs):
            return f"{r['n_rows']} sketch rows is not a multiple of {len(self.specs)} specs"
        worst = max(ratios, key=ratios.get)
        if ratios[worst] > 1.0:
            return f"{worst} error is {ratios[worst]:.2f}x its bound"
        return None

    def _heavy_hitters(self):
        from tetrex_spark.operators.heavy_hitters import heavy_hitters_topk

        with self.tracer.span("heavy_hitters") as sp:
            rows = heavy_hitters_topk(
                self.corpus, k=self.truth["top_k"], phi_num=1,
                phi_den=self.truth["hh_phi_den"],
            ).collect()
        self.note("heavy_hitters.s", sp.duration)
        return [(r["token"], int(r["cnt"])) for r in sorted(rows, key=lambda r: r["rank"])]

    def _check_hh(self, got) -> str | None:
        want = [(w, c) for w, c in self.top[: self.truth["top_k"]]]
        return None if got == want else "top-k differs from the exact top-k"

    def _append(self):
        sizes = self.truth["append_tokens"]
        batch = len(self.appended) % len(sizes)
        df = self.spark.read.parquet(os.path.join(self.data_dir, f"append_{batch}"))
        version = self.stream.current_version() + 1
        with self.tracer.span("sketch_stream") as sp:
            self.stream.process_batch(df, version)
        self.note("sketch_stream.s", sp.duration)
        self.appended.append(sizes[batch])
        if self.tracer.enabled:
            with self.extra():
                self.note("sketch_stream.bytes_written", dir_bytes(
                    os.path.join(self.stream.state_dir, f"state_v{version}")))
        return version

    def _check_append(self, version) -> str | None:
        from pyspark.sql import functions as F

        if self.stream.current_version() != version:
            return "state version did not advance"
        state = self.stream.current_state(self.spark)
        got = state.filter(F.col("name") == "cms_tok").agg(F.sum("n_items")).collect()[0][0]
        want = sum(self.appended)
        return None if got == want else f"state holds {got} tokens, appended {want}"

    def _index_build(self):
        from tetrex_spark.plans.planner import MotifIndex

        t = self.truth
        path = self.fresh_dir("index")
        idx = MotifIndex.build(self.corpus, path, n_bins=t["n_bins"], k=t["k"])
        idx = idx.track(self.corpus, path, min_gap=1, max_gap=t["max_gap"])
        if self.tracer.enabled:
            with self.extra():
                self.note("sources.index_bytes", dir_bytes(path))
                with self.tracer.span("sources.index_load") as sp:
                    MotifIndex.load(self.spark, path)
                self.note("sources.index_load_s", sp.duration)
        if self._idx_path:
            shutil.rmtree(self._idx_path, ignore_errors=True)
        self.idx, self._idx_path = idx, path
        return idx

    def _check_index(self, idx) -> str | None:
        bin_of = self.bin_map()
        for pat, want in self.want.items():
            need = {bin_of[u] for u, _, _ in want}
            if not need <= set(idx.candidate_bins(pat).bin_ids()):
                return f"index prunes a true match of {pat!r}"
        return None

    def bin_map(self) -> dict[str, int]:
        """url -> motif-index bin of the full corpus (and docs per bin)."""
        if not hasattr(self, "_bins"):
            from tetrex_spark.sources.corpus import with_bin_id

            rows = with_bin_id(self.corpus.select("url"), self.truth["n_bins"]).collect()
            self._bins = {r["url"]: r["bin_id"] for r in rows}
            self.bin_docs = np.bincount(list(self._bins.values()), minlength=self.truth["n_bins"])
        return self._bins

    def _query(self, kind: str, pats: list[str]):
        idx = self.idx
        with self.tracer.span(f"query.{kind}") as sp:
            if kind == "batch8":
                rows = idx.query_many(self.corpus, {f"q{i}": p for i, p in enumerate(pats)}).collect()
                got = [(r["query_id"], r["url"], r["start"], r["end"]) for r in rows]
            else:
                rows = idx.query(self.corpus, pats[0]).collect()
                got = [(r["url"], r["start"], r["end"]) for r in rows]
        if self.tracer.enabled:
            self.note(f"verify.{kind}.s", sp.self_time)
            with self.extra():
                bins: set[int] = set()
                for p in pats:
                    bins.update(idx.candidate_bins(p).bin_ids())
                self.bin_map()
                scanned = int(self.bin_docs[sorted(bins)].sum())
                self.note(f"verify.{kind}.rows_scanned", scanned)
                self.note(f"verify.{kind}.hit_doc_frac",
                          len({row[-3] for row in got}) / max(scanned, 1))
        return got

    def _check_query(self, kind: str, pats: list[str], got) -> str | None:
        if len(got) != len(set(got)):
            return "duplicate match rows"
        if kind == "batch8":
            by_q: dict[str, set] = {f"q{i}": set() for i in range(len(pats))}
            for qid, u, s, e in got:
                by_q[qid].add((u, s, e))
            for i, p in enumerate(pats):
                if by_q[f"q{i}"] != self.want[p]:
                    return f"batch match set of {p!r} differs"
            return None
        want, got = self.want[pats[0]], set(got)
        if got != want:
            return f"{pats[0]!r}: {len(want - got)} missed, {len(got - want)} spurious"
        return None

    def _query_op(self, kind: str, rng) -> Op:
        pool = self.truth["pool"]
        if kind == "batch8":
            classes = [QUERY_KINDS[i] for i in rng.integers(0, 4, size=BATCH)]
            pats = [pool[c][int(rng.integers(0, len(pool[c])))] for c in classes]
        else:
            pats = [pool[kind][int(rng.integers(0, len(pool[kind])))]]
        return Op(kind, self.truth["n_docs"], lambda: self._query(kind, pats),
                  lambda got: self._check_query(kind, pats, got), {"patterns": pats})

    def _op(self, kind: str) -> Op:
        n = self.truth["n_docs"]
        fns = {
            "index_build": (n, self._index_build, self._check_index),
            "build": (n, self._build, self._check_build),
            "heavy_hitters": (n, self._heavy_hitters, self._check_hh),
            "append": (self.truth["append_docs"], self._append, self._check_append),
        }
        return Op(kind, *fns[kind])

    def warm_ops(self) -> list[Op]:
        # the index build compiles most plans the other ops run and loads
        # the library code into every worker
        return [self._op("index_build")]

    def op_of(self, kind: str, rng) -> Op:
        return self._op(kind) if kind in BLOCK else self._query_op(kind, rng)

    def next_op(self, rng) -> Op:
        self._step += 1
        if self._step <= len(BLOCK):
            return self._op(BLOCK[self._step - 1])
        if not self._queue:
            self._queue = [QUERY_KINDS[i] for i in rng.permutation(len(QUERY_KINDS))]
        return self._query_op(self._queue.pop(), rng)

    def quality(self) -> dict[str, float]:
        return {"sketch_err_ratio": max(self.err_ratios)} if self.err_ratios else {}


# -- neardup_dedup ------------------------------------------------------------------


class _CapLog(logging.Handler):
    """Counts the LSH bucket-cap drops the dedup module logs."""

    def __init__(self):
        super().__init__(logging.WARNING)
        self.dropped = 0

    def emit(self, record) -> None:
        if "bucket cap" in record.msg:
            self.dropped += int(record.args[1])


class NeardupDedup(Workload):
    """Near-duplicate removal over pages with planted clusters. The op
    stream cycles lsh_clusters (MinHash LSH edges + keep-list), index_gate
    (freeze the first half, gate the second against it) and cli_dedup
    (the CLI's checkpointed dedup into a fresh directory)."""

    name = "neardup_dedup"
    write_kinds = ("index_gate", "cli_dedup")
    kinds = ("lsh_clusters", "index_gate", "cli_dedup")

    def __init__(self, *args):
        super().__init__(*args)
        t = self.truth
        self.comp = {}
        for c in t["clusters"]:
            for d in c:
                self.comp[d] = c[0]
        self.half = t["frozen_below"]
        self.recalls: list[float] = []
        self.caplog = _CapLog()
        logging.getLogger("tetrex_spark.operators.dedup").addHandler(self.caplog)
        self._cycle = 0

    def reset(self) -> None:
        self._cycle = 0

    def _partition_error(self, pairs) -> str | None:
        """pairs: (doc_id, component label). The doc partition must equal
        the planted one, whatever the labels are."""
        seen: dict = {}
        n = 0
        for d, c in pairs:
            n += 1
            want = self.comp.get(d, d)
            if seen.setdefault(c, want) != want:
                return f"component of doc {d} merges two planted clusters"
        if n != self.truth["n_docs"]:
            return f"keep-list has {n} rows, corpus {self.truth['n_docs']}"
        if len(seen) != len(set(seen.values())):
            return "a planted cluster is split"
        return None

    def _lsh_clusters(self):
        from tetrex_spark.operators.clusters import dedup_keep_list
        from tetrex_spark.operators.dedup import minhash_lsh_edges

        before = self.caplog.dropped
        with self.tracer.span("dedup") as sp:
            edges = minhash_lsh_edges(self.corpus, id_col="doc_id",
                                      max_bucket=self.truth["max_bucket"])
        self.note("dedup.s", sp.duration)
        if self.tracer.enabled:
            with self.extra():
                # edges = verified representative pairs + one star edge per
                # exact-duplicate member that is not its group's representative
                star = self.truth["n_docs"] - self.truth["distinct_texts"]
                self.note("dedup.verified_pairs", edges.count() - star)
        with self.tracer.span("clusters") as sp:
            rows = dedup_keep_list(self.corpus.select("doc_id"), edges,
                                   id_col="doc_id").collect()
        self.note("clusters.s", sp.duration)
        self.note("dedup.cap_drops", self.caplog.dropped - before)
        return [(r["id"], r["component"], r["keep"]) for r in rows]

    def _check_clusters(self, rows) -> str | None:
        self.recalls.append(self.pair_recall(rows))
        err = self._partition_error((d, c) for d, c, _ in rows)
        if err:
            return err
        if any(k != (d == c) for d, c, k in rows):
            return "keep flag is not 'doc is its component representative'"
        return None

    def _index_gate(self):
        from pyspark.sql import functions as F
        from tetrex_spark.operators.incremental import (
            build_neardup_index,
            incremental_neardup_gate,
        )

        path = self.fresh_dir("ndindex")
        frozen = self.corpus.filter(F.col("doc_id") < self.half)
        inc = self.corpus.filter(F.col("doc_id") >= self.half)
        with self.tracer.span("incremental.build") as sp:
            build_neardup_index(frozen, path, id_col="doc_id",
                                max_bucket=self.truth["max_bucket"])
        self.note("incremental.build_s", sp.duration)
        if self.tracer.enabled:
            with self.extra():
                self.note("incremental.index_bytes", dir_bytes(path))
        with self.tracer.span("incremental.gate") as sp:
            rows = incremental_neardup_gate(inc, path, id_col="doc_id").collect()
        self.note("incremental.gate_s", sp.duration)
        shutil.rmtree(path, ignore_errors=True)
        return {r["doc_id"]: bool(r["is_new"]) for r in rows}

    def _check_gate(self, got) -> str | None:
        frozen_comps = {self.comp.get(d, d) for d in range(self.half)}
        want = {d: self.comp.get(d, d) not in frozen_comps
                for d in range(self.half, self.truth["n_docs"])}
        if got.keys() != want.keys():
            return "gate rows differ from the increment"
        bad = sum(got[d] != want[d] for d in want)
        return f"{bad} increment docs gated wrongly" if bad else None

    def _cli_dedup(self):
        from tetrex_spark import cli

        out = self.fresh_dir("cli")
        with self.tracer.span("lineage") as sp, contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main(["dedup", "--corpus", self.corpus_dir, "--output", out,
                           "--id-col", "doc_id", "--chunks", "1"])
        self.note("lineage.s", sp.duration)
        if self.tracer.enabled:
            with self.extra():
                self.note("lineage.bytes_written", dir_bytes(out))
        return rc, out

    def _check_cli(self, got) -> str | None:
        rc, out = got
        if rc != 0:
            return f"cli exited {rc}"
        rows = self.spark.read.parquet(os.path.join(out, "keep")).collect()
        shutil.rmtree(out, ignore_errors=True)
        err = self._partition_error((r["doc_id"], r["component"]) for r in rows)
        if err:
            return err
        if sum(r["keep"] for r in rows) != len({r["component"] for r in rows}):
            return "keep flags do not pick one doc per component"
        return None

    def _op(self, kind: str) -> Op:
        n = self.truth["n_docs"]
        fns = {
            "lsh_clusters": (self._lsh_clusters, self._check_clusters),
            "index_gate": (self._index_gate, self._check_gate),
            "cli_dedup": (self._cli_dedup, self._check_cli),
        }
        return Op(kind, n, *fns[kind])

    def warm_ops(self) -> list[Op]:
        # only the LSH path pays a large first-call cost (plan compilation);
        # the other two ops run at their steady cost the first time
        return [self._op("lsh_clusters")]

    def op_of(self, kind: str, rng) -> Op:
        return self._op(kind)

    def next_op(self, rng) -> Op:
        kind = self.kinds[self._cycle % len(self.kinds)]
        self._cycle += 1
        return self._op(kind)

    def quality(self) -> dict[str, float]:
        return {"pair_recall": min(self.recalls)} if self.recalls else {}

    def trace_extras(self) -> None:
        """LSH candidate pairs: the capped band buckets of the exact-dup
        representatives, from the dedup module's public building blocks
        (the LSH op computes them inside one fused plan)."""
        from tetrex_spark.operators.dedup import (
            band_buckets,
            capped_candidate_pairs,
            dup_groups,
            minhash_sigs_and_sets,
        )

        _, reps = dup_groups(self.corpus, "text", "doc_id")
        sigs = minhash_sigs_and_sets(reps, 3, 128, "txt", "id")
        self.note("dedup.candidate_pairs", capped_candidate_pairs(
            band_buckets(sigs, 32, 4), self.truth["max_bucket"], log_drops=False).count())

    def pair_recall(self, rows) -> float:
        """Share of planted near-dup pairs placed in one component."""
        comp = {d: c for d, c, _ in rows}
        found = total = 0
        for c in self.truth["clusters"]:
            labels = [comp.get(d, f"missing {d}") for d in c]
            n = len(c)
            total += n * (n - 1) // 2
            _, counts = np.unique(labels, return_counts=True)
            found += int((counts * (counts - 1) // 2).sum())
        return found / total


WORKLOADS = {w.name: w for w in (SketchMotif, NeardupDedup)}
