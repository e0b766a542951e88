"""Checkpointed per-partition lineage + metrics — resumable sketch builds
and near-dup pipelines (explicit north-rule requirement; no analog in the
reference, whose build is a single-process all-or-nothing cereal dump,
index_base.h:181-187).

Model: the corpus is sliced into `n_chunks` deterministic chunks
(pmod(xxhash64(url), n_chunks) for sketch builds, of the id for the
dedup pipelines — stable across runs and parallelism). Every pipeline
shares one checkpoint-dir layout:

  params_<build_id>.json              the parameter fingerprint a
                                      resume must match;
  lineage.jsonl                       one JSON record per committed stage
                                      (build_id, stage, rows, metrics);
  <name>_<build_id>/chunk=<i>/        chunk stages, e.g. CheckpointedBuild's
                                      partial sketch rows in
                                      chunks_<build_id>/chunk=<i>/;
  <name>_<build_id>/                  whole-output stages (rep pairs).

A parquet write is atomic via _SUCCESS, and only then does the lineage
record commit the stage. Resume = skip committed stages; a sketch build's
finalize merges all chunk rows with the build's own final level
(merge_sketch_rows), so a resumed build is byte-identical (lattice
sketches) to a single-shot one — property-tested. Build ids never share
artifact paths, so two builds in one dir cannot mix their chunks.

At 100 TB: set n_chunks to the input's partition/file grain and store the
corpus partitioned by the chunk key — each chunk scan is then partition-
pruned instead of a filtered full pass; the lineage file lives on the
shared FS. Chunk commits are idempotent: a re-run of a committed chunk
overwrites the same path and re-commits the same content.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.sketch_build import SketchSpec, build_sketches, merge_sketch_rows
from .sources.sketch_store import write_json

if TYPE_CHECKING:
    from .operators.dedup import RepLevelRun

LINEAGE_FILE = "lineage.jsonl"


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory Spark wrote, summed from the file
    footers on the driver (pyarrow) — no Spark job. Spark's side files
    (_SUCCESS, .crc) are skipped by pyarrow's default ignore prefixes.
    The path must be readable from the driver, as every checkpoint dir
    is: the lineage log and params files are driver-side files."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def read_stored(spark: SparkSession, *paths: str) -> DataFrame:
    """spark.read.parquet of stage outputs Spark wrote, with the schema
    Spark recorded in the first path's footer (read on the driver, like
    parquet_rows) instead of a schema-inference job. Every stage output
    carries that footer, an empty one included."""
    from .sources.corpus import spark_footer_schema

    return spark.read.schema(spark_footer_schema(paths[0])).parquet(*paths)


class _StagedCheckpoint:
    """Shared machinery for staged, resumable pipelines: a JSONL lineage
    log of committed stages plus a parameter fingerprint pinned per
    build_id — committed stages are only valid under the parameters that
    produced them, so resuming with a changed configuration against old
    artifacts refuses loudly instead of silently returning stale or
    incomplete results.

    Footer-count contract: a committed stage's lineage `rows` is summed
    from the written parquet footers on the driver (parquet_rows), and
    stored stages are read back with the schema recorded in those footers
    (read_stored). Neither runs a Spark job, so the checkpoint dir must
    be readable from the driver — as the lineage log and params files,
    written with open(), already require."""

    # Artifact-layout version, recorded in every params_<build_id>.json:
    # 3 = build_id-namespaced artifact paths (sigsets_<id>/ etc.), MinHash
    # sigset chunks in the minhash_sigs_and_sets schema (id, s, bhs, grp,
    # csize) and rep-pair chunks carrying (grp_a, grp_b). A params file
    # without the marker is layout 1, and so are lineage records of the
    # build_id with no params file at all (CheckpointedBuild dirs from
    # before it had one, chunks under chunks/). A checkpoint written under a
    # different layout must refuse at open time with a clear message —
    # its params fingerprint would otherwise still match and resume would
    # skip the committed stages, then read chunks of the wrong schema.
    LAYOUT_VERSION = 3

    def __init__(
        self, checkpoint_dir: str, *, params: dict, build_id: str,
        subdirs: tuple[str, ...] = (),
    ):
        self.dir = checkpoint_dir
        self.build_id = build_id
        os.makedirs(self.dir, exist_ok=True)
        for s in subdirs:
            os.makedirs(f"{self.dir}/{s}", exist_ok=True)
        # JSON-normalized, so a tuple compares equal to the list it reads
        # back as
        params = json.loads(json.dumps({**params, "_layout": self.LAYOUT_VERSION}))
        ppath = f"{self.dir}/params_{build_id}.json"
        if os.path.exists(ppath):
            stored = json.loads(open(ppath).read())
        elif any(r.get("build_id") == build_id for r in self.lineage()):
            stored = {}  # lineage records from before params files: layout 1
        else:
            stored = None
        if stored is not None:
            if stored.get("_layout") != self.LAYOUT_VERSION:
                raise ValueError(
                    f"checkpoint {self.dir} (build_id={build_id}) uses "
                    f"artifact layout {stored.get('_layout', 1)}, this "
                    f"version reads layout {self.LAYOUT_VERSION} — its "
                    "committed stages point at paths this code no longer "
                    "reads; rebuild in a fresh dir (or with a new "
                    "build_id) instead of resuming"
                )
            if stored != params:
                raise ValueError(
                    f"checkpoint {self.dir} (build_id={build_id}) was "
                    f"created with {stored}; resuming with {params} would "
                    "return stale results — use a new build_id or dir"
                )
        else:
            write_json(ppath, params)

    def _apath(self, name: str) -> str:
        """Artifact path namespaced by build_id: two pipelines (or two
        build_ids of one pipeline) sharing a checkpoint dir must never
        overwrite each other's committed artifacts — the params guard
        says 'use a new build_id or dir', and namespacing makes the
        build_id half of that advice actually safe."""
        return f"{self.dir}/{name}_{self.build_id}"

    def _lineage_path(self) -> str:
        return f"{self.dir}/{LINEAGE_FILE}"

    def lineage(self) -> list[dict]:
        if not os.path.exists(self._lineage_path()):
            return []
        with open(self._lineage_path()) as f:
            return [json.loads(line) for line in f if line.strip()]

    def committed(self) -> set[str]:
        return {
            r["stage"]
            for r in self.lineage()
            if r["build_id"] == self.build_id and r["status"] == "committed"
        }

    def _commit(self, stage: str, **metrics) -> None:
        with open(self._lineage_path(), "a") as f:
            f.write(
                json.dumps(
                    {"build_id": self.build_id, "stage": stage,
                     "status": "committed", **metrics},
                    sort_keys=True,
                )
                + "\n"
            )

    # -- shared stage drivers (one skeleton for every pipeline) -----------

    def _chunk_paths(self, name: str) -> list[str]:
        return [f"{self._apath(name)}/chunk={i}" for i in range(self.n_chunks)]

    def _run_chunk_stages(
        self, prefix: str, name: str, make_chunk,
        done: set[str], stop_after: str | None, *, metrics=None,
    ) -> bool:
        """Write each uncommitted chunk stage (`<prefix>:<i>` →
        `<dir>/<name>_<build_id>/chunk=<i>`) atomically and commit it with
        row/duration metrics, plus the fields `metrics(path)` returns.
        Returns True when `stop_after` simulated a kill."""
        for chunk in range(self.n_chunks):
            stage = f"{prefix}:{chunk}"
            if stage in done:
                continue
            t0 = time.time()
            path = f"{self._apath(name)}/chunk={chunk}"
            make_chunk(chunk).write.mode("overwrite").parquet(path)
            self._commit(stage, rows=parquet_rows(path),
                         duration_sec=round(time.time() - t0, 3),
                         **(metrics(path) if metrics else {}))
            if stop_after == stage:
                return True
        return False

    def _run_write_stage(
        self, stage: str, name: str, scoped_df,
        done: set[str], stop_after: str | None,
    ) -> bool:
        """Write a single whole-output stage (e.g. verified pairs) if not
        committed. `scoped_df()` returns the block (a context manager,
        such as operators.dedup.verify_rep_pairs) that yields the stage's
        frame; it is entered only when the stage runs, and the write and
        its commit happen inside it. Returns True when `stop_after`
        simulated a kill."""
        if stage not in done:
            t0 = time.time()
            with scoped_df() as df:
                df.write.mode("overwrite").parquet(self._apath(name))
                self._commit(stage, rows=parquet_rows(self._apath(name)),
                             duration_sec=round(time.time() - t0, 3))
            if stop_after == stage:
                return True
        return False

    def _chunk_filter(self, df: DataFrame, id_col: str, chunk: int) -> DataFrame:
        """Deterministic id-space chunking — stable across runs and
        parallelism, which is what makes resumed stages reproducible."""
        return df.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(self.n_chunks)) == chunk
        )


class CheckpointedBuild(_StagedCheckpoint):
    """Resumable chunked sketch build. Stage `chunk:<i>` builds the i-th
    chunk's partial sketch rows, writes them atomically to
    `<dir>/chunks_<build_id>/chunk=<i>/` and commits them with their row
    count and per-spec metrics (bins, items, max_bin_items — the input
    of skew_report). The params fingerprint pins the spec manifest
    entries and n_chunks: resuming with another spec list or chunk count
    refuses instead of returning the old specs' rows or merging partials
    of two chunkings."""

    def __init__(
        self,
        checkpoint_dir: str,
        specs: list[SketchSpec],
        *,
        n_chunks: int = 16,
        build_id: str = "build-0",
    ):
        self.specs, self.n_chunks = specs, n_chunks
        super().__init__(
            checkpoint_dir,
            params={"specs": [s.manifest_entry() for s in specs],
                    "n_chunks": n_chunks},
            build_id=build_id,
        )

    def committed_chunks(self) -> set[int]:
        return {
            int(stage.partition(":")[2])
            for stage in self.committed() if stage.startswith("chunk:")
        }

    def run(self, corpus: DataFrame, *, resume: bool = True) -> DataFrame:
        """Build (or resume) all chunks, then return the merged sketch
        rows. Raises nothing on re-run of a finished build: all chunks
        are already committed and only the final merge executes."""
        if "bin_id" not in corpus.columns:
            raise ValueError("corpus needs bin_id (sources.corpus.with_bin_id)")
        self._run_chunk_stages(
            "chunk", "chunks",
            lambda chunk: build_sketches(
                self._chunk_filter(corpus, "url", chunk), self.specs
            ),
            self.committed() if resume else set(), None,
            metrics=_sketch_chunk_metrics,
        )
        return self.finalize(corpus.sparkSession)

    def finalize(self, spark: SparkSession) -> DataFrame:
        """Every committed chunk's sketch rows -> final sketch rows, one
        per (bin, spec), through the build's own final level
        (merge_sketch_rows)."""
        missing = set(range(self.n_chunks)) - self.committed_chunks()
        if missing:
            raise RuntimeError(f"cannot finalize: chunks {sorted(missing)} not committed")
        return merge_sketch_rows(
            read_stored(spark, *self._chunk_paths("chunks"))
            .select("bin_id", "name", "payload", "n_items"),
            self.specs,
        )

    def skew_report(self) -> dict:
        """Per-spec max/total item ratio across chunks — the 'document
        skew stats in lineage metrics' hook for salting decisions."""
        out: dict[str, dict] = {}
        for rec in self.lineage():
            if rec["build_id"] != self.build_id or rec["status"] != "committed":
                continue
            for name, m in rec["metrics"].items():
                agg = out.setdefault(
                    name, {"items": 0, "max_bin_items": 0, "max_to_mean_ratio": 0.0}
                )
                agg["items"] += m["items"]
                agg["max_bin_items"] = max(agg["max_bin_items"], m["max_bin_items"])
                # within-chunk skew: hottest bin vs mean bin
                ratio = m["max_bin_items"] * m["bins"] / max(m["items"], 1)
                agg["max_to_mean_ratio"] = max(agg["max_to_mean_ratio"], round(ratio, 3))
        return out


def _sketch_chunk_metrics(path: str) -> dict:
    """Per-spec (bins, items, max_bin_items) of a stored chunk of partial
    sketch rows, read on the driver (pyarrow) like parquet_rows."""
    import pyarrow.dataset as ds

    t = (
        ds.dataset(path, format="parquet")
        .to_table(columns=["name", "n_items"])
        .group_by("name")
        .aggregate([("n_items", "count"), ("n_items", "sum"), ("n_items", "max")])
        .to_pylist()
    )
    return {"metrics": {
        r["name"]: {"bins": r["n_items_count"], "items": r["n_items_sum"],
                    "max_bin_items": r["n_items_max"]}
        for r in t
    }}


class _RepLevelDedup(_StagedCheckpoint):
    """The exact-dup-collapsing pipelines (MinHash, SimHash): subclasses
    implement run_rep_level; run() is the pair-list view of it."""

    def run_rep_level(
        self, df: DataFrame, *, text_col: str = "text",
        id_col: str = "doc_id", resume: bool = True,
        stop_after: str | None = None,
    ) -> RepLevelRun | None:
        """Build (or resume) the stages; the finished run's
        operators.dedup.RepLevelRun over the stored rep pairs, or None
        when `stop_after` simulated a kill."""
        raise NotImplementedError

    def run(
        self,
        df: DataFrame,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        resume: bool = True,
        stop_after: str | None = None,
        expand_exact_dups: bool = True,
    ) -> DataFrame | None:
        """Build (or resume) the pipeline; returns the member-level pair
        DataFrame (id_a, id_b, <value>) — rep-level with
        expand_exact_dups=False — or None when `stop_after` simulated a
        kill."""
        out = self.run_rep_level(
            df, text_col=text_col, id_col=id_col, resume=resume,
            stop_after=stop_after,
        )
        if out is None:
            return None
        if not expand_exact_dups:
            return out.rep_pairs.select("id_a", "id_b", out.value_col)
        return out.pairs()


class CheckpointedDedup(_RepLevelDedup):
    """Resumable MinHash-LSH near-dup pipeline (the dedup counterpart of
    CheckpointedBuild). It builds the same rep-level tables as the
    in-session minhash_lsh_pairs — dup_groups, then
    minhash_sigs_and_sets, then verify_rep_pairs — and differs only in
    materializing them as stored parquet stages instead of
    localCheckpoints.

    Stage model, each committed to the JSONL lineage log:

      sigsets:<i>  the rep-level sig table (id, s, bhs, grp, csize), in
                   `n_chunks` deterministic chunks of the rep id space
                   (pmod(xxhash64(id), n_chunks) — stable across runs
                   and parallelism), each written atomically to
                   `<dir>/sigsets_<build_id>/chunk=<i>/`.
      pairs        verified rep-level pairs (id_a, id_b, jaccard, grp_a,
                   grp_b) computed FROM THE STORED sigset chunks
                   (banding + cap + exact-Jaccard verify), written to
                   `<dir>/rep_pairs_<build_id>/`.

    A killed job resumes at the first uncommitted stage. run_rep_level
    returns the same operators.dedup.RepLevelRun the in-session path
    does, over the stored stages: members (grp, id) from dup_groups
    (checkpointed lazily), the stored rep pairs, and reps = the stored
    sigset rows with csize > 1. Its member pair list is recomputed
    lazily, so a resumed run is byte-identical to a single-shot one —
    tested by killing after the banding/sigset stage. `stop_after`
    ("sigsets:<i>" | "pairs") simulates the kill in tests.

    Clustering on top reads the rep level, not the expansion
    (clusters.rep_keep_list over the run): connected components run
    over the stored rep pairs, and each document takes the component of
    its group's representative — of its own id when its group is not in
    reps (a singleton, or fewer than k tokens). The keep-list equals the
    member-pair one and never grows with the square of an exact-dup
    cluster."""

    def __init__(
        self,
        checkpoint_dir: str,
        *,
        k: int = 3,
        num_perm: int = 128,
        bands: int = 32,
        threshold: float = 0.8,
        max_bucket: int | None = 512,
        n_chunks: int = 8,
        build_id: str = "dedup-0",
    ):
        self.k, self.num_perm, self.bands = k, num_perm, bands
        self.threshold, self.max_bucket = threshold, max_bucket
        self.n_chunks = n_chunks
        super().__init__(
            checkpoint_dir,
            params={
                "k": k, "num_perm": num_perm, "bands": bands,
                "threshold": threshold, "max_bucket": max_bucket,
                "n_chunks": n_chunks,
            },
            build_id=build_id,
            subdirs=(f"sigsets_{build_id}",),
        )

    # -- stages -----------------------------------------------------------

    def run_rep_level(
        self, df: DataFrame, *, text_col: str = "text",
        id_col: str = "doc_id", resume: bool = True,
        stop_after: str | None = None,
    ) -> RepLevelRun | None:
        from .operators.dedup import (
            _minhash_run,
            dup_groups,
            minhash_sigs_and_sets,
            verify_rep_pairs,
        )

        spark = df.sparkSession
        docs, reps = dup_groups(df, text_col, id_col)
        done = self.committed() if resume else set()
        if self._run_chunk_stages(
            "sigsets", "sigsets",
            lambda chunk: minhash_sigs_and_sets(
                self._chunk_filter(reps, "id", chunk),
                self.k, self.num_perm, "txt", "id",
                passthrough=("grp", "csize"), bands=self.bands,
            ),
            done, stop_after,
        ):
            return None
        ss = read_stored(spark, *self._chunk_paths("sigsets"))
        if self._run_write_stage(
            "pairs", "rep_pairs",
            lambda: verify_rep_pairs(
                ss, bands=self.bands, r=self.num_perm // self.bands,
                threshold=self.threshold, max_bucket=self.max_bucket,
            ),
            self.committed() if resume else set(), stop_after,
        ):
            return None
        rep_pairs = read_stored(spark, self._apath("rep_pairs"))
        # the (grp, id) membership frame is checkpointed once (~40 B/doc),
        # lazily: the first action that reads it materializes it, and the
        # expansion's branches and the keep-list then read the cache
        # instead of re-scanning the raw text
        members = docs.select("grp", "id").localCheckpoint(eager=False)
        return _minhash_run(members, rep_pairs, ss)


class CheckpointedSimhashDedup(_RepLevelDedup):
    """Resumable SimHash near-dup pipeline — same stage model as
    CheckpointedDedup, with the 8-byte/doc fingerprint table as the
    natural chunk unit (computing fingerprints is the expensive text
    pass; everything downstream is integer shuffles):

      fps:<i>  (id, simhash) fingerprints for the i-th deterministic
               chunk of the id space (pmod(xxhash64(id), n_chunks)),
               written atomically to `<dir>/fps_<build_id>/chunk=<i>/`.
      pairs    rep-level pairs (id_a, id_b, hamming, grp_a, grp_b)
               computed FROM THE STORED fingerprint chunks
               (identical-simhash collapse + pigeonhole blocking +
               bit_count verify), written to
               `<dir>/rep_pairs_<build_id>/`.

    The pairs stage writes the simhash_rep_pairs plan directly (the
    plan the in-session path checkpoints). run_rep_level returns a
    RepLevelRun over (stored fps, stored rep_pairs): members keyed by
    fingerprint, and reps = every fingerprint group with more than one
    member, its rep being its minimum id. The member-level expansion is
    recomputed lazily — a resumed run is byte-identical to a single-shot
    one. n_blocks is pinned (no adaptive width here: the blocking plan
    is part of the parameter fingerprint a resume must reproduce). The
    keep-list reads the rep level as CheckpointedDedup's does."""

    def __init__(
        self,
        checkpoint_dir: str,
        *,
        max_hamming: int = 3,
        n_blocks: int = 6,
        max_bucket: int | None = 512,
        n_chunks: int = 8,
        build_id: str = "simhash-0",
    ):
        # validate the blocking plan BEFORE any stage runs: an invalid
        # (max_hamming, n_blocks) combination would otherwise surface as
        # an uncaught ValueError only at the pairs stage — after the
        # whole (expensive) fingerprint pass was computed and committed
        from .operators.dedup import simhash_blocking_plan

        simhash_blocking_plan(n_blocks, max_hamming)
        self.max_hamming, self.n_blocks = max_hamming, n_blocks
        self.max_bucket, self.n_chunks = max_bucket, n_chunks
        super().__init__(
            checkpoint_dir,
            params={
                "max_hamming": max_hamming, "n_blocks": n_blocks,
                "max_bucket": max_bucket, "n_chunks": n_chunks,
            },
            build_id=build_id,
            subdirs=(f"fps_{build_id}",),
        )

    def run_rep_level(
        self, df: DataFrame, *, text_col: str = "text",
        id_col: str = "doc_id", resume: bool = True,
        stop_after: str | None = None,
    ) -> RepLevelRun | None:
        from .operators.dedup import _simhash_run, simhash, simhash_rep_pairs

        spark = df.sparkSession
        done = self.committed() if resume else set()
        if self._run_chunk_stages(
            "fps", "fps",
            lambda chunk: simhash(
                self._chunk_filter(df, id_col, chunk), text_col, id_col
            ),
            done, stop_after,
        ):
            return None
        sh = read_stored(spark, *self._chunk_paths("fps"))
        if self._run_write_stage(
            "pairs", "rep_pairs",
            lambda: simhash_rep_pairs(
                sh, self.max_hamming, self.n_blocks, self.max_bucket
            ),
            self.committed() if resume else set(), stop_after,
        ):
            return None
        return _simhash_run(sh, read_stored(spark, self._apath("rep_pairs")))


class CheckpointedCosineDedup(_StagedCheckpoint):
    """Resumable embedding near-dup pipeline (the high-threshold
    hyperplane-LSH path of operators.similarity):

      buckets:<i>  (id, band, bh) hyperplane-signature rows for the i-th
                   deterministic chunk of the id space, written to
                   `<dir>/buckets_<build_id>/chunk=<i>/` — the signature matmul is
                   the per-vector work worth not repeating.
      pairs        exact-cosine-verified pairs from the stored buckets
                   (size-capped band join + packed-BLAS verify against
                   the corpus), written to `<dir>/pairs_<build_id>/`.

    The verify stage re-packs corpus blocks from `df` (one linear pass;
    storing the packed matrix would double corpus IO for no compute
    saved). Signatures are seed-deterministic, block membership is
    xxhash64 of ids, and packed ids are sorted — a resumed run emits
    byte-identical pairs."""

    def __init__(
        self,
        checkpoint_dir: str,
        *,
        dim: int,
        n_planes: int | None = None,
        n_bands: int | None = None,
        threshold: float = 0.9,
        recall: float = 0.999,
        max_bucket: int | None = 4096,
        block: int = 4096,
        n_chunks: int = 8,
        seed: int = 42,
        build_id: str = "cosdedup-0",
    ):
        # default blocking plan comes from the closed-form planner (the
        # user states threshold+recall; the RESOLVED plan is what the
        # params fingerprint pins, so a later planner change cannot
        # silently mix bucket chunks from two different plans)
        from .operators.similarity import resolve_hyperplane_plan

        n_planes, n_bands = resolve_hyperplane_plan(
            threshold, recall, n_planes, n_bands
        )
        self.dim, self.n_planes, self.n_bands = dim, n_planes, n_bands
        self.threshold, self.max_bucket = threshold, max_bucket
        self.block, self.n_chunks, self.seed = block, n_chunks, seed
        super().__init__(
            checkpoint_dir,
            params={
                "dim": dim, "n_planes": n_planes, "n_bands": n_bands,
                "threshold": threshold, "max_bucket": max_bucket,
                "block": block, "n_chunks": n_chunks, "seed": seed,
            },
            build_id=build_id,
            subdirs=(f"buckets_{build_id}",),
        )

    def run(
        self,
        df: DataFrame,
        *,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        resume: bool = True,
        stop_after: str | None = None,
    ) -> DataFrame | None:
        from .operators.dedup import candidate_pairs
        from .operators.similarity import cosine_verify_pairs, lsh_buckets

        spark = df.sparkSession
        done = self.committed() if resume else set()
        if self._run_chunk_stages(
            "buckets", "buckets",
            lambda chunk: lsh_buckets(
                self._chunk_filter(df, id_col, chunk),
                dim=self.dim, n_planes=self.n_planes, n_bands=self.n_bands,
                vec_col=vec_col, id_col=id_col, seed=self.seed,
            ),
            done, stop_after,
        ):
            return None

        @contextlib.contextmanager
        def verified_pairs():
            buckets = read_stored(spark, *self._chunk_paths("buckets"))
            with candidate_pairs(buckets, self.max_bucket) as cand:
                yield cosine_verify_pairs(
                    df, cand, self.threshold,
                    vec_col=vec_col, id_col=id_col, block=self.block,
                )

        if self._run_write_stage(
            "pairs", "pairs", verified_pairs,
            self.committed() if resume else set(), stop_after,
        ):
            return None
        return read_stored(spark, self._apath("pairs"))
