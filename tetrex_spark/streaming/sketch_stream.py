"""Structured-Streaming sketch maintenance — incremental index builds.

The reference is strictly batch (index-once / query-many; SURVEY.md
§2.9). This module is the Spark-native extension the north star implies:
new corpus files arrive, per-batch partial sketches are merged into a
persistent sketch state, and the query side reloads a strictly newer
index. Merge associativity (tests/test_kernel_merge.py) is what makes
"stream = batch ∪ batch" hold exactly: a streamed build is byte-identical
(lattice sketches) to a one-shot batch build over the same rows.

Shape: readStream(parquet dir) -> foreachBatch:
  previous state rows ∪ sketch_partials(batch rows) -> merge_sketch_rows
  (one exchange) -> atomic versioned state swap.
State versions are directories state_v<N>; a `_CURRENT` pointer file is
rewritten last (sources.sketch_store.write_json: one file rename), so
readers never see a torn state; the state directories themselves are
never renamed.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from ..lineage import read_stored
from ..operators.sketch_build import SketchSpec, merge_sketch_rows, sketch_partials
from ..sources.sketch_store import write_json


class SketchStream:
    def __init__(self, state_dir: str, specs: list[SketchSpec], n_bins: int):
        self.state_dir = state_dir
        self.specs = specs
        self.n_bins = n_bins
        os.makedirs(state_dir, exist_ok=True)

    # -- state ---------------------------------------------------------------

    def _current_pointer(self) -> str:
        return os.path.join(self.state_dir, "_CURRENT")

    def current_version(self) -> int:
        if not os.path.exists(self._current_pointer()):
            return -1
        with open(self._current_pointer()) as f:
            return json.load(f)["version"]

    def current_state(self, spark: SparkSession) -> DataFrame | None:
        v = self.current_version()
        if v < 0:
            return None
        return read_stored(spark, os.path.join(self.state_dir, f"state_v{v}"))

    def _commit_state(self, df: DataFrame, version: int) -> None:
        path = os.path.join(self.state_dir, f"state_v{version}")
        df.write.mode("overwrite").parquet(path)
        write_json(self._current_pointer(), {"version": version})
        # retain only the two most recent versions
        for d in os.listdir(self.state_dir):
            if d.startswith("state_v") and int(d[7:]) < version - 1:
                shutil.rmtree(os.path.join(self.state_dir, d), ignore_errors=True)

    # -- streaming -------------------------------------------------------------

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch body — also callable directly for deterministic
        incremental batch ingestion."""
        if "bin_id" not in batch_df.columns:
            from ..sources.corpus import with_bin_id

            batch_df = with_bin_id(batch_df, self.n_bins)
        rows = sketch_partials(batch_df, self.specs)
        prev = self.current_state(batch_df.sparkSession)
        if prev is not None:
            rows = prev.unionByName(rows)
        self._commit_state(merge_sketch_rows(rows, self.specs), self.current_version() + 1)

    def start(
        self,
        spark: SparkSession,
        input_dir: str,
        checkpoint_dir: str,
        *,
        available_now: bool = True,
    ):
        """Attach to a parquet directory stream. With available_now=True
        (the test/backfill mode) the query drains existing files and
        stops; in production drop it and let micro-batches run."""
        from ..sources.corpus import CORPUS_SCHEMA

        stream = (
            spark.readStream.schema(CORPUS_SCHEMA)
            .option("maxFilesPerTrigger", 8)
            .parquet(input_dir)
        )
        writer = (
            stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
