"""Bin-sorted text copy of an indexed corpus — the analog of TetRex's
per-bin FASTA files, which its query re-opens for the candidate bins only
(/root/reference/src/query.cpp:167-339).

`MotifIndex.build` writes the copy under `<index>/text/` when its corpus
is a bare file scan (`corpus_fingerprint` is not None):
  - columns (bin_id, url, text, html where text is null; no html column
    when the corpus has none);
  - a JVM-only plan: hash-partitioned by bin_id into a few files, sorted
    by bin_id inside each, written in small parquet row groups, so the
    footer's bin_id min/max statistics locate every bin's rows. It is
    not `partitionBy("bin_id")`, which writes a directory per bin.
The manifest records the corpus fingerprint the copy was taken from.

A query reads the copy on the driver (`read_bin_text`), and only the row
groups that can hold its candidate bins, when the corpus it is given has
the same fingerprint; any other corpus goes through the Spark scan.
"""

from __future__ import annotations

import functools
import operator
import os
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.dataset as pads
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TEXT_DIR = "text"
# parquet row group size of the copy, small so that a read of a few bins
# decodes few rows of other bins. The writer first checks the size after
# 100 rows, so a group of short pages holds ~100 docs.
TEXT_ROW_GROUP_BYTES = 32 << 10


def corpus_fingerprint(corpus: DataFrame) -> dict | None:
    """{"schema", "files": sorted [uri, size, mtime_ns]} of a corpus whose
    analyzed plan is a bare file relation (spark.read.<format>(path)) over
    driver-local files; None for anything else: a transformed or
    in-memory frame, a catalog table, or files the driver cannot stat.
    Two scans with equal fingerprints read the same rows. Runs no Spark
    job."""
    jdf = getattr(corpus, "_jdf", None)
    if jdf is None or jdf.queryExecution().analyzed().getClass().getSimpleName() != "LogicalRelation":
        return None
    files = []
    for uri in sorted(corpus.inputFiles()):
        parsed = urlparse(uri)
        if parsed.scheme != "file":
            return None
        st = os.stat(unquote(parsed.path))
        files.append([uri, st.st_size, st.st_mtime_ns])
    if not files:
        return None
    return {"schema": corpus.schema.simpleString(), "files": files}


def write_bin_text(binned: DataFrame, path: str, n_files: int) -> None:
    """Write the copy of `binned` (bin_id, url, text[, html]) under
    `path/text`: `n_files` files, each sorted by bin_id."""
    cols = [F.col("bin_id"), F.col("url"), F.col("text")]
    if "html" in binned.columns:
        cols.append(F.when(F.col("text").isNull(), F.col("html")).alias("html"))
    (
        binned.select(*cols)
        .repartition(n_files, "bin_id")
        .sortWithinPartitions("bin_id")
        .write.mode("overwrite")
        .option("parquet.block.size", TEXT_ROW_GROUP_BYTES)
        .parquet(os.path.join(path, TEXT_DIR))
    )


def read_bin_text(path: str, bin_ids: list[int] | None) -> pa.Table:
    """The copy's rows of `bin_ids` (every row for None), read on the
    driver with pyarrow. The filter is an OR of equalities, which pyarrow
    tests against each row group's bin_id statistics (it does not prune
    row groups with an `isin`), so only row groups that may hold a
    candidate bin are decoded."""
    dataset = pads.dataset(os.path.join(path, TEXT_DIR), format="parquet")
    if bin_ids is None:
        return dataset.to_table()
    if not bin_ids:
        return dataset.schema.empty_table()
    bin_id = pads.field("bin_id")
    return dataset.to_table(
        filter=functools.reduce(operator.or_, (bin_id == b for b in bin_ids))
    )
