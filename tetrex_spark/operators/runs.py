"""The one shape of grouped Python work: the sorted-run Arrow fold.

TetRex builds and probes bin by bin (one filter per bin,
include/index_ibf.h:101-131). Every per-group Python step of the library
runs as the same plan: one hash exchange on the group keys into one
partition per core, a JVM sort on the keys, and one `mapInArrow` pass per
partition that hands each run of equal keys to a fold as a pyarrow Table.
A pandas group UDF would instead pay a pandas round trip per group, on
the one task AQE coalesces a small shuffle into.

Callers: the sketch merge levels (sketch_build), the membership index's
per-bucket Bloom build and its exact gate (incremental), and the cosine
block packing (similarity)."""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def _run_starts(table: pa.Table, keys: tuple[str, ...]) -> np.ndarray:
    """Row indices where a run of equal keys starts, 0 first. Null keys
    are equal to each other, as in a SQL GROUP BY."""
    n = table.num_rows
    change = np.zeros(n - 1, dtype=bool)
    for k in keys:
        a, b = table.column(k).slice(1), table.column(k).slice(0, n - 1)
        differs = pc.coalesce(pc.not_equal(a, b), pc.xor(pc.is_null(a), pc.is_null(b)))
        change |= differs.to_numpy()
    return np.concatenate(([0], np.flatnonzero(change) + 1))


Fold = Callable[[pa.Table], "dict | pa.Table | None"]


def _folder(
    keys: tuple[str, ...], fold: Fold, schema: pa.Schema
) -> Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]:
    def emit(runs: list[pa.Table]) -> Iterator[pa.RecordBatch]:
        rows = []  # one-row results leave as one batch, not one per run
        for run in runs:
            out = fold(run)
            if isinstance(out, dict):
                rows.append(out)
            elif out is not None:
                yield from out.to_batches()
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tail = None  # the last run seen, which the next batch may continue
        for batch in batches:
            if batch.num_rows == 0:
                continue
            rows = pa.Table.from_batches([batch])
            if tail is not None:
                rows = pa.concat_tables([tail, rows])
            starts = _run_starts(rows, keys)
            yield from emit([rows.slice(lo, hi - lo) for lo, hi in zip(starts[:-1], starts[1:])])
            tail = rows.slice(starts[-1])
        yield from emit([] if tail is None else [tail])

    return fn


def fold_runs(
    df: DataFrame, keys: tuple[str, ...], fold: Fold, schema: T.StructType
) -> DataFrame:
    """`fold(run)` once per run of equal `keys`: a pyarrow Table of every
    row of `df` with those keys (a run may span Arrow batches). It
    returns one output row as a dict, several as a pyarrow Table, or
    None; output columns follow `schema`. One hash exchange on `keys`
    into defaultParallelism partitions, a sort on `keys` within each,
    and one mapInArrow pass per partition."""
    from pyspark.sql.pandas.types import to_arrow_schema

    n = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n, *keys)
        .sortWithinPartitions(*keys)
        .mapInArrow(_folder(keys, fold, to_arrow_schema(schema)), schema)
    )
