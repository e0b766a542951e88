"""Exact heavy hitters in one corpus pass, from per-task frequent-token
reports (north-rule addition, SURVEY.md §2.6).

Contract. `heavy_hitters(df, phi_num, phi_den)` returns exactly the tokens
with `count * phi_den >= N * phi_num`, each with its exact count, where N
is the corpus token total. Tokens are the normalized text split on " "
with "" dropped (`normalize_series`). The threshold is an integer test on
the rational phi, so it is bit-identical across engines (no float ceil()
edge cases vs the SQL oracle).

The pass. One `mapInArrow` over the text column; each task counts its own
tokens exactly and reports
  - every token with `cnt * phi_den * _SLACK >= n_t * phi_num`, with its
    count, where n_t is the task's token total;
  - one summary row: n_t and tau_t, the largest count it did not report.
A task therefore sends at most `_SLACK * phi_den / phi_num + 1` rows, and
the tail never leaves it. The rows reach the driver by a collect: there
is no shuffle.

The driver, per reported token: `lo` is the sum of its reported counts;
`hi` adds the tau_t of every task that did not report it, an upper bound
on its count. It is out when `hi * phi_den < N * phi_num`, and exact when
`lo == hi`. Only tokens still undecided are counted again, by a second
pass restricted to them.

Completeness (pigeonhole). If `c * phi_den >= N * phi_num` and no task
reported the token, then `c_t * phi_den * _SLACK < n_t * phi_num` in
every task; summing over tasks gives `c * phi_den * _SLACK < N * phi_num
<= c * phi_den`, which is false. So every heavy hitter is reported by
some task, and none is missed.

Results are driver-side frames (`verify.local_frame`): collecting them
runs no Spark job.
"""

from __future__ import annotations

from collections import Counter
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..functions.text import normalize_series
from .verify import local_frame

# a task reports every token above 1/_SLACK of the global fraction phi:
# more rows per task, fewer tokens left undecided on the driver
_SLACK = 4

# token rows carry the reporting task's tau; the task's summary row has a
# null token and its token total in cnt
_REPORT_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType(), True),
        T.StructField("cnt", T.LongType(), False),
        T.StructField("tau", T.LongType(), False),
    ]
)
_COUNT_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType(), False),
        T.StructField("cnt", T.LongType(), False),
    ]
)
_TOPK_SCHEMA = T.StructType(
    [*_COUNT_SCHEMA.fields, T.StructField("rank", T.IntegerType(), False)]
)

Pass = Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]


def _count_tokens(batches: Iterable[pa.RecordBatch], text_col: str) -> Counter:
    """Exact token counts of one task's batches."""
    counts: Counter = Counter()
    for batch in batches:
        if batch.num_rows:
            text = normalize_series(batch.column(text_col).to_pandas())
            # normalized docs hold single spaces only, so one join and
            # split yields every doc's tokens, plus "" for empty docs
            counts.update(" ".join(text).split(" "))
    counts.pop("", None)
    return counts


def _reporter(text_col: str, phi_num: int, phi_den: int) -> Pass:
    schema = to_arrow_schema(_REPORT_SCHEMA)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        counts = _count_tokens(batches, text_col)
        if not counts:
            return
        tokens = list(counts)
        cnt = np.fromiter(counts.values(), dtype=np.int64, count=len(tokens))
        n = int(cnt.sum())
        keep = cnt * (phi_den * _SLACK) >= n * phi_num
        tau = int(cnt[~keep].max(initial=0))
        idx = np.flatnonzero(keep)
        yield pa.RecordBatch.from_pydict(
            {
                "token": [tokens[i] for i in idx] + [None],
                "cnt": np.append(cnt[idx], n),
                "tau": np.full(len(idx) + 1, tau, dtype=np.int64),
            },
            schema=schema,
        )

    return fn


def _counter(text_col: str, wanted: list[str]) -> Pass:
    schema = to_arrow_schema(_COUNT_SCHEMA)

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        counts = _count_tokens(batches, text_col)
        hit = [t for t in wanted if t in counts]
        if hit:
            yield pa.RecordBatch.from_pydict(
                {"token": hit, "cnt": [counts[t] for t in hit]}, schema=schema
            )

    return fn


def _report(df: DataFrame, phi_num: int, phi_den: int, text_col: str) -> DataFrame:
    """The one corpus pass: per-task reports in `_REPORT_SCHEMA`."""
    return df.select(text_col).mapInArrow(
        _reporter(text_col, phi_num, phi_den), _REPORT_SCHEMA
    )


def _heavy_counts(
    df: DataFrame, phi_num: int, phi_den: int, text_col: str
) -> pd.DataFrame:
    """(token, cnt) of every heavy hitter, ranked by count desc, token."""
    if phi_num <= 0 or phi_den <= 0:
        raise ValueError("phi must be a positive rational")
    rep = _report(df, phi_num, phi_den, text_col).toArrow().to_pandas()
    summary = rep["token"].isna()
    bar = int(rep["cnt"][summary].sum()) * phi_num
    tok = (
        rep[~summary]
        .groupby("token", sort=False)
        .agg(lo=("cnt", "sum"), tau_in=("tau", "sum"))
    )
    hi = tok["lo"] + (int(rep["tau"][summary].sum()) - tok["tau_in"])
    live = tok[hi * phi_den >= bar]
    exact = live["lo"] == hi[live.index]
    counts = live["lo"][exact]
    undecided = live.index[~exact].tolist()
    if undecided:
        recount = (
            df.select(text_col)
            .mapInArrow(_counter(text_col, undecided), _COUNT_SCHEMA)
            .toArrow()
            .to_pandas()
            .groupby("token")["cnt"]
            .sum()
        )
        counts = pd.concat([counts, recount])
    out = counts[counts * phi_den >= bar].rename("cnt").rename_axis("token").reset_index()
    return out.sort_values(["cnt", "token"], ascending=[False, True], ignore_index=True)


def heavy_hitters(
    df: DataFrame, phi_num: int = 1, phi_den: int = 50, *, text_col: str = "text"
) -> DataFrame:
    """All tokens with exact count >= (phi_num/phi_den) * N, with their
    exact counts, as a driver-side frame (token, cnt) ranked by count
    desc, then token."""
    pdf = _heavy_counts(df, phi_num, phi_den, text_col)
    return local_frame(df.sparkSession, pdf, _COUNT_SCHEMA)


def heavy_hitters_topk(
    df: DataFrame,
    k: int = 20,
    phi_num: int = 1,
    phi_den: int = 50,
    *,
    text_col: str = "text",
) -> DataFrame:
    """Exact top-k tokens (token, cnt, rank), ties broken on the token.
    Equal to the exact full groupBy top-k whenever there are >= k heavy
    hitters at phi; with fewer, the tail of the ranking would be wrong,
    so it raises rather than return a short list."""
    pdf = _heavy_counts(df, phi_num, phi_den, text_col)
    if len(pdf) < k:
        raise ValueError(
            f"only {len(pdf)} tokens clear phi={phi_num}/{phi_den}; "
            f"top-{k} would be truncated — lower phi"
        )
    top = pdf.head(max(k, 0))
    top = top.assign(rank=np.arange(1, len(top) + 1, dtype=np.int32))
    return local_frame(df.sparkSession, top, _TOPK_SCHEMA)
