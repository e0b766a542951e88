"""Tests of the benchmark itself (not of tetrex_spark):

  python -m pytest perfbench/tests -q

- the generator is deterministic for a fixed seed;
- the event-log parser reduces a small recorded Spark event log;
- a deliberately wrong answer is counted as a failure.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)
sys.path.insert(1, os.path.dirname(BENCH))

import gen  # noqa: E402
from run import Run  # noqa: E402
from tracing import Tracer, parse_event_log, union_length  # noqa: E402
from workloads import NeardupDedup, Op  # noqa: E402

RECORDED_LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "eventlog_small.jsonl")


def _tables(root):
    names = sorted(d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d)))
    return {n: pq.read_table(os.path.join(root, n)) for n in names}


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic(tmp_path, workload):
    a = gen.generate(workload, 5, str(tmp_path / "a"))
    b = gen.generate(workload, 5, str(tmp_path / "b"))
    assert json.dumps(a) == json.dumps(b)
    ta, tb = _tables(tmp_path / "a"), _tables(tmp_path / "b")
    assert ta.keys() == tb.keys()
    assert all(ta[n].equals(tb[n]) for n in ta)
    c = gen.generate(workload, 6, str(tmp_path / "c"))
    assert json.dumps(c) != json.dumps(a)
    assert not _tables(tmp_path / "c")["corpus"].equals(ta["corpus"])


def test_generator_writes_multi_file_parquet(tmp_path):
    gen.generate("neardup_dedup", 1, str(tmp_path))
    files = [f for f in os.listdir(tmp_path / "corpus") if f.endswith(".parquet")]
    assert len(files) == gen.N_FILES


def test_event_log_parser_on_recorded_log():
    with open(RECORDED_LOG) as f:
        groups = parse_event_log(f)
    # the recorded session ran two grouped ops and one ungrouped job; with
    # adaptive execution every exchange is a job of its own
    assert set(groups) == {"op0:agg", "op1:join"}
    agg, join = groups["op0:agg"], groups["op1:join"]
    assert (agg.jobs, agg.stages, agg.shuffle_write_records) == (2, 2, 14)
    assert (join.jobs, join.stages, join.shuffle_write_records) == (3, 3, 14)
    assert agg.shuffle_write_bytes > 0 and agg.exec_cpu_ns > 0
    assert agg.call_sites == ["collect at record_eventlog.py:59"] * 2
    for s, e in agg.stage_intervals + join.stage_intervals:
        assert 0 < s <= e


def test_union_length_and_self_time():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    tracer = Tracer(enabled=True)
    with tracer.span("op") as op:
        with tracer.span("a"):
            pass
        with tracer.span("b"):
            pass
    assert [c.name for c in op.children] == ["a", "b"]
    assert op.self_time == pytest.approx(op.duration - sum(c.duration for c in op.children))
    assert tracer.spans[1].parent == op.id


@pytest.fixture(scope="module")
def neardup(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("nd"))
    truth = gen.generate("neardup_dedup", 3, root)
    return NeardupDedup(root, truth, Tracer(enabled=False))


def _right_keep_list(wl):
    rows = []
    for d in range(wl.truth["n_docs"]):
        c = wl.comp.get(d, d)
        rows.append((d, c, int(c == d)))
    return rows


def test_neardup_checks_accept_the_right_answer(neardup):
    rows = _right_keep_list(neardup)
    assert neardup._check_clusters(rows) is None
    assert neardup.pair_recall(rows) == 1.0


def test_neardup_checks_reject_wrong_answers(neardup):
    rows = _right_keep_list(neardup)
    big = max(neardup.truth["clusters"], key=len)
    # split a planted cluster: one member claims to be its own representative
    split = [(d, d, 1) if d == big[-1] else (d, c, k) for d, c, k in rows]
    assert neardup._check_clusters(split) is not None
    assert neardup.pair_recall(split) < 1.0
    # merge two planted clusters
    other = next(c for c in neardup.truth["clusters"] if c is not big)
    merged = [(d, big[0], int(d == big[0])) if d in other else (d, c, k) for d, c, k in rows]
    assert neardup._check_clusters(merged) is not None
    # drop a doc
    assert neardup._check_clusters(rows[:-1]) is not None
    # gate: flip one increment doc's verdict
    half = neardup.half
    frozen = {neardup.comp.get(d, d) for d in range(half)}
    gate = {d: neardup.comp.get(d, d) not in frozen for d in range(half, neardup.truth["n_docs"])}
    assert neardup._check_gate(gate) is None
    gate[half] = not gate[half]
    assert neardup._check_gate(gate) is not None


def test_wrong_answer_is_counted_as_failure():
    run = Run.__new__(Run)  # no corpus, no session: do_op needs neither without a job group
    run.tracer = Tracer(enabled=False)
    run.attempted = run.failed = 0
    run.failures = []
    right = Op("probe", 1, lambda: 42, lambda a: None if a == 42 else "wrong")
    wrong = Op("probe", 1, lambda: 41, lambda a: None if a == 42 else "wrong")
    raises = Op("probe", 1, lambda: 1 / 0, lambda a: None)
    assert run.do_op(right, None)["ok"]
    assert not run.do_op(wrong, None)["ok"]
    assert not run.do_op(raises, None)["ok"]
    assert (run.attempted, run.failed) == (3, 2)
    assert "wrong" in run.failures[0] and "ZeroDivisionError" in run.failures[1]


def test_sketch_motif_checks_reject_wrong_answers(tmp_path):
    from workloads import SketchMotif

    truth = gen.generate("sketch_motif", 3, str(tmp_path))
    wl = SketchMotif(str(tmp_path), truth, Tracer(enabled=False))
    wl.top = truth["top_tokens"]
    wl.want = {p: {tuple(m) for m in rows} for p, rows in truth["matches"].items()}
    pat = next(p for p in truth["pool"]["literal"] if len(truth["matches"][p]) > 1)
    right = [tuple(m) for m in truth["matches"][pat]]
    assert wl._check_query("literal", [pat], right) is None
    assert wl._check_query("literal", [pat], right[1:]) is not None  # a false negative
    extra = (right[0][0], right[0][1] + 1, right[0][2] + 1)
    assert wl._check_query("literal", [pat], right + [extra]) is not None  # a false positive
    batch = [("q0", *m) for m in right]
    assert wl._check_query("batch8", [pat], batch) is None
    assert wl._check_query("batch8", [pat], batch[:-1]) is not None
    top = [tuple(t) for t in truth["top_tokens"][: truth["top_k"]]]
    assert wl._check_hh(top) is None
    assert wl._check_hh(top[1:] + top[:1]) is not None
