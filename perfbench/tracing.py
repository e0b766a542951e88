"""Tracing kept by the benchmark itself, outside the library:

- `Tracer`: in-memory spans (id, parent id, name, start, end) around the
  calls into each tetrex_spark module, with self time = duration minus
  the part covered by child spans;
- `parse_event_log`: a Spark event log reduced to per-job-group job,
  stage, CPU, shuffle and input totals, plus the union of stage
  intervals (for the driver gap);
- `ForeignCpu`: CPU burnt by other processes on the host during a run.
"""

from __future__ import annotations

import json
import os
import resource
import signal
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    children: list["Span"] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - union_length([(c.start, c.end) for c in self.children])


class _Open:
    def __init__(self, tracer: "Tracer", name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.tracer
        parent = t.stack[-1] if t.stack else None
        self.span = Span(len(t.spans), parent.id if parent else None, self.name,
                         time.perf_counter())
        if parent:
            parent.children.append(self.span)
        t.spans.append(self.span)
        t.stack.append(self.span)
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer.stack.pop()


class Tracer:
    """Spans are always timed (two clock reads); `enabled` turns on the
    traced-run extras the workloads gate on it (size probes, per-call plan
    statistics)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.stack: list[Span] = []

    def span(self, name: str) -> _Open:
        return _Open(self, name)

    def current(self) -> Span | None:
        return self.stack[-1] if self.stack else None


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


# -- Spark event log ------------------------------------------------------------

_ACC = {
    "internal.metrics.executorCpuTime": "exec_cpu_ns",
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_bytes",
    "internal.metrics.shuffle.write.recordsWritten": "shuffle_write_records",
    "internal.metrics.input.bytesRead": "input_bytes",
}


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    exec_cpu_ns: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_write_records: float = 0.0
    input_bytes: float = 0.0
    stage_intervals: list = field(default_factory=list)  # (start_s, end_s) epoch
    call_sites: list = field(default_factory=list)  # callSite.short per job


def parse_event_log(lines) -> dict[str, GroupStats]:
    """Event-log JSON lines -> {job group: GroupStats}. Jobs without a
    group are ignored; a stage counts once, for the group of the first
    job that ran it."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            grp = props.get("spark.jobGroup.id")
            if grp is None:
                continue
            g = groups.setdefault(grp, GroupStats())
            g.jobs += 1
            g.call_sites.append(props.get("callSite.short", ""))
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, grp)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            grp = stage_group.get(info["Stage ID"])
            if grp is None or "Failure Reason" in info:
                continue
            g = groups[grp]
            g.stages += 1
            if "Submission Time" in info and "Completion Time" in info:
                g.stage_intervals.append(
                    (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
                )
            for acc in info.get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key:
                    setattr(g, key, getattr(g, key) + float(acc.get("Value", 0)))
    return groups


def read_event_logs(log_dir: str) -> dict[str, GroupStats]:
    """Parse every uncompressed event log file under `log_dir`."""
    merged: dict[str, GroupStats] = {}
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith((".crc", ".inprogress")):
                continue
            with open(os.path.join(root, name)) as f:
                merged.update(parse_event_log(f))
    return merged


# -- host load -----------------------------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def _busy_s() -> float:
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return (sum(vals) - vals[3] - vals[4]) / _HZ


def _procs() -> dict[int, tuple[int, float]]:
    """pid -> (parent pid, CPU seconds) of every live process."""
    out = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out[int(p)] = (int(rest[1]), sum(map(int, rest[11:15])) / _HZ)
    return out


def descendant_pids(pid: int) -> list[int]:
    """Every live process below `pid`."""
    procs, found, frontier = _procs(), [], {pid}
    while frontier:
        frontier = {p for p, (pp, _) in procs.items() if pp in frontier}
        found += frontier
    return found


def tree_cpu_s() -> float:
    """CPU seconds of this process, its reaped children and every live
    descendant (the JVM and its Python workers are never reaped while
    the run lasts, so rusage alone cannot see them)."""
    procs = _procs()
    total, frontier = 0.0, {os.getpid()}
    while frontier:
        frontier = {p for p, (pp, _) in procs.items() if pp in frontier}
        total += sum(procs[p][1] for p in frontier)
    me = resource.getrusage(resource.RUSAGE_SELF)
    return total + me.ru_utime + me.ru_stime


class ForeignCpu:
    """Average cores used by processes outside this run's tree."""

    def __init__(self):
        self.t0, self.b0, self.m0 = time.time(), _busy_s(), tree_cpu_s()

    def cores(self) -> float:
        dt = max(time.time() - self.t0, 1e-9)
        return max(0.0, (_busy_s() - self.b0 - (tree_cpu_s() - self.m0)) / dt)


# -- processes ------------------------------------------------------------------


def wait_children(timeout: float = 30.0) -> None:
    """Wait until this process has no live children; kill stragglers."""
    deadline = time.time() + timeout
    while True:
        kids = [p for p, (pp, _) in _procs().items() if pp == os.getpid()]
        if not kids:
            return
        if time.time() > deadline:
            for p in kids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


def descendants(span: Span):
    """Every span below `span`, depth first."""
    for c in span.children:
        yield c
        yield from descendants(c)
