"""tetrex_spark benchmark: one closed-loop client per workload on
local[4], every answer checked against the generator's truth.

  python3 perfbench/run.py --workload {sketch_motif,neardup_dedup}
                           --seed N --seconds S --trace {0,1}

Run from the repository root (the directory holding `tetrex_spark/` and
`BENCHMARK.json`). The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. Earlier lines are a human-readable report. Everything the
run writes goes under `.perfbench_work/`, which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from tracing import ForeignCpu, Tracer, descendants, wait_children  # noqa: E402
from workloads import EXTRA, WORKLOADS  # noqa: E402

CORES = 4
SETUP_CYCLES = 3
DEADLINE_S = 140  # no op starts later than this after process start (runs must end in 180 s)
# An op during which other processes used more than FOREIGN_MAX cores is
# retaken, at most RETAKES times a run and never after RETAKE_BEFORE_S:
# on a shared host such bursts slow a single-sample op kind by up to 40 %.
FOREIGN_MAX = 0.5
RETAKES = 2
RETAKE_BEFORE_S = 100
JVM_EXIT_WAIT_S = 30


def _warm(it):
    """Worker warm-up: import the library's numpy kernels in every Python
    worker before the first timed call."""
    import tetrex_spark.functions.text  # noqa: F401
    import tetrex_spark.kernel  # noqa: F401

    yield from it


def make_session(work: str, event_dir: str | None):
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("tetrex_spark-perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(2 * CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # -XX:-UsePerfData: no hsperfdata file outside the work directory
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    )
    if event_dir:
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def tail(xs):
    """(percentile, value): the highest of p50/p75/p90/p95/p99 with at
    least ten samples beyond it."""
    xs = sorted(xs)
    best = (0, 0.0)
    for p in (50, 75, 90, 95, 99):
        if len(xs) * (100 - p) / 100 >= 10:
            best = (p, xs[min(len(xs) - 1, math.ceil(p / 100 * len(xs)) - 1)])
    return best


class Run:
    """One benchmark run: its work directory, inputs, session, workload
    and the tally of attempted and failed ops."""

    def __init__(self, args, root: str):
        self.args = args
        self.work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "spark-local", "events"):
            os.makedirs(os.path.join(self.work, d))
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        self.foreign = ForeignCpu()
        t = time.perf_counter()
        truth = gen.generate(args.workload, args.seed, os.path.join(self.work, "data"))
        self.gen_s = time.perf_counter() - t
        self.tracer = Tracer(enabled=False)
        self.wl = WORKLOADS[args.workload](os.path.join(self.work, "data"), truth, self.tracer)
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.phases = {"gen_s": self.gen_s}

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> float:
        """Median over SETUP_CYCLES of: session start, worker warm-up and
        the workload's first corpus scan. The first cycle is timed from
        process start, excluding input generation; each later cycle stops
        the session (untimed) and times a fresh one in the same driver."""
        event_dir = os.path.join(self.work, "events") if self.args.trace else None
        times = []
        for i in range(SETUP_CYCLES):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = make_session(self.work, event_dir)
            self.spark.range(4 * CORES, numPartitions=CORES).mapInPandas(_warm, "id long").count()
            self.wl.load(self.spark)
            dt = time.perf_counter() - t0
            times.append(dt + (t0 - T_START - self.gen_s if i == 0 else 0.0))
        self.phases["setup_cycles_s"] = times
        return median(times)

    # -- ops --------------------------------------------------------------------

    def do_op(self, op, group: str | None) -> dict:
        """Time one op (in Spark job group `group` when given), then check
        its answer; an op that raises or answers wrong is a failure."""
        sc = self.spark.sparkContext if group else None
        if group:
            sc.setJobGroup(group, group)
        rec = {"kind": op.kind, "docs": op.docs, "group": group, "ok": False}
        self.attempted += 1
        err = None
        foreign = ForeignCpu()
        with self.tracer.span(f"op.{op.kind}") as sp:
            rec["t0"] = time.time()
            try:
                ans = op.run()
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                err = traceback.format_exc(limit=3)
            rec["t1"] = time.time()
        rec["foreign"] = foreign.cores()
        rec["latency_s"] = sp.duration - sum(
            x.duration for x in descendants(sp) if x.name == EXTRA)
        if group:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if err is None:
            try:
                err = op.check(ans)
            except Exception:  # noqa: BLE001 - a check that crashes is a failure
                err = traceback.format_exc(limit=3)
        if err is None:
            rec["ok"] = True
        else:
            self.failed += 1
            self.failures.append(f"{op.kind}: {err.strip().splitlines()[-1]}")
            print(f"FAILED {op.kind} {op.attrs}: {err}", file=sys.stderr)
        return rec

    def warm(self) -> None:
        """Run the workload's warm-up ops once on a slice of the corpus,
        unchecked; a warm-up op that raises counts as a failed op."""
        wl = self.wl
        wl.warm_slice()
        for op in wl.warm_ops():
            try:
                op.run()
            except Exception:  # noqa: BLE001 - counted, the run goes on
                self.attempted += 1
                self.failed += 1
                self.failures.append(f"warm-up {op.kind}: {traceback.format_exc(limit=1).splitlines()[-1]}")
        wl.use(wl.full, wl.full_dir)
        wl.reset()

    def loop(self, seconds: float, traced: bool, rng) -> list[dict]:
        """Closed loop, one client: send the next op when the last one
        returned, for `seconds` and until every op kind ran once; then
        retake the ops that other processes disturbed (see FOREIGN_MAX)."""
        out = []
        t_end = time.perf_counter() + seconds
        missing = set(self.wl.kinds)
        retake: list[str] = []
        retakes = RETAKES

        def retaking() -> bool:
            return bool(retake) and retakes > 0 and time.perf_counter() - T_START < RETAKE_BEFORE_S

        while time.perf_counter() < t_end or missing or retaking():
            if time.perf_counter() - T_START > DEADLINE_S:
                # the ops left out are counted as failed: the run was too slow to answer them
                self.attempted += len(missing)
                self.failed += len(missing)
                self.failures += [f"{k}: not reached within {DEADLINE_S} s" for k in sorted(missing)]
                break
            if retaking():
                retakes -= 1
                op = self.wl.op_of(retake.pop(0), rng)
            else:
                op = self.wl.next_op(rng)
            missing.discard(op.kind)
            group = f"op{len(out)}:{op.kind}" if traced else None
            out.append(self.do_op(op, group))
            if out[-1]["foreign"] > FOREIGN_MAX:
                retake.append(op.kind)
        self.phases["retaken"] = float(RETAKES - retakes)
        return out

    # -- metrics ----------------------------------------------------------------

    @staticmethod
    def latencies(recs: list[dict]) -> dict[str, list[float]]:
        """Op kind -> latencies (s) of its undisturbed samples, or of all
        its samples when every one was disturbed (see FOREIGN_MAX)."""
        by_kind: dict[str, list[float]] = {}
        quiet = {r["kind"] for r in recs if r["foreign"] <= FOREIGN_MAX}
        for r in recs:
            if r["foreign"] <= FOREIGN_MAX or r["kind"] not in quiet:
                by_kind.setdefault(r["kind"], []).append(r["latency_s"])
        return by_kind

    def e2e(self, setup_s: float, recs: list[dict]) -> dict[str, float]:
        med = {k: median(v) for k, v in self.latencies(recs).items()}
        docs = {r["kind"]: r["docs"] for r in recs}
        write = [med[k] for k in med if k in self.wl.write_kinds]
        read = [med[k] for k in med if k not in self.wl.write_kinds]
        busy = sum(med.values())
        return {
            "setup_s": setup_s,
            # one op of each kind at its median latency
            "docs_per_s": sum(docs[k] for k in med) / busy if busy else 0.0,
            "read_p50_ms": 1e3 * geomean(read),
            "write_p50_ms": 1e3 * geomean(write),
        }

    def report(self, setup_s, recs) -> None:
        by_kind = {k: [x * 1e3 for x in v] for k, v in self.latencies(recs).items()}
        phases = " ".join(f"{k}={v:.2f}" if isinstance(v, float) else
                          f"{k}=" + ",".join(f"{x:.2f}" for x in v) for k, v in self.phases.items())
        lines = [f"workload={self.args.workload} seed={self.args.seed} setup_s={setup_s:.2f} "
                 f"ops={len(recs)} attempted={self.attempted} failed={self.failed} "
                 f"foreign_cores={self.foreign.cores():.2f}", f"  phases: {phases}"]
        for k, v in sorted(by_kind.items()):
            p, t = tail(v)
            tail_s = f" p{p}={t:.0f}ms" if p else ""
            lines.append(f"  {k:14s} n={len(v):3d} p50={median(v):8.0f}ms{tail_s}")
        allq = [x for k, v in by_kind.items() if k not in self.wl.write_kinds for x in v]
        p, t = tail(allq)
        if p:
            lines.append(f"  read tail: p{p}={t:.0f}ms over {len(allq)} samples")
        lines.append("  foreign cores per op: " + " ".join(
            f"{r['kind']}={r['foreign']:.2f}" for r in recs))
        e2e = self.e2e(setup_s, recs)
        lines.append("  e2e: " + " ".join(f"{k}={v:.6g}" for k, v in e2e.items()))
        q = self.wl.quality()
        if q:
            lines.append("  quality: " + " ".join(f"{k}={v:.4g}" for k, v in q.items()))
        for f in self.failures[:10]:
            lines.append("  failure: " + f)
        print("\n".join(lines), flush=True)

    # -- teardown -----------------------------------------------------------------

    def close(self) -> None:
        """Stop the session, end the JVM (and with it every Python
        worker) and wait for all of them."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw else None
        try:
            if self.spark is not None:
                self.spark.stop()
            if gw is not None:
                gw.shutdown()
        except Exception:  # noqa: BLE001 - a broken gateway must not stop the teardown
            traceback.print_exc()
        self.spark = None
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=JVM_EXIT_WAIT_S)
            except Exception:  # noqa: BLE001 - fall through to a kill
                proc.kill()
                proc.wait()
        wait_children(JVM_EXIT_WAIT_S)


def main() -> int:
    ap = argparse.ArgumentParser(description="tetrex_spark closed-loop benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "tetrex_spark")):
        print("perfbench: run from the repository root (no tetrex_spark/ here)", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    import numpy as np

    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args, root)
    try:
        setup_s = run.setup()
        t = time.perf_counter()
        run.warm()
        run.phases["warm_s"] = time.perf_counter() - t
        rng = np.random.default_rng([args.seed, 99])
        if args.trace:
            import layers

            metrics = layers.traced(run, setup_s, rng)
            names = spec["per_layer"]
        else:
            recs = run.loop(args.seconds, False, rng)
            run.report(setup_s, recs)
            metrics = run.e2e(setup_s, recs)
            names = spec["end_to_end"]
    finally:
        try:
            run.close()
        finally:
            shutil.rmtree(run.work, ignore_errors=True)
            parent = os.path.dirname(run.work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in names},
    }
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
