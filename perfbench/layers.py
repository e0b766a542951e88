"""Traced run: per-layer metrics for one workload.

The session writes a Spark event log. Every op runs in a job group of its
own, with spans around the calls into each tetrex_spark module and with
trace-only extras (plan statistics, bytes on disk) that are kept out of
the op's latency and job group. After the loop: the trace-only counts and
the kernel microbench; then the session stops and its event log is parsed
into the `spark.<op>.*` metrics. Metrics of layers the workload does not
run are reported as 0. Tracing overhead (traced minus untraced end-to-end
figures) comes from comparing the report lines of a traced and an
untraced run: see overhead.py.
"""

from __future__ import annotations

import os
import resource
import statistics

import kernels
from tracing import descendant_pids, read_event_logs, union_length
from workloads import QUERY_KINDS

SPARK_OP = {k: "query" for k in QUERY_KINDS}


def _patch_planner(run):
    """Wrap MotifIndex.candidate_bins so each call under a query span
    records its traversal statistics. Returns the undo callable."""
    from tetrex_spark.plans import planner

    orig = planner.MotifIndex.candidate_bins
    tracer, wl = run.tracer, run.wl

    def candidate_bins(idx, pattern):
        parent = tracer.current()
        with tracer.span("plans") as sp:
            res = orig(idx, pattern)
        if parent is not None and parent.name.startswith("query."):
            kind = parent.name.split(".", 1)[1]
            wl.note(f"plans.{kind}.candidate_bins_ms", sp.duration * 1e3)
            wl.note(f"plans.{kind}.bloom_probes", res.n_probes)
            wl.note(f"plans.{kind}.probe_cache_hits", res.n_cached)
            wl.note(f"plans.{kind}.candidate_bin_frac", float(res.bins.mean()))
        return res

    planner.MotifIndex.candidate_bins = candidate_bins
    return lambda: setattr(planner.MotifIndex, "candidate_bins", orig)


def _peak_rss_mb() -> float:
    """Peak RSS of the driver plus every live descendant (JVM, workers)."""
    total_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in descendant_pids(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def traced(run, setup_s: float, rng) -> dict[str, float]:
    wl = run.wl
    scan = wl.layer.get("sources.scan_s", [])
    wl.layer.clear()  # drop what the warm-up calls noted
    run.tracer.enabled = True
    undo = _patch_planner(run) if wl.name == "sketch_motif" else (lambda: None)
    try:
        recs = run.loop(run.args.seconds, True, rng)
    finally:
        undo()
    wl.trace_extras()
    metrics: dict[str, float] = {k: statistics.median(v) for k, v in wl.layer.items() if v}
    if scan:
        metrics["sources.scan_s"] = statistics.median(scan)
    metrics.update(kernels.run(wl.full_dir))
    metrics.update({f"quality.{k}": v for k, v in wl.quality().items()})
    metrics["process.peak_rss_mb"] = _peak_rss_mb()
    metrics["process.foreign_cpu_cores"] = run.foreign.cores()
    run.report(setup_s, recs)
    run.spark.stop()  # flushes the event log
    run.spark = None
    metrics.update(spark_metrics(read_event_logs(os.path.join(run.work, "events")), recs))
    return metrics


def spark_metrics(groups, recs) -> dict[str, float]:
    """Per op type: medians over its ops of the job-group totals. The
    driver gap is op wall time not covered by any stage interval."""
    per: dict[str, dict[str, list[float]]] = {}
    rounds: list[float] = []
    for r in recs:
        g = groups.get(r["group"])
        if g is None:
            continue
        op = SPARK_OP.get(r["kind"], r["kind"])
        t0, t1 = r["t0"], r["t1"]
        covered = union_length([(max(s, t0), min(e, t1)) for s, e in g.stage_intervals
                                if e > t0 and s < t1])
        vals = {
            "jobs": g.jobs,
            "stages": g.stages,
            "exec_cpu_s": g.exec_cpu_ns / 1e9,
            "shuffle_write_bytes": g.shuffle_write_bytes,
            "input_bytes": g.input_bytes,
            "driver_gap_s": max(0.0, r["latency_s"] - covered),
            "shuffle_records": g.shuffle_write_records,
        }
        for k, v in vals.items():
            per.setdefault(op, {}).setdefault(k, []).append(v)
        if op == "lsh_clusters":
            rounds.append(sum(1 for cs in g.call_sites
                              if cs.startswith("collect at") and "clusters.py" in cs))
    out = {}
    for op, series in per.items():
        for k, v in series.items():
            out[f"spark.{op}.{k}"] = statistics.median(v)
    for op, name in (("build", "sketch_build"), ("heavy_hitters", "heavy_hitters")):
        if op in per:
            out[f"{name}.shuffle_records"] = statistics.median(per[op]["shuffle_records"])
    if rounds:
        out["clusters.rounds"] = statistics.median(rounds)
    return out
