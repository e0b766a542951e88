"""Tracing overhead: one untraced and one traced run of a workload on the
same seed, and the traced minus untraced value of every end-to-end
figure their reports print.

  python3 perfbench/overhead.py --workload sketch_motif --seed 1 [--seconds 15]

Run from the repository root. Both runs report the end-to-end figures on
their `e2e:` line; the difference is the cost of the job groups, the
event log and the spans (trace-only extras are kept out of op latency).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def e2e_of(workload: str, seed: int, seconds: int, trace: int) -> dict[str, float]:
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout
    line = next(l for l in out.splitlines() if l.strip().startswith("e2e:"))
    return {k: float(v) for k, v in (kv.split("=") for kv in line.split()[1:])}


def main() -> None:
    ap = argparse.ArgumentParser(description="traced minus untraced end-to-end figures")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        seconds = a.seconds or json.load(f)["run_seconds"]
    off = e2e_of(a.workload, a.seed, seconds, 0)
    on = e2e_of(a.workload, a.seed, seconds, 1)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "untraced": off, "traced": on,
                      "traced_minus_untraced": {k: on[k] - off[k] for k in off}}))


if __name__ == "__main__":
    main()
