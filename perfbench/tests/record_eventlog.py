"""Record the small Spark event log the parser test reads.

  python perfbench/tests/record_eventlog.py OUT.jsonl

Runs two grouped ops (an aggregation and a join) and one ungrouped job
on local[2] with the event log on, then keeps the job and stage events
the parser reads, minus the fields that carry host paths (job properties
other than the group and call site, stage details, RDD info) and with
directories cut from the call sites."""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile

KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerStageCompleted"}
KEEP_PROPS = ("spark.jobGroup.id", "callSite.short")
KEEP_ACC = ("internal.metrics.executorCpuTime", "internal.metrics.shuffle.write.bytesWritten",
            "internal.metrics.shuffle.write.recordsWritten", "internal.metrics.input.bytesRead",
            "internal.metrics.executorRunTime")


def _clean(ev: dict) -> dict:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        ev["Properties"] = {k: props[k] for k in KEEP_PROPS if k in props}
        ev.pop("Stage Infos", None)
    if kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        for k in ("Details", "RDD Info", "Parent IDs", "Resource Profile Id"):
            info.pop(k, None)
        info["Accumulables"] = [a for a in info.get("Accumulables", []) if a.get("Name") in KEEP_ACC]
    return ev


def main(out: str) -> None:
    from pyspark.sql import SparkSession

    logs = tempfile.mkdtemp()
    try:
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + logs)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
            .getOrCreate()
        )
        sc = spark.sparkContext
        df = spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
        sc.setJobGroup("op0:agg", "op0:agg")
        df.groupBy("k").count().collect()
        sc.setJobGroup("op1:join", "op1:join")
        df.join(df.groupBy("k").count(), "k").collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
        df.count()
        spark.stop()
        (name,) = os.listdir(logs)
        with open(os.path.join(logs, name)) as f, open(out, "w") as g:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event") in KEEP:
                    # call sites name this script by absolute path: keep the file name
                    g.write(re.sub(r"/[^\s\"]*/", "", json.dumps(_clean(ev))) + "\n")
    finally:
        shutil.rmtree(logs, ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1])
