"""Regenerate tests/data/eventlog_small.jsonl and its call spans.

    python3 perfbench/tests/make_eventlog_fixture.py

Runs three tagged calls on a local[2] session with the event log on:
``scan#0`` (a scan, a shuffle, then 0.5 s of driver-only sleep),
``udf#0`` (a pandas UDF, so the log carries Python worker accumulables,
while an untagged thread submits a job of its own), and ``idle#0`` (no
jobs at all). Keeps the job and task events the parser reads, with each
job's properties cut down to its job group.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
KEEP = {"SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd"}


def main() -> None:
    from pyspark.sql import SparkSession

    tmp = tempfile.mkdtemp(prefix="perfbench_evlog_")
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.dir", "file://" + tmp)
        .getOrCreate()
    )
    sc = spark.sparkContext
    calls = []

    def call(group, fn):
        sc.setJobGroup(group, group)
        start = time.time()
        fn()
        calls.append({"group": group, "start": start, "end": time.time()})

    def scan():
        spark.range(0, 10_000, numPartitions=2).count()
        spark.range(0, 10_000, numPartitions=2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        time.sleep(0.5)

    def udf():
        def plus_one(batches):
            for pdf in batches:
                yield pdf + 1

        side = threading.Thread(target=lambda: spark.range(0, 1000, numPartitions=1).count())
        side.start()
        spark.range(0, 10_000, numPartitions=2).mapInPandas(plus_one, "id long").collect()
        side.join()

    call("scan#0", scan)
    call("udf#0", udf)
    call("idle#0", lambda: time.sleep(0.2))
    spark.stop()

    (log,) = glob.glob(os.path.join(tmp, "*"))
    out = os.path.join(HERE, "data")
    os.makedirs(out, exist_ok=True)
    with open(log) as src, open(os.path.join(out, "eventlog_small.jsonl"), "w") as dst:
        for line in src:
            ev = json.loads(line)
            if ev.get("Event") not in KEEP:
                continue
            if "Properties" in ev:
                ev["Properties"] = {
                    k: v for k, v in ev["Properties"].items() if k == "spark.jobGroup.id"
                }
            ev.pop("Stage Infos", None)
            dst.write(json.dumps(ev) + "\n")
    with open(os.path.join(out, "eventlog_small_calls.json"), "w") as f:
        json.dump(calls, f, indent=1)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
