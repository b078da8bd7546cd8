"""Regenerate ``etlbench/fixtures/eventlog_small.jsonl``.

    python3 etlbench/tests/make_eventlog_fixture.py

Runs two tiny jobs under two job groups on ``local[2]`` with the event log
on (uncompressed), then keeps only the event kinds ``spans.EventLog``
reads, with each job's properties cut down to its job group, so the
fixture stays a few kilobytes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path[:0] = [ROOT, os.path.dirname(HERE)]

KEEP = (
    "SparkListenerJobStart",
    "SparkListenerJobEnd",
    "SparkListenerTaskEnd",
    "SparkListenerSQLExecutionStart",
    "SparkListenerSQLAdaptiveExecutionUpdate",
)


def main() -> None:
    from pyspark.sql import functions as F

    import spans
    from eprints_to_hyku_data_tool_spark.session import get_spark

    tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_work"))
    spark = get_spark(
        app_name="eventlog-fixture", cpus=2, driver_memory="1g",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": tmp,
            "spark.eventLog.compress": "false",
            "spark.local.dir": os.path.join(tmp, "local"),
        },
    )
    sc = spark.sparkContext
    sc.setJobGroup("g-agg", "aggregate")
    df = spark.range(0, 2000, numPartitions=2).withColumn("k", F.col("id") % 7)
    df.groupBy("k").count().write.format("noop").mode("overwrite").save()
    sc.setJobGroup("g-count", "count")
    spark.range(0, 100, numPartitions=2).count()
    app = sc.applicationId
    spark.stop()
    events = spans.read_events(spans.event_log_files(tmp, app))
    out = []
    for e in events:
        if not e["Event"].endswith(KEEP):
            continue
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            e = {k: v for k, v in e.items() if k not in ("Properties", "Stage Infos")}
            e["Properties"] = {"spark.jobGroup.id": props.get("spark.jobGroup.id")}
        if e["Event"] == "SparkListenerTaskEnd":
            e.pop("Task Executor Metrics", None)
        out.append(e)
    dest = os.path.join(os.path.dirname(HERE), "fixtures", "eventlog_small.jsonl")
    with open(dest, "w", encoding="utf-8") as f:
        f.writelines(json.dumps(e, sort_keys=True) + "\n" for e in out)
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
