"""Regenerate ``fixtures/eventlog_spark``: a trimmed excerpt of a real
traced-run event log, the reader's test against what Spark writes.

Run from the repository root (about a minute; starts a local Spark)::

    python3 perfbench/tests/make_spark_fixture.py

It runs, under the benchmark's traced-run settings on ``local[2]``:
a warm-up job outside the window, a ``cluster_slot`` and then a
``cluster_node`` aggregation (ArrowEvalPython nodes and shuffles; the
second reuses the first one's Python workers), a Python UDF that raises
(a failed task), and ``events_streaming_user_totals`` (micro-batches with
a state store), each under its job group.  It keeps only the events and
fields the reader uses, with paths and host names removed, splits them
into two rolling parts and writes the executions' spans to ``spans.json``.
"""

import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(HERE, "fixtures", "eventlog_spark")
KEEP = {
    "SparkListenerLogStart": ("Event", "Spark Version"),
    "SparkListenerJobStart": ("Event", "Job ID", "Submission Time", "Stage IDs", "Properties"),
    "SparkListenerStageSubmitted": ("Event", "Stage Info"),
    "SparkListenerTaskStart": ("Event", "Stage ID", "Stage Attempt ID", "Task Info"),
    "SparkListenerTaskEnd": ("Event", "Stage ID", "Stage Attempt ID", "Task Type",
                             "Task End Reason", "Task Info", "Task Executor Metrics",
                             "Task Metrics"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart":
        ("Event", "executionId", "sparkPlanInfo"),
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate":
        ("Event", "executionId", "sparkPlanInfo"),
    "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent":
        ("Event", "progress"),
}
STAGE_INFO = ("Stage ID", "Stage Attempt ID", "Number of Tasks", "Submission Time")
PROGRESS = ("id", "runId", "timestamp", "batchId", "numInputRows", "durationMs",
            "stateOperators")
REASON = ("Reason", "Class Name")


def _plan(node: dict) -> dict:
    return {"nodeName": node["nodeName"], "metrics": node["metrics"],
            "children": [_plan(c) for c in node.get("children", ())]}


def trim(e: dict) -> dict:
    out = {k: e[k] for k in KEEP[e["Event"]] if k in e}
    if "Properties" in out:
        out["Properties"] = {k: v for k, v in out["Properties"].items()
                             if k == "spark.jobGroup.id"}
    if "Stage Info" in out:
        out["Stage Info"] = {k: out["Stage Info"].get(k) for k in STAGE_INFO}
    if "sparkPlanInfo" in out:
        out["sparkPlanInfo"] = _plan(out["sparkPlanInfo"])
    if "progress" in out:
        out["progress"] = {k: out["progress"][k] for k in PROGRESS if k in out["progress"]}
    if "Task End Reason" in out:
        out["Task End Reason"] = {k: v for k, v in out["Task End Reason"].items() if k in REASON}
    if "Task Info" in out:
        out["Task Info"] = {**out["Task Info"], "Host": "localhost"}
    return out


def main() -> None:
    work = os.path.join(ROOT, ".perfbench", f"fixture-{os.getpid()}")
    log_dir = os.path.join(work, "eventlog")
    for sub in ("tmp", "local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = ROOT
    sys.path[:0] = [ROOT, BENCH]
    from pyspark.sql import SparkSession
    from pyspark.sql.functions import udf

    import duckdb_cluster_hash_spark as dch
    from duckdb_cluster_hash_spark.plans.catalog import QUERIES
    from duckdb_cluster_hash_spark.streaming import events as stream_events
    from eventlog import read_events
    from run import STAGE_NAME
    from workloads import SF_DIR

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
             .config("spark.local.dir", os.path.join(work, "local"))
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.dir", "file://" + log_dir)
             .config("spark.executor.metrics.pollingInterval", "100ms")
             .getOrCreate())
    spark.sparkContext.setLogLevel("OFF")
    dch.register_all(spark)
    stream_events.stage_events_as_stream(
        spark, SF_DIR, os.path.join(tempfile.gettempdir(), STAGE_NAME),
        n_chunks=1, single_file_chunks=False)
    spark.range(10).collect()  # before the window

    @udf("int")
    def fail_on_seven(x):
        if x == 7:
            raise ValueError("seven")
        return x

    def keys_short_slot():
        return spark.sql(
            "SELECT cluster_slot(concat('user:', id)) AS slot, count(*) AS n "
            "FROM range(0, 4000, 1, 2) GROUP BY 1").collect()

    def keys_short_node():
        return spark.sql(
            "SELECT cluster_node(concat('user:', id), 5) AS node, count(*) AS n "
            "FROM range(0, 4000, 1, 2) GROUP BY 1").collect()

    def raising_udf():
        try:
            spark.range(0, 20, 1, 2).select(fail_on_seven("id")).collect()
        except Exception:  # noqa: BLE001 - the failed task is what is recorded
            pass

    def streaming():
        return QUERIES["events_streaming_user_totals"](spark, SF_DIR).collect()

    spans = []
    window_start = time.time() * 1000.0
    for name, call in (("keys_short_slot", keys_short_slot),
                       ("keys_short_node", keys_short_node), ("raising_udf", raising_udf),
                       ("events_streaming_user_totals", streaming)):
        spark.sparkContext.setJobGroup(name, name)
        start = time.time() * 1000.0
        call()
        spans.append([name, start, time.time() * 1000.0])
    window_end = time.time() * 1000.0
    spark.stop()

    events = [trim(e) for e in read_events(log_dir) if e["Event"] in KEEP]
    lines = [json.dumps(e) + "\n" for e in events]
    text = "".join(lines)
    assert ROOT not in text and work not in text, "a path survived trimming"
    app = next(d for d in os.listdir(log_dir) if d.startswith("eventlog_v2_"))
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(os.path.join(OUT, app))
    app_id = app[len("eventlog_v2_"):]
    half = len(lines) // 2
    for n, part in ((1, lines[:half]), (2, lines[half:])):
        with open(os.path.join(OUT, app, f"events_{n}_{app_id}"), "w", encoding="utf-8") as fh:
            fh.writelines(part)
    with open(os.path.join(OUT, "spans.json"), "w", encoding="utf-8") as fh:
        json.dump({"window_ms": [window_start, window_end], "spans": spans}, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(f"{len(lines)} events -> {OUT}")


if __name__ == "__main__":
    main()
