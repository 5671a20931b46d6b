"""Spark-free reader for the uncompressed Spark event log of a traced run.

Spark 4.1 writes rolling event logs: ``eventlog_v2_<appId>/events_<N>_<appId>``
files, one JSON object per line.  This module reads them with stdlib
``json`` only, so it can be tested without a JVM, and turns one time window
of the log (the benchmark's timed pass) into per-layer totals:

- jobs, stages and tasks, each job attributed to a query through its job
  group (``setJobGroup(query)``), or through the query span that contains
  its submission when the group is a streaming run id;
- task-end metrics (executor run/CPU/GC time, shuffle, spill, input,
  output, failed attempts, peak JVM heap use) and scheduler wait (first
  task launch minus stage submission);
- the SQL metrics of ``ArrowEvalPython`` plan nodes (Python worker time and
  bytes), found through the plan trees of the SQL execution events and
  scaled by the ``metricType`` each node records;
- ``QueryProgressEvent`` fields of Structured Streaming.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections import Counter, defaultdict
from datetime import datetime

_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
_SQL_PLAN_EVENTS = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
)
_MB = 1 << 20
# ArrowEvalPython SQL metric name -> per-layer total it feeds.  Spark times
# "run" from the task's start of the Python runner to the worker's last
# result, so it already holds "start" (forking or booting a worker).
# "time to initialize" is left out: a reused worker counts it from the
# moment it began waiting for the task, so it can exceed the task's own run
# time (in tests/fixtures/eventlog_spark, 629 ms in a 212 ms task of
# keys_short_node).
_UDF_METRICS = {
    "time to run Python workers": "udf_run_s",
    "time to start Python workers": "udf_start_s",
    "data sent to Python workers": "udf_sent_mb",
    "data returned from Python workers": "udf_recv_mb",
}
# SQL metric type -> factor from the recorded value to the total's unit
_METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / _MB}


def read_events(log_dir: str) -> list[dict]:
    """All events under ``log_dir``, in order.  Accepts a directory holding
    one ``eventlog_v2_*`` application directory, the application directory
    itself, or a plain single-file log."""
    if os.path.isfile(log_dir):
        paths = [log_dir]
    else:
        apps = sorted(d for d in os.listdir(log_dir) if d.startswith("eventlog_v2_"))
        app_dir = os.path.join(log_dir, apps[-1]) if apps else log_dir
        parts = []
        for f in os.listdir(app_dir):
            m = re.match(r"events_(\d+)_", f)
            if m:
                parts.append((int(m.group(1)), os.path.join(app_dir, f)))
        if not parts:
            raise FileNotFoundError(f"no events_<N>_* files under {app_dir}")
        paths = [p for _, p in sorted(parts)]
    events = []
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    return events


def _plan_nodes(node: dict):
    yield node
    for child in node.get("children", ()):
        yield from _plan_nodes(child)


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def attribute(group: str | None, submit_ms: float, queries: set[str],
              spans: list[tuple[str, float, float]]) -> str:
    """Query a job belongs to: its job group when that names a query, else
    the only query span containing its submission time (streaming micro-batch
    jobs carry their run id as group), else ``"unattributed"``."""
    if group in queries:
        return group
    hits = {name for name, start, end in spans if start <= submit_ms <= end}
    return hits.pop() if len(hits) == 1 else "unattributed"


def summarize(events: list[dict], start_ms: float, end_ms: float,
              spans: list[tuple[str, float, float]] = ()) -> dict:
    """Per-layer totals for the jobs submitted in ``[start_ms, end_ms]``.

    ``spans`` are ``(query, start_ms, end_ms)`` of the executions in the
    window; they name the queries and attribute jobs whose group is not a
    query name.  Returns ``{"totals": {...}, "per_query": {...}}``.
    """
    queries = {name for name, _, _ in spans}
    stage_query: dict[int, str] = {}
    udf_ids: dict[int, tuple[str, float]] = {}  # accumulator -> (total, scale)
    stage_submit: dict[tuple[int, int], float] = {}
    first_launch: dict[tuple[int, int], float] = {}
    per_query: dict[str, Counter] = defaultdict(Counter)
    t: Counter = Counter()
    triggers: list[float] = []
    state_rows: dict[str, int] = {}
    peak_heap = 0

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            submit = e["Submission Time"]
            if not start_ms <= submit <= end_ms:
                continue
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            q = attribute(group, submit, queries, spans)
            for sid in e["Stage IDs"]:
                stage_query[sid] = q
            per_query[q]["jobs"] += 1
            t["jobs"] += 1
        elif kind in _SQL_PLAN_EVENTS:
            for node in _plan_nodes(e["sparkPlanInfo"]):
                if node["nodeName"] == "ArrowEvalPython":
                    for m in node["metrics"]:
                        if m["name"] in _UDF_METRICS:
                            udf_ids[m["accumulatorId"]] = (
                                _UDF_METRICS[m["name"]], _METRIC_SCALE[m["metricType"]],
                            )
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_query and info.get("Submission Time") is not None:
                stage_submit[(sid, info["Stage Attempt ID"])] = info["Submission Time"]
                per_query[stage_query[sid]]["stages"] += 1
                t["stages"] += 1
        elif kind == "SparkListenerTaskStart":
            key = (e["Stage ID"], e["Stage Attempt ID"])
            if key in stage_submit:
                launch = e["Task Info"]["Launch Time"]
                first_launch[key] = min(first_launch.get(key, launch), launch)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_query:
                continue
            q = stage_query[sid]
            info = e["Task Info"]
            per_query[q]["tasks"] += 1
            t["tasks"] += 1
            if info.get("Failed"):
                t["failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics", {})
            run_ms = m.get("Executor Run Time", 0)
            per_query[q]["executor_run_ms"] += run_ms
            t["executor_run_ms"] += run_ms
            t["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics", {})
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            t["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            t["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            heap = (e.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
            peak_heap = max(peak_heap, heap)
            for acc in info.get("Accumulables", ()):
                if acc.get("ID") in udf_ids:
                    total, scale = udf_ids[acc["ID"]]
                    t[total] += int(acc.get("Update") or 0) * scale
        elif kind == _PROGRESS:
            p = e["progress"]
            if not start_ms <= _iso_ms(p["timestamp"]) <= end_ms:
                continue
            d = p.get("durationMs", {})
            t["batches"] += 1
            triggers.append(d.get("triggerExecution", 0))
            t["add_batch_ms"] += d.get("addBatch", 0)
            t["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            rows = 0
            for op in p.get("stateOperators", ()):
                t["state_commit_ms"] += op.get("commitTimeMs", 0)
                rows += op.get("numRowsTotal", 0)
            # state held at the end of each run: the largest total it reached
            state_rows[p["runId"]] = max(state_rows.get(p["runId"], 0), rows)

    sched_wait_ms = sum(
        first_launch[k] - stage_submit[k] for k in stage_submit if k in first_launch
    )
    totals = {
        "jobs": t["jobs"],
        "stages": t["stages"],
        "tasks": t["tasks"],
        "failed_tasks": t["failed_tasks"],
        "executor_run_s": t["executor_run_ms"] / 1000.0,
        "executor_cpu_s": t["executor_cpu_ns"] / 1e9,
        "gc_s": t["gc_ms"] / 1000.0,
        "sched_wait_s": sched_wait_ms / 1000.0,
        "shuffle_read_mb": t["shuffle_read_bytes"] / _MB,
        "shuffle_write_mb": t["shuffle_write_bytes"] / _MB,
        "spill_mb": t["spill_bytes"] / _MB,
        "input_mb": t["input_bytes"] / _MB,
        "output_mb": t["output_bytes"] / _MB,
        "peak_heap_mb": peak_heap / _MB,
        "udf_run_s": t["udf_run_s"],
        "udf_start_s": t["udf_start_s"],
        "udf_sent_mb": t["udf_sent_mb"],
        "udf_recv_mb": t["udf_recv_mb"],
        "batches": t["batches"],
        "trigger_ms_p50": statistics.median(triggers) if triggers else 0.0,
        "add_batch_ms": t["add_batch_ms"],
        "commit_ms": t["commit_ms"],
        "state_commit_ms": t["state_commit_ms"],
        "state_rows": sum(state_rows.values()),
    }
    return {"totals": totals, "per_query": {q: dict(c) for q, c in sorted(per_query.items())}}
