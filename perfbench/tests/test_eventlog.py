"""Spark-free tests of the event-log reader against two committed logs:
a tiny hand-written one whose every total is known, and a trimmed excerpt
of a real Spark 4.1.2 traced run (``make_spark_fixture.py`` regenerates it).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from eventlog import attribute, read_events, summarize  # noqa: E402

FIXTURE = os.path.join(HERE, "fixtures", "eventlog")
SPARK_FIXTURE = os.path.join(HERE, "fixtures", "eventlog_spark")
# (query, start_ms, end_ms) of the two executions inside the window
SPANS = [("q_udf", 1000, 1700), ("q_stream", 2000, 3000)]


@pytest.fixture(scope="module")
def summary():
    return summarize(read_events(FIXTURE), 1000, 3000, SPANS)


def test_reads_rolling_parts_in_order():
    events = read_events(FIXTURE)
    assert len(events) == 21
    assert [e["Job ID"] for e in events if e["Event"] == "SparkListenerJobStart"] == [0, 1, 2, 3]


def test_counts_only_jobs_submitted_in_the_window(summary):
    t = summary["totals"]
    assert (t["jobs"], t["stages"], t["tasks"], t["failed_tasks"]) == (2, 2, 3, 1)


def test_task_end_metrics(summary):
    t = summary["totals"]
    assert t["executor_run_s"] == pytest.approx(1.0)
    assert t["executor_cpu_s"] == pytest.approx(0.45)
    assert t["gc_s"] == pytest.approx(0.02)
    assert t["sched_wait_s"] == pytest.approx(0.04)  # (1130-1100) + (2210-2200) ms
    assert (t["shuffle_read_mb"], t["shuffle_write_mb"], t["spill_mb"]) == (1.0, 2.0, 1.0)
    assert (t["input_mb"], t["output_mb"]) == (3.0, 1.0)


def test_arrow_eval_python_metrics(summary):
    t = summary["totals"]
    assert t["udf_run_s"] == pytest.approx(0.3)
    assert t["udf_start_s"] == pytest.approx(0.1)  # "initialize" is left out
    assert (t["udf_sent_mb"], t["udf_recv_mb"]) == (1.0, 0.5)


def test_streaming_progress(summary):
    t = summary["totals"]
    assert t["batches"] == 3
    assert t["trigger_ms_p50"] == 2000
    assert t["add_batch_ms"] == 3700
    assert t["commit_ms"] == 220  # walCommit + commitOffsets
    assert t["state_commit_ms"] == 55
    assert t["state_rows"] == 15  # largest state the one run held


def test_jobs_join_queries_by_group_then_by_span(summary):
    per_query = summary["per_query"]
    assert per_query["q_udf"] == {"jobs": 1, "stages": 1, "tasks": 2, "executor_run_ms": 500}
    # the micro-batch job's group is a streaming run id; its span names it
    assert per_query["q_stream"] == {"jobs": 1, "stages": 1, "tasks": 1, "executor_run_ms": 500}


def test_overlapping_spans_leave_a_job_unattributed():
    spans = [("a", 0, 10), ("b", 5, 15)]
    assert attribute("run-id", 7, {"a", "b"}, spans) == "unattributed"
    assert attribute("b", 7, {"a", "b"}, spans) == "b"
    assert attribute(None, 12, {"a", "b"}, spans) == "b"


def test_metric_type_scales_the_recorded_value():
    plan = {"nodeName": "ArrowEvalPython", "children": [], "metrics": [
        {"name": "time to run Python workers", "accumulatorId": 1, "metricType": "nsTiming"},
        {"name": "data sent to Python workers", "accumulatorId": 2, "metricType": "size"},
    ]}
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 5, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "q"}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {},
         "Task Info": {"Accumulables": [{"ID": 1, "Update": "2500000000"},
                                        {"ID": 2, "Update": str(3 << 20)}]}},
    ]
    t = summarize(events, 0, 10, [("q", 0, 10)])["totals"]
    assert t["udf_run_s"] == pytest.approx(2.5)
    assert t["udf_sent_mb"] == pytest.approx(3.0)


@pytest.fixture(scope="module")
def spark_log():
    with open(os.path.join(SPARK_FIXTURE, "spans.json"), encoding="utf-8") as fh:
        spans = json.load(fh)
    events = read_events(SPARK_FIXTURE)
    summary = summarize(events, *spans["window_ms"], [tuple(s) for s in spans["spans"]])
    return events, summary


def test_spark_log_is_a_real_4_1_2_log(spark_log):
    events, _ = spark_log
    assert events[0]["Spark Version"] == "4.1.2"


def test_spark_log_jobs_join_their_queries(spark_log):
    _, summary = spark_log
    t, per_query = summary["totals"], summary["per_query"]
    assert (t["jobs"], t["stages"], t["tasks"], t["failed_tasks"]) == (7, 8, 12, 1)
    assert "unattributed" not in per_query  # the warm-up job lies before the window
    assert {q: (c["jobs"], c["tasks"]) for q, c in per_query.items()} == {
        "keys_short_slot": (2, 3),
        "keys_short_node": (2, 3),
        "raising_udf": (1, 2),
        # micro-batch jobs carry the stream's run id as group; their span names them
        "events_streaming_user_totals": (2, 4),
    }


def test_spark_log_python_worker_time_lies_within_the_tasks(spark_log):
    t = spark_log[1]["totals"]
    assert t["udf_run_s"] == pytest.approx(4.654)
    # only the first job's tasks start workers; the second's reuse them
    assert t["udf_start_s"] == pytest.approx(2.496)
    assert t["udf_start_s"] <= t["udf_run_s"] <= t["executor_run_s"]
    assert t["udf_sent_mb"] == pytest.approx(120096 / (1 << 20))


def test_spark_log_task_and_streaming_totals(spark_log):
    t = spark_log[1]["totals"]
    assert t["executor_run_s"] == pytest.approx(12.24)
    assert t["peak_heap_mb"] > 0  # sampled every 100 ms in a traced run
    assert (t["batches"], t["state_rows"]) == (1, 1500)
    assert t["trigger_ms_p50"] == 7337
