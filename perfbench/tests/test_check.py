"""Spark-free tests of the run's correctness rule: every execution that
raised or returned a wrong output counts in ``failed`` and makes the run
incorrect, the ``ddl_*`` queries included.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from run import Bench, Execution, Pass  # noqa: E402
from workloads import WORKLOADS, pass_queue  # noqa: E402

FILE_GONE = "[FAILED_READ_FILE.FILE_NOT_EXIST] Encountered error while reading file .../ddl_test_keys/part-0"
README_ROWS = [("product:5432", 13236, 3), ("user:1000", 1649, 1), ("{user:1000}:profile", 1649, 1)]


def raised(query: str, start: float, end: float) -> Execution:
    return Execution(query, start, end=end, error=FILE_GONE)


def returned(query: str, start: float, end: float, rows: list) -> Execution:
    return Execution(query, start, end=end, rows=rows, columns=["key", "slot", "node_id"])


def check(*executions: Execution) -> tuple[int, int, bool]:
    bench = Bench.__new__(Bench)  # check() reads only the key queries
    bench.key_queries, bench.keys = {}, {}
    attempted, failed, correct, _ = bench.check(Pass(0.0, 0.0, 0.0, list(executions)))
    return attempted, failed, correct


def test_the_expected_output_passes():
    assert check(returned("ddl_readme_flow", 0, 1, README_ROWS)) == (1, 0, True)


def test_any_raise_is_a_failure_and_incorrect():
    assert check(raised("ddl_readme_flow", 0, 2)) == (1, 1, False)
    assert check(raised("cluster_slot_projection", 0, 2)) == (1, 1, False)


def test_a_wrong_output_is_a_failure_and_incorrect():
    assert check(returned("ddl_readme_flow", 0, 1, README_ROWS * 2)) == (1, 1, False)


def test_ddl_queries_are_queued_once_and_the_rest_twice():
    wl = WORKLOADS["hash_route"]
    queue = pass_queue(wl, 7)
    assert len(queue) == 50
    for q in set(queue):
        assert queue.count(q) == (1 if q in wl.once else 2)
