"""Build-once session memo (duckdb_cluster_hash_spark.memo), Spark-free:
plain objects stand in for the corpus frames that own the entries."""

from __future__ import annotations

import gc
import sys
import threading
import time

import pytest

from duckdb_cluster_hash_spark import memo


class Owner:
    """A weak-referenceable stand-in for a corpus DataFrame."""


def test_concurrent_same_key_builds_once():
    owner = Owner()
    builds = []
    results = []
    start = threading.Barrier(8)

    def build():
        builds.append(1)
        time.sleep(0.05)  # keep the build in flight while others arrive
        return object()

    def caller():
        start.wait(timeout=10)
        results.append(memo.build_once(owner, "k", build))

    threads = [threading.Thread(target=caller) for _ in range(8)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1
    assert len(results) == 8 and all(r is results[0] for r in results)


def test_failed_build_raises_for_builder_and_one_waiter_rebuilds():
    owner = Owner()
    entered = threading.Event()
    release = threading.Event()
    calls = []

    def failing():
        calls.append("fail")
        entered.set()
        release.wait(timeout=10)
        raise RuntimeError("builder died")

    def good():
        calls.append("good")
        return "value"

    errors = []
    results = []

    def builder():
        try:
            memo.build_once(owner, "k", failing)
        except RuntimeError as exc:
            errors.append(exc)

    def waiter():
        results.append(memo.build_once(owner, "k", good))

    first = threading.Thread(target=builder)
    first.start()
    assert entered.wait(timeout=10)
    waiters = [threading.Thread(target=waiter) for _ in range(4)]
    for t in waiters:
        t.start()
    time.sleep(0.05)  # let the waiters queue on the slot lock
    release.set()
    for t in [first, *waiters]:
        t.join(timeout=30)
        assert not t.is_alive()
    assert len(errors) == 1
    assert calls == ["fail", "good"]
    assert results == ["value"] * 4


def test_none_result_is_built_once():
    owner = Owner()
    builds = []

    def build():
        builds.append(1)

    assert memo.build_once(owner, "none", build) is None
    assert memo.build_once(owner, "none", build) is None
    assert len(builds) == 1


def test_clear_spares_in_flight_slot_and_counts_done_entries():
    owner = Owner()
    memo.build_once(owner, "a", lambda: 1)
    memo.build_once(owner, "b", lambda: 2)
    with pytest.raises(ZeroDivisionError):
        memo.build_once(owner, "failed", lambda: 1 // 0)
    entered = threading.Event()
    release = threading.Event()

    def slow():
        entered.set()
        release.wait(timeout=10)
        return 3

    out = []
    t = threading.Thread(
        target=lambda: out.append(memo.build_once(owner, "c", slow))
    )
    t.start()
    try:
        assert entered.wait(timeout=10)
        assert memo.clear(owner) == 2
        assert set(memo._STORE[owner]) == {"c"}
    finally:
        release.set()
        t.join(timeout=30)
    assert not t.is_alive() and out == [3]
    assert memo.clear() >= 1
    assert owner not in memo._STORE


def test_clear_one_owner_leaves_others_and_rebuilds():
    a, b = Owner(), Owner()
    memo.build_once(a, "k", lambda: 1)
    memo.build_once(b, "k", lambda: 2)
    assert memo.clear(a) == 1
    assert a not in memo._STORE and memo.build_once(b, "k", lambda: 0) == 2
    assert memo.build_once(a, "k", lambda: 3) == 3


def test_entry_dies_with_owner():
    owner = Owner()
    memo.build_once(owner, "k", lambda: [1, 2, 3])
    assert owner in memo._STORE
    n = len(memo._STORE)
    del owner
    gc.collect()
    assert len(memo._STORE) == n - 1


@pytest.fixture(autouse=True)
def _empty_store():
    yield
    memo.clear()
