"""polkadot_etl_spark/memo.context_memo and memoize: a driver-side memo
can never serve a collected context's entries to a new context that
recycles its id(), and memoize builds each key once per live owner."""

from __future__ import annotations

import gc
import sys
import threading
import time

from pyspark import SparkContext

from polkadot_etl_spark.memo import context_memo, memoize
from polkadot_etl_spark.plans.exprmemo import expr_cache


class _Context:
    """Stands in for a stopped SparkContext: the suite's one live
    context cannot be stopped mid-run, and only the owner's identity
    and lifetime matter to the memo."""


def _recycle(old_id):
    """A fresh _Context at a collected one's id, plus the objects
    allocated on the way (keep them alive while the id matters)."""
    gc.collect()
    # CPython hands a freed object's address to the next object of the
    # same size; keep allocating until the id is recycled
    held = []
    for _ in range(10_000):
        held.append(_Context())
        if id(held[-1]) == old_id:
            break
    assert id(held[-1]) == old_id, "id never recycled; the check would be vacuous"
    return held[-1], held


def test_recycled_context_id_is_never_served_a_stale_entry():
    live = SparkContext._active_spark_context
    try:
        old = _Context()
        SparkContext._active_spark_context = old
        assert expr_cache(("site",), lambda: "old tree") == "old tree"
        context_memo(old, "scan_splits")[("dir", "table")] = 3
        old_id = id(old)

        SparkContext._active_spark_context = None
        del old
        new, _held = _recycle(old_id)

        SparkContext._active_spark_context = new
        assert expr_cache(("site",), lambda: "new tree") == "new tree"
        assert context_memo(new, "scan_splits") == {}
    finally:
        SparkContext._active_spark_context = live


def test_memo_is_per_owner_and_per_name():
    a, b = _Context(), _Context()
    context_memo(a, "x")["k"] = 1
    assert context_memo(a, "x") == {"k": 1}
    assert context_memo(a, "y") == {}
    assert context_memo(b, "x") == {}


def test_memoize_builds_once_per_key():
    owner, built = _Context(), []

    def build(v):
        return lambda: built.append(v) or v

    assert memoize(owner, "m", "a", build("A")) == "A"
    assert memoize(owner, "m", "a", build("A again")) == "A"
    assert memoize(owner, "m", "b", build("B")) == "B"
    assert built == ["A", "B"]


def test_memoize_rebuilds_for_a_collected_owner():
    old = _Context()
    assert memoize(old, "m", "k", lambda: "old") == "old"
    old_id = id(old)
    del old
    new, _held = _recycle(old_id)
    assert memoize(new, "m", "k", lambda: "new") == "new"


def test_memoize_racing_callers_all_get_one_result():
    owner, n = _Context(), 16
    barrier = threading.Barrier(n, timeout=10)
    got = []

    def build():
        time.sleep(0.01)
        return object()

    def caller():
        barrier.wait()
        got.append(memoize(owner, "race", "k", build))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=caller) for _ in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(got) == n
    assert len({id(g) for g in got}) == 1
