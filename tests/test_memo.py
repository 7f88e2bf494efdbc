"""polkadot_etl_spark/memo.context_memo: a driver-side memo can never
serve a collected context's entries to a new context that recycles its
id()."""

from __future__ import annotations

import gc

from pyspark import SparkContext

from polkadot_etl_spark.memo import context_memo
from polkadot_etl_spark.plans.exprmemo import expr_cache


class _Context:
    """Stands in for a stopped SparkContext: the suite's one live
    context cannot be stopped mid-run, and only the owner's identity
    and lifetime matter to the memo."""


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
        gc.collect()
        # CPython hands a freed object's address to the next object of
        # the same size; keep allocating until the id is recycled
        held = []
        for _ in range(10_000):
            held.append(_Context())
            if id(held[-1]) == old_id:
                break
        new = held[-1]
        assert id(new) == old_id, "id never recycled; the check would be vacuous"

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
