"""polkadot_etl_spark/session.overlap: independent eager legs run
concurrently, one pool thread each, with the caller's local properties,
and come back in argument order; and overlap is the package's only
thread pool."""

from __future__ import annotations

import ast
import pathlib
import threading
import time

import pytest

from polkadot_etl_spark.session import overlap

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "polkadot_etl_spark"


def test_results_come_back_in_argument_order():
    # the barrier only opens once every leg is running at the same time
    barrier = threading.Barrier(3, timeout=10)

    def leg(value, delay):
        def run():
            barrier.wait()
            time.sleep(delay)
            return value

        return run

    assert overlap(leg("a", 0.2), leg("b", 0.0), leg("c", 0.1)) == ["a", "b", "c"]


def test_failure_is_raised_after_every_leg_finishes():
    finished = threading.Event()

    def fails_first():
        time.sleep(0.1)
        raise ValueError("first")

    def fails_fast():
        raise KeyError("second")

    def slow():
        time.sleep(0.3)
        finished.set()
        return "done"

    # the first failure in ARGUMENT order wins, not the first in time
    with pytest.raises(ValueError, match="first"):
        overlap(fails_first, fails_fast, slow)
    assert finished.is_set()


def test_legs_see_the_callers_local_properties(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("overlap.test", "caller")
    try:
        got = overlap(
            lambda: sc.getLocalProperty("overlap.test"),
            lambda: sc.getLocalProperty("overlap.test"),
        )
    finally:
        sc.setLocalProperty("overlap.test", None)
    assert got == ["caller", "caller"]


_POOL_NAMES = {"ThreadPoolExecutor", "inheritable_thread_target"}


def test_thread_pools_appear_only_in_overlap():
    """Static guard: the package names ``ThreadPoolExecutor`` and
    ``inheritable_thread_target`` only in session.py — imported there
    and used inside ``overlap``. Every other concurrent leg goes
    through ``overlap``."""
    bad = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        in_overlap = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "overlap":
                in_overlap.update(id(n) for n in ast.walk(node))
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                names = {a.name for a in node.names}
            elif isinstance(node, ast.Name):
                names = {node.id}
            elif isinstance(node, ast.Attribute):
                names = {node.attr}
            else:
                continue
            if not names & _POOL_NAMES:
                continue
            ok = path.name == "session.py" and (
                isinstance(node, ast.ImportFrom) or id(node) in in_overlap
            )
            if not ok:
                bad.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not bad, f"thread pool outside session.overlap: {bad}"
