"""tools_profile.normalize_plan: two dumps of the same plan from different
runs compare equal once run-specific ids and scratch names are tokens."""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools_profile import normalize_plan  # noqa: E402


def _plan(expr: int, rdd: int, plan_id: int, scratch: str) -> str:
    tmp = tempfile.gettempdir()
    return (
        "== Physical Plan ==\n"
        f"* Project (2)\n+- Scan ExistingRDD (1)\n\n"
        f"(1) Scan ExistingRDD\nOutput [2]: [k#{expr}L, v#{expr + 1}]\n"
        f"Arguments: [k#{expr}L, v#{expr + 1}], MapPartitionsRDD[{rdd}] at "
        f"checkpoint, ExistingRDD, UnknownPartitioning(0)\n\n"
        f"(2) Project [codegen id : 1]\nInput [2]: [k#{expr}L, v#{expr + 1}]\n"
        f"Arguments: [plan_id={plan_id}], {tmp}/{scratch}/part-0.csv\n"
    )


def test_runs_of_one_plan_normalise_equal():
    a = normalize_plan(_plan(101, 855, 14772, "dune_csv_a1b2c3d4"))
    b = normalize_plan(_plan(2207, 892, 24371, "dune_csv_9_zx8yw7"))
    assert a == b
    assert "k#NL" in a and "RDD[N]" in a and "plan_id=N" in a
    assert f"{tempfile.gettempdir()}/dune_csv_XXXXXXXX/part-0.csv" in a


def test_a_real_plan_difference_survives():
    a = normalize_plan(_plan(101, 855, 14772, "dune_csv_a1b2c3d4"))
    b = normalize_plan(_plan(101, 855, 14772, "dune_csv_a1b2c3d4").replace("Project", "Filter"))
    assert a != b
