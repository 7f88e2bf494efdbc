"""Per-query optimization loop helper (r13): time named queries through
the bench's own noop-sink discipline and/or dump their formatted plans.

Usage:
    python tools_profile.py q1 q2 ...               # time each (min of N)
    python tools_profile.py --explain-dir plans/r13 --suffix _before q1 ...
    python tools_profile.py --iters 3 q1
    SPARK_GRAFT_CONF='spark.foo=bar;spark.baz=qux' python tools_profile.py q1

Plan dumps are written with run-specific ids and names replaced by fixed
tokens (see ``normalize_plan``), so the dumps of two commits compare with
one ``diff -r``.

Timing uses benchutil.time_noop_min (identical methodology to bench.py)
at $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS], after
the same warm_session, so numbers here are comparable to BENCH_DETAIL.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import tempfile
import time

# (pattern, token): expression ids, plan ids, RDD ids, and the random
# suffix tempfile gives a scratch directory under the temp root
_PLAN_NOISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (
        re.compile(re.escape(tempfile.gettempdir()) + r"/([A-Za-z_]*?)[a-z0-9_]{8}\b"),
        tempfile.gettempdir() + r"/\1XXXXXXXX",
    ),
]


def normalize_plan(plan: str) -> str:
    """``plan`` with the ids and names that differ between runs of the
    same build replaced by fixed tokens."""
    for pattern, token in _PLAN_NOISE:
        plan = pattern.sub(token, plan)
    return plan


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="")
    ap.add_argument("--no-time", action="store_true")
    args = ap.parse_args()

    from polkadot_etl_spark.benchutil import time_noop_min, warm_session
    from polkadot_etl_spark.queries import QUERIES
    from polkadot_etl_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    extra = {}
    for kv in os.environ.get("SPARK_GRAFT_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            extra[k.strip()] = v.strip()
    spark = get_spark(app_name="tools-profile", extra_conf=extra or None)
    warm_session(spark, sf_dir)

    missing = [n for n in args.names if n not in QUERIES]
    if missing:
        print(f"unknown queries: {missing}", file=sys.stderr)
        return 2

    for name in args.names:
        spec = QUERIES[name]
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            t0 = time.perf_counter()
            df = spec.build(spark, sf_dir)
            build_s = time.perf_counter() - t0
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            path = os.path.join(args.explain_dir, f"{name}{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(normalize_plan(plan))
            print(f"# {name}: plan -> {path} (build {build_s:.2f}s)")
        if not args.no_time:
            spark.sparkContext.setJobDescription(f"profile: {name}")
            times = time_noop_min(spec.build, spark, sf_dir, base_iters=args.iters)
            spark.sparkContext.setJobDescription(None)
            print(
                f"{name}: min={min(times):.3f}s iters="
                + ",".join(f"{t:.3f}" for t in times)
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
