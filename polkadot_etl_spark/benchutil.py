"""Shared measurement discipline for the three timing tools (bench.py,
scaling_card.py, tools_adjudicate_breaches.py) — ONE definition of the
warmup and the min-of-N noop-sink loop, so a future fix to either cannot
leave the tools silently measuring under different rules (r10
self-review finding: the idiom had been copy-pasted three times).

The discipline (bench.py's, unchanged):
- warmup: one parquet-footer read + one Arrow/pandas-UDF wave of one
  task per core (``defaultParallelism``), so the first measured query
  absorbs neither JVM/session startup nor the one-time Python-worker
  fork (~2 s) — one task per core forks every worker a full-width UDF
  stage reuses, and more tasks would only pay per-task worker setup;
- timing: full materialization through the NOOP sink (every output
  column computed, no rows to the driver — `.count()` lets Catalyst
  legally eliminate the expensive stages, measured in r4);
- iterations: ``base_iters`` runs, plus one extra when the min is
  sub-second (scheduler noise dominates there); the MIN is the
  statistic;
- hygiene: gc.collect() after each query releases the built DataFrames'
  py4j refs promptly so localCheckpoint blocks from checkpoint-heavy
  queries get ContextCleaner'd instead of pressuring later queries.
"""

from __future__ import annotations

import gc
import time

from pyspark.sql import DataFrame, SparkSession

# The iteration constants, exported so sidecar metadata (bench.py) can
# reference the ACTUAL behavior instead of hardcoding literals that a
# future change here would silently falsify (r10 ADVICE note).
BASE_ITERS = 2
EXTRA_BELOW = 1.0
AGG = "min"


# Fixed-work box-speed calibration (r11 verdict task #2): cross-sitting
# bench comparisons have produced 24 phantom budget breaches over three
# rounds (r9: 7, r10: 16, r11: 1 — every one adjudicated UNDER budget
# idle) because the box swings 1.1-1.5x between sittings under
# co-tenant CPU throttling the loadavg stamps cannot see. The probe
# times ONE deterministic pure-JVM workload (whole-stage-codegen'd
# integer folding over spark.range — no I/O, no Python, one single-row
# aggregate) single-threaded and at full local parallelism, and stamps
# rows/sec into the artifacts, making every cross-sitting delta
# self-normalizing: expected_now = measured_then * speed_then/speed_now.
BOX_PROBE_ROWS = 2_000_000
BOX_PROBE_FOLD = 64


def box_speed_probe(spark: SparkSession) -> dict:
    """Measure the box: {'box_speed_1t', 'box_speed_nt'} in probe
    rows/sec (min-of-2 walls, one warm run first so codegen compilation
    is excluded), plus the raw walls and thread count for readers."""
    import os

    from pyspark.sql import functions as F

    n_threads = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    fold = F.expr(
        f"aggregate(sequence(1, {BOX_PROBE_FOLD}), 0L,"
        " (acc, x) -> acc + (x * id) % 997)"
    )

    def run(parts: int, rows: int) -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, rows, 1, parts)
            .select(fold.alias("h"))
            .agg(F.sum("h"))
            .collect()
        )
        return time.perf_counter() - t0

    run(n_threads, BOX_PROBE_ROWS // 20)  # warm: codegen compile + JIT
    wall_1t = min(run(1, BOX_PROBE_ROWS) for _ in range(2))
    wall_nt = min(run(n_threads, BOX_PROBE_ROWS) for _ in range(2))
    return {
        "box_speed_1t": round(BOX_PROBE_ROWS / wall_1t),
        "box_speed_nt": round(BOX_PROBE_ROWS / wall_nt),
        "box_probe_wall_1t": round(wall_1t, 3),
        "box_probe_wall_nt": round(wall_nt, 3),
        "box_probe_threads": n_threads,
        "box_probe_rows": BOX_PROBE_ROWS,
    }


def warm_session(spark: SparkSession, sf_dir: str) -> None:
    """Parquet-footer + Arrow-worker warmup (see module doc)."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).collect()
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them, which the pandas_udf hint inference can't read
    _warm = pandas_udf(lambda s: s, "long", PandasUDFType.SCALAR)
    n = spark.sparkContext.defaultParallelism
    spark.range(n).repartition(n).select(_warm("id")).collect()


def time_noop_min(
    build,
    spark: SparkSession,
    sf_dir: str,
    base_iters: int = BASE_ITERS,
    extra_below: float = EXTRA_BELOW,
) -> list[float]:
    """Run ``build(spark, sf_dir)`` through the noop sink ``base_iters``
    times (+1 when the min lands under ``extra_below`` seconds) and
    return the per-iteration wall times. Callers take min()."""
    times: list[float] = []
    for _ in range(base_iters):
        t0 = time.perf_counter()
        df: DataFrame = build(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    if extra_below and min(times) < extra_below:
        t0 = time.perf_counter()
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    gc.collect()
    return times
