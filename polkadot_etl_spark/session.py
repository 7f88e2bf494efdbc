"""SparkSession builder with defaults tuned for the 100 TB design point.

The reference hand-codes every optimization (SURVEY §4): day-partition
pruning, predicate pushdown via SQL strings, batched I/O, in-memory dims.
Here those are Catalyst/Tungsten features we simply enable:

- AQE (runtime re-plan, skew-join splitting, partition coalescing) replaces
  the reference's hand-tuned batch sizes (substrateetl.js:6236).
- Dynamic partition overwrite replaces BigQuery's ``$YYYYMMDD --replace``
  atomic day-partition loads (substrateetl.js:6553-6572).
- Arrow execution keeps any Python-side work (pandas UDFs) batched.

At cluster scale the same builder is used; only master/shuffle-partition
settings differ (pass ``shuffle_partitions`` sized ~2-3x total cores).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "polkadot-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-safe defaults.

    Defaults are chosen so that the *same logical plans* hold from
    local[32] tests to a 1000-executor cluster: AQE handles partition
    count/skew at runtime, so correctness never depends on a fixed
    parallelism.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Deterministic timestamp semantics: all test parquet carries naive
        # timestamps; pin the session to UTC so epoch math matches the
        # DuckDB oracle exactly.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Adaptive execution: runtime partition coalescing + skew-join
        # splitting. At 100 TB this is what absorbs hot keys (e.g. the
        # reference's skewed from_pub_key distributions).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Atomic day-partition republish (reference: bq load --replace).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Arrow for any pandas UDF / toPandas path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Broadcast threshold: dims (region/nation/specversions/assetInfo
        # equivalents) are always broadcast; 64 MB is safe on 16 GB
        # executors and avoids shuffling the fact side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet scan parallelism: 128 MB splits are the right grain for
        # multi-TB day partitions; harmless locally. (Probed: shrinking
        # the split/advisory grains for the MB-scale local files does NOT
        # help — the test parquet is single-row-group, so a scan cannot
        # split below one task, and a 1 MB AQE advisory grain slowed the
        # iterative CC queries; the env override below exists for real
        # deployments with different storage grains.)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", str(128 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Quieter local runs.
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def overlap(*thunks):
    """Run independent zero-argument thunks concurrently and return their
    results in argument order.

    Builders use this for eager legs that do not depend on each other
    (localCheckpoints, driver-side k-means/CC loops, stream runs):
    submitted from separate driver threads, the legs' jobs share the
    scheduler, which back-fills one leg's task tail with the other's
    tasks instead of running the legs strictly back to back. Each thunk
    gets its own pool thread and is wrapped by
    ``inheritable_thread_target`` here, on the caller's thread, so the
    caller's local properties (job group, description) reach the legs'
    jobs. Every leg is waited for; if any fail, the first failure in
    argument order is re-raised."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(inheritable_thread_target(t)) for t in thunks]
    return [f.result() for f in futs]
