"""Test-table access + lake-layout writers.

Reading side: the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
Writing side: the lakehouse conventions that replace the reference's
BigQuery day-partitioned tables (SURVEY §2.1 S4/S5/S8): day-partitioned
parquet with dynamic partition overwrite so a re-run of one day atomically
replaces exactly that day — the Spark equivalent of
``bq load --replace '${tbl}$YYYYMMDD'`` (reference substrate/substrateetl.js:6553-6572).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    DataType,
    StructType,
    _create_converter,
    _make_type_verifier,
)

from polkadot_etl_spark.memo import memoize

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Scan-root memo (r14, guide §1.2/§7.3 — the same plan-machinery class
# as plans/exprmemo.py): constructing one parquet scan DataFrame costs
# ~150-300 ms of driver work (DataSource resolution, footer/schema read,
# py4j) and the registry pays it hundreds of times per bench run — every
# query build re-reads the same immutable fixture schema. A scan
# DataFrame is an unresolved plan fragment: reusing it across plans is
# plan machinery, not result caching — every query still assembles,
# analyzes and EXECUTES its own plan from the parquet files on disk
# (nothing row-shaped is retained; the first build in any fresh JVM
# pays full price). Keyed per live SparkSession (``memoize`` in
# polkadot_etl_spark/memo.py — a closed session's frames are never served
# to a new one, even one that recycles its id()) + path.


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table. Column pruning + predicate pushdown reach
    the parquet scan because callers filter/select on the returned
    DataFrame before any action (verify with .explain: PushedFilters).

    events.ts has been generated as parquet TIMESTAMP(NANOS) (which
    Spark's reader rejects without nanosAsLong) in some datasets and as a
    plain micros TIMESTAMP in others, so the handling is adaptive: read
    with nanosAsLong on (a no-op for non-NANOS files), convert to a
    timestamp only if the column actually came back as a long, and cast
    any NTZ variant to the session-TZ timestamp so every downstream
    consumer sees one type. Session timezone is pinned to UTC so
    date/epoch math matches the oracle even when the caller's session
    wasn't built by session.py (re-pinned on EVERY call, memo hit or
    not — the non-UTC-driver guard must hold per invocation).

    The scan memo above returns the SAME DataFrame to every caller in a
    session, which sets two constraints:

    - the fixture directory must be immutable for the session's
      lifetime: a rewritten directory is served the stale file listing;
    - two loads of one table share exprIds, so join them by name or
      ``USING`` (or alias each side), never ``df1[c] == df2[c]``, which
      is an ambiguous self-join condition on one plan fragment."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return memoize(
        spark, "scan", (sf_dir, name), lambda: _read_table(spark, sf_dir, name)
    )


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name != "events":
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":  # nanos-long → micros timestamp (lossless)
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type != "timestamp":  # timestamp_ntz → session-TZ (UTC) instant
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df.select("event_id", "ts", "user_id", "event_type", "value", "props")


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A driver-side literal frame (dims, registry seeds, collected
    summaries) as a plan-time ``LocalRelation``.

    ``spark.createDataFrame(<list>, schema)`` in classic PySpark
    parallelizes the rows and pickles them through a Python ``map``, so
    the frame plans as ``Scan ExistingRDD`` with an unknown size and
    every execution runs one Python-worker task per default-parallelism
    slice. Here the rows are verified and converted on the driver
    exactly as that list path does (same type verifier, same internal
    values, so mistyped rows raise the same errors), transposed into a
    ``pyarrow.Table`` typed by ``to_arrow_schema``, and handed to
    ``createDataFrame``, which builds a ``LocalRelation``: no Python
    tasks, an exact size estimate, and projections and filters that
    ``ConvertToLocalRelation`` folds at plan time. ``schema`` is a DDL
    string or a ``StructType``; a zero-row input keeps its schema."""
    struct = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    verify = _make_type_verifier(struct)
    convert = _create_converter(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(convert(row)))
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [
            pa.array([r[i] for r in internal], type=field.type)
            for i, field in enumerate(arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def scan_splits(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Planned split count of one table's parquet scan, memoized per
    (SparkContext, path) — one .rdd planning round trip per table per
    JVM (no job runs; split packing is decided at planning time from
    file sizes and maxPartitionBytes/openCostInBytes)."""
    return memoize(
        spark.sparkContext,
        "scan_splits",
        (sf_dir, name),
        lambda: load_table(spark, sf_dir, name).rdd.getNumPartitions(),
    )


def fan_out_scan(sf_dir: str, name: str, *keys):
    """Keyed fan-out for heavy per-row chains sitting directly above a
    table scan, GATED on the scan's actual split count (r14, ADVICE):

    - fixture grain: the test parquet is a single row group, so the scan
      cannot split and every heavy synthesis/encode chain above it runs
      as ONE task — the keyed repartition spreads it (the r13 fix).
    - production grain: the scan splits by row group into >= cores
      partitions, the chain above it is already parallel, and the same
      repartition would be a pure ADDED corpus-wide shuffle of payload
      rows (raw text/embeddings) — so it must vanish.

    Returns a ``DataFrame -> DataFrame`` for ``df.transform(...)``:
    repartition only when the table's planned split count is below the
    session's core count; pass through unchanged otherwise. The frame
    may be the scan itself or derived 1:1 from it (select/filter/
    synthesis) — the gate is a property of the TABLE's file layout.
    """

    def _apply(df: DataFrame) -> DataFrame:
        spark = df.sparkSession
        dp = spark.sparkContext.defaultParallelism
        if scan_splits(spark, sf_dir, name) >= dp:
            return df
        return df.repartition(dp, *keys)

    return _apply


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register all test tables as temp views for spark.sql() use."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def write_day_partitioned(
    df: DataFrame,
    path: str,
    time_col: str,
    partition_col: str = "log_dt",
    mode: str = "overwrite",
    cluster_by: list[str] | None = None,
    grain: str = "day",
) -> None:
    """Publish a silver/gold table partitioned on ``time_col``.

    With ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set in
    session.py) mode="overwrite" replaces ONLY the partitions present
    in ``df`` — the idempotent partition-replace the reference gets from
    BigQuery partition decorators (SURVEY X8). At 100 TB this is the unit
    of reprocessing: one chain-day, never a full-table rewrite.

    grain="hour" adds a second-level log_hr partition (0-23) under each
    day — the dump_gs_hourly export variant (substrateetl.js:5522-5650,
    per-(logDT, hr) AVRO extracts). Two-level (log_dt, log_hr) keeps
    day-level pruning working for daily readers while hourly replays
    replace exactly one hour.
    """
    # cluster_by sorts rows within each partition (e.g. block_number,
    # or address for per-address feeds) — the Spark replacement for the
    # reference's BigTable key design (8-hex block keys, inverted-TS keys,
    # SURVEY §4): parquet row-group min/max stats on the sorted columns
    # give the scan the same range-skipping a prefix-ordered key store does.
    out = df.withColumn(partition_col, F.to_date(F.col(time_col)))
    part_cols = [partition_col]
    if grain == "hour":
        out = out.withColumn("log_hr", F.hour(F.col(time_col)))
        part_cols.append("log_hr")
    elif grain != "day":
        raise ValueError(f"unknown grain {grain!r}")
    if cluster_by:
        out = out.sortWithinPartitions(*part_cols, *cluster_by)
    out.write.mode(mode).partitionBy(*part_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table (SURVEY §4 'co-located joins via bucketing'):
    both sides of a recurring big-big join written with the same
    (bucket_cols, n_buckets) join WITHOUT any exchange — the shuffle is
    paid once at write time instead of on every query. This is the
    replacement for the reference's hand-designed row keys when the same
    join runs daily (e.g. extrinsics × events on extrinsic_id).
    """
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)
