"""Parquet tables of a scale-factor directory and their layouts.

`load` reads one named table as a lazy parquet scan that Catalyst
prunes (column projection + predicate pushdown reach the parquet
reader); nothing here materializes data. Named datasets of an `Mldb`
live in its `MldbContext` (the reference's entity model,
core/mldb_entity.h, core/dataset.h).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
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

# Small dimension tables: always broadcastable in joins. At sf100k
# (100 TB) region/nation/supplier/part remain << broadcast threshold
# relative to fact tables; customer may not — it is deliberately NOT
# in this set.
BROADCAST_DIMS = frozenset({"region", "nation", "supplier", "part"})


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 64,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist a DataFrame as a bucketed (+optionally sorted) table.

    This is the co-located-join path for repeated big-fact joins: two
    tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle (Catalyst recognizes the compatible hash
    partitioning). At 100 TB, bucketing the fact tables on their join
    keys once at ingest amortizes every subsequent join/groupBy on
    that key. Requires a Hive-less Spark catalog (saveAsTable with
    bucketBy works against the default in-memory catalog + warehouse
    dir).
    """
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def write_time_partitioned(
    df: DataFrame,
    path: str,
    ts_col: str = "ts",
    granularity: str = "day",
) -> None:
    """Persist an event table partitioned by time — the layout that
    turns every WHEN/time-range filter into partition pruning (only
    the in-window directories are scanned). This is the storage twin
    of the continuous dataset's chunk commits; at 100 TB the
    partition column IS the primary pruning axis."""
    from pyspark.sql import functions as F

    part = F.date_format(F.date_trunc(granularity, F.col(ts_col)), "yyyy-MM-dd")
    df.withColumn("__part", part).write.mode("overwrite").partitionBy(
        "__part"
    ).parquet(path)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs this engine depends on, set defensively because
    the harness may hand us a session built elsewhere:

    - nanosAsLong: the events table stores TIMESTAMP(NANOS), which
      the Spark parquet reader rejects outright; with the legacy conf
      it surfaces as LongType nanos that `load` converts back to a
      proper timestamp column (micros).
    - UTC session timezone: reference timestamps are timezone-less
      UTC instants (TypeSystem.md:25-27) and the duckdb oracle reads
      parquet as UTC-naive.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One-shot loader used by query entry points (driver contract).

    Normalizes timestamp encodings the testdata has shipped under:
    - TIMESTAMP(NANOS) read as long under nanosAsLong → TimestampType
      at microsecond precision;
    - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark reads as
      TIMESTAMP_NTZ → TimestampType. With the session timezone pinned
      to UTC this cast is wall-clock-exact, and it is what every
      event-time consumer (unix_micros, withWatermark, window) needs —
      Spark's event-time machinery requires TimestampType, not NTZ.
    Both are metadata-only projections; nothing materializes.
    """
    _ensure_session_confs(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    df = normalize_timestamps(df)
    return df


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP and every
    nanosAsLong `ts` column back to TimestampType(µs). Shared by the
    batch loader and the streaming source so both sides of the
    continuous dataset see identical event-time types."""
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    if dtypes.get("ts") == "bigint":
        # integer `div`, not `/`: ns-since-epoch (~1.7e18) exceeds
        # double mantissa precision, float division would round off µs
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, typ in dtypes.items():
        if typ == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df
