"""SparkSession factory tuned for both local testing and cluster scale.

The reference engine hand-tunes parallelism (MIN_ROW_PER_TASK=32,
TASK_PER_THREAD=8, /root/reference core/bound_queries.cc:39-40); on
Spark the equivalents are shuffle partitioning + AQE, set once here.

Rows cross the driver boundary one way each: `local_frame` brings
driver rows into Spark, `local_rows` brings at most `cap` rows out.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

_log = logging.getLogger(__name__)


def get_spark(
    app_name: str = "mldb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Local mode defaults come from $SPARK_GRAFT_CPUS (driver contract);
    on a real cluster, pass master=None with an external conf and the
    builder only layers the SQL-level settings, which are
    cluster-size-independent:

    - AQE on: runtime coalescing, skew-join splitting, and dynamic
      join-strategy switching replace any hand-scheduled plan choice.
    - shuffle.partitions is only the *initial* number — AQE coalesces.
      At 100 TB you'd raise it (e.g. 2000-8000) via external conf; the
      value here suits local[32] at sf<=1.
    - Arrow on: every pandas_udf / toPandas crosses the JVM<->Python
      boundary in columnar batches. Driver-side rows cross by Arrow
      too, whatever this conf says: `local_frame` hands Spark a
      pyarrow Table, so a local frame is a JVM LocalRelation.
    - session timezone pinned UTC so TIMESTAMP semantics match the
      reference (timezone-less UTC instants, TypeSystem.md:25-27) and
      the duckdb oracle.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # wide-aggregate codegen (optimization r9): the simhash
        # 64-bit-vote aggregate carries >100 fields, which silently
        # drops the whole stage out of whole-stage codegen at the
        # default maxFields=100 (~15-20% on that stage). 200 keeps
        # such deliberate wide-but-bounded aggregates compiled at ANY
        # scale factor; genuinely huge projections (the 10k-column
        # cells views) still exceed it and stay interpreted, as
        # before. Scale-independent: field count is a plan property,
        # not a cluster-size property.
        .config("spark.sql.codegen.maxFields", "200")
        # generated-class cache sized to the gates' working set: one
        # pass over the 131 gates compiles ~1,400 distinct classes, so
        # at the default of 100 entries every warm batch_pipeline pass
        # recompiled ~220 of them (Janino compile plus JIT of the fresh
        # class, on the driver before each job). At 2000 a warm pass
        # compiles ~0: a second 131-gate pass went 2,114 -> 26
        # compiles, with Metaspace 270 -> 251 MB after it. Static conf:
        # settable only when the session is built.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Heap sized to the LOCAL workload, not the box (guide §5;
        # optimization r10): this sandbox's hypervisor charges ~3-60µs
        # per first-touch page fault, so an oversized lazily-grown heap
        # is a fault DEBT the first queries that allocate big
        # sort/aggregation buffers pay down mid-stage (measured: 32-task
        # stages with seconds of executorRunTime at <5% CPU; qa24 6.2s
        # -> 2.8s and q89 3.5s -> 0.7s on a fully-faulted heap).
        # 10g covers every sf<=1 gate with wide margin and bounds the
        # debt; scale runs (the 16x probe, a real cluster) size memory
        # externally via SPARK_DRIVER_MEMORY / cluster conf as before.
        # (-Xms/-XX:+AlwaysPreTouch moved the debt to a ~6min session
        # start; THP halved fault counts but its madvise defrag stalled
        # q85's shuffle 9x — both measured and rejected, see
        # OPTIMIZATION_r10.md.)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "10g"))
        .config("spark.ui.enabled", "false")
        # no console progress bars: harnesses capture stdout/stderr and
        # 90 queries of \r-rewritten bars swamp (and truncate) the one
        # JSON line the driver parses out of bench.py
        .config("spark.ui.showConsoleProgress", "false")
    )
    if master is not None:
        builder = builder.master(master)
    elif "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    else:
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side rows as a DataFrame the JVM holds as a LocalRelation.

    The one way driver-local results re-enter Spark.
    `spark.createDataFrame(<python rows>, schema)` parallelizes pickled
    rows through a PythonRDD, so every job over that frame, or over
    anything derived from it, runs Python-worker tasks. Built from a
    pyarrow Table, the rows cross once in Arrow batches and Spark plans
    the frame as a LocalRelation: no Python worker runs behind it.

    `rows` are positional tuples (lists and Rows work too). `schema` is
    a DDL string, a StructType, or a list of column names; names take
    Spark's own inference over the rows, as createDataFrame does, so
    the inferred types stay the same. UDT columns (ml Vector/Matrix)
    are stored through the UDT's `serialize`. Naive datetimes are read
    as UTC instants, as parquet timestamps are under the UTC session
    timezone `get_spark` pins.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, UserDefinedType, _parse_datatype_string

    rows = list(rows)
    if isinstance(schema, str):
        struct = _parse_datatype_string(schema)
    elif isinstance(schema, StructType):
        struct = schema
    else:
        struct = spark._inferSchemaFromList(rows, names=list(schema))
    if not isinstance(struct, StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    columns = []
    has_udt = False
    for i, field in enumerate(struct.fields):
        vals = [r[i] for r in rows]
        if isinstance(field.dataType, UserDefinedType):
            has_udt = True
            vals = [None if v is None else field.dataType.serialize(v) for v in vals]
        columns.append(vals)
    arrow_schema = to_arrow_schema(struct)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    if has_udt:
        return _udt_arrow_frame(spark, table, struct)
    return spark.createDataFrame(table, struct)


def _udt_arrow_frame(spark: SparkSession, table, struct) -> DataFrame:
    """The JVM end of createDataFrame(<pyarrow Table>) for a table that
    already has struct's exact Arrow schema. PySpark 4.1's
    timestamp-localize pass over the table cannot descend into a UDT
    column (it reads `.fields` off the UDT), so UDT frames hand their
    batches to the same JVM reader directly."""
    from pyspark.sql.pandas.serializers import ArrowStreamSerializer

    jvm = spark._jvm
    jiter = spark._sc._serialize_to_jvm(
        table.to_batches(),
        ArrowStreamSerializer(),
        jvm.PythonSQLUtils.readArrowStreamFromFile,
        jvm.ArrowIteratorServer,
    )
    jdf = jvm.PythonSQLUtils.toDataFrame(jiter, struct.json(), spark._jsparkSession)
    return DataFrame(jdf, spark)


def local_rows(df: DataFrame, cap: int, what: str):
    """`df` as a pyarrow Table if it has at most `cap` rows, else None.

    The one bounded collect: every driver-local regime (None: run the
    distributed path) and every size cap (None: raise). One action reads
    at most cap + 1 rows, and one DEBUG record names `what`, the regime
    (`local` / `over cap`), the rows read and the cap. `to_pylist()`
    equals `collect()` for strings, numbers, dates and arrays of them;
    timestamps come back tz-aware, maps as pairs, structs as dicts.
    """
    table = df.limit(cap + 1).toArrow()
    over = table.num_rows > cap
    _log.debug(
        "local_rows %s: %s, %d rows read, cap %d",
        what, "over cap" if over else "local", table.num_rows, cap,
    )
    return None if over else table
