"""External database bridges (SURVEY §2.1 importers).

Reference parity: the postgresql.* plugin family (dataset / query /
import) and mongodb.* bridges. Spark-first, these ARE the JDBC and
connector data sources — the value this layer adds is the reference's
config surface mapped onto the options Spark needs, with the
partitioned-read parameters (partitionColumn/numPartitions/bounds)
made first-class because an unpartitioned JDBC read is a single-task
scan — the 100 TB anti-pattern.

The drivers (postgres JDBC jar, mongo-spark connector) are not in
this container; option assembly is pure and unit-tested, `.load()`
requires the jar at runtime exactly like any Spark deployment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def jdbc_options(
    host: str,
    database: str,
    table_or_query: str,
    user: str,
    password: str,
    port: int = 5432,
    is_query: bool = False,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    fetch_size: int = 10000,
) -> dict[str, str]:
    """The reference's postgresql.dataset/query config → Spark JDBC
    options. Partitioned reads need (partition_column, bounds): Spark
    then issues num_partitions range-sliced queries instead of one
    full-table scan through a single task."""
    opts = {
        "url": f"jdbc:postgresql://{host}:{port}/{database}",
        "user": user,
        "password": password,
        "driver": "org.postgresql.Driver",
        "fetchsize": str(fetch_size),
    }
    if is_query:
        opts["query"] = table_or_query
    else:
        opts["dbtable"] = table_or_query
    if partition_column is not None:
        if is_query:
            raise ValueError("partitioned reads need dbtable, not query")
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column needs lower_bound and upper_bound")
        opts.update(
            partitionColumn=partition_column,
            numPartitions=str(num_partitions),
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
        )
    return opts


def jdbc_read(
    spark: SparkSession,
    url: str,
    dbtable: str,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **extra: str,
) -> DataFrame:
    """Engine-agnostic JDBC read — the execution path postgresql_
    dataset/query resolve to, exposed directly so any database with a
    driver jar on the classpath (the bundled Derby, or a deployed
    postgres/mysql jar) goes through the same partitioned-read
    plumbing. The live round-trip is smoke-tested in-container against
    embedded Derby (tests/test_sources_streaming.py)."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", dbtable)
    if driver:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column needs lower_bound and upper_bound")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in extra.items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_write(
    df: DataFrame,
    url: str,
    dbtable: str,
    driver: str | None = None,
    mode: str = "overwrite",
    **extra: str,
) -> None:
    """JDBC sink twin of jdbc_read (the reference's postgresql import
    direction reversed — exporting a result table to a database)."""
    writer = df.write.format("jdbc").option("url", url).option("dbtable", dbtable)
    if driver:
        writer = writer.option("driver", driver)
    for k, v in extra.items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def postgresql_dataset(spark: SparkSession, **kwargs) -> DataFrame:
    """postgresql.dataset: table as a DataFrame. Pass partition_column
    + bounds for a parallel read (see jdbc_options)."""
    return spark.read.format("jdbc").options(**jdbc_options(**kwargs)).load()


def mongodb_connector_available(spark: SparkSession) -> bool:
    """True when the mongo-spark connector is on the session's
    classpath (org.mongodb.spark:mongo-spark-connector)."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "com.mongodb.spark.sql.connector.MongoTableProvider"
        )
        return True
    except Exception:
        return False


def mongodb_dataset(
    spark: SparkSession,
    connection_uri: str,
    database: str,
    collection: str,
) -> DataFrame:
    """mongodb.dataset (reference plugins/mongodb/): collection as a
    DataFrame via the mongo-spark connector.

    CONTRACT: this function is option assembly over Spark's
    `format("mongodb")` source. The connector jar
    (org.mongodb.spark:mongo-spark-connector) is NOT bundled; without
    it this raises a RuntimeError naming the missing package at call
    time — it never silently returns an empty or wrong result. With
    the jar on the classpath (spark.jars.packages) the read is the
    standard connector path, partitioned by the connector's own
    partitioner. tests/test_sources_streaming.py gates its live
    round-trip on mongodb_connector_available()."""
    if not mongodb_connector_available(spark):
        raise RuntimeError(
            "mongodb_dataset requires the mongo-spark connector on the "
            "classpath: add org.mongodb.spark:mongo-spark-connector via "
            "spark.jars.packages (option-assembly-only without it)"
        )
    return (
        spark.read.format("mongodb")
        .option("connection.uri", connection_uri)
        .option("database", database)
        .option("collection", collection)
        .load()
    )
