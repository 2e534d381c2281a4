"""Temporal cell semantics on the long (cell-triple) layout.

The reference's data model gives every cell a timestamp and lets a
(row, column) pair hold several timestamped values (SURVEY §1.1-1.3;
/root/reference sql/expression_value.h:86-91 VariableFilter). The
long layout here is one DataFrame row per data point:
(row, column, value, ts) — exactly MLDB's RowValue tuple.

Semantics implemented:
- default read = GET_LATEST per cell (core/bound_queries.cc:385,394):
  `latest_cells` collapses to the latest value per (row, column)
  before ordinary expression evaluation;
- temporal_* aggregates see ALL timestamped values
  (sql/builtin_functions.cc:1186-1467);
- WHEN filters individual cells by timestamp, not rows
  (sql/sql_expression.h:1704-1760, doc WhenExpression.md).

Scale: all three are single-shuffle groupBy/filter plans on
(row, column); time-partitioned storage makes the WHEN filter a
partition-pruned scan.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def latest_cells(
    cells: DataFrame,
    row_col: str = "row",
    column_col: str = "column",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """GET_LATEST read: one row per (row, column) holding the value
    with the maximum timestamp (max_by), mirroring the reference's
    default evaluation filter."""
    return cells.groupBy(row_col, column_col).agg(
        F.max_by(value_col, ts_col).alias(value_col),
        F.max(ts_col).alias(ts_col),
    )


_TEMPORAL_AGGS = {
    "count": lambda v, ts: F.count(v),
    "sum": lambda v, ts: F.sum(v),
    "avg": lambda v, ts: F.avg(v),
    "min": lambda v, ts: F.min(v),
    "max": lambda v, ts: F.max(v),
    "earliest": lambda v, ts: F.min_by(v, ts),
    "latest": lambda v, ts: F.max_by(v, ts),
}


def temporal_agg(
    cells: DataFrame,
    agg: str,
    row_col: str = "row",
    column_col: str = "column",
    value_col: str = "value",
    ts_col: str = "ts",
) -> DataFrame:
    """temporal_count/sum/avg/min/max/earliest/latest over every
    timestamped value of each cell (sql/builtin_functions.cc:1186-1467).
    """
    fn = _TEMPORAL_AGGS[agg]
    return cells.groupBy(row_col, column_col).agg(
        fn(F.col(value_col), F.col(ts_col)).alias(f"temporal_{agg}")
    )


def all_cells(
    cells: DataFrame,
    row_col: str = "row",
    column_col: str = "column",
    value_col: str = "value",
    ts_col: str = "ts",
    where_latest: Column | None = None,
    where_row: Column | None = None,
    where_columns: "Sequence[str] | None" = None,
) -> DataFrame:
    """GET_ALL SELECT emission (sql/expression_value.h:86-91,940-944):
    the reference evaluates WHERE/HAVING/calc at GET_LATEST but emits
    SELECT output as GET_ALL (core/bound_queries.cc:385,394,1815) —
    every timestamped value of a surviving row's cells appears in the
    output, not just the latest one.

    Two predicate shapes:

    - `where_latest`: a boolean expression over this view's
      (column, value, ts) columns, tested against the row's LATEST
      cell values (a row survives if ANY of its latest cells
      satisfies it — the bare `WHERE x > k` single-column shape).

    - `where_row` + `where_columns`: an ARBITRARY row predicate —
      the general shape the reference evaluates at GET_LATEST
      (core/bound_queries.cc:385,394). `where_columns` names the
      logical cell columns the predicate references; the latest view
      is pivoted to exactly those columns (conditional aggregation,
      one partial-agg shuffle — never a wide pivot of the full
      column space), the predicate runs on the pivoted row (absent
      cells are NULL, standard 3VL), and survivors come back as a
      semi-join. Multi-column shapes like `WHERE x > 1 AND y < 2`
      work.

    Surviving rows then emit their full superposition.

    Scale shape: both paths collapse to latest with one partial-agg
    shuffle, pivot at most len(where_columns) values per row, and
    rejoin with a semi-join on the row key — no second pass over
    cell values; the cell scan itself is untouched (filters on
    row/ts still push down).
    """
    if where_row is not None:
        if not where_columns:
            raise ValueError(
                "where_row needs where_columns naming the latest-view "
                "columns the predicate references"
            )
        latest = latest_cells(cells, row_col, column_col, value_col, ts_col)
        pivoted = latest.groupBy(row_col).agg(
            *[
                F.max(
                    F.when(F.col(column_col) == c, F.col(value_col))
                ).alias(c)
                for c in where_columns
            ]
        )
        surviving = pivoted.filter(where_row).select(row_col)
        return cells.join(surviving, row_col, "left_semi")
    if where_latest is None:
        return cells
    latest = latest_cells(cells, row_col, column_col, value_col, ts_col)
    surviving = latest.filter(where_latest).select(row_col).distinct()
    return cells.join(surviving, row_col, "left_semi")


def when_filter(cells: DataFrame, predicate: Column) -> DataFrame:
    """WHEN clause: drop individual cells whose timestamp fails the
    predicate (rows survive as long as any cell survives). On the
    long layout this is a plain filter on ts — pushed down to the
    scan; with time-partitioned parquet it becomes partition pruning.
    """
    return cells.filter(predicate)


def cell_timestamps(
    cells: DataFrame,
    row_col: str = "row",
    column_col: str = "column",
    ts_col: str = "ts",
) -> DataFrame:
    """earliest_timestamp / latest_timestamp / distinct_timestamps
    per cell (sql/builtin_functions.cc:1070-1120): the timestamp
    metadata view of a superposed cell."""
    return cells.groupBy(row_col, column_col).agg(
        F.min(ts_col).alias("earliest_timestamp"),
        F.max(ts_col).alias("latest_timestamp"),
        F.countDistinct(ts_col).alias("n_distinct_timestamps"),
    )


def restamp(cells: DataFrame, new_ts, ts_col: str = "ts") -> DataFrame:
    """The @ / at() operator (sql/builtin_functions.cc:1154; doc
    TypeSystem.md §Data Point Timestamps): re-stamp values with a new
    timestamp. Metadata-only projection."""
    ts = new_ts if isinstance(new_ts, Column) else F.lit(new_ts).cast("timestamp")
    return cells.withColumn(ts_col, ts)


def events_to_cells(events: DataFrame) -> DataFrame:
    """Bridge: the events table (event_id, ts, user_id, event_type,
    value, props) viewed as sparse temporal cells — row = user,
    column = event_type, value at ts. This is the behavior-dataset
    shape (plugins/behavior/behavior_dataset.cc: subject x behavior
    x timestamp)."""
    return events.select(
        F.col("user_id").cast("string").alias("row"),
        F.col("event_type").alias("column"),
        F.col("value").alias("value"),
        F.col("ts").alias("ts"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    tolerance_seconds: float | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """As-of join (backward): for every left row, attach the LATEST
    right row with the same key and right.ts <= left.ts. The operator
    the reference lacks (SURVEY §2.3 "not present") but every
    event/training pipeline needs — feature values as-of a label
    timestamp without leaking the future.

    Scale shape: tag both sides, UNION, and run one keyed window
    (last non-null over rows preceding) — a single shuffle on
    (key, ts), no range cross-product, no per-row binary search. This
    is the standard distributed as-of pattern; a broadcast-range join
    would explode on dense right sides, and Spark has no native ASOF.

    tolerance_seconds: matches older than the tolerance are dropped
    (their right columns become NULL), mirroring pandas merge_asof.
    """
    from pyspark.sql import Window

    rcols = [c for c in right.columns if c not in (key_col, ts_col)]
    lt = left.withColumn("__is_left", F.lit(1))
    rt = right.select(
        F.col(key_col),
        F.col(ts_col),
        *[F.col(c).alias(f"{c}{suffix}") for c in rcols],
    ).withColumn("__is_left", F.lit(0))
    unioned = lt.unionByName(rt, allowMissingColumns=True)
    # right rows sort before left rows at the same timestamp so an
    # exact-ts match is visible to the left row (ASOF <= semantics)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col).asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned
    for c in rcols:
        filled = filled.withColumn(
            f"{c}{suffix}", F.last(f"{c}{suffix}", ignorenulls=True).over(w)
        )
    filled = filled.withColumn(
        "__match_ts",
        F.last(
            F.when(F.col("__is_left") == 0, F.col(ts_col)), ignorenulls=True
        ).over(w),
    )
    out = filled.filter(F.col("__is_left") == 1).drop("__is_left")
    if tolerance_seconds is not None:
        stale = (
            F.col("__match_ts").isNull()
            | (
                F.col(ts_col).cast("double") - F.col("__match_ts").cast("double")
                > F.lit(float(tolerance_seconds))
            )
        )
        for c in rcols:
            out = out.withColumn(
                f"{c}{suffix}", F.when(stale, F.lit(None)).otherwise(F.col(f"{c}{suffix}"))
            )
        out = out.withColumn(
            "__match_ts", F.when(stale, F.lit(None)).otherwise(F.col("__match_ts"))
        )
    return out.withColumnRenamed("__match_ts", f"{ts_col}{suffix}")


def quantize_timestamps(
    cells: DataFrame,
    quantum_seconds: float = 1.0,
    ts_col: str = "ts",
) -> DataFrame:
    """Timestamp quantization at recording time — the beh store's
    timeQuantumSeconds (MLDB-987; beh datasets default to a 1-second
    quantum): stamps round to the NEAREST multiple of the quantum.
    (The reference floors for quanta >= 60s — its own test flags that
    as the MLDBFB-255 bug; we round uniformly.)

    Pure JVM arithmetic on unix_micros — no shuffle, rides the scan.
    """
    q_us = int(round(quantum_seconds * 1_000_000))
    if q_us <= 0:
        raise ValueError(f"quantum must be positive, got {quantum_seconds}")
    micros = F.unix_micros(F.col(ts_col))
    snapped = (
        F.floor((micros + F.lit(q_us // 2)) / F.lit(q_us)).cast("long")
        * F.lit(q_us)
    )
    return cells.withColumn(ts_col, F.timestamp_micros(snapped))
