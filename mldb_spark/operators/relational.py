"""Relational virtual-dataset operators and batch procedures.

Each function is a DataFrame -> DataFrame transform whose plan stays
declarative so Catalyst can push filters/projections through it.
Reference citations are to /root/reference (semantics only — the
implementations are Spark-native, not translations).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mldb_spark.session import local_frame


def distinct_on(
    df: DataFrame,
    keys: Sequence[str | Column],
    order_by: Sequence[Column],
) -> DataFrame:
    """SELECT DISTINCT ON (keys) ... ORDER BY — first row per key.

    Reference: parser sql/sql_expression.cc:3087-3098, executor
    core/bound_queries.cc:406-640. Spark: row_number over a window.
    Scale note: a window with partitionBy shuffles once on the keys —
    same cost as the groupBy it replaces; skewed keys are handled by
    AQE skew-join/partition splitting.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def melt(
    df: DataFrame,
    id_vars: Sequence[str],
    value_vars: Sequence[str],
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Unpivot: one output row per (row, melted column).

    Reference: melt procedure (builtin/melt_procedure.cc:205, doc
    MeltProcedure.md). Spark: stack()/melt — narrow transform, no
    shuffle; output rows = rows * len(value_vars).
    """
    def ref(c: str):
        # literal dotted names (flattened JSON paths) must not parse
        # as struct access (MLDB-1275 melts friends.0/friends.1)
        return F.col(f"`{c}`").alias(c) if "." in c else c

    return df.melt(
        ids=[ref(c) for c in id_vars],
        values=[ref(c) for c in value_vars],
        variableColumnName=key_col,
        valueColumnName=value_col,
    )


def transpose_cells(cells: DataFrame, row_col: str = "row", column_col: str = "column") -> DataFrame:
    """Transpose on the long cell-triple layout: swap row/column names.

    Reference: transposed dataset (builtin/transposed_dataset.cc:393)
    — rows and columns are symmetric in the 3-D sparse model. On cell
    triples the transpose is a pure column rename: zero data movement,
    which is why the long layout is the scale path for transpose
    (SURVEY §1.3 mapping). Wide-layout transpose = melt + pivot.
    """
    swapped = [
        F.col(row_col).alias(column_col) if c == row_col
        else F.col(column_col).alias(row_col) if c == column_col
        else F.col(c)
        for c in cells.columns
    ]
    return cells.select(*swapped)


def pivot_agg(
    df: DataFrame,
    group_keys: Sequence[str],
    pivot_col: str,
    pivot_values: Sequence[str],
    agg: Column,
) -> DataFrame:
    """GROUP BY keys PIVOT pivot_col — the reference's pivot()
    aggregate (sql/builtin_aggregators.cc:1001) builds one sparse row
    per group keyed by a column-name column.

    Passing explicit pivot_values avoids the extra distinct-values
    job Spark otherwise runs (a full scan — at 100 TB an unbounded
    pivot is a bug, not a feature; SURVEY §7.4 hard-part #4).
    """
    return df.groupBy(*group_keys).pivot(pivot_col, list(pivot_values)).agg(agg)


def atom_dataset(
    df: DataFrame,
    id_cols: Sequence[str],
    atoms: dict[str, Column],
    column_col: str = "column",
    value_col: str = "value",
) -> DataFrame:
    """atom_dataset(expr): one output row per atom of a row value,
    with `column` (the atom's path) and `value` columns.

    Reference: sql/table_expression_operations.h:210-240 (.cc:640-770)
    — the row_dataset/atom_dataset table constructs. Values are cast
    to a common double type (the map form requires it; the reference's
    variant atoms map to typed long layouts when heterogeneous —
    SURVEY §7.4 hard-part #1). Narrow transform, no shuffle.
    """
    m = F.create_map(
        *[x for name, col in atoms.items() for x in (F.lit(name), col.cast("double"))]
    )
    return df.select(
        *[F.col(c) for c in id_cols],
        F.explode(m).alias(column_col, value_col),
    )


def merge_datasets(dfs: Sequence[DataFrame], on: str = "rowName") -> DataFrame:
    """Column-wise merge of N datasets: same rows enriched with the
    union of columns; on column collision the LAST dataset wins.

    Reference: merged dataset (builtin/merged_dataset.cc:714).
    Implemented as a chain of full-outer joins on the row name with
    coalesce(right, left) per shared column. N-1 shuffles on the same
    key — Catalyst reuses the hash partitioning across the chain.
    """
    out = dfs[0]
    for nxt in dfs[1:]:
        shared = [c for c in out.columns if c in nxt.columns and c != on]
        l, r = out.alias("l"), nxt.alias("r")
        joined = l.join(r, F.col(f"l.{on}") == F.col(f"r.{on}"), "full_outer")
        cols = [F.coalesce(F.col(f"l.{on}"), F.col(f"r.{on}")).alias(on)]
        for c in out.columns:
            if c == on:
                continue
            if c in shared:
                cols.append(F.coalesce(F.col(f"r.{c}"), F.col(f"l.{c}")).alias(c))
            else:
                cols.append(F.col(f"l.{c}").alias(c))
        for c in nxt.columns:
            if c != on and c not in shared:
                cols.append(F.col(f"r.{c}").alias(c))
        out = joined.select(*cols)
    return out


def union_datasets(
    dfs: Sequence[DataFrame],
    index_row_names: bool = False,
    row_name_col: str = "rowName",
) -> DataFrame:
    """Row-wise union with open schemas (missing columns -> NULL).

    Reference: union dataset (builtin/union_dataset.cc:39).
    index_row_names=True applies the reference's naming rule: each
    subdataset's row names are prefixed with its 0-based index
    ("0.row1", "1.row1" — union_dataset_test.py), keeping rows from
    different inputs distinct even when their names collide.
    """
    parts = []
    for i, df in enumerate(dfs):
        if index_row_names and row_name_col in df.columns:
            df = df.withColumn(
                row_name_col,
                F.concat(F.lit(f"{i}."), F.col(row_name_col).cast("string")),
            )
        parts.append(df)
    out = parts[0]
    for nxt in parts[1:]:
        out = out.unionByName(nxt, allowMissingColumns=True)
    return out


def global_hash_index(df: DataFrame, key: Column, out_col: str = "__rk") -> DataFrame:
    """0-based dense global rank of every row under the total order
    `key`, WITHOUT a single-partition window (VERDICT r5 #2): the
    zipWithIndex pattern on DataFrames. Range-repartition on the key
    (a parallel distributed sort — every range partition sorts
    independently), persist the sorted layout, count rows per
    partition (one light aggregation over the persisted data, so the
    numbering job sees the exact same partitioning), broadcast the
    cumulative offsets as a map literal, and number rows inside each
    partition with a window partitioned BY partition id — no stage
    funnels through one reducer. Ties in `key` order arbitrarily; use
    a collision-resistant hash (xxhash64 over the full row) for
    deterministic output.

    The persist is tracked (caching.release_cached) and is
    load-bearing: without it the count job and the numbering job
    could re-sample range boundaries differently."""
    from mldb_spark.caching import persist_tracked

    d = df.withColumn("__gik", key)
    d = d.repartitionByRange(F.col("__gik")).sortWithinPartitions("__gik")
    d = persist_tracked(d.withColumn("__gip", F.spark_partition_id()))
    counts = {
        r["__gip"]: r["cnt"]
        for r in d.groupBy("__gip").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: list[Column] = []
    acc = 0
    for pid in sorted(counts):
        offsets.extend([F.lit(pid), F.lit(acc)])
        acc += counts[pid]
    off = (
        F.coalesce(
            F.create_map(*offsets)[F.col("__gip")].cast("long"), F.lit(0)
        )
        if offsets
        else F.lit(0)
    )
    w = Window.partitionBy("__gip").orderBy("__gik")
    d = d.withColumn(
        out_col, F.row_number().over(w).cast("long") - 1 + off
    )
    return d.drop("__gik", "__gip")


def sample_dataset(
    df: DataFrame,
    fraction: float | None = None,
    rows: int | None = None,
    with_replacement: bool = False,
    seed: int = 0,
) -> DataFrame:
    """Row sampling (builtin/sampled_dataset.cc:366; FromExpression.md
    §Sample). fraction -> df.sample (per-partition Bernoulli, no
    shuffle); rows -> deterministic hash-ordered top-k, mirroring the
    reference's rowHash() ordering trick
    (core/bound_queries.cc:642-1100) so results are stable across
    partitionings and engines.
    """
    if fraction is not None:
        return df.sample(withReplacement=with_replacement, fraction=fraction, seed=seed)
    n = int(rows or 0)
    if with_replacement:
        # with replacement the reference returns EXACTLY n rows (it
        # draws n times; n > |dataset| is allowed).  A Poisson
        # overshoot + limit(n) can land short for small n, so instead
        # draw n ranks deterministically — rank_i = hash(i, seed) mod
        # total — and join the tiny draws table (broadcast) against a
        # rank-indexed view of the data.  Duplicate ranks join to
        # duplicate output rows, which is exactly replacement
        # semantics.  Ranks come from global_hash_index (parallel
        # range sort + per-partition numbering — VERDICT r5 #2), never
        # a single-partition window.
        total = df.count()
        if total == 0 or n == 0:
            return df.limit(0)
        key = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
        indexed = global_hash_index(df, key, "__samp_idx")
        spark = df.sparkSession
        draws = spark.range(n).select(
            F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(total))
            .cast("long")
            .alias("__samp_idx")
        )
        return indexed.join(F.broadcast(draws), "__samp_idx").drop("__samp_idx")
    # without replacement the reference rejects oversampling
    # (MLDB-1242: "more rows requested than available")
    total = df.count()
    if n > total:
        raise ValueError(
            f"sample: {n} rows requested without replacement but the "
            f"dataset has only {total}"
        )
    key = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
    return df.orderBy(key).limit(n)


def bucketize(
    df: DataFrame,
    order_by: Sequence[Column],
    num_buckets: int,
    output_col: str = "bucket",
) -> DataFrame:
    """Percentile buckets under a total order.

    Reference: bucketize procedure
    (plugins/feature_gen/bucketize_procedure.cc:255). Spark: ntile
    over a global window. NOTE the global (un-partitioned) window is a
    single-reducer sort — fine for ranked outputs that are small; for
    100 TB inputs use `bucketize_approx` which assigns buckets from
    approx quantile cut points with no global sort.
    """
    w = Window.orderBy(*order_by)
    return df.withColumn(output_col, F.ntile(num_buckets).over(w))


def bucketize_approx(
    df: DataFrame,
    value_col: str,
    num_buckets: int,
    output_col: str = "bucket",
    relative_error: float = 0.001,
    cuts: Sequence[float] | None = None,
) -> DataFrame:
    """Scale path for bucketize: cut points + a map-side range lookup
    — no global sort, no single reducer. cuts=None computes them with
    approxQuantile (one lightweight aggregation); passing explicit
    cuts (len num_buckets-1, ascending) makes the assignment a pure
    column expression any engine can replay. Buckets are 1-based:
    bucket k ⇔ value <= cuts[k-1] (first match), else num_buckets."""
    if cuts is None:
        qs = [i / num_buckets for i in range(1, num_buckets)]
        cuts = df.approxQuantile(value_col, qs, relative_error)
    expr = F.lit(num_buckets)
    for i, cut in enumerate(reversed(list(cuts))):
        expr = F.when(F.col(value_col) <= cut, F.lit(num_buckets - 1 - i)).otherwise(expr)
    return df.withColumn(output_col, expr)


def ranking(
    df: DataFrame,
    order_by: Sequence[Column],
    rank_type: str = "index",
    output_col: str = "rank",
    partition_by: Sequence[str] = (),
    zero_based: bool = False,
) -> DataFrame:
    """Rank rows under ORDER BY (builtin/ranking_procedure.cc:199).

    rank_type: 'index' -> row_number, 'percentile' -> percent_rank.
    The reference's index ranks are 0-BASED (ranking_test.py: the
    first row gets rank 0) — pass zero_based=True for that parity;
    the default stays 1-based for SQL-conventional consumers (q17).
    Partitioned windows shuffle-by-key; a global window is a single
    sort — acceptable for top-k-ish outputs, otherwise pre-aggregate.
    """
    w = (
        Window.partitionBy(*partition_by).orderBy(*order_by)
        if partition_by
        else Window.orderBy(*order_by)
    )
    fn = F.row_number() if rank_type == "index" else F.percent_rank()
    rank = fn.over(w)
    if zero_based and rank_type == "index":
        rank = rank - F.lit(1)
    return df.withColumn(output_col, rank)


def column_stats(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    need_counts: bool = True,
    need_distinct: bool = True,
) -> DataFrame:
    """Per-column statistics as a DataFrame with one row per column:
    (columnName, dtype, rowCount, n_nonnull, n_distinct_approx).

    This is phase 1 of COLUMN EXPR (reference SelectColumnExpression,
    sql/sql_expression_operations.h:560-601; doc SelectExpression.md:
    44-128): columns become a queryable table. One wide aggregate job
    regardless of column count — and NO data job at all when the
    caller's clause expressions reference only name/type metadata
    (optimization r9: a name-only COLUMN EXPR over a fact table was
    paying one approx_count_distinct sketch PER COLUMN over the whole
    scan — q69 burned ~16 HLL sketches over lineitem to pick two
    columns by name). need_counts covers rowCount/n_nonnull,
    need_distinct covers n_distinct_approx; unneeded stats surface as
    NULL, so a clause that does reference them without requesting
    them fails loudly rather than silently using stale numbers."""
    cols = list(columns or df.columns)
    row = None
    if need_counts or need_distinct:
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for i, c in enumerate(cols):
            # backtick-quote: flattened frames carry literal dotted names
            if need_counts:
                aggs.append(F.count(F.col(f"`{c}`")).alias(f"__n{i}"))
            if need_distinct:
                aggs.append(
                    F.approx_count_distinct(F.col(f"`{c}`")).alias(f"__d{i}")
                )
        row = df.agg(*aggs).collect()[0]
    dtypes = dict(df.dtypes)
    data = [
        (
            c,
            dtypes[c],
            row["__rows"] if row is not None else None,
            row[f"__n{i}"] if need_counts else None,
            row[f"__d{i}"] if need_distinct else None,
        )
        for i, c in enumerate(cols)
    ]
    return local_frame(
        df.sparkSession, data,
        "columnName string, dtype string, rowCount long, n_nonnull long, n_distinct_approx long",
    )


def column_expr(
    df: DataFrame,
    where=None,
    order_by=None,
    limit: int | None = None,
    offset: int = 0,
) -> DataFrame:
    """COLUMN EXPR: programmatic column selection. `where`/`order_by`
    are Column expressions over the column_stats schema (columnName,
    dtype, rowCount, n_nonnull, n_distinct_approx).

    Two-phase plan (SURVEY §4 custom piece #2): a stats query picks
    the columns driver-side (the column list is metadata — small by
    construction), then a plain projection runs on the data. The data
    pass is a single pruned scan; with 10^6 columns you would keep
    the long cell-triple layout instead (SURVEY §7.4 hard-part #4).

    Example — keep the 100 densest non-id columns:
        column_expr(df, where=F.col("n_nonnull") > 0,
                    order_by=F.desc("n_nonnull"), limit=100)
    """
    # need-based stats (optimization r9, mirroring the dialect path's
    # _column_expr_stat_needs): scan the clause expressions' rendered
    # form for references to the data-derived stat columns — a
    # name/type-only selection then runs ZERO data jobs. Substring
    # matching can only over-request (attribute names appear verbatim
    # in the rendered expression), never under-request.
    clauses: list = []
    for cl in (where, order_by):
        if cl is None:
            continue
        clauses.extend(cl if isinstance(cl, (list, tuple)) else [cl])
    # lowercase both sides: Spark resolves attribute names
    # case-insensitively, so F.col("N_DISTINCT_APPROX") executes fine
    # yet a case-sensitive sniff would miss it and leave the stat NULL
    # (ADVICE r9) — an ORDER BY-only clause would then sort all-NULLs
    rendered = " ".join(str(getattr(c, "_jc", c)) for c in clauses).lower()
    stats = column_stats(
        df,
        need_counts=("rowcount" in rendered) or ("n_nonnull" in rendered),
        need_distinct="n_distinct_approx" in rendered,
    )
    if where is not None:
        stats = stats.filter(where)
    if order_by is not None:
        stats = stats.orderBy(order_by, "columnName")
    else:
        stats = stats.orderBy("columnName")
    picked = [r["columnName"] for r in stats.collect()]
    picked = picked[offset : (offset + limit) if limit is not None else None]
    if not picked:
        raise ValueError("COLUMN EXPR selected no columns")
    return df.select(*picked)


def summary_statistics(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    top_k: int = 10,
) -> DataFrame:
    """Per-column stats dataset: one row per column with the
    reference's summary.statistics field set
    (builtin/summary_statistics_proc.cc:516;
    summary_stats_proc_test.py): data_type (number/categorical),
    num_null, EXACT num_unique, min/max/avg/stddev (sample — NaN for
    a single value, like the reference), discrete quartiles
    (percentile_disc, so [1,1,10] gives 1/1/10), and the top-k
    most_frequent_items with their counts.

    Two jobs, both scale-shaped: (a) one wide single-pass agg for the
    numeric stats (map-side partial; percentile_disc is a sort-based
    exact aggregate per column); (b) ONE stacked (column, value)
    shuffle shared by the exact distinct counts and the frequency
    top-k — never an Expand node (multiple countDistincts in a wide
    agg multiply the scan: the r2 bench regression), never one job
    per column. Final assembly is columns-sized, driver-side.
    """
    cols = list(columns or df.columns)
    dts = dict(df.dtypes)
    num_types = ("tinyint", "smallint", "int", "bigint", "float", "double")
    is_num = {
        c: dts[c] in num_types or dts[c].startswith("decimal") for c in cols
    }

    def q(c: str) -> str:
        return f"`{c}`"

    aggs: list[Column] = [F.count(F.lit(1)).alias("__total")]
    for c in cols:
        col = F.col(q(c))
        aggs.append(F.count(col).alias(f"{c}__count"))
        if is_num[c]:
            aggs += [
                F.avg(col).alias(f"{c}__avg"),
                F.stddev_samp(col).alias(f"{c}__std"),
                F.min(col).cast("double").alias(f"{c}__min"),
                F.max(col).cast("double").alias(f"{c}__max"),
                F.expr(
                    f"percentile_disc(0.25) WITHIN GROUP (ORDER BY {q(c)})"
                ).cast("double").alias(f"{c}__q1"),
                F.expr(
                    f"percentile_disc(0.5) WITHIN GROUP (ORDER BY {q(c)})"
                ).cast("double").alias(f"{c}__med"),
                F.expr(
                    f"percentile_disc(0.75) WITHIN GROUP (ORDER BY {q(c)})"
                ).cast("double").alias(f"{c}__q3"),
            ]
    row = df.agg(*aggs).collect()[0].asDict()
    total = row["__total"]

    stacked = df.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(q(c)).cast("string").alias("value"),
                )
                for c in cols
            ])
        ).alias("s")
    ).select("s.column", "s.value").filter(F.col("value").isNotNull())
    # persist: per_val feeds BOTH the exact distinct-count collect and
    # the frequency top-k window — the docstring's "ONE stacked
    # (column, value) shuffle shared" only holds with this barrier
    # (un-persisted, the explode + shuffle re-ran per consumer)
    from mldb_spark.caching import persist_tracked

    per_val = persist_tracked(
        stacked.groupBy("column", "value").agg(F.count(F.lit(1)).alias("n"))
    )
    uniq = {
        r["column"]: r["u"]
        for r in per_val.groupBy("column")
        .agg(F.count(F.lit(1)).alias("u"))
        .collect()
    }
    w = Window.partitionBy("column").orderBy(F.desc("n"), F.asc("value"))
    top = (
        per_val.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= top_k)
        .collect()
    )
    freq: dict[str, dict[str, int]] = {}
    for r in top:
        freq.setdefault(r["column"], {})[r["value"]] = r["n"]

    nan = float("nan")
    out = []
    for c in cols:
        cnt = row[f"{c}__count"]
        if is_num[c]:
            std = row[f"{c}__std"]
            out.append((
                c, "number", total - cnt, uniq.get(c, 0),
                row[f"{c}__min"], row[f"{c}__max"], row[f"{c}__avg"],
                nan if (cnt >= 1 and std is None) else std,
                row[f"{c}__q1"], row[f"{c}__med"], row[f"{c}__q3"],
                freq.get(c, {}),
            ))
        else:
            out.append((
                c, "categorical", total - cnt, uniq.get(c, 0),
                None, None, None, None, None, None, None,
                freq.get(c, {}),
            ))
    return local_frame(
        df.sparkSession, out,
        "column string, data_type string, num_null bigint, "
        "num_unique bigint, min double, max double, avg double, "
        "stddev double, q1 double, median double, q3 double, "
        "most_frequent_items map<string,bigint>",
    )


def stats_table(
    df: DataFrame,
    seq_cols: Sequence[Column],
    key_cols: Sequence[str],
    outcome_col: Column,
    prefix: str = "st",
) -> DataFrame:
    """Rolling conditional outcome counts per key — CTR-style features.

    Reference: statsTable.train
    (plugins/feature_gen/stats_table_procedure.cc:1001): for each row,
    the count of prior rows with the same key and the count of those
    with a positive outcome (strictly before the current row in
    sequence order, so features are leak-free).

    Spark: cumulative window sums, one shuffle on the key columns.
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*seq_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return df.withColumn(f"{prefix}_count", F.count(F.lit(1)).over(w)).withColumn(
        f"{prefix}_outcomes",
        F.coalesce(F.sum(outcome_col.cast("long")).over(w), F.lit(0)),
    )


def stats_table_totals(
    df: DataFrame,
    key_cols: Sequence[str],
    outcome_col: Column,
    prefix: str = "st",
) -> DataFrame:
    """statsTable.train's persisted table: TOTAL counts and positive-
    outcome counts per key (stats_table_procedure.cc:986) — the table
    the named statsTable.getCounts function reads at apply time
    (unlike stats_table's leak-free rolling counts for training rows).
    """
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias(f"{prefix}_count"),
        F.sum(outcome_col.cast("long")).alias(f"{prefix}_outcomes"),
    )


def stats_table_get_counts(
    totals: DataFrame,
    key_cols: Sequence[str],
    name: str = "statsTable.getCounts",
    prefix: str = "st",
    registry=None,
):
    """Named statsTable.getCounts function form
    (stats_table_procedure.cc:1013): joins the trained totals onto any
    rowset by the key columns; unseen keys get zero counts. The totals
    table is key-cardinality-sized → broadcast join, no shuffle of the
    applied rowset."""
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    reg = registry if registry is not None else GLOBAL_REGISTRY

    def get_counts(d: DataFrame) -> DataFrame:
        out = d.join(F.broadcast(totals), list(key_cols), "left")
        return out.fillna(0, subset=[f"{prefix}_count", f"{prefix}_outcomes"])

    reg.register(name, get_counts)
    return get_counts


def stats_table_bag_of_words(
    docs: DataFrame,
    text_col: Column,
    outcome_col: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """statsTable.bagOfWords.train
    (plugins/feature_gen/stats_table_procedure.cc:992-1007): per-WORD
    outcome counts over a tokenized corpus — the text-CTR feature
    tool. A word counts once per document (bag semantics); outcome is
    a boolean column expression. Output: (word, n_docs, n_pos) — the
    table statsTable.bagOfWords.posneg features read from.

    Plan: explode distinct tokens (one shuffle on the doc id is
    avoided entirely — explode is map-side), then one hash groupBy on
    the word. Linear, codegen'd, 100 TB-shaped."""
    from mldb_spark.functions.text import tokenize

    toks = docs.select(
        F.explode(F.array_distinct(tokenize(text_col))).alias("word"),
        outcome_col.cast("long").alias("__pos"),
    )
    return toks.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__pos").alias("n_pos"),
    )


def bow_posneg(
    stats: DataFrame,
    num_words: int = 20,
    min_docs: int = 5,
    laplace: float = 1.0,
) -> DataFrame:
    """statsTable.bagOfWords.posneg function
    (stats_table_procedure.cc:1013): the num_words most
    positive-predictive words with Laplace-smoothed P(pos|word),
    filtered to words seen in >= min_docs documents."""
    p = (F.col("n_pos") + F.lit(laplace)) / (F.col("n_docs") + F.lit(2.0 * laplace))
    return (
        stats.filter(F.col("n_docs") >= min_docs)
        .select("word", "n_docs", "n_pos", F.round(p, 6).alias("p_pos"))
        .orderBy(F.desc("p_pos"), F.desc("n_docs"), "word")
        .limit(num_words)
    )


def dist_table(
    df: DataFrame,
    seq_cols: Sequence[Column],
    key_cols: Sequence[str],
    value_col: Column,
    prefix: str = "dt",
) -> DataFrame:
    """Per-key running distribution stats of a numeric outcome
    (count/avg/min/max of strictly-prior rows).

    Reference: experimental.distTable.train
    (plugins/feature_gen/dist_table_procedure.cc:842).
    """
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(*seq_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn(f"{prefix}_count", F.count(value_col).over(w))
        .withColumn(f"{prefix}_avg", F.avg(value_col).over(w))
        .withColumn(f"{prefix}_min", F.min(value_col).over(w))
        .withColumn(f"{prefix}_max", F.max(value_col).over(w))
    )


def stratified_split(
    df: DataFrame,
    weights: Sequence[float],
    label_col: str | None = None,
    seed: int = 0,
) -> list[DataFrame]:
    """Deterministic EXACT-proportion split, optionally stratified by
    a label column — the reference's split procedure semantics
    (builtin/datasetsplit_procedure.cc:302; MLDB-2180): split sizes
    are exact (largest-remainder over the cumulative fractions, not
    Bernoulli like randomSplit), every label lands in every split
    whenever it has >= n_splits rows (the 'spread' rule — the
    boundary for split i is clamped to [i+1, n-(k-1-i)]), splits are
    disjoint and exhaustive, and the assignment is a pure function of
    (row content, seed) so re-runs and engines agree.

    Within each label, rows are ranked by a content hash and the
    rank-range [b_{i-1}, b_i) goes to split i with
    b_i = clamp(round(cum_i * n), i+1, n-(k-1-i)). On MLDB-2180's
    fixtures this reproduces the reference's exact per-label counts
    (16/4 with 13x+3y / 3x+1y, 8/2 per label, one-per-split spread).

    Scale: stratified splits parallelize across labels (one window
    per label partition). The UNstratified exact path ranks via
    global_hash_index (parallel range sort + per-partition
    numbering) — no single-reducer stage; it still costs one count
    + one range shuffle, so Bernoulli df.randomSplit remains the
    cheapest TB-scale path when exactness isn't required.
    """
    k = len(weights)
    total = float(sum(weights))
    fracs = [w / total for w in weights]
    key = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
    if label_col:
        part = Window.partitionBy(label_col)
        d = df.withColumn(
            "__rk", F.row_number().over(part.orderBy(key)).cast("long") - 1
        ).withColumn("__n", F.count(F.lit(1)).over(part).cast("long"))
    else:
        # unstratified exact split: rank through the parallel
        # zipWithIndex pattern instead of a one-partition global
        # window (VERDICT r5 #2 / ADVICE r5 api.split note)
        n_rows = df.count()
        d = global_hash_index(df, key, "__rk").withColumn(
            "__n", F.lit(int(n_rows)).cast("long")
        )
    n = F.col("__n")
    assign = F.lit(k - 1)
    cum = 0.0
    bounds = []
    for i in range(k - 1):
        cum += fracs[i]
        b = F.least(
            F.greatest(F.round(F.lit(cum) * n).cast("long"), F.lit(i + 1)),
            n - F.lit(k - 1 - i),
        )
        bounds.append(b)
    for i in reversed(range(k - 1)):
        assign = F.when(F.col("__rk") < bounds[i], F.lit(i)).otherwise(assign)
    d = d.withColumn("__split", assign)
    return [
        d.filter(F.col("__split") == i).drop("__rk", "__n", "__split")
        for i in range(k)
    ]


def stats_table_multi(
    df: DataFrame,
    seq_cols: Sequence[Column],
    key_cols: Sequence[str],
    outcomes: "dict[str, Column]",
) -> DataFrame:
    """statsTable.train with the reference's full output shape
    (plugins/feature_gen/stats_table_procedure.cc:1001;
    MLDB-873_stats_table_test.py): for EACH key column independently
    (not the key tuple), each row gains `trial.<key>` = number of
    STRICTLY PRIOR rows sharing that key value, and
    `<outcome>.<key>` = how many of those satisfied each named
    outcome — leak-free CTR-style features over multiple outcomes.

    One cumulative window per key column (shuffle on that key);
    outcomes share the window, so the shuffle count is
    len(key_cols), independent of the outcome count.
    """
    out = df
    for k in key_cols:
        w = (
            Window.partitionBy(k)
            .orderBy(*seq_cols)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        out = out.withColumn(f"trial.{k}", F.count(F.lit(1)).over(w))
        for name, cond in outcomes.items():
            out = out.withColumn(
                f"{name}.{k}",
                F.coalesce(
                    F.sum(cond.cast("long")).over(w), F.lit(0)
                ),
            )
    return out


_DIST_TABLE_STATS = ("count", "avg", "std", "min", "max")


def dist_table_multi(
    df: DataFrame,
    seq_cols: Sequence[Column],
    key_cols: Sequence[str],
    outcomes: "dict[str, Column]",
    statistics: Sequence[str] = _DIST_TABLE_STATS,
) -> DataFrame:
    """experimental.distTable.train with the reference's full output
    shape (plugins/feature_gen/dist_table_procedure.cc:842;
    MLDB-1750-dist-tables.py): for EACH key column and EACH named
    outcome, every row gains `<outcome>.<key>.<stat>` — the
    count/avg/std/min/max of the outcome over STRICTLY PRIOR rows
    sharing that key value. std is the sample stddev (NaN below 2
    observations); undefined stats are NaN, never NULL; a NULL key
    contributes and receives nothing (count 0). Unknown statistic
    names raise, as the reference does.

    One cumulative window per key column (shuffle on that key),
    shared across outcomes and statistics.
    """
    bad = [s for s in statistics if s not in _DIST_TABLE_STATS]
    if bad:
        raise ValueError(f"Unknown distribution table statistic: {bad}")
    nan = F.lit(float("nan"))
    out = df
    for k in key_cols:
        w = (
            Window.partitionBy(k)
            .orderBy(*seq_cols)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        knull = F.col(k).isNull()
        for name, val in outcomes.items():
            fns = {
                "count": F.count(val).over(w),
                "avg": F.avg(val).over(w),
                "std": F.stddev_samp(val).over(w),
                "min": F.min(val).over(w),
                "max": F.max(val).over(w),
            }
            for s in statistics:
                if s == "count":
                    col = F.when(knull, F.lit(0)).otherwise(fns[s]).cast("long")
                else:
                    col = F.when(knull, nan).otherwise(
                        F.coalesce(fns[s].cast("double"), nan)
                    )
                out = out.withColumn(f"{name}.{k}.{s}", col)
    return out


def dist_table_totals(
    df: DataFrame,
    key_cols: Sequence[str],
    outcomes: "dict[str, Column]",
) -> DataFrame:
    """The trained dist table itself: final per-(key column, value)
    outcome stats, long form (key, value, then
    `<outcome>.<stat>` columns) — what distTableFileUrl persists and
    distTable.getStats serves. One groupBy per key column (the
    distinct-value tables are model-sized)."""
    parts = []
    for k in key_cols:
        aggs = []
        for name, val in outcomes.items():
            aggs += [
                F.count(val).cast("long").alias(f"{name}.count"),
                F.avg(val).cast("double").alias(f"{name}.avg"),
                F.stddev_samp(val).cast("double").alias(f"{name}.std"),
                F.min(val).cast("double").alias(f"{name}.min"),
                F.max(val).cast("double").alias(f"{name}.max"),
            ]
        parts.append(
            df.filter(F.col(k).isNotNull())
            .groupBy(F.col(k).cast("string").alias("value"))
            .agg(*aggs)
            .select(F.lit(k).alias("key"), "*")
        )
    return union_datasets(parts)


def dist_table_get_stats(
    totals: DataFrame,
    outcomes: Sequence[str],
    statistics: Sequence[str] = _DIST_TABLE_STATS,
):
    """experimental.distTable.getStats function entity
    (dist_table_procedure.cc; MLDB-1750): fn({key: value, ...}) ->
    {'stats.<outcome>.<key>.<stat>': v}. Unknown values give count 0
    and NaN stats, exactly like the reference. The totals table is
    collected once at build time (model-sized lookup)."""
    rows = totals.collect()
    lut = {(r["key"], r["value"]): r for r in rows}
    nan = float("nan")

    def fn(features: "dict[str, object]") -> "dict[str, object]":
        out: dict[str, object] = {}
        for k, v in features.items():
            hit = lut.get((k, str(v)))
            for name in outcomes:
                for s in statistics:
                    key = f"stats.{name}.{k}.{s}"
                    if hit is None:
                        out[key] = 0 if s == "count" else nan
                    else:
                        val = hit[f"{name}.{s}"]
                        if s == "count":
                            out[key] = val
                        else:
                            out[key] = nan if val is None else val
        return out

    return fn


def bucketize_named(
    df: DataFrame,
    order_by: Column,
    buckets: "dict[str, tuple[float, float]]",
    output_col: str = "bucket",
) -> DataFrame:
    """bucketize with the reference's percentileBuckets form
    (plugins/feature_gen/bucketize_procedure.cc; MLDB-1043):
    `{b1: [0, 50], b2: [50, 100]}` names each percentile range and
    rows land in the bucket covering their rank percentile under the
    given total order. Ranking rides global_hash_index (parallel
    range sort + per-partition numbering — no single-reducer stage);
    rows outside every range get NULL."""
    n = df.count()
    if n == 0:
        return df.withColumn(output_col, F.lit(None).cast("string"))
    d = global_hash_index(df, order_by, "__bk_rk")
    pct = F.col("__bk_rk").cast("double") * F.lit(100.0 / n)
    expr = F.lit(None).cast("string")
    for name, (lo, hi) in reversed(list(buckets.items())):
        expr = F.when((pct >= lo) & (pct < hi), F.lit(name)).otherwise(expr)
    return d.withColumn(output_col, expr).drop("__bk_rk")
