"""The oracle-checked query workload: one entry per implemented
operator family from SURVEY.md §2, each with a DuckDB-replayable SQL
oracle (see ORACLES at the bottom).

Contract (driver): every query callable takes (spark, sf_dir) and
returns a DataFrame; the oracle SQL runs on the same parquet files in
DuckDB; row count + schema + order-insensitive value hash must match.
Column names are aliased identically on both sides.

Float-parity rules used throughout (so value hashes match between
engines):
- money columns in testdata carry exactly 2 decimals ⇒ their sums
  carry ≤2 (products of two such, ≤4) ⇒ rounding at ≥ the intrinsic
  decimal count is exact and engine-independent;
- averages/cosines are rounded at 4-6 digits where the distance to a
  rounding boundary (~10^-d) dwarfs cross-engine accumulation-order
  error (~1e-9 relative);
- hashes are md5 (portable), never xxhash64, wherever an oracle
  replays them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mldb_spark.catalog import load
from mldb_spark.functions.text import (
    STOPWORDS,
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
    tokenize,
)
from mldb_spark.functions.vector import cosine_similarity, dot_product, l2_norm
from mldb_spark.operators.relational import (
    distinct_on,
    melt,
    pivot_agg,
    ranking,
    stats_table,
)
from mldb_spark.operators.temporal import events_to_cells, latest_cells, when_filter
from mldb_spark.session import local_frame

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def round_avg(col, d: int = 4):
    """Round an average with a +1e-9 boundary nudge, mirrored in the
    oracle SQL. An avg of 2-decimal money over a power-of-two count
    can land EXACTLY on a rounding boundary (e.g. 563.81/8 =
    70.47625), where cross-engine ulp differences flip the rounded
    digit; the nudge (≫ accumulation error ~1e-13, ≪ any intrinsic
    value spacing) makes both engines round the same way."""
    return F.round(col + F.lit(1e-9), d)


# ---------------------------------------------------------------------------
# Core relational (SURVEY §2.2-2.4, §2.6)
# ---------------------------------------------------------------------------


def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy groupBy with partial aggregation.

    Covers: WHERE pushdown, hash aggregate (reference GROUP BY
    executor, core/bound_queries.cc:1723-1830), multi-aggregate.
    """
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_shipdate") < "1998-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("sum_disc_price"),
            round_avg(F.avg("l_quantity"), 4).alias("avg_qty"),
            round_avg(F.avg("l_extendedprice"), 4).alias("avg_price"),
            round_avg(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q02_top_revenue_parts(spark: SparkSession, sf: str) -> DataFrame:
    """Fact-dim join: part is broadcast (it stays dimension-sized at
    any sf), so the 100 TB plan is a broadcast hash join with zero
    shuffle of lineitem. Reference equijoin:
    builtin/joined_dataset.cc:460-620."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part")
    return (
        li.filter(F.col("l_shipdate") < "1998-01-01")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "p_type")
        .limit(10)
    )


def q03_segment_order_stats(spark: SparkSession, sf: str) -> DataFrame:
    """customer⋈orders per-segment stats; count_distinct aggregate
    (sql/builtin_aggregators.cc:857)."""
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.round(F.sum("o_totalprice"), 2).alias("total_revenue"),
            round_avg(F.avg("o_totalprice"), 4).alias("avg_order_value"),
        )
        .orderBy("c_mktsegment")
    )


def q04_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """Date-range filter + groupBy (predicate pushdown to parquet)."""
    orders = load(spark, sf, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q05_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """5-way star join: region⋈nation⋈customer⋈orders⋈lineitem.

    The three dimension tables broadcast; the orders⋈lineitem spine is
    the only shuffle. Reference multi-way left-deep joins:
    sql/table_expression_operations.h:79-110."""
    region = F.broadcast(load(spark, sf, "region"))
    nation = F.broadcast(load(spark, sf, "nation"))
    cust = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .orderBy("r_name")
    )


def q06_latest_order_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """DISTINCT ON (reference parser sql/sql_expression.cc:3087-3098):
    first row per key under an order — via mldb_spark.distinct_on."""
    orders = load(spark, sf, "orders")
    latest = distinct_on(
        orders,
        keys=["o_custkey"],
        order_by=[F.desc("o_orderdate"), F.desc("o_orderkey")],
    )
    return latest.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice").orderBy(
        "o_custkey"
    )


def q07_events_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """pivot() aggregate (sql/builtin_aggregators.cc:1001): one column
    per event type. Explicit pivot values → single-pass plan."""
    ev = load(spark, sf, "events")
    out = pivot_agg(
        ev,
        group_keys=["user_id"],
        pivot_col="event_type",
        pivot_values=EVENT_TYPES,
        agg=F.round(F.sum("value"), 2),
    )
    # absent (user, type) cells -> 0.0 rather than NULL doubles:
    # nullable floats round-trip as NaN through pandas/Arrow, which
    # breaks NULL-vs-NaN parity in hash comparisons
    return out.na.fill(0.0, list(EVENT_TYPES)).orderBy("user_id")


def q08_melt_part(spark: SparkSession, sf: str) -> DataFrame:
    """melt procedure (builtin/melt_procedure.cc:205): unpivot part
    numeric attributes into (key, value) rows."""
    part = load(spark, sf, "part")
    wide = part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        F.col("p_retailprice").cast("double").alias("p_retailprice"),
    )
    return melt(
        wide, id_vars=["p_partkey"], value_vars=["p_size", "p_retailprice"]
    ).orderBy("p_partkey", "key")


def q09_horizontal_agg(spark: SparkSession, sf: str) -> DataFrame:
    """horizontal_sum/min/max/count across columns of each row
    (sql/builtin_functions.cc:2021-2245), on a deterministic hash-mod
    sample of lineitem (the reference's rowHash()%k sampling pattern,
    core/dataset.cc:1791-1816)."""
    li = load(spark, sf, "lineitem")
    cols = [F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")]
    arr = F.array(*cols)
    return (
        li.filter(F.col("l_orderkey") % 97 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.greatest(*cols).alias("h_max"),
            F.least(*cols).alias("h_min"),
            F.round(
                F.aggregate(arr, F.lit(0.0), lambda a, x: a + x), 2
            ).alias("h_sum"),
            F.size(F.filter(arr, lambda x: x.isNotNull())).cast("long").alias("h_count"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


def q10_string_agg(spark: SparkSession, sf: str) -> DataFrame:
    """string_agg with sort field (sql/builtin_aggregators.cc:691):
    per-nation sorted customer-name list."""
    cust = load(spark, sf, "customer")
    nation = F.broadcast(load(spark, sf, "nation"))
    return (
        cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("c_name"))).alias("customers"),
            F.count(F.lit(1)).alias("n_customers"),
        )
        .orderBy("n_name")
    )


def q11_distinct_counts(spark: SparkSession, sf: str) -> DataFrame:
    """count_distinct over multiple columns per group."""
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .orderBy("l_returnflag")
    )


def q12_null_logic(spark: SparkSession, sf: str) -> DataFrame:
    """3-valued logic / CASE / NULLIF / COALESCE semantics
    (reference TypeSystem.md:10-16; IsTypeExpression §2.10)."""
    orders = load(spark, sf, "orders")
    status_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (
        orders.select(
            F.col("o_orderkey"),
            status_null.alias("status_or_null"),
            F.coalesce(status_null, F.lit("OPEN")).alias("status_coalesced"),
            F.when(F.col("o_totalprice") > 200000, "big")
            .when(F.col("o_totalprice") > 100000, "mid")
            .otherwise("small")
            .alias("size_class"),
            (status_null.isNull()).cast("int").alias("is_open"),
        )
        .groupBy("status_or_null", "status_coalesced", "size_class")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("is_open").alias("n_open"),
            F.count("status_or_null").alias("n_nonnull"),
        )
        .orderBy("size_class", "status_coalesced")
    )


def q13_hash_mod_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic sampling via key-mod filter — the reference's
    rowHash() % k <op> m index-free sampling
    (core/dataset.cc:1791-1816). Engine-portable (pure arithmetic)."""
    li = load(spark, sf, "lineitem")
    return (
        li.filter(F.col("l_orderkey") % 7 == 0)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("sampled_revenue"),
        )
        .orderBy("l_linestatus")
    )


def q14_union_datasets(spark: SparkSession, sf: str) -> DataFrame:
    """Row-wise union with open schema (union dataset,
    builtin/union_dataset.cc:39): two differently-shaped projections
    of customer unioned by name; missing columns → NULL."""
    cust = load(spark, sf, "customer")
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    b = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        "c_custkey", "c_mktsegment", F.col("c_name").alias("c_name")
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return (
        u.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("c_acctbal").alias("n_with_balance"),
            F.count("c_name").alias("n_with_name"),
        )
        .orderBy("c_mktsegment")
    )


def q15_in_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """IN (SELECT …) membership → left-semi join (reference
    InExpression, sql/sql_expression_operations.h:285-330)."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part")
    big_parts = part.filter(F.col("p_size") > 40).select("p_partkey")
    return (
        li.join(F.broadcast(big_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Window-backed procedures (SURVEY §2.5, §2.13)
# ---------------------------------------------------------------------------


# fixed decile-ish boundaries over c_acctbal's [-999.99, 9999.99]
# domain — literal so the DuckDB oracle replays the same CASE ladder
Q16_CUTS = [100.0, 1200.0, 2300.0, 3400.0, 4500.0, 5600.0, 6700.0, 7800.0, 8900.0]


def q16_bucketize(spark: SparkSession, sf: str) -> DataFrame:
    """bucketize procedure (plugins/feature_gen/bucketize_procedure.cc:255)
    on the SCALE path: fixed cut points + map-side range lookup
    (operators.relational.bucketize_approx) — a pure column
    expression, no global ntile window serializing the fact table
    through one reducer. The cuts are literals so the SQL oracle
    replays the identical CASE ladder; at 100 TB they'd come from one
    approxQuantile pass instead (same downstream plan)."""
    from mldb_spark.operators.relational import bucketize_approx

    cust = load(spark, sf, "customer")
    bucketed = bucketize_approx(
        cust, "c_acctbal", 10, cuts=Q16_CUTS
    ).withColumn("bucket", F.col("bucket").cast("long"))
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("c_acctbal"), 2).alias("lo"),
            F.round(F.max("c_acctbal"), 2).alias("hi"),
            round_avg(F.avg("c_acctbal"), 4).alias("mean_bal"),
        )
        .orderBy("bucket")
    )


def q17_top_orders_per_customer(spark: SparkSession, sf: str) -> DataFrame:
    """ranking procedure (builtin/ranking_procedure.cc:199): top-3
    orders per customer by price, partitioned window."""
    orders = load(spark, sf, "orders")
    ranked = ranking(
        orders,
        order_by=[F.desc("o_totalprice"), F.asc("o_orderkey")],
        partition_by=["o_custkey"],
        output_col="rank",
    )
    return ranked.filter(F.col("rank") <= 3).select(
        "o_custkey", "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank")
    ).orderBy("o_custkey", "rank")


def q18_stats_table(spark: SparkSession, sf: str) -> DataFrame:
    """statsTable.train (plugins/feature_gen/stats_table_procedure.cc:1001):
    leak-free rolling counts of prior orders (and prior big-order
    outcomes) per customer in orderdate sequence."""
    orders = load(spark, sf, "orders")
    st = stats_table(
        orders,
        seq_cols=[F.col("o_orderdate"), F.col("o_orderkey")],
        key_cols=["o_custkey"],
        outcome_col=(F.col("o_totalprice") > 150000),
        prefix="st",
    )
    return (
        st.filter(F.col("o_custkey") % 10 == 0)
        .select("o_orderkey", "o_custkey", "st_count", "st_outcomes")
        .orderBy("o_orderkey")
    )


def q19_sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Sessionization: 30-minute-gap sessions per user (lag + running
    sum of gap flags — the streaming session_window's batch twin)."""
    ev = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    sess = (
        ev.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0))
        .withColumn("session_id", F.sum("new_sess").over(w))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.round(F.sum("session_value"), 2).alias("total_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Temporal cell semantics (SURVEY §1.3, §2.4 temporal aggs)
# ---------------------------------------------------------------------------


def q20_latest_cells(spark: SparkSession, sf: str) -> DataFrame:
    """GET_LATEST default read (core/bound_queries.cc:385,394): events
    as sparse temporal cells, collapsed to latest value per
    (row=user, column=event_type)."""
    cells = events_to_cells(load(spark, sf, "events"))
    return latest_cells(cells).orderBy("row", "column")


def q21_temporal_aggs(spark: SparkSession, sf: str) -> DataFrame:
    """temporal_count/sum/min/max/avg see ALL timestamped values of a
    cell (sql/builtin_functions.cc:1186-1467)."""
    cells = events_to_cells(load(spark, sf, "events"))
    return (
        cells.groupBy("row", "column")
        .agg(
            F.count("value").alias("temporal_count"),
            F.round(F.sum("value"), 2).alias("temporal_sum"),
            F.round(F.min("value"), 2).alias("temporal_min"),
            F.round(F.max("value"), 2).alias("temporal_max"),
            round_avg(F.avg("value"), 4).alias("temporal_avg"),
        )
        .orderBy("row", "column")
    )


def q22_when_filter(spark: SparkSession, sf: str) -> DataFrame:
    """WHEN temporal cell filter (sql/sql_expression.h:1704-1760):
    keep only cells in a timestamp window, then aggregate."""
    cells = events_to_cells(load(spark, sf, "events"))
    filtered = when_filter(
        cells,
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-20"),
    )
    return (
        filtered.groupBy("column")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("column")
    )


def q23_tumbling_window(spark: SparkSession, sf: str) -> DataFrame:
    """Time-bucketed rollup (continuous.window view over committed
    chunks, builtin/continuous_dataset.cc:580 → date_trunc rollup;
    in streaming mode the same plan runs under a watermark)."""
    ev = load(spark, sf, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# Text analysis (tokenize family §2.9 + training-data metrics)
# ---------------------------------------------------------------------------


def q24_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    """tokenize() (sql/builtin_functions.cc:1915) → explode → global
    term frequencies, top 20. The bag-of-words primitive."""
    docs = load(spark, sf, "documents")
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "token")
        .limit(20)
    )


def q25_doc_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language token-count stats (token budget accounting)."""
    docs = load(spark, sf, "documents")
    return (
        docs.select("lang", token_count(F.col("text")).alias("n_tokens"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            round_avg(F.avg("n_tokens"), 4).alias("avg_tokens"),
            round_avg(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


def q26_language_id(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-argmax language ID per doc, confusion counts vs the
    labeled lang column.

    Exploded-aggregation form of functions.text.language_id: one
    tokenize per doc, token rows aggregated into per-language hit
    counts, argmax with alphabetical tiebreak — same result, but the
    work is a codegen'd shuffle instead of per-row interpreted array
    lambdas that re-tokenize the text once per language."""
    docs = load(spark, sf, "documents")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    hit_cols = [
        F.sum(F.col("tok").isin(*ws).cast("int")).alias(lang)
        for lang, ws in sorted(STOPWORDS.items())
    ]
    # LEFT join the hit counts back onto docs: a doc whose text
    # tokenizes to nothing yields no exploded rows, but must still
    # surface (as guessed='und') exactly like the SQL oracle does
    per_doc = toks.groupBy("doc_id").agg(*hit_cols)
    hits = docs.select("doc_id", "lang").join(per_doc, "doc_id", "left").fillna(
        0, subset=[lang for lang, _ in sorted(STOPWORDS.items())]
    )
    de, en, es, fr = (F.col(x) for x in ("de", "en", "es", "fr"))
    guessed = (
        F.when((de >= en) & (de >= es) & (de >= fr) & (de > 0), "de")
        .when((en >= es) & (en >= fr) & (en > 0), "en")
        .when((es >= fr) & (es > 0), "es")
        .when(fr > 0, "fr")
        .otherwise("und")
    )
    return (
        hits.select("lang", guessed.alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "guessed")
    )


def q27_quality_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Quality scoring (length/stopword/noise blend) + filter — the
    C4-style quality gate as a dataset transform."""
    docs = load(spark, sf, "documents")
    scored = docs.select(
        "doc_id", "lang", quality_score(F.col("text")).alias("quality")
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            round_avg(F.avg("quality"), 4).alias("avg_quality"),
            F.sum((F.col("quality") >= 0.5).cast("long")).alias("n_pass"),
        )
        .orderBy("lang")
    )


def q28_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Content fingerprinting (md5 of normalized text) — the exact-
    dedup key; sampled rows prove byte-parity of normalization+hash
    across engines."""
    docs = load(spark, sf, "documents")
    return (
        docs.filter(F.col("doc_id") % 9 == 0)
        .select("doc_id", doc_fingerprint(F.col("text")).alias("fingerprint"))
        .orderBy("doc_id")
    )


def q29_exact_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup accounting: corpus size vs distinct fingerprints
    (hash-groupBy dedup; one shuffle on the 128-bit key)."""
    docs = load(spark, sf, "documents")
    return docs.select(
        doc_fingerprint(F.col("text")).alias("fp")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("fp").alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_duplicates"),
    )


# ---------------------------------------------------------------------------
# Vector similarity (embedding dataset §2.1 / KNN §2.12)
# ---------------------------------------------------------------------------


def q30_knn_bruteforce(spark: SparkSession, sf: str) -> DataFrame:
    """embedding.neighbors (plugins/embedding/embedding.cc:1420) as
    exact brute-force cosine top-k: query set broadcast against the
    corpus scan, per-query window top-10."""
    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    scored = emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        F.round(cosine_similarity(F.col("qvec"), F.col("embedding")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .orderBy("query_id", "rank")
    )


def q31_embedding_neardup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold, blocked by
    random-hyperplane LSH bands (fixed seeded planes so the DuckDB
    oracle replays the identical candidate set). The per-band
    equi-self-join on the band key is the only shape that survives
    100× corpus growth — no label blocking, no O(n²) theta-join; the
    exact rescoring cosine is an Arrow-batched numpy kernel."""
    from mldb_spark.similarity import embedding_cosine_near_duplicates, seeded_planes

    emb = load(spark, sf, "embeddings")
    return embedding_cosine_near_duplicates(
        emb, threshold=0.4, planes=seeded_planes(64, num_planes=64),
        bands=8,
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Dedup pipelines (minhash / shingle jaccard — beyond-reference ops)
# ---------------------------------------------------------------------------


def q32_minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures (16 md5-family hashes over the token set)
    for a doc sample — proves the whole shingle→hash→min pipeline
    bit-for-bit against the SQL oracle."""
    from mldb_spark.dedup import minhash_signatures

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 25 == 0)
    return minhash_signatures(docs, num_hashes=16).orderBy("doc_id")


def q33_minhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (banded; est Jaccard from
    minhash agreement). 3-word shingles keep the tiny shared vocab
    from flooding the buckets."""
    from mldb_spark.dedup import minhash_near_duplicates

    docs = load(spark, sf, "documents")
    return minhash_near_duplicates(
        docs, num_hashes=16, bands=4, threshold=0.25, shingle_words=3
    ).orderBy("id_a", "id_b")


def q34_shingle_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Exact 3-word-shingle Jaccard over source-blocked pairs."""
    from mldb_spark.dedup import ngram_jaccard_pairs

    docs = load(spark, sf, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.02, block_col="source").orderBy(
        "id_a", "id_b"
    )


def q85_simhash_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash near-dup pairs at radius 8 with radius-sized segment
    blocking (pigeonhole-exact recall: 10 segments, any pair within
    8 differing bits agrees in >= 2). Oracle-backed (graduated from
    rows-only, VERDICT r6 #4): the 64-bit xxhash64 signatures export
    to a fixture parquet and the DuckDB oracle replays the EXACT pair
    set with bit_count(xor(...)) <= 8 over the full self-join — the
    blocking guarantees the blocked pair set equals the exact one, so
    any recall bug in the segment logic breaks the hash."""
    from mldb_spark.caching import persist_tracked
    from mldb_spark.dedup import simhash64, simhash_pairs

    docs = load(spark, sf, "documents")
    sig = simhash64(docs)
    if not _fixture_exports_disabled():
        # persist only when the fixture export adds a SECOND consumer
        # of the signatures — under bench (exports skipped) the only
        # reader is simhash_pairs, which persists its own narrow
        # (id, hash) projection anyway; the outer cache write was one
        # avoidable extra materialization (VERDICT r8 #5)
        sig = persist_tracked(sig)
        export_oracle_fixture_df("q85_simhash", sig.orderBy("doc_id"))
    return simhash_pairs(sig, max_hamming=8).orderBy("id_a", "id_b")


def q86_lsh_ann(spark: SparkSession, sf: str) -> DataFrame:
    """Random-hyperplane LSH approximate top-k neighbors (bucketed
    probe instead of full scan; deterministic seeded planes).
    Oracle-backed (graduated from rows-only, VERDICT r6 #4): the
    per-vector bucket signatures export to a fixture parquet and the
    DuckDB oracle replays the bucket equi-join + exact cosine +
    per-query top-k — a bug in the bucket join, the rescoring, or
    the tie-breaking breaks the hash (only the plane dot-product
    kernel itself is taken from the export)."""
    import random

    from mldb_spark.similarity import lsh_topk, random_hyperplane_signature

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(3)]
    export_oracle_fixture_df(
        "q86_buckets",
        emb.select(
            "vec_id",
            random_hyperplane_signature(F.col("embedding"), planes).alias(
                "bucket"
            ),
        ).orderBy("vec_id"),
    )
    return lsh_topk(emb, queries, planes, k=10).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Procedures & function families, continued
# ---------------------------------------------------------------------------


def q37_summary_stats(spark: SparkSession, sf: str) -> DataFrame:
    """summary.statistics procedure (builtin/summary_statistics_proc.cc:516).

    Two aggregates, NO Expand: multiple exact countDistincts inside one
    wide agg compile to an Expand node (row multiplication x 2·n_cols
    over the whole fact scan — the r2 bench regression). Instead:
    (a) the non-distinct stats in one wide single-pass agg, and
    (b) distinct counts over a stacked (column, value) long form —
    each group carries ONE distinct column, which Catalyst plans as a
    plain two-phase hash aggregate (map-side partial dedup on
    (column, value), then count) — the shape that survives 100 TB.
    The two 3-row results broadcast-join back together."""
    li = load(spark, sf, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__n"),
            F.round(F.min(c), 2).alias(f"{c}__min"),
            F.round(F.max(c), 2).alias(f"{c}__max"),
            round_avg(F.avg(c), 4).alias(f"{c}__avg"),
            F.round(F.sum(c), 2).alias(f"{c}__sum"),
        ]
    wide = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__min, {c}__max, {c}__avg, {c}__sum" for c in cols
    )
    stats = wide.selectExpr(
        f"stack({len(cols)}, {stack_args}) as (column, n, vmin, vmax, vavg, vsum)"
    )
    value_stack = ", ".join(f"'{c}', {c}" for c in cols)
    distincts = (
        li.selectExpr(f"stack({len(cols)}, {value_stack}) as (column, value)")
        .groupBy("column")
        .agg(F.countDistinct("value").alias("n_distinct"))
    )
    return (
        stats.join(F.broadcast(distincts), "column")
        .select("column", "n", "n_distinct", "vmin", "vmax", "vavg", "vsum")
        .orderBy("column")
    )


def q38_merge_datasets(spark: SparkSession, sf: str) -> DataFrame:
    """Column-wise merge (merged dataset, builtin/merged_dataset.cc:714):
    customer attributes enriched with order rollups on the same row
    names; the later dataset wins shared columns (`bal` here)."""
    from mldb_spark.operators.relational import merge_datasets

    cust = load(spark, sf, "customer").select(
        F.col("c_custkey").cast("string").alias("rowName"),
        F.round(F.col("c_acctbal"), 2).alias("bal"),
        F.col("c_mktsegment").alias("segment"),
    )
    ords = (
        load(spark, sf, "orders")
        .groupBy(F.col("o_custkey").cast("string").alias("rowName"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("bal"),
        )
    )
    return merge_datasets([cust, ords]).orderBy("rowName")


def q39_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """parse_json path extraction (sql/builtin_functions.cc:1832):
    pull props.k out of the events JSON column, aggregate."""
    ev = load(spark, sf, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select(F.col("event_type"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q40_row_dataset(spark: SparkSession, sf: str) -> DataFrame:
    """row_dataset(expr) (sql/table_expression_operations.h:210-240):
    one output row per atom of a row value — here the bag-of-words
    map of each sampled document exploded to (doc_id, column, value)
    cell rows."""
    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 25 == 0)
    # exploded-aggregation form of tokenize_counts: one tokenize per
    # doc, counts via hash aggregate (the map-building column fn is
    # O(distinct²) interpreted — fine per-row in an API, wrong in a
    # corpus scan)
    return (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("column"))
        .groupBy("doc_id", "column")
        .agg(F.count(F.lit(1)).alias("value"))
        .orderBy("doc_id", "column")
    )


def q41_wilson_bounds(spark: SparkSession, sf: str) -> DataFrame:
    """binomial_lb_80/ub_80 Wilson bounds
    (sql/builtin_functions.cc:946-947) on per-event-type conversion
    (value > 100) rates."""
    from mldb_spark.functions.core import binomial_lb_80, binomial_ub_80

    ev = load(spark, sf, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("trials"),
        F.sum((F.col("value") > 100).cast("long")).alias("successes"),
    )
    return agg.select(
        "event_type",
        "trials",
        "successes",
        F.round(binomial_lb_80(F.col("trials"), F.col("successes")), 6).alias("lb_80"),
        F.round(binomial_ub_80(F.col("trials"), F.col("successes")), 6).alias("ub_80"),
    ).orderBy("event_type")


def q42_geo_distance(spark: SparkSession, sf: str) -> DataFrame:
    """geo_distance haversine (sql/builtin_geo_functions.cc) between
    synthetic customer/supplier coordinates derived from keys."""
    from mldb_spark.functions.core import geo_distance

    cust = load(spark, sf, "customer").filter(F.col("c_custkey") % 31 == 0)
    lat1 = (F.col("c_custkey") % 179 - 89) + 0.5
    lon1 = (F.col("c_custkey") % 359 - 179) + 0.5
    lat2 = F.lit(48.8566)
    lon2 = F.lit(2.3522)
    return cust.select(
        "c_custkey",
        F.round(geo_distance(lat1, lon1, lat2, lon2), 2).alias("dist_to_paris_m"),
    ).orderBy("c_custkey")


def q43_like_regex(spark: SparkSession, sf: str) -> DataFrame:
    """LIKE / regex_match family (LikeExpression
    sql_expression_operations.h:331; regex fns builtin_functions.cc:
    1027-1049) over part descriptions."""
    part = load(spark, sf, "part")
    return part.agg(
        F.sum(F.col("p_type").like("%BRASS%").cast("long")).alias("n_brass"),
        F.sum(F.col("p_type").rlike("^ECONOMY").cast("long")).alias("n_economy"),
        F.sum(F.col("p_name").like("%a%e%").cast("long")).alias("n_a_e"),
        F.sum(
            F.regexp_replace(F.col("p_type"), "[AEIOU]", "").like("%BRSS%").cast("long")
        ).alias("n_brss_devoweled"),
    )


def q44_levenshtein(spark: SparkSession, sf: str) -> DataFrame:
    """levenshtein_distance (sql/builtin_functions.cc:2640) over
    blocked part-name pairs: candidates share a (first word, length
    band) key, so the pair join is an equi-join whose cost tracks the
    block sizes, not |sample|² — the only shape that survives corpus
    growth. Pairs outside a block are by construction far apart in
    edit distance (different leading word or >4-char length gap), the
    standard recall contract of length/prefix blocking."""
    part = load(spark, sf, "part").filter(F.col("p_partkey") % 50 == 1)
    blocked = part.select(
        F.col("p_partkey"),
        F.col("p_name"),
        F.concat_ws(
            "|",
            F.split(F.col("p_name"), " ").getItem(0),
            F.floor(F.length("p_name") / 4).cast("string"),
        ).alias("blk"),
    )
    a = blocked.select(F.col("blk"), F.col("p_partkey").alias("id_a"), F.col("p_name").alias("name_a"))
    b = blocked.select(F.col("blk"), F.col("p_partkey").alias("id_b"), F.col("p_name").alias("name_b"))
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("name_a"), F.col("name_b")).cast("long").alias("edit_dist"),
        )
        .orderBy("id_a", "id_b")
    )


def q45_cast_rules(spark: SparkSession, sf: str) -> DataFrame:
    """CAST failure → NULL (CastExpression, sql_expression_operations.h:357:
    'a failed cast returns NULL, not an error'). Spark 4 is ANSI by
    default, so the MLDB cast maps to try_cast, which also matches
    the reference's try() error-absorbing contract."""
    orders = load(spark, sf, "orders")
    first_digit = F.substring(F.col("o_orderpriority"), 1, 1).try_cast("long")
    bad_cast = F.col("o_orderstatus").try_cast("long")
    # Aggregate decomposition (optimization r9, guide §2.3): a failed
    # ANSI try_cast constructs a JVM exception PER ROW (~9µs/row —
    # 1.4s of the gate was exception plumbing for the always-failing
    # status cast). Every aggregate here is linear over the distinct
    # (priority, status) pairs, so count the 15 pairs first and run
    # the cast expressions 15 times instead of |orders| times —
    # identical results (oracle unchanged), and the same partial-agg
    # shape is what survives a 100 TB scan.
    g = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("__n")
    )
    zero = F.lit(0).cast("long")
    return g.agg(
        F.coalesce(F.sum("__n"), zero).alias("n"),
        F.coalesce(
            F.sum(F.when(first_digit.isNotNull(), F.col("__n")).otherwise(zero)),
            zero,
        ).alias("n_priority_digit"),
        F.sum(first_digit * F.col("__n")).alias("sum_priority_digit"),
        F.coalesce(
            F.sum(F.when(bad_cast.isNotNull(), F.col("__n")).otherwise(zero)),
            zero,
        ).alias("n_status_as_int"),
        F.coalesce(
            F.sum(F.when(bad_cast.isNull(), F.col("__n")).otherwise(zero)), zero
        ).alias("n_cast_failures"),
    )


# ---------------------------------------------------------------------------
# ML procedures (SURVEY §2.13 — MLlib-backed)
# ---------------------------------------------------------------------------


def q46_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """tfidf.train (plugins/nlp/tfidf.cc:472) as its exact-arithmetic
    DataFrame twin: per-(doc, token) tf/df/tfidf with smoothed
    ln((N+1)/(df+1)) idf; document frequencies computed over the full
    corpus, output sampled."""
    from mldb_spark.ml.procedures import tfidf_table

    docs = load(spark, sf, "documents")
    return (
        tfidf_table(docs)
        .filter(F.col("doc_id") % 25 == 0)
        .orderBy("doc_id", "token")
    )


def q87_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    """kmeans.train (plugins/jml/kmeans_interface.cc:389-394): cluster
    the embeddings (k=8, fixed seed), return per-cluster sizes.
    Oracle-backed (graduated from rows-only, VERDICT r7 #1): the
    fitted centroids export to a fixture parquet and the DuckDB
    oracle replays the nearest-centroid assignment closed-form
    (argmin squared-Euclidean, ties to the lowest cluster id — the
    same tie rule MLlib's findClosest applies), so the assignment
    join, grouping, and counts are all cross-checked; only the
    kmeans|| fit itself stays engine-internal."""
    from mldb_spark.ml.procedures import kmeans_train
    from mldb_spark.ml.registry import FunctionRegistry

    reg = FunctionRegistry()
    emb = load(spark, sf, "embeddings")
    _, centroids = kmeans_train(emb, "embedding", k=8, seed=42, name="km", registry=reg)
    export_oracle_fixture_df("q87_centroids", centroids.orderBy("cluster"))
    assigned = reg.apply("km", emb)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cluster")
    )


def q88_classifier_eval(spark: SparkSession, sf: str) -> DataFrame:
    """classifier.train + classifier.test (plugins/jml/classifier.cc:1491,
    accuracy.cc:1006): logistic regression on the shared learnable
    order features (see _order_features), evaluated with AUC/accuracy
    over a held-out split. Oracle-backed (graduated from rows-only,
    VERDICT r7 #1 pattern): the fitted coefficients export to a
    fixture and the oracle replays sigmoid scoring + the EXACT
    rank-sum AUC + threshold-0.5 accuracy closed-form — the whole
    evaluation pipeline downstream of the optimizer is checked; only
    the LBFGS trajectory itself stays engine-internal (AUC floor in
    tests/test_ml_extra.py)."""
    from mldb_spark.ml.procedures import classifier_test, classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    reg = FunctionRegistry()
    feats = _order_features(spark, sf)
    train = feats.filter(F.col("o_orderkey") % 5 != 0)
    test = feats.filter(F.col("o_orderkey") % 5 == 0)
    model = classifier_train(
        train, ["f_year", "f_month", "f_priority", "f_cust"], "label", "clf", reg
    )
    w = [float(c) for c in model.coefficients]
    export_oracle_fixture(
        "q88_coefs",
        {"w_year": w[0], "w_month": w[1], "w_prio": w[2], "w_cust": w[3],
         "b": float(model.intercept)},
    )
    scored = reg.apply("clf", test)
    res = classifier_test(scored, "label", "score")
    return res.select(
        F.round(F.col("auc") + 1e-9, 4).alias("auc"),
        F.round(F.col("accuracy") + 1e-9, 4).alias("accuracy"),
    )


def q89_pca(spark: SparkSession, sf: str) -> DataFrame:
    """svd.train equivalent (plugins/embedding/svd.cc:1023): PCA over
    embeddings, one row per component with explained variance.
    Oracle-backed (graduated from rows-only): the principal-component
    vectors export to a fixture and the oracle recomputes each
    component's explained variance CLOSED-FORM as
    var(X·vᵢ) / Σⱼ var(xⱼ) — exactly MLlib's eigenvalue/trace ratio
    when vᵢ is a true eigenvector of the covariance (the n−1
    convention cancels in the ratio), so a wrong eigenvector, a
    dropped centering step, or a bad variance normalization all break
    the hash; only the eigensolver's internal iteration is unchecked."""
    from mldb_spark.ml.procedures import pca_train

    emb = load(spark, sf, "embeddings")
    model, variances = pca_train(emb, "embedding", k=8)
    pc = model.pc.toArray()  # (dim, k) — columns are components
    export_oracle_fixture_df(
        "q89_components",
        local_frame(
            spark,
            [(i, [float(x) for x in pc[:, i]]) for i in range(pc.shape[1])],
            "component int, vector array<double>",
        ),
    )
    return local_frame(
        spark,
        [(i, round(v + 1e-9, 4)) for i, v in enumerate(variances)],
        "component int, explained_variance double",
    )


# ---------------------------------------------------------------------------
# MLDB SQL dialect end-to-end (parser -> binder -> DataFrame, SURVEY §3)
# ---------------------------------------------------------------------------


def _dialect_ctx(spark: SparkSession, sf: str):
    from mldb_spark.dialect import MldbContext

    ctx = MldbContext(spark)
    # LAZY providers (optimization r9): each gate pays load() only
    # for the tables its statement actually references — the eager
    # form cost ~0.1s × 7 tables of spark.read + timestamp
    # normalization per dialect gate, dominated by tables the query
    # never touched.
    for t in ("region", "nation", "customer", "orders", "lineitem", "part"):
        ctx.register(t, lambda t=t: load(spark, sf, t))
    ctx.register("events", lambda: load(spark, sf, "events"), ts_col="ts")
    return ctx


def q50_dialect_groupby(spark: SparkSession, sf: str) -> DataFrame:
    """MLDB-dialect SQL through the full parse->bind->translate
    lifecycle (SURVEY §3.1): aggregates + HAVING on an alias +
    open-schema function dispatch."""
    ctx = _dialect_ctx(spark, sf)
    return ctx.query(
        "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
        "FROM orders GROUP BY o_orderpriority HAVING n > 0 ORDER BY o_orderpriority"
    )


def q51_dialect_when_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """Dialect WHEN (temporal cell filter) + DISTINCT ON + $param
    through the translator."""
    ctx = _dialect_ctx(spark, sf)
    return ctx.query(
        "SELECT DISTINCT ON (user_id) user_id, event_type, value, event_id "
        "FROM events WHEN value_timestamp() >= $start "
        "ORDER BY user_id, value DESC, event_id",
        params={"start": "2024-01-15"},
    )


def q52_date_parts(spark: SparkSession, sf: str) -> DataFrame:
    """date_part family (sql/builtin_functions.cc:1535 — 16 units)
    + date_trunc: order seasonality rollup."""
    orders = load(spark, sf, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("yr"),
            F.quarter("o_orderdate").cast("long").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.countDistinct(F.month("o_orderdate")).alias("n_months"),
        )
        .orderBy("yr", "qtr")
    )


def q53_dist_table(spark: SparkSession, sf: str) -> DataFrame:
    """experimental.distTable.train (plugins/feature_gen/
    dist_table_procedure.cc:842): leak-free running distribution
    stats (count/avg/min/max of strictly-prior outcomes) per key."""
    from mldb_spark.operators.relational import dist_table

    orders = load(spark, sf, "orders")
    dt = dist_table(
        orders,
        seq_cols=[F.col("o_orderdate"), F.col("o_orderkey")],
        key_cols=["o_custkey"],
        value_col=F.col("o_totalprice"),
        prefix="dt",
    )
    return (
        dt.filter(F.col("o_custkey") % 20 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            "dt_count",
            # -1.0 sentinel for "no prior outcomes" keeps the float
            # columns non-nullable (NULL doubles round-trip as NaN
            # through pandas/Arrow and break hash parity)
            F.coalesce(F.round(F.col("dt_avg") + 1e-9, 4), F.lit(-1.0)).alias("dt_avg"),
            F.coalesce(F.round(F.col("dt_min"), 2), F.lit(-1.0)).alias("dt_min"),
            F.coalesce(F.round(F.col("dt_max"), 2), F.lit(-1.0)).alias("dt_max"),
        )
        .orderBy("o_orderkey")
    )


def q54_transpose(spark: SparkSession, sf: str) -> DataFrame:
    """transposed dataset (builtin/transposed_dataset.cc:393): on the
    cell-triple layout the transpose is a pure rename — rows become
    columns. Aggregate over the transposed view."""
    from mldb_spark.operators.relational import transpose_cells

    cells = events_to_cells(load(spark, sf, "events"))
    t = transpose_cells(cells)  # row=event_type, column=user
    return (
        t.groupBy("row")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.countDistinct("column").alias("n_columns"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("row")
    )


def q55_atom_dataset(spark: SparkSession, sf: str) -> DataFrame:
    """atom_dataset (sql/table_expression_operations.h:210-240): one
    row per atom of a computed row value, then per-atom stats."""
    from mldb_spark.operators.relational import atom_dataset

    orders = load(spark, sf, "orders")
    atoms = atom_dataset(
        orders,
        id_cols=["o_orderkey"],
        atoms={
            "price": F.col("o_totalprice"),
            "priority": F.substring("o_orderpriority", 1, 1).try_cast("double"),
            "month": F.month("o_orderdate").cast("double"),
        },
    )
    return (
        atoms.groupBy("column")
        .agg(
            F.count("value").alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
            F.round(F.min("value"), 2).alias("vmin"),
            F.round(F.max("value"), 2).alias("vmax"),
        )
        .orderBy("column")
    )


def q56_bigram_counts(spark: SparkSession, sf: str) -> DataFrame:
    """tokenize with ngramRange (sql/tokenize.cc options): top-20
    corpus bigrams. Generated via the linear shingle-row path
    (posexplode+lead), '_'-joined per the tokenize n-gram format."""
    from mldb_spark.dedup import shingle_rows

    docs = load(spark, sf, "documents")
    return (
        shingle_rows(docs, 2, sep="_")
        .groupBy(F.col("sh").alias("bigram"))
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "bigram")
        .limit(20)
    )


def q57_cell_timestamps(spark: SparkSession, sf: str) -> DataFrame:
    """earliest_timestamp / latest_timestamp / distinct_timestamps
    (sql/builtin_functions.cc:1070-1120) over the sparse temporal
    cells view."""
    from mldb_spark.operators.temporal import cell_timestamps

    cells = events_to_cells(load(spark, sf, "events"))
    return cell_timestamps(cells).orderBy("row", "column")


def q58_likelihood_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """likelihood_ratio aggregate (sql/builtin_aggregators.cc:947):
    log-LR of weekend activity (feature) given high-value events
    (outcome), per event type."""
    from mldb_spark.functions.core import likelihood_ratio

    ev = load(spark, sf, "events")
    outcome = F.col("value") > 100
    feature = F.dayofweek("ts").isin(1, 7)  # Sunday=1, Saturday=7
    parts = likelihood_ratio(outcome, feature)
    return (
        ev.groupBy("event_type")
        .agg(
            parts["n_true_outcome"].alias("n_true_outcome"),
            parts["n_feat_true"].alias("n_feat_true"),
            parts["n_false_outcome"].alias("n_false_outcome"),
            parts["n_feat_false"].alias("n_feat_false"),
            F.round(parts["llr"], 6).alias("llr"),
        )
        .orderBy("event_type")
    )


def q59_stemmed_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """stemmer/stemmerdoc (plugins/nlp/nlp.cc:213,284): top-20 stems
    by frequency. The suffix ladder is deterministic CASE logic, so
    the SQL oracle replays it from the same suffix table."""
    from mldb_spark.functions.text import stem

    docs = load(spark, sf, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    return (
        toks.select(stem(F.col("tok")).alias("stem"))
        .groupBy("stem")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "stem")
        .limit(20)
    )


def q60_stopword_filtered(spark: SparkSession, sf: str) -> DataFrame:
    """filter_stopwords (plugins/nlp/nlp.cc:108): per-language content
    token counts after dropping stopwords (all four inventories)."""
    docs = load(spark, sf, "documents")
    all_stop = tuple(sorted({w for ws in STOPWORDS.values() for w in ws}))
    # materialize is_stop ONCE per token row; repeating the 30-element
    # isin inside each aggregate forces the conditional back into the
    # wide shuffle three times over
    toks = docs.select(
        "lang", F.explode(tokenize(F.col("text"))).alias("tok")
    ).withColumn("is_content", ~F.col("tok").isin(*all_stop))
    return (
        toks.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("is_content").cast("long")).alias("n_content"),
            F.countDistinct(
                F.when(F.col("is_content"), F.col("tok"))
            ).alias("n_content_vocab"),
        )
        .orderBy("lang")
    )


def q61_svd_term_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """svd.train's full output contract (plugins/embedding/svd.cc:
    1023,1028) driving the reference's reddit chain
    (testing/reddit_benchmark.py:23-103): tokenize → doc-term counts
    → truncated distributed SVD → k-means over the COLUMN (term)
    embeddings. Oracle-backed (graduated from rows-only, VERDICT r7
    #1): the fitted term embeddings (V loadings) and k-means
    centroids export as fixtures; the DuckDB oracle independently
    re-derives the vocabulary (tokenize → doc-frequency → min_df
    prune), inner-joins it against the exported embeddings (so a
    tokenizer or prune bug shows up as a count mismatch), and replays
    the nearest-centroid assignment + per-cluster rollup closed-form.
    Only the eigensolver and the kmeans|| fit stay engine-internal;
    the algebraic invariants (reconstruction, embedRow == rowOutput)
    are pinned in tests/test_ml.py."""
    from mldb_spark.caching import persist_tracked
    from mldb_spark.ml.procedures import kmeans_train, svd_train

    docs = load(spark, sf, "documents")
    # persist the doc-term counts BEFORE the vocabulary branch: the
    # min_df prune below reads cells once for the doc-frequency
    # aggregate and once for the pruning join, and Catalyst does not
    # share the duplicated tokenize+groupBy subtree across branches —
    # without the persist the corpus tokenize (the heaviest scan of
    # this gate) executes twice in the first action's plan. Same
    # pattern as qa31/qa32's tokenize stage.
    cells = persist_tracked(
        docs.select(F.col("doc_id"), F.explode(tokenize(F.col("text"))).alias("column"))
        .groupBy("doc_id", "column")
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
    )
    # min_df prune caps the column space (the Gram matrix is n_cols² —
    # standard LSA practice, same role as the reference's top-N vocab
    # cut). Relative threshold: the vocab must not grow with the
    # corpus, or the Gram matrix does. The corpus size rides in as a
    # broadcast one-row cross join, so the threshold stays INSIDE the
    # lazy plan — no separate eager count() action over the corpus.
    n_docs_df = docs.select(F.count(F.lit(1)).alias("__ndocs"))
    vocab = (
        cells.groupBy("column")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs_df))
        .filter(F.col("df") >= F.greatest(F.lit(3), (F.col("__ndocs") / 200).cast("long")))
        .select("column")
    )
    cells = cells.join(F.broadcast(vocab), "column")
    _row_emb, col_emb, _sigma = svd_train(
        cells, row_col="doc_id", k=8, name="q61_svd"
    )
    export_oracle_fixture_df("q61_term_emb", col_emb.orderBy("column"))
    model, centroids61 = kmeans_train(col_emb, "embedding", k=5, seed=7, name="q61_kmeans")
    export_oracle_fixture_df("q61_centroids", centroids61.orderBy("cluster"))
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    assigned = GLOBAL_REGISTRY.apply("q61_kmeans", col_emb)
    return (
        assigned.groupBy("cluster")
        .agg(F.count(F.lit(1)).cast("long").alias("n_terms"), F.min("column").alias("first_term"))
        .orderBy("cluster")
    )


def q62_feature_hash(spark: SparkSession, sf: str) -> DataFrame:
    """feature_hasher (plugins/feature_gen/feature_generators.cc:155):
    hashing-trick bucketing of document tokens into 2^6 buckets; the
    md5-derived bucket assignment replays exactly in the SQL oracle.
    Corpus-level profile: per-bucket total weight + docs touching it."""
    from mldb_spark.functions.feature_gen import feature_hash_rows

    docs = load(spark, sf, "documents")
    feats = docs.select(
        F.col("doc_id"), F.explode(tokenize(F.col("text"))).alias("feature")
    )
    hashed = feature_hash_rows(feats, num_bits=6, id_col="doc_id", feat_col="feature")
    return (
        hashed.groupBy("bucket")
        .agg(
            F.sum("weight").alias("total_weight"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .orderBy("bucket")
    )


def q63_pooling(spark: SparkSession, sf: str) -> DataFrame:
    """pooling (builtin/pooling_function.cc:182): avg+max pooling of
    per-token embedding vectors into document embeddings. The vector
    table here is derived deterministically from md5 so the oracle
    replays it; in production it is word2vec_train's output — same
    (word, vector) shape. Returns a per-language summary of the first
    pooled dimensions."""
    from mldb_spark.caching import persist_tracked
    from mldb_spark.functions.feature_gen import hash_bucket, pooling

    docs = load(spark, sf, "documents")
    # persist: the exploded token bag feeds the stand-in vocabulary
    # derivation below AND pooling's two branches — three evaluations
    # of the corpus tokenize without it
    bags = persist_tracked(
        docs.select(F.col("doc_id"), F.explode(tokenize(F.col("text"))).alias("token"))
    )
    # deterministic pseudo-embedding: dim j of word w = (md5-bucket of
    # "j:w" over 10 bits) / 1024 — engine-portable stand-in vocabulary
    vocab = bags.select(F.col("token").alias("word")).distinct()
    vec = F.array(
        *[
            (hash_bucket(F.concat(F.lit(f"{j}:"), F.col("word")), 10) / F.lit(1024.0))
            for j in range(4)
        ]
    )
    vectors = vocab.select("word", vec.alias("vector"))
    pooled = pooling(bags, vectors, aggregators=("avg", "max"), id_col="doc_id")
    joined = docs.select("doc_id", "lang").join(pooled, "doc_id")
    dims = [F.col("embedding").getItem(i) for i in range(8)]
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            *[F.round(F.avg(dims[i]), 6).alias(f"avg_dim{i}") for i in (0, 3)],
            *[F.round(F.avg(dims[4 + i]), 6).alias(f"avg_maxdim{i}") for i in (0, 3)],
        )
        .orderBy("lang")
    )


def q64_bow_stats_table(spark: SparkSession, sf: str) -> DataFrame:
    """statsTable.bagOfWords.train + posneg
    (plugins/feature_gen/stats_table_procedure.cc:992-1013): per-word
    outcome counts (outcome: document is English), then the 20 most
    positive-predictive words with Laplace-smoothed P(pos|word)."""
    from mldb_spark.operators.relational import bow_posneg, stats_table_bag_of_words

    docs = load(spark, sf, "documents")
    stats = stats_table_bag_of_words(
        docs, F.col("text"), F.col("lang") == "en", id_col="doc_id"
    )
    return bow_posneg(stats, num_words=20, min_docs=5)


def _order_features(spark: SparkSession, sf: str):
    """Shared featurization for the ML gates. The testdata's columns
    are mutually independent (no natural cross-column signal), so the
    label is a KNOWN noisy linear rule of the features:
    2*priority + month + (orderkey % 7) >= 16 — deterministic,
    engine-independent, with the orderkey term as irreducible noise
    and f_year/f_cust as pure-noise features the model must ignore.
    A working trainer recovers the rule (AUC floor pinned in
    tests/test_ml_extra.py); an earlier revision labeled on
    o_totalprice, which no feature predicts, so every model converged
    to the intercept and the gates only smoke-tested machinery."""
    orders = load(spark, sf, "orders")
    prio = F.substring("o_orderpriority", 1, 1).try_cast("double")
    month = F.month("o_orderdate").cast("double")
    return orders.select(
        F.col("o_orderkey"),
        (F.year("o_orderdate") - 1995).cast("double").alias("f_year"),
        month.alias("f_month"),
        prio.alias("f_priority"),
        (F.col("o_custkey") % 100).cast("double").alias("f_cust"),
        (2 * prio + month + (F.col("o_orderkey") % 7) >= 16)
        .cast("double")
        .alias("label"),
    ).na.drop()


def q65_random_forest(spark: SparkSession, sf: str) -> DataFrame:
    """randomforest.binary.train (plugins/jml/randomforest_procedure.cc:411)
    → RandomForestClassifier with fixed seed; AUC/accuracy over a held-out
    split. Oracle-backed (graduated round 8, the q85 exported-OUTPUT
    pattern): the forest's per-example scores export as a fixture and
    the oracle replays the ENTIRE evaluation — exact rank-sum AUC
    with tie-averaged ranks and threshold-0.5 accuracy — closed-form;
    only tree induction itself stays engine-internal (AUC floor in
    tests/test_ml_extra.py)."""
    from mldb_spark.ml.procedures import classifier_test, random_forest_train
    from mldb_spark.ml.registry import FunctionRegistry

    reg = FunctionRegistry()
    feats = _order_features(spark, sf)
    train = feats.filter(F.col("o_orderkey") % 5 != 0)
    test = feats.filter(F.col("o_orderkey") % 5 == 0)
    random_forest_train(
        train, ["f_year", "f_month", "f_priority", "f_cust"], "label",
        num_trees=20, seed=7, name="rf_q65", registry=reg,
    )
    scored = reg.apply("rf_q65", test)
    export_oracle_fixture_df(
        "q65_scores",
        scored.select(
            "o_orderkey", F.col("score").cast("double").alias("score"),
            F.col("label").cast("double").alias("label"),
        ).orderBy("o_orderkey"),
    )
    res = classifier_test(scored, "label", "score")
    return res.select(
        F.round(F.col("auc") + 1e-9, 4).alias("auc"),
        F.round(F.col("accuracy") + 1e-9, 4).alias("accuracy"),
    )


def q66_svm_margin(spark: SparkSession, sf: str) -> DataFrame:
    """svm.train (plugins/jml/svm.cc:464) → LinearSVC; margin-score
    summary per true label over a held-out split. Oracle-backed
    (graduated from rows-only): the fitted hyperplane exports to a
    fixture and the oracle replays margin = b + w·x closed-form —
    everything downstream of the hinge-loss optimizer is checked."""
    from mldb_spark.ml.procedures import svm_train
    from mldb_spark.ml.registry import FunctionRegistry

    reg = FunctionRegistry()
    feats = _order_features(spark, sf)
    train = feats.filter(F.col("o_orderkey") % 5 != 0)
    test = feats.filter(F.col("o_orderkey") % 5 == 0)
    model = svm_train(
        train, ["f_year", "f_month", "f_priority", "f_cust"], "label",
        name="svm_q66", registry=reg,
    )
    w = [float(c) for c in model.coefficients]
    export_oracle_fixture(
        "q66_coefs",
        {"w_year": w[0], "w_month": w[1], "w_prio": w[2], "w_cust": w[3],
         "b": float(model.intercept)},
    )
    scored = reg.apply("svm_q66", test)
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("margin") + 1e-9, 4).alias("avg_margin"),
        )
        .orderBy("label")
    )


def q67_gaussian_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """gaussianclustering.train (plugins/jml/em_interface.cc:383) →
    GaussianMixture with fixed seed over an 8-dim slice of the
    embeddings (full-rank covariance needs n >> dim — at sf0.001 the
    corpus is 50 vectors, so 64-dim covariances are degenerate);
    per-component assignment counts. Oracle-backed (graduated from
    rows-only, VERDICT r8 #3): the fitted (weights, means, PRECISION
    matrices, log-determinants) export to fixtures — at 8 dims the
    Gaussian kernel is a compact 4×(1+8+64+1) table — and the DuckDB
    oracle replays the argmax log-density assignment closed-form:
    score_k = ln(w_k) − ½(ln|Σ_k| + (x−μ_k)ᵀΣ_k⁻¹(x−μ_k)), ties to
    the lowest component id (MLlib Vector.argmax picks the first
    max). Only the EM trajectory itself stays engine-internal."""
    from mldb_spark.ml.procedures import gaussian_clustering_train
    from mldb_spark.ml.registry import FunctionRegistry

    reg = FunctionRegistry()
    emb = load(spark, sf, "embeddings").withColumn(
        "embedding", F.slice("embedding", 1, 8)
    )
    model = gaussian_clustering_train(
        emb, "embedding", k=4, seed=42, name="gmm_q67", registry=reg
    )
    if not _fixture_exports_disabled():
        import numpy as np

        comps, means, prec = [], [], []
        gauss = model.gaussiansDF.collect()
        for kidx, (wt, g) in enumerate(zip(model.weights, gauss)):
            mu = np.asarray(g["mean"].toArray(), dtype=float)
            cov = np.asarray(g["cov"].toArray(), dtype=float)
            sign, logdet = np.linalg.slogdet(cov)
            pm = np.linalg.inv(cov)
            comps.append((kidx, float(wt), float(sign * logdet)))
            means.extend(
                (kidx, i + 1, float(m)) for i, m in enumerate(mu)
            )
            prec.extend(
                (kidx, i + 1, j + 1, float(pm[i, j]))
                for i in range(pm.shape[0])
                for j in range(pm.shape[1])
            )
        export_oracle_fixture_df(
            "q67_comps",
            local_frame(
                spark, comps, "component long, weight double, logdet double"
            ),
        )
        export_oracle_fixture_df(
            "q67_means",
            local_frame(
                spark, means, "component long, i long, mu double"
            ),
        )
        export_oracle_fixture_df(
            "q67_prec",
            local_frame(
                spark, prec, "component long, i long, j long, p double"
            ),
        )
    assigned = reg.apply("gmm_q67", emb)
    return (
        assigned.groupBy(F.col("prediction").cast("long").alias("prediction"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("prediction")
    )


def q68_probabilizer(spark: SparkSession, sf: str) -> DataFrame:
    """probabilizer.train (plugins/jml/probabilizer.cc:292): Platt
    calibration of classifier scores; per-score-decile calibrated
    probability bounds (must be monotone in the score). Oracle-backed
    (graduated from rows-only): both fitted stages export to one
    fixture and the oracle replays score = sigmoid(b + w·x) then
    prob = sigmoid(pa·score + pb) then the decile rollup closed-form
    — the whole two-model application chain is checked; only the two
    LBFGS trajectories stay engine-internal."""
    from mldb_spark.ml.procedures import classifier_train, probabilizer_train
    from mldb_spark.ml.registry import FunctionRegistry

    reg = FunctionRegistry()
    feats = _order_features(spark, sf)
    train = feats.filter(F.col("o_orderkey") % 5 != 0)
    test = feats.filter(F.col("o_orderkey") % 5 == 0)
    clf = classifier_train(
        train, ["f_year", "f_month", "f_priority", "f_cust"], "label", "clf_q68", reg
    )
    scored = reg.apply("clf_q68", train)
    prob_model = probabilizer_train(scored, "score", "label", "prob_q68", reg)
    w = [float(c) for c in clf.coefficients]
    export_oracle_fixture(
        "q68_coefs",
        {"w_year": w[0], "w_month": w[1], "w_prio": w[2], "w_cust": w[3],
         "b": float(clf.intercept),
         "pa": float(prob_model.coefficients[0]),
         "pb": float(prob_model.intercept)},
    )
    calibrated = reg.apply("prob_q68", reg.apply("clf_q68", test))
    decile = F.least(F.lit(9), F.floor(F.col("score") * 10)).cast("long")
    return (
        calibrated.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("prob") + 1e-9, 4).alias("min_prob"),
            F.round(F.max("prob") + 1e-9, 4).alias("max_prob"),
        )
        .orderBy("decile")
    )


def q69_column_expr_dialect(spark: SparkSession, sf: str) -> DataFrame:
    """COLUMN EXPR in the SQL dialect (SelectExpression.md:44-128):
    programmatic column selection with WHERE/ORDER BY/LIMIT over
    column metadata, then a per-row aggregate of the picked columns.
    Phase 1 touches only metadata; phase 2 is a pruned scan."""
    ctx = _dialect_ctx(spark, sf)
    return ctx.query(
        "SELECT l_orderkey, l_linenumber, "
        "COLUMN EXPR (WHERE columnName() LIKE 'l_%price' OR columnName() = 'l_quantity' "
        "ORDER BY columnName() LIMIT 2) "
        "FROM lineitem WHERE l_orderkey % 97 = 0 "
        "ORDER BY l_orderkey, l_linenumber"
    )


# fixed user-agent corpus for the parse gate — literal in both engines
Q70_UAS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Gecko/20100101 Firefox/115.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Safari/537.36 Edg/119.0.2151.72",
    "Googlebot/2.1 (+http://www.google.com/bot.html)",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/16.6 Safari/605.1.15",
    "Mozilla/5.0 (Linux; Android 13; SM-G991B) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/118.0.0.0 Mobile Safari/537.36",
    "curl/8.4.0",
]


def q70_parse_useragent(spark: SparkSession, sf: str) -> DataFrame:
    """http.useragent (plugins/html/useragent_function.cc:106): parse
    a fixed user-agent corpus into browser/os/device families + the
    spider flag. Pure regexp Column ladder, replayed by the oracle's
    identical CASE/regexp_extract chain."""
    from mldb_spark.functions.web import parse_useragent

    df = local_frame(spark, [(i, ua) for i, ua in enumerate(Q70_UAS)], "id long, ua string")
    return (
        df.select("id", parse_useragent(F.col("ua")).alias("p"))
        .select(
            "id",
            F.col("p.browser_family").alias("browser_family"),
            F.col("p.os_family").alias("os_family"),
            F.col("p.is_spider").alias("is_spider"),
        )
        .orderBy("id")
    )


def q71_html_text(spark: SparkSession, sf: str) -> DataFrame:
    """parse_html text extraction (plugins/html/parse_html.cc:353):
    wrap document text in markup deterministically, strip it back,
    count recovered tokens per language. The strip chain is regexp
    only, so the oracle replays it."""
    from mldb_spark.functions.web import html_text

    docs = load(spark, sf, "documents")
    html = F.concat(
        F.lit("<html><head><script>var x=1;</script></head><body><p>"),
        F.col("text"),
        F.lit("</p><!-- c --><a href='http://x.example/a'>link &amp; more</a></body></html>"),
    )
    return (
        docs.select("lang", html_text(html).alias("txt"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split(F.col("txt"), " "))).cast("long").alias("n_words"),
        )
        .orderBy("lang")
    )


def q72_tokensplit(spark: SparkSession, sf: str) -> DataFrame:
    """tokensplit (plugins/textual/tokensplit.cc:287): insert spaces
    before dictionary tokens, then compare the token-count delta per
    source — the enricher's effect measured corpus-wide."""
    from mldb_spark.functions.text import tokensplit

    docs = load(spark, sf, "documents")
    split_txt = tokensplit(F.col("text"), ["data", "the"], insert=" ")
    return (
        docs.select(
            "source",
            F.size(F.split(F.col("text"), r"\s+")).alias("n0"),
            F.size(F.split(split_txt, r"\s+")).alias("n1"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n0").cast("long").alias("tokens_before"),
            F.sum("n1").cast("long").alias("tokens_after"),
        )
        .orderBy("source")
    )


def q73_sentiwordnet(spark: SparkSession, sf: str) -> DataFrame:
    """import.sentiwordnet (plugins/nlp/sentiwordnet.cc:187) + a
    sentiment join: per-language mean positive/negative scores of the
    document tokens found in the lexicon. The lexicon import (synset
    explode, #rank strip, per-(word,pos) averages) is replayed by the
    oracle from the same TSV fixture."""
    import os

    from mldb_spark.sources.nlp_io import import_sentiwordnet

    path = os.path.join(os.path.dirname(__file__), "data", "sentiwordnet_sample.tsv")
    swn = import_sentiwordnet(spark, path)
    by_word = swn.groupBy("word").agg(
        F.round(F.avg("senti_pos"), 6).alias("p"),
        F.round(F.avg("senti_neg"), 6).alias("n"),
    )
    docs = load(spark, sf, "documents")
    toks = docs.select("lang", F.explode(tokenize(F.col("text"))).alias("word"))
    return (
        toks.join(F.broadcast(by_word), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.round(F.avg("p"), 6).alias("avg_pos"),
            F.round(F.avg("n"), 6).alias("avg_neg"),
        )
        .orderBy("lang")
    )


def q74_classifier_experiment(spark: SparkSession, sf: str) -> DataFrame:
    """classifier.experiment (plugins/jml/experiment_procedure.cc:618):
    3-fold deterministic-hash split harness over the order features.
    Oracle-backed (graduated from rows-only, round 8): each fold's
    fitted coefficients export to ONE fixture table and the oracle
    replays the WHOLE harness closed-form — hash-mod fold assignment
    (o_orderkey % 3), per-fold sigmoid scoring of the held-out fold,
    exact rank-sum AUC + accuracy, and the train/test counts — so a
    fold-assignment, leakage, or evaluation bug breaks the hash; only
    the per-fold LBFGS trajectories stay engine-internal."""
    from mldb_spark.ml.procedures import classifier_experiment

    feats = _order_features(spark, sf)
    coefs: list[tuple] = []

    def keep(k, model):
        w = [float(c) for c in model.coefficients]
        coefs.append((k, w[0], w[1], w[2], w[3], float(model.intercept)))

    out = classifier_experiment(
        feats, ["f_year", "f_month", "f_priority", "f_cust"], "label",
        folds=3, hash_col="o_orderkey", max_iter=20, on_fold_model=keep,
    )
    export_oracle_fixture_df(
        "q74_coefs",
        local_frame(
            spark, sorted(coefs),
            "fold int, w_year double, w_month double, w_prio double, "
            "w_cust double, b double",
        ),
    )
    return out.select(
        "fold", "n_train", "n_test",
        F.round(F.col("auc") + 1e-9, 4).alias("auc"),
        F.round(F.col("accuracy") + 1e-9, 4).alias("accuracy"),
    ).orderBy("fold")


def q75_tsne(spark: SparkSession, sf: str) -> DataFrame:
    """tsne.train (plugins/jml/tsne_interface.cc:452): 2-D map of a
    bounded embedding sample (exact numpy solver, seeded). Rows-only:
    the layout is seed-deterministic but engine-specific; the cluster
    -separation invariant is pinned in tests/test_ml_extra.py."""
    from mldb_spark.ml.procedures import tsne_train

    emb = load(spark, sf, "embeddings")
    coords = tsne_train(emb, "embedding", max_rows=300, perplexity=12.0, n_iter=300)
    return coords.select(
        "vec_id", F.round("x", 4).alias("x"), F.round("y", 4).alias("y")
    ).orderBy("vec_id")


def q76_ivf_ann(spark: SparkSession, sf: str) -> DataFrame:
    """IVF coarse-quantization ANN (the scale path between brute-force
    q30 and hyperplane-LSH q36): k-means cells + n_probe cell probes +
    exact rescoring. Oracle-backed (graduated from rows-only, VERDICT
    r7 #1): the built index exports as fixtures — the (vec_id, cell)
    assignment table and the fitted centroids — and the DuckDB oracle
    replays the WHOLE search path closed-form: per-query n_probe
    nearest-centroid probe selection (argmin squared-Euclidean, ties
    to the lowest cell id, matching Spark's array_sort on (d, cell)
    structs), the cell equi-join, self-exclusion, exact cosine
    rescoring, and the top-k ranking. Only the kmeans|| index FIT
    stays engine-internal."""
    from mldb_spark.similarity import ivf_index, ivf_search

    emb = load(spark, sf, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    assigned, centroids = ivf_index(emb, n_cells=8)
    export_oracle_fixture_df(
        "q76_cells", assigned.select("vec_id", "cell").orderBy("vec_id")
    )
    export_oracle_fixture_df(
        "q76_centroids",
        local_frame(
            spark,
            [(i, c) for i, c in enumerate(centroids)],
            "cell int, centroid array<double>",
        ),
    )
    return ivf_search(assigned, centroids, queries, k=10, n_probe=2).orderBy(
        "query_id", "rank"
    )


def _fixture_exports_disabled() -> bool:
    """Fixture exports are correctness-harness IO, not query work —
    bench.py sets MLDB_SPARK_SKIP_FIXTURE_EXPORT=1 so BENCH times the
    pure query (VERDICT r7 #4: q85/q86 were paying collect+parquet IO
    inside their timed bodies). Default is EXPORT-ON because the
    driver's correctness run (which we don't control) needs fresh
    fixtures at its own scale factor before the oracle replay."""
    return os.environ.get("MLDB_SPARK_SKIP_FIXTURE_EXPORT", "") not in ("", "0")


def export_oracle_fixture(name: str, row: "dict[str, float]") -> None:
    """Write a one-row parquet the DuckDB oracle replays — the bridge
    that graduates model-backed gates from rows-only to oracle-backed
    (VERDICT r5 #6): the Spark query exports the fitted coefficients,
    and the (static) oracle SQL reads them back with read_parquet at
    a fixed repo-relative path and applies the same closed-form
    scoring. The parity harness always runs the Spark side first, so
    the fixture is fresh for the replay."""
    if _fixture_exports_disabled():
        return
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".oracle_fixtures")
    os.makedirs(d, exist_ok=True)
    table = pa.table({k: [float(v)] for k, v in row.items()})
    pq.write_table(table, os.path.join(d, f"{name}.parquet"))


def export_oracle_fixture_df(name: str, df: DataFrame) -> None:
    """DataFrame flavor of export_oracle_fixture: write a (small)
    Spark result as a single fixture parquet the DuckDB oracle
    replays. Used to graduate gates whose KERNEL is engine-internal
    (xxhash64 simhash bits, seeded LSH buckets, the Porter measure
    loops) — the kernel's OUTPUT is exported once and the oracle
    replays all the relational logic downstream of it (blocking
    joins, XOR-popcount, grouping, top-k), so a bug anywhere outside
    the kernel itself still breaks the hash. Fixture sizes are
    bounded (signature/vocab tables, not corpora)."""
    if _fixture_exports_disabled():
        return
    import pyarrow.parquet as pq

    d = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".oracle_fixtures")
    os.makedirs(d, exist_ok=True)
    pq.write_table(df.toArrow(), os.path.join(d, f"{name}.parquet"))


def q77_sql_applied_function(spark: SparkSession, sf: str) -> DataFrame:
    """Applied-function entity called from dialect SQL — the
    reference's `SELECT my_fn({features})[output]` pattern
    (sql_expression_operations.h:488-531): train a scorer, register
    it on the context, score + aggregate entirely in SQL.
    Oracle-backed (graduated from rows-only, VERDICT r5 #6): the
    fitted logistic coefficients are exported to a fixture parquet
    and the DuckDB oracle replays sigmoid(b + w·x) closed-form."""
    from mldb_spark.dialect import MldbContext
    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    feats = _order_features(spark, sf)
    reg = FunctionRegistry()
    model = classifier_train(
        feats.filter(F.col("o_orderkey") % 5 != 0),
        ["f_year", "f_month", "f_priority", "f_cust"], "label", "q77_clf", reg,
    )
    w = [float(c) for c in model.coefficients]
    export_oracle_fixture(
        "q77_coefs",
        {"w_year": w[0], "w_month": w[1], "w_prio": w[2], "w_cust": w[3],
         "b": float(model.intercept)},
    )
    ctx = MldbContext(spark)
    ctx.register("orders_feat", feats.filter(F.col("o_orderkey") % 5 == 0))
    ctx.register_function("q77_clf", lambda d: reg.apply("q77_clf", d))
    return ctx.query(
        "SELECT label, count(*) AS n, "
        "round(min(q77_clf({f_year, f_month, f_priority, f_cust})[score]) + 0.000000001, 4) AS min_score, "
        "round(max(q77_clf({f_year, f_month, f_priority, f_cust})[score]) + 0.000000001, 4) AS max_score "
        "FROM orders_feat GROUP BY label ORDER BY label"
    )


def q78_classifier_explain(spark: SparkSession, sf: str) -> DataFrame:
    """classifier.explain (plugins/jml/classifier.cc:1502): per-label
    mean feature contributions (coef·x decomposition of the margin)
    over a held-out split. Oracle-backed (graduated from rows-only,
    VERDICT r5 #6): the fitted coefficients export to a fixture
    parquet and the DuckDB oracle replays the w·x decomposition."""
    from mldb_spark.ml.procedures import classifier_explain, classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    reg = FunctionRegistry()
    feats = _order_features(spark, sf)
    cols = ["f_year", "f_month", "f_priority", "f_cust"]
    model = classifier_train(
        feats.filter(F.col("o_orderkey") % 5 != 0), cols, "label", "q78_clf", reg
    )
    w = [float(c) for c in model.coefficients]
    export_oracle_fixture(
        "q78_coefs",
        {"w_year": w[0], "w_month": w[1], "w_prio": w[2], "w_cust": w[3],
         "b": float(model.intercept)},
    )
    classifier_explain(model, cols, "q78_explain", reg)
    explained = reg.apply("q78_explain", feats.filter(F.col("o_orderkey") % 5 == 0))
    return (
        explained.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            *[
                F.round(F.avg(f"explain_{c}") + 1e-9, 4).alias(f"avg_{c}")
                for c in cols
            ],
            F.round(F.avg("bias") + 1e-9, 4).alias("avg_bias"),
        )
        .orderBy("label")
    )


def q79_word2vec_pooling(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's word2vec → pooling NLP pipeline
    (plugins/nlp/word2vec.cc + builtin/pooling_function.cc): train
    embeddings on the corpus, avg-pool each document's word vectors,
    summarize pooled-embedding norms per language. Oracle-backed
    (graduated from rows-only, VERDICT r7 #1): the trained word
    vectors export to a fixture parquet and the DuckDB oracle
    re-tokenizes the corpus independently and replays the pooling
    arithmetic closed-form — vocabulary join (duplicates pool
    per-instance), per-(doc, dim) avg, zero vectors for all-OOV docs,
    L2 norms, per-language summary. Only the Word2Vec negative-
    sampling fit stays engine-internal."""
    from mldb_spark.functions.feature_gen import pooling
    from mldb_spark.functions.vector import l2_norm
    from mldb_spark.ml.procedures import word2vec_train

    docs = load(spark, sf, "documents")
    _model, vectors = word2vec_train(docs, vector_size=16, min_count=5, seed=7)
    export_oracle_fixture_df("q79_vectors", vectors.orderBy("word"))
    bags = docs.select(F.col("doc_id"), F.explode(tokenize(F.col("text"))).alias("token"))
    pooled = pooling(bags, vectors, aggregators=("avg",), id_col="doc_id")
    joined = docs.select("doc_id", "lang").join(pooled, "doc_id")
    return (
        joined.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg(l2_norm(F.col("embedding"))) + 1e-9, 4).alias("avg_norm"),
        )
        .orderBy("lang")
    )


def q80_porter_stems(spark: SparkSession, sf: str) -> DataFrame:
    """Real Porter stemming parity (plugins/nlp/nlp.cc:213 `stemmer`
    with {algorithm: 'porter'}): top-20 Porter stems by document
    frequency. Oracle-backed (graduated from rows-only, VERDICT r6
    #4): the measure-counting loops of Porter 1980 run ONCE Spark-side
    over the distinct vocabulary and the (token → stem) table exports
    to a fixture parquet; the DuckDB oracle re-tokenizes the corpus
    independently and replays the join + frequency top-20 — so the
    tokenizer, the explode, the aggregation, and the tie-breaking are
    all cross-checked (pytest pins the stemmer itself against the
    paper's vectors). The stem runs inside ONE Arrow-batched UDF pass
    before the groupBy — at 100 TB the UDF cost is one linear scan,
    and the aggregation is partial map-side."""
    from mldb_spark.functions.text import porter_stem_udf

    docs = load(spark, sf, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
    stem_fn = porter_stem_udf()
    from mldb_spark.caching import persist_tracked

    # persist: the fixture export and the frequency join both read the
    # vocab; the UDF runs once per DISTINCT token either way
    vocab = persist_tracked(
        toks.distinct().select("tok", stem_fn(F.col("tok")).alias("stem"))
    )
    export_oracle_fixture_df("q80_stems", vocab.orderBy("tok"))
    return (
        toks.join(vocab, "tok")
        .groupBy("stem")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "stem")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Importers / exporters / streaming as oracle-checked gates (SURVEY §2.1)
# ---------------------------------------------------------------------------

_FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def q81_import_text(spark: SparkSession, sf: str) -> DataFrame:
    """import.text end-to-end (plugins/textual/importtext_procedure.cc:
    1435): CSV with quoted delimiters, schema inference, per-line WHERE
    pushdown, then a rollup. Oracle replays DuckDB read_csv over the
    same fixture — a real cross-engine differential of the reader."""
    from mldb_spark.sources.text_io import import_text

    df = import_text(
        spark,
        f"{_FIXTURE_DIR}/products_sample.csv",
        where=F.col("stock") >= 30,
    )
    return (
        df.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("price"), 2).alias("total_price"),
            F.sum("stock").cast("long").alias("total_stock"),
        )
        .orderBy("category")
    )


def q82_import_json(spark: SparkSession, sf: str) -> DataFrame:
    """import.json + complex-type flattening (plugins/textual/
    json_importer.cc:427; TypeSystem.md complex-type flattening):
    nested user.geo structs flatten to dotted paths, then roll up by
    country. Oracle: DuckDB read_json_auto struct access."""
    from mldb_spark.sources.text_io import flatten_struct, import_json

    df = flatten_struct(import_json(spark, f"{_FIXTURE_DIR}/events_sample.jsonl"))
    return (
        df.groupBy(F.col("`user.geo.cc`").alias("cc"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("v"), 2).alias("total_v"),
            F.min("`user.name`").alias("first_user"),
        )
        .orderBy("cc")
    )


def q83_export_csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """export.csv (plugins/textual/csv_export_procedure.cc:238)
    round-trip: aggregate → CSV → re-import must be lossless for
    atomic rows. Oracle replays the aggregate straight from parquet,
    so any header/quote/type drift in the writer breaks the hash."""
    from mldb_spark.sources.text_io import export_csv, import_text

    li = load(spark, sf, "lineitem")
    agg = (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )
    out = f"/tmp/mldb_spark_q83_{os.path.basename(sf)}"
    export_csv(agg, out, single_file=True)
    back = import_text(spark, out)
    return back.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
    ).orderBy("l_returnflag")


def q84_streaming_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """continuous / continuous.window as a STREAMING gate
    (builtin/continuous_dataset.cc:580): the events table replayed
    through readStream (availableNow) into the watermarked tumbling
    rollup, landed in a memory sink. In replay nothing is late, so
    the result equals the batch GROUP BY — which is exactly what the
    DuckDB oracle computes; green here means the streaming plan and
    the batch plan agree cell-for-cell."""
    from mldb_spark.streaming.continuous import windowed_rollup

    import shutil

    load(spark, sf, "events")  # sets session confs (nanosAsLong)
    path = os.path.join(sf, "events.parquet")
    raw = spark.read.parquet(path)
    # the file-stream source watches a DIRECTORY of arriving files;
    # stage the single parquet file into one (the reference's
    # continuous-dataset ingest shape)
    src_dir = f"/tmp/mldb_spark_q84_{os.path.basename(sf)}"
    os.makedirs(src_dir, exist_ok=True)
    staged = os.path.join(src_dir, "events.parquet")
    if not os.path.exists(staged):
        shutil.copy(path, staged)
    stream = spark.readStream.schema(raw.schema).parquet(src_dir)
    from mldb_spark.catalog import normalize_timestamps

    stream = normalize_timestamps(stream)
    rolled = windowed_rollup(stream, window="1 day", watermark="2 days")
    sink = 'q84_sink_' + os.path.basename(sf).replace('.', '_')
    # Scale-adaptive STATE partitioning (optimization r10, guide §2/§5;
    # VERDICT r9 #4): the stateful aggregation spawns one state store
    # per shuffle partition, and each store costs ~0.3s of open/commit
    # per micro-batch even when empty — with the session's 32
    # partitions that is ~90% of this gate's wall (measured 23.8s vs
    # 3.6s at 8 / 2.3s at 4 partitions, best-of-3). Derive the count
    # from INPUT VOLUME (one state partition per advisory partition
    # size of input), clamped to the session's configured shuffle
    # partitions so a real cluster's externally-set parallelism is the
    # ceiling, never a local constant. State partition count does not
    # affect the grouped result.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    state_parts = max(
        4, min(int(old_parts), os.path.getsize(path) // (64 << 20) + 1)
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
    try:
        q = (
            rolled.writeStream.format("memory")
            .queryName(sink)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return (
        spark.table(sink)
        .select(
            F.col("window_start"),
            "event_type",
            "n",
            F.round("total_value", 2).alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


def q35_variance_stddev(spark: SparkSession, sf: str) -> DataFrame:
    """variance / stddev aggregate family (sql/builtin_functions.cc
    vertical aggregates; MLDB's variance is the sample form). Values
    are quantity/discount-scaled so 4-decimal rounding sits far above
    cross-engine accumulation error."""
    li = load(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.var_samp("l_quantity") + F.lit(1e-9), 4).alias("var_qty"),
            F.round(F.stddev_samp("l_quantity") + F.lit(1e-9), 4).alias("std_qty"),
            F.round(F.var_pop("l_discount") + F.lit(1e-9), 6).alias("varp_disc"),
            F.round(F.stddev_pop("l_discount") + F.lit(1e-9), 6).alias("stdp_disc"),
        )
        .orderBy("l_returnflag")
    )


def q36_named_rowname(spark: SparkSession, sf: str) -> DataFrame:
    """NAMED row-naming through the dialect (SelectStatement NAMED
    clause; rowName() builtin): computed row names come back as the
    rowName output column. Oracle replays the concat."""
    ctx = _dialect_ctx(spark, sf)
    return ctx.query(
        "SELECT c_name AS name, c_acctbal AS bal "
        "NAMED 'cust-' || c_custkey "
        "FROM customer WHERE c_acctbal > 9000 ORDER BY bal DESC, name LIMIT 20"
    )


def q47_keys_of(spark: SparkSession, sf: str) -> DataFrame:
    """IN (KEYS OF expr) membership (InExpression KEYS OF form,
    sql/sql_expression.cc) + jaccard_index over token sets: segments
    whose name-keys overlap a probe row. Oracle replays with DuckDB
    list operations."""
    ctx = _dialect_ctx(spark, sf)
    return ctx.query(
        "SELECT p_brand AS brand, count(*) AS n FROM part "
        "WHERE 'widget' IN (KEYS OF tokenize_counts(p_name)) "
        "GROUP BY p_brand ORDER BY brand"
    )


def q48_structured_mutable(spark: SparkSession, sf: str) -> DataFrame:
    """sub dataset / structured.mutable commit path (engine dataset
    collection): literal rows committed through the API then queried
    back joined against parquet. Oracle replays the literals as a
    VALUES relation."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    rows = local_frame(
        spark,
        [
            ("r1", 1, "AMERICA", 2.5),
            ("r2", 2, "ASIA", 4.0),
            ("r3", 3, "EUROPE", 1.25),
            ("r4", 4, "AFRICA", 3.75),
            ("r5", 0, "MIDDLE EAST", 0.5),
        ],
        "row_name string, r_key int, r_name string, weight double",
    )
    m.create_dataset("q88_probe", rows, row_name_col="row_name")
    ds = m.dataset("q88_probe")
    reg = load(spark, sf, "region")
    joined = ds.join(reg, ds.r_name == reg.r_name, "inner")
    return joined.select(
        "row_name",
        reg.r_name.alias("region"),
        F.round(F.col("weight") * 2, 2).alias("w2"),
    ).orderBy("row_name")


def q49_word2vec_import(spark: SparkSession, sf: str) -> DataFrame:
    """import.word2vec binary round-trip (plugins/nlp/word2vec.cc:
    248 reader / :34-56 format): literal vectors → binary file →
    import → norms. Oracle replays the same literals, so a byte-order
    or float-width bug in either codec path breaks the hash."""
    from mldb_spark.sources.nlp_io import export_word2vec_binary, import_word2vec

    words = [
        ("alpha", [1.0, 2.0, 2.0]),
        ("beta", [0.0, 3.0, 4.0]),
        ("gamma", [6.0, 8.0, 0.0]),
        ("delta", [1.0, 0.0, 0.0]),
    ]
    vecs = local_frame(spark, words, "word string, vector array<float>")
    path = f"/tmp/mldb_spark_q89_{os.path.basename(sf)}.bin"
    export_word2vec_binary(vecs, path)
    back = import_word2vec(spark, path)
    return back.select(
        "word",
        F.round(l2_norm(F.col("vector").cast("array<double>")), 4).alias("norm"),
    ).orderBy("word")


def q90_fetcher_blob(spark: SparkSession, sf: str) -> DataFrame:
    """fetcher function over file:// (builtin/fetcher_plugin.cc):
    fetch a fixture, return content length + md5. Oracle reads the
    same file with DuckDB read_blob — both engines hash the same
    bytes independently."""
    from mldb_spark.sources.fetcher import fetch_dataset

    paths = local_frame(
        spark,
        [(f"file://{_FIXTURE_DIR}/products_sample.csv",)], "url string"
    )
    fetched = fetch_dataset(paths, "url")
    return fetched.select(
        F.element_at(F.split("url", "/"), -1).alias("name"),
        F.octet_length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


def q91_tensor_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Tensor shape family (sql/builtin_functions.cc:2723-2977): the
    64-d embedding reinterpreted as an 8x8 matrix, then shape/slice/
    flatten/concat/3-arg-reshape over it. The oracle replays each
    output from the flat list with DuckDB list ops, so a row-major
    ordering or padding-placement bug on the Spark side breaks the
    hash (flatten(reshape(v)) must be the identity for rt_err = 0)."""
    from mldb_spark.functions.vector import (
        tensor_concat,
        tensor_flatten,
        tensor_reshape,
        tensor_shape,
        tensor_slice,
    )

    emb = load(spark, sf, "embeddings").filter(F.col("vec_id") < 20)
    v = F.col("embedding").cast("array<double>")
    m = tensor_reshape(v, [8, 8], 1)
    # 10x8 with two fill rows of 1.0: column 2 gains exactly +2.0
    m_pad = tensor_reshape(v, [10, 8], 1, F.lit(1.0))
    col3 = tensor_slice(m, 3, 2)
    both = tensor_concat(col3, tensor_slice(m, 0, 2))
    rt = F.zip_with(tensor_flatten(m, 2), v, lambda a, b: F.abs(a - b))
    return emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.concat_ws("x", tensor_shape(m, 2).cast("array<string>")).alias("shp"),
        F.round(F.aggregate(col3, F.lit(0.0), lambda a, x: a + x), 5).alias("col3_sum"),
        F.round(
            F.aggregate(tensor_slice(m_pad, 2, 2), F.lit(0.0), lambda a, x: a + x), 5
        ).alias("pad_col2_sum"),
        F.size(both).cast("long").alias("cat_len"),
        F.round(tensor_slice(v, 5, 1), 5).alias("elem5"),
        F.round(F.aggregate(rt, F.lit(0.0), lambda a, x: a + x), 9).alias("rt_err"),
    ).orderBy("vec_id")


def q92_extract_domain(spark: SparkSession, sf: str) -> DataFrame:
    """extract_domain http family (sql/builtin_http_functions.cc:
    38-77): URLs constructed from customer fields, host extracted with
    parse_url and subdomain-stripped per the reference's last-two-
    labels rule (IPs kept whole). The oracle knows the host it
    constructed, so a parse or label-split bug on the Spark side
    breaks the hash."""
    from mldb_spark.functions.web import extract_domain

    cust = load(spark, sf, "customer").filter(F.col("c_custkey") <= 100)
    seg = F.lower(F.regexp_replace(F.col("c_mktsegment"), " ", ""))
    url = F.concat(
        F.lit("https://"),
        seg,
        F.lit(".shop.example.com/cust/"),
        F.col("c_custkey").cast("string"),
        F.lit("?ref=home"),
    )
    return cust.select(
        F.col("c_custkey").cast("long").alias("ck"),
        extract_domain(url).alias("host"),
        extract_domain(url, remove_subdomain=True).alias("domain"),
        extract_domain(F.lit("http://192.168.0.1:8080/x"), True).alias("ip_host"),
    ).orderBy("ck")


def q93_get_all_cells(spark: SparkSession, sf: str) -> DataFrame:
    """GET_ALL superposition emission (sql/expression_value.h:86-91,
    940-944; SELECT output is GET_ALL per core/bound_queries.cc:385,
    394,1815): WHERE is evaluated against each row's LATEST cell
    values, but surviving rows emit EVERY timestamped value. Oracle
    replays it as a DuckDB arg_max latest view + semi-join back to the
    full long-form cells."""
    from mldb_spark.operators.temporal import all_cells

    cells = events_to_cells(load(spark, sf, "events"))
    out = all_cells(
        cells,
        where_latest=(F.col("column") == "purchase") & (F.col("value") > 900),
    )
    return out.select(
        "row", "column", F.round("value", 2).alias("value"), "ts"
    ).orderBy("row", "column", "ts")


def q94_pyeval(spark: SparkSession, sf: str) -> DataFrame:
    """pyeval inline lambda — the jseval replacement (builtin/js/
    js_function.cc:117-226): arithmetic and string lambdas over
    customer rows, replayed by the oracle as plain SQL expressions.
    Exercises the full dialect path (parse → bind-time compile →
    Arrow-batched evaluation)."""
    from mldb_spark.dialect import MldbContext

    ctx = MldbContext(spark)
    ctx.register("customer", load(spark, sf, "customer"))
    return ctx.query(
        "SELECT c_custkey AS k, "
        "round(pyeval('a * 2 + b', 'a,b', c_custkey, c_acctbal), 2) AS v, "
        "pyeval('a.strip().lower()', 'a', c_mktsegment, {type: 'string'}) AS seg, "
        "pyeval('len(a)', 'a', c_name, {type: 'integer'}) AS name_len "
        "FROM customer WHERE c_custkey <= 200 ORDER BY k"
    )


def q95_xlsx_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """experimental.import.xlsx (plugins/msoffice/xlsx_importer.cc:
    821) as a lossless round-trip gate: literal rows → stdlib xlsx
    writer → stdlib xlsx reader → projection. Oracle replays the same
    literals as VALUES, so a cell-typing, ref-placement or
    shared/inline-string bug in either codec direction breaks the
    hash (mirrors the q49 word2vec round-trip pattern)."""
    from mldb_spark.sources.git_io import export_xlsx, import_xlsx

    src = local_frame(
        spark,
        [
            ("alice", 12.5, 3, True),
            ("bob", -4.0, 0, False),
            ("carol mae", 0.25, 7, True),
            ("dee & co <x>", 100.0, 2, False),
        ],
        "name string, score double, n int, ok boolean",
    )
    path = f"/tmp/mldb_spark_q95_{os.path.basename(sf)}.xlsx"
    export_xlsx(src, path)
    back = import_xlsx(spark, path)
    return back.select(
        F.col("name"),
        F.round(F.col("score").cast("double"), 2).alias("score"),
        F.col("n").cast("long").alias("n"),
        F.col("ok").cast("boolean").alias("ok"),
    ).orderBy("name")


def q96_jdbc_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """postgresql.*-family JDBC bridge (plugins/postgresql/
    postgresql_plugin.cc:820-843) as a LIVE round-trip gate against
    the embedded Derby driver on Spark's classpath: aggregate the
    region table → jdbc_write → jdbc_read → projection. Oracle
    recomputes the aggregate directly, so a type-mapping or
    truncation bug in either JDBC direction breaks the hash."""
    from mldb_spark.sources.db_io import jdbc_read, jdbc_write

    reg = load(spark, sf, "region")
    nat = load(spark, sf, "nation")
    agg = (
        nat.join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )
    url = "jdbc:derby:memory:mldbspark_q96;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    jdbc_write(agg, url, "q96_regions", driver=driver, mode="overwrite")
    back = jdbc_read(spark, url, "q96_regions", driver=driver)
    return back.select(
        F.col("r_name"), F.col("n_nations").cast("long").alias("n_nations")
    ).orderBy("r_name")


# q97's polygon: triangle exterior + triangle hole, GeoJSON [lon, lat]
# ring order; vertices at .x5 offsets so no test-grid point (0.1 steps)
# lands exactly on an edge (keeps ray-cast vs sign-test boundary
# conventions out of play)
Q97_POLY = [
    [[0.05, 0.05], [8.85, 0.15], [4.45, 9.15]],
    [[3.05, 2.05], [5.55, 2.15], [4.35, 4.85]],
]


def q97_st_contains(spark: SparkSession, sf: str) -> DataFrame:
    """ST_Contains_Point (sql/builtin_geo_functions.cc:71-282):
    point-in-polygon with a hole ring (RFC 7946 §3.1.6) over a grid
    of points derived from customer keys, ray-cast in pure JVM
    higher-order functions. The oracle replays containment with
    explicit edge-sign tests, so a crossing-parity or hole-logic bug
    breaks the hash."""
    from mldb_spark.functions.core import st_contains_point

    cust = load(spark, sf, "customer").filter(F.col("c_custkey") <= 500)
    lat = (F.col("c_custkey") % 97).cast("double") / 10.0
    lon = ((F.col("c_custkey") * 7) % 89).cast("double") / 10.0
    return cust.select(
        F.col("c_custkey").cast("long").alias("ck"),
        F.round(lat, 1).alias("lat"),
        F.round(lon, 1).alias("lon"),
        st_contains_point(F.lit(Q97_POLY), lat, lon).alias("inside"),
    ).orderBy("ck")


def q98_winnow_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (Schleimer/Wilkerson/Aiken
    SIGMOD 2003) over the documents table: k-token shingle hashes →
    window minima → distinct fingerprints, summarized per doc. The
    oracle replays the whole pipeline with DuckDB list ops over the
    same md5-prefix hashes, so a shingle-ordering, window-slide or
    dedup bug breaks the hash."""
    from mldb_spark.dedup import winnow_fingerprints

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
    fps = winnow_fingerprints(docs, k=4, window=4)
    return (
        fps.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.min("fingerprint").alias("min_fp"),
            F.max("fingerprint").alias("max_fp"),
        )
        .orderBy("doc_id")
    )


def q99_bpe_token_budget(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-style pretokenization (the GPT-2 regex family, RE2-safe so
    DuckDB replays it): per-source pretoken budget stats — the
    standard corpus-size accounting an LLM data pipeline runs before
    training. Whitespace token_count rides along for the
    words-vs-pretokens ratio."""
    from mldb_spark.functions.text import bpe_pretoken_count

    docs = load(spark, sf, "documents")
    per_doc = docs.select(
        F.col("source"),
        bpe_pretoken_count(F.col("text")).alias("n_pre"),
        token_count(F.col("text")).alias("n_words"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_pre").alias("total_pretokens"),
            F.max("n_pre").alias("max_pretokens"),
            round_avg(F.avg("n_pre"), 4).alias("avg_pretokens"),
            F.sum("n_words").alias("total_words"),
        )
        .orderBy("source")
    )


def qa01_sqlite_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    """sqliteSparse dataset (plugins/sqlite/sqlite_dataset.cc:856) as
    a live round-trip gate: events→cells → export_sqlite_sparse
    (vals/rows/cols dictionary layout, :732-751) → import back →
    per-column aggregate. The oracle recomputes the aggregate from
    the parquet directly, so a dictionary-interning, TEXT-typing or
    timestamp-scale bug in either sqlite direction breaks the hash."""
    from mldb_spark.operators.temporal import events_to_cells
    from mldb_spark.sources.sqlite_io import export_sqlite_sparse, import_sqlite_sparse

    cells = events_to_cells(load(spark, sf, "events")).filter(
        F.col("row").cast("long") < 20
    )
    path = f"/tmp/mldb_spark_qa01_{os.path.basename(sf)}.db"
    if os.path.exists(path):
        os.remove(path)
    export_sqlite_sparse(cells, path)
    back = import_sqlite_sparse(spark, path)
    return (
        back.groupBy(F.col("column"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.countDistinct("row").alias("n_rows"),
            F.round(F.min(F.col("value").cast("double")), 2).alias("vmin"),
            F.round(F.max(F.col("value").cast("double")), 2).alias("vmax"),
            F.max("ts").alias("latest_ts"),
        )
        .orderBy("column")
    )


def qa02_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination (corpus.decontaminate): docs with
    doc_id % 50 == 0 play the eval set, the rest the training corpus;
    corpus docs sharing any 4-token shingle with the eval set are
    dropped. Per-source kept/total counts. The oracle replays the
    shingle overlap with DuckDB list ops, so a shingle-window,
    broadcast-semi-join or anti-join bug breaks the hash."""
    from mldb_spark.corpus import decontaminate

    docs = load(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    kept = decontaminate(corpus, bench, n=4)
    return (
        corpus.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_corpus"))
        .join(
            kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept")),
            "source",
            "left",
        )
        .fillna(0, subset=["n_kept"])
        .select(
            "source",
            F.col("n_corpus").cast("long").alias("n_corpus"),
            F.col("n_kept").cast("long").alias("n_kept"),
            (F.col("n_corpus") - F.col("n_kept")).cast("long").alias("n_contaminated"),
        )
        .orderBy("source")
    )


def qa03_quality_rules(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style repetition signals (corpus.repetition_signals):
    per-doc word/line repetition + top-word mass + the combined
    passes rule, for doc_id < 150. The oracle recomputes every signal
    with DuckDB list ops and an unnest+argmax for the top word, so a
    tokenize, distinct-count or threshold bug breaks the hash."""
    from mldb_spark.corpus import repetition_signals

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 150)
    sig = repetition_signals(docs)
    return sig.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        "frac_dup_words",
        "frac_top_word",
        "passes",
    ).orderBy("doc_id")


def qa04_mixture_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature mixture sampling (corpus.mixture_sample) at
    alpha=0.5 over (source, n_chars) with the Knuth-hash keep rule.
    Per-source kept counts + kept weight. The oracle replays the
    whole pipeline — per-source weights, alpha-tempered rates, the
    integer-hash keep decision — in plain SQL, so a rate-derivation
    or hash-threshold bug breaks the hash."""
    from mldb_spark.corpus import mixture_sample

    docs = load(spark, sf, "documents")
    kept = mixture_sample(
        docs, source_col="source", weight_col="n_chars", key_col="doc_id", alpha=0.5
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
        .orderBy("source")
    )


def qa05_pii_redaction(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction (functions.text.redact_pii / pii_counts):
    deterministic synthetic PII (email, IPv4, conditional SSN, phone)
    appended to each doc's text, redacted by the staged regexp chain.
    The md5 of the redacted text makes the gate sensitive to a single
    boundary character; the staged counts pin the audit view. The
    oracle replays the same chain with RE2 'g'-flag regexps."""
    from mldb_spark.functions.text import pii_counts, redact_pii

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 200)
    d = F.col("doc_id")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com or call +1 (555) 01"),
        F.lpad((d % 100).cast("string"), 2, "0"),
        F.lit("-3456 at 10."),
        (d % 256).cast("string"),
        F.lit(".0.1"),
        F.when(d % 3 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
    )
    withp = docs.select(d.cast("long").alias("doc_id"), synth.alias("t"))
    c = pii_counts(F.col("t"))
    return withp.select(
        "doc_id",
        c["email"].alias("n_email"),
        c["ip"].alias("n_ip"),
        c["id"].alias("n_ssn"),
        c["phone"].alias("n_phone"),
        F.md5(redact_pii(F.col("t"))).alias("redacted_md5"),
        F.length(redact_pii(F.col("t"))).cast("long").alias("redacted_len"),
    ).orderBy("doc_id")


def qa06_line_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document span dedup (corpus.dedup_lines over
    explode_pseudo_lines): 8-token pseudo-lines, each distinct line
    survives once at its first (doc, pos) occurrence — the C4-style
    pass. Per-doc total vs kept line counts. The oracle replays the
    chunking with list slicing and the first-occurrence rule with a
    row_number window, so a chunk-boundary or ordering bug breaks
    the hash."""
    from mldb_spark.corpus import dedup_lines, explode_pseudo_lines

    docs = load(spark, sf, "documents")
    lines = explode_pseudo_lines(docs, tokens_per_line=8)
    kept = dedup_lines(lines)
    return (
        lines.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .join(
            kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_kept")),
            "doc_id",
            "left",
        )
        .fillna(0, subset=["n_kept"])
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_lines").cast("long").alias("n_lines"),
            F.col("n_kept").cast("long").alias("n_kept"),
        )
        .orderBy("doc_id")
    )


def qa07_pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence packing (corpus.pack_sequences): FFD-pack every doc's
    token budget into 256-token context windows across 8 hash
    buckets; per-bucket packing audit. Rows-only (FFD assignment is
    imperative, not SQL-replayable); the bin-capacity, exactly-once
    and efficiency invariants are pinned in tests/test_corpus.py."""
    from mldb_spark.corpus import pack_sequences, packing_stats

    docs = load(spark, sf, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(docs, max_tokens=256, n_buckets=8)
    return (
        packing_stats(packed, max_tokens=256)
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.col("n_seqs").cast("long").alias("n_seqs"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("packed_tokens").cast("long").alias("packed_tokens"),
            F.col("n_overflow").cast("long").alias("n_overflow"),
            "efficiency",
        )
        .orderBy("bucket")
    )


def qa08_unigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    """Unigram LM quality score (corpus.unigram_logprob_scores): the
    corpus-as-language-model perplexity proxy, per doc for
    doc_id < 150 (vocab and totals still come from the FULL corpus).
    The oracle replays both passes — corpus vocab counts, smoothed
    log-probabilities, per-doc means — in SQL, so a smoothing,
    join-multiplicity or totals bug breaks the hash."""
    from mldb_spark.corpus import unigram_logprob_scores

    docs = load(spark, sf, "documents")
    scores = unigram_logprob_scores(docs, smoothing=0.5)
    return (
        scores.filter(F.col("doc_id") < 150)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "n_toks",
            "avg_logprob",
            "min_logprob",
        )
        .orderBy("doc_id")
    )


def qa09_time_arithmetic(spark: SparkSession, sf: str) -> DataFrame:
    """Time-value operator rules through the dialect
    (ValueExpression.md §Operators on time values + INTERVAL literals,
    sql/interval.cc): bare numbers are DAYS on timestamps, interval
    literals follow the unit grammar. The oracle replays the
    arithmetic with DuckDB's native INTERVAL types, so a coercion or
    unit-parsing bug breaks the hash."""
    ctx = _dialect_ctx(spark, sf)
    return ctx.query(
        "SELECT event_id, ts + 1 AS next_day, ts - 0.25 AS back6h, "
        "ts + INTERVAL '2h 30m' AS in150m, ts + INTERVAL '1w' AS in1w "
        "FROM events WHERE event_id < 300 ORDER BY event_id"
    )


def qa13_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup PAIRS resolved into duplicate GROUPS via distributed
    connected components (dedup.connected_components — min-label
    propagation with pointer jumping over a node-keyed adjacency
    table, one Spark action per round).
    Edges: exact-fingerprint duplicates UNION id chains (i ↔ i+1
    when i%10 < 9 — ten-node transitive chains the closure must
    merge). The DuckDB oracle replays the closure with a recursive
    CTE, so a propagation bug (missed transitivity, wrong canonical
    id) breaks the hash."""
    from mldb_spark.dedup import connected_components
    from mldb_spark.functions.text import doc_fingerprint

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 500)
    fp = docs.select("doc_id", doc_fingerprint(F.col("text")).alias("fp"))
    exact_pairs = (
        fp.groupBy("fp")
        .agg(F.min("doc_id").alias("a"), F.collect_set("doc_id").alias("ids"))
        .select("a", F.explode("ids").alias("b"))
        .filter(F.col("a") < F.col("b"))
    )
    chain_pairs = docs.filter(F.col("doc_id") % 10 < 9).select(
        F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b")
    ).join(docs.select(F.col("doc_id").alias("b")), "b", "left_semi")
    pairs = exact_pairs.union(chain_pairs.select("a", "b"))
    return (
        # driver_cutoff=0 forces the DISTRIBUTED pointer-jump loop so
        # the scale path (not the small-graph union-find shortcut)
        # is what this oracle gate checks
        connected_components(pairs, driver_cutoff=0)
        .orderBy("node")
        .select(F.col("node").cast("long"), F.col("component").cast("long"))
    )


def qa14_url_canonicalize(spark: SparkSession, sf: str) -> DataFrame:
    """URL canonicalization for crawl dedup (functions.web.
    canonicalize_url): lowercase scheme/host, strip fragments and
    tracking params, drop default ports and www., trim trailing
    slashes. URLs are synthesized deterministically from document
    fields with every rule triggered; the oracle writes the expected
    canonical form directly, so any rule drift breaks the hash.
    Scale shape: pure JVM regexp chain, rides whole-stage codegen."""
    from mldb_spark.functions.web import canonicalize_url

    docs = load(spark, sf, "documents").filter(F.col("doc_id") < 3000)
    url = F.concat(
        F.lit("HTTPS://WWW."), F.upper("source"), F.lit(".example.com:443/"),
        F.col("lang"), F.lit("/d"), F.col("doc_id"),
        F.lit("/?utm_source=feed&id="), F.col("doc_id"),
        F.lit("&fbclid=x#section"),
    )
    return (
        docs.select(
            "doc_id",
            url.alias("raw_url"),
            canonicalize_url(url).alias("canon"),
        )
        .orderBy("doc_id")
    )


def qa15_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact percentile/median aggregates per group (corpus length
    distribution stats): sort-based with linear interpolation,
    matching DuckDB's quantile_cont bit-for-bit after a 6-decimal
    round. Scale shape: Spark's percentile is a single-pass
    partial-aggregable sketch-free exact implementation (per-group
    sorted merge) — one shuffle on the group key."""
    ctx = _dialect_ctx(spark, sf)
    ctx.register("documents", load(spark, sf, "documents"))
    return ctx.query(
        "SELECT source, count(*) AS n, "
        "round(percentile(n_chars, 0.5), 6) AS p50, "
        "round(percentile(n_chars, 0.9), 6) AS p90, "
        "round(percentile(n_chars, 0.99), 6) AS p99, "
        "round(median(n_chars), 6) AS med "
        "FROM documents GROUP BY source ORDER BY source"
    )


# QUERIES registry is built at the END of this module so every
# gate defined below still registers.


def qa10_date_part_units(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's date_part unit table through the dialect
    (types/date.cc:714-846; MLDB-906): 0-based doy/week, dow
    0=Sunday, the iso8601 family, integer (month/4)+1 quarter, and
    week-truncation to the previous Sunday. The DuckDB oracle
    replays each unit with explicit formulas, so any unit-mapping
    drift breaks the hash."""
    ctx = _dialect_ctx(spark, sf)
    out = ctx.query(
        "SELECT event_id, "
        "date_part('doy', ts) AS doy0, date_part('week', ts) AS week0, "
        "date_part('dow', ts) AS dow, date_part('isodow', ts) AS isodow, "
        "date_part('isoweek', ts) AS isoweek, "
        "date_part('isoyear', ts) AS isoyear, "
        "date_part('quarter', ts) AS qtr, "
        "cast(date_trunc('week', ts) as string) AS wk_sunday, "
        "cast(date_trunc('quarter', ts) as string) AS qtr_start "
        "FROM events WHERE event_id < 500 ORDER BY event_id"
    )
    ints = ("doy0", "week0", "dow", "isodow", "isoweek", "isoyear", "qtr")
    return out.select(
        "event_id",
        *[F.col(c).cast("long").alias(c) for c in ints],
        "wk_sunday",
        "qtr_start",
    )


def qa11_p_norms(spark: SparkSession, sf: str) -> DataFrame:
    """p-norm family over real embeddings (builtin_functions.cc:
    1704-1749; MLDB-953): p=0 non-zero count, p=1 plain total, p=2
    l2, p=inf max element. DuckDB replays with list_* lambdas in
    float64 — both engines fold the list left-to-right, so values
    match exactly after a 6-decimal round."""
    ctx = _dialect_ctx(spark, sf)
    ctx.register("embeddings", load(spark, sf, "embeddings"))
    out = ctx.query(
        "SELECT vec_id, norm(embedding, 0) AS n0, "
        "round(norm(embedding, 1), 6) AS n1, "
        "round(norm(embedding, 2), 6) AS n2, "
        "round(norm(embedding, inf), 6) AS ninf "
        "FROM embeddings WHERE vec_id < 500 ORDER BY vec_id"
    )
    return out.select(
        "vec_id",
        F.col("n0").cast("double").alias("n0"),
        "n1", "n2", "ninf",
    )


def qa12_row_number(spark: SparkSession, sf: str) -> DataFrame:
    """SELECT-only rowNumber()/totalRows() builtins
    (row_number_builtin_fct_test / total_rows_builtin_fct_test):
    1-based numbering in the statement's ORDER BY, count of the
    post-WHERE row set. Oracle replays with ANSI window functions."""
    ctx = _dialect_ctx(spark, sf)
    return ctx.query(
        "SELECT event_id, rowNumber() AS rn_num, totalRows() AS total "
        "FROM events WHERE event_id < 1000 ORDER BY event_id"
    )


def qa16_get_all_where(spark: SparkSession, sf: str) -> DataFrame:
    """GET_ALL with a general multi-column WHERE, from SQL: the
    all_cells() dataset function pivots the GET_LATEST view to the
    columns the predicate names (core/bound_queries.cc:385,394
    evaluates WHERE at GET_LATEST), filters with the arbitrary row
    expression, and surviving rows emit their full superposition.
    Oracle replays via a DuckDB arg_max pivot + semi-join. Scale
    shape: one partial-agg shuffle to latest, a narrow conditional-
    aggregation pivot (only the 2 predicate columns), one semi-join —
    the cell scan itself never re-reads."""
    from mldb_spark.operators.temporal import events_to_cells

    ctx = _dialect_ctx(spark, sf)
    cells = events_to_cells(load(spark, sf, "events"))
    ctx.register("ecells", cells, ts_col="ts")
    return ctx.query(
        "SELECT row, column, round(value, 2) AS value, ts "
        "FROM all_cells(ecells, purchase > 200 AND click < 100) "
        "ORDER BY row, column, ts"
    )


def qa17_corpus_sql_surface(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus tier reached from SQL (beyond-reference dialect
    surface): FROM decontaminate(corpus, benchmark, {n: 4}) composed
    with the redact_pii scalar in the select list. Same shingle
    parameters as qa02, so the oracle replays the overlap with DuckDB
    list ops and the redaction with the shared PII pattern constants.
    Scale shape identical to qa02/qa05: benchmark shingles broadcast,
    corpus never shuffles, redaction is a pure-JVM regexp chain."""
    ctx = _dialect_ctx(spark, sf)
    docs = load(spark, sf, "documents")
    ctx.register("corpusdocs", docs.filter(F.col("doc_id") % 50 != 0))
    ctx.register("benchdocs", docs.filter(F.col("doc_id") % 50 == 0))
    return ctx.query(
        "SELECT source, count(*) AS n_kept, "
        "sum(length(redact_pii(text || ' x@y.com'))) AS red_len "
        "FROM decontaminate(corpusdocs, benchdocs, {n: 4}) "
        "GROUP BY source ORDER BY source"
    ).select(
        "source",
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("red_len").cast("long").alias("red_len"),
    )


def qa18_feature_tables(spark: SparkSession, sf: str) -> DataFrame:
    """distTable.train + statsTable.train feature generation
    (plugins/feature_gen/dist_table_procedure.cc:842,
    stats_table_procedure.cc:1001; MLDB-1750/MLDB-873): per KEY
    COLUMN leak-free running stats of strictly-prior outcomes —
    count/avg/min/max of o_totalprice per customer plus prior-trial /
    prior-positive counts per order priority. The oracle replays
    every window with ANSI frames, so a frame-boundary or NULL-mask
    bug breaks the hash. One shuffle per key column."""
    from mldb_spark.operators.relational import dist_table_multi, stats_table_multi

    orders = load(spark, sf, "orders").filter(F.col("o_custkey") < 500)
    seq = [F.col("o_orderdate"), F.col("o_orderkey")]
    out = dist_table_multi(
        orders, seq, ["o_custkey"], {"price": F.col("o_totalprice")},
        statistics=("count", "avg", "min", "max"),
    )
    out = stats_table_multi(
        out, seq, ["o_orderpriority"],
        {"big": F.col("o_totalprice") > 150000},
    )

    def num(c, nd=2):
        col = F.col(c)
        return F.when(
            col.isNull() | F.isnan(col), F.lit(-1.0)
        ).otherwise(F.round(col + F.lit(1e-9), nd))

    return out.select(
        "o_orderkey",
        F.col("`price.o_custkey.count`").cast("long").alias("cust_n"),
        num("`price.o_custkey.avg`", 4).alias("cust_avg"),
        num("`price.o_custkey.min`").alias("cust_min"),
        num("`price.o_custkey.max`").alias("cust_max"),
        F.col("`trial.o_orderpriority`").cast("long").alias("prio_trials"),
        F.col("`big.o_orderpriority`").cast("long").alias("prio_big"),
    ).orderBy("o_orderkey")


def qa19_summary_statistics(spark: SparkSession, sf: str) -> DataFrame:
    """summary.statistics procedure over part
    (builtin/summary_statistics_proc.cc:516;
    summary_stats_proc_test.py field set): number vs categorical
    typing, exact num_unique, discrete quartiles (percentile_disc —
    never interpolation), sample stddev. Oracle replays each column
    as a one-row aggregate (quantile_disc in DuckDB) unioned
    together. Plan: one wide single-pass agg + one stacked
    (column,value) shuffle for exact distincts — no Expand node, no
    per-column jobs."""
    from mldb_spark.operators.relational import summary_statistics

    part = load(spark, sf, "part")
    out = summary_statistics(part, ["p_size", "p_retailprice", "p_type"])

    def num(c, nd=4):
        col = F.col(c)
        return F.when(
            col.isNull() | F.isnan(col), F.lit(-1.0)
        ).otherwise(F.round(col + F.lit(1e-9), nd))

    return out.select(
        "column", "data_type",
        F.col("num_null").cast("long").alias("num_null"),
        F.col("num_unique").cast("long").alias("num_unique"),
        num("min").alias("min_v"), num("max").alias("max_v"),
        num("avg").alias("avg_v"), num("stddev").alias("std_v"),
        num("q1").alias("q1_v"), num("median").alias("med_v"),
        num("q3").alias("q3_v"),
    ).orderBy("column")


def qa20_cells_temporal_sql(spark: SparkSession, sf: str) -> DataFrame:
    """The temporal cells SQL surface end-to-end (MLDB-1235/1586/605
    semantics; core/bound_queries.cc:385,394): events registered as a
    cells dataset, plain column refs read GET_LATEST, temporal_*
    reduce each row's superposition — in the select list AND in
    WHERE. The oracle replays with FILTERed aggregates + arg_max per
    user. Plan: one hash-agg per distinct temporal call + the latest
    pivot, all joined on the row key — no Python, no wide pivots."""
    from mldb_spark.dialect import MldbContext
    from mldb_spark.operators.temporal import events_to_cells

    ctx = MldbContext(spark)
    cells = events_to_cells(load(spark, sf, "events"))
    ctx.register_cells("ec", cells)
    out = ctx.query(
        "SELECT rowName() AS r, temporal_count(purchase) AS n_p, "
        "round(temporal_sum(purchase) + 0.000000001, 2) AS sum_p, "
        "round(temporal_max(click) + 0.000000001, 2) AS max_c, "
        "round(purchase + 0.000000001, 2) AS latest_p "
        "FROM ec WHERE temporal_count(purchase) >= 2 ORDER BY r"
    )
    return out.select(
        "r",
        F.col("n_p").cast("long").alias("n_p"),
        "sum_p",
        F.coalesce("max_c", F.lit(-1.0)).alias("max_c"),
        "latest_p",
    )


def qa21_dedup_chain_sql(spark: SparkSession, sf: str) -> DataFrame:
    """The full canonical dedup chain from SQL (VERDICT r5 #5):
    FROM dedup_groups(minhash_pairs(documents, {...})) — MinHash+LSH
    banding candidate pairs resolved into duplicate groups by
    pointer-jumping connected components, composed as nested
    FROM-clause dataset functions through the dialect. The DuckDB
    oracle replays the whole chain: md5-family minhash signatures,
    banded candidate join, agreement scoring, then a recursive-CTE
    transitive closure with min-id canonical labels. Scale shape:
    the exploded (band, key) single equi-self-join feeding O(log d)
    label-propagation rounds — no new shuffles added by the SQL
    surface."""
    ctx = _dialect_ctx(spark, sf)
    ctx.register("documents", load(spark, sf, "documents"))
    return ctx.query(
        "SELECT node, component FROM dedup_groups(minhash_pairs("
        "documents, {numHashes: 16, bands: 4, threshold: 0.25, "
        "shingleWords: 3})) ORDER BY node"
    ).select(F.col("node").cast("long"), F.col("component").cast("long"))


def qa22_cells_when_sql(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cell WHEN through SQL (round-6 surface; MLDB-963/909
    semantics): value_timestamp() BETWEEN a fixed window AND below
    each row's latest cell stamp — the superposition filters BEFORE
    the GET_LATEST read, so the visible purchase value is the latest
    SURVIVOR, not the global latest. Oracle replays by filtering the
    cell rows then arg_max-pivoting. Scale: the WHEN filter is one
    scan over cells + per-row ts-aggregate joins; the rebuilt latest
    view keeps the same single-shuffle pivot plan (probe table in
    STATUS, flat at 16x)."""
    from mldb_spark.dialect import MldbContext
    from mldb_spark.operators.temporal import events_to_cells

    ctx = MldbContext(spark)
    cells = events_to_cells(load(spark, sf, "events"))
    ctx.register_cells("ew", cells)
    out = ctx.query(
        "SELECT rowName() AS r, "
        "round(purchase + 0.000000001, 2) AS surv_p, "
        "round(click + 0.000000001, 2) AS surv_c "
        "FROM ew "
        "WHEN value_timestamp() < latest_timestamp({*}) "
        "WHERE purchase IS NOT NULL ORDER BY r"
    )
    return out.select(
        "r", "surv_p", F.coalesce("surv_c", F.lit(-1.0)).alias("surv_c")
    )


def qa23_tfidf_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """The reference tfidf FUNCTION's scoring matrix
    (plugins/nlp/tfidf.cc:357-420; MLDB-1101) over the documents
    corpus: augmented tf x inverseMax idf — the combination exercising
    BOTH per-doc maxima (max term frequency and max df among the
    doc's terms). The DuckDB oracle replays tokenization, document
    frequencies, the window maxima, and the closed-form score. Scale
    shape: one broadcast df-join + one per-doc window."""
    from mldb_spark.functions.text import tokenize
    from mldb_spark.ml.procedures import tfidf_score_table

    docs = load(spark, sf, "documents").filter(F.col("doc_id") % 20 == 0)
    toks = docs.select(
        F.col("doc_id"), F.explode(tokenize(F.col("text"))).alias("term")
    )
    bags = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("frequency")
    )
    dfs = bags.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # corpus_size is UNUSED by the (augmented, inverseMax) combination
    # — neither expression references N — so the eager docs.count()
    # here was a wasted full corpus pass (optimization r9). None makes
    # the coupling explicit: tfidf_score_table raises if an
    # N-dependent idf flavor is ever requested without a real count.
    out = tfidf_score_table(
        bags, dfs, None, tf_type="augmented", idf_type="inverseMax"
    )
    return (
        out.filter(F.col("term").isin("the", "data", "model", "learning"))
        .select(
            "doc_id", "term",
            F.round(F.col("score") + 1e-9, 6).alias("score"),
        )
        .orderBy("doc_id", "term")
    )


def qa24_semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (arXiv:2303.09540) over
    the embeddings table: seeded-hyperplane banding (the q31
    candidate set), cosine components, every member mapped to its
    component's minimum id. The oracle replays the banding + cosine
    pairs with a recursive-CTE closure. Scale shape: one banding
    shuffle over the corpus; component resolution on the pair set."""
    from mldb_spark.similarity import semantic_dedup, seeded_planes

    emb = load(spark, sf, "embeddings")
    return (
        semantic_dedup(
            emb, threshold=0.4, planes=seeded_planes(64, num_planes=64),
            bands=8,
        )
        .select(
            F.col("vec_id").cast("long"),
            F.col("survivor").cast("long"),
            F.col("is_duplicate").cast("long"),
        )
        .orderBy("vec_id")
    )


def qa25_corpus_chain_sql(spark: SparkSession, sf: str) -> DataFrame:
    """The remaining corpus-tier passes from SQL (VERDICT r6 #7):
    unigram_logprob_scores() JOINed with repetition_signals() as
    FROM-clause dataset functions through the dialect — quality
    scoring the whole corpus two ways in one statement (the third new
    surface, pack_sequences(), is covered by pytest since FFD bin
    assignment is imperative). The DuckDB oracle replays both passes
    (corpus-wide vocab + smoothed per-doc logprob means; the Gopher
    repetition signals) and the join, so a tokenize, smoothing,
    totals or signal bug on EITHER side breaks the hash. Scale shape:
    the same single-shuffle plans as qa03/qa08 plus one equi-join on
    doc id."""
    ctx = _dialect_ctx(spark, sf)
    ctx.register("documents", load(spark, sf, "documents"))
    return ctx.query(
        "SELECT u.doc_id AS doc_id, r.n_words AS n_words, "
        "r.frac_top_word AS frac_top_word, u.avg_logprob AS avg_logprob, "
        "r.passes AS passes "
        "FROM unigram_logprob_scores(documents) AS u "
        "JOIN repetition_signals(documents) AS r ON u.doc_id = r.doc_id "
        "WHERE u.doc_id < 150 ORDER BY doc_id"
    ).select(
        F.col("doc_id").cast("long"),
        F.col("n_words").cast("long"),
        "frac_top_word",
        "avg_logprob",
        "passes",
    )


def qa26_ordered_string_agg(spark: SparkSession, sf: str) -> DataFrame:
    """3-argument string_agg through the dialect (MLDB-1554): the
    concatenation is ordered by the third expression. DuckDB replays
    with its native string_agg(... ORDER BY ...) — an ordering or
    separator bug breaks the hash."""
    ctx = _dialect_ctx(spark, sf)
    return ctx.query(
        "SELECT o_orderpriority AS priority, "
        "string_agg(o_orderstatus, ',', o_orderkey) AS statuses, "
        "count(*) AS n "
        "FROM orders WHERE o_orderkey < 400 "
        "GROUP BY o_orderpriority ORDER BY priority"
    )


def qa27_cross_type_order(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-type ORDER BY semantics (MLDB-989; reference
    sql/expression_value.cc ordering NULL < numbers < rows <
    embeddings, rows as name-sorted cell sequences) pinned through a
    LIMIT boundary: the top-XX set under the mixed-type key is only
    right if every rank and within-rank key compares the reference's
    way. The DuckDB oracle replays the encoding with explicit rank +
    per-rank key columns."""
    ctx = _dialect_ctx(spark, sf)
    ctx.register("documents", load(spark, sf, "documents"))
    return ctx.query(
        "SELECT doc_id FROM documents WHERE doc_id < 120 "
        "ORDER BY CASE WHEN doc_id % 4 = 1 THEN {a: n_chars % 7, b: 2} "
        "WHEN doc_id % 4 = 2 THEN n_chars % 5 "
        "WHEN doc_id % 4 = 3 THEN [n_chars % 3, 1] "
        "ELSE NULL END, doc_id "
        "LIMIT 47"
    ).select(F.col("doc_id").cast("long"))


def qa28_natural_path_order(spark: SparkSession, sf: str) -> DataFrame:
    """Natural path-element ordering (types/path.h PathElement
    comparison, sql/testing/path_test.cc): numeric row names order by
    VALUE, so ORDER BY rowPath() gives 0,1,2,...,30 — plain string
    order would give 0,1,10,100,... The LIMIT boundary makes the
    difference hash-visible; DuckDB replays with a numeric sort."""
    ctx = _dialect_ctx(spark, sf)
    docs = load(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("rowName"), "n_chars"
    )
    ctx.register("docs_named", docs, row_name_col="rowName")
    return ctx.query(
        "select rowName() as r from docs_named order by rowPath() limit 31"
    )


def qa29_column_expr_nested(spark: SparkSession, sf: str) -> DataFrame:
    """COLUMN EXPR default-flatten vs STRUCTURED over an IMPORTED
    nested-JSON dataset (SelectExpression.md:44-128, MLDB-1933;
    VERDICT r7 #5 asked for exactly this battery as a gate). The
    default variant processes atomic leaves of the flattened
    representation — the per-column transform binds value() to the
    geo leaves three path elements deep and upper-cases them; the
    STRUCTURED variant keeps top-level columns whole, so the LIMIT 3
    alphabetical cut picks (id, type, user) with `user` intact as a
    struct, proving the column was NOT flattened (a flattening bug
    would make the later struct field access fail or shift the
    picked columns). Both variants aggregate per country and union,
    each replayed closed-form by DuckDB read_json_auto."""
    from mldb_spark.dialect import MldbContext
    from mldb_spark.sources.text_io import import_json

    ctx = MldbContext(spark)
    ev = import_json(spark, f"{_FIXTURE_DIR}/events_sample.jsonl")
    ctx.register("ev", ev)
    flat = ctx.query(
        "SELECT COLUMN EXPR (SELECT upper(value()) WHERE columnPathLength() = 3 "
        "ORDER BY columnName()) FROM ev"
    )
    flat_agg = (
        flat.groupBy(F.col("`user.geo.cc`").alias("cc"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min(F.col("`user.geo.city`")).alias("first_val"),
        )
        .withColumn("variant", F.lit("flat"))
    )
    structured = ctx.query(
        "SELECT COLUMN EXPR STRUCTURED (ORDER BY columnName() LIMIT 3) FROM ev"
    )
    s_agg = (
        structured.select(
            F.col("user.geo.cc").alias("cc"), F.col("user.name").alias("nm")
        )
        .groupBy("cc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("nm").alias("first_val"),
        )
        .withColumn("variant", F.lit("structured"))
    )
    return (
        flat_agg.unionByName(s_agg)
        .select("variant", "cc", "n", "first_val")
        .orderBy("variant", "cc")
    )


def qa30_roc_table(spark: SparkSession, sf: str) -> DataFrame:
    """classifier.test's per-threshold OUTPUT DATASET as an
    oracle-backed gate (plugins/jml/accuracy.cc; exact rows pinned by
    testing/test_classifier_test_proc.py, ported round 8): one row
    per held-out example with rank index, cumulative weighted
    TP/FN/TN/FP and derived rates at that example's score threshold
    — tied scores share one threshold (range frame). The fitted
    coefficients export to a fixture; the oracle replays the sigmoid
    scoring AND the full window sweep closed-form, so a frame bug
    (rows-vs-range), a tie-handling bug, or a rate denominator bug
    all break the hash. Scale shape: one partial agg for the totals +
    one sort-based window over the scored set."""
    from mldb_spark.ml.procedures import (
        classifier_test_roc,
        classifier_train,
    )
    from mldb_spark.ml.registry import FunctionRegistry

    reg = FunctionRegistry()
    feats = _order_features(spark, sf)
    train = feats.filter(F.col("o_orderkey") % 5 != 0)
    test = feats.filter(F.col("o_orderkey") % 5 == 0)
    model = classifier_train(
        train, ["f_year", "f_month", "f_priority", "f_cust"], "label",
        "clf_qa30", reg,
    )
    w = [float(c) for c in model.coefficients]
    export_oracle_fixture(
        "qa30_coefs",
        {"w_year": w[0], "w_month": w[1], "w_prio": w[2], "w_cust": w[3],
         "b": float(model.intercept)},
    )
    roc = classifier_test_roc(reg.apply("clf_qa30", test))
    return roc.select(
        F.col("index").cast("long").alias("idx"),
        F.col("label"),
        F.round(F.col("score") + 1e-9, 4).alias("score_r"),
        F.col("truePositives").alias("tp"),
        F.col("falseNegatives").alias("fn"),
        F.round(F.col("truePositiveRate") + 1e-9, 4).alias("tpr"),
        F.col("trueNegatives").alias("tn"),
        F.col("falsePositives").alias("fp"),
        F.round(F.col("falsePositiveRate") + 1e-9, 4).alias("fpr"),
        F.round(F.col("accuracy") + 1e-9, 4).alias("acc"),
        F.round(F.col("precision") + 1e-9, 4).alias("prec"),
    ).orderBy("idx", "label")


# ---------------------------------------------------------------------------
# Macro-gates: the reference's own benchmark pipelines (VERDICT r8 #7)
# ---------------------------------------------------------------------------

# per-gate per-stage wall times, recorded by the two pipeline
# macro-gates below and emitted by bench.py as "stages" in
# BENCH_LOCAL.json — mirroring the reference's benchmark_utils
# Timer/Benchmark metric rows
PIPELINE_STAGES: "dict[str, dict[str, float]]" = {}


def _timed_stage(gate: str, stage: str, thunk):
    """Run one pipeline stage and record its wall time. The thunk
    must END IN AN ACTION (count / fit / collect) — the reference's
    procedures each materialize an output dataset, so a lazy stage
    would time nothing."""
    import time as _time

    t0 = _time.time()
    out = thunk()
    PIPELINE_STAGES.setdefault(gate, {})[stage] = round(
        _time.time() - t0, 3
    )
    return out


def qa31_reddit_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's own perf harness, reddit flavor
    (testing/reddit_benchmark.py:23-103), chained as ONE macro-gate:
    import → `tokenize(lineText, {offset: 1, value: 1}) AS *` →
    sparse doc×token dataset → svd.train with the top-4000 vocabulary
    cut (`COLUMN EXPR ... ORDER BY rowCount() DESC ... LIMIT 4000`) →
    kmeans.train (numClusters=20) over the COLUMN embeddings →
    tsne.train → transposed dataset → `columnCount() AS numUsers
    NAMED rowName() + '|1'`. Each stage is forced and wall-timed into
    PIPELINE_STAGES (bench.py emits the rows — the reference's
    benchmark_utils metric table). The final count table is the
    oracle-checked output: DuckDB replays tokenize → transpose →
    columnCount closed-form; the svd/kmeans/tsne stages run inside
    the chain and carry their own oracle gates (q61/q87/q75).

    Stand-in corpus: the documents table rendered to the reddit CSV
    line shape `user,item,item,...` (the reference's
    s3://private-mldb-ai bucket is private). The bag is materialized
    in the LONG cell layout — the Spark-first re-expression of
    sparse.mutable/beh.mutable, which is what makes the tokenize
    spread and the transpose O(cells) instead of O(rows × vocab)."""
    from mldb_spark.caching import persist_tracked
    from mldb_spark.dialect import MldbContext
    from mldb_spark.ml.procedures import (
        kmeans_train,
        svd_train,
        tsne_train,
    )
    from mldb_spark.ml.registry import FunctionRegistry
    from mldb_spark.operators.relational import transpose_cells

    gate = "qa31_reddit_pipeline"
    PIPELINE_STAGES.pop(gate, None)
    reg = FunctionRegistry()
    docs = load(spark, sf, "documents")
    raw = docs.select(
        "doc_id",
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.translate(F.col("text"), " ", ","),
        ).alias("lineText"),
    )
    ctx = MldbContext(spark)
    ctx.register("reddit_raw", raw)

    def _stage_tokenize():
        bag = ctx.query(
            "SELECT doc_id, tokenize(lineText, {offset: 1, value: 1}) "
            "AS bag FROM reddit_raw"
        )
        cells = persist_tracked(
            bag.select(
                F.col("doc_id"),
                F.explode("bag").alias("column", "value"),
            ).select(
                "doc_id", "column", F.col("value").cast("double").alias("value")
            )
        )
        cells.count()
        return cells

    cells = _timed_stage(gate, "transform_tokenize", _stage_tokenize)

    def _stage_svd():
        # COLUMN EXPR (... ORDER BY rowCount() DESC, columnName()
        # LIMIT 4000): the vocabulary cut — per-column row counts,
        # deterministic tie-break on the column name, top-4000 kept.
        # The cut table is vocab-sized and broadcasts back into the
        # cell scan; at 100 TB only the (column, df) aggregate ever
        # leaves the executors.
        vocab = (
            cells.groupBy("column")
            .agg(F.count(F.lit(1)).alias("__df"))
            .orderBy(F.desc("__df"), F.asc("column"))
            .limit(4000)
            .select("column")
        )
        pruned = cells.join(F.broadcast(vocab), "column")
        n_vocab = vocab.count()
        _rows, col_emb, _svals = svd_train(
            pruned,
            row_col="doc_id",
            k=min(100, n_vocab),  # reference default numSingularValues
            name="qa31_svd",
            registry=reg,
        )
        col_emb = persist_tracked(col_emb)
        col_emb.count()
        return col_emb

    col_emb = _timed_stage(gate, "svd_train", _stage_svd)

    def _stage_kmeans():
        n_terms = col_emb.count()
        kmeans_train(
            col_emb,
            "embedding",
            k=min(20, max(2, n_terms)),  # reference numClusters=20
            seed=42,
            name="qa31_kmeans",
            registry=reg,
        )
        return None

    _timed_stage(gate, "kmeans_train", _stage_kmeans)

    _timed_stage(
        gate,
        "tsne_train",
        lambda: tsne_train(
            col_emb, "embedding", id_col="column",
            max_rows=400, n_iter=250,
        ).count(),
    )

    def _stage_transpose():
        # persisted: the transposed table is consumed twice (the
        # counts stage AND the query's returned frame, which the
        # bench's noop write executes after the stages) — without the
        # persist the O(cells) transpose shuffle runs again at write
        # time, outside any stage figure (guide §2.4).
        tr = persist_tracked(
            transpose_cells(
                cells.select(
                    F.col("doc_id").cast("string").alias("row"),
                    "column",
                    "value",
                )
            )
        )
        tr.count()
        return tr

    transposed = _timed_stage(gate, "transpose", _stage_transpose)

    def _stage_counts():
        # `SELECT columnCount() AS numUsers NAMED rowName() + '|1'`
        # over the transposed dataset: per-token distinct-doc counts
        # — one partial-agg shuffle on the token
        return (
            transposed.groupBy("row")
            .agg(F.count(F.lit(1)).cast("long").alias("numUsers"))
            .select(
                F.concat(F.col("row"), F.lit("|1")).alias("name"),
                "numUsers",
            )
        )

    counts = _timed_stage(gate, "transform_column_count", _stage_counts)
    return counts.orderBy(F.desc("numUsers"), F.asc("name")).limit(20)


def qa32_stackoverflow_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's perf harness, stackoverflow flavor
    (testing/stackoverflow_benchmark.py:23-62) — same chain as qa31
    but with the SO stage ORDER (tokenize → transpose → counts →
    svd → kmeans → tsne), the splitChars/quoteChar:'' tokenize form
    (the MLDB-1873 crash path), COUNT-valued bags (no value: 1
    override — occurrence counts ride into the svd), the top-6000
    vocabulary cut, and numSingularValues=100. Final output adds
    totalCount (sum of bag counts) so the count-valued bag itself is
    oracle-checked, not just token presence."""
    from mldb_spark.caching import persist_tracked
    from mldb_spark.dialect import MldbContext
    from mldb_spark.ml.procedures import (
        kmeans_train,
        svd_train,
        tsne_train,
    )
    from mldb_spark.ml.registry import FunctionRegistry
    from mldb_spark.operators.relational import transpose_cells

    gate = "qa32_stackoverflow_pipeline"
    PIPELINE_STAGES.pop(gate, None)
    reg = FunctionRegistry()
    docs = load(spark, sf, "documents")
    ctx = MldbContext(spark)
    ctx.register(
        "so_raw", docs.select("doc_id", F.col("text").alias("lineText"))
    )

    def _stage_tokenize():
        bag = ctx.query(
            "SELECT doc_id, tokenize(lineText, "
            "{splitChars: ' ', quoteChar: ''}) AS bag FROM so_raw"
        )
        cells = persist_tracked(
            bag.select(
                F.col("doc_id"),
                F.explode("bag").alias("column", "value"),
            ).select(
                "doc_id", "column", F.col("value").cast("double").alias("value")
            )
        )
        cells.count()
        return cells

    cells = _timed_stage(gate, "transform_tokenize", _stage_tokenize)

    def _stage_transpose():
        # persisted for the same two-consumer reason as qa31: the
        # counts stage and the returned frame both execute it.
        tr = persist_tracked(
            transpose_cells(
                cells.select(
                    F.col("doc_id").cast("string").alias("row"),
                    "column",
                    "value",
                )
            )
        )
        tr.count()
        return tr

    transposed = _timed_stage(gate, "transpose", _stage_transpose)

    def _stage_counts():
        return (
            transposed.groupBy("row")
            .agg(
                F.count(F.lit(1)).cast("long").alias("numQuestions"),
                F.sum("value").cast("long").alias("totalCount"),
            )
            .select(
                F.concat(F.col("row"), F.lit("|1")).alias("name"),
                "numQuestions",
                "totalCount",
            )
        )

    counts = _timed_stage(gate, "transform_column_count", _stage_counts)

    def _stage_svd():
        vocab = (
            cells.groupBy("column")
            .agg(F.count(F.lit(1)).alias("__df"))
            .orderBy(F.desc("__df"), F.asc("column"))
            .limit(6000)
            .select("column")
        )
        pruned = cells.join(F.broadcast(vocab), "column")
        n_vocab = vocab.count()
        _rows, col_emb, _svals = svd_train(
            pruned,
            row_col="doc_id",
            k=min(100, n_vocab),  # numSingularValues: 100
            name="qa32_svd",
            registry=reg,
        )
        col_emb = persist_tracked(col_emb)
        col_emb.count()
        return col_emb

    col_emb = _timed_stage(gate, "svd_train", _stage_svd)

    def _stage_kmeans():
        n_terms = col_emb.count()
        kmeans_train(
            col_emb,
            "embedding",
            k=min(20, max(2, n_terms)),
            seed=42,
            name="qa32_kmeans",
            registry=reg,
        )
        return None

    _timed_stage(gate, "kmeans_train", _stage_kmeans)

    _timed_stage(
        gate,
        "tsne_train",
        lambda: tsne_train(
            col_emb, "embedding", id_col="column",
            max_rows=400, n_iter=250,
        ).count(),
    )

    return counts.orderBy(F.desc("numQuestions"), F.asc("name")).limit(20)


QUERIES = {
    name: fn
    for name, fn in sorted(globals().items())
    if name.startswith("q")
    and (name[1:3].isdigit() or (name[1] == "a" and name[2:4].isdigit()))
    and callable(fn)
}
