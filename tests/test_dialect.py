"""MLDB SQL dialect: parser + translator end-to-end against the
testdata tables, verified against equivalent DuckDB SQL (same oracle
style as the main gate) or direct expectations."""

from __future__ import annotations

import pytest

from mldb_spark.catalog import load
from mldb_spark.dialect import MldbContext, parse_statement
from mldb_spark.dialect.parser import parse_expression
from mldb_spark.testing import compare_spark_duck


@pytest.fixture(scope="module")
def ctx(spark, sf_dir):
    c = MldbContext(spark)
    for t in ("region", "nation", "customer", "orders", "lineitem", "part", "documents"):
        c.register(t, load(spark, sf_dir, t))
    c.register("events", load(spark, sf_dir, "events"), ts_col="ts")
    return c


# -- parser ----------------------------------------------------------------


def test_parse_shapes():
    stm = parse_statement(
        "SELECT a, b*2 AS b2 NAMED c FROM t WHEN value_timestamp() > '2024' "
        "WHERE x > 1 GROUP BY g HAVING count(*) > 2 ORDER BY a DESC LIMIT 5 OFFSET 2"
    )
    assert len(stm.select) == 2 and stm.named is not None
    assert stm.when is not None and stm.where is not None
    assert stm.group_by and stm.having is not None
    assert stm.limit == 5 and stm.offset == 2


def test_parse_operators_precedence():
    e = parse_expression("1 + 2 * 3 = 7 AND NOT false")
    # (1 + (2*3)) = 7 AND (NOT false)
    from mldb_spark.dialect import ast

    assert isinstance(e, ast.Binary) and e.op == "and"
    cmp = e.left
    assert isinstance(cmp, ast.Binary) and cmp.op == "="


def test_parse_literals_and_case():
    e = parse_expression("CASE WHEN x > 1 THEN 'big' ELSE 'small' END")
    from mldb_spark.dialect import ast

    assert isinstance(e, ast.Case) and len(e.branches) == 1
    emb = parse_expression("[1, 2, 3]")
    assert isinstance(emb, ast.EmbeddingLiteral) and len(emb.items) == 3
    row = parse_expression("{a: 1, b: x + 1}")
    assert isinstance(row, ast.RowLiteral) and row.fields[0][0] == "a"


# -- translator vs duckdb ---------------------------------------------------


def test_basic_projection_filter(ctx, duck):
    df = ctx.query(
        "SELECT c_custkey, upper(c_mktsegment) AS seg, c_acctbal * 2 AS dbl "
        "FROM customer WHERE c_acctbal > 1000 ORDER BY c_custkey LIMIT 50"
    )
    problems = compare_spark_duck(
        df,
        duck,
        """SELECT c_custkey, upper(c_mktsegment) AS seg, c_acctbal * 2 AS dbl
           FROM customer WHERE c_acctbal > 1000 ORDER BY c_custkey LIMIT 50""",
    )
    assert problems == []


def test_group_by_aggregates(ctx, duck):
    df = ctx.query(
        "SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total "
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    )
    problems = compare_spark_duck(
        df,
        duck,
        """SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
           FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    )
    assert problems == []


def test_join(ctx, duck):
    df = ctx.query(
        "SELECT n_name, count(*) AS n FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name"
    )
    problems = compare_spark_duck(
        df,
        duck,
        """SELECT n_name, count(*) AS n FROM customer
           JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name ORDER BY n_name""",
    )
    assert problems == []


def test_distinct_on(ctx, duck):
    df = ctx.query(
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice "
        "FROM orders ORDER BY o_custkey, o_totalprice DESC, o_orderkey"
    )
    problems = compare_spark_duck(
        df,
        duck,
        """SELECT o_custkey, o_orderkey, o_totalprice FROM (
             SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_custkey, o_totalprice DESC, o_orderkey) rn
             FROM orders) WHERE rn = 1""",
    )
    assert problems == []


def test_when_temporal_filter(ctx, duck):
    df = ctx.query(
        "SELECT event_type, count(*) AS n FROM events "
        "WHEN value_timestamp() BETWEEN '2024-01-10' AND '2024-01-20' "
        "GROUP BY event_type ORDER BY event_type"
    )
    problems = compare_spark_duck(
        df,
        duck,
        """SELECT event_type, count(*) AS n FROM events
           WHERE ts BETWEEN TIMESTAMP '2024-01-10' AND TIMESTAMP '2024-01-20'
           GROUP BY event_type ORDER BY event_type""",
    )
    assert problems == []


def test_named_and_rowname(ctx):
    df = ctx.query(
        "SELECT c_acctbal NAMED c_mktsegment + '-' + cast(c_custkey AS string) "
        "FROM customer LIMIT 10"
    )
    rows = df.collect()
    assert "rowName" in df.columns
    assert all("-" in r["rowName"] for r in rows)


def test_wildcard_excluding(ctx):
    df = ctx.query("SELECT * EXCLUDING (o_orderdate, o_order*) FROM orders LIMIT 1")
    assert set(df.columns) == {"o_custkey", "o_totalprice"}
    df2 = ctx.query("SELECT o_order* FROM orders LIMIT 1")
    assert set(df2.columns) == {"o_orderkey", "o_orderdate", "o_orderstatus", "o_orderpriority"}


def test_open_schema_null(ctx):
    df = ctx.query("SELECT no_such_column AS ghost, c_custkey FROM customer LIMIT 3")
    rows = df.collect()
    assert all(r["ghost"] is None for r in rows)


def test_cast_failure_null(ctx):
    df = ctx.query(
        "SELECT cast(o_orderstatus AS integer) AS bad FROM orders LIMIT 5"
    )
    assert all(r["bad"] is None for r in df.collect())


def test_params(ctx):
    df = ctx.query(
        "SELECT count(*) AS n FROM orders WHERE o_totalprice > $floor",
        params={"floor": 300000},
    )
    n = df.collect()[0]["n"]
    assert 0 < n < 1500


def test_embedding_and_row_literal(ctx):
    df = ctx.query("SELECT [1, 2, 3] AS v, {a: 1, b: 'x'} AS r FROM region LIMIT 1")
    row = df.collect()[0]
    assert row["v"] == [1, 2, 3]
    assert row["r"]["a"] == 1 and row["r"]["b"] == "x"


def test_subselect(ctx, duck):
    df = ctx.query(
        "SELECT seg, count(*) AS n FROM "
        "(SELECT upper(c_mktsegment) AS seg FROM customer WHERE c_acctbal > 0) "
        "GROUP BY seg ORDER BY seg"
    )
    problems = compare_spark_duck(
        df,
        duck,
        """SELECT seg, count(*) AS n FROM
           (SELECT upper(c_mktsegment) AS seg FROM customer WHERE c_acctbal > 0)
           GROUP BY seg ORDER BY seg""",
    )
    assert problems == []


def test_horizontal_and_builtin_functions(ctx, duck):
    df = ctx.query(
        "SELECT l_orderkey, horizontal_max(l_quantity, l_discount) AS hmax, "
        "round(sqrt(l_extendedprice), 4) AS rootp "
        "FROM lineitem WHERE l_orderkey % 97 = 0 ORDER BY l_orderkey, l_linenumber"
    )
    problems = compare_spark_duck(
        df,
        duck,
        """SELECT l_orderkey, greatest(l_quantity, l_discount) AS hmax,
           round(sqrt(l_extendedprice), 4) AS rootp
           FROM lineitem WHERE l_orderkey % 97 = 0 ORDER BY l_orderkey, l_linenumber""",
    )
    assert problems == []


def test_in_select_semi_and_anti(ctx, duck):
    df = ctx.query(
        "SELECT l_returnflag, count(*) AS n FROM lineitem "
        "WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40) "
        "AND l_quantity > 10 GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    problems = compare_spark_duck(
        df,
        duck,
        """SELECT l_returnflag, count(*) AS n FROM lineitem
           WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
             AND l_quantity > 10 GROUP BY l_returnflag ORDER BY l_returnflag""",
    )
    assert problems == []

    inn = ctx.query(
        "SELECT count(*) AS n FROM lineitem WHERE l_partkey IN "
        "(SELECT p_partkey FROM part WHERE p_size > 40)"
    ).collect()[0]["n"]
    out = ctx.query(
        "SELECT count(*) AS n FROM lineitem WHERE l_partkey NOT IN "
        "(SELECT p_partkey FROM part WHERE p_size > 40)"
    ).collect()[0]["n"]
    total = ctx.query("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert inn + out == total and inn > 0 and out > 0


def test_in_keys_values_of(ctx, spark):
    from pyspark.sql import functions as F

    m = spark.createDataFrame([(1,), (2,)], "id int").select(
        "id", F.create_map(F.lit("a"), F.col("id"), F.lit("b"), F.col("id") * 10).alias("m")
    )
    ctx.register("mapped", m)
    assert ctx.query(
        "SELECT count(*) AS n FROM mapped WHERE 'a' IN (KEYS OF m)"
    ).collect()[0]["n"] == 2
    assert ctx.query(
        "SELECT count(*) AS n FROM mapped WHERE 20 IN (VALUES OF m)"
    ).collect()[0]["n"] == 1
    assert ctx.query(
        "SELECT count(*) AS n FROM mapped WHERE 'z' NOT IN (KEYS OF m)"
    ).collect()[0]["n"] == 2


def test_from_clause_dataset_functions(ctx, spark, sf_dir):
    from pyspark.sql import functions as F

    from mldb_spark.catalog import load

    # sample(ds, fraction, seed): deterministic subset
    n = ctx.query("SELECT count(*) AS n FROM sample(orders, 0.5, 42)").collect()[0]["n"]
    total = ctx.query("SELECT count(*) AS n FROM orders").collect()[0]["n"]
    assert 0 < n < total

    # transpose(cells): rows and columns swap
    cells = spark.createDataFrame(
        [("r1", "c1", 1.0), ("r2", "c1", 2.0)], "row string, column string, value double"
    )
    ctx.register("cellset", cells)
    out = ctx.query(
        "SELECT row, count(*) AS n FROM transpose(cellset) GROUP BY row"
    ).collect()
    assert {(r["row"], r["n"]) for r in out} == {("c1", 2)}

    # merge(a, b): column-wise union on rowName, later dataset wins
    a = spark.createDataFrame([("k1", 1), ("k2", 2)], "rowName string, x int")
    b = spark.createDataFrame([("k1", 10), ("k3", 3)], "rowName string, y int")
    ctx.register("ma", a, row_name_col="rowName")
    ctx.register("mb", b, row_name_col="rowName")
    rows = {r["rowName"]: r for r in ctx.query("SELECT * FROM merge(ma, mb)").collect()}
    assert rows["k1"]["x"] == 1 and rows["k1"]["y"] == 10
    assert rows["k3"]["x"] is None and rows["k3"]["y"] == 3


def test_left_join_preserves_unmatched(ctx, duck):
    df = ctx.query(
        "SELECT n_name, count(c_custkey) AS n_cust FROM nation "
        "LEFT JOIN customer ON n_nationkey = c_nationkey "
        "GROUP BY n_name ORDER BY n_name"
    )
    problems = compare_spark_duck(
        df,
        duck,
        """SELECT n_name, count(c_custkey) AS n_cust FROM nation
           LEFT JOIN customer ON n_nationkey = c_nationkey
           GROUP BY n_name ORDER BY n_name""",
    )
    assert problems == []


def test_having(ctx, duck):
    df = ctx.query(
        "SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey "
        "HAVING n >= 12 ORDER BY o_custkey"
    )
    problems = compare_spark_duck(
        df,
        duck,
        """SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
           HAVING count(*) >= 12 ORDER BY o_custkey""",
    )
    assert problems == []


def test_order_by_dropped_source_column(ctx, sf_dir):
    # resolve-then-drop: sort by a source column the SELECT list drops
    rows = ctx.query(
        "SELECT c_name FROM customer ORDER BY c_acctbal DESC LIMIT 3"
    ).collect()
    assert [r.asDict().keys() for r in rows][0] == {"c_name": None}.keys()
    ref = (
        load(ctx.spark, sf_dir, "customer")
        .orderBy("c_acctbal", ascending=False).limit(3).select("c_name").collect()
    )
    assert [r["c_name"] for r in rows] == [r["c_name"] for r in ref]


def test_in_list_non_literal_items(ctx):
    # non-literal IN items must participate, not be silently dropped
    rows = ctx.query(
        "SELECT count(*) AS n FROM orders WHERE o_orderpriority IN ('1-URGENT', o_comment)"
    ).collect()
    urgent = ctx.query(
        "SELECT count(*) AS n FROM orders WHERE o_orderpriority = '1-URGENT'"
    ).collect()
    assert rows[0]["n"] >= urgent[0]["n"] > 0

    rows = ctx.query(
        "SELECT count(*) AS n FROM orders WHERE o_orderpriority IN ($p)",
        params={"p": "1-URGENT"},
    ).collect()
    assert rows[0]["n"] == urgent[0]["n"]


def test_column_expr_in_dialect(ctx):
    # WHERE + ORDER BY + LIMIT over column metadata
    df = ctx.query(
        "SELECT COLUMN EXPR (WHERE columnName() LIKE 'c_%' "
        "ORDER BY columnName() LIMIT 3) FROM customer LIMIT 1"
    )
    assert df.columns == sorted(df.columns) and len(df.columns) == 3
    # AS rename expression + columnPathElement/columnPathLength builtins
    df2 = ctx.query(
        "SELECT COLUMN EXPR (AS columnName() + '_x' WHERE columnPathLength() = 1 "
        "AND columnName() = 'c_acctbal') FROM customer LIMIT 1"
    )
    assert df2.columns == ["c_acctbal_x"]
    # OFFSET skips the first ranked column
    df3 = ctx.query(
        "SELECT COLUMN EXPR (WHERE columnName() LIKE 'c_%' "
        "ORDER BY columnName() OFFSET 1 LIMIT 2) FROM customer LIMIT 1"
    )
    assert df3.columns == sorted(df.columns)[1:3]


def test_column_expr_structured_nested(ctx, spark):
    # default COLUMN EXPR flattens nested structs to atomic dotted-path
    # leaves; STRUCTURED keeps the top-level columns whole
    # (SelectExpression.md:105-128)
    from mldb_spark.dialect import MldbContext

    c2 = MldbContext(spark)
    df = spark.createDataFrame(
        [(1, (2.0, "a"), 10.0), (2, (4.0, "b"), 20.0)],
        "id long, u struct<score: double, tag: string>, v double",
    )
    c2.register("nested", df)

    flat = c2.query("SELECT COLUMN EXPR (ORDER BY columnName()) FROM nested")
    assert flat.columns == ["id", "u.score", "u.tag", "v"]
    row = flat.orderBy("id").collect()[0]
    assert row["u.score"] == 2.0 and row["u.tag"] == "a"

    structured = c2.query(
        "SELECT COLUMN EXPR STRUCTURED (ORDER BY columnName()) FROM nested"
    )
    assert structured.columns == ["id", "u", "v"]
    assert structured.orderBy("id").collect()[0]["u"]["tag"] == "a"

    # leaf metadata participates: columnPathLength sees the dotted path,
    # and the per-column transform binds value() to the struct FIELD
    leaves = c2.query(
        "SELECT COLUMN EXPR (SELECT value() * 2 WHERE columnPathLength() = 2 "
        "AND columnPathElement(1) = 'score') FROM nested"
    )
    assert leaves.columns == ["u.score"]
    assert sorted(r["u.score"] for r in leaves.collect()) == [4.0, 8.0]


def test_wildcard_rename(ctx):
    df = ctx.query("SELECT c_a* AS bal_* FROM customer LIMIT 1")
    assert df.columns == ["bal_cctbal"]
    df2 = ctx.query("SELECT c_* EXCLUDING (c_name, c_comment) AS x_* FROM customer LIMIT 1")
    assert all(c.startswith("x_") for c in df2.columns)
    assert "x_name" not in df2.columns


def test_index_extraction(ctx):
    row = ctx.query(
        "SELECT {score: 0.25 + 0.5, label: 'pos'}[score] AS s, "
        "[10, 20, 30][1] AS second FROM customer LIMIT 1"
    ).collect()[0]
    assert row["s"] == 0.75 and row["second"] == 20


def test_encoding_fns(ctx):
    row = ctx.query(
        "SELECT base64_encode('hello') AS b64, "
        "base64_decode(base64_encode('hello')) AS rt, "
        "blob_length('hello') AS bl, "
        "print_json({a: 1, b: 'x'}) AS pj, "
        "print_json(42) AS pjs, "
        "parse_json('{\"k\": \"v\"}')['k'] AS pk "
        "FROM customer LIMIT 1"
    ).collect()[0]
    assert row["b64"] == "aGVsbG8="
    assert bytes(row["rt"]) == b"hello"
    assert row["bl"] == 5
    assert row["pj"] == '{"a":1,"b":"x"}'
    assert row["pjs"] == "42"
    assert row["pk"] == "v"


def test_row_path_pseudocolumns(ctx, spark):
    from mldb_spark.dialect import MldbContext

    c2 = MldbContext(spark)
    df = spark.createDataFrame(
        [("a.b.c", 1), ("x.y", 2)], "rn string, v long"
    )
    c2.register("t", df, row_name_col="rn")
    rows = c2.query(
        "SELECT rowPathLength() AS n, rowPathElement(0) AS head, "
        "rowPathElement(-1) AS tail, columnCount() AS nc FROM t ORDER BY v"
    ).collect()
    assert rows[0]["n"] == 3 and rows[0]["head"] == "a" and rows[0]["tail"] == "c"
    assert rows[1]["n"] == 2 and rows[1]["tail"] == "y"
    assert rows[0]["nc"] == 2


def test_column_expr_value_transform(ctx):
    # (SELECT f(value())) applies the transform to every picked column
    rows = ctx.query(
        "SELECT COLUMN EXPR (SELECT value() * 2 WHERE columnName() IN "
        "('c_acctbal', 'c_custkey') ORDER BY columnName()) "
        "FROM customer ORDER BY c_custkey LIMIT 1"
    ).collect()
    base = ctx.query(
        "SELECT c_acctbal, c_custkey FROM customer ORDER BY c_custkey LIMIT 1"
    ).collect()[0]
    assert rows[0]["c_acctbal"] == base["c_acctbal"] * 2
    assert rows[0]["c_custkey"] == base["c_custkey"] * 2
    # transform + rename together
    named = ctx.query(
        "SELECT COLUMN EXPR (SELECT value() + 1 AS columnName() + '_inc' "
        "WHERE columnName() = 'c_custkey') FROM customer LIMIT 1"
    )
    assert named.columns == ["c_custkey_inc"]


def test_introspection_fns(ctx):
    row = ctx.query(
        "SELECT static_type(c_acctbal) AS t1, static_type('x') AS t2, "
        "__isconst(1 + 2 * 3) AS k1, __isconst(c_acctbal) AS k2, "
        "__isconst([1, 2]) AS k3 FROM customer LIMIT 1"
    ).collect()[0]
    assert row["t1"] == "double" and row["t2"] == "string"
    assert row["k1"] == 1 and row["k2"] == 0 and row["k3"] == 1


def test_porter_stem_in_sql(ctx):
    rows = ctx.query(
        "SELECT porter_stem('relational') AS a, porter_stem('controlling') AS b, "
        "porter_stem(lower(c_mktsegment)) AS seg FROM customer LIMIT 1"
    ).collect()[0]
    assert rows["a"] == "relat" and rows["b"] == "control"
    assert isinstance(rows["seg"], str)


def test_restamp_and_temporal_aggregates(ctx):
    # @ / at(): the value passes through; value_timestamp of a
    # stamped expr is the stamp
    row = ctx.query(
        "SELECT o_totalprice @ '2020-06-01' AS v, "
        "value_timestamp(o_totalprice @ '2020-06-01') AS t1, "
        "value_timestamp(at(o_totalprice, '2021-02-03')) AS t2, "
        "o_totalprice AS base FROM orders LIMIT 1"
    ).collect()[0]
    assert row["v"] == row["base"]
    assert str(row["t1"]).startswith("2020-06-01")
    assert str(row["t2"]).startswith("2021-02-03")

    # temporal_* aggregates over the timed events table
    rows = ctx.query(
        "SELECT user_id, temporal_count(\"value\") AS n, "
        "temporal_min(\"value\") AS lo, temporal_latest(\"value\") AS last_v "
        "FROM events GROUP BY user_id ORDER BY user_id LIMIT 5"
    ).collect()
    assert len(rows) == 5 and all(r["n"] >= 1 for r in rows)
    assert all(r["lo"] is not None and r["last_v"] is not None for r in rows)


def test_registered_function_in_sql(ctx, spark):
    # the reference's `SELECT my_fn({features: {*}})[output]` pattern:
    # a trained scorer registered on the context, applied from SQL
    import pytest

    from mldb_spark.dialect import MldbContext
    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    data = spark.createDataFrame(
        [(float(i), float(i % 7), 1.0 if i > 50 else 0.0) for i in range(100)],
        "x double, noise double, label double",
    )
    reg = FunctionRegistry()
    classifier_train(data, ["x", "noise"], "label", "my_clf", reg)

    c2 = MldbContext(spark)
    c2.register("d", data)
    c2.register_function("my_clf", lambda d: reg.apply("my_clf", d))
    rows = c2.query(
        "SELECT x, my_clf({x, noise})[score] AS s FROM d "
        "WHERE label = 1 ORDER BY x LIMIT 5"
    ).collect()
    assert len(rows) == 5
    assert all(0.0 <= r["s"] <= 1.0 for r in rows)
    # scores must vary with x for a fitted separator
    hi = c2.query("SELECT my_clf({x})[score] AS s FROM d ORDER BY x DESC LIMIT 1").collect()[0]["s"]
    lo = c2.query("SELECT my_clf({x})[score] AS s FROM d ORDER BY x ASC LIMIT 1").collect()[0]["s"]
    assert hi > lo

    # a BARE call (no accessor, no alias) spreads the function's
    # outputs prefixed by the call's surface text — the reference's
    # `select bop()` -> `bop().width` naming (MLDB-1500, MLDB-800)
    bare = c2.query("SELECT my_clf({x}) FROM d LIMIT 1")
    assert [c for c in bare.columns if c.endswith(".score")], bare.columns


def test_global_registry_model_auto_visible_in_sql(spark):
    # training with the default registry makes the model callable from
    # SQL by its training name — no register_function step (mirrors the
    # reference's functionName auto-creation on procedure runs)
    from mldb_spark.dialect import MldbContext
    from mldb_spark.ml.procedures import classifier_train

    data = spark.createDataFrame(
        [(float(i), 1.0 if i > 50 else 0.0) for i in range(100)],
        "x double, label double",
    )
    classifier_train(data, ["x"], "label", "auto_clf_dialect")

    c = MldbContext(spark)
    c.register("d", data)
    rows = c.query(
        "SELECT x, auto_clf_dialect({x})[score] AS s FROM d ORDER BY x DESC LIMIT 3"
    ).collect()
    assert len(rows) == 3 and all(0.0 <= r["s"] <= 1.0 for r in rows)


def test_tensor_functions_in_sql(ctx):
    """flatten/reshape/shape/slice/concat (sql/builtin_functions.cc:
    2723-2977): literal-embedding forms, row-major ordering, 0-based
    slice on the LAST dimension, 3-arg reshape padding."""
    row = ctx.query(
        "SELECT shape(reshape([1, 2, 3, 4, 5, 6], [2, 3])) AS shp, "
        "flatten(reshape([1, 2, 3, 4], [2, 2])) AS rt, "
        "slice(reshape([1, 2, 3, 4, 5, 6], [2, 3]), 1) AS col1, "
        "slice([10, 20, 30], 2) AS el2, "
        "reshape([1, 2], [4], 0) AS padded, "
        "concat([1, 2], [3]) AS cat "
        "FROM region LIMIT 1"
    ).collect()[0]
    assert list(row["shp"]) == [2, 3]
    assert [int(v) for v in row["rt"]] == [1, 2, 3, 4]
    # slice picks the index-th element of the last dim => column 1
    assert [int(v) for v in row["col1"]] == [2, 5]
    assert int(row["el2"]) == 30
    assert [int(v) for v in row["padded"]] == [1, 2, 0, 0]
    assert [int(v) for v in row["cat"]] == [1, 2, 3]


def test_tensor_reshape_mismatch_raises(ctx):
    # 2-arg reshape with a statically-known count mismatch raises at
    # bind time, matching the reference's query error (MLDB-1947)
    import pytest

    with pytest.raises(ValueError, match="Attempt to change embedding size"):
        ctx.query("SELECT reshape([1, 2, 3], [2, 2]) AS bad FROM region LIMIT 1")


def test_pyeval_inline_lambda(ctx):
    """pyeval — the jseval replacement (builtin/js/js_function.cc:
    117-226): inline Python lambda over row values, Arrow-batched,
    default double output with {type: ...} override; a script
    exception PROPAGATES its own message (MLDBFB-458/MLDB-723 —
    round 9 changed this from silent NULL to the reference's
    error-surfacing semantics)."""
    import pytest as _pytest

    rows = ctx.query(
        "SELECT c_custkey AS k, "
        "pyeval('a * 2 + b', 'a,b', c_custkey, c_acctbal) AS v, "
        "pyeval('a.split(\"#\")[0].upper()', 'a', c_mktsegment, {type: 'string'}) AS seg, "
        "pyeval('a > 0', 'a', c_acctbal, {type: 'boolean'}) AS pos "
        "FROM customer ORDER BY k LIMIT 3"
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["v"] is not None
        assert r["seg"].isupper()
        assert r["pos"] in (True, False)
    with _pytest.raises(Exception, match="division by zero"):
        ctx.query(
            "SELECT pyeval('1 / 0', 'a', c_custkey) AS err "
            "FROM customer LIMIT 3"
        ).collect()


def test_pyeval_bind_time_errors(ctx):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="compile"):
        ctx.query("SELECT pyeval('a +', 'a', c_custkey) AS x FROM customer")
    with _pytest.raises(ValueError, match="argument name"):
        ctx.query("SELECT pyeval('1', 'a b', c_custkey) AS x FROM customer")


def test_st_contains_point_in_sql(ctx):
    """ST_Contains_Point (sql/builtin_geo_functions.cc:71-282) via
    the dialect: literal GeoJSON coordinates, hole rings excluded."""
    row = ctx.query(
        "SELECT st_contains_point([[[0,0],[10,0],[10,10],[0,10]],"
        "[[4,4],[6,4],[6,6],[4,6]]], 2, 5) AS inside, "
        "st_contains_point([[[0,0],[10,0],[10,10],[0,10]],"
        "[[4,4],[6,4],[6,6],[4,6]]], 5, 5) AS in_hole, "
        "st_contains_point([[[0,0],[10,0],[10,10],[0,10]]], 20, 5) AS outside "
        "FROM region LIMIT 1"
    ).collect()[0]
    assert row["inside"] is True
    assert row["in_hole"] is False
    assert row["outside"] is False


def test_scalar_fn_gap_sweep(ctx):
    """Round-4 sweep of doc-listed scalar functions that were missing
    or mis-specified (ValueExpression.md §300-700): full-match
    regex_match vs find-anywhere regex_search, prefix/suffix
    stripping, finiteness tests + replacements, split_part /
    token_extract, date_trunc, implicit_cast, extract_column,
    distinct_timestamps, asinh."""
    row = ctx.query(
        "SELECT regex_match('economy', 'eco') AS m_part, "
        "regex_match('economy', 'eco.*') AS m_full, "
        "regex_search('economy', 'con') AS s_part, "
        "remove_prefix('prefix_x', 'prefix_') AS rp, "
        "remove_prefix('no_match', 'prefix_') AS rp_miss, "
        "remove_suffix('name.csv', '.csv') AS rs, "
        "isfinite(1.5) AS fin, isinf(1.0 / 0.0) AS inf_t, "
        "replace_null(NULL, 7) AS rn, "
        "replace_inf(1.0 / 0.0, -1) AS ri, "
        "replace_not_finite(sqrt(-1), 0) AS rnf, "
        "split_part('a:b:c', ':', 2) AS sp, "
        "split_part('a:b:c', ':', -1) AS sp_neg, "
        "token_extract('x,y,z', 1) AS te, "
        "token_extract('x|y|z', -1, {splitChars: '|'}) AS te_opts, "
        "implicit_cast('12.5') AS ic, implicit_cast('abc') AS ic_bad, "
        "extract_column('b', {a: 1, b: 42}) AS ec, "
        "asinh(0) AS ash "
        "FROM region LIMIT 1"
    ).collect()[0]
    assert row["m_part"] is False and row["m_full"] is True
    assert row["s_part"] is True
    assert row["rp"] == "x" and row["rp_miss"] == "no_match"
    assert row["rs"] == "name"
    assert row["fin"] is True and row["inf_t"] is True
    assert row["rn"] == 7.0 and row["ri"] == -1.0 and row["rnf"] == 0.0
    assert row["sp"] == "b" and row["sp_neg"] == "c"
    assert row["te"] == "y" and row["te_opts"] == "z"
    assert row["ic"] == 12.5 and row["ic_bad"] is None
    assert row["ec"] == 42
    assert row["ash"] == 0.0


def test_distinct_timestamps_in_sql(ctx):
    rows = ctx.query(
        "SELECT distinct_timestamps(value) AS dts FROM events LIMIT 2"
    ).collect()
    assert all(len(r["dts"]) == 1 for r in rows)


def test_hash_and_mime_type_in_sql(ctx):
    rows = ctx.query(
        "SELECT hash(r_name) AS h, mime_type(CAST('GIF89a...' AS string)) AS mt "
        "FROM region LIMIT 2"
    ).collect()
    assert all(isinstance(r["h"], int) for r in rows)
    assert all(r["mt"] == "image/gif" for r in rows)


def test_vertical_aggregate_aliases(ctx):
    row = ctx.query(
        "SELECT vertical_count(c_acctbal) AS n, vertical_sum(c_acctbal) AS s, "
        "vertical_min(c_acctbal) AS lo, vertical_stddev(c_acctbal) AS sd, "
        "count(c_acctbal) AS n2 FROM customer"
    ).collect()[0]
    assert row["n"] == row["n2"] and row["s"] is not None
    assert row["lo"] is not None and row["sd"] is not None


def test_horizontal_string_agg_and_extremes(ctx):
    row = ctx.query(
        "SELECT horizontal_string_agg(r_regionkey, r_name, '|') AS sa, "
        "horizontal_earliest(NULL, r_name, 'x') AS he, "
        "horizontal_latest(r_name, NULL) AS hl "
        "FROM region WHERE r_name = 'ASIA' LIMIT 1"
    ).collect()[0]
    assert row["sa"].endswith("|ASIA")
    assert row["he"] == "ASIA"   # first non-null in column order
    assert row["hl"] == "ASIA"   # last non-null in column order


def test_tokenize_full_options_in_sql(ctx):
    """tokenize(str, {...}) full TokenizeOptions surface
    (sql/tokenize.cc): splitChars, quoteChar protection, ngramRange,
    minTokenLength, limit/offset window, value map form."""
    row = ctx.query(
        "SELECT tokenize('a,b,\"c,d\",e', {quoteChar: '\"'}) AS quoted, "
        "tokenize('one two three', {splitChars: ' ', ngramRange: [1, 2]}) AS grams, "
        "tokenize('aa,b,ccc', {minTokenLength: 2}) AS minlen, "
        "tokenize('a,b,c,d', {offset: 1, limit: 2}) AS windowed, "
        "tokenize('x,y,x', {value: 1}) AS valued "
        "FROM region LIMIT 1"
    ).collect()[0]
    # tokenize() output is the reference's bag-of-words counts row
    # (MLDB-907): MAP<token, count>
    assert dict(row["quoted"]) == {"a": 1, "b": 1, "c,d": 1, "e": 1}
    assert row["grams"]["one_two"] == 1 and row["grams"]["one"] == 1
    assert dict(row["minlen"]) == {"aa": 1, "ccc": 1}
    assert dict(row["windowed"]) == {"b": 1, "c": 1}
    assert dict(row["valued"]) == {"x": 1, "y": 1}


def test_corpus_tier_sql_surface(spark, sf_dir):
    """The corpus-tier dataset/scalar functions are reachable from
    SQL: FROM mixture_sample(ds, {...}) matches the Python API
    exactly; redact_pii/canonicalize_url bind as scalars."""
    from pyspark.sql import functions as F

    from mldb_spark.catalog import load
    from mldb_spark.corpus import mixture_sample
    from mldb_spark.dialect import MldbContext

    ctx = MldbContext(spark)
    docs = load(spark, sf_dir, "documents")
    ctx.register("docs", docs)
    got = ctx.query(
        "SELECT doc_id FROM mixture_sample(docs, "
        "{alpha: 0.5, weight: 'n_chars'}) ORDER BY doc_id"
    )
    want = mixture_sample(docs, weight_col="n_chars", alpha=0.5)
    assert [r["doc_id"] for r in got.collect()] == sorted(
        r["doc_id"] for r in want.collect()
    )
    out = ctx.query(
        "SELECT redact_pii('mail a@b.co now') AS r, "
        "canonicalize_url('HTTP://WWW.Ex.COM:80/P/?utm_source=x&q=1') AS u"
    ).collect()[0]
    assert out["r"] == "mail <EMAIL> now"
    assert out["u"] == "http://ex.com/P?q=1"


def test_function_output_shadowing_dataset_column(spark):
    # ADVICE r5 (medium): a registered function whose output column
    # name collides with a dataset column must NOT clobber the dataset
    # value for plain references — `SELECT out, f({a: a})[out]` returns
    # the DATASET value for `out` and the function output via the
    # accessor. The translator stashes shadowed columns before apply()
    # and restores them after capturing the function output.
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_dataset(
        "shadow_ds",
        spark.createDataFrame([(1.0, 100.0), (2.0, 200.0)], "a double, out double"),
    )
    mldb.create_sql_expression_function("fshadow", "input.a * 10 AS out")
    rows = mldb.query(
        "SELECT out, fshadow({input: {a: a}})[out] AS fnout "
        "FROM shadow_ds ORDER BY a"
    ).collect()
    assert [(r["out"], r["fnout"]) for r in rows] == [
        (100.0, 10.0),
        (200.0, 20.0),
    ]
    # the shadowed column also keeps its dataset value in WHERE
    rows = mldb.query(
        "SELECT a FROM shadow_ds "
        "WHERE out = 100 AND fshadow({input: {a: a}})[out] = 10"
    ).collect()
    assert [r["a"] for r in rows] == [1.0]


def test_pack_sequences_table_function(spark):
    """pack_sequences() as a FROM-clause dataset function: every doc
    appears exactly once, no sequence exceeds the budget, overflow
    flags docs longer than the budget (FFD assignment itself is
    imperative — invariants here, algorithm pinned in
    test_corpus.py)."""
    from mldb_spark.dialect import MldbContext

    ctx = MldbContext(spark)
    rows = [(i, 100 + (i * 37) % 900) for i in range(40)] + [(99, 5000)]
    ctx.register(
        "sized_docs",
        spark.createDataFrame(rows, "doc_id long, n_tokens long"),
    )
    out = ctx.query(
        "SELECT * FROM pack_sequences(sized_docs, "
        "{maxTokens: 2048, nBuckets: 4})"
    ).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(i for i, _ in rows)
    per_seq: dict = {}
    for r in out:
        if not r["overflow"]:
            per_seq.setdefault((r["bucket"], r["seq"]), 0)
            per_seq[(r["bucket"], r["seq"])] += r["n_tokens"]
    assert all(v <= 2048 for v in per_seq.values())
    assert [r["overflow"] for r in out if r["doc_id"] == 99] == [True]


@pytest.mark.parametrize(
    "call", ["sign(1, 2)", "canonicalize_url('http://a.com', 'x')", "clamp(1, 2)"]
)
def test_builtin_arity_is_checked(ctx, call):
    """A wrong argument count for any builtin is a bind error naming
    the expected and actual counts, never a silently dropped argument
    or an IndexError (the arity lives in the builtin's table entry)."""
    name = call.split("(", 1)[0]
    with pytest.raises(
        ValueError, match=rf"^Binding builtin function {name}: expected \d+ arguments?, got"
    ):
        ctx.query(f"SELECT {call} AS v")


@pytest.mark.parametrize("name", ["sin", "hash", "Sin"])
def test_register_function_refuses_builtin_names(spark, name):
    """Every builtin's name is reserved for function entities, not a
    hand-picked subset (MLDB-1661)."""
    c = MldbContext(spark)
    with pytest.raises(ValueError, match="already has a built-in function"):
        c.register_function(name, lambda d: d)
    assert name not in c.function_names()
