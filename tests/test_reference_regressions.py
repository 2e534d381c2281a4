"""Ports of the reference's own MLDB-#### regression tests (SURVEY §5:
one ticket per semantics cluster, golden expected tables). Each test
cites its source file under /root/reference/testing/ and asserts the
same semantics through our dialect.

Known divergence exercised here deliberately: the reference collapses
booleans to 1/0 (no boolean atomic type, TypeSystem.md:17-18); this
engine keeps Spark booleans — the truth table is identical.
"""

from __future__ import annotations

import os
from pathlib import Path

import pyspark
import pytest
from pyspark.sql import functions as F

# UCI's iris.data (no header: sl,sw,pl,pw,Iris-<class>), recovered from
# the copy PySpark installs; FIXTURES.md F9 and
# test_iris_fixture_matches_pyspark_copy say how.
IRIS = str(Path(__file__).parent / "data" / "iris.data")
PYSPARK_IRIS = os.path.join(
    os.path.dirname(pyspark.__file__),
    "data", "mllib", "sample_multiclass_classification_data.txt",
)
TITANIC_CSV = "/root/reference/testing/fixtures/titanic_train.csv"


@pytest.fixture(scope="module")
def mldb(spark):
    from mldb_spark.api import Mldb

    return Mldb(spark)


def _ds(mldb, name, rows, schema, row_name_col="rn"):
    df = mldb.spark.createDataFrame(rows, schema)
    mldb.create_dataset(name, df, row_name_col=row_name_col)


def _q(mldb, sql):
    return [tuple(r) for r in mldb.query(sql).collect()]


@pytest.mark.skipif(
    not os.path.exists(PYSPARK_IRIS),
    reason="needs PySpark's bundled sample_multiclass_classification_data.txt",
)
def test_iris_fixture_matches_pyspark_copy():
    """tests/data/iris.data is PySpark's libsvm iris mapped back to
    centimetres: each feature was scaled to [-1, 1] over the range in
    UCI's iris.names, zero features are omitted, labels are
    1 = setosa, 2 = versicolor, 0 = virginica. Rebuilt rows must equal
    the committed file (order-free) and reproduce the iris.names
    summary table."""
    import statistics
    from collections import Counter

    ranges = [(4.3, 7.9), (2.0, 4.4), (1.0, 6.9), (0.1, 2.5)]
    names = {1: "Iris-setosa", 2: "Iris-versicolor", 0: "Iris-virginica"}
    rebuilt = []
    with open(PYSPARK_IRIS) as f:
        for line in f:
            label, *cells = line.split()
            scaled = [0.0] * 4
            for cell in cells:
                i, v = cell.split(":")
                scaled[int(i) - 1] = float(v)
            vals = []
            for (lo, hi), v in zip(ranges, scaled):
                cm = lo + (v + 1) / 2 * (hi - lo)
                assert abs(cm - round(cm, 1)) < 1e-5, cm  # on the 0.1 grid
                vals.append(round(cm, 1))
            rebuilt.append(vals + [names[int(float(label))]])
    with open(IRIS) as f:
        committed = [line.strip().split(",") for line in f if line.strip()]
    as_key = lambda r: tuple(f"{float(x):.1f}" for x in r[:4]) + (r[4],)
    assert Counter(map(as_key, rebuilt)) == Counter(map(as_key, committed))
    assert Counter(r[4] for r in committed) == {n: 50 for n in names.values()}
    # iris.names "Summary Statistics": min, max, mean, SD per feature
    table = [
        (4.3, 7.9, 5.84, 0.83), (2.0, 4.4, 3.05, 0.43),
        (1.0, 6.9, 3.76, 1.76), (0.1, 2.5, 1.20, 0.76),
    ]
    for j, (lo, hi, mean, sd) in enumerate(table):
        col = [float(r[j]) for r in committed]
        assert (min(col), max(col)) == (lo, hi)
        assert round(statistics.mean(col), 2) == mean
        assert round(statistics.stdev(col), 2) == sd


def test_mldb_1827_operator_null_propagation(mldb):
    """MLDB-1827_operator_null_propagation_test.py: every arithmetic
    operator propagates NULL (val op NULL, NULL op NULL, NULL op
    val -> NULL)."""
    _ds(mldb, "m1827", [("row1", 4)], "rn string, val int")
    for op in ("+", "-", "%", "/", "*"):
        assert _q(mldb, f"SELECT val {op} NULL AS r FROM m1827") == [(None,)]
        assert _q(mldb, f"SELECT NULL {op} NULL AS r FROM m1827") == [(None,)]
        assert _q(mldb, f"SELECT NULL {op} val AS r FROM m1827") == [(None,)]


def test_mldb_1452_like_operator(mldb):
    """MLDB-1452-like-operator.py: %, _, NOT LIKE, and the error on
    applying LIKE to a non-string."""
    _ds(
        mldb,
        "m1452",
        [("a", "acrasial"), ("b", "blaternation"), ("c", "citharize"),
         ("d", "drollic"), ("e", "egrote")],
        "rn string, x string",
    )
    base = "FROM m1452 ORDER BY rowName()"
    assert [v for (v,) in _q(mldb, f"SELECT x LIKE '%' AS v {base}")] == [True] * 5
    assert [v for (v,) in _q(mldb, f"SELECT x LIKE '%o%' AS v {base}")] == [
        False, True, False, True, True,
    ]
    assert [v for (v,) in _q(mldb, f"SELECT x NOT LIKE '%o%' AS v {base}")] == [
        True, False, True, False, False,
    ]
    assert [v for (v,) in _q(mldb, f"SELECT x LIKE '______' AS v {base}")] == [
        False, False, False, False, True,
    ]
    assert [v for (v,) in _q(mldb, f"SELECT x LIKE '___ll__' AS v {base}")] == [
        False, False, False, True, False,
    ]


def test_mldb_1734_case_statement(mldb):
    """MLDB-1734_case_statement.py: matched and unmatched CASE (both
    simple and searched forms); the default ELSE is NULL."""
    _ds(mldb, "m1734", [("a", 1, None), ("b", None, 1)], "rn string, x int, y int")
    assert _q(
        mldb,
        "SELECT CASE WHEN x = 1 THEN 999 ELSE NULL END AS res "
        "FROM m1734 ORDER BY rowName()",
    ) == [(999,), (None,)]
    # default ELSE is NULL
    assert _q(
        mldb,
        "SELECT CASE WHEN x = 1 THEN 999 END AS res FROM m1734 ORDER BY rowName()",
    ) == [(999,), (None,)]
    # row-valued THEN branch
    rows = _q(
        mldb,
        "SELECT CASE WHEN x = 1 THEN {z: 5, y: 8} END AS w "
        "FROM m1734 ORDER BY rowName()",
    )
    assert rows[0][0].asDict() == {"z": 5, "y": 8} and rows[1][0] is None


def test_mldb_1841_distinct_on(mldb):
    """MLDB-1841-distinct-on.py: DISTINCT ON picks the first row per
    key under the ORDER BY, including DESC order and with WHERE."""
    _ds(
        mldb,
        "m1841",
        [("row1", 1, 1, 1), ("row2", 2, 2, 1), ("row3", 1, 3, 2),
         ("row4", 1, 4, 2), ("row5", 2, 5, 3)],
        "rn string, x int, y int, z int",
    )
    assert _q(
        mldb, "SELECT DISTINCT ON (x) x, y FROM m1841 ORDER BY x, y"
    ) == [(1, 1), (2, 2)]
    assert _q(
        mldb, "SELECT DISTINCT ON (x) x, z FROM m1841 ORDER BY x, y DESC"
    ) == [(1, 2), (2, 3)]
    assert _q(
        mldb,
        "SELECT DISTINCT ON (x) x, y FROM m1841 WHERE y % 2 = 0 ORDER BY x, y",
    ) == [(1, 4), (2, 2)]


def test_mldb_1595_count_distinct(mldb):
    """MLDB-1595-count-distinct.py: count_distinct skips missing
    cells (3 distinct over {1, 2, NULL, 1, 3})."""
    _ds(
        mldb,
        "m1595",
        [("a", 1), ("b", 2), ("c", None), ("d", 1), ("e", 3)],
        "rn string, x int",
    )
    assert _q(mldb, "SELECT count_distinct(x) AS v FROM m1595") == [(3,)]


def test_mldb_1667_levenshtein(mldb):
    """MLDB-1667_levenshtein_dist.py: edit distance basics, including
    the empty-string row."""
    _ds(
        mldb,
        "m1667",
        [("a", "kitten"), ("b", "sitting"), ("c", "")],
        "rn string, x string",
    )
    assert _q(
        mldb,
        "SELECT levenshtein_distance(x, 'kitten') AS d FROM m1667 "
        "ORDER BY rowName()",
    ) == [(0,), (3,), (6,)]


def test_mldb_1328_join_empty_dataset(mldb):
    """MLDB-1328-join_empty_dataset_test.py: joining against an empty
    dataset yields no rows for inner joins and preserved left rows
    for left joins."""
    _ds(mldb, "m1328a", [("a", 1), ("b", 2)], "rn string, k int")
    empty = mldb.spark.createDataFrame([], "rn string, k int, v int")
    mldb.create_dataset("m1328b", empty, row_name_col="rn")
    assert (
        _q(mldb, "SELECT a.k FROM m1328a AS a JOIN m1328b AS b ON a.k = b.k")
        == []
    )
    assert _q(
        mldb,
        "SELECT a.k, b.v FROM m1328a AS a LEFT JOIN m1328b AS b ON a.k = b.k "
        "ORDER BY a.k",
    ) == [(1, None), (2, None)]


def test_mldb_1554_string_agg(mldb):
    """MLDB-1554-string-agg.js: string_agg concatenates with the
    separator, skipping NULLs."""
    _ds(
        mldb,
        "m1554",
        [("a", "x"), ("b", None), ("c", "y"), ("d", "z")],
        "rn string, s string",
    )
    out = _q(mldb, "SELECT string_agg(s, ',') AS v FROM m1554")
    assert out[0][0] is not None
    assert sorted(out[0][0].split(",")) == ["x", "y", "z"]


def test_mldb_1195_query_where(mldb):
    """MLDB-1195-query-where-test.py: WHERE over comparisons and
    boolean combinations, 3-valued (NULL never matches)."""
    _ds(
        mldb,
        "m1195",
        [("a", 1, 10), ("b", 2, None), ("c", 3, 30)],
        "rn string, x int, y int",
    )
    assert _q(mldb, "SELECT x FROM m1195 WHERE y > 5 ORDER BY x") == [(1,), (3,)]
    assert _q(mldb, "SELECT x FROM m1195 WHERE y > 5 OR x = 2 ORDER BY x") == [
        (1,), (2,), (3,),
    ]
    assert _q(mldb, "SELECT x FROM m1195 WHERE NOT (y > 5) ORDER BY x") == []
    assert _q(mldb, "SELECT x FROM m1195 WHERE y IS NULL ORDER BY x") == [(2,)]


def test_mldb_1305_qualified_single_table_refs(mldb):
    """MLDB-1305_rowNames_join.py (MLDB-1454 section): a single-table
    FROM supports table-name- and alias-qualified column refs in
    SELECT and WHERE."""
    _ds(mldb, "m1305", [("row1", "a", None), ("row2", None, "b")],
        "rn string, col1 string, col2 string")
    assert _q(
        mldb, "SELECT col1 FROM m1305 WHERE m1305.col1 = 'a'"
    ) == [("a",)]
    assert _q(
        mldb, "SELECT blah.col1 AS col1 FROM m1305 AS blah WHERE blah.col1 = 'a'"
    ) == [("a",)]


def test_mldb_1802_order_by_qualified(mldb):
    """MLDB-1802-select-orderby.py: ORDER BY a table-qualified column
    that the SELECT list dropped must still order the output."""
    _ds(mldb, "m1802", [("row_c", 1, 3), ("row_b", 2, 2), ("row_a", 3, 1)],
        "rn string, x int, y int")
    assert _q(
        mldb, "SELECT m1802.y AS y FROM m1802 ORDER BY m1802.x"
    ) == [(3,), (2,), (1,)]
    # constant select, order on dropped qualified column
    assert _q(mldb, "SELECT 1 AS one FROM m1802 ORDER BY m1802.x") == [
        (1,), (1,), (1,),
    ]


def test_mldb_1639_join_where(mldb):
    """MLDB-1639-join-where.py: WHERE over both join sides applies
    after the join; side-local predicates push into the sides."""
    _ds(mldb, "m1639a", [("a1", 1, "x"), ("a2", 2, "y")],
        "rn string, k int, av string")
    _ds(mldb, "m1639b", [("b1", 1, 10), ("b2", 2, 20)],
        "rn string, k int, bv int")
    assert _q(
        mldb,
        "SELECT a.av AS av, b.bv AS bv FROM m1639a AS a "
        "JOIN m1639b AS b ON a.k = b.k WHERE a.av = 'y' AND b.bv > 5",
    ) == [("y", 20)]


def test_mldb_1012_nested_function_calls(mldb):
    """MLDB-1012_nested_function_calls.py: sql.expression function
    entities applied inline in SQL with a row-literal argument — the
    argument row's fields become the function's input columns."""
    mldb.create_dataset("m1012", mldb.spark.createDataFrame([(1,)], "dummy int"))
    mldb.create_sql_expression_function("f1", "input.x*2 AS x2, input.y*2 AS y2")
    assert _q(
        mldb,
        "SELECT f1({input: {x: 1, y: 2}})[x2] AS x2, "
        "f1({input: {x: 1, y: 2}})[y2] AS y2 FROM m1012",
    ) == [(2, 4)]


def test_mldb_1345_having(mldb):
    """MLDB-1345-having.py: HAVING over aggregates combined with AND /
    OR and group keys."""
    _ds(
        mldb,
        "m1345",
        [("r%d" % i, ["m", "f"][i % 2], ["C", "S", "Q"][i % 3], 20.0 + i)
         for i in range(12)],
        "rn string, sex string, embarked string, age double",
    )
    rows = _q(
        mldb,
        "SELECT sex, count(*) AS n FROM m1345 GROUP BY sex "
        "HAVING count(*) > 5 ORDER BY sex",
    )
    assert rows == [("f", 6), ("m", 6)]
    rows = _q(
        mldb,
        "SELECT embarked, max(age) AS mx, count(*) AS n FROM m1345 "
        "GROUP BY embarked HAVING max(age) < 31 AND (count(*) > 5 OR embarked = 'C') "
        "ORDER BY embarked",
    )
    assert all(mx < 31 and (n > 5 or emb == "C") for emb, mx, n in rows)
    assert rows  # at least group C qualifies


def test_mldb_1198_sum_sees_latest_superposition(spark):
    """MLDB-1198-sum-inconsistency-test.py: a cell recorded at four
    timestamps holds ONE logical value for expressions — aggregates
    read the latest (sum == 1, count == 1), while temporal_* see all
    four (expression_value.h:86-91 GET_LATEST vs GET_ALL)."""
    from mldb_spark.operators.temporal import latest_cells, temporal_agg

    cells = spark.createDataFrame(
        [("row1", "colA", 1.0, float(ts)) for ts in (1, 10, 100, 1000)],
        "row string, column string, value double, ts_raw double",
    ).select("row", "column", "value", F.col("ts_raw").cast("timestamp").alias("ts"))
    latest = latest_cells(cells)
    agg = latest.groupBy("column").agg(
        F.sum("value").alias("s"), F.count("value").alias("c")
    ).collect()
    assert (agg[0]["s"], agg[0]["c"]) == (1.0, 1)
    tmp = temporal_agg(cells, "count").collect()
    assert tmp[0]["temporal_count"] == 4


def test_mldb_1239_utf8_identifiers(mldb):
    """MLDB-1239-utf8-literal.py: UTF-8 string literals and UTF-8
    column names flow through SELECT / WHERE / transform."""
    _ds(
        mldb,
        "m1239",
        [("r1", 1, 2), ("r2", 3, 4)],
        "rn string, `ê` int, b int",
    )
    assert _q(
        mldb,
        "SELECT 'françois' AS qui, ê FROM m1239 WHERE ê = 1",
    ) == [("françois", 1)]
    out = mldb.transform("SELECT ê * 10 AS dix FROM m1239", "m1239_out")
    assert sorted(r["dix"] for r in out.collect()) == [10, 30]


def test_mldb_1155_csv_line_endings(mldb, tmp_path):
    """MLDB-1155_csv_line_endings.py: import.text accepts CRLF line
    endings and rows missing the last column (padded with NULL, not
    rejected)."""
    from mldb_spark.sources.text_io import import_text

    p = tmp_path / "endings.csv"
    p.write_bytes(b"a,b\r\n1,x\r\n2\r\n3,z\r\n")
    df = import_text(mldb.spark, str(p))
    rows = sorted(
        [(r["a"], r["b"]) for r in df.collect()], key=lambda t: t[0]
    )
    assert rows == [(1, "x"), (2, None), (3, "z")]


def test_mldb_907_tokenize(mldb):
    """MLDB-907-tokenize.py: tokenize to a bag-of-words with counts;
    splitChars and minTokenLength options."""
    mldb.create_dataset("m907", mldb.spark.createDataFrame([(1,)], "dummy int"))
    out = _q(mldb, "SELECT tokenize('a,b,c,a') AS tokens FROM m907")
    assert dict(out[0][0]) == {"a": 2, "b": 1, "c": 1}
    out = _q(
        mldb,
        "SELECT tokenize('a b c a', {splitChars: ' '}) AS tokens FROM m907",
    )
    assert dict(out[0][0]) == {"a": 2, "b": 1, "c": 1}
    out = _q(
        mldb,
        "SELECT tokenize('abouyayaa adsf 2 ; sdv, sdf', "
        "{splitChars: ',; ', minTokenLength: 3}) AS tokens FROM m907",
    )
    assert dict(out[0][0]) == {"abouyayaa": 1, "adsf": 1, "sdv": 1, "sdf": 1}


def test_mldb_1305_join_row_names(mldb):
    """MLDB-1305_rowNames_join.py: joined rows are named
    [leftName]-[rightName] (joined_dataset.cc:328-348), with empty
    brackets for outer-join non-matches."""
    _ds(mldb, "mjra", [("a1", 1), ("a2", 2)], "rn string, k int")
    _ds(mldb, "mjrb", [("b1", 1)], "rn string, k int")
    assert _q(
        mldb,
        "SELECT rowName() AS jn, a.k AS k FROM mjra AS a "
        "JOIN mjrb AS b ON a.k = b.k",
    ) == [("[a1]-[b1]", 1)]
    assert _q(
        mldb,
        "SELECT rowName() AS jn FROM mjra AS a "
        "LEFT JOIN mjrb AS b ON a.k = b.k ORDER BY jn",
    ) == [("[a1]-[b1]",), ("[a2]-[]",)]


def test_mldb_1794_join_subselect(mldb):
    """MLDB-1794-join-subselect.py / MLDB-1361_join_on_subselect.py:
    a parenthesized subselect can be a join side."""
    mldb.create_dataset(
        "m1794a",
        mldb.spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string"),
    )
    mldb.create_dataset(
        "m1794b", mldb.spark.createDataFrame([(1, 10), (3, 30)], "k int, w int")
    )
    assert _q(
        mldb,
        "SELECT s.v AS v, m1794b.w AS w FROM (SELECT k, v FROM m1794a) AS s "
        "JOIN m1794b ON s.k = m1794b.k",
    ) == [("x", 10)]
    # subselect on the right side too
    assert _q(
        mldb,
        "SELECT a.v AS v, s2.w AS w FROM m1794a AS a "
        "JOIN (SELECT k, w FROM m1794b WHERE w > 5) AS s2 ON a.k = s2.k",
    ) == [("x", 10)]


@pytest.fixture(scope="module")
def join_tables(mldb):
    """The Postgres-derived join fixtures from
    MLDB-1624-more-join-test.py (J1_TBL / J2_TBL, nulls included)."""
    _ds(
        mldb,
        "J1_TBL",
        [("01", 1, 4, "one"), ("02", 2, 3, "two"), ("03", 3, 2, "three"),
         ("04", 4, 1, "four"), ("05", 5, 0, "five"), ("06", 6, 6, "six"),
         ("07", 7, 7, "seven"), ("08", 8, 8, "eight"), ("09", 0, None, "zero"),
         ("10", None, None, "null"), ("11", None, 0, "zero")],
        "rn string, i int, j int, t string",
    )
    _ds(
        mldb,
        "J2_TBL",
        [("01", 1, -1), ("02", 2, 2), ("03", 3, -3), ("04", 2, 4),
         ("05", 5, -5), ("06", 5, -5), ("07", 0, None), ("08", None, None),
         ("09", None, 0)],
        "rn string, i int, k int",
    )
    return mldb


def test_mldb_1624_cross_join(join_tables):
    """CROSS JOIN == INNER JOIN with no condition: full cartesian."""
    mldb = join_tables
    out = mldb.query(
        "SELECT rowName() AS jn FROM J1_TBL CROSS JOIN J2_TBL"
    ).collect()
    assert len(out) == 11 * 9
    assert ("[01]-[01]",) in {tuple(r) for r in out}


def test_mldb_1624_non_equi_join(join_tables):
    """Theta joins (<=, <): NULL keys never match."""
    mldb = join_tables
    got = {
        tuple(r)
        for r in mldb.query(
            "SELECT rowName() AS jn, J1_TBL.i AS i, J2_TBL.k AS k "
            "FROM J1_TBL JOIN J2_TBL ON J1_TBL.i <= J2_TBL.k"
        ).collect()
    }
    assert got == {
        ("[01]-[02]", 1, 2), ("[01]-[04]", 1, 4), ("[02]-[02]", 2, 2),
        ("[02]-[04]", 2, 4), ("[03]-[04]", 3, 4), ("[04]-[04]", 4, 4),
        ("[09]-[02]", 0, 2), ("[09]-[04]", 0, 4), ("[09]-[09]", 0, 0),
    }
    got_lt = {
        tuple(r)
        for r in mldb.query(
            "SELECT J1_TBL.i AS i, J2_TBL.k AS k "
            "FROM J1_TBL JOIN J2_TBL ON J1_TBL.i < J2_TBL.k"
        ).collect()
    }
    assert got_lt == {(1, 2), (1, 4), (2, 4), (3, 4), (0, 2), (0, 4)}


def test_mldb_1624_outer_joins(join_tables):
    """LEFT/RIGHT/FULL OUTER on i = i with NULL keys on both sides
    (MLDB-1672): non-matching rows surface with [] row-name halves."""
    mldb = join_tables
    left = {
        tuple(r)
        for r in mldb.query(
            "SELECT rowName() AS jn, J1_TBL.t AS t, J2_TBL.k AS k "
            "FROM J1_TBL LEFT OUTER JOIN J2_TBL ON J1_TBL.i = J2_TBL.i"
        ).collect()
    }
    assert ("[10]-[]", "null", None) in left
    assert ("[04]-[]", "four", None) in left
    assert ("[05]-[05]", "five", -5) in left and ("[05]-[06]", "five", -5) in left
    assert len(left) == 13  # the reference's expected table has 13 rows

    right = {
        tuple(r)
        for r in mldb.query(
            "SELECT rowName() AS jn, J1_TBL.t AS t, J2_TBL.k AS k "
            "FROM J1_TBL RIGHT OUTER JOIN J2_TBL ON J1_TBL.i = J2_TBL.i"
        ).collect()
    }
    assert ("[]-[08]", None, None) in right and ("[]-[09]", None, 0) in right
    assert ("[09]-[07]", "zero", None) in right

    full = mldb.query(
        "SELECT rowName() AS jn "
        "FROM J1_TBL FULL OUTER JOIN J2_TBL ON J1_TBL.i = J2_TBL.i"
    ).collect()
    assert len(full) == 15
    names = {r["jn"] for r in full}
    assert {"[]-[08]", "[]-[09]", "[10]-[]", "[11]-[]", "[09]-[07]"} <= names


def test_mldb_1624_join_with_where(join_tables):
    """WHERE over the nullable outer side filters joined rows."""
    mldb = join_tables
    assert (
        mldb.query(
            "SELECT J1_TBL.i AS i FROM J1_TBL LEFT JOIN J2_TBL "
            "ON J1_TBL.i = J2_TBL.i WHERE J2_TBL.k = 1"
        ).count()
        == 0
    )


def test_mldb_1507_groupby_key_expressions(mldb):
    """MLDB-1507-groupby.py / MLDB-1490-grouped-validation.py:
    expressions OF a group key are legal select items
    (GroupByKeyExpression rewrite, core/bound_queries.cc:1683-1703);
    free columns under GROUP BY are an error."""
    _ds(mldb, "m1507", [("r1", 1, "a", 5), ("r2", 2, "a", 6), ("r3", 3, "b", 7)],
        "rn string, k int, s string, v int")
    assert _q(
        mldb,
        "SELECT s || '!' AS sx, sum(v) AS sv FROM m1507 GROUP BY s ORDER BY sx",
    ) == [("a!", 11), ("b!", 7)]
    # expression of MULTIPLE keys
    assert _q(
        mldb,
        "SELECT s || '-' || k AS sk, count(*) AS n FROM m1507 "
        "GROUP BY s, k ORDER BY sk",
    ) == [("a-1", 1), ("a-2", 1), ("b-3", 1)]
    # a free (non-grouped) column is rejected
    with pytest.raises(Exception, match="GROUP BY"):
        mldb.query("SELECT v FROM m1507 GROUP BY s").collect()


def test_time_value_operators(mldb):
    """ValueExpression.md §Operators on time values: bare Numbers
    combined with Timestamps/Intervals implicitly represent DAYS
    (+ commutes); INTERVAL literals use the reference's unit grammar
    (sql/interval.cc). Divergence noted in the parser: the
    reference's 'year' handler drops the count (adds 12 months for
    any N) — we implement 12*N."""
    import datetime

    mldb.create_dataset(
        "mtime",
        mldb.spark.createDataFrame(
            [("2024-01-15 12:00:00",)], "s string"
        ).selectExpr("cast(s as timestamp) as ts"),
    )
    row = mldb.query(
        "SELECT ts + 1 AS plus_day, 1 + ts AS plus_day2, ts - 0.5 AS minus_half, "
        "ts + INTERVAL '2d' AS plus2d, ts + INTERVAL '1 month' AS plus1m, "
        "ts + INTERVAL '1w 2d 3h' AS mixed, "
        "(ts - CAST('2024-01-14T12:00:00' AS timestamp)) IS INTERVAL AS isiv "
        "FROM mtime"
    ).collect()[0]
    base = datetime.datetime(2024, 1, 15, 12, 0)
    assert row["plus_day"] == row["plus_day2"] == base + datetime.timedelta(days=1)
    assert row["minus_half"] == base - datetime.timedelta(hours=12)
    assert row["plus2d"] == base + datetime.timedelta(days=2)
    assert row["plus1m"] == datetime.datetime(2024, 2, 15, 12, 0)
    assert row["mixed"] == base + datetime.timedelta(days=9, hours=3)
    assert row["isiv"] is True


def test_interval_literal_grammar():
    from mldb_spark.dialect.parser import parse_interval_text

    assert parse_interval_text("2d") == (0, 2, 0.0)
    assert parse_interval_text("1 month") == (1, 0, 0.0)
    assert parse_interval_text("3 YEAR") == (36, 0, 0.0)
    assert parse_interval_text("1w 2d 3h 4m 5.5s") == (0, 9, 3 * 3600 + 4 * 60 + 5.5)
    assert parse_interval_text("-2h") == (0, 0, -7200.0)
    with pytest.raises(SyntaxError):
        parse_interval_text("1.5 day")  # fractional days rejected
    with pytest.raises(SyntaxError):
        parse_interval_text("3 parsecs")


def test_mldbfb_401_where_unknown_column(mldb):
    """MLDBFB-401_where_on_unexisting_col_test.py: WHERE over a
    column that does not exist must not error — open schema reads
    NULL (ValueExpression.md:24), so IS NOT NULL selects nothing and
    IS NULL selects everything."""
    _ds(mldb, "mfb401", [("a", 1), ("b", 2)], "rn string, x int")
    assert _q(mldb, "SELECT x FROM mfb401 WHERE someCol IS NOT NULL") == []
    assert len(_q(mldb, "SELECT x FROM mfb401 WHERE someCol IS NULL")) == 2
    assert _q(mldb, "SELECT someCol FROM mfb401 ORDER BY x") == [(None,), (None,)]


def test_bare_truthy_where(mldb):
    """core/dataset.cc:1263-1900 generateRowsWhere handles a bare
    truthy variable as a WHERE condition (WHERE flag == WHERE
    flag != 0, 3VL)."""
    _ds(
        mldb,
        "mtruthy",
        [("a", 1, 10), ("b", 0, 20), ("c", None, 30)],
        "rn string, flag int, v int",
    )
    assert _q(mldb, "SELECT v FROM mtruthy WHERE flag ORDER BY v") == [(10,)]
    assert _q(mldb, "SELECT v FROM mtruthy WHERE NOT flag ORDER BY v") == [(20,)]


def test_mldb_1322_sum_of_bags(mldb):
    """MLDB-1322-sum_stem_token.py: summing tokenize() bags merges
    the per-row counts (per key), globally and per group. The
    reference flattens the bag to sparse columns; this engine keeps
    the MAP form (same counts)."""
    _ds(
        mldb,
        "m1322",
        [("row_0", "potato,carrots", 0), ("row_1", "potato,potatoes,potato", 0),
         ("row_2", "carrot,carrots", 1)],
        "rn string, txt string, label int",
    )
    total = _q(mldb, "SELECT sum(tokenize(txt)) AS bag FROM m1322")
    assert dict(total[0][0]) == {
        "potato": 3, "potatoes": 1, "carrots": 2, "carrot": 1,
    }
    by_label = _q(
        mldb,
        "SELECT label, sum(tokenize(txt)) AS bag FROM m1322 "
        "GROUP BY label ORDER BY label",
    )
    assert by_label[0][0] == 0 and dict(by_label[0][1]) == {
        "potato": 3, "potatoes": 1, "carrots": 1,
    }
    assert by_label[1][0] == 1 and dict(by_label[1][1]) == {
        "carrot": 1, "carrots": 1,
    }


def test_mldb_956_sql_comments(mldb):
    """MLDB-956-sql-comments.py: `--` line comments and `/* */` block
    comments anywhere whitespace is legal; block comments do NOT nest
    (the first */ closes — sql_expression.cc:847-905)."""
    _ds(mldb, "m956", [("row1", 15)], "rn string, x int")
    for sql in (
        "select /*We choose to go to the moon*/ power(x, 2) as p from m956",
        "select --to the moon in this decade\n power(x, 2) as p from m956",
        "select /*not because they are easy,\n but because they are hard*/"
        " power(x, 2) as p from m956",
        "select /*will serve to organize -- and measure*/ power(x, 2) as p"
        " from m956",
        # `/*` and `--` inside a block comment are inert; first */ ends it
        "select /***one we are unwilling to postpone, /*win, -- and the"
        " others, too.\n */ power(x, 2) as p from m956",
    ):
        assert _q(mldb, sql) == [(225.0,)]


def test_mldb_1736_operator_precedence(mldb):
    """MLDB-1736_operator_precedence.py: IN and LIKE bind tighter
    than AND; IS [NOT] NULL binds unconditionally tight (the
    reference matches IS regardless of precedence,
    sql_expression.cc:1509-1539), so x + 5 IS NOT NULL == x + (5 IS
    NOT NULL) == x + 1."""
    _ds(mldb, "m1736", [("result", 5)], "rn string, x int")
    assert _q(
        mldb,
        "SELECT 'a' IN ('a') AND 'b' IN ('b') as colA, "
        "('a' IN ('a')) AND ('b' IN ('b')) as colB FROM m1736",
    ) == [(True, True)]
    assert _q(
        mldb,
        "SELECT 'a' LIKE 'a' AND 'b' LIKE 'b' as colA FROM m1736",
    ) == [(True,)]
    assert _q(
        mldb,
        "SELECT x + 5 IS NOT NULL as colA, x + (5 IS NOT NULL) as colB, "
        "(x + 5) IS NOT NULL as colC FROM m1736",
    ) == [(6, 6, True)]


def test_mldb_917_replace_nan_inf(mldb):
    """MLDB-917_replace_nan_inf.py: IEEE division (0/0 = NaN,
    x/0 = ±Inf) and the replace_* family distributing over scalars,
    row literals and embeddings."""
    import math

    _ds(mldb, "m917", [("row1", 1)], "rn string, one int")
    assert math.isnan(_q(mldb, "select 0/0 as r from m917")[0][0])
    assert _q(mldb, "select 1/0 as r from m917")[0][0] == float("inf")
    assert _q(mldb, "select replace_nan(0/0, 5) as r from m917") == [(5.0,)]
    row = _q(mldb, "select replace_nan({0/0, 2, 6}, 5) as r from m917")[0][0]
    assert row.asDict() == {"0/0": 5.0, "2": 2, "6": 6}
    assert _q(
        mldb, "select replace_inf([1/0, 5/0, 23], 98) as r from m917"
    )[0][0] == [98.0, 98.0, 23.0]
    assert _q(
        mldb,
        "select replace_not_finite([1/0, 0/0, -1/0, 23], 98) as r from m917",
    )[0][0] == [98.0, 98.0, 98.0, 23.0]
    out = _q(
        mldb, "select replace_null([1/0, null, 23], 98) as r from m917"
    )[0][0]
    assert out[0] == float("inf") and out[1] == 98.0 and out[2] == 23.0


def test_mldb_1702_comparisons_latest_read(spark):
    """MLDB-1702_comparisons_test.py: a cell recorded at several
    timestamps compares through its LATEST value (d = 0@4,1@5 reads
    1; e = 1@4,0@5 reads 0)."""
    from mldb_spark.operators.temporal import latest_cells

    cells = spark.createDataFrame(
        [("u1", "a", 1.0, 4.0),
         ("u1", "b", 1.0, 4.0), ("u1", "b", 1.0, 5.0),
         ("u1", "c", 0.0, 4.0), ("u1", "c", 0.0, 5.0),
         ("u1", "d", 0.0, 4.0), ("u1", "d", 1.0, 5.0),
         ("u1", "e", 1.0, 4.0), ("u1", "e", 0.0, 5.0)],
        "row string, column string, value double, ts_raw double",
    ).select(
        "row", "column", "value",
        F.col("ts_raw").cast("timestamp").alias("ts"),
    )
    wide = (
        latest_cells(cells)
        .groupBy("row").pivot("column").agg(F.first("value"))
        .collect()[0]
    )
    latest = {k: wide[k] for k in ("a", "b", "c", "d", "e")}
    assert latest == {"a": 1.0, "b": 1.0, "c": 0.0, "d": 1.0, "e": 0.0}
    # the reference's comparison table over those latest reads
    for col, v in latest.items():
        assert (v > 0) == (col in ("a", "b", "d"))
        assert (v == 0) == (col in ("c", "e"))


def test_mldb_505_in_expression(mldb):
    """MLDB-505-in-expression.py: IN / NOT IN over literal lists and
    subqueries (membership row counts)."""
    _ds(
        mldb,
        "m505",
        [(f"row_{i}", i, i * 2) for i in range(5)],
        "rn string, x int, y int",
    )
    assert len(_q(mldb, "SELECT * FROM m505 WHERE y IN (4,8)")) == 2
    assert len(_q(mldb, "SELECT * FROM m505 WHERE y NOT IN (4,8)")) == 3
    assert len(_q(mldb, "SELECT x FROM m505 WHERE x IN (SELECT y from m505)")) == 3
    assert len(_q(mldb, "SELECT x FROM m505 WHERE x NOT IN (SELECT y from m505)")) == 2


def test_mldb_761_sub_queries(mldb):
    """MLDB-761-sub-queries.py: qualified wildcards through aliases
    and sub-selects, WHERE inside and outside the sub-select, joins
    in sub-selects, and the MLDB-1257 ln() equivalences."""
    _ds(
        mldb,
        "m761a",
        [(f"row_{i}", i) for i in range(10)],
        "rn string, x int",
    )
    _ds(
        mldb,
        "m761b",
        [(f"d2row_{i}", i * 2) for i in range(10)],
        "rn string, y int",
    )
    assert len(_q(mldb, "SELECT m761a.* from m761a")) == 10
    assert len(_q(mldb, "SELECT blah.* FROM m761a AS blah")) == 10
    assert len(_q(mldb, "SELECT blah.* FROM (SELECT * FROM m761a) AS blah")) == 10
    assert len(_q(
        mldb,
        "SELECT blah.* FROM (SELECT * FROM m761a WHERE (x % 2) = 0) AS blah",
    )) == 5
    assert len(_q(
        mldb,
        "SELECT blah.* FROM (SELECT * FROM m761a WHERE (x % 2) = 0) AS blah "
        "WHERE (x%4) = 0",
    )) == 3
    assert len(_q(
        mldb,
        "SELECT blah.* FROM (SELECT * FROM m761a AS t1 JOIN m761b AS t2 "
        "ON t1.x = t2.y) AS blah",
    )) == 5
    assert len(_q(
        mldb,
        "SELECT blah.* FROM (SELECT * FROM m761a AS t1 JOIN m761b AS t2 "
        "ON t1.x = t2.y) AS blah WHERE t1.x = 0",
    )) == 1
    assert [t[-1] for t in _q(
        mldb, "SELECT * FROM (SELECT * FROM m761a WHERE x > 4) ORDER BY x"
    )] == [5, 6, 7, 8, 9]
    # MLDB-853 sub queries without dataset; MLDB-855 {*} as y
    assert _q(mldb, "SELECT 1 FROM (SELECT 1)") == [(1,)]
    assert len(_q(mldb, "SELECT * FROM (select {*} as y from m761a) as x")) == 10
    # MLDB-1257: ln() through sub-select aliases is ln(10)
    import math

    expect = pytest.approx(math.log(10))
    for sql in (
        "SELECT ln(x) as r FROM ( SELECT 10 as x )",
        "SELECT ln(x) as r FROM ( SELECT 10 as x ) as t",
        "SELECT ln(t.x) as r FROM ( SELECT 10 as x ) as t",
        "SELECT * FROM ( SELECT ln(x) as r FROM ( SELECT 10 as x ) )",
        "SELECT * FROM ( SELECT ln(t.x) as r FROM ( SELECT 10 as x ) as t )",
    ):
        assert _q(mldb, sql)[0][0] == expect


def test_mldb_832_select_star(mldb):
    """MLDB-832-select_star.py: wildcard algebra — EXCLUDING with
    names and prefixes, x* AS y* renames, and {x*} as z structured
    selection (struct field names keep the full column name)."""
    _ds(
        mldb,
        "m832",
        [("row_0", 0, 1, 2, 3, 4, 5)],
        "rn string, a int, b int, c int, x1 int, x2 int, x3 int",
    )

    def cols(select):
        df = mldb.query(f"SELECT {select} FROM m832")
        return sorted(df.columns)

    assert cols("*") == ["a", "b", "c", "rn", "x1", "x2", "x3"]
    assert cols("a,b,c,x1") == ["a", "b", "c", "x1"]
    assert cols("* EXCLUDING (a)") == ["b", "c", "rn", "x1", "x2", "x3"]
    assert cols("* EXCLUDING (a,c)") == ["b", "rn", "x1", "x2", "x3"]
    assert cols("* EXCLUDING (x*)") == ["a", "b", "c", "rn"]
    assert cols("* EXCLUDING (a, x*)") == ["b", "c", "rn"]
    assert cols("x* AS y*") == ["y1", "y2", "y3"]
    assert cols("x* EXCLUDING(x3) AS y*") == ["y1", "y2"]
    row = _q(mldb, "SELECT {x*} as z FROM m832")[0][0]
    assert row.asDict() == {"x1": 3, "x2": 4, "x3": 5}
    out = mldb.query("SELECT a, b, {x*} as z FROM m832")
    assert sorted(out.columns) == ["a", "b", "z"]


def test_mldb_1691_str_functions(mldb):
    """MLDB-1691-str-functions.py: length counts characters (not
    bytes) and coerces numbers to their printed form; upper/lower."""
    _ds(mldb, "m1691", [("result", 1)], "rn string, one int")
    assert _q(mldb, "select length('abcde') as rez from m1691") == [(5,)]
    assert _q(mldb, "select length('abcdéç') as rez from m1691") == [(6,)]
    assert _q(mldb, "select length(22) as rez from m1691") == [(2,)]
    assert _q(mldb, "select upper('abcde') as rez from m1691") == [("ABCDE",)]
    assert _q(mldb, "select lower('ABCDe') as rez from m1691") == [("abcde",)]


def test_mldb_2108_split_string(mldb):
    """MLDB-2108-split-string.py: 2-arg split_part returns all parts
    (the reference emits a row; here the analog is the array) and
    [n] indexes 0-based, including UTF-8 payloads and separators."""
    _ds(mldb, "m2108", [("result", 1)], "rn string, one int")
    assert _q(
        mldb,
        "SELECT split_part(x, '::') AS x FROM (SELECT 'A::B::C' as x)",
    ) == [(["A", "B", "C"],)]
    assert _q(
        mldb,
        "SELECT split_part(x, ' ')[\"2\"] AS x "
        "FROM (SELECT 'The Quick Brown Fox' as x)",
    ) == [("Brown",)]
    assert _q(
        mldb,
        "SELECT split_part(x, ' ')[\"4\"] AS x FROM "
        "(SELECT 'ᛖᚴ ᚷᛖᛏ ᛖᛏᛁ ᚧ ᚷᛚᛖᚱ ᛘᚾ ᚦᛖᛋᛋ ᚨᚧ ᚡᛖ ᚱᚧᚨ ᛋᚨᚱ' as x)",
    ) == [("ᚷᛚᛖᚱ",)]
    assert _q(
        mldb,
        "SELECT split_part(x, 'ᚧ')[\"4\"] AS x FROM "
        "(SELECT 'ᛖᚴᚧᚷᛖᛏᚧᛖᛏᛁᚧᚷᛚᛖᚱᚧᛘᚾᚧᚦᛖᛋᛋᚧᚨᚧᚧᚡᛖᚧᚱᚧᚨᚧᛋᚨᚱ' as x)",
    ) == [("ᛘᚾ",)]


def test_mldb_2142_prefix_suffix(mldb):
    """MLDB-2142-prefix-suffix.py: remove_prefix/remove_suffix strip
    only when the affix is present."""
    _ds(mldb, "m2142", [("result", 1)], "rn string, one int")
    assert _q(mldb, "SELECT remove_prefix('awesome', 'awe') AS r FROM m2142") == [("some",)]
    assert _q(mldb, "SELECT remove_prefix('awesome', 'eso') AS r FROM m2142") == [("awesome",)]
    assert _q(mldb, "SELECT remove_suffix('awesome', 'some') AS r FROM m2142") == [("awe",)]
    assert _q(mldb, "SELECT remove_suffix('awesome', 'eso') AS r FROM m2142") == [("awesome",)]


def test_mldb_906_date_part(mldb):
    """MLDB-906-date-function.py: the 16-unit date_part table
    (types/date.cc:714-755) — 0-based doy/week, dow 0=Sunday, the
    iso8601 family, sub-second ms/us, the reference's integer
    (month/4)+1 quarter, and the sign-negating timezone offsets."""
    _ds(
        mldb,
        "m906a",
        [("row1", "2015-01-01T15:14:39.123456Z")],
        "rn string, x string",
    )
    _ds(
        mldb,
        "m906b",
        [("row1", "2014-12-31T15:14:39.123456Z")],
        "rn string, x string",
    )
    _ds(
        mldb,
        "m906c",
        [("row1", "2014-12-28T15:14:39.123456Z")],
        "rn string, x string",
    )

    def part(ds, unit, tz=None):
        tzarg = f", '{tz}'" if tz else ""
        return _q(mldb, f"SELECT date_part('{unit}', x{tzarg}) AS v FROM {ds}")[0][0]

    assert part("m906a", "year") == 2015
    assert part("m906a", "month") == 1
    assert part("m906a", "quarter") == 1
    assert part("m906a", "day") == 1
    assert part("m906a", "hour") == 15
    assert part("m906a", "minute") == 14
    assert part("m906a", "second") == 39
    assert part("m906a", "millisecond") == 123
    assert part("m906a", "microsecond") == 123456
    assert part("m906a", "dow") == 4
    assert part("m906a", "doy") == 0
    assert part("m906a", "isodow") == 4
    assert part("m906a", "isodoy") == 4
    assert part("m906a", "week") == 0
    assert part("m906a", "isoweek") == 1
    assert part("m906a", "isoyear") == 2015
    # December date
    assert part("m906b", "dow") == 3
    assert part("m906b", "doy") == 364
    assert part("m906b", "isodow") == 3
    assert part("m906b", "isodoy") == 3
    assert part("m906b", "isoweek") == 1
    assert part("m906b", "isoyear") == 2015
    # previous ISO year
    assert part("m906c", "isoweek") == 52
    assert part("m906c", "isodoy") == 364
    # timezone offsets NEGATE the sign (Iso8601Parser convention)
    assert part("m906a", "hour", "-0100") == 16
    assert part("m906a", "hour", "+01") == 14
    assert part("m906a", "hour", "-05:50") == 21
    assert part("m906a", "hour", "-12:00") == 3
    assert part("m906a", "day", "-12:00") == 2


def test_mldb_906_date_trunc(mldb):
    """MLDB-906-date-function.py date_trunc half: week truncates to
    the previous Sunday, isoweek/isoyear to Mondays, quarter to the
    reference's (quarter-1)*3 month (December -> September 1st)."""
    _ds(
        mldb,
        "m906t",
        [("row1", "2014-12-31T15:14:39.123456Z")],
        "rn string, x string",
    )

    def trunc(unit, tz=None):
        tzarg = f", '{tz}'" if tz else ""
        return _q(
            mldb,
            f"SELECT cast(date_trunc('{unit}', x{tzarg}) as string) AS v FROM m906t",
        )[0][0]

    assert trunc("second") == "2014-12-31 15:14:39"
    assert trunc("minute") == "2014-12-31 15:14:00"
    assert trunc("hour") == "2014-12-31 15:00:00"
    assert trunc("day") == "2014-12-31 00:00:00"
    assert trunc("month") == "2014-12-01 00:00:00"
    assert trunc("quarter") == "2014-09-01 00:00:00"
    assert trunc("year") == "2014-01-01 00:00:00"
    assert trunc("dow") == "2014-12-31 00:00:00"
    assert trunc("doy") == "2014-12-31 00:00:00"
    assert trunc("week") == "2014-12-28 00:00:00"
    assert trunc("isoweek") == "2014-12-29 00:00:00"
    assert trunc("isoyear") == "2014-12-29 00:00:00"
    assert trunc("millisecond") == "2014-12-31 15:14:39.123"
    assert trunc("minute", "-00:30") == "2014-12-31 15:44:00"
    assert trunc("hour", "+08:00") == "2014-12-31 07:00:00"


def test_mldb_2111_group_by_expression(mldb):
    """MLDB-2111-group-by-expression.py: expressions of GROUP BY keys
    as select items (including sub-expressions and function-argument
    positions), HAVING over key expressions, and errors naming the
    stray column when a select item is not derivable from the keys."""
    _ds(
        mldb,
        "m2111",
        [("0", 1, 1), ("1", 1, 2), ("2", 2, 1), ("3", 2, 2)],
        "rn string, x int, y int",
    )
    assert _q(mldb, "SELECT x+1 AS k FROM (SELECT x:1) GROUP BY x+1") == [(2,)]
    assert _q(mldb, "SELECT x+1 as z FROM (SELECT x:1) GROUP BY x+1") == [(2,)]
    assert _q(mldb, "SELECT (x+1)*3 as z FROM (SELECT x:1) GROUP BY x+1") == [(6,)]
    assert sorted(_q(mldb, "SELECT x+1 AS k FROM m2111 GROUP BY x+1, y*2")) == [
        (2,), (2,), (3,), (3,),
    ]
    assert sorted(_q(mldb, "SELECT sqrt(x * 3) as z FROM m2111 GROUP BY x * 3")) == [
        (pytest.approx(1.7320508),), (pytest.approx(2.4494897),),
    ]
    assert sorted(_q(
        mldb,
        "SELECT horizontal_sum({x,y}) + 1 as z FROM m2111 "
        "GROUP BY horizontal_sum({x,y})",
    )) == [(3.0,), (4.0,), (5.0,)]
    assert _q(
        mldb, "SELECT x+1 AS k FROM m2111 GROUP BY x+1 ORDER BY x+1"
    ) == [(2,), (3,)]
    assert _q(
        mldb, "SELECT 0 as z FROM m2111 GROUP BY x+1 HAVING x+1 = 3"
    ) == [(0,)]
    for bad in (
        "SELECT x+1 AS k FROM (SELECT x:1) GROUP BY 1+x",
        "SELECT x+1*3 AS k FROM (SELECT x:1) GROUP BY x+1",
    ):
        with pytest.raises(Exception, match="x"):
            mldb.query(bad).collect()
    # MLDB-1713-wildcard-groupby.py: wildcard + GROUP BY is an error
    with pytest.raises(Exception, match="[Ww]ildcard"):
        mldb.query("select * from (select 1 as a) group by a").collect()


def test_mldb_461_horizontal_ops(mldb):
    """MLDB-461_horizontal_ops_test.py over the latest-flattened
    rows: horizontal_* skip absent (NULL) cells, prefix wildcards
    scope the cells, and an empty match gives count 0 / NULL avg."""
    _ds(
        mldb,
        "m461",
        [("x", 1, 1, 1, None), ("y", 1, 1, None, 1), ("z", 10, 1, None, None)],
        "rn string, col1 int, col2 int, pwet int, prout int",
    )
    base = "FROM m461 ORDER BY rowName()"
    assert [v for (v,) in _q(mldb, f"SELECT horizontal_count({{col1, col2, pwet, prout}}) AS v {base}")] == [3, 3, 2]
    assert [v for (v,) in _q(mldb, f"SELECT horizontal_sum({{col1, col2, pwet, prout}}) AS v {base}")] == [3.0, 3.0, 11.0]
    assert [v for (v,) in _q(mldb, f"SELECT horizontal_avg({{col1, col2, pwet, prout}}) AS v {base}")] == [1.0, 1.0, 5.5]
    assert [v for (v,) in _q(mldb, f"SELECT horizontal_count({{p*}}) AS v {base}")] == [1, 1, 0]
    assert [v for (v,) in _q(mldb, f"SELECT horizontal_avg({{superPatate*}}) AS v {base}")] == [None, None, None]
    assert [v for (v,) in _q(mldb, f"SELECT horizontal_min({{col1, col2}}) AS v {base}")] == [1, 1, 1]
    assert [v for (v,) in _q(mldb, f"SELECT horizontal_max({{col1, col2}}) AS v {base}")] == [1, 1, 10]


def test_mldb_923_embedding_literal(mldb):
    """MLDB-923-embedding-literal.py: embedding literals, vector_sum,
    and element-wise + over embeddings."""
    _ds(mldb, "m923", [("r", 1)], "rn string, one int")
    assert _q(mldb, "select [3,2,1] as x from m923") == [([3, 2, 1],)]
    assert _q(mldb, "select vector_sum([1,2,3],[3,2,1]) as x from m923") == [
        ([4.0, 4.0, 4.0],)
    ]
    assert _q(mldb, "select [1,2,3] + [3,2,1] as x from m923") == [
        ([4.0, 4.0, 4.0],)
    ]
    assert _q(mldb, "select [1,2,3] * 2 as x from m923") == [([2.0, 4.0, 6.0],)]


def test_mldb_953_normalize(mldb):
    """MLDB-953-normalize.py: the p-norm family — p=0 counts non-zero
    elements, p=inf is the max, fractional p via the power-mean root;
    normalize(v,p)/norm(v,p) round-trips to 1 (except p=0), and
    normalize equals v/norm element-wise."""
    _ds(mldb, "m953", [("r", 1)], "rn string, one int")
    for p in ("1", "2", "3.2", "inf"):
        assert _q(
            mldb,
            f"select norm(normalize([1, 2, 3, 4], {p}), {p}) as x from m953",
        )[0][0] == pytest.approx(1.0)
    assert _q(
        mldb, "select norm(normalize([1, 2, 3, 4], 0), 0) as x from m953"
    )[0][0] == pytest.approx(4.0)
    assert _q(mldb, "select norm([1,2,0,4],0) as v from m953") == [(3.0,)]
    assert _q(mldb, "select norm([1,2,0,4],1) as v from m953") == [(7.0,)]
    assert _q(mldb, "select norm([1,2,0,4],2) as v from m953")[0][0] == pytest.approx(4.582575)
    assert _q(mldb, "select norm([1,2,0,4],inf) as v from m953") == [(4.0,)]
    for p in ("0", "1", "2", "3.2", "inf"):
        assert _q(
            mldb,
            f"select horizontal_sum( normalize([1,2,3,4],{p}) - "
            f"[1,2,3,4]/norm([1,2,3,4],{p}) ) as x from m953",
        )[0][0] == pytest.approx(0.0, abs=1e-5)


def test_sign_function(mldb):
    """sign_function_test.py: -1/0/1 for numerics, NaN for NaN and
    non-numeric strings, NULL for NULL."""
    import math

    _ds(mldb, "msign", [("r", 1)], "rn string, one int")
    row = _q(
        mldb,
        "SELECT sign(-123) as a, sign(123) as b, sign(0) as c, "
        "sign(-123.123) as d, sign(123.123) as e, sign(0.0) as f, "
        "sign(nan) as g, sign('octosanchez') as h, sign(NULL) as i "
        "FROM msign",
    )[0]
    assert row[:6] == (-1.0, 1.0, 0.0, -1.0, 1.0, 0.0)
    assert math.isnan(row[6]) and math.isnan(row[7]) and row[8] is None


def test_row_number_and_total_rows(mldb):
    """row_number_builtin_fct_test.py / total_rows_builtin_fct_test.py:
    SELECT-only rowNumber() (1-based, positioned by ORDER BY, before
    LIMIT/OFFSET) and totalRows() (post-WHERE count, unaffected by
    LIMIT); both error outside SELECT expressions."""
    _ds(
        mldb,
        "mrownum",
        [(str(i), i) for i in range(4)],
        "rn string, col int",
    )
    assert _q(mldb, "SELECT totalRows() AS t FROM mrownum") == [(4,)] * 4
    assert _q(mldb, "SELECT totalRows() - 1 AS t FROM mrownum") == [(3,)] * 4
    assert _q(
        mldb, "SELECT rowNumber() AS num FROM mrownum ORDER BY rowName()"
    ) == [(1,), (2,), (3,), (4,)]
    # DESC: row '3' is numbered 1 (numbers follow the output order)
    rows = mldb.query(
        "SELECT rowName() AS rn2, rowNumber() AS num FROM mrownum "
        "ORDER BY rowName() DESC"
    ).collect()
    assert [(r["rn2"], r["num"]) for r in rows] == [
        ("3", 1), ("2", 2), ("1", 3), ("0", 4),
    ]
    assert _q(
        mldb, "SELECT totalRows() AS t FROM mrownum WHERE rowName() < '2'"
    ) == [(2,)] * 2
    assert _q(
        mldb,
        "SELECT rowNumber() AS n FROM mrownum ORDER BY rowName() "
        "LIMIT 2 OFFSET 2",
    ) == [(3,), (4,)]
    assert _q(
        mldb, "SELECT totalRows() AS t FROM mrownum ORDER BY rowName() LIMIT 2"
    ) == [(4,)] * 2
    for bad, fn in (
        ("SELECT * FROM mrownum WHERE rowNumber() < 2", "rowNumber"),
        ("SELECT * FROM mrownum ORDER BY totalRows()", "totalRows"),
        ("SELECT 'coco' AS c FROM mrownum GROUP BY rowNumber()", "rowNumber"),
        ("SELECT rowName() NAMED totalRows() FROM mrownum", "totalRows"),
    ):
        with pytest.raises(Exception, match=f"{fn} is only available"):
            mldb.query(bad).collect()


def test_stddev_builtin(mldb):
    """stddev_builtin_fct_test.py: sample variance/stddev and their
    vertical_ aliases. Divergence noted: the reference returns NaN
    for an all-absent column; this engine keeps SQL NULL (the DuckDB
    oracle convention)."""
    import math

    rows = []
    for i in range(100):
        for j, v in enumerate((1, 2, 3, 10, 10)):
            rows.append((f"a{i}-{j}", v))
    _ds(mldb, "mstd", rows, "rn string, a int")
    var = 15.791583166332668
    assert _q(mldb, "SELECT variance(a) AS v FROM mstd")[0][0] == pytest.approx(var)
    assert _q(mldb, "SELECT vertical_variance(a) AS v FROM mstd")[0][0] == pytest.approx(var)
    assert _q(mldb, "SELECT stddev(a) AS v FROM mstd")[0][0] == pytest.approx(math.sqrt(var))
    assert _q(mldb, "SELECT vertical_stddev(a) AS v FROM mstd")[0][0] == pytest.approx(math.sqrt(var))


def test_try_except_builtin(mldb):
    """try_except_builtin_fct.py: try(expr, fallback) absorbs the
    failure of a fallible expression (malformed JSON parses to NULL
    in this engine's NULL-on-error binding, so try falls back)."""
    _ds(mldb, "mtry", [("r", 1)], "rn string, one int")
    out = _q(mldb, "SELECT parse_json('{\"a\" : 5}')['a'] AS v FROM mtry")
    assert out == [("5",)] or out == [(5,)]
    assert _q(
        mldb, "SELECT try(parse_json('coco')['a'], 'err') AS v FROM mtry"
    ) == [("err",)]


def test_mldb_1594_sum_star_spread(mldb):
    """MLDB-1594-aggregator-empty-row.py / MLDB-2186-empty-array.py:
    `tokenize(...) AS *` spreads the bag into sparse columns,
    `sum({*}) AS *` sums them per column, and rows with an empty bag
    contribute nothing (NULL cells skipped)."""
    _ds(
        mldb,
        "m1594",
        [("rowA", "hoho things are great!"), ("rowB", "! "),
         ("rowC", "things are great, great")],
        "rn string, txt string",
    )
    inner = (
        "SELECT tokenize(lower(txt), {splitChars: ' ,.!;:\"?', "
        "minTokenLength: 2}) as * from m1594"
    )
    for where in ("", " where rowName() != 'rowB'"):
        df = mldb.query(f"select sum({{*}}) as * from ({inner}{where})")
        assert sorted(df.columns) == ["are", "great", "hoho", "things"]
        row = df.collect()[0]
        assert {c: row[c] for c in df.columns} == {
            "are": 2, "great": 3, "hoho": 1, "things": 2,
        }


def test_builtin_hash(mldb):
    """builtin_hash_fct_test.py invariants: hash() is deterministic
    per value, value-typed (not timestamp-sensitive), distinguishes
    1 from '1', hashes rows, and hash(NULL) is NULL. (Absolute hash
    values are engine-specific: the reference uses SipHash, this
    engine xxhash64.)"""
    _ds(mldb, "mhash", [("r", 1, 1)], "rn string, a int, b int")
    row = _q(
        mldb,
        "SELECT hash(1) AS h1, hash('1') AS hs, hash('abc') AS ha, "
        "hash({a: 12, b: 'coco'}) AS hr, hash(NULL) AS hn, "
        "hash(a) = hash(b) AS same FROM mhash",
    )[0]
    assert row[0] is not None and row[1] is not None and row[0] != row[1]
    assert row[2] is not None and row[3] is not None
    assert row[4] is None
    assert row[5] is True


def test_mldb_1840_empty_str_paths(mldb):
    """MLDB-1840_empty_str_paths.py: empty-string column names flow
    through parse_json AS * and remain addressable."""
    _ds(mldb, "m1840", [("r", 1)], "rn string, one int")
    df = mldb.query('SELECT parse_json(\'{"": 5, "pwet":10}\') AS * FROM m1840')
    assert sorted(df.columns) == ["", "pwet"]
    row = df.collect()[0]
    assert (row[""], row["pwet"]) == ("5", "10")


def test_mldb_835_table_aliases(mldb):
    """MLDB-835-table-aliases.py: dotted table names, dotted column
    names, dotted ALIASES ('x.y' AS 'q.r'), and their interplay in
    SELECT / ORDER BY / GROUP BY resolution. (The join case where
    flattened names collide — table x column y.z vs table x.y column
    z — stays a documented divergence: this engine's join output
    names are flat strings, the reference's are structured paths.)"""
    df = mldb.spark.createDataFrame(
        [("row1", 7, 11, 0), ("row2", 5, 13, 1)],
        "rn string, `a.b` int, z int, id int",
    )
    mldb.create_dataset("x.y", df, row_name_col="rn")
    assert _q(mldb, 'SELECT a.b AS v FROM "x.y" ORDER BY v') == [(5,), (7,)]
    assert len(_q(mldb, 'SELECT "a."* FROM "x.y"')) == 2
    assert len(_q(mldb, 'SELECT a.* FROM "x.y"')) == 2
    out = mldb.query('select * excluding(a.*) from "x.y"')
    assert sorted(out.columns) == ["id", "rn", "z"]
    for sql in (
        'SELECT q.r.a.b AS v FROM "x.y" as "q.r"',
        'SELECT "q.r".a.b AS v FROM "x.y" as "q.r"',
        'SELECT "q.r"."a.b" AS v FROM "x.y" as "q.r"',
    ):
        assert sorted(_q(mldb, sql)) == [(5,), (7,)]
    assert _q(
        mldb,
        'SELECT "q.r"."a.b" AS "n.m" FROM "x.y" as "q.r" '
        'ORDER BY "q.r"."a.b"',
    ) == [(5,), (7,)]
    assert len(_q(mldb, 'SELECT count(1) AS c FROM "x.y" GROUP BY "a.b"')) == 2
    assert _q(
        mldb,
        'SELECT "a.b" FROM "x.y" as "q.r" GROUP BY "q.r"."a.b"',
    ) in ([(7,), (5,)], [(5,), (7,)])
    assert _q(
        mldb,
        'SELECT "q.r"."a.b" AS nm FROM "x.y" as "q.r" GROUP BY "a.b" '
        "ORDER BY nm",
    ) == [(5,), (7,)]


def test_mldb_957_function_name_case(mldb):
    """MLDB-957-function-name.py: function names are case-sensitive
    (power works, POWER is unknown); camelCase builtins accept only
    their canonical spelling."""
    _ds(mldb, "m957", [("row1", 15)], "rn string, x int")
    assert _q(mldb, "select power(x, 2) as p from m957") == [(225.0,)]
    for bad in (
        "select POWER(x, 2) as p from m957",
        "select Power(x, 2) as p from m957",
        "select ROWNAME() as r from m957",
    ):
        with pytest.raises(Exception, match="[Uu]nable to find function"):
            mldb.query(bad).collect()
    assert _q(mldb, "select rowName() as r from m957") == [("row1",)]


def test_mldb_1440_and_797_function_entities(mldb):
    """MLDB-1440_sqlexpr_ignore_unknown_param.py /
    MLDB-797-nested_sql_expressions.py: sql.expression entities
    ignore unknown argument fields, apply with `as *` spreading all
    outputs, support the identity `*` expression, and compose (one
    entity calling another)."""
    _ds(
        mldb,
        "m797",
        [("row_0", 1, 2), ("row_1", 1, 3), ("row_2", None, 4)],
        "rn string, x int, y int",
    )
    mldb.create_sql_expression_function("noIgnore", "a+b as rez")
    out = mldb.query("select noIgnore({a:1, b:2}) as * from m797 limit 1")
    assert out.columns == ["rez"] and out.collect()[0]["rez"] == 3
    out = mldb.query("select noIgnore({a:1, b:2, c:5}) as * from m797 limit 1")
    assert out.columns == ["rez"] and out.collect()[0]["rez"] == 3
    mldb.create_sql_expression_function("patate", "*")
    mldb.create_sql_expression_function("poil", "patate({*})")
    out = mldb.query("SELECT poil({*}) as * from m797")
    assert out.count() == 3 and set(out.columns) >= {"x", "y"}


def test_mldb_909_when_timestamp_literal(mldb):
    """MLDB-909-simple-WHEN-expression.py: TIMESTAMP literals in WHEN
    clauses — cells inside the window survive, outside vanish; WHERE
    keeps operating on the latest values (cells layout covered by
    operators.temporal)."""
    from pyspark.sql import functions as F

    spark = mldb.spark
    rows = [(str(i), str(i), "2020-06-01T00:00:00") for i in range(9)]
    rows.append(("9", "9", "2020-06-02T00:00:00"))
    df = spark.createDataFrame(rows, "rn string, x string, tss string").select(
        "rn", "x", F.col("tss").cast("timestamp").alias("ts")
    )
    mldb.create_dataset("m909", df, row_name_col="rn", ts_col="ts")
    full = _q(
        mldb,
        "SELECT x FROM m909 WHEN value_timestamp() BETWEEN "
        "TIMESTAMP '2019-06-01' AND TIMESTAMP '2021-06-01' ORDER BY rowName()",
    )
    assert [v for (v,) in full] == [str(i) for i in range(10)]
    none = _q(
        mldb,
        "SELECT x FROM m909 WHEN value_timestamp() BETWEEN "
        "TIMESTAMP '2019-06-01' AND TIMESTAMP '2019-06-08'",
    )
    assert none == []
    last_out = _q(
        mldb,
        "SELECT x FROM m909 WHEN value_timestamp() < TIMESTAMP '2020-06-02' "
        "ORDER BY rowName()",
    )
    assert [v for (v,) in last_out] == [str(i) for i in range(9)]
    assert _q(mldb, "SELECT x FROM m909 WHERE x = '9'") == [("9",)]


def test_mldb_963_when_in_when_cells(spark):
    """MLDB-963-when-in-WHEN.py on the cells layout: WHEN
    value_timestamp() < latest_timestamp(x) drops each row's x cell
    (its own latest) but keeps older y cells; row 9 (x and y at the
    same late stamp) loses both."""
    from pyspark.sql import functions as F

    from mldb_spark.operators.temporal import when_filter

    now, tomorrow = 1000.0, 1000.0 + 86400
    cells = []
    for i in range(9):
        cells.append((str(i), "x", str(i), tomorrow))
        cells.append((str(i), "y", str(i), now))
    cells.append(("9", "x", "9", tomorrow))
    cells.append(("9", "y", "9", tomorrow))
    df = spark.createDataFrame(
        cells, "row string, column string, value string, ts_raw double"
    ).select("row", "column", "value", F.col("ts_raw").cast("timestamp").alias("ts"))
    latest_x = (
        df.filter(F.col("column") == "x")
        .groupBy("row")
        .agg(F.max("ts").alias("x_latest"))
    )
    joined = df.join(latest_x, "row")
    kept = when_filter(joined, F.col("ts") < F.col("x_latest"))
    out = {
        (r["row"], r["column"]) for r in kept.collect()
    }
    assert out == {(str(i), "y") for i in range(9)}


def test_mldbfb_638_orderby_aggregate(mldb):
    """MLDBFB-638-groupby-orderby-transform.py: ORDER BY over an
    aggregate that is not in the select list (hidden aggregate
    output), and over group keys not selected."""
    _ds(
        mldb,
        "mfb638",
        [("row1", "1", "1", "2"), ("row2", "2", "2", "1")],
        "rn string, x string, y string, z string",
    )
    assert _q(
        mldb, "SELECT min(x) AS mx FROM mfb638 GROUP BY y ORDER BY min(z), y"
    ) == [("2",), ("1",)]
    assert _q(
        mldb, "SELECT min(x) AS mx FROM mfb638 GROUP BY y ORDER BY y DESC"
    ) == [("2",), ("1",)]


def test_mldbfb_650_named_aggregator(mldb):
    """MLDBFB-650-names-aggregators.py: NAMED with an aggregate under
    GROUP BY computes the row name per group."""
    _ds(
        mldb,
        "mfb650",
        [("efgh", "1"), ("abcd", "1")],
        "rn string, x string",
    )
    out = mldb.query("SELECT x NAMED min(rowName()) FROM mfb650 GROUP BY x")
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["x"] == "1" and rows[0]["rowName"] == "abcd"


def test_mldb_1165_rowname_in(mldb):
    """MLDB-1165-where-rowname-in-optim.py (+MLDB-1615): WHERE
    rowName() IN / NOT IN literal lists (the reference's row-index
    fast path; here Catalyst folds the isin into the scan filter)."""
    _ds(
        mldb,
        "m1165",
        [(f"u{i}", "whatever") for i in range(200)],
        "rn string, x string",
    )
    out = mldb.query(
        "select * from m1165 WHERE rowName() IN "
        "('u1', 'u12', 'u123', 'u1234', 'u12345', 'u123456')"
    )
    assert sorted(r["rn"] for r in out.collect()) == ["u1", "u12", "u123"]
    out = mldb.query(
        "select * from m1165 WHERE rowName() NOT IN ('u1', 'u3', 'u5', 'u7') "
        "AND rowPathLength() = 1 ORDER BY rowName() LIMIT 3"
    )
    assert [r["rn"] for r in out.collect()] == ["u0", "u10", "u100"]


def test_mldb_1026_not_in_subquery_rowname(mldb):
    """MLDB-1026-slow-not-in.js: rowName() NOT IN (SELECT rowName()
    FROM other) — the anti-join membership path."""
    _ds(mldb, "m1026a", [(f"r{i}", i) for i in range(50)], "rn string, x int")
    _ds(mldb, "m1026b", [(f"r{i}", i) for i in range(40)], "rn string, x int")
    out = _q(
        mldb,
        "select count(*) AS n from m1026a where rowName() not in "
        "(select rowName() from m1026b)",
    )
    assert out == [(10,)]


def test_mldb_1552_where_and_rowname(mldb):
    """MLDB-1552-where-and-rowname-optim.py: conjunction of a column
    predicate and a rowName() inequality, DESC ordering."""
    _ds(mldb, "m1552", [(f"row_{i}", i) for i in range(3)], "rn string, x int")
    out = _q(
        mldb,
        "SELECT x FROM m1552 WHERE (x IS NOT null) AND "
        "rowName() != 'row_1' order by rowName() desc",
    )
    assert out == [(2,), (0,)]


def test_mldb_1792_aggregator_arity(mldb):
    """MLDB-1792_aggregator_error_message.py: wrong aggregate arity
    raises the reference's message instead of silently dropping
    arguments."""
    _ds(mldb, "m1792", [("row1", 1)], "rn string, colA int")
    with pytest.raises(Exception, match="avg expected 1 argument, got 2"):
        mldb.query("SELECT avg(colA, 2) AS v FROM m1792").collect()
    assert _q(mldb, "SELECT avg(colA) AS v FROM m1792") == [(1.0,)]


def test_mldb_1707_function_nested_input(mldb):
    """MLDB-1707-no-context-resolve-table.py: an sql.expression over
    a nested input row (`input.*`) applied as f({input: {...}}) — the
    argument row materializes and the inner wildcard resolves."""
    _ds(mldb, "m1707", [("r", 1)], "rn string, one int")
    mldb.create_sql_expression_function("f1707", "input.*")
    out = mldb.query(
        "select f1707( {input: {xx: 1, xy: 2}} ) as * from m1707"
    )
    row = out.collect()[0]
    got = {c: row[c] for c in out.columns if c not in ("rn", "one")}
    # outputs carry the nested input columns (flat or dotted naming)
    vals = sorted(v for v in got.values() if v is not None)
    assert vals == [1, 2]


def test_mldb_1172_column_expr_in_expression(mldb):
    """MLDB-1172_column_expr_fail.py: COLUMN EXPR with ORDER BY
    rowCount() LIMIT, and COLUMN EXPR inside a row literal feeding
    horizontal_sum."""
    # no rn data column: rowCount() counts rows-with-value, so a
    # row-name column would outrank the sparse features
    mldb.create_dataset(
        "m1172",
        mldb.spark.createDataFrame(
            [(1, 1, 1), (1, 1, None), (1, None, None)],
            "feat1 int, feat2 int, feat3 int",
        ),
    )
    out = mldb.query(
        "select COLUMN EXPR (ORDER BY rowCount() DESC LIMIT 2) from m1172"
    )
    assert sorted(out.columns) == ["feat1", "feat2"]
    out = mldb.query(
        "select COLUMN EXPR (WHERE regex_match(columnName(), 'feat[0-9]') "
        "ORDER BY rowCount() DESC LIMIT 2) from m1172"
    )
    assert sorted(out.columns) == ["feat1", "feat2"]
    vals = [v for (v,) in _q(
        mldb,
        "SELECT horizontal_sum({COLUMN EXPR (WHERE "
        "regex_match(columnName(), 'feat.*'))}) AS res FROM m1172 "
        "ORDER BY res DESC",
    )]
    assert vals == [3.0, 2.0, 1.0]
    df = mldb.spark.createDataFrame(
        [("user1", 1, None), ("user2", None, 1)],
        "rn string, `0:behA` int, `0:behB` int",
    )
    mldb.create_dataset("m1172b", df, row_name_col="rn")
    assert _q(
        mldb,
        "SELECT horizontal_sum({COLUMN EXPR (WHERE "
        "regex_match(columnName(), '[0-9]+:behA'))}) AS res FROM m1172b "
        "ORDER BY rowName()",
    ) == [(1.0,), (0.0,)]


def test_mldb_2040_join_matrix(mldb):
    """MLDB-2040_join_tests.py: left/right joins against empty and
    multi-match right-hand sides — row multiplicity and NULL halves
    (join row names follow the [l]-[r] convention pinned in the
    MLDB-1624 port)."""
    _ds(
        mldb,
        "m2040a",
        [("row1", 1, 1), ("row2", 1, 2), ("row3", 2, 1), ("row4", 2, 2)],
        "rn string, one int, two int",
    )
    _ds(mldb, "m2040_empty", [], "rn string, one int")
    _ds(
        mldb,
        "m2040_rhs",
        [("row1", 1, 1), ("row2", 1, 2)],
        "rn string, one int, two int",
    )
    _ds(
        mldb,
        "m2040_multi",
        [("row1", 1, 1), ("row2", 1, 2), ("row22", 1, 2), ("row11", 1, 1)],
        "rn string, one int, two int",
    )
    # LEFT vs empty: all four rows survive with NULL right halves
    out = mldb.query(
        "SELECT * FROM m2040a LEFT JOIN m2040_empty "
        "ON m2040a.one = m2040_empty.one"
    )
    assert out.count() == 4
    # LEFT vs rhs: two matches, two NULL-extended
    rows = mldb.query(
        "SELECT * FROM m2040a LEFT JOIN m2040_rhs ON "
        "m2040a.one = m2040_rhs.one AND m2040a.two = m2040_rhs.two"
    ).collect()
    matched = [r for r in rows if r["m2040_rhs.one"] is not None]
    assert len(rows) == 4 and len(matched) == 2
    # LEFT vs multi-match: a.row1/a.row2 each match twice -> 6 rows
    rows = mldb.query(
        "SELECT * FROM m2040a LEFT JOIN m2040_multi ON "
        "m2040a.one = m2040_multi.one AND m2040a.two = m2040_multi.two"
    ).collect()
    assert len(rows) == 6
    assert sum(1 for r in rows if r["m2040_multi.one"] is None) == 2
    # RIGHT vs empty: nothing
    assert mldb.query(
        "SELECT * FROM m2040a RIGHT JOIN m2040_empty "
        "ON m2040a.one = m2040_empty.one"
    ).count() == 0
    # RIGHT vs rhs: exactly the two right rows
    rows = mldb.query(
        "SELECT * FROM m2040a RIGHT JOIN m2040_rhs ON "
        "m2040a.one = m2040_rhs.one AND m2040a.two = m2040_rhs.two"
    ).collect()
    assert len(rows) == 2 and all(r["m2040a.one"] is not None for r in rows)


def test_mldb_1911_horizontal_no_from(mldb):
    """MLDB-1911_horizontal_agg_no_from.py: horizontal_* over literal
    rows without a FROM clause. (The reference marks count/min as
    expectedFailure — this engine supports all of them.)"""
    assert _q(mldb, "SELECT horizontal_sum({1 AS a, 2 AS b}) AS s") == [(3.0,)]
    assert _q(
        mldb,
        "SELECT horizontal_count({1 AS a, 2 AS b}) AS c, "
        "horizontal_min({1 AS a, 2 AS b}) AS mn, "
        "horizontal_max({1 AS a, 2 AS b}) AS mx",
    ) == [(2, 1, 2)]


def test_mldb_1703_replace_invalid_chars(mldb, tmp_path):
    """MLDB-1703_null_char_import.py: replaceInvalidCharactersWith
    scrubs NUL/control bytes so select and tokenize work downstream."""
    from mldb_spark.sources.text_io import import_text

    p = tmp_path / "null_char.csv"
    p.write_bytes(b"name,v\nab\x00cd,1\nok,2\n")
    df = import_text(
        mldb.spark, str(p), replace_invalid_characters_with=" "
    )
    rows = sorted((r["name"], r["v"]) for r in df.collect())
    assert rows == [("ab cd", 1), ("ok", 2)]


def test_mldb_162_min_max(mldb):
    """MLDB-162-min-max-function.py: scalar expressions OVER
    aggregates (1 + sum(x+1), sum+max, max-max), grouped min/max,
    and GROUP BY over a constant-free select erroring."""
    _ds(
        mldb,
        "m162",
        [(f"row_{i}", i, i % 2) for i in range(10)],
        "rn string, x int, y int",
    )
    assert _q(mldb, 'SELECT 1 + sum(x + 1) AS s FROM m162') == [(56,)]
    assert _q(mldb, 'SELECT sum(x) + max(x) AS s FROM m162') == [(54,)]
    assert _q(
        mldb, 'SELECT 3 + min(x) as c1, sum(y) / 2 as c2 FROM m162'
    ) == [(3, 2.5)]
    assert _q(
        mldb,
        'SELECT max(x) + max(x) as c1, max(x) - max(x) as c2 FROM m162',
    ) == [(18, 0)]
    assert sorted(_q(
        mldb,
        'SELECT y as label, min(x) as mn, max(x) as mx FROM m162 GROUP BY y',
    )) == [(0, 0, 8), (1, 1, 9)]
    # MLDB-234: non-derivable select item under GROUP BY errors
    with pytest.raises(Exception, match="x"):
        mldb.query('SELECT x FROM m162 GROUP BY 1').collect()


def test_mldb_702_row_aggregators(mldb):
    """MLDB-702-row-aggregators.py: min({...})/max({...}) per group
    aggregate each cell of the row independently (including string
    cells); sum(x) GROUP BY x (MLDB-988)."""
    _ds(
        mldb,
        "m702",
        [("ex1", 0, 0, "cat"), ("ex2", 1, 1, "dog"), ("ex3", 1, 2, "cat")],
        "rn string, x int, y int, label string",
    )
    rows = {
        r[0]["label"]: (r[0], r[1])
        for r in (
            (row["mn"], row["mx"])
            for row in mldb.query(
                "SELECT min({x, y, label}) AS mn, max({x, y, label}) AS mx "
                "FROM m702 GROUP BY label"
            ).collect()
        )
    }
    assert rows["cat"][0].asDict() == {"x": 0, "y": 0, "label": "cat"}
    assert rows["cat"][1].asDict() == {"x": 1, "y": 2, "label": "cat"}
    assert rows["dog"][0].asDict() == {"x": 1, "y": 1, "label": "dog"}
    assert sorted(_q(mldb, "SELECT sum(x) AS s FROM m702 GROUP BY x")) == [
        (0,), (2,),
    ]


def test_mldb_2103_2065_row_dataset(mldb):
    """MLDB-2103-merge-row-dataset.py / MLDB-2065-transpose_rowdataset
    / MLDB-2064: row_dataset over embedding and row literals in FROM,
    nested inside merge() (last dataset wins per cell) and
    transpose()."""
    out = mldb.query("SELECT * FROM row_dataset([0, 0])")
    assert sorted(tuple(r) for r in out.collect()) == [
        ("0", "0", 0.0), ("1", "1", 0.0),
    ]
    out = mldb.query(
        "SELECT * FROM merge(row_dataset([0, 0]), row_dataset([1, 1]))"
    )
    assert sorted(tuple(r) for r in out.collect()) == [
        ("0", "0", 1.0), ("1", "1", 1.0),
    ]
    # transpose of a row_dataset must not fail (the reference
    # segfaulted — MLDB-2065)
    assert mldb.query(
        "SELECT * FROM transpose((row_dataset([0, 0])))"
    ).count() == 2
    out = mldb.query('SELECT * FROM row_dataset({"My Value": 1})')
    assert [tuple(r) for r in out.collect()] == [("0", "My Value", 1.0)]


def test_mldb_987_time_quantization(spark):
    """MLDB-987-beh-time-quantization-test.py: recording-time stamp
    quantization at thousandth/hundredth/second/minute quanta.
    Divergence: quanta >= 60s round to nearest like the others (the
    reference floors there — its own MLDBFB-255 bug note)."""
    from pyspark.sql import functions as F

    from mldb_spark.operators.temporal import quantize_timestamps

    df = spark.createDataFrame(
        [("row", "column", 1.0, "2015-11-17T13:20:20.956")],
        "row string, column string, value double, tss string",
    ).select("row", "column", "value", F.col("tss").cast("timestamp").alias("ts"))

    def snap(q):
        return str(quantize_timestamps(df, q).collect()[0]["ts"])

    assert snap(0.001) == "2015-11-17 13:20:20.956000"
    assert snap(0.01) == "2015-11-17 13:20:20.960000"
    assert snap(1) == "2015-11-17 13:20:21"
    assert snap(60) == "2015-11-17 13:20:00"


def test_mldb_1242_sampled_dataset(mldb):
    """MLDB-1242_sampled_dataset.py: sample by rows count, rejection
    of oversampling without replacement, with-replacement
    oversampling allowed, and fraction mode."""
    _ds(
        mldb,
        "m1242",
        [(f"u{i}", float(i)) for i in range(500)],
        "rn string, feat1 double",
    )
    out = mldb.query("SELECT * FROM sample(m1242, {rows: 10})")
    assert out.count() == 10
    with pytest.raises(Exception, match="without replacement"):
        mldb.query("SELECT * FROM sample(m1242, {rows: 25000})").collect()
    out = mldb.query(
        "SELECT * FROM sample(m1242, {rows: 600, withReplacement: true})"
    )
    # the reference returns EXACTLY n rows, even when n > |dataset|
    assert out.count() == 600
    # with replacement, duplicates must actually occur for n > total
    assert out.select("rowName").distinct().count() <= 500
    # small-n draw is exact too (the old Poisson path could undershoot)
    assert mldb.query(
        "SELECT * FROM sample(m1242, {rows: 10, withReplacement: true})"
    ).count() == 10
    frac = mldb.query("SELECT * FROM sample(m1242, {fraction: 0.5})").count()
    assert 150 < frac < 350


def test_mldb_1126_stemmer_entity(mldb):
    """MLDB-1126_stemming.py: the stemmer function entity — bags
    merge collapsing stems by addition ('potato':2 + 'potatoes':1 →
    'potato':3), token arrays stem element-wise."""
    _ds(
        mldb,
        "m1126",
        [("r1", "potato,potatoes,potato,running,the,a")],
        "rn string, txt string",
    )
    mldb.create_stemmer_function("stem1126")
    out = _q(
        mldb, "SELECT stem1126({words: tokenize(txt)})[words] AS w FROM m1126"
    )[0][0]
    assert dict(out) == {"potato": 3, "run": 1, "the": 1, "a": 1}
    with pytest.raises(ValueError, match="unsupported language"):
        mldb.create_stemmer_function("bad", language="klingon")


def test_mldb_1030_filter_stopwords_entity(mldb):
    """MLDB-1030_apply_stopwords.py: the filter_stopwords entity
    drops stopword keys from bags (and elements from arrays)."""
    _ds(
        mldb,
        "m1030",
        [("r1", "potato,the,a,running")],
        "rn string, txt string",
    )
    mldb.create_filter_stopwords_function("nostop1030")
    out = _q(
        mldb,
        "SELECT nostop1030({words: tokenize(txt)})[words] AS w FROM m1030",
    )[0][0]
    assert dict(out) == {"potato": 1, "running": 1}


def test_mldbfb_573_parse_json_options(mldb):
    """MLDBFB-573_parse_json.py: the options row — malformed JSON
    parses to NULL (ignoreErrors behavior), NULL in → NULL out,
    unquoted arrays mode errors, and scalar fields extract."""
    _ds(
        mldb,
        "m573",
        [("a", '{"artist": "Champion Jack", "title": "No Meat Blues"}')],
        "rn string, x string",
    )
    assert _q(
        mldb,
        "SELECT parse_json(x, {arrays: 'encode'})['artist'] AS v FROM m573",
    ) == [("Champion Jack",)]
    assert _q(
        mldb,
        "select parse_json('{\"asdf:', {arrays: 'parse', ignoreErrors:1}) "
        "AS e from m573",
    ) == [(None,)]
    assert _q(
        mldb, "select parse_json(y, {arrays: 'parse'}) as pwet from m573"
    ) == [(None,)]
    with pytest.raises(Exception, match="quoted string"):
        mldb.query("SELECT parse_json(x, {arrays: parse}) AS p from m573").collect()


def test_is_tests_never_null(mldb):
    """IS [NOT] TRUE/FALSE/NULL are 3VL predicates that never return
    NULL: a NULL operand IS TRUE = false, IS NOT TRUE = true."""
    _ds(mldb, "mis3vl", [("r1", 5), ("r2", None)], "rn string, x int")
    assert _q(
        mldb,
        "SELECT x IS TRUE AS a, x IS NOT TRUE AS b, x IS FALSE AS c, "
        "x IS NOT FALSE AS d, x IS NULL AS e FROM mis3vl ORDER BY rowName()",
    ) == [
        (True, False, False, True, False),
        (False, True, False, True, True),
    ]


def test_mldbfb_545_merged_where(mldb):
    """MLDBFB-545-incorrect_result_on_merged_ds.py: a WHERE over a
    merged dataset with disjoint row sets returns exactly the
    matching rows (none here), same as querying the parts."""
    _ds(mldb, "mfb545a", [("user1", "n")], "rn string, converted string")
    _ds(mldb, "mfb545b", [("user2", "blah")], "rn string, blah string")
    assert _q(
        mldb, "SELECT * FROM mfb545a WHERE converted='c' LIMIT 1"
    ) == []
    out = mldb.query(
        "SELECT * FROM merge(mfb545a, mfb545b) WHERE converted='c' LIMIT 1"
    )
    assert out.count() == 0
    # and a hit still comes through the merge
    hit = mldb.query(
        "SELECT * FROM merge(mfb545a, mfb545b) WHERE converted='n'"
    ).collect()
    assert len(hit) == 1 and hit[0]["rowName"] == "user1"


def test_mldbfb_636_join_rowhash(mldb):
    """MLDBFB-636-join-rowhash.py: table-qualified x.rowName() /
    x.rowHash() bind per join side, usable in the ON clause and the
    select list (hash values are engine-specific)."""
    _ds(
        mldb,
        "mfb636",
        [("row1", "1"), ("row3", "3"), ("row2", "2")],
        "rn string, x string",
    )
    out = _q(
        mldb,
        "SELECT x.rowName() AS n FROM mfb636 as x JOIN mfb636 as y "
        "ON x.rowHash() = y.rowHash() ORDER BY x.rowName()",
    )
    assert out == [("row1",), ("row2",), ("row3",)]
    assert _q(
        mldb,
        "SELECT count(*) AS n FROM mfb636 as x JOIN mfb636 as y "
        "ON x.rowName() = y.rowName()",
    ) == [(3,)]


def test_mldb_1323_pivot_aggregate(mldb):
    """MLDB-1323-complicated-query.py's pivot idiom:
    `pivot(col, value) AS * GROUP BY key` spreads each group's
    (col -> value) pairs into sparse columns with NULL for absent
    cells; without AS * the MAP form comes back."""
    _ds(
        mldb,
        "m1323",
        [("r1", 1, 10), ("r2", 1, 20), ("r3", 2, 10)],
        "rn string, user_id int, recipe_id int",
    )
    out = mldb.query(
        "select user_id, pivot(recipe_id, 1) as * from m1323 group by user_id"
    )
    assert sorted(out.columns) == ["10", "20", "user_id"]
    rows = {r["user_id"]: (r["10"], r["20"]) for r in out.collect()}
    assert rows == {1: (1, 1), 2: (1, None)}
    out = _q(
        mldb,
        "select user_id, pivot(recipe_id, 1) as p from m1323 "
        "group by user_id ORDER BY user_id",
    )
    assert out[0][0] == 1 and dict(out[0][1]) == {"10": 1, "20": 1}
    assert out[1][0] == 2 and dict(out[1][1]) == {"10": 1}


def test_pivot_duplicate_keys(mldb):
    """Duplicate pivot keys within a group must not throw (Spark's
    default mapKeyDedupPolicy=EXCEPTION would); the engine dedups
    deterministically keeping the max value per duplicated key —
    independent of partition/collect order."""
    _ds(
        mldb,
        "mdup",
        [("r1", 1, "a", 5), ("r2", 1, "a", 9), ("r3", 1, "b", 3),
         ("r4", 2, "a", 7)],
        "rn string, grp int, k string, v int",
    )
    out = _q(
        mldb,
        "select grp, pivot(k, v) as p from mdup group by grp order by grp",
    )
    assert dict(out[0][1]) == {"a": 9, "b": 3}
    assert dict(out[1][1]) == {"a": 7}


def test_pivot_duplicate_keys_latest_wins(mldb):
    """When the dataset carries a timestamp column, duplicate pivot
    keys resolve LAST-WRITER (latest cell wins) — the reference's
    PivotAccum cell semantics (sql/builtin_aggregators.cc:950-997;
    VERDICT r5 note on MLDB-1323). The older-but-larger value must
    lose to the newer-but-smaller one."""
    import datetime as _dt

    df = mldb.spark.createDataFrame(
        [
            ("r1", 1, "a", 9, _dt.datetime(2020, 1, 1)),
            ("r2", 1, "a", 5, _dt.datetime(2021, 1, 1)),  # newer, smaller
            ("r3", 1, "b", 3, _dt.datetime(2020, 6, 1)),
            ("r4", 2, "a", 7, _dt.datetime(2020, 1, 1)),
        ],
        "rn string, grp int, k string, v int, ts timestamp",
    )
    mldb.create_dataset("mdupts", df, row_name_col="rn", ts_col="ts")
    out = _q(
        mldb,
        "select grp, pivot(k, v) as p from mdupts group by grp order by grp",
    )
    assert dict(out[0][1]) == {"a": 5, "b": 3}
    assert dict(out[1][1]) == {"a": 7}


def test_row_number_orders_by_select_alias(mldb):
    """rowNumber()'s window ordering must resolve ORDER BY names that
    are select ALIASES (previously bound pre-projection, the alias
    resolved to NULL under the open schema and numbering was
    arbitrary while the output sort was correct — silent
    misnumbering).  Unknown order columns raise instead of silently
    numbering arbitrarily."""
    _ds(
        mldb,
        "mrnalias",
        [("a", 3, 30), ("b", 1, 10), ("c", 2, 20)],
        "rn string, x int, y int",
    )
    rows = _q(
        mldb,
        "SELECT x + y AS s, rowNumber() AS num FROM mrnalias ORDER BY s",
    )
    assert rows == [(11, 1), (22, 2), (33, 3)]
    rows = _q(
        mldb,
        "SELECT x + y AS s, rowNumber() AS num FROM mrnalias ORDER BY s DESC",
    )
    assert rows == [(33, 1), (22, 2), (11, 3)]
    with pytest.raises(Exception, match="cannot be resolved"):
        mldb.query(
            "SELECT x AS s, rowNumber() AS num FROM mrnalias ORDER BY nosuch"
        ).collect()


def test_qualified_wildcard_unknown_alias_errors(mldb):
    """`SELECT bogus.* FROM t` must error, not silently return every
    column; the FROM alias (or bare table name) still matches all
    columns (MLDB-761)."""
    _ds(mldb, "mqw", [("r1", 1, 2)], "rn string, a int, b int")
    assert _q(mldb, "SELECT mqw.* FROM mqw") == [("r1", 1, 2)]
    assert _q(mldb, "SELECT z.* FROM mqw AS z") == [("r1", 1, 2)]
    with pytest.raises(Exception, match="unknown table"):
        mldb.query("SELECT bogus.* FROM mqw").collect()


# ---------------------------------------------------------------------------
# round-5 batch: temporal cluster
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def m1235(spark):
    """MLDB-1235-temporal-aggregators.py fixture: two rows, columns x
    and y each holding values at three timestamps."""
    from mldb_spark.dialect import MldbContext

    before, sometime, after = (
        "2016-01-01 12:23:34", "2016-01-02 12:23:34", "2016-01-03 12:23:34"
    )
    rows = []
    for i in range(1, 3):
        rn = f"row_{i}"
        rows += [
            (rn, "x", float(-i), before), (rn, "y", float(i), before),
            (rn, "x", 0.0, sometime), (rn, "y", 0.0, sometime),
            (rn, "x", float(i + 1), after), (rn, "y", float(-i - 1), after),
        ]
    cells = spark.createDataFrame(
        rows, "row string, column string, value double, ts string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ctx = MldbContext(spark)
    ctx.register_cells("dataset", cells)
    return ctx


def _qc(ctx, sql):
    return [tuple(r) for r in ctx.query(sql).collect()]


def test_mldb_1235_min_reads_latest(m1235):
    """MLDB-1235 test_min_returns_last_event: a table aggregate over a
    temporal dataset reads each cell at its LATEST value — min(x)
    over latest (2, 3) is 2, never the older -1/-2/0 values."""
    assert _qc(m1235, "select min(x) as min_x from dataset") == [(2.0,)]


def test_mldb_1235_temporal_earliest_latest_on_column(m1235):
    assert _qc(
        m1235,
        "select temporal_earliest(x) as t from dataset order by rowName()",
    ) == [(-1.0,), (-2.0,)]
    assert _qc(
        m1235,
        "select temporal_latest(x) as t from dataset order by rowName()",
    ) == [(2.0,), (3.0,)]


def test_mldb_1235_temporal_min_max_count_on_column(m1235):
    assert _qc(
        m1235, "select temporal_min(x) from dataset order by rowName()"
    ) == [(-1.0,), (-2.0,)]
    assert _qc(
        m1235, "select temporal_max(x) as max from dataset order by rowName()"
    ) == [(2.0,), (3.0,)]
    assert _qc(
        m1235, "select temporal_count(x) from dataset order by rowName()"
    ) == [(3,), (3,)]
    assert _qc(
        m1235, "select temporal_sum(x) as s from dataset order by rowName()"
    ) == [(1.0,), (1.0,)]


def test_mldb_1235_temporal_on_row_form(m1235):
    """temporal_X({*}) as * applies the per-row superposition
    reduction to EVERY cell column and spreads the results."""
    out = m1235.query(
        "select temporal_earliest({*}) as * from dataset order by rowName()"
    )
    assert out.columns == ["x", "y"]
    assert [tuple(r) for r in out.collect()] == [(-1.0, 1.0), (-2.0, 2.0)]
    assert _qc(
        m1235,
        "select temporal_latest({*}) as * from dataset order by rowName()",
    ) == [(2.0, -2.0), (3.0, -3.0)]
    assert _qc(
        m1235,
        "select temporal_min({*}) as * from dataset order by rowName()",
    ) == [(-1.0, -2.0), (-2.0, -3.0)]
    assert _qc(
        m1235,
        "select temporal_max({*}) as * from dataset order by rowName()",
    ) == [(2.0, 1.0), (3.0, 2.0)]
    assert _qc(
        m1235,
        "select temporal_count({*}) as * from dataset order by rowName()",
    ) == [(3, 3), (3, 3)]


# ---------------------------------------------------------------------------
# round-5 batch: join cluster
# ---------------------------------------------------------------------------


def test_mldb_1710_left_right_rowname(mldb):
    """MLDB-1710-left-right-rowname.py: leftRowName()/rightRowName()
    read the top-level join side's row name — bare for a single
    table, the bracketed composite for a nested join side, '' for an
    outer non-match, and an error outside a join."""
    _ds(mldb, "m1710a", [("x", 1)], "rn string, a int")
    _ds(mldb, "m1710b", [("y", 1)], "rn string, a int")
    _ds(mldb, "m1710c", [("z", 1)], "rn string, a int")
    assert _q(
        mldb,
        "select leftRowName() as l from m1710a as d1 join m1710b as d2 "
        "on d1.a = d2.a",
    ) == [("x",)]
    assert _q(
        mldb,
        "select rightRowName() as r from m1710a as d1 join m1710b as d2 "
        "on d1.a = d2.a",
    ) == [("y",)]
    # nested: left side of ((a join b) join c) is the composite
    assert _q(
        mldb,
        "select leftRowName() as l, rightRowName() as r "
        "from m1710a as d1 join m1710b as d2 on d1.a = d2.a "
        "join m1710c as d3 on d1.a = d3.a",
    ) == [("[x]-[y]", "z")]
    # outer non-match: rightRowName is ''
    assert _q(
        mldb,
        "select leftRowName() as l, rightRowName() as r "
        "from m1710a as d1 left join m1710b as d2 on d1.a = d2.a + 1",
    ) == [("x", "")]
    for fn in ("leftRowName", "rightRowName"):
        with pytest.raises(Exception, match="not available outside of a join"):
            mldb.query(f"select {fn}() from m1710a").collect()


def test_mldb_1899_left_join_extra_on_conditions(mldb):
    """MLDB-1899-duplicated-rows-in-equijoins.py: LEFT JOIN with
    extra ON conditions (always-false, half-true, cross-side theta)
    keeps every left row exactly once when unmatched — no duplicates,
    no drops."""
    _ds(
        mldb,
        "m1899l",
        [(str(i), i % 10, 2) for i in range(100)],
        "rn string, c int, const int",
    )
    _ds(
        mldb,
        "m1899r",
        [(str(i), i % 10, i % 2) for i in range(100)],
        "rn string, c int, d int",
    )
    q = (
        "SELECT count(*) AS n FROM m1899l AS lt LEFT JOIN m1899r AS rt ON "
    )
    assert _q(mldb, q + "lt.c = rt.c") == [(1000,)]
    # right condition always false: every left row survives alone
    assert _q(mldb, q + "lt.c = rt.c AND 2 < rt.d") == [(100,)]
    # right condition half true: 50 unmatched + 50 * 10 matches
    assert _q(mldb, q + "lt.c = rt.c AND rt.d = 1") == [(550,)]
    # cross-side theta always true / always false
    assert _q(mldb, q + "lt.c = rt.c AND lt.const > rt.d") == [(1000,)]
    assert _q(mldb, q + "lt.c = rt.c AND lt.const < rt.d") == [(100,)]


def test_mldb_2074_empty_join(mldb):
    """MLDB-2074-empty-join.py: joins against an EMPTY dataset — left
    join keeps all left rows with '[row]-[]' names, reversed left
    join and inner join are empty."""
    _ds(
        mldb,
        "m2074a",
        [("row1", 1, 1), ("row2", 1, 2), ("row3", 2, 1), ("row4", 2, 2)],
        "rn string, one int, two int",
    )
    _ds(mldb, "m2074e", [], "rn string, one int")
    out = mldb.query(
        "SELECT a.one AS one, a.two AS two, rowName() AS r FROM m2074a AS a "
        "LEFT JOIN m2074e AS e ON a.one = e.one ORDER BY rowName()"
    )
    rows = [(r["one"], r["two"], r["r"]) for r in out.collect()]
    assert rows == [
        (1, 1, "[row1]-[]"), (1, 2, "[row2]-[]"),
        (2, 1, "[row3]-[]"), (2, 2, "[row4]-[]"),
    ]
    assert _q(
        mldb,
        "SELECT count(*) AS n FROM m2074e AS e LEFT JOIN m2074a AS a "
        "ON a.one = e.one AND a.two = e.one",
    ) == [(0,)]
    assert _q(
        mldb,
        "SELECT count(*) AS n FROM m2074a AS a JOIN m2074e AS e "
        "ON a.one = e.one",
    ) == [(0,)]


def test_mldbfb_308_where_on_outer_join(mldb):
    """MLDBFB-308-where-outer-join-test.py: WHERE over a column that
    only one side of an outer join carries must bind (NULL for the
    other side's rows), not error."""
    _ds(mldb, "m308", [("userValid", 1)], "rn string, behA int")
    out = mldb.query(
        "SELECT 1 AS one FROM m308 AS a OUTER JOIN "
        "(SELECT behA + 1 AS behB FROM m308) AS b ON a.behA = b.behB "
        "WHERE a.behA = 1"
    )
    assert out.count() == 1


def test_mldb_1430_scalar_over_aggregates(mldb):
    """MLDB-1430-aggregate-bug.py test_having: scalar arithmetic OVER
    aggregates (sum(x)/count(x)) computed alongside plain aggregates
    in one ungrouped select."""
    _ds(
        mldb,
        "m1430",
        [(str(i), float(20 + i)) for i in range(8)] + [("n1", None)],
        "rn string, age double",
    )
    out = _q(
        mldb,
        "select count(*) as x, sum(age) / count(age) as y, count(*) as z "
        "from m1430",
    )
    assert out == [(9, 23.5, 9)]


def test_mldb_1732_wildcard_requires_from(mldb):
    """MLDB-1732-columnCount_in_where.py: SELECT * without FROM is the
    reference's 'Wildcard usage requires a FROM statement' error;
    WHERE columnCount() works over a dataset."""
    _ds(mldb, "m1732", [("a", 1)], "rn string, x int")
    with pytest.raises(Exception, match="FROM"):
        mldb.query("SELECT *").collect()
    assert _q(
        mldb, "SELECT x FROM m1732 WHERE columnCount() > 0"
    ) == [(1,)]


# ---------------------------------------------------------------------------
# round-5 batch: no-FROM / scalar semantics cluster
# ---------------------------------------------------------------------------


def test_where_without_dataset(mldb):
    """where-without-dataset.py: SELECT without FROM is a one-row
    relation — WHERE false and LIMIT 0 empty it, LIMIT 1 keeps it."""
    assert _q(mldb, "SELECT 1 AS v WHERE false") == []
    assert _q(mldb, "SELECT 1 AS v LIMIT 0") == []
    assert _q(mldb, "SELECT 1 AS v LIMIT 1") == [(1,)]


def test_mldb_619_newlines_in_sql(mldb):
    """MLDB-619_newlines_in_sql.py: newlines anywhere whitespace goes."""
    _ds(mldb, "m619", [("rowname", 0)], "rn string, colname int")
    assert _q(mldb, "select colname\nfrom m619") == [(0,)]
    assert _q(mldb, "select\ncolname\nfrom\nm619\nwhere\ncolname\n=\n0") == [(0,)]


def test_mldb_1706_horizontal_on_strings_and_timestamps(mldb):
    """MLDB-1706-horizontal.py: horizontal_min/max over string and
    timestamp row literals (not just numerics)."""
    assert _q(mldb, "select horizontal_min({'a','b'}) as v") == [("a",)]
    assert _q(mldb, "select horizontal_max({'a','b'}) as v") == [("b",)]
    out = _q(
        mldb,
        "select cast(horizontal_min({TIMESTAMP 1, TIMESTAMP 2}) as string) as v",
    )
    assert out[0][0].startswith("1970-01-01 00:00:01")
    out = _q(
        mldb,
        "select cast(horizontal_max({TIMESTAMP 1, TIMESTAMP 2}) as string) as v",
    )
    assert out[0][0].startswith("1970-01-01 00:00:02")


def test_mldb_2043_big_int_preserved(mldb):
    """MLDB-2043_tabular_big_int.py: integers beyond 32 bits survive
    storage and selection exactly."""
    _ds(
        mldb,
        "m2043",
        [("first row", 9936626511), ("second row", 0)],
        "rn string, c long",
    )
    assert _q(mldb, "select c from m2043 order by rowName()") == [
        (9936626511,), (0,),
    ]


def test_mldb_798_math_precision(mldb):
    """MLDB-798-sql-operation-precision.py: math builtins match
    python's to the last bit, and mod() keeps C semantics (result
    takes the DIVIDEND's sign, unlike python's %)."""
    import math

    _ds(mldb, "m798", [("r", 1.0)], "rn string, d double")
    f = 2.7693234399157856
    exact = {
        f"ceil({f!r})": float(math.ceil(f)),
        f"floor({f!r})": float(math.floor(f)),
        f"abs({-f!r})": math.fabs(-f),
        f"sqrt({f!r})": math.sqrt(f),
    }
    for expr, want in exact.items():
        got = _q(mldb, f"select {expr} as v from m798")[0][0]
        assert got == want, (expr, got, want)
    # transcendentals: JVM Math.log/exp/pow may differ from C libm
    # (what both python and the C++ reference call) by 1 ulp — allow
    # exactly that, nothing more
    near = {
        f"ln({f!r})": math.log(f),
        f"exp({f!r})": math.exp(f),
        f"pow({f!r}, 3.1)": math.pow(f, 3.1),
    }
    for expr, want in near.items():
        got = _q(mldb, f"select {expr} as v from m798")[0][0]
        assert abs(got - want) <= abs(math.ulp(want)), (expr, got, want)
    # C-style mod: -7 mod 3 = -1 (python gives 2)
    assert _q(mldb, "select mod(-7, 3) as v from m798") == [(-1,)]
    assert _q(mldb, "select mod(7, -3) as v from m798") == [(1,)]


def test_mldb_1586_select_reads_latest_value(spark):
    """MLDB-1586_colname_multivalue.py: a column recorded at several
    timestamps reads its LATEST value in a plain select."""
    from mldb_spark.dialect import MldbContext

    cells = spark.createDataFrame(
        [
            ("r1", "a", 1.0, 0.0), ("r1", "a", 2.0, 2.0), ("r1", "b", 2.0, 0.0),
            ("r2", "a", 3.0, 0.0), ("r2", "b", 4.0, 0.0),
        ],
        "row string, column string, value double, tsr double",
    ).select("row", "column", "value", F.col("tsr").cast("timestamp").alias("ts"))
    ctx = MldbContext(spark)
    ctx.register_cells("example", cells)
    out = [
        tuple(r)
        for r in ctx.query(
            "select a from example order by rowName()"
        ).collect()
    ]
    assert out == [(2.0,), (3.0,)]


def test_mldb_869_select_expression(mldb):
    """MLDB-869-select-expression.py: gibberish select list errors;
    alias.* with ORDER BY rowName() DESC LIMIT keeps the right rows."""
    _ds(
        mldb,
        "m869",
        [(f"row_{i}", i) for i in range(10)],
        "rn string, x int",
    )
    with pytest.raises(Exception):
        mldb.query("SELECT 5 golden rings, 3 french hens FROM m869").collect()
    out = mldb.query(
        "SELECT z.* FROM m869 as z ORDER BY rowName() DESC LIMIT 3"
    )
    assert [r["x"] for r in out.collect()] == [9, 8, 7]


def test_mldb_895_fuzz_precedence(mldb):
    """MLDB-895-fuzz-cases.py: % binds tighter than IN (1 % 2 IN (4)
    is (1%2) IN (4)), -- starts a comment mid-expression, glued
    number-keyword tokens lex apart (2IN), truth-valued IN elements
    compare as 1/0, and CAST of a mod-by-zero errors."""
    assert _q(mldb, "select 1 % 2 IN (4) as v") == [(False,)]
    assert _q(mldb, "select 1%2IN (4) as v") == [(False,)]
    # '--' comments out the rest: equivalent to select 01
    assert _q(mldb, "select 01--1%0e83^ 2 + (9)") == [(1,)]
    # 2 IN (-12, 1 IN (0,11) -> 0, 0 IN (0,11) -> 1, 0<0 -> 0, 11)
    assert _q(
        mldb,
        "select 2 IN (-1%1-11, 1 IN (21%1,11), 1%1%1 IN (31%1,11), "
        "1%1<1%1, 11) as v",
    ) == [(False,)]
    with pytest.raises(Exception):
        mldb.query("select CAST (61971-71%0 AS timestamp)").collect()


def test_null_column_sparse_is_null(mldb):
    """null_column_test.py: IS NULL / IS NOT NULL over a sparse
    column that only some rows carry."""
    _ds(
        mldb,
        "mnullc",
        [("r1", 1, None), ("r2", 1, 2)],
        "rn string, col1 int, col2 int",
    )
    out = mldb.query("SELECT col2 FROM mnullc WHERE col2 IS NOT NULL")
    assert [(r["col2"],) for r in out.collect()] == [(2,)]
    out = mldb.query(
        "SELECT col1, rowName() AS r FROM mnullc WHERE col2 IS NULL"
    )
    assert [(r["col1"], r["r"]) for r in out.collect()] == [(1, "r1")]


def test_mldbfb_345_named_on_null(mldb):
    """MLDBFB-345: NAMED over a NULL value is a runtime error, not a
    silently-null row name; filtering the nulls first works; NAMED
    works without a dataset."""
    _ds(
        mldb,
        "m345",
        [("row1", "a", None), ("row2", None, "b")],
        "rn string, behA string, behB string",
    )
    out = mldb.query("SELECT * NAMED behA FROM m345 WHERE behA IS NOT NULL")
    assert [r["rowName"] for r in out.collect()] == ["a"]
    with pytest.raises(Exception, match="null name"):
        mldb.query("SELECT * NAMED behA FROM m345").collect()
    out = mldb.query("SELECT 1 AS one NAMED 'the one'")
    assert [(r["one"], r["rowName"]) for r in out.collect()] == [(1, "the one")]


def test_mldb_2180_dataset_split(spark):
    """MLDB-2180-dataset-split.py: the split procedure gives EXACT
    proportions (16/4 from 20 at [0.8,0.2] — never Bernoulli drift),
    represents every label in every split when the label has enough
    rows (the 'spread' rule: 2 rows of each label at [0.8,0.2] still
    puts one in each split), keeps per-label proportions (10x/10y ->
    8+8 train, 2+2 test), stays disjoint/exhaustive, and is
    deterministic across runs."""
    from mldb_spark.operators.relational import stratified_split

    def mk(rows):
        return spark.createDataFrame(rows, "rn string, label string")

    # ds1: 2 x + 2 y -> one of each label in each split
    ds1 = mk([(str(i), "x" if i < 2 else "y") for i in range(4)])
    tr, te = stratified_split(ds1, [0.8, 0.2], label_col="label")
    for part in (tr, te):
        assert sorted(r["label"] for r in part.collect()) == ["x", "y"]

    # ds2: 16 x + 4 y -> exactly 16/4 overall, 13x+3y / 3x+1y
    ds2 = mk([(str(i), "x" if i < 16 else "y") for i in range(20)])
    tr, te = stratified_split(ds2, [0.8, 0.2], label_col="label")
    trc = [r["label"] for r in tr.collect()]
    tec = [r["label"] for r in te.collect()]
    assert len(trc) == 16 and len(tec) == 4
    assert trc.count("x") == 13 and trc.count("y") == 3
    assert tec.count("x") == 3 and tec.count("y") == 1

    # ds3: 10 x + 10 y -> 8+8 / 2+2
    ds3 = mk([(str(i), "x" if i < 10 else "y") for i in range(20)])
    tr, te = stratified_split(ds3, [0.8, 0.2], label_col="label")
    trc = [r["label"] for r in tr.collect()]
    tec = [r["label"] for r in te.collect()]
    assert trc.count("x") == 8 and trc.count("y") == 8
    assert tec.count("x") == 2 and tec.count("y") == 2

    # disjoint + exhaustive + deterministic
    ids_tr = {r["rn"] for r in tr.collect()}
    ids_te = {r["rn"] for r in te.collect()}
    assert not (ids_tr & ids_te)
    assert len(ids_tr | ids_te) == 20
    tr2, _ = stratified_split(ds3, [0.8, 0.2], label_col="label")
    assert {r["rn"] for r in tr2.collect()} == ids_tr

    # three-way split stays exact
    a, b, c = stratified_split(ds3, [0.5, 0.3, 0.2], label_col="label")
    assert (a.count(), b.count(), c.count()) == (10, 6, 4)


def test_mldb_724_interval_equivalences(mldb):
    """MLDB-724-time-arithmetic.py's INTERVAL battery: unit spellings
    normalize into the (months, days, seconds) triple, so '10 s' =
    '10second', '60 MINUTE' = '1H', '1 w' = '7day', '1 year' =
    '12month', '1Y2W' = '12MONTH14d' — but calendar components stay
    DISTINCT: 1 day != 24H, 1 month != 30day/4 week, 1 year !=
    365 day."""
    equal = [
        ("10 s", "10second"), ("22S", "22 SECOND"),
        ("60 MINUTE", "1H"), ("10 minute", "600second"),
        ("2H", "120m"), ("2 hour", "2 HOUR"),
        ("24 H", "1440 m"), ("24 H", "86400 s"),
        ("1 d", "1day"), ("1 D", "1 DAY"),
        ("1 w", "7day"), ("1week", "1 WEEK"),
        ("1MONTH", "1 month"), ("1 year", "12month"),
        ("1YEAR", "1 Y"), ("1Y2W", "12MONTH14d"),
        ("1 day 5H", "1d 18000 second"),
    ]
    for a, b in equal:
        assert _q(
            mldb, f"select INTERVAL '{a}' = INTERVAL '{b}' as equal"
        ) == [(True,)], (a, b)
    distinct = [
        ("1 day", "24H"), ("1 month", "30day"),
        ("1 month", "4 week"), ("1 year", "365 day"),
    ]
    for a, b in distinct:
        assert _q(
            mldb, f"select INTERVAL '{a}' = INTERVAL '{b}' as equal"
        ) == [(False,)], (a, b)


def test_mldb_1104_input_data_spec(mldb):
    """MLDB-1104-input-data-spec.py: procedure inputData accepts both
    the SQL-string form and the structured object form
    ({select, from: {id}, where, orderBy, limit}); a spec without a
    FROM errors with the reference's message (MLDB-1258)."""
    _ds(
        mldb,
        "m1104",
        [(f"r{i}", float(i), float(i * 2)) for i in range(10)],
        "rn string, x double, y double",
    )
    out1 = mldb.transform("SELECT x, y FROM m1104 WHERE x >= 5", "m1104_a")
    out2 = mldb.transform(
        {"select": "x, y", "from": {"id": "m1104"}, "where": "x >= 5"},
        "m1104_b",
    )
    assert sorted(tuple(r) for r in out1.select("x", "y").collect()) == sorted(
        tuple(r) for r in out2.select("x", "y").collect()
    )
    out3 = mldb.transform(
        {"from": "m1104", "orderBy": "x DESC", "limit": 3}, "m1104_c"
    )
    assert [r["x"] for r in out3.select("x").collect()] == [9.0, 8.0, 7.0]
    with pytest.raises(Exception, match="FROM clause"):
        mldb.transform({"select": "1"}, "m1104_d")


def test_union_dataset_row_naming(spark):
    """union_dataset_test.py: the union dataset prefixes each
    subdataset's row names with its 0-based index (0.row1, 1.row1),
    so colliding names stay distinct; missing columns are NULL; a
    dataset unioned with itself doubles with both prefixes."""
    from mldb_spark.operators.relational import union_datasets

    ds1 = spark.createDataFrame([("row1", "A")], "rowName string, colA string")
    ds2 = spark.createDataFrame([("row1", "B")], "rowName string, colB string")
    out = union_datasets([ds1, ds2], index_row_names=True)
    rows = {r["rowName"]: (r["colA"], r["colB"]) for r in out.collect()}
    assert rows == {"0.row1": ("A", None), "1.row1": (None, "B")}

    ds3 = spark.createDataFrame(
        [("row1", "AA", "BB", None), ("row2", "A", None, "C")],
        "rowName string, colA string, colB string, colC string",
    )
    out = union_datasets([ds3, ds3], index_row_names=True)
    got = sorted(
        (r["rowName"], r["colA"], r["colB"], r["colC"]) for r in out.collect()
    )
    assert got == [
        ("0.row1", "AA", "BB", None), ("0.row2", "A", None, "C"),
        ("1.row1", "AA", "BB", None), ("1.row2", "A", None, "C"),
    ]


def test_summary_stats_proc(spark):
    """summary_stats_proc_test.py: the summary.statistics field set —
    number vs categorical typing, num_null (rows missing the sparse
    column), exact num_unique, DISCRETE quartiles ([1,1,10] -> 1/1/10
    — percentile_disc, not interpolation), sample stddev (NaN for a
    single observation), and most_frequent_items counts."""
    import math

    from mldb_spark.operators.relational import summary_statistics

    df = spark.createDataFrame(
        [
            ("row1", 1.0, 2.0, None, "pataté"),
            ("row2", 10.0, None, 20.0, "banane"),
            ("row3", 1.0, None, None, None),
        ],
        "rn string, colA double, colB double, colC double, colTxt string",
    )
    rows = {
        r["column"]: r
        for r in summary_statistics(
            df, ["colA", "colB", "colC", "colTxt"]
        ).collect()
    }
    a = rows["colA"]
    assert a["data_type"] == "number"
    assert a["num_null"] == 0 and a["num_unique"] == 2
    assert (a["min"], a["max"], a["avg"]) == (1.0, 10.0, 4.0)
    assert (a["q1"], a["median"], a["q3"]) == (1.0, 1.0, 10.0)
    assert abs(a["stddev"] - 5.196152422706632) < 1e-12
    assert dict(a["most_frequent_items"]) == {"1.0": 2, "10.0": 1}

    b = rows["colB"]
    assert b["num_null"] == 2 and b["num_unique"] == 1
    assert (b["q1"], b["median"], b["q3"]) == (2.0, 2.0, 2.0)
    assert math.isnan(b["stddev"])  # single observation

    t = rows["colTxt"]
    assert t["data_type"] == "categorical"
    assert t["num_null"] == 1 and t["num_unique"] == 2
    assert t["min"] is None and t["avg"] is None
    assert dict(t["most_frequent_items"]) == {"pataté": 1, "banane": 1}


def test_mldb_873_stats_table_multi_outcome(spark):
    """MLDB-873_stats_table_test.py: statsTable.train counts per KEY
    COLUMN independently with multiple named outcomes — row br_3
    (host=pataté.com, region=on) sees trial.region=1 prior on-row,
    label.region=0 (that row had no CLICK), label.host=1 (the prior
    pataté.com row had CLICK), not_label.region=1, not_label.host=0."""
    from mldb_spark.operators.relational import stats_table_multi

    df = spark.createDataFrame(
        [
            ("br_1", "pataté.com", "qc", "1"),
            ("br_2", "poire.com", "on", None),
            ("br_3", "pataté.com", "on", None),
        ],
        "rn string, host string, region string, click string",
    )
    out = stats_table_multi(
        df,
        [F.col("rn")],
        ["host", "region"],
        {
            "label": F.col("click").isNotNull(),
            "not_label": F.col("click").isNull(),
        },
    )
    r3 = {r["rn"]: r for r in out.collect()}["br_3"]
    assert r3["trial.region"] == 1 and r3["trial.host"] == 1
    assert r3["label.region"] == 0 and r3["label.host"] == 1
    assert r3["not_label.region"] == 1 and r3["not_label.host"] == 0
    r1 = {r["rn"]: r for r in out.collect()}["br_1"]
    assert r1["trial.host"] == 0 and r1["label.host"] == 0


def test_mldb_283_embedding_neighbors(spark):
    """MLDB-283-embedding-nearest-neighbours.py: the
    embedding.neighbors function — distances from a literal point,
    self-lookup by rowName (MLDB-509, distance 0 included),
    numNeighbors truncation, and maxDistance filtering."""
    from mldb_spark.similarity import embedding_neighbors

    ds = spark.createDataFrame(
        [("ex1", 0.0, 0.0), ("ex2", 0.0, 1.0), ("ex3", 1.0, 0.0), ("ex4", 1.0, 1.0)],
        "rowName string, x double, y double",
    )
    nn = embedding_neighbors(ds)
    got = nn({"x": 0.5, "y": 0.5})
    assert [n for n, _ in got] == ["ex1", "ex2", "ex3", "ex4"]
    for _, d in got:
        assert abs(d - 0.7071067811865476) < 1e-9

    got = nn({"x": 0.1, "y": 0.2})
    want = [0.22360679774997896, 0.806225774829855, 0.9219544457292887,
            1.2041594578792296]
    assert [round(d, 7) for _, d in got] == [round(w, 7) for w in want]

    got = nn("ex1")
    assert got[0] == ("ex1", 0.0)
    assert [n for n, _ in got] == ["ex1", "ex2", "ex3", "ex4"]
    assert abs(got[3][1] - 1.4142135623730951) < 1e-9

    assert [n for n, _ in nn("ex1", num_neighbors=2)] == ["ex1", "ex2"]
    assert [n for n, _ in nn("ex1", num_neighbors=2, max_distance=0.5)] == ["ex1"]

    import pytest

    with pytest.raises(KeyError):
        nn("nope")


def test_ranking_procedure_zero_based(spark):
    """ranking_test.py: the ranking procedure's index ranks are
    0-based and follow the statement's ORDER BY — merged back with
    the source, (score, rank) are (0,0), (1,1), ..., (n-1, n-1)."""
    from mldb_spark.operators.relational import ranking

    ds = spark.createDataFrame(
        [(f"row{i}", i) for i in range(123)], "rn string, score int"
    )
    out = ranking(
        ds, order_by=[F.asc("score")], zero_based=True
    ).orderBy("rank")
    rows = [(r["score"], r["rank"]) for r in out.collect()]
    assert rows[0] == (0, 0) and rows[1] == (1, 1)
    assert rows[-1] == (122, 122)


def test_mldb_1266_import_json_named_select(spark, tmp_path):
    """MLDB-1266-import_json.py: select projection (incl. EXCLUDING
    and AS renames are the caller's Columns here), named row names
    from a column, and lineNumber()-based naming."""
    import json as _json

    from mldb_spark.sources.text_io import import_json

    p = tmp_path / "d.json"
    rows = [
        {"colA": 1, "colB": "pwet pwet"},
        {"colA": 2, "colB": "pwet pwet 2"},
        {"colA": 3, "colB": "pwet pwet 3"},
        {"colC": {"a": 1}},
        {"colD": [1, 2]},
        {"colE": None},
    ]
    p.write_text("\n".join(_json.dumps(r) for r in rows))

    out = import_json(spark, str(p), select=[F.col("colA")])
    assert [r["colA"] for r in out.collect()] == [1, 2, 3, None, None, None]

    out = import_json(
        spark, str(p), named=F.col("colB"), where=F.col("colB").isNotNull()
    )
    assert sorted(r["rowName"] for r in out.collect()) == [
        "pwet pwet", "pwet pwet 2", "pwet pwet 3",
    ]

    out = import_json(
        spark, str(p), line_numbers=True,
        named=F.col("lineNumber") - 1,
    )
    got = {r["rowName"]: r["colA"] for r in out.collect()}
    assert got == {"0": 1, "1": 2, "2": 3, "3": None, "4": None, "5": None}


def test_mldb_1750_dist_tables(spark):
    """MLDB-1750-dist-tables.py: the full distTable matrix — per key
    column, per outcome, running count/avg/std/min/max of strictly
    prior rows (sample std, NaN under 2 obs; NULL keys get nothing),
    the trained-totals getStats function with unknown-value NaN
    semantics, and the unknown-statistic error."""
    import math

    from mldb_spark.operators.relational import (
        dist_table_get_stats,
        dist_table_multi,
        dist_table_totals,
    )

    df = spark.createDataFrame(
        [
            ("row0", "patate.com", "canada", 1.0, 2.0, 0),
            ("row1", "poil.com", "canada", 3.0, 4.0, 1),
            ("row2", "poil.com", None, 7.0, 8.0, 2),
            ("row3", "patate.com", "usa", 9.0, 10.0, 3),
            ("row4", "poil.com", "usa", 11.0, 10.0, 4),
        ],
        "rn string, host string, region string, price double, target2 double, ord int",
    )
    out = dist_table_multi(
        df,
        [F.col("ord")],
        ["host", "region"],
        {"price": F.col("price"), "target": F.col("target2")},
    )
    rows = {r["rn"]: r for r in out.collect()}

    def stats(rn, pfx):
        r = rows[rn]
        return tuple(r[f"{pfx}.{s}"] for s in ("count", "avg", "std", "min", "max"))

    def eqnan(got, want):
        assert len(got) == len(want)
        for g, w in zip(got, want):
            if isinstance(w, float) and math.isnan(w):
                assert isinstance(g, float) and math.isnan(g), (got, want)
            else:
                assert g == w, (got, want)

    nan = float("nan")
    eqnan(stats("row0", "price.host"), (0, nan, nan, nan, nan))
    eqnan(stats("row1", "price.region"), (1, 1.0, nan, 1.0, 1.0))
    eqnan(stats("row1", "target.region"), (1, 2.0, nan, 2.0, 2.0))
    eqnan(stats("row2", "price.host"), (1, 3.0, nan, 3.0, 3.0))
    eqnan(stats("row2", "price.region"), (0, nan, nan, nan, nan))  # NULL key
    eqnan(stats("row3", "price.host"), (1, 1.0, nan, 1.0, 1.0))
    eqnan(stats("row3", "price.region"), (0, nan, nan, nan, nan))
    eqnan(
        stats("row4", "price.host"),
        (2, 5.0, 2 * math.sqrt(2.0), 3.0, 7.0),
    )
    eqnan(stats("row4", "price.region"), (1, 9.0, nan, 9.0, 9.0))
    eqnan(
        stats("row4", "target.host"),
        (2, 6.0, 2 * math.sqrt(2.0), 4.0, 8.0),
    )
    eqnan(stats("row4", "target.region"), (1, 10.0, nan, 10.0, 10.0))

    # the trained function over final totals
    totals = dist_table_totals(
        df, ["host", "region"], {"price": F.col("price"), "target": F.col("target2")}
    )
    get_stats = dist_table_get_stats(totals, ["price", "target"])
    got = get_stats({"host": "patate.com", "region": "usa"})
    assert got["stats.price.host.count"] == 2
    assert got["stats.price.host.avg"] == 5.0
    assert abs(got["stats.price.host.std"] - math.sqrt(32.0)) < 1e-12
    assert got["stats.price.region.count"] == 2
    assert got["stats.price.region.avg"] == 10.0
    assert abs(got["stats.price.region.std"] - math.sqrt(2.0)) < 1e-12
    assert got["stats.target.region.count"] == 2
    assert got["stats.target.region.std"] == 0.0
    unknown = get_stats({"host": "prout", "region": "prout"})
    assert unknown["stats.price.host.count"] == 0
    assert math.isnan(unknown["stats.price.host.avg"])

    with pytest.raises(ValueError, match="Unknown distribution table"):
        dist_table_multi(
            df, [F.col("ord")], ["host"], {"price": F.col("price")},
            statistics=["patate"],
        )


def test_mldb_945_when_in_transform_spec(spark):
    """MLDB-945-WHEN-in-proc-and-func.py: WHEN inside a structured
    input-data spec ({from, when, where}) reaches the transform
    procedure; cells outside the WHEN window are dropped while rows
    survive through their passing cells."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    cells = spark.createDataFrame(
        [
            ("r1", "x", 1.0, 1000.0), ("r1", "y", 2.0, 90000.0),
            ("r2", "x", 3.0, 1000.0), ("r2", "y", 4.0, 1000.0),
        ],
        "row string, column string, value double, tsr double",
    ).select("row", "column", "value", F.col("tsr").cast("timestamp").alias("ts"))
    mldb.create_dataset("w945", cells, row_name_col="row", ts_col="ts")
    out = mldb.transform(
        {
            "from": "w945",
            "when": "ts < CAST('1970-01-01T01:00:00' AS timestamp)",
        },
        "w945_out",
    )
    got = {(r["row"], r["column"]) for r in out.collect()}
    assert got == {("r1", "x"), ("r2", "x"), ("r2", "y")}


def test_mldb_1668_jaccard_index(mldb):
    """MLDB-1668_jaccard_index.py: jaccard over tokenize bags, incl.
    the both-empty = 1 convention and disjoint = 0."""
    cases = [
        ("1234 king st., london, on", "1234 king street london, gb",
         0.42857142857142855),
        ("hola amigo", "chao amigo", 0.3333333333333333),
        ("", "", 1.0),
        ("a b c", "x y z r", 0.0),
    ]
    for a, b, want in cases:
        got = _q(
            mldb,
            "select jaccard_index("
            f"tokenize('{a}', {{splitChars: ' .,'}}), "
            f"tokenize('{b}', {{splitChars: ' .,'}})) as jaccard",
        )[0][0]
        assert abs(got - want) < 1e-12, (a, b, got, want)


def test_mldb_1624_theta_and_disguised_equi_joins(join_tables):
    """MLDB-1624 test_non_equi_join_with_function /
    test_disguised_equi_join / MLDBFB-503 precedence: function-based
    theta conditions, an arithmetic condition that IS an equi-join in
    disguise (i + k = 3), and unary-minus precedence in ON."""
    mldb = join_tables
    out = _q(
        mldb,
        "SELECT J1_TBL.i AS i, J2_TBL.k AS k FROM J1_TBL JOIN J2_TBL "
        "ON J1_TBL.i < abs(J2_TBL.k) ORDER BY rowName()",
    )
    assert len(out) == 20 and out[0] == (1, 2) and out[-1] == (0, -5)
    out = _q(
        mldb,
        "SELECT J1_TBL.t AS t, J2_TBL.k AS k FROM J1_TBL JOIN J2_TBL "
        "ON regex_search(J1_TBL.t, 'three') and J2_TBL.k > 3",
    )
    assert out == [("three", 4)]
    want = [("one", 2), ("three", 0), ("four", -1), ("six", -3),
            ("eight", -5), ("eight", -5)]
    out = _q(
        mldb,
        "SELECT J1_TBL.t AS t, J2_TBL.k AS k FROM J1_TBL JOIN J2_TBL "
        "ON J1_TBL.i + J2_TBL.k = 3 ORDER BY rowName()",
    )
    assert out == want
    # MLDBFB-503: -J2_TBL.k + 3 parses as (-k) + 3, not -(k + 3)
    o1 = _q(
        mldb,
        "SELECT J1_TBL.i AS i, J2_TBL.k AS k FROM J1_TBL JOIN J2_TBL "
        "ON J1_TBL.i = (-J2_TBL.k) + 3 ORDER BY rowName()",
    )
    o2 = _q(
        mldb,
        "SELECT J1_TBL.i AS i, J2_TBL.k AS k FROM J1_TBL JOIN J2_TBL "
        "ON J1_TBL.i = -J2_TBL.k + 3 ORDER BY rowName()",
    )
    assert o1 == o2 == [(1, 2), (3, 0), (4, -1), (6, -3), (8, -5), (8, -5)]


def test_mldb_1624_multiway_full_join_row_names(mldb):
    """MLDB-1624 test_multiway_join: chained FULL joins keep the
    bracketed composite row name with EMPTY brackets for every
    non-matching side ([]-[]-[03])."""
    _ds(mldb, "mt1", [("01", "bb", 11)], "rn string, name string, n int")
    _ds(
        mldb, "mt2",
        [("01", "bb", 12), ("02", "cc", 22), ("03", "ee", 42)],
        "rn string, name string, n int",
    )
    _ds(
        mldb, "mt3",
        [("01", "bb", 13), ("02", "cc", 23), ("03", "dd", 33)],
        "rn string, name string, n int",
    )
    out = mldb.query(
        "SELECT mt1.n AS n1, mt2.n AS n2, mt3.n AS n3, rowName() AS r "
        "FROM mt1 FULL JOIN mt2 ON mt1.name = mt2.name "
        "FULL JOIN mt3 ON mt2.name = mt3.name ORDER BY rowName()"
    )
    rows = {r["r"]: (r["n1"], r["n2"], r["n3"]) for r in out.collect()}
    assert rows == {
        "[01]-[01]-[01]": (11, 12, 13),
        "[]-[02]-[02]": (None, 22, 23),
        "[]-[]-[03]": (None, None, 33),
        "[]-[03]-[]": (None, 42, None),
    }


def test_mldb_1624_subquery_joins(mldb):
    """MLDB-1624 test_join_with_subqueries: aliased subselects on
    both sides of inner/left/full joins, subtable-prefixed columns
    and bracketed row names."""
    _ds(
        mldb, "mq2",
        [("01", "bb", 12), ("02", "cc", 22), ("03", "ee", 42)],
        "rn string, name string, n int",
    )
    _ds(
        mldb, "mq3",
        [("01", "bb", 13), ("02", "cc", 23), ("03", "dd", 33)],
        "rn string, name string, n int",
    )
    inner = _q(
        mldb,
        "SELECT s2.name AS a, s2.n AS b, s3.n AS c FROM "
        "(SELECT name, n FROM mq2) AS s2 JOIN "
        "(SELECT name, n FROM mq3) AS s3 ON s2.name = s3.name "
        "ORDER BY a",
    )
    assert inner == [("bb", 12, 13), ("cc", 22, 23)]
    left = _q(
        mldb,
        "SELECT s2.name AS a, s3.n AS c FROM "
        "(SELECT name, n FROM mq2) AS s2 LEFT JOIN "
        "(SELECT name, n FROM mq3) AS s3 ON s2.name = s3.name "
        "ORDER BY a",
    )
    assert left == [("bb", 13), ("cc", 23), ("ee", None)]
    full = _q(
        mldb,
        "SELECT s2.n AS b, s3.n AS c FROM "
        "(SELECT name, n FROM mq2) AS s2 FULL JOIN "
        "(SELECT name, n FROM mq3) AS s3 ON s2.name = s3.name "
        "ORDER BY coalesce(s2.n, -1), coalesce(s3.n, -1)",
    )
    assert full == [(None, 33), (12, 13), (22, 23), (42, None)]


def test_mldb_1624_join_on_false(mldb):
    """MLDB-1624 test_join_on_false: OUTER JOIN with an
    always-false condition keeps every row of both sides unmatched
    ([row1]-[] and []-[row2])."""
    _ds(mldb, "mjf1", [("row1", 1)], "rn string, colA int")
    _ds(mldb, "mjf2", [("row2", 1)], "rn string, colB int")
    out = mldb.query(
        "SELECT mjf1.colA AS a, mjf2.colB AS b, rowName() AS r "
        "FROM mjf1 OUTER JOIN mjf2 ON false ORDER BY rowName()"
    )
    rows = {r["r"]: (r["a"], r["b"]) for r in out.collect()}
    assert rows == {"[row1]-[]": (1, None), "[]-[row2]": (None, 1)}


def test_mldb_770_809_row_agg_group_by(mldb):
    """MLDB-770-group-by-parsing.js / MLDB-809-group-by-rowname.js:
    min({*})/max({*}) under GROUP BY aggregate per COLUMN; NAMED can
    read the grouping label directly or via group_key_element(0);
    count({*}) counts non-null per column (MLDB-703) and GROUP BY 1
    (a constant) forms one group."""
    _ds(
        mldb,
        "m770",
        [("ex1", 0, 0, "cat"), ("ex2", 1, 1, "dog"), ("ex3", 1, 2, "cat")],
        "rn string, x int, y int, label string",
    )
    out = mldb.query(
        "SELECT min({x, y}) AS mn, max({x, y}) AS mx NAMED label "
        "FROM m770 GROUP BY label ORDER BY rowName()"
    )
    rows = [
        (r["rowName"], r["mn"]["x"], r["mn"]["y"], r["mx"]["x"], r["mx"]["y"])
        for r in out.collect()
    ]
    assert rows == [("cat", 0, 0, 1, 2), ("dog", 1, 1, 1, 1)]

    out = mldb.query(
        "SELECT min({x}) AS mn NAMED group_key_element(0) "
        "FROM m770 GROUP BY label ORDER BY rowName()"
    )
    assert [r["rowName"] for r in out.collect()] == ["cat", "dog"]

    # MLDB-703: per-column non-null counts; GROUP BY 1 = one group
    _ds(
        mldb,
        "m703",
        [("ex1", 1, 2, None), ("ex2", 2, None, 4), ("ex3", None, None, 3)],
        "rn string, x int, y int, z int",
    )
    out = mldb.query("select count({x, y, z}) as c from m703 group by 1")
    r = out.collect()[0]["c"]
    assert (r["x"], r["y"], r["z"]) == (2, 1, 2)
    # count(x) == count(*) when x filtered non-null (MLDB-1256)
    a = _q(
        mldb,
        "select x, count(x) as a from m703 where x is not null group by x "
        "order by x",
    )
    b = _q(
        mldb,
        "select x, count(*) as a from m703 where x is not null group by x "
        "order by x",
    )
    assert a == b == [(1, 1), (2, 1)]


def test_mldb_238_sort_missing_values(mldb):
    """MLDB-238-sorting-missing-values.js: ORDER BY over a sparse
    column orders the rows MISSING it first (ascending)."""
    _ds(
        mldb,
        "m238",
        [("row1", 1, 2, None, None), ("row2", 2, None, 2, None),
         ("row3", None, None, 2, 3)],
        "rn string, Weight int, col2 int, col3 int, Weight2 int",
    )
    out = mldb.query("select rowName() AS r from m238 order by Weight, col3")
    assert [r["r"] for r in out.collect()] == ["row3", "row1", "row2"]


def test_mldb_2169_csv_extra_columns(spark, tmp_path):
    """MLDB-2169-skip-extra-columns.js: rows with MORE fields than
    the header keep the declared columns (the reference needs
    ignoreExtraColumns=true for this; the Spark CSV reader's
    declared-schema semantics give it by construction — documented
    divergence: there is no erroring mode for extras)."""
    from mldb_spark.sources.text_io import import_text

    p = tmp_path / "extra.csv"
    p.write_text("a,b\n1,2\n3,4\n5,6,7\n5,6,7,8\n5,6, 7\n5,6,\n9,10\n")
    out = import_text(spark, str(p))
    assert [(r["a"], r["b"]) for r in out.collect()] == [
        (1, 2), (3, 4), (5, 6), (5, 6), (5, 6), (5, 6), (9, 10),
    ]


def test_mldb_749_import_offset_limit(spark, tmp_path):
    """MLDB-749-count-with-offset-limit.js: import.text offset/limit
    line-window semantics — limit caps rows, an over-long limit is
    the full set, offset drops the first n data lines."""
    from mldb_spark.sources.text_io import import_text

    p = tmp_path / "win.csv"
    p.write_text("a,b\n" + "\n".join(f"{i},{i*2}" for i in range(50)))
    total = import_text(spark, str(p)).count()
    assert total == 50
    assert import_text(spark, str(p), limit=10).count() == 10
    assert import_text(spark, str(p), limit=total + 2000).count() == total
    assert import_text(spark, str(p), offset=10).count() == total - 10
    # offset+limit compose: the window [10, 15)
    win = import_text(spark, str(p), offset=10, limit=5)
    assert sorted(r["a"] for r in win.collect()) == [10, 11, 12, 13, 14]


def test_mldb_543_column_named_zero(mldb):
    """MLDB-543-column-named-zero.js: a column (and rows) named '0'
    are addressable — bare-ident resolution vs numeric literals, and
    the quoted form "0" selects the column."""
    _ds(mldb, "m543", [("0", 0), ("1", 0)], 'rn string, `0` int')
    out = mldb.query('select "0" AS z from m543 order by rowName()')
    assert [r["z"] for r in out.collect()] == [0, 0]
    out = mldb.query("select * from m543 order by rowName()")
    assert [r["rn"] for r in out.collect()] == ["0", "1"]


def test_mldb_768_order_by_unknown_function(mldb):
    """MLDB-768-order-by-missing-function.js: ORDER BY hello() is an
    unknown-function error, not a silent constant sort."""
    _ds(mldb, "m768", [("ex1", 0)], "rn string, x int")
    with pytest.raises(Exception, match="(?i)unknown|unable to find"):
        mldb.query("SELECT 1 AS v from m768 order by hello()").collect()


def test_mldb_119_wildcard_matches_no_columns(mldb):
    """MLDB-119-select_no_columns.js: a prefix wildcard matching no
    columns yields an EMPTY projection — the reference's procedures
    reject it ('matched no columns'); the query surface returns no
    columns rather than all of them."""
    _ds(mldb, "m119", [("row1", 1, 2)], "rn string, col1 int, col2 int")
    out = mldb.query("select bonus* from m119")
    assert out.columns == [] or out.columns == ["rowName"]


def test_mldb_816_pivot_named_group(mldb):
    """MLDB-816-scatter-aggregate.js: pivot(what, how) AS * NAMED who
    GROUP BY who — the scatter shape with string values and sparse
    absent cells."""
    _ds(
        mldb,
        "m816",
        [("0", "mustard", "moved", "kitchen"),
         ("1", "plum", "moved", "kitchen"),
         ("2", "mustard", "stabbed", "plum"),
         ("3", "mustard", "killed", "plum"),
         ("4", "plum", "died", "stabbed")],
        "rn string, who string, what string, how string",
    )
    out = mldb.query(
        "SELECT pivot(what, how) AS * NAMED who FROM m816 "
        "GROUP BY who ORDER BY who"
    )
    rows = {r["rowName"]: r.asDict() for r in out.collect()}
    m = rows["mustard"]
    assert (m.get("killed"), m.get("moved"), m.get("stabbed")) == (
        "plum", "kitchen", "plum",
    )
    p = rows["plum"]
    assert (p.get("died"), p.get("moved")) == ("stabbed", "kitchen")
    assert p.get("killed") is None and p.get("stabbed") is None


def test_mldb_605_timestamp_where(spark):
    """MLDB-605-timestamp-query.js: latest_timestamp(col) compares
    per row in WHERE over a temporal cells dataset — imp-then-click,
    click-then-imp, and simultaneous rows separate cleanly."""
    from mldb_spark.dialect import MldbContext

    cells = spark.createDataFrame(
        [
            ("row1_imp_then_click", "imp", 0.0, 1.0),
            ("row1_imp_then_click", "click", 0.0, 2.0),
            ("row2_click_then_imp", "click", 0.0, 1.0),
            ("row2_click_then_imp", "imp", 0.0, 2.0),
            ("row3_click_and_imp", "click", 0.0, 1.0),
            ("row3_click_and_imp", "imp", 0.0, 1.0),
        ],
        "row string, column string, value double, tsr double",
    ).select("row", "column", "value", F.col("tsr").cast("timestamp").alias("ts"))
    ctx = MldbContext(spark)
    ctx.register_cells("t605", cells)

    def rows(q):
        return [r["r"] for r in ctx.query(q).collect()]

    assert rows(
        "select rowName() as r from t605 "
        "where latest_timestamp(imp) < latest_timestamp(click)"
    ) == ["row1_imp_then_click"]
    assert rows(
        "select rowName() as r from t605 "
        "where latest_timestamp(click) < latest_timestamp(imp)"
    ) == ["row2_click_then_imp"]
    assert rows(
        "select rowName() as r from t605 "
        "where latest_timestamp(click) = latest_timestamp(imp)"
    ) == ["row3_click_and_imp"]


def test_mldb_781_numeric_functions(mldb):
    """MLDB-781-numeric-functions.js: the log family — log(x) is
    BASE-10, log(b, x) base-b, ln natural; zero gives -Inf and
    negatives NaN (libm conventions, not Spark's NULL); mod keeps
    the dividend's sign; power/sqrt invert."""
    import math

    def one(expr):
        return _q(mldb, f"select {expr} as v")[0][0]

    assert one("log(1000)") == 3.0
    assert one("log(1)") == 0.0
    assert one("log(2, 16)") == 4.0
    assert one("log(2, 1)") == 0.0
    assert abs(one("ln(2)") - 0.6931471805599453) < 1e-15
    assert one("ln(1)") == 0.0
    for e in ("ln(0)", "log(0)", "log(2, 0)"):
        assert one(e) == float("-inf"), e
    for e in ("ln(-1)", "log(-1)", "log(2, -1)", "sqrt(-1)"):
        assert math.isnan(one(e)), e
    assert one("ln(NULL)") is None
    # 2-arg log edges follow the full libm ratio ln(x)/ln(b)
    # (ADVICE r5): fractional base flips the sign at x == 0, base 1
    # divides by zero per IEEE, log(0, 0) is -Inf/-Inf = NaN
    assert one("log(0.5, 0)") == float("inf")
    assert one("log(0.5, 2)") == -1.0
    assert one("log(1, 2)") == float("inf")
    assert one("log(1, 0.5)") == float("-inf")
    assert math.isnan(one("log(1, 1)"))
    assert math.isnan(one("log(0, 0)"))
    assert math.isnan(one("log(-2, 8)"))
    assert one("sqrt(power(4, 2))") == 4.0
    assert one("mod(-1, 2)") == -1
    assert one("power(-1, 2)") == 1.0
    assert one("ceil(-12.4343454)") == -12.0
    assert one("floor(-12.4343454)") == -13.0


def test_mldb_826_vector_ops(mldb):
    """MLDB-826-vector-ops.js: vector_sum/diff/product/quotient over
    embedding literals built from columns."""
    _ds(mldb, "m826", [("r1", 10, 20, 50, 5)], "rn string, a int, b int, a2 int, b2 int")
    assert _q(mldb, "select vector_sum([a,b], [a,b]) as v from m826") == [([20, 40],)]
    assert _q(mldb, "select vector_diff([a,b], [a,b]) as v from m826") == [([0, 0],)]
    assert _q(mldb, "select vector_product([a,b], [a,b]) as v from m826") == [([100, 400],)]
    assert _q(mldb, "select vector_quotient([a,b], [a,b]) as v from m826") == [([1.0, 1.0],)]
    assert _q(mldb, "select vector_sum([a, a2], [b, b2]) as v from m826") == [([30, 55],)]
    assert _q(mldb, "select vector_diff([a, a2], [b, b2]) as v from m826") == [([-10, 45],)]


def test_mldb_1648_path_values(mldb):
    """MLDB-1648-path-values.js: CAST AS path (embedding -> one
    element per item, string -> a SINGLE element, no dot-splitting),
    stringify_path renders dotted with quoting, parse_path inverts
    it."""
    def one(expr):
        return _q(mldb, f"select {expr} as v")[0][0]

    assert one("cast (['1'] as path)") == ["1"]
    assert one("cast ([1] as path)") == ["1"]
    assert one("cast ([1,2,3] as path)") == ["1", "2", "3"]
    assert one("cast ('1.2.3' as path)") == ["1.2.3"]
    assert one("stringify_path(['1','2','3'])") == "1.2.3"
    assert one("parse_path(stringify_path(['1','2','3']))") == ["1", "2", "3"]
    # quoting round-trip: an element containing a dot
    assert one("stringify_path(['a.b', 'c'])") == '"a.b".c'
    assert one("parse_path(stringify_path(['a.b', 'c']))") == ["a.b", "c"]


def test_mldb_410_named_transformed_rowname(mldb):
    """MLDB-410-set-output-rowname.js: NAMED rowName() +
    '_transformed' rewrites output row names via string
    concatenation with +."""
    _ds(
        mldb,
        "m410",
        [("ex1", 0, 0, "cat"), ("ex2", 1, 1, "dog"), ("ex3", 1, 2, "cat")],
        "rn string, x int, y int, label string",
    )
    out = mldb.query(
        "select x, y, label NAMED rowName() + '_transformed' FROM m410 "
        "ORDER BY rowName() DESC"
    )
    rows = [(r["rowName"], r["label"], r["x"], r["y"]) for r in out.collect()]
    assert rows == [
        ("ex3_transformed", "cat", 1, 2),
        ("ex2_transformed", "dog", 1, 1),
        ("ex1_transformed", "cat", 0, 0),
    ]


def test_mldb_1636_row_path_elements(mldb):
    """MLDB-1636-row-column-path.js: rowPath()/rowPathElement(n) over
    multi-element row names — negative indexes count from the end,
    out-of-range gives NULL, and path equality filters work."""
    _ds(
        mldb,
        "m1636",
        [(f"examples.{i}", i) for i in range(5)],
        "rn string, v int",
    )
    out = mldb.query(
        "select rowPath() as p, rowPathElement(0) as e0, "
        "rowPathElement(1) as e1, rowPathElement(-1) as em1, "
        "rowPathElement(2) as e2 from m1636 "
        "where rowPathElement(-1) = rowPathElement(1) order by rowName()"
    )
    rows = out.collect()
    assert len(rows) == 5
    last = [r for r in rows if r["e1"] == "4"][0]
    assert list(last["p"]) == ["examples", "4"]
    assert last["e0"] == "examples" and last["em1"] == "4"
    assert last["e2"] is None


def test_mldb_1315_row_dataset_mixed_types(mldb):
    """MLDB-1315-row-table-expressions.js: row_dataset over a
    MIXED-type row literal ({x:1, y:2, z:'three'}) works, and
    CAST (value AS NUMBER) IS NULL recovers the non-numeric cells.
    Divergence (documented at the binding site): the reference's
    variant cells keep per-cell types; here mixed rows share one
    STRING value column, so numerics render as their string form."""
    out = mldb.query(
        "SELECT * FROM row_dataset({x:1, y:2, z:'three'}) ORDER BY rowName()"
    )
    assert [tuple(r) for r in out.collect()] == [
        ("0", "x", "1"), ("1", "y", "2"), ("2", "z", "three"),
    ]
    # the function body of the reference's `poil` sql.query entity
    out = mldb.query(
        "SELECT upper(column) AS column, value "
        "FROM row_dataset({x:1, y:2, z:'three'}) "
        "WHERE CAST (value AS NUMBER) IS NULL"
    )
    assert [tuple(r) for r in out.collect()] == [("Z", "three")]
    # the AS alias qualifies the dataset-function columns
    out = mldb.query(
        "SELECT x.* FROM row_dataset({x: 1, y:2, z: 'three'}) AS x "
        "ORDER BY rowName()"
    )
    assert [tuple(r) for r in out.collect()] == [
        ("0", "x", "1"), ("1", "y", "2"), ("2", "z", "three"),
    ]
    # all-numeric rows keep the double value column (the q40 shape)
    out = mldb.query("SELECT * FROM row_dataset({a:1, b:2})")
    assert sorted(tuple(r) for r in out.collect()) == [
        ("0", "a", 1.0), ("1", "b", 2.0),
    ]


def test_mldb_1563_keys_of_applied_function(mldb):
    """MLDB-1563-keys-values-of.js: a registered sql.expression
    function applied inside WHERE — rowName() IN
    (KEYS OF identity({input: {"1": 1}})[input]) — resolves, and the
    output row carries only the dataset's own columns."""
    mldb.create_sql_expression_function("identity1563", "input")
    _ds(
        mldb,
        "t1563",
        [("1", "plum", "moved", "kitchen"), ("2", "mustard", "stabbed", "plum")],
        "rn string, who string, what string, how string",
    )
    out = mldb.query(
        "SELECT * FROM t1563 WHERE rowName() IN "
        '(KEYS OF identity1563({input: {"1": 1}})[input])'
    )
    assert out.columns == ["rn", "who", "what", "how"]
    assert [tuple(r) for r in out.collect()] == [
        ("1", "plum", "moved", "kitchen"),
    ]


def test_mldb_1567_empty_literals(mldb):
    """MLDB-1567-empty-literal.js: `[]` is the null value; `{}` is an
    empty row; transpose(select 1) without () is a parse error."""
    import pytest

    assert mldb.query("select [] as x").collect()[0]["x"] is None
    row = mldb.query("select {} as x").collect()[0]
    assert tuple(row["x"]) == ()
    with pytest.raises(Exception):
        mldb.query("select * from transpose(select 1)")


def test_mldb_1935_const_binding(mldb):
    """MLDB-1935-const-binding.py: __isconst over bind-time
    short-circuits (sql_expression_operations.cc:1969-2030) — AND
    with a constant-false/NULL side and OR with a constant-true/NULL
    side are constant; everything touching a column is not."""
    _ds(mldb, "m1935", [("row1", 1, "blah")], "rn string, a int, b string")

    def isconst(expr):
        return mldb.query(
            f"SELECT __isconst({expr}) as c FROM m1935"
        ).collect()[0]["c"]

    for expr in ("1", "1 < 2", "1 + 2", "-(2)", "true OR false",
                 "true OR a", "a OR true", "null OR a", "a OR null",
                 "true AND false", "false AND a", "a AND false",
                 "null AND a", "a AND null"):
        assert isconst(expr) == 1, expr
    for expr in ("a", "a < 1", "a + 1", "-a", "false OR a", "a OR a",
                 "a AND true"):
        assert isconst(expr) == 0, expr


def test_mldb_195_surface_column_names(mldb):
    """MLDB-195-column-left-multiplication.js: an unnamed select item
    is named by its SURFACE spelling — `select 2.2 * Weight` outputs
    a column literally called '2.2 * Weight'."""
    _ds(mldb, "m195", [("row1", 1.0, 2.0)], "rn string, Weight double, col2 double")
    out = mldb.query("select 2.2 * Weight from m195")
    assert out.columns == ["2.2 * Weight"]
    assert out.collect()[0][0] == 2.2


def test_mldb_1721_quoted_pathelements(mldb):
    """MLDB-1721_pathelements_quoted.py: tokenize with escaped
    splitChars produces bag columns whose names carry newlines and
    backslashes intact."""
    _ds(
        mldb,
        "m1721",
        [("a", "hola \nreturn"), ("b", "hola \\return")],
        "rn string, text string",
    )
    out = mldb.query(
        "SELECT tokenize(lower(text), {splitChars: ' -''\"?!;:/[]*,.'}) as * "
        "FROM m1721 order by rowName() DESC"
    )
    assert sorted(out.columns) == ["\nreturn", "\\return", "hola"]
    rows = [tuple(r) for r in out.select("\nreturn", "\\return", "hola").collect()]
    assert rows == [(None, 1, 1), (1, None, 1)]


def test_mldb_1933_subselect_column_expr(mldb):
    """MLDB-1933-subselect-flatten.py: COLUMN EXPR STRUCTURED
    (SELECT …) over subselect-built embedding columns."""
    out = mldb.query(
        "SELECT COLUMN EXPR STRUCTURED (SELECT 1) "
        "FROM (SELECT [[2,3],[4,5]] as myembedding)"
    )
    assert out.columns == ["myembedding"]
    assert [tuple(r) for r in out.collect()] == [(1,)]
    out = mldb.query(
        "SELECT COLUMN EXPR STRUCTURED (SELECT 1) "
        "FROM (SELECT [2,3] as x,[4,5] as y)"
    )
    assert out.columns == ["x", "y"]
    assert [tuple(r) for r in out.collect()] == [(1, 1)]


def test_mldb_1834_row_wildcard_needs_from(mldb):
    """MLDB-1834: SELECT {*} with no FROM clause errors."""
    import pytest

    with pytest.raises(ValueError, match="wildcards with no FROM"):
        mldb.query("SELECT {*}")


def test_mldb_2077_merge_single_dataset(mldb):
    """MLDB-2077_merge_single_ds.py: merge of ONE dataset is that
    dataset."""
    _ds(mldb, "m2077", [("1", "A")], "rn string, colA string")
    out = mldb.query("SELECT * FROM merge(m2077)")
    assert [tuple(r) for r in out.collect()] == [("1", "A")]


def test_mldb_1788_scalar_as_star_errors(mldb):
    """MLDB-1788_select_col_as_star_err.py: spreading a scalar column
    with AS * is an error, not a silent pass-through."""
    import pytest

    _ds(mldb, "m1788", [("row1", 1)], "rn string, col int")
    with pytest.raises(Exception):
        mldb.query("SELECT col AS * FROM m1788").collect()


def test_mldb_1947_reshape_builtin(mldb):
    """MLDB-1947-reshape-builtin.py: shape/reshape over embeddings
    AND row literals; the 2-arg form errors on element-count change;
    non-embedding arguments error."""
    import pytest

    def one(q):
        return mldb.query(f"SELECT {q} as r").collect()[0]["r"]

    assert list(one("shape([[1,2],[3,4]])")) == [2, 2]
    assert list(one("shape(reshape([[1,2],[3,4]], [2,2]))")) == [2, 2]
    assert list(one("shape(reshape([[1,2],[3,4]], [4]))")) == [4]
    assert list(one("shape([1,2,3,4])")) == [4]
    assert list(one("shape(reshape([1,2,3,4], [2,2]))")) == [2, 2]
    with pytest.raises(ValueError, match="Attempt to change embedding size"):
        mldb.query("SELECT shape(reshape([1,2,3,4,5], [2,2])) as dim")
    with pytest.raises(ValueError, match="requires an embedding"):
        mldb.query("SELECT shape(reshape('not an embedding', [1])) as dim")
    with pytest.raises(ValueError, match="literal"):
        mldb.query("SELECT shape(reshape([1], 'not an embedding')) as dim")
    # row arguments flatten to their leaves in written order
    r = one('reshape({"0": 1, "1": 2, "2": 3, "3": 4}, [2, 2])')
    assert [list(x) for x in r] == [[1, 2], [3, 4]]
    r = one('reshape({"0": {"0": 1, "1": 2}, "1": {"0": 3, "1": 4}}, [4])')
    assert list(r) == [1, 2, 3, 4]
    r = one('reshape({"0": {"0": 1, "1": 2}, "1": {"0": 3, "1": 4}}, [1, 4])')
    assert [list(x) for x in r] == [[1, 2, 3, 4]]


def test_mldb_1320_sql_query_named_columns(mldb):
    """MLDB-1320-sql-query-whole-table.js: a NAMED_COLUMNS sql.query
    function applied from SQL — whole table, LIMIT, LIMIT+OFFSET —
    pivots (column, value) rows into one output row."""
    _ds(
        mldb,
        "t1320",
        [("all systems", "GO"), ("hello", "world")],
        "rn string, value string",
    )
    mldb.create_sql_query_function(
        "poil1320",
        "select *, rowName() AS column from t1320 order by rowName()",
        output="NAMED_COLUMNS",
    )
    out = mldb.query("SELECT poil1320()[output] as *")
    assert out.columns == ["all systems", "hello"]
    assert [tuple(r) for r in out.collect()] == [("GO", "world")]
    mldb.create_sql_query_function(
        "poil1320b",
        "select *, rowName() AS column from t1320 order by rowName() LIMIT 1",
        output="NAMED_COLUMNS",
    )
    out = mldb.query("SELECT poil1320b()[output] as *")
    assert out.columns == ["all systems"]
    mldb.create_sql_query_function(
        "poil1320c",
        "select *, rowName() AS column from t1320 "
        "order by rowName() LIMIT 1 OFFSET 1",
        output="NAMED_COLUMNS",
    )
    out = mldb.query("SELECT poil1320c()[output] as *")
    assert out.columns == ["hello"]
    assert [tuple(r) for r in out.collect()] == [("world",)]


def test_mldb_1884_timestamp_consistency(mldb):
    """MLDB-1884-timestamp-consistency.py: scalar selects over
    null/string/NULL-LIKE all answer without error."""
    assert mldb.query("SELECT null as x").collect()[0]["x"] is None
    assert mldb.query("SELECT 'patate' as x").collect()[0]["x"] == "patate"
    assert mldb.query("SELECT NULL LIKE 'abc' as x").collect()[0]["x"] is None


def test_structured_path_join_naming_no_collision(mldb):
    """VERDICT r5 #4 (the flat-string divergence, now closed): join
    output names render through the reference's path quoting rule
    (types/path.h; joined_dataset.cc naming), so table `x` with
    column `y.z` and table `x.y` with column `z` produce DISTINCT
    physical columns x."y.z" and "x.y".z — previously both flattened
    to x.y.z and silently collided."""
    df1 = mldb.spark.createDataFrame([("r1", 1, 100)], "rn string, `y.z` int, k int")
    df2 = mldb.spark.createDataFrame([("r1", 2, 100)], "rn string, z int, k int")
    mldb.create_dataset("x", df1, row_name_col="rn")
    mldb.create_dataset("x.y", df2, row_name_col="rn")
    out = mldb.query(
        'SELECT * FROM x JOIN "x.y" ON x.k = "x.y".k'
    )
    cols = set(out.columns)
    # physical names treat dotted columns as rendered PATHS, so only
    # the alias element quotes: x.y.z (path x/y/z) vs "x.y".z
    assert "x.y.z" in cols and '"x.y".z' in cols, cols
    row = out.collect()[0]
    assert row["x.y.z"] == 1 and row['"x.y".z'] == 2
    # qualified references resolve to the right side
    out2 = mldb.query(
        'SELECT x."y.z" AS a, "x.y".z AS b '
        'FROM x JOIN "x.y" ON x.k = "x.y".k'
    )
    r = out2.collect()[0]
    assert (r["a"], r["b"]) == (1, 2)
    # unqualified quoted reference resolves when unique
    out3 = mldb.query(
        'SELECT "y.z" AS a FROM x JOIN "x.y" ON x.k = "x.y".k'
    )
    assert out3.collect()[0]["a"] == 1


def test_mldb_963_when_battery_sql(mldb):
    """MLDB-963-when-in-WHEN.py, the full 7-test battery through SQL
    over a register_cells() dataset: WHEN filters PER CELL
    (value_timestamp() = the cell's own stamp; latest_timestamp(col)
    and latest_timestamp({*}) are per-row aggregates over the raw
    superposition; WHERE reads GET_LATEST of the SURVIVORS).
    Divergence note: the reference emits zero-column rows for
    fully-filtered rows; the tabular layout renders those as rows of
    NULL cells."""
    import datetime as _dt

    now = _dt.datetime(2020, 6, 1, 12, 0, 0)
    tomorrow = now + _dt.timedelta(days=1)
    cells = []
    for i in range(9):
        cells.append((str(i), "x", str(i), tomorrow))
        cells.append((str(i), "y", str(i), now))
    cells.append(("9", "x", "9", tomorrow))
    cells.append(("9", "y", "9", tomorrow))
    df = mldb.spark.createDataFrame(
        cells, "row string, column string, value string, ts timestamp"
    )
    mldb.ctx.register_cells("ds963", df)

    def grid(sql):
        sql = sql.replace("SELECT *", "SELECT rowName() AS rn963, *")
        rows = mldb.query(sql).collect()
        return {r["rn963"]: (r["x"], r["y"]) for r in rows}

    # 1: each row's x IS its own latest x -> x filtered; y survives
    #    except row 9 (same stamp)
    g = grid(
        "SELECT * FROM ds963 WHEN value_timestamp() < latest_timestamp(x)"
    )
    assert g["9"] == (None, None)
    assert all(g[str(i)] == (None, str(i)) for i in range(9))
    # 2: = latest x stamp keeps x everywhere, y only on row 9; WHERE
    #    evaluates over the survivors
    g = grid(
        "SELECT * FROM ds963 WHEN value_timestamp() = latest_timestamp(x) "
        "WHERE x = '9'"
    )
    assert g == {"9": ("9", "9")}
    # 3/4: fixed cutoff between the two stamps (the reference's
    #      now()-anchored forms, made deterministic)
    g = grid(
        "SELECT * FROM ds963 WHEN value_timestamp() > "
        "TIMESTAMP '2020-06-01T18:00:00Z'"
    )
    assert g["9"] == ("9", "9")
    assert all(g[str(i)] == (str(i), None) for i in range(9))
    g = grid(
        "SELECT * FROM ds963 WHEN value_timestamp() BETWEEN "
        "TIMESTAMP '2020-06-01T18:00:00Z' AND "
        "TIMESTAMP '2020-06-01T18:00:00Z' + INTERVAL '1W'"
    )
    assert g["9"] == ("9", "9")
    assert all(g[str(i)] == (str(i), None) for i in range(9))
    # 5: window covering everything keeps everything
    g = grid(
        "SELECT * FROM ds963 WHEN value_timestamp() BETWEEN "
        "TIMESTAMP '2020-06-01T12:00:00Z' - INTERVAL '1d' "
        "AND latest_timestamp({*})"
    )
    assert all(g[str(i)] == (str(i), str(i)) for i in range(10))
    # 6: window strictly after everything filters everything
    g = grid(
        "SELECT * FROM ds963 WHEN value_timestamp() BETWEEN "
        "latest_timestamp({*}) + INTERVAL '1s' AND "
        "TIMESTAMP '2100-01-01T00:00:00Z'"
    )
    assert all(g[str(i)] == (None, None) for i in range(10))
    # 7: row-constant WHEN (no value_timestamp): rows whose y-latest
    #    clears the bar keep ALL cells, the rest lose all
    g = grid(
        "SELECT * FROM ds963 WHEN latest_timestamp(y) > "
        "TIMESTAMP '2020-06-01T12:00:02Z'"
    )
    assert g["9"] == ("9", "9")
    assert all(g[str(i)] == (None, None) for i in range(9))


def test_mldb_1172_column_expr_battery(mldb):
    """MLDB-1172_column_expr_fail.py: COLUMN EXPR with ORDER BY
    rowCount() DESC LIMIT, regex_match over columnName(), COLUMN EXPR
    inside horizontal_sum in SELECT *and WHERE*, and over a
    subselect."""
    mldb.create_dataset(
        "toy1172",
        mldb.spark.createDataFrame(
            [(1, 1, 1), (1, 1, None), (1, None, None)],
            "feat1 int, feat2 int, feat3 int",
        ),
    )
    out = mldb.query(
        "select COLUMN EXPR (ORDER BY rowCount() DESC LIMIT 2) from toy1172"
    )
    assert sorted(out.columns) == ["feat1", "feat2"]
    out = mldb.query(
        "select COLUMN EXPR (WHERE regex_match(columnName(), "
        "'feat[[:digit:]]') ORDER BY rowCount() DESC LIMIT 2) from toy1172"
    )
    assert sorted(out.columns) == ["feat1", "feat2"]

    _ds(
        mldb,
        "ds1172",
        [("user1", 1, None), ("user2", None, 1)],
        'rn string, `0:behA` int, `0:behB` int',
    )
    rows = _q(
        mldb,
        'SELECT * FROM ds1172 WHERE horizontal_sum({"0:behA"}) > 0',
    )
    assert rows == [("user1", 1, None)]
    rows = _q(
        mldb,
        "SELECT horizontal_sum({COLUMN EXPR (WHERE regex_match("
        "columnName(), '[[:digit:]]+:behA'))}) AS res FROM ds1172 "
        "ORDER BY rowName()",
    )
    assert rows == [(1,), (0,)]
    rows = _q(
        mldb,
        "SELECT * FROM ds1172 WHERE horizontal_sum({COLUMN EXPR (WHERE "
        "regex_match(columnName(), '[[:digit:]]+:behA'))}) > 0",
    )
    assert rows == [("user1", 1, None)]
    # subselect source (test_column_expr_sub_select)
    _ds(
        mldb,
        "ds1172b",
        [("user1", 1, 3), ("user2", 1, None)],
        "rn string, x int, y int",
    )
    out = mldb.query(
        "SELECT COLUMN EXPR (WHERE rowCount() > 1) from "
        "(select * from ds1172b)"
    )
    # rn rides through `select *` as a data column here (rowCount 2)
    assert sorted(out.columns) == ["rn", "x"]


def test_mldb_1092_binomial_confidence(mldb):
    """MLDB-1092_conf_interval.py: binomial_ub_80/binomial_lb_80
    Wilson bounds pinned to the reference's values."""
    rows = _q(
        mldb,
        "SELECT binomial_ub_80(200, 35) as ub, binomial_lb_80(200, 35) as lb",
    )
    assert abs(rows[0][0] - 0.2120410) < 0.001
    assert abs(rows[0][1] - 0.143) < 0.001
    _ds(
        mldb,
        "toy1092",
        [("u1", 200, 35), ("u2", 500, 35)],
        "rn string, trials int, succ int",
    )
    rows = _q(
        mldb,
        "SELECT binomial_ub_80(trials, succ) as ub, "
        "binomial_lb_80(trials, succ) as lb from toy1092 "
        "order by rowName() ASC",
    )
    assert abs(rows[0][0] - 0.212) < 0.001
    assert abs(rows[0][1] - 0.143) < 0.001
    assert abs(rows[1][1] - 0.0567) < 0.001


def test_mldb_1336_builtin_arg_checks(mldb):
    """MLDB-1336-builtin-checks.py: wrong argument COUNTS to builtins
    raise binding errors (sqrt(1,2,3)); non-numeric input to a
    numeric builtin is the cast-fail path."""
    import pytest

    with pytest.raises(Exception, match="sqrt|argument"):
        mldb.query("SELECT sqrt(1,2,3) AS v").collect()


def test_mldb_1098_csv_export_advanced(mldb, tmp_path):
    """MLDB-1098-csv-export-advanced.py: export.csv writes sparse
    NULLs as empty cells, supports rowName() columns, duplicate
    select items (B, B as D), constants, and unknown (open-schema)
    columns as empty."""
    from mldb_spark.sources.text_io import export_csv

    _ds(
        mldb,
        "my1098",
        [("1", "A1", None, None), ("2", None, "B2", None),
         ("3", None, None, "C3"), ("4", "A4", None, "C4")],
        "rn string, A string, B string, C string",
    )
    import glob as _glob

    def read_csv_dir(d):
        lines = []
        for f in sorted(_glob.glob(d + "/part-*")):
            lines.extend(open(f).read().splitlines())
        return lines

    p1 = str(tmp_path / "star.csv")
    export_csv(
        mldb.query("select * excluding(rn) from my1098 order by rowName()"),
        p1,
        single_file=True,
    )
    assert read_csv_dir(p1) == ["A,B,C", "A1,,", ",B2,", ",,C3", "A4,,C4"]
    p2 = str(tmp_path / "rn.csv")
    export_csv(
        mldb.query(
            "select rowName() as rowName, * excluding(rn) from my1098 "
            "order by rowName()"
        ),
        p2,
        single_file=True,
    )
    assert read_csv_dir(p2) == [
        "rowName,A,B,C", "1,A1,,", "2,,B2,", "3,,,C3", "4,A4,,C4",
    ]
    p3 = str(tmp_path / "mix.csv")
    export_csv(
        mldb.query(
            "select 'foo' as foo, bar, rowName() as rowName, B as D "
            "from my1098 order by rowName()"
        ),
        p3,
        single_file=True,
    )
    assert read_csv_dir(p3) == [
        "foo,bar,rowName,D",
        "foo,,1,", "foo,,2,B2", "foo,,3,", "foo,,4,",
    ]


def test_mldb_1319_sql_query_function_binding(mldb):
    """MLDB-1319-new-executor-function-binding.js: sql.query function
    entities whose queries JOIN on rowName() (plain, cast, and
    cast-plus-$param arithmetic), applied from SQL with `AS *`;
    literal argument fields forward as $params (poil3({n: 1}))."""
    _ds(
        mldb, "t1319a",
        [("1", 1, 2, None), ("2", 2, None, 4), ("3", None, None, 3)],
        "rn string, x int, y int, z int",
    )
    _ds(
        mldb, "t1319b",
        [("1", 1, 2), ("2", 2, 2), ("3", None, 3)],
        "rn string, x int, z int",
    )
    mldb.create_sql_query_function(
        "poil1319",
        "select test1.x AS t1x, test1.y AS t1y, test2.x AS t2x, "
        "test2.z AS t2z from t1319a AS test1 join t1319b AS test2 "
        "on test1.rowName() = test2.rowName() order by test1.rowName()",
    )
    row = mldb.query("SELECT poil1319()[output] AS o FROM t1319a LIMIT 1").collect()[0]
    o = row["o"].asDict() if hasattr(row["o"], "asDict") else dict(row["o"])
    assert (o["t1x"], o["t1y"], o["t2x"], o["t2z"]) == (1, 2, 1, 2)
    mldb.create_sql_query_function(
        "poil1319c",
        "select test1.x AS t1x, test1.z AS t1z, test2.x AS t2x, "
        "test2.z AS t2z from t1319a AS test1 join t1319b AS test2 "
        "on cast(test1.rowName() as integer) = "
        "cast(test2.rowName() as integer) + $n order by test1.rowName()",
    )
    row = mldb.query(
        "SELECT poil1319c({n: 1})[output] AS o FROM t1319a LIMIT 1"
    ).collect()[0]
    o = row["o"].asDict() if hasattr(row["o"], "asDict") else dict(row["o"])
    assert (o["t1x"], o["t1z"], o["t2x"], o["t2z"]) == (2, 4, 1, 2)


def test_mldb_1025_output_dataset_with_default(mldb):
    """MLDB-1025-dataset-output-with-default.py: a transform
    procedure's outputDataset accepts both the plain-string id form
    and the {id: ...} config form (type defaulted)."""
    _ds(
        mldb, "m1025",
        [(str(i), i, i) for i in range(9)],
        "rn string, x int, y int",
    )
    mldb.create_entity(
        "procedure",
        {
            "id": "t1025a",
            "type": "transform",
            "params": {
                "inputData": {
                    "from": {"id": "m1025"},
                    "where": "rowName() = '2'",
                },
                "outputDataset": "out1025a",
            },
        },
    )
    rows = mldb.query("SELECT x, y FROM out1025a").collect()
    assert [(r["x"], r["y"]) for r in rows] == [(2, 2)]
    mldb.create_entity(
        "procedure",
        {
            "id": "t1025b",
            "type": "transform",
            "params": {
                "inputData": {
                    "from": {"id": "m1025"},
                    "where": "rowName() = '2'",
                },
                "outputDataset": {"id": "out1025b"},
            },
        },
    )
    rows = mldb.query("SELECT x, y FROM out1025b").collect()
    assert [(r["x"], r["y"]) for r in rows] == [(2, 2)]


def test_mldb_1702_superposition_comparisons(mldb):
    """MLDB-1702_comparisons_test.py: comparisons over a superposed
    cell read its LATEST value (a: 1; b: 1@4,1@5; c: 0@4,0@5;
    d: 0@4,1@5 -> 1; e: 1@4,0@5 -> 0); truth values render 1/0."""
    import datetime as _dt

    rows = []
    for col, pairs in [
        ("a", [(1, 4)]),
        ("b", [(1, 4), (1, 5)]),
        ("c", [(0, 4), (0, 5)]),
        ("d", [(0, 4), (1, 5)]),
        ("e", [(1, 4), (0, 5)]),
    ]:
        for v, t in pairs:
            rows.append(("u1", col, float(v), _dt.datetime(2020, 1, 1, 0, 0, t)))
    cells = mldb.spark.createDataFrame(
        rows, "row string, column string, value double, ts timestamp"
    )
    mldb.ctx.register_cells("ds1702", cells)

    def rq(letter, op, value):
        return mldb.query(
            f'SELECT "{letter}" {op} {value} AS r FROM ds1702'
        ).collect()[0]["r"]

    for letter, latest in [("a", 1), ("b", 1), ("c", 0), ("d", 1), ("e", 0)]:
        assert rq(letter, ">", 1) == (1 if latest > 1 else 0), letter
        assert rq(letter, ">", 0) == (1 if latest > 0 else 0), letter
        assert rq(letter, ">=", 1) == (1 if latest >= 1 else 0), letter
        assert rq(letter, "=", 1) == (1 if latest == 1 else 0), letter
        assert rq(letter, "=", 0) == (1 if latest == 0 else 0), letter
        assert rq(letter, "<", 1) == (1 if latest < 1 else 0), letter
        assert rq(letter, "!=", 1) == (1 if latest != 1 else 0), letter


def test_mldb_1779_column_expr_pathnames(mldb):
    """MLDB-1779-column_expr_pathnames.py: bare COLUMN EXPR ()
    selects everything; columnPathElement(n) (and negative n) match
    against flattened dotted paths from parse_json."""
    sub = (
        "select parse_json('"
        '{"age": 5, "friends": [{"name": "tommy"}, {"name": "sally"}]}'
        "') as *"
    )
    a = mldb.query(f"SELECT column expr () from ({sub})")
    b = mldb.query(f"SELECT * from ({sub})")
    assert sorted(a.columns) == sorted(b.columns)
    out = mldb.query(
        f"select COLUMN EXPR (WHERE columnPathElement(1) = '0') FROM ({sub})"
    )
    assert out.columns == ["friends.0.name"]
    assert out.collect()[0][0] == "tommy"
    out = mldb.query(
        f"select COLUMN EXPR (WHERE columnPathElement(-2) = '0') FROM ({sub})"
    )
    assert out.columns == ["friends.0.name"]
    assert out.collect()[0][0] == "tommy"


def test_mldb_1275_melt_with_parse_json(mldb):
    """MLDB-1275_melt_procedure.py (core semantics): parse_json with
    arrays='encode' renders object-array elements as JSON text at
    their index paths (friends.1), and melting the friends.* columns
    yields one row per (row, melted column) with the key holding the
    melted path."""
    import json as _json

    row1 = {
        "name": "bill", "age": 25,
        "friends": [{"name": "mich", "age": 20},
                    {"name": "jean", "age": 18}],
    }
    _ds(mldb, "mj1275", [("row1", _json.dumps(row1))], "rn string, data string")
    out = mldb.query(
        "SELECT parse_json(data, {arrays: 'encode'}) AS * FROM mj1275"
    )
    row = out.collect()[0]
    d = row.asDict()
    assert d["age"] == "25"
    assert _json.loads(d["friends.1"]) == {"age": 18, "name": "jean"}
    # arrays='parse' (default): fully flattened element paths
    out = mldb.query("SELECT parse_json(data) AS * FROM mj1275")
    d = out.collect()[0].asDict()
    assert d["friends.1.name"] == "jean" and d["friends.0.age"] == "20"
    # melt the friends columns
    mldb.create_dataset(
        "wide1275",
        mldb.query(
            "SELECT parse_json(data, {arrays: 'encode'}) AS * FROM mj1275"
        ),
    )
    melted = mldb.melt(
        "wide1275", ["name", "age"], ["friends.0", "friends.1"], "melted1275"
    )
    rows = {r["key"]: r for r in melted.collect()}
    assert set(rows) == {"friends.0", "friends.1"}
    assert rows["friends.1"]["age"] == "25"
    assert _json.loads(rows["friends.1"]["value"])["name"] == "jean"


def test_mldb_1802_qualified_order_by(mldb):
    """MLDB-1802-select-orderby.py: ORDER BY alias-qualified columns
    (dataset1.x) orders correctly whether or not the select list
    carries the ordering column."""
    _ds(
        mldb, "d1802",
        [("row_c", 1, 3), ("row_b", 2, 2), ("row_a", 3, 1)],
        "rn string, x int, y int",
    )
    r1 = _q(mldb, "SELECT 1 FROM d1802 AS dataset1 ORDER BY dataset1.x")
    assert r1 == [(1,), (1,), (1,)]
    r2 = _q(
        mldb,
        "SELECT dataset1.y AS v FROM d1802 AS dataset1 ORDER BY dataset1.x",
    )
    assert r2 == [(3,), (2,), (1,)]


def test_mldb_1808_precision_loss(mldb):
    """MLDB-1808_precision_loss_issue.py: doubles survive the full
    query path at full precision — storage, literal select, and
    aggregation."""
    n1, n2 = 71218.50311678024, 255650.6226198759
    _ds(mldb, "d1808", [("1", n1), ("2", n2)], "rn string, a double")
    assert _q(mldb, "SELECT a FROM d1808 ORDER BY rowName()") == [(n1,), (n2,)]
    assert _q(mldb, f"SELECT {n2:.10f} AS v")[0][0] == n2
    assert _q(mldb, "SELECT sum(a) AS s FROM d1808")[0][0] == n1 + n2
    assert _q(mldb, "SELECT avg(a) AS s FROM d1808")[0][0] == (n1 + n2) / 2


def test_mldb_1911_horizontal_agg_no_from(mldb):
    """MLDB-1911_horizontal_agg_no_from.py: horizontal_* over a row
    literal WITHOUT a FROM clause (the reference itself marks these
    expectedFailure — this engine supports them)."""
    assert _q(mldb, "SELECT horizontal_sum({1 AS a, 2 AS b}) AS s")[0][0] == 3
    assert _q(mldb, "SELECT horizontal_count({1 AS a, 2 AS b}) AS c")[0][0] == 2
    assert _q(mldb, "SELECT horizontal_min({1 AS a, 2 AS b}) AS m")[0][0] == 1


def test_mldb_1921_merge_plain_string_datasets(mldb):
    """MLDB-1921_merge_ds_strings.py: merging datasets named by plain
    strings (the reference marks this expectedFailure; the dialect's
    FROM merge(ds1, ds2) takes bare names)."""
    _ds(mldb, "m1921a", [("row1", 1)], "rn string, A int")
    _ds(mldb, "m1921b", [("row1", 2)], "rn string, B int")
    rows = _q(
        mldb,
        "SELECT A, B FROM merge(m1921a, m1921b) ORDER BY rowName()",
    )
    assert rows == [(1, 2)]


def test_mldb_1933_column_expr_structured_select(mldb):
    """MLDB-1933-subselect-flatten.py: COLUMN EXPR STRUCTURED with a
    per-column SELECT transform over embedding columns — constant
    replacement and norm(value(), 2)."""
    out = mldb.query(
        "SELECT COLUMN EXPR STRUCTURED (SELECT 1) "
        "FROM (SELECT [2,3] as x, [4,5] as y)"
    )
    assert [tuple(r) for r in out.collect()] == [(1, 1)]
    assert sorted(out.columns) == ["x", "y"]
    out = mldb.query(
        "SELECT COLUMN EXPR STRUCTURED (SELECT norm(value(), 2)) "
        "FROM (SELECT [2,3] as x, [4,5] as y)"
    )
    row = out.collect()[0]
    assert abs(row["x"] - 3.605551275463989) < 1e-12
    assert abs(row["y"] - 6.4031242374328485) < 1e-12


def test_mldb_2108_split_part_row_form(mldb):
    """MLDB-2108-split-string.py: 2-arg split_part(x, sep) returns
    the split elements (the reference's row form renders here as an
    array — element access via [n]); UTF-8 content and separators
    split correctly."""
    rows = _q(
        mldb,
        "SELECT split_part(x, '::') AS x FROM (SELECT 'A::B::C' as x)",
    )
    assert list(rows[0][0]) == ["A", "B", "C"]
    assert _q(
        mldb,
        "SELECT split_part(x, ' ')[2] AS x "
        "FROM (SELECT 'The Quick Brown Fox' as x)",
    )[0][0] == "Brown"
    assert _q(
        mldb,
        "SELECT split_part(x, ' ')[4] AS x FROM "
        "(SELECT 'ᛖᚴ ᚷᛖᛏ ᛖᛏᛁ ᚧ ᚷᛚᛖᚱ ᛘᚾ ᚦᛖᛋᛋ ᚨᚧ ᚡᛖ ᚱᚧᚨ ᛋᚨᚱ' as x)",
    )[0][0] == "ᚷᛚᛖᚱ"
    assert _q(
        mldb,
        "SELECT split_part(x, 'ᚧ')[4] AS x FROM "
        "(SELECT 'ᛖᚴᚧᚷᛖᛏᚧᛖᛏᛁᚧᚷᛚᛖᚱᚧᛘᚾᚧᚦᛖᛋᛋᚧᚨᚧᚧᚡᛖᚧᚱᚧᚨᚧᛋᚨᚱ' as x)",
    )[0][0] == "ᛘᚾ"


def test_mldb_2064_transform_row_dataset(mldb):
    """MLDB-2064_transform_proc_row_expr.py: a transform procedure
    whose inputData is a row_dataset() with a spaced column name
    materializes identically to the direct query."""
    q = 'SELECT * FROM row_dataset({"My Value": 1})'
    good = [tuple(r) for r in mldb.query(q).collect()]
    mldb.create_entity(
        "procedure",
        {
            "id": "t2064",
            "type": "transform",
            "params": {
                "inputData": q,
                "outputDataset": {"id": "keywords2064", "type": "tabular"},
            },
        },
    )
    assert [tuple(r) for r in mldb.query("select * from keywords2064").collect()] == good


def test_mldb_2077_merge_single_dataset(mldb):
    """MLDB-2077_merge_single_ds.py: merge() of a single dataset is
    the identity."""
    _ds(mldb, "m2077", [("1", "A")], "rn string, colA string")
    rows = _q(mldb, "SELECT colA FROM merge(m2077)")
    assert rows == [("A",)]


def test_mldb_2040_theta_join_battery(mldb):
    """MLDB-2040_join_tests.py: LEFT/RIGHT/FULL theta joins (>, >=,
    <, <=, compound, arithmetic, no-match) with the reference's
    [left]-[right] row naming and NULL padding."""
    _ds(
        mldb, "a2040",
        [("row1", 1, 1), ("row2", 1, 2), ("row3", 2, 1), ("row4", 2, 2)],
        "rn string, one int, two int",
    )
    _ds(
        mldb, "b2040",
        [("row0", 0), ("row1", 1), ("row2", 2)],
        "rn string, one int",
    )

    def rows(sql):
        out = mldb.query(sql)
        return [tuple(r) for r in out.collect()]

    base = (
        "SELECT rowName() AS r, a.one AS ao, a.two AS at, b.one AS bo "
        "FROM a2040 AS a {} JOIN b2040 AS b ON {} ORDER BY rowName()"
    )
    assert rows(base.format("LEFT", "a.one > b.one")) == [
        ("[row1]-[row0]", 1, 1, 0),
        ("[row2]-[row0]", 1, 2, 0),
        ("[row3]-[row0]", 2, 1, 0),
        ("[row3]-[row1]", 2, 1, 1),
        ("[row4]-[row0]", 2, 2, 0),
        ("[row4]-[row1]", 2, 2, 1),
    ]
    assert rows(base.format("LEFT", "a.one < b.one")) == [
        ("[row1]-[row2]", 1, 1, 2),
        ("[row2]-[row2]", 1, 2, 2),
        ("[row3]-[]", 2, 1, None),
        ("[row4]-[]", 2, 2, None),
    ]
    assert rows(base.format("LEFT", "a.one - 100 > b.one")) == [
        ("[row1]-[]", 1, 1, None),
        ("[row2]-[]", 1, 2, None),
        ("[row3]-[]", 2, 1, None),
        ("[row4]-[]", 2, 2, None),
    ]
    assert rows(base.format("LEFT", "a.one > b.one AND a.two > b.one")) == [
        ("[row1]-[row0]", 1, 1, 0),
        ("[row2]-[row0]", 1, 2, 0),
        ("[row3]-[row0]", 2, 1, 0),
        ("[row4]-[row0]", 2, 2, 0),
        ("[row4]-[row1]", 2, 2, 1),
    ]
    assert rows(base.format("LEFT", "a.one > b.one AND a.two - 1 < b.one")) == [
        ("[row1]-[]", 1, 1, None),
        ("[row2]-[]", 1, 2, None),
        ("[row3]-[row1]", 2, 1, 1),
        ("[row4]-[]", 2, 2, None),
    ]
    assert rows(base.format("LEFT", "a.one >= b.one AND a.two <= b.one")) == [
        ("[row1]-[row1]", 1, 1, 1),
        ("[row2]-[]", 1, 2, None),
        ("[row3]-[row1]", 2, 1, 1),
        ("[row3]-[row2]", 2, 1, 2),
        ("[row4]-[row2]", 2, 2, 2),
    ]
    # FULL theta with non-matches on both sides
    _ds(
        mldb, "cross2040",
        [("row1", 1, 9), ("row2", 1, 9)],
        "rn string, one int, two int",
    )
    got = rows(
        "SELECT rowName() AS r, b.one AS bo, c.one AS co, c.two AS ct "
        "FROM b2040 AS b FULL JOIN cross2040 AS c "
        "ON b.one < c.one AND c.two < b.one ORDER BY rowName()"
    )
    assert got == [
        ("[]-[row1]", None, 1, 9),
        ("[]-[row2]", None, 1, 9),
        ("[row0]-[]", 0, None, None),
        ("[row1]-[]", 1, None, None),
        ("[row2]-[]", 2, None, None),
    ]


def test_mldb_2142_prefix_suffix(mldb):
    """MLDB-2142-prefix-suffix.py: remove_prefix/remove_suffix match
    exact affixes (no-op when not an affix); non-string args raise."""
    import pytest

    assert _q(mldb, "SELECT remove_prefix('awesome', 'awe') AS v")[0][0] == "some"
    assert _q(mldb, "SELECT remove_prefix('awesome', 'eso') AS v")[0][0] == "awesome"
    assert _q(mldb, "SELECT remove_suffix('awesome', 'some') AS v")[0][0] == "awe"
    assert _q(mldb, "SELECT remove_suffix('awesome', 'eso') AS v")[0][0] == "awesome"


def test_mldb_2119_transform_requires_input(mldb):
    """MLDB-2119_segfault_transform_no_input.py: a transform
    procedure without inputData raises a clear error, not a crash."""
    import pytest

    with pytest.raises(Exception, match="inputData|input"):
        mldb.create_entity(
            "procedure",
            {"id": "t2119", "type": "transform", "params": {}},
        )


def test_mldb_909_when_superposition_windows(mldb):
    """MLDB-909-simple-WHEN-expression.py (multi-ts half): WHEN
    windows over a cell's superposition keep exactly the in-window
    values; the surviving latest is observable through the plain
    column read. Inverted BETWEEN filters everything."""
    import datetime as _dt

    cells = mldb.spark.createDataFrame(
        [
            ("row1", "colA", 2.0, _dt.datetime(1970, 1, 2)),
            ("row1", "colA", 4.0, _dt.datetime(1970, 1, 4)),
            ("row1", "colA", 6.0, _dt.datetime(1970, 1, 6)),
        ],
        "row string, column string, value double, ts timestamp",
    )
    mldb.ctx.register_cells("ds909m", cells)

    def col_a(when):
        rows = mldb.query(f"SELECT colA FROM ds909m WHEN {when}").collect()
        assert len(rows) == 1
        return rows[0]["colA"]

    for w in (
        "value_timestamp() BETWEEN TIMESTAMP '1970-01-03T00:00:00Z' "
        "AND TIMESTAMP '1970-01-05T00:00:00Z'",
        "value_timestamp() >= TIMESTAMP '1970-01-03T00:00:00Z' AND "
        "value_timestamp() <= TIMESTAMP '1970-01-05T00:00:00Z'",
        "value_timestamp() BETWEEN TIMESTAMP '1970-01-04T00:00:00Z' "
        "AND TIMESTAMP '1970-01-04T00:00:00Z'",
        "value_timestamp() = TIMESTAMP '1970-01-04T00:00:00Z'",
    ):
        assert col_a(w) == 4.0, w
    # inverted window: everything filtered; the row remains with a
    # NULL cell (tabular rendering of the zero-column row)
    assert col_a(
        "value_timestamp() BETWEEN TIMESTAMP '1970-01-04T23:59:59Z' "
        "AND TIMESTAMP '1970-01-03T23:59:59Z'"
    ) is None
    # mixed columns (dataset3): only the early colA value survives
    cells3 = mldb.spark.createDataFrame(
        [
            ("row1", "colA", 1.0, _dt.datetime(1970, 1, 2)),
            ("row1", "colB", 3.0, _dt.datetime(1970, 1, 4)),
            ("row1", "colB", 5.0, _dt.datetime(1970, 1, 6)),
        ],
        "row string, column string, value double, ts timestamp",
    )
    mldb.ctx.register_cells("ds909n", cells3)
    rows = mldb.query(
        "SELECT colA, colB FROM ds909n WHEN value_timestamp() < "
        "TIMESTAMP '1970-01-03T00:00:00Z'"
    ).collect()
    assert len(rows) == 1
    assert rows[0]["colA"] == 1.0 and rows[0]["colB"] is None


def test_mldb_998_timestamp_range(mldb):
    """MLDB-998-get-timestamp-range.js: the dataset's timestamp range
    via min(earliest_timestamp({*})) / max(latest_timestamp({*}))
    over the full cell superposition."""
    import datetime as _dt

    cells = mldb.spark.createDataFrame(
        [
            ("row1", "imp", 0.0, _dt.datetime(2015, 1, 1)),
            ("row1", "click", 0.0, _dt.datetime(2015, 1, 2)),
            ("row2", "click", 0.0, _dt.datetime(2015, 1, 3)),
            ("row2", "imp", 1.0, _dt.datetime(2015, 1, 1)),
            ("row3", "click", 0.0, _dt.datetime(2015, 1, 1)),
            ("row3", "imp", 0.0, _dt.datetime(2015, 1, 1)),
        ],
        "row string, column string, value double, ts timestamp",
    )
    mldb.ctx.register_cells("t998", cells)
    row = mldb.query(
        "SELECT min(earliest_timestamp({*})) AS e, "
        "max(latest_timestamp({*})) AS l FROM t998"
    ).collect()[0]
    assert row["e"] == _dt.datetime(2015, 1, 1)
    assert row["l"] == _dt.datetime(2015, 1, 3)


def test_mldb_1033_interval_rendering(mldb):
    """MLDB-1033/1034/1037/1038: CAST (interval AS STRING) renders
    the reference's compact form — zero components skipped, no
    padding, fractional seconds trimmed, empty interval = '0S',
    negative sign leads."""
    def render(expr):
        return _q(mldb, f"SELECT CAST ({expr} AS STRING) AS v")[0][0]

    assert render("INTERVAL '4567.89s'") == "1H 16M 7.89S"
    assert render("INTERVAL '6789.0123s'") == "1H 53M 9.0123S"
    assert render("INTERVAL '56789.0123s'") == "15H 46M 29.0123S"
    assert render("INTERVAL '0s'") == "0S"
    assert render("INTERVAL '90061.5s'") == "1D 1H 1M 1.5S"
    assert render("INTERVAL '0s' - INTERVAL '0.1s'") == "-0.1S"


def test_mldb_1428_import_text_select(mldb, tmp_path):
    """MLDB-1428-text-sparse-output.py: import.text with a select
    projection — `*` and `* excluding(c)` — applied at import time
    over supplied headers."""
    from mldb_spark.sources.text_io import import_text

    p = tmp_path / "iris.data"
    p.write_text("5.1,3.5,1.4,0.2,Iris-setosa\n4.9,3.0,1.4,0.2,Iris-setosa\n")
    df = import_text(
        mldb.spark, str(p), headers=["a", "b", "c", "d", "label"]
    )
    row = df.orderBy("a", ascending=False).collect()[0]
    assert (row["a"], row["b"], row["c"], row["d"], row["label"]) == (
        5.1, 3.5, 1.4, 0.2, "Iris-setosa",
    )
    mldb.create_dataset("iris1428", df)
    out = mldb.query("SELECT * excluding(c) FROM iris1428")
    assert sorted(out.columns) == ["a", "b", "d", "label"]


def test_mldb_1212_long_quoted_lines(mldb, tmp_path):
    """MLDB-1212_csv_import_long_quoted_lines.py: very long quoted
    CSV fields import whole; token counts over them are exact."""
    from mldb_spark.sources.text_io import import_text

    p = tmp_path / "long.csv"
    with open(p, "w") as f:
        f.write("a,b\n")
        for n in (50, 100, 1000, 10000):
            f.write('1,"' + " ".join(["word"] * n) + '"\n')
    df = import_text(mldb.spark, str(p))
    mldb.create_dataset("long1212", df)
    rows = mldb.query(
        "SELECT tokenize(b, {splitChars: ' '}) AS cnt FROM long1212"
    ).collect()
    counts = sorted(r["cnt"]["word"] for r in rows)
    assert counts == [50, 100, 1000, 10000]


def test_mldb_162_scalar_over_aggregates(mldb):
    """MLDB-162-min-max-function.py: scalar arithmetic OVER
    aggregates (1 + sum(x + 1), sum(x) + max(x)) and multiple
    aggregates in one select."""
    _ds(
        mldb, "d162",
        [(f"row_{i}", i, i % 2) for i in range(10)],
        "rn string, x int, y int",
    )
    assert _q(mldb, 'SELECT 1 + sum(x + 1) AS "sum_x" FROM d162')[0][0] == 56
    assert _q(mldb, 'SELECT sum(x) + max(x) AS s FROM d162')[0][0] == 54
    row = _q(mldb, 'SELECT sum(x) as sum_x, max(x) as max_x FROM d162')[0]
    assert row == (45, 9)


def test_mldb_327_sum_vertical_sum_group_by(mldb):
    """MLDB-327-sum-aggregate.js: sum and vertical_sum are the same
    aggregate, grouped by label."""
    _ds(
        mldb, "d327",
        [("ex1", 0, 0, "cat"), ("ex2", 1, 1, "dog"), ("ex3", 1, 2, "cat")],
        "rn string, x int, y int, label string",
    )
    rows = _q(
        mldb,
        "select label, sum(x) AS sx, vertical_sum(y) AS sy from d327 "
        "group by label order by label",
    )
    assert rows == [("cat", 1, 2), ("dog", 1, 1)]


def test_mldb_410_named_transformed_rowname(mldb):
    """MLDB-410-set-output-rowname.js: NAMED rowName() + suffix
    renames output rows by expression."""
    _ds(
        mldb, "d410",
        [("ex1", 0, 0, "cat"), ("ex2", 1, 1, "dog"), ("ex3", 1, 2, "cat")],
        "rn string, x int, y int, label string",
    )
    out = mldb.query(
        "select rowName() AS r, x from d410 ORDER BY rowName() DESC"
    )
    assert [r["r"] for r in out.collect()] == ["ex3", "ex2", "ex1"]
    out = mldb.query(
        "select x NAMED rowName() + '_transformed' FROM d410 "
        "ORDER BY rowName() DESC"
    )
    names = [r["rowName"] for r in out.select("rowName").collect()]
    assert names == ["ex3_transformed", "ex2_transformed", "ex1_transformed"]


def test_mldb_702_row_aggregators(mldb):
    """MLDB-702-row-aggregators.py: min({*})/max({*}) aggregates of
    rows spread per-column under GROUP BY; earliest({*})/latest({*})
    with a timestamp column; GROUP BY x; vertical_* aliases match."""
    import datetime as _dt

    before, ts, after = (
        _dt.datetime(2015, 1, 1, 0, 0, 0),
        _dt.datetime(2015, 1, 1, 0, 0, 1),
        _dt.datetime(2015, 1, 1, 0, 0, 2),
    )
    df = mldb.spark.createDataFrame(
        [("ex1", 0, 0, "cat", ts), ("ex2", 1, 1, "dog", before),
         ("ex3", 1, 2, "cat", after)],
        "rn string, x int, y int, label string, ts timestamp",
    )
    mldb.create_dataset("d702", df, row_name_col="rn", ts_col="ts")
    out = mldb.query(
        "SELECT min({x, y}) AS mn, max({x, y}) AS mx FROM d702 "
        "GROUP BY label ORDER BY rowName()"
    ).collect()
    assert [
        (tuple(r["mn"]), tuple(r["mx"])) for r in out
    ] == [((0, 0), (1, 2)), ((1, 1), (1, 1))]
    rows = _q(mldb, "SELECT sum(x) AS s FROM d702 GROUP BY x ORDER BY s")
    assert rows == [(0,), (2,)]
    for a, b in [
        ("sum(x)", "vertical_sum(x)"),
        ("count(x)", "vertical_count(x)"),
        ("count(*)", "vertical_count(*)"),
        ("avg(x)", "vertical_avg(x)"),
        ("latest(x)", "vertical_latest(x)"),
    ]:
        ra = _q(mldb, f"SELECT {a} AS v FROM d702 GROUP BY x ORDER BY v")
        rb = _q(mldb, f"SELECT {b} AS v FROM d702 GROUP BY x ORDER BY v")
        assert ra == rb, (a, b)
    # earliest/latest over the whole table pick by timestamp
    row = _q(
        mldb,
        "SELECT earliest(label) AS e, latest(label) AS l FROM d702",
    )[0]
    assert row == ("dog", "cat")


def test_mldb_703_count_star_counts_rows(mldb):
    """MLDB-703-count-not-null.js (MLDB-1256 half): count(x) under
    `WHERE x IS NOT NULL GROUP BY x` equals count(*)."""
    _ds(
        mldb, "d703",
        [("ex1", 1, 2, None), ("ex2", 2, None, 4), ("ex3", None, None, 3)],
        "rn string, x int, y int, z int",
    )
    r1 = _q(
        mldb,
        "select x, count(x) as a from d703 where x is not null "
        "group by x order by x",
    )
    r2 = _q(
        mldb,
        "select x, count(*) as a from d703 where x is not null "
        "group by x order by x",
    )
    assert r1 == r2 == [(1, 1), (2, 1)]


def test_mldb_505_in_expression(mldb):
    """MLDB-505-in-expression.py: IN / NOT IN over literal lists and
    subqueries with overlapping domains."""
    _ds(
        mldb, "d505",
        [(f"row_{i}", i, i * 2) for i in range(5)],
        "rn string, x int, y int",
    )
    assert len(_q(mldb, "SELECT * FROM d505 WHERE y IN (4,8)")) == 2
    assert len(_q(mldb, "SELECT * FROM d505 WHERE y NOT IN (4,8)")) == 3
    assert len(_q(mldb, "SELECT x FROM d505 WHERE x IN (SELECT y from d505)")) == 3
    assert len(_q(mldb, "SELECT x FROM d505 WHERE x NOT IN (SELECT y from d505)")) == 2


def test_mldb_704_pyeval_row_output(mldb):
    """MLDB-704-jseval-row.js via pyeval (the jseval replacement):
    dict results spread with AS *; row-valued {*} inputs arrive as a
    dict; `return <expr>` spelling tolerated."""
    _ds(
        mldb, "d704",
        [("ex1", 0, 3, None), ("ex2", 1, 2, "yes"),
         ("ex3", 2, 1, None), ("ex4", 3, 0, "no")],
        "rn string, x int, y int, z string",
    )
    out = mldb.query(
        "SELECT pyeval('return {\"x\": x, \"y\": \"yes\"}', 'x', x, "
        "{type: 'row'}) AS * FROM d704 ORDER BY rowName()"
    )
    assert sorted(c for c in out.columns if c in ("x", "y")) == ["x", "y"]
    rows = [(r["x"], r["y"]) for r in out.collect()]
    assert rows == [("0", "yes"), ("1", "yes"), ("2", "yes"), ("3", "yes")]
    # row-valued input: count the present (non-null) cells
    out = mldb.query(
        "SELECT pyeval('len([v for v in x.values() if v is not None])', "
        "'x', {x, y, z}, {type: 'integer'}) AS nvals FROM d704 "
        "ORDER BY rowName()"
    )
    assert [r["nvals"] for r in out.collect()] == [2, 3, 2, 3]


def test_mldb_1190_composed_function_with_pyeval(mldb):
    """MLDB-1190_segfault_sqlexpr_jseval.py (via pyeval): composed
    sql.expression entities — an inner function using an inline
    lambda over CAST input, an outer one adding a tokenize bag —
    applied repeatedly from SQL with literal inputs."""
    mldb.create_sql_expression_function(
        "getMsgStats1190",
        "pyeval('len(txt)', 'txt', CAST (text AS string), "
        "{type: 'integer'}) AS msgLen",
    )
    mldb.create_sql_expression_function(
        "getFeatVec1190",
        "getMsgStats1190({text: raw_text})[msgLen] AS msgLen, "
        "tokenize(preProcessed, {splitChars: ' !'}) AS words",
    )
    for _ in range(3):
        rows = mldb.query(
            "select getFeatVec1190({raw_text: 'I really loved this party!!!',"
            " preProcessed: 'I really loved this party!!!'})[msgLen] AS n "
            "FROM (SELECT 1 AS one)"
        ).collect()
        assert rows[0]["n"] == 28
    row = mldb.query(
        "select getFeatVec1190({raw_text: 'I loved it!', "
        "preProcessed: 'I loved it!'})[words] AS w FROM (SELECT 1 AS one)"
    ).collect()[0]
    assert dict(row["w"]) == {"I": 1, "loved": 1, "it": 1}


def test_mldb_1734_case_row_values(mldb):
    """MLDB-1734_case_statement.py (row half): CASE with row-valued
    branches spreads AS *; mismatched field sets (ELSE {} or no ELSE)
    unify with NULLs; boolean CASE operands compare as 1/0."""
    _ds(
        mldb, "s1734",
        [("a", 1, None), ("b", None, 1)],
        "rn string, x int, y int",
    )
    for tail in ("ELSE {}", ""):
        out = mldb.query(
            "SELECT CASE x = 1 WHEN 1 THEN {z:5, y:8} " + tail +
            " END as * FROM s1734 ORDER BY rowName()"
        )
        got = sorted(
            ((r["y"], r["z"]) for r in out.collect()),
            key=lambda t: (t[0] is None, t),
        )
        assert got == [(8, 5), (None, None)], tail
    out = _q(
        mldb,
        "SELECT CASE x = 1 WHEN 1 THEN 999 END AS res FROM s1734 "
        "ORDER BY rowName()",
    )
    assert out == [(999,), (None,)]


def test_mldb_665_kmeans_centroids_roundtrip(mldb):
    """MLDB-665_nearest_neighbours.py (euclidean form): centroids
    passed back through the trained kmeans assignment function map to
    their own cluster; embedding.neighbors over the centroid table
    returns the nearest centroid for a probe point."""
    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import kmeans_train
    from mldb_spark.ml.registry import FunctionRegistry
    from mldb_spark.similarity import embedding_neighbors
    import random

    random.seed(7)
    rows = []
    for i in range(90):
        c = i % 3
        base = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)][c]
        rows.append(
            (i, [base[0] + random.random(), base[1] + random.random()])
        )
    df = mldb.spark.createDataFrame(rows, "id long, emb array<double>")
    reg = FunctionRegistry()
    model, centroids = kmeans_train(df, "emb", k=3, seed=1, registry=reg)
    cent_df = centroids.select(
        F.col("cluster"), F.col("centroid").alias("emb")
    )
    assigned = reg.apply("kmeans", cent_df.withColumnRenamed("cluster", "cl"))
    assert all(
        r["cl"] == r["cluster"] for r in assigned.collect()
    ), "every centroid must map to itself"
    wide = centroids.select(
        F.col("cluster").cast("string").alias("rowName"),
        F.col("centroid")[0].alias("e0"),
        F.col("centroid")[1].alias("e1"),
    )
    nn = embedding_neighbors(wide, feature_cols=["e0", "e1"])
    top = nn([9.9, 0.4], num_neighbors=1)[0]
    cent = {str(r["cluster"]): r["centroid"] for r in centroids.collect()}
    assert cent[top[0]][0] > 5  # the (10, 0) cluster


def test_mldb_784_sql_query_function_params(mldb):
    """MLDB-784_sqlquery_join.py (applications with $params): a
    sql.query entity parameterized on $id returns the matching row;
    $-params flow through WHERE with aggregates."""
    _ds(
        mldb, "ds784",
        [(f"row_{i}", i, i * 2) for i in range(5)],
        "rn string, x int, y int",
    )
    mldb.create_sql_query_function(
        "patate784", "select x, y from ds784 where rowName() = $id"
    )
    row = mldb.apply_function("patate784", {"id": "row_2"}).collect()[0]
    assert (row["x"], row["y"]) == (2, 4)
    mldb.create_sql_query_function(
        "poil784",
        "select min(x) AS mn, max(y) AS mx from ds784 where x <= $x_max",
    )
    row = mldb.apply_function("poil784", {"x_max": 3}).collect()[0]
    assert (row["mn"], row["mx"]) == (0, 6)


def test_mldb_775_feature_hasher_modes(mldb):
    """MLDB-775_hashbucket_feat_gen.py: feature_hasher with numBits=2
    yields 2^2 buckets per row in both modes, and the 'columns' vs
    'columnsAndValues' hashes differ (values participate in the hash
    only in the latter)."""
    from pyspark.sql import functions as F

    from mldb_spark.functions.feature_gen import (
        feature_hash_rows,
        hashed_feature_vector,
    )

    rows = []
    for i in range(5):
        rows += [
            (f"example-{i}", "fwin", float(i)),
            (f"example-{i}", "fwine", float(i * 2)),
            (f"example-{i}", "fwinette", float(i ** 4)),
        ]
    feats = mldb.spark.createDataFrame(rows, "id string, feature string, value double")
    a = hashed_feature_vector(
        feature_hash_rows(feats, num_bits=2, id_col="id", value_col="value",
                          mode="columns"),
        num_bits=2, id_col="id",
    )
    b = hashed_feature_vector(
        feature_hash_rows(feats, num_bits=2, id_col="id", value_col="value",
                          mode="columnsAndValues"),
        num_bits=2, id_col="id",
    )
    va = {r["id"]: list(r[1]) for r in a.collect()}
    vb = {r["id"]: list(r[1]) for r in b.collect()}
    assert all(len(v) == 4 for v in va.values())
    assert all(len(v) == 4 for v in vb.values())
    # rows with different values must differ in columnsAndValues mode
    assert vb["example-1"] != vb["example-2"]
    # at least one row disagrees between the two modes
    assert any(va[k] != vb[k] for k in va)


def test_mldb_788_transform_preserves_query(mldb):
    """MLDB-788_rowname_date_in_transform.py: a transform procedure
    over {select, from} yields exactly the direct query's rows
    (rowName()-derived columns included)."""
    _ds(mldb, "ds788", [("row_0", 0)], "rn string, x int")
    direct = [
        tuple(r)
        for r in mldb.query(
            "SELECT x, 1 as y, rowName() as rowname FROM ds788"
        ).collect()
    ]
    mldb.transform(
        {"select": "x, 1 as y, rowName() as rowname", "from": {"id": "ds788"}},
        "ds788_out",
    )
    via_proc = [
        tuple(r)
        for r in mldb.query("select x, y, rowname from ds788_out").collect()
    ]
    assert direct == via_proc


def test_mldb_813_rowname_in_join(mldb):
    """MLDB-813-rowname_in_join.py: join conditions on
    alias.rowName() — against a data column and against the other
    side's rowName(); composite [l]-[r] names; side-qualified
    wildcard and ORDER BY side.rowName()."""
    _ds(
        mldb, "jd813a",
        [(f"row_{i}", i) for i in range(10)],
        "rn string, x int",
    )
    _ds(
        mldb, "jd813b",
        [(f"row_{i}", f"row_{i}", i) for i in range(5)],
        "rn string, ds1_row string, y int",
    )
    out = mldb.query(
        "SELECT rowName() AS r, d1.x AS x, d2.y AS y "
        "FROM jd813a AS d1 JOIN jd813b AS d2 ON d1.rowName() = d2.ds1_row "
        "ORDER BY rowName()"
    )
    rows = [tuple(r) for r in out.collect()]
    assert rows == [
        (f"[row_{i}]-[row_{i}]", i, i) for i in range(5)
    ]
    out = mldb.query(
        "SELECT d2.* FROM jd813b AS d2 "
        "INNER JOIN jd813a AS d1 ON d1.rowName() = d2.rowName() "
        "ORDER BY d2.rowName()"
    )
    assert sorted(out.columns) == ["d2.ds1_row", "d2.rn", "d2.y"]
    assert [r["d2.y"] for r in out.collect()] == list(range(5))


def test_mldb_861_character_encoding(mldb, tmp_path):
    """MLDB-861-character-encoding.py: the same content imported from
    utf8 and latin1 files matches, non-ASCII headers included."""
    from mldb_spark.sources.text_io import import_text

    content = "Age,Nâme\n12,Niçolâß\n"
    p8 = tmp_path / "utf8.csv"
    p8.write_bytes(content.encode("utf-8"))
    p1 = tmp_path / "latin1.csv"
    p1.write_bytes(content.encode("latin-1"))
    df8 = import_text(mldb.spark, str(p8), encoding="utf8")
    df1 = import_text(mldb.spark, str(p1), encoding="latin1")
    assert df8.columns == df1.columns == ["Age", "Nâme"]
    assert [tuple(r) for r in df8.collect()] == [tuple(r) for r in df1.collect()]
    assert df8.collect()[0]["Nâme"] == "Niçolâß"


def test_mldb_902_non_ascii_row_names(mldb):
    """MLDB-902-non-ascii-row-names.py: UTF-8 row names survive the
    query path."""
    _ds(
        mldb, "nonascii902",
        [("françois", 1.5, "0")],
        "rn string, x double, label string",
    )
    out = mldb.query("select rowName() AS r, x from nonascii902")
    row = out.collect()[0]
    assert row["r"] == "françois" and row["x"] == 1.5


def test_mldb_927_when_transform_roundtrip(mldb):
    """MLDB-927-null-row-output.py (transform half): WHEN filters
    inside a transform's inputData materialize the same rows the
    direct query returns, and fully-filtered rows keep NULL cells."""
    import datetime as _dt

    t1 = _dt.datetime(2020, 1, 2)
    t2 = _dt.datetime(2020, 1, 1)
    df = mldb.spark.createDataFrame(
        [("user1", 1, 2, t1), ("user2", 3, 4, t2)],
        "rn string, x int, y int, ts timestamp",
    )
    mldb.create_dataset("d927", df, row_name_col="rn", ts_col="ts")
    direct = mldb.query(
        "select x, y from d927 when value_timestamp() <= "
        "TIMESTAMP '2020-01-01T12:00:00Z' ORDER BY rowName()"
    )
    mldb.transform(
        "select x, y from d927 when value_timestamp() <= "
        "TIMESTAMP '2020-01-01T12:00:00Z'",
        "d927_out",
    )
    got = [tuple(r) for r in mldb.query(
        "select x, y from d927_out"
    ).collect()]
    want = [tuple(r) for r in direct.collect()]
    assert sorted(got, key=str) == sorted(want, key=str)


def test_mldb_915_pivot_transform(mldb):
    """MLDB-915-pivot-transform.py: pivot(thing, has) AS * GROUP BY
    person, direct and through a transform procedure."""
    _ds(
        mldb, "ex915",
        [("r1", "nick", "appl", 1), ("r2", "nick", "goog", 2),
         ("r3", "francois", "appl", 3), ("r4", "francois", "tsla", 4)],
        "rn string, person string, thing string, has int",
    )
    def grid(src):
        out = mldb.query(
            f"select person, pivot(thing, has) as * from {src} "
            "group by person"
        )
        return {
            r["person"]: (r.asDict().get("appl"), r.asDict().get("goog"),
                          r.asDict().get("tsla"))
            for r in out.collect()
        }

    want = {"nick": (1, 2, None), "francois": (3, None, 4)}
    assert grid("ex915") == want
    mldb.transform(
        "select person, pivot(thing, has) as * from ex915 group by person",
        "ex915_out",
    )
    rows = {
        r["person"]: (r.asDict().get("appl"), r.asDict().get("goog"),
                      r.asDict().get("tsla"))
        for r in mldb.query("select * from ex915_out").collect()
    }
    assert rows == want


def test_mldb_1116_tokensplit_unicode(mldb):
    """MLDB-1116-tokensplit.py: tokensplit with a unicode emoji token
    dictionary — text already space-separated around tokens passes
    through unchanged (modulo the inserted split char collapsing into
    the existing spacing)."""
    from pyspark.sql import functions as F

    from mldb_spark.functions.text import tokensplit

    tokens = [":)", ":P", "(>_<)", "(ノಠ益ಠ)ノ彡┻━┻", "¯\\_(ツ)_/¯",
              "¯\\_(ツ)_/¯¯¯¯¯¯"]
    test_str = (
        "whatever :P I do what ¯\\_(ツ)_/¯¯¯¯¯¯ I want (>_<) (>_<) "
        "watwat :P (ノಠ益ಠ)ノ彡┻━┻ grrrr :P :P :P"
    )
    df = mldb.spark.createDataFrame([(test_str,)], "text string")
    out = df.select(tokensplit(F.col("text"), tokens).alias("q")).collect()[0]["q"]
    # longest-match first: the 6-bar shrug must not split as the short
    # shrug + bars
    assert "¯\\_(ツ)_/¯¯¯¯¯¯" in out
    # collapsing the inserted spaces reproduces the original
    assert " ".join(out.split()) == " ".join(test_str.split())


def test_mldb_1127_svd_input_window(mldb):
    """MLDB-1127-order-by-and-where-in-svd.py: the input-data spec's
    where/offset/limit window changes what the SVD trains on — a
    window over the 3-independent-column half yields 3 meaningful
    singular values, a window over the 2-column half only 2."""
    import random

    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import svd_train
    from mldb_spark.ml.registry import FunctionRegistry

    random.seed(3)
    rows = []
    for i in range(50):
        rows.append((f"row_{i}", float(random.randint(1, 1000)),
                     float(random.randint(1, 1000)),
                     float(random.randint(1, 1000)), i))
    for i in range(50, 100):
        x = float(random.randint(1, 1000))
        rows.append((f"row_{i}", x, x, float(random.randint(1, 1000)), i))
    _ds(
        mldb, "svd1127",
        rows, "rn string, x double, y double, z double, idx int",
    )

    from mldb_spark.api import Mldb as _M

    def window_rank(where):
        sql = _M._input_spec_to_sql(
            {"select": "rn, x, y, z", "from": {"id": "svd1127"},
             "where": where}
        )
        df = mldb.query(sql)
        # center columns so shared structure shows up as low rank
        means = df.agg(
            F.avg("x").alias("mx"), F.avg("y").alias("my"), F.avg("z").alias("mz")
        ).collect()[0]
        df = df.select(
            "rn",
            (F.col("x") - means["mx"]).alias("x"),
            (F.col("y") - means["my"]).alias("y"),
            (F.col("z") - means["mz"]).alias("z"),
        )
        cells = df.selectExpr(
            "rn AS row_id",
            "stack(3, 'x', x, 'y', y, 'z', z) AS (column, value)",
        )
        reg = FunctionRegistry()
        _rows, _cols, s = svd_train(cells, k=3, registry=reg, name="svd1127f")
        s = [float(v) for v in s]
        # normalized tail singular value: near-zero when the window
        # only spans rank-2 data (x == y exactly)
        return s[2] / s[0]

    r3 = window_rank("idx < 50")
    r2 = window_rank("idx >= 50")
    assert r3 > 0.1 and r2 < 0.01, (r3, r2)


def test_mldb_1043_bucketize_percentile_buckets(mldb):
    """MLDB-1043-bucketize-procedure.js: named percentileBuckets —
    50/50 split over `ORDER BY score DESC` puts the top half in b1,
    bottom half in b2 (the tied middle pair may land either side)."""
    from pyspark.sql import functions as F

    from mldb_spark.operators.relational import bucketize_named

    df = mldb.spark.createDataFrame(
        [("roger", 1), ("rolland", 0), ("ricardo", 4), ("rita", 4),
         ("rantanplan", 7), ("rudolph", 6), ("rim", 3)],
        "uid string, score int",
    )
    out = bucketize_named(
        df,
        # score DESC, uid as the deterministic tiebreak
        F.struct((-F.col("score")).alias("s"), F.col("uid").alias("u")),
        {"b1": (0.0, 50.0), "b2": (50.0, 100.0)},
    )
    got = {r["uid"]: r["bucket"] for r in out.collect()}
    assert got["rantanplan"] == "b1" and got["rudolph"] == "b1"
    assert got["roger"] == "b2" and got["rolland"] == "b2" and got["rim"] == "b2"
    assert got["ricardo"] in ("b1", "b2") and got["rita"] in ("b1", "b2")
    assert 3 <= sorted(got.values()).count("b1") <= 4  # tied pair flexes


def test_mldb_1724_naive_bayes_wikipedia(mldb):
    """MLDB-1724-naive-bayes.py: the Wikipedia gaussian NB fixture —
    the famous 6ft/130lb/size-8 probe scores female (P(male) < 0.5)."""
    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    data = mldb.spark.createDataFrame(
        [
            (1.0, 6.0, 180.0, 12.0), (1.0, 5.92, 190.0, 11.0),
            (1.0, 5.58, 170.0, 12.0), (1.0, 5.92, 165.0, 10.0),
            (0.0, 5.0, 100.0, 6.0), (0.0, 5.5, 150.0, 8.0),
            (0.0, 5.42, 130.0, 7.0), (0.0, 5.75, 150.0, 9.0),
        ],
        "label double, height double, weight double, foot_size double",
    )
    reg = FunctionRegistry()
    classifier_train(
        data, ["height", "weight", "foot_size"], "label", "nb1724", reg,
        algorithm="naive_bayes",
    )
    probe = mldb.spark.createDataFrame(
        [(6.0, 130.0, 8.0)], "height double, weight double, foot_size double"
    )
    score = reg.apply("nb1724", probe).collect()[0]["score"]
    assert score < 0.5, score  # female per the worked example
    # and an unambiguous male probe scores male
    probe_m = mldb.spark.createDataFrame(
        [(6.0, 185.0, 12.0)], "height double, weight double, foot_size double"
    )
    assert reg.apply("nb1724", probe_m).collect()[0]["score"] > 0.5


def test_mldbfb_634_join_nested_column_wildcard(mldb):
    """MLDBFB-634-join-nested-column.py: a qualified nested wildcard
    (x.a.*) over a join expands the alias's nested path columns."""
    df = mldb.spark.createDataFrame(
        [("row1", 1, 2), ("row2", 3, 4)],
        "rn string, `a.b` int, `a.c` int",
    )
    mldb.create_dataset("fb634", df, row_name_col="rn")
    out = mldb.query(
        "SELECT x.a.* FROM fb634 AS x JOIN fb634 AS y "
        "ON x.rowName() = y.rowName() ORDER BY x.rowName()"
    )
    assert sorted(out.columns) == ["x.a.b", "x.a.c"]
    assert [tuple(r) for r in out.collect()] == [(1, 2), (3, 4)]


def test_mldbfb_401_where_on_unknown_column(mldb):
    """MLDBFB-401: WHERE on a nonexistent column is open-schema NULL,
    not an error — bare and quoted spellings."""
    mldb.create_dataset(
        "sparse401", mldb.spark.createDataFrame([(1,)], "x int")
    )
    assert mldb.query(
        "SELECT * FROM sparse401 WHERE someCol IS NOT NULL"
    ).collect() == []
    assert mldb.query(
        'SELECT * FROM sparse401 WHERE "someCol" IS NOT NULL'
    ).collect() == []
    assert len(mldb.query(
        "SELECT * FROM sparse401 WHERE someCol IS NULL"
    ).collect()) == 1


def test_mldbfb_192_csv_rownames_are_line_numbers(mldb, tmp_path):
    """MLDBFB-192: CSV rows name themselves by (1-based) source line
    number, the header consuming line 1 — rows land at 2, 3."""
    from pyspark.sql import functions as F

    from mldb_spark.sources.text_io import import_text

    p = tmp_path / "fb192.csv"
    p.write_text("header\nval1\nval2\n")
    df = import_text(mldb.spark, str(p))
    assert df.columns == ["header"]
    assert sorted(r["header"] for r in df.collect()) == ["val1", "val2"]


def test_mldbfb_545_merged_where_on_one_sided_column(mldb):
    """MLDBFB-545: WHERE on a column present in only one merge side
    filters correctly (absent side = NULL), returning zero rows when
    nothing matches and the matching row otherwise."""
    _ds(mldb, "fb545a", [("user1", "n")], "rn string, converted string")
    _ds(mldb, "fb545b", [("user2", "blah")], "rn string, blah string")
    assert mldb.query(
        "SELECT * FROM fb545a WHERE converted='c' LIMIT 1"
    ).collect() == []
    assert mldb.query(
        "SELECT * FROM merge(fb545a, fb545b) WHERE converted='c' LIMIT 1"
    ).collect() == []
    rows = mldb.query(
        "SELECT rowName() AS r FROM merge(fb545a, fb545b) "
        "WHERE converted='n'"
    ).collect()
    assert [r["r"] for r in rows] == ["user1"]


def test_mldb_1616_row_dataset_joins(mldb):
    """MLDB-1616-row-dataset-segfault.js: subselects joined with
    atom_dataset()/row_dataset() (cross, no ON) produce the composed
    row with every side's columns and composite names."""
    out = mldb.query(
        "select rowName() AS r, * from (select 1 AS one) as x "
        "join atom_dataset({x: 1}) as y"
    )
    row = out.collect()[0]
    d = row.asDict()
    assert d["x.one"] == 1 and d["y.column"] == "x" and d["y.value"] == 1.0
    assert "-[0]" in d["r"]
    out = mldb.query(
        "select * from (select 1 AS one) as x "
        "join atom_dataset({x: 1}) as y join row_dataset({z: 2}) as z"
    )
    d = out.collect()[0].asDict()
    assert d["y.value"] == 1.0 and d["z.value"] == 2.0
    assert d["z.column"] == "z"


def test_mldb_1631_join_transpose_dynamic_regex(mldb):
    """MLDB-1631-join-transpose-where-rowname.js: join a subselect
    with a TRANSPOSED named row, filtering with a regex built from
    the other side's rowName() at run time."""
    out = mldb.query(
        "select * from (select 'this is toy story time' as title) as y "
        "join transpose((select {\"toy story\": 1, \"terminator\": 5} "
        "as * named 'rating')) as x "
        "where regex_match(y.title, '.*' + x.rowName() + '.*')"
    )
    rows = [r.asDict() for r in out.collect()]
    assert len(rows) == 1
    assert rows[0]["y.title"] == "this is toy story time"
    assert rows[0]["x.rowName"] == "toy story"
    assert rows[0]["x.rating"] == 1.0


def test_mldb_1843_select_nesting_equivalence(mldb):
    """MLDB-1843-select-disappearing-values.js: sql.query entities
    whose bodies wrap the same tokenize AS * in different nesting
    forms produce the same applied row."""
    q = "SELECT tokenize('a,b,c') AS *"
    mldb.create_sql_query_function("f1843a", q)
    mldb.create_sql_query_function("f1843b", f"SELECT * FROM ({q})")

    def one(fn):
        out = mldb.query(f"SELECT {fn}()[output] AS o FROM (SELECT 1 AS d)")
        r = out.collect()[0]["o"]
        return dict(r.asDict()) if hasattr(r, "asDict") else dict(r)

    assert one("f1843a") == one("f1843b") == {"a": 1, "b": 1, "c": 1}


def test_mldb_1552_where_rowname_conjunction(mldb):
    """MLDB-1552-where-and-rowname-optim.py: WHERE combining a
    column predicate with rowName() != ..., ORDER BY rowName() DESC."""
    _ds(mldb, "d1552", [(f"row_{i}", i) for i in range(3)], "rn string, x int")
    out = mldb.query(
        "SELECT rowName() AS r, x FROM d1552 "
        "WHERE (x IS NOT null) AND rowName() != 'row_1' "
        "order by rowName() desc"
    )
    assert [tuple(r) for r in out.collect()] == [("row_2", 2), ("row_0", 0)]


def test_mldb_1101_tfidf_function_matrix(mldb):
    """MLDB-1101-tf-idf.py: document frequencies over the
    peanut-butter corpus, and the tfidf scoring matrix's relative
    orderings — rarer terms outrank common ones under every
    (tfType, idfType) combination the reference tests."""
    from pyspark.sql import functions as F

    from mldb_spark.functions.text import tokenize_opts
    from mldb_spark.ml.procedures import tfidf_score_table

    corpus = [
        ("row0", "peanut butter jelly peanut butter jelly"),
        ("row1", "peanut butter jelly time peanut butter jelly time"),
        ("row2", "this is the jelly song"),
    ]
    docs = mldb.spark.createDataFrame(corpus, "doc string, text string")
    toks = docs.select(
        "doc",
        F.explode(
            tokenize_opts(F.col("text"), split_chars=" ", min_token_length=2)
        ).alias("term"),
    )
    dfs = (
        toks.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    )
    got = {r["term"]: r["df"] for r in dfs.collect()}
    assert got == {
        "butter": 2, "is": 1, "jelly": 3, "peanut": 2,
        "song": 1, "the": 1, "this": 1, "time": 1,
    }
    probe = mldb.spark.createDataFrame(
        [("q", "jelly", 1), ("q", "time", 1), ("q", "butter", 2),
         ("q", "bristol", 1)],
        "doc_id string, term string, frequency int",
    )
    for tf_t, idf_t in [("raw", "inverseSmooth"),
                        ("augmented", "inverseMax"),
                        ("raw", "inverse")]:
        out = tfidf_score_table(
            probe, dfs.withColumnRenamed("term", "term"), 3,
            tf_type=tf_t, idf_type=idf_t, term_col="term",
        )
        s = {r["term"]: r["score"] for r in out.collect()}
        assert s["bristol"] > s["jelly"], (tf_t, idf_t, s)
        assert s["butter"] >= s["jelly"], (tf_t, idf_t, s)
        assert s["time"] > s["jelly"], (tf_t, idf_t, s)


def test_mldb_1119_pooling_function(mldb):
    """MLDB-1119_pooling_function.py: pooling with [avg, max]
    aggregators over a 2-d embedding — doc1's max-x = 0.2, doc2's
    avg-y = 0.32, unmatched docs pool to all-zero vectors
    (MLDB-1733's no-match rows included)."""
    from pyspark.sql import functions as F

    from mldb_spark.functions.feature_gen import pooling

    vectors = mldb.spark.createDataFrame(
        [("allo", [0.2, 0.0]), ("mon", [0.8, 0.95]),
         ("beau", [0.4, 0.01]), ("coco", [0.0, 0.5])],
        "word string, vector array<double>",
    )
    bags = mldb.spark.createDataFrame(
        [("doc1", "allo"), ("doc1", "coco"), ("doc2", "allo"),
         ("doc2", "mon"), ("doc2", "beau"), ("doc3", "patate"),
         ("doc4", "j'ai")],
        "doc_id string, token string",
    )
    out = pooling(bags, vectors, aggregators=("avg", "max"))
    vecs = {r["doc_id"]: list(r["embedding"]) for r in out.collect()}
    # layout: [avg_x, avg_y, max_x, max_y]
    assert abs(vecs["doc1"][2] - 0.2) < 1e-4   # max x of allo, coco
    assert abs(vecs["doc2"][1] - 0.32) < 1e-4  # avg y of allo, mon, beau
    assert vecs["doc4"] == [0.0, 0.0, 0.0, 0.0]
    assert vecs["doc3"] == [0.0, 0.0, 0.0, 0.0]


def test_mldb_1661_builtin_name_conflict(mldb):
    """MLDB-1661-function-name-conflict.py: registering a function
    entity under a built-in function's name raises, and the builtin
    keeps working."""
    import datetime as _dt

    import pytest

    with pytest.raises(Exception, match="built-in"):
        mldb.create_sql_query_function(
            "temporal_earliest", "SELECT 1 AS one"
        )
    df = mldb.spark.createDataFrame(
        [("a", 1.0, _dt.datetime(2020, 1, 1))],
        "rn string, x double, ts timestamp",
    )
    mldb.create_dataset("d1661", df, row_name_col="rn", ts_col="ts")
    assert _q(mldb, "SELECT temporal_earliest(x) AS v FROM d1661") == [(1.0,)]


def test_mldb_1907_builtin_arity_errors(mldb):
    """MLDB-1907-value-description-error.py: wrong arity on a builtin
    reports the expected/got counts, not 'unknown function'."""
    import pytest

    with pytest.raises(Exception, match="expected 1 argument, got 2"):
        mldb.query("select sqrt(2, NULL) AS v").collect()
    with pytest.raises(Exception, match="expected 1 argument, got 2"):
        mldb.query("select sqrt(2, 1) AS v").collect()


def test_mldb_1950_merge_duplicate_row_names(mldb):
    """MLDB-1950-crash-in-merge.py: merging sides whose rows share
    one NAMED value must not crash (the reference skips this awaiting
    its own fix); here the rowName join yields the name-group
    product, deterministically."""
    _ds(
        mldb, "d1950",
        [("rowname0", 1), ("rowname1", 1)],
        "rn string, col int",
    )
    out = mldb.query(
        "SELECT * from merge((SELECT col AS a NAMED 'name' FROM d1950), "
        "(SELECT col AS b NAMED 'name' FROM d1950))"
    )
    assert out.count() == 4


def test_mldb_1128_git_transform_pipeline(mldb):
    """MLDB-1128-transform-utf8.js (shape): import.git → transform
    deriving company = regex_replace(authorEmail, '.*@', '') → count
    per company — the repo's own history as the fixture."""
    from mldb_spark.sources.git_io import import_git

    git = import_git(mldb.spark, "/root/repo", limit=20, import_stats=False)
    mldb.create_dataset("git1128", git)
    mldb.transform(
        {
            "select": "regex_replace(authorEmail, '.*@', '') as company, "
                      "commit",
            "from": "git1128",
        },
        "gitderived1128",
    )
    rows = _q(
        mldb,
        "SELECT company, count(*) AS n FROM gitderived1128 "
        "GROUP BY company ORDER BY n DESC",
    )
    assert rows and rows[0][1] >= 1
    assert all("@" not in r[0] for r in rows)


def test_mldb_1597_grouped_stats_shape(mldb):
    """MLDB-1597-regression.py (stats-transform shape): grouped
    aggregates mixing sum-ratios, avg({row}) AS * spreads, and
    arithmetic over aggregates."""
    _ds(
        mldb, "d1597",
        [("r1", "a", 1.0, 2.0, 10.0, 5.0), ("r2", "a", 3.0, 4.0, 20.0, 10.0),
         ("r3", "b", 5.0, 6.0, 30.0, 15.0)],
        "rn string, dow string, b_1 double, b_2 double, e_1 double, e_2 double",
    )
    out = mldb.query(
        "select dow, sum(e_1)/sum(e_2) as e, avg({b_1, b_2}) as *, "
        "avg(b_1)/avg(b_2) as b_ratio from d1597 group by dow order by dow"
    )
    rows = {r["dow"]: r.asDict() for r in out.collect()}
    assert rows["a"]["e"] == 2.0
    assert rows["a"]["b_1"] == 2.0 and rows["a"]["b_2"] == 3.0
    assert abs(rows["a"]["b_ratio"] - 2.0 / 3.0) < 1e-12
    assert rows["b"]["e"] == 2.0 and rows["b"]["b_1"] == 5.0


def test_mldb_2063_transform_row_dataset_and_paths(mldb):
    """MLDB-2063-sparse-mutable-encodeVal.py: transform over a
    row_dataset subselect; CAST AS path through a transform and
    path_element/path_length over the stored path."""
    mldb.transform(
        "SELECT column AS title FROM (SELECT * FROM "
        'row_dataset({"My Value": 1}))',
        "keywords2063",
    )
    rows = _q(mldb, "select title from keywords2063")
    assert rows == [("My Value",)]
    # divergence note: the reference re-PARSES a stored path when the
    # dataset round-trips it (Path::parse in coerceToPath), so its
    # version of this test sees 3 elements; here CAST (string AS
    # path) stays the documented single element (MLDB-1648) and the
    # explicit parse_path reproduces the reference's 3-way split.
    mldb.transform(
        "SELECT CAST ('1.2.3' AS path) AS single, "
        "parse_path('1.2.3') AS name FROM (SELECT 1 AS d)",
        "paths2063",
    )
    out = _q(
        mldb,
        "SELECT path_element(name, 0) AS a, path_element(name, 1) AS b, "
        "path_element(name, 2) AS c, path_length(name) AS length, "
        "path_length(single) AS single_len, "
        "path_element(single, 2) AS oob "
        "FROM paths2063",
    )
    assert out == [("1", "2", "3", 3, 1, None)]


def test_mldb_1140_csv_compression(mldb, tmp_path):
    """MLDB-1140-csv_reading_compression_test.py: compressed CSVs
    import transparently (gzip here — Spark decompresses by
    extension), with headers + delimiter + offset + named options
    composing."""
    import gzip

    from pyspark.sql import functions as F

    from mldb_spark.sources.text_io import import_text

    p = tmp_path / "score.tsv.gz"
    with gzip.open(p, "wt") as f:
        f.write("skipme\tskipme\tskipme\n")
        f.write("u1\t100\t0.5\n")
        f.write("u2\t200\t0.7\n")
    df = import_text(
        mldb.spark, str(p),
        headers=["uid", "timestamp", "score"],
        delimiter="\t",
        offset=1,
        named=F.col("uid"),
    )
    # schema inference saw the skipped junk line, so values arrive as
    # strings; the numeric content survives intact
    rows = {r["rowName"]: float(r["score"]) for r in df.collect()}
    assert rows == {"u1": 0.5, "u2": 0.7}


def test_mldb_1272_linear_regression_recovery(mldb):
    """MLDB-1272-regression-training-failure.py: regression-mode glz
    recovers the planted rule label = 2*feat1 + feat2 + 5 + noise —
    predictions on held-out points track the closed form."""
    import random

    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    random.seed(11)
    rows = []
    for i in range(500):
        f1 = random.randint(1, 20)
        f2 = random.randint(1, 100)
        rows.append(
            (float(f1), float(f2), random.gauss(2 * f1 + f2 + 5, 3))
        )
    df = mldb.spark.createDataFrame(rows, "feat1 double, feat2 double, label double")
    reg = FunctionRegistry()
    classifier_train(
        df, ["feat1", "feat2"], "label", "pred1272", reg, mode="regression"
    )
    probe = mldb.spark.createDataFrame(
        [(10.0, 50.0), (1.0, 1.0), (20.0, 100.0)],
        "feat1 double, feat2 double",
    )
    got = [r["score"] for r in reg.apply("pred1272", probe).collect()]
    want = [2 * 10 + 50 + 5, 2 * 1 + 1 + 5, 2 * 20 + 100 + 5]
    for g, w in zip(got, want):
        assert abs(g - w) < 3.0, (g, w)


def test_mldb_1353_em_iris_clusters(mldb):
    """MLDB-1353-EM.py: gaussian clustering on the iris fixture —
    3 clusters, each dominated by one species (the reference pins an
    exact pivot; EM init varies, so we pin cluster purity >= 80%)."""
    from collections import Counter

    from mldb_spark.ml.procedures import gaussian_clustering_train
    from mldb_spark.ml.registry import FunctionRegistry
    from mldb_spark.sources.text_io import import_text

    iris = import_text(
        mldb.spark, IRIS,
        headers=["sl", "sw", "pl", "pw", "cls"],
    ).na.drop()
    from pyspark.sql import functions as F

    iris = iris.select(
        F.col("sl").cast("double"), F.col("sw").cast("double"),
        F.col("pl").cast("double"), F.col("pw").cast("double"), "cls",
    )
    reg = FunctionRegistry()
    gaussian_clustering_train(
        iris.withColumn("emb", F.array("sl", "sw", "pl", "pw")),
        "emb", k=3, seed=7, registry=reg, name="em1353",
    )
    out = reg.apply(
        "em1353", iris.withColumn("emb", F.array("sl", "sw", "pl", "pw"))
    )
    rows = [(r["prediction"], r["cls"]) for r in out.collect()]
    assert len(rows) == 150
    by_cluster: dict = {}
    for c, s in rows:
        by_cluster.setdefault(c, Counter())[s] += 1
    # EM on iris reliably isolates setosa; versicolor/virginica
    # overlap and may merge depending on init — pin the setosa
    # cluster's purity and the overall majority accuracy
    setosa_clusters = {c for c, s in rows if s == "Iris-setosa"}
    assert len(setosa_clusters) == 1
    sc = setosa_clusters.pop()
    assert by_cluster[sc]["Iris-setosa"] == sum(by_cluster[sc].values()) == 50
    majority = sum(c.most_common(1)[0][1] for c in by_cluster.values())
    assert majority / 150 >= 2 / 3


def test_mldb_198_classifier_weights(mldb):
    """MLDB-198-classifier-weights.js: per-example weights steer the
    separator — the contested corner (1,1) has one 0-labeled and one
    1-labeled example; upweighting either flips the corner's score."""
    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    base = [
        (0.0, 0.0, 0.0, "none"), (1.0, 0.0, 1.0, "none"),
        (0.0, 1.0, 1.0, "none"), (1.0, 1.0, 1.0, "isone"),
        (1.0, 1.0, 0.0, "iszero"),
    ]

    def corner_score(weight_rule):
        rows = [
            (x, y, lab, weight_rule(tag)) for x, y, lab, tag in base
        ]
        df = mldb.spark.createDataFrame(
            rows, "x double, y double, label double, w double"
        )
        reg = FunctionRegistry()
        classifier_train(
            df, ["x", "y"], "label", "w198", reg, weight_col="w"
        )
        probe = mldb.spark.createDataFrame([(1.0, 1.0)], "x double, y double")
        return reg.apply("w198", probe).collect()[0]["score"]

    even = corner_score(lambda t: 1.0)
    heavy_zero = corner_score(lambda t: 100.0 if t == "iszero" else 1.0)
    heavy_one = corner_score(lambda t: 100.0 if t == "isone" else 1.0)
    assert heavy_zero < even < heavy_one
    assert heavy_zero < 0.5 and heavy_one > 0.5


def test_column_name_surface_conventions(mldb):
    """column_name_test.py (satisfiable half): unnamed select items
    take their surface text as the output column; `name: expr` and
    AS (incl. dotted names) name explicitly; row literals spread with
    AS *."""
    def names(select):
        return mldb.query(f"SELECT {select}").columns

    assert names("1") == ["1"]
    assert names("1 + 10") == ["1 + 10"]
    assert names("a:1 + 10") == ["a"]
    assert names("a + b FROM (SELECT a:1, b:2)") == ["a + b"]
    assert names("x:1") == ["x"]
    assert names("1 AS x") == ["x"]
    assert names("1 as a.b") == ["a.b"]
    assert names("{x:1} AS *") == ["x"]
    assert sorted(names("* FROM (SELECT a:1, b:2)")) == ["a", "b"]


def test_mldb_1678_rowname_quoting(mldb):
    """MLDB-1678-rowname-optimizations.js: NAMED with a string makes a
    SINGLE-element path (cell_value.cc:765 coerceToPath — no parse),
    so rowName() renders 'msnbc.com' quoted ('"msnbc.com"') while
    rowPath() yields the raw element; string comparisons against
    rowPath() coerce to one-element paths; invalid/unbalanced rendered
    names never match and never throw."""
    base = "select * from (select 1 as x named 'msnbc.com')"
    found = [
        " where rowName() = '\"msnbc.com\"'",
        " where rowName() in ('\"msnbc.com\"')",
        " where rowName() in ('\"msnbc.com\"', 'msnbc.com', '\"')",
        " where true and rowName() != 'msnbc.com'",
        " where rowPath() = 'msnbc.com'",
        " where rowPath() = 'msnbc.com' + ''",
        " where rowPath() in ('msnbc.com')",
        " where rowPath() in ('msnbc.com', null, [ 1.2, 3.4, 5.6])",
        " where rowPath() != '\"msnbc.com\"'",
    ]
    empty = [
        " where rowName() + '' = 'msnbc.com'",
        " where rowName() = 'msnbc.com'",
        " where rowName() = '\"msnbc.com'",
        " where rowName() = ''",
        " where rowName() in ('msnbc.com', '\"')",
        " where rowName() != '\"msnbc.com\"' + ''",
        " where true and rowName() != '\"msnbc.com\"'",
        " where rowPath() = '\"msnbc.com\"'",
        " where rowPath() = ''",
        " where true and rowPath() != 'msnbc.com'",
    ]
    for w in found:
        rows = mldb.query(base + w).collect()
        assert len(rows) == 1 and rows[0]["x"] == 1, w
        assert rows[0]["rowName"] == '"msnbc.com"', w
    for w in empty:
        assert mldb.query(base + w).collect() == [], w
    # undotted names stay unquoted; rowPath of a rendered dotted
    # multi-element name parses back to its elements
    plain = mldb.query("select 1 as x named 'plain' ").collect()
    assert plain[0]["rowName"] == "plain"
    parts = mldb.query(
        "select rowPathLength() as n, rowPathElement(0) as e0, "
        "rowPathElement(1) as e1 from (select 1 as x named 'msnbc.com')"
    ).collect()
    assert [(r["n"], r["e0"], r["e1"]) for r in parts] == [(1, "msnbc.com", None)]


def test_mldb_945_when_in_classifier_and_tfidf_train(spark):
    """MLDB-945-WHEN-in-proc-and-func.py (train_classifier /
    procedure half): WHEN inside trainingData reaches classifier.train
    and tfidf.train through the same dialect path as transform — cells
    outside the WHEN window never feed the estimator / the df counts.

    Layout mirrors the reference's dataset1: rows 0..8 stamped 'now',
    row 9 stamped tomorrow; a WHEN on the earlier stamp must keep 9
    rows for training and drop row 9's tokens from the tfidf counts."""
    from pyspark.sql import functions as F

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    now, tomorrow = 1000.0, 1000.0 + 86400.0
    cells = []
    for i in range(9):
        cells += [(str(i), "x", float(i % 2), now), (str(i), "y", float(i), now)]
    cells += [("9", "x", 1.0, tomorrow), ("9", "y", 9.0, tomorrow)]
    df = spark.createDataFrame(
        cells, "row string, column string, value double, tsr double"
    ).select("row", "column", "value", F.col("tsr").cast("timestamp").alias("ts"))
    # sparse.mutable semantics = the CELLS registration (per-cell
    # timestamps; WHEN filters cells before the latest view)
    mldb.ctx.register_cells("c945", df)

    when = "ts < CAST('1970-01-02' AS timestamp)"
    # classifier.train: trains without error on the 9-row slice and
    # registers a scorer usable over the features
    res = mldb.create_entity(
        "procedure",
        {
            "type": "classifier.train",
            "id": "cls945",
            "params": {
                "trainingData": {
                    "select": "{* EXCLUDING (x)} as features, x as label",
                    "from": {"id": "c945"},
                    "when": when,
                },
                "algorithm": "glz",
            },
        },
    )
    assert res["status"]["functionName"] == "cls945"
    assert "y" in res["status"]["features"]
    assert "rowName" not in res["status"]["features"]

    # tfidf.train over the SAME when: row 9's cells are outside the
    # window, so every term's doc count is 9, never 10
    res = mldb.create_entity(
        "procedure",
        {
            "type": "tfidf.train",
            "id": "tf945",
            "params": {
                "trainingData": {"from": {"id": "c945"}, "when": when},
                "outputDataset": {"id": "tf945_out"},
            },
        },
    )
    counts = {
        r["rowName"]: r["count"] for r in mldb.dataset("tf945_out").collect()
    }
    assert counts == {"x": 9, "y": 9}
    # without WHEN the full dataset counts 10 docs per term
    mldb.create_entity(
        "procedure",
        {
            "type": "tfidf.train",
            "id": "tf945b",
            "params": {
                "trainingData": {"from": {"id": "c945"}},
                "outputDataset": "tf945b_out",
            },
        },
    )
    counts = {
        r["rowName"]: r["count"] for r in mldb.dataset("tf945b_out").collect()
    }
    assert counts == {"x": 10, "y": 10}


def test_row_wildcard_excluding_forms(mldb):
    """{* EXCLUDING (...)} / {p* EXCLUDING (...)} row-literal fields
    (the trainingData features idiom): exclusions apply by name and
    by prefix, and nested dotted names are excludable."""
    _ds(
        mldb,
        "rwx",
        [("r1", 1.0, 2.0, 3.0, 4.0)],
        "rn string, a double, ab double, b double, x double",
    )
    out = mldb.query(
        "SELECT {* EXCLUDING (x, rn)} AS f FROM rwx"
    ).collect()[0]
    assert sorted(out["f"].asDict()) == ["a", "ab", "b"]
    out = mldb.query("SELECT {a* EXCLUDING (ab)} AS f FROM rwx").collect()[0]
    assert sorted(out["f"].asDict()) == ["a"]
    out = mldb.query("SELECT {* EXCLUDING (a*, rn)} AS f FROM rwx").collect()[0]
    assert sorted(out["f"].asDict()) == ["b", "x"]


def test_mldb_989_complex_order_by(mldb):
    """MLDB-989-complex-order-by.py: cross-type ORDER BY and
    comparisons under the reference's value ordering
    (sql/expression_value.cc): NULL < numbers < rows < embeddings;
    rows compare as NAME-SORTED present-cell sequences (a missing
    column is skipped — {a:0,b:3} < {a:0,c:4} because b < c); bags
    (tokenize maps) compare the same way; embeddings element-wise."""
    _ds(
        mldb, "m989",
        [(f"row{i}", i) for i in range(4)],
        "rn string, index int",
    )

    def order(expr):
        return [
            r[0]
            for r in _q(mldb, f"select index from m989 order by {expr}")
        ]

    assert order(
        "case when index % 4 = 1 then {a:1, b:2} when index % 4 = 2 then "
        "{a:0, b:3} when index % 4 = 3 then {a:0, c:4} else null end"
    ) == [0, 2, 3, 1]
    # unsorted literal columns normalize before comparing
    assert order(
        "case when index % 4 = 1 then {a:1, b:2} when index % 4 = 2 then "
        "{b:3, a:0} when index % 4 = 3 then {c:4, a:0} else null end"
    ) == [0, 2, 3, 1]
    # mixed types: null < number < row < embedding
    assert order(
        "case when index % 4 = 1 then 3 when index % 4 = 2 then null "
        "when index % 4 = 3 then {a:1, b:2} else [0,3] end"
    ) == [2, 1, 3, 0]
    # embeddings: element-wise
    assert order(
        "case when index % 4 = 1 then [3.3, 34.0] when index % 4 = 2 then "
        "[64.2, 34.0] when index % 4 = 3 then [64.1999, 34.0] "
        "else [3.3,3.0] end"
    ) == [0, 1, 3, 2]

    def compare(left, right, op="<"):
        return _q(
            mldb,
            f"select tokenize('{left}', {{splitChars:' '}}) {op} "
            f"tokenize('{right}', {{splitChars:' '}}) as comp",
        )[0][0]

    assert not compare("string string zoo", "string zoo")
    assert not compare("string zoo", "string zoo")
    assert not compare("zoo string string", "string zoo")
    assert compare("zoo string string", "string zoo string", "=")
    assert not compare("zoo string str", "zoo string string", "=")
    assert not compare("zoo string string", "string zoo string", ">")
    assert compare("zoo string string string", "zoo string string", ">")

    # ORDER BY a tokenize bag: sorted-cell sequence ordering
    _ds(
        mldb, "m989s",
        [
            ("row1", "c++,python,c++,java,c++"),
            ("row2", "scala,scala,java,java,scala,java,scala,c++"),
            ("row3", "python,ada,ada"),
        ],
        "rn string, terms string",
    )
    out = mldb.query(
        "select rowName() as rn from m989s order by tokenize(terms)"
    ).collect()
    assert [r["rn"] for r in out] == ["row3", "row2", "row1"]


def test_mldb_1258_nofrom_is_config_error(spark):
    """MLDB-1258_nofrom_segfault.py: a procedure trainingData without
    a FROM clause is a clean config error (the reference 400s all 13
    procedure types; it used to segfault), never a crash or a
    mystery binder error."""
    import pytest

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    for etype in ("classifier.train", "tfidf.train"):
        with pytest.raises(ValueError, match="must contain a FROM clause"):
            mldb.create_entity(
                "procedure",
                {
                    "type": etype,
                    "id": "t1258",
                    "params": {
                        "trainingData": "select {* EXCLUDING(quality)} "
                        "as features, quality as label"
                    },
                },
            )


def test_mldb_1713_wildcard_groupby_error(mldb):
    """MLDB-1713-wildcard-groupby.py: SELECT * with GROUP BY is a
    clean error, not silently-expanded columns."""
    import pytest

    with pytest.raises(Exception, match="[Ww]ildcard.*GROUP BY"):
        mldb.query("select * from (select 1 as a) group by a").collect()


def test_mldbfb_332_sum_star_row_aggregate(mldb):
    """MLDBFB-332-transform_input_sum_doesnt_exist_test.py:
    sum({*}) aggregates the VALUE columns only — the row-name
    metadata column must not be summed (it used to throw
    CAST_INVALID_INPUT on the row-name string); works bare, with
    GROUP BY, and under an AS name."""
    _ds(mldb, "fb332", [("row1", 1)], "rn string, colA int")
    out = mldb.query("SELECT sum({*}) FROM fb332").collect()
    assert out[0][0].asDict() == {"colA": 1}
    out = mldb.query("SELECT sum({*}) FROM fb332 GROUP BY 1").collect()
    assert out[0][0].asDict() == {"colA": 1}
    out = mldb.query("SELECT sum({*}) AS res FROM fb332").collect()
    assert out[0]["res"].asDict() == {"colA": 1}
    # transform procedure end-to-end (the ticket's shape)
    mldb.transform({"select": "sum({*})", "from": "fb332"}, "fb332_res")
    assert mldb.dataset("fb332_res").collect()[0][0].asDict() == {"colA": 1}


def test_mldb_256_categorical_label_statistics(spark):
    """MLDB-256_accuracy_accepts_all_cls_modes.py
    (test_toy_categorical_eval_works): classifier.test categorical
    labelStatistics — exact per-label f1/recall/precision/support/
    one-vs-rest accuracy on the toy confusion, plus the
    support-weighted roll-up."""
    from mldb_spark.ml.procedures import (
        argmax_prediction,
        categorical_statistics,
        weighted_statistics,
    )

    toy = spark.createDataFrame(
        [
            ("a", 0, 1.0, 0.0, 0.0),
            ("b", 1, 1.0, 0.0, 0.0),
            ("c", 2, 0.0, 0.0, 1.0),
            ("d", 2, 0.0, 0.0, 1.0),
            ("e", 0, 1.0, 0.0, 0.0),
        ],
        "rn string, label int, `0` double, `1` double, `2` double",
    )
    scored = argmax_prediction(toy, ["0", "1", "2"])
    stats = {
        r["label"]: r.asDict()
        for r in categorical_statistics(scored).collect()
    }
    want = {
        "0": {"f1Score": 0.8, "recall": 1.0, "support": 2,
              "precision": 2.0 / 3, "accuracy": 0.8},
        "1": {"f1Score": 0.0, "recall": 0.0, "support": 1,
              "precision": 0.0, "accuracy": 0.8},
        "2": {"f1Score": 1.0, "recall": 1.0, "support": 2,
              "precision": 1.0, "accuracy": 1.0},
    }
    for lbl, w in want.items():
        got = stats[lbl]
        for k, v in w.items():
            assert abs(got[k] - v) < 1e-12, (lbl, k, got[k], v)
    ws = weighted_statistics(categorical_statistics(scored))
    tot = sum(v["support"] for v in want.values())
    for k in ("f1Score", "recall", "precision", "accuracy"):
        expect = sum(v[k] * v["support"] for v in want.values()) / tot
        assert abs(ws[k] - expect) < 1e-12, (k, ws[k], expect)
    assert ws["support"] == tot


def test_mldb_174_regression_modes(spark):
    """MLDB-174-regression.py: (a) glz regression on x=y extrapolates
    (score at x=10 ~ 10 through the classifier.train entity +
    registered scorer); (b) classifier.test regression r2 matches the
    reference's exact values incl. the ZERO-VARIANCE edge cases —
    constant target perfectly predicted -> r2=1, imperfectly -> 0,
    normal targets -> the standard 1 - SSres/SStot."""
    from mldb_spark.api import Mldb
    from mldb_spark.ml.procedures import classifier_test
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    mldb = Mldb(spark)
    mldb.create_dataset(
        "m174",
        spark.createDataFrame(
            [(f"ex{i}", float(i), float(i)) for i in range(4)],
            "rn string, x double, y double",
        ),
        row_name_col="rn",
    )
    mldb.create_entity(
        "procedure",
        {
            "type": "classifier.train",
            "id": "m174_reg",
            "params": {
                "trainingData": {
                    "select": "{x} as features, y as label",
                    "from": {"id": "m174"},
                },
                "algorithm": "glz",
                "mode": "regression",
                "functionName": "m174_regressor",
            },
        },
    )
    probe = spark.createDataFrame([(10.0,)], "x double")
    score = GLOBAL_REGISTRY.apply("m174_regressor", probe).collect()[0]["score"]
    assert abs(score - 10.0) < 0.2, score

    # r2: the reference's exact values
    r2_sample = spark.createDataFrame(
        [(2.5, 25.0, 3.0), (0.0, -5.0, -0.5), (2.0, 22.0, 2.0), (8.0, 5.0, 7.0)],
        "score double, score2 double, target double",
    )
    def r2_of(df, s, t):
        return classifier_test(
            df.selectExpr(f"{s} as score", f"{t} as label"),
            mode="regression",
        ).collect()[0]["r2"]

    assert abs(r2_of(r2_sample, "score", "target") - 0.948) < 0.005
    assert abs(r2_of(r2_sample, "score2", "target") - (-30.1177)) < 0.01
    edge = spark.createDataFrame(
        [(1.0, 2.0, 1.0, 1.0), (1.0, 1.0, 1.0, 2.0), (1.0, 1.0, 1.0, 1.0)],
        "score double, score2 double, target double, target2 double",
    )
    assert r2_of(edge, "score", "target") == 1.0
    assert r2_of(edge, "score2", "target") == 0.0
    assert abs(r2_of(edge, "score", "target2") - (-0.5)) < 1e-9


def test_mldb_1766_dt_categorical_generalization(mldb):
    """MLDB-1766_dt_categorical.py: a depth-8 decision tree trained
    categorical on a 1-in-5 iris split must NOT be perfect on the
    held-out rows (Iris-virginica recall < 0.98 — the reference's
    anti-overfit pin) while still being a real model (weighted
    accuracy > 0.8)."""
    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import (
        categorical_statistics,
        classifier_train,
        classifier_test,
        weighted_statistics,
    )
    from mldb_spark.ml.registry import FunctionRegistry
    from mldb_spark.sources.text_io import import_text

    iris = import_text(
        mldb.spark, IRIS,
        headers=["sl", "sw", "pl", "pw", "cls"],
    ).na.drop().select(
        F.col("sl").cast("double"), F.col("sw").cast("double"),
        F.col("pl").cast("double"), F.col("pw").cast("double"), "cls",
        F.xxhash64("sl", "sw", "pl", "pw", "cls").alias("__h"),
    )
    train = iris.filter(F.col("__h") % 5 == 0)
    test = iris.filter(F.col("__h") % 5 != 0)
    reg = FunctionRegistry()
    classifier_train(
        train, ["sl", "sw", "pl", "pw"], "cls", "iris1766", reg,
        algorithm="dt", mode="categorical",
    )
    scored = reg.apply("iris1766", test)
    stats = {
        r["label"]: r.asDict()
        for r in categorical_statistics(
            scored, label_col="cls", pred_col="predicted"
        ).collect()
    }
    assert stats["Iris-virginica"]["recall"] < 0.98
    ws = weighted_statistics(
        categorical_statistics(scored, label_col="cls", pred_col="predicted")
    )
    assert ws["accuracy"] > 0.8
    # the confusion-matrix mode of classifier.test agrees on totals
    conf = classifier_test(
        scored, label_col="cls", score_col="predicted", mode="categorical"
    )
    assert conf.agg(F.sum("count")).collect()[0][0] == test.count()


def test_mldb_647_multiclass_apply_function_pins(mldb):
    """MLDB-647_multiclass_apply_function_pins.py: a categorical
    classifier applied from SQL with a row-valued `features` input
    pin ({{* EXCLUDING(class)} as features}) and per-class score
    extraction ([scores."Iris-setosa"]). (Bare un-accessed
    applications remain a documented error in this engine —
    every output consumed here is accessor-addressed.)"""
    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry
    from mldb_spark.sources.text_io import import_text

    iris = import_text(
        mldb.spark, IRIS,
        headers=["sl", "sw", "pl", "pw", "cls"],
    ).na.drop().select(
        F.col("sl").cast("double"), F.col("sw").cast("double"),
        F.col("pl").cast("double"), F.col("pw").cast("double"),
        F.col("cls").alias("class"),
    )
    mldb.create_dataset("iris647", iris)
    reg = FunctionRegistry()
    classifier_train(
        iris, ["sl", "sw", "pl", "pw"], "class", "iris_cls_647", reg,
        algorithm="glz", mode="categorical",
    )
    mldb.ctx.register_function(
        "iris_cls_647", lambda d: reg.apply("iris_cls_647", d)
    )
    out = mldb.query(
        'select iris_cls_647({{* EXCLUDING(class)} as features})'
        '[scores."Iris-setosa"] AS setosa, class '
        "from iris647"
    ).collect()
    assert len(out) == 150
    # setosa is linearly separable: its per-class probability is
    # higher on setosa rows than on every other row
    setosa = [r["setosa"] for r in out if r["class"] == "Iris-setosa"]
    rest = [r["setosa"] for r in out if r["class"] != "Iris-setosa"]
    assert min(setosa) > max(rest)
    # predicted class comes back decoded through the same surface
    out2 = mldb.query(
        "select iris_cls_647({{* EXCLUDING(class)} as features})"
        "[predicted] AS p, class from iris647 where class = 'Iris-setosa'"
    ).collect()
    assert all(r["p"] == "Iris-setosa" for r in out2)


def test_mldb_429_classifier_empty_label(spark):
    """MLDB-429-classifier-empty-label.js: a training row whose label
    is NULL is skipped, and the run SUCCEEDS (it used to abort the
    whole training)."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    rows = [
        ("ex00", 0.0, 0.0, 0.0), ("ex10", 1.0, 0.0, 1.0),
        ("ex01", 0.0, 1.0, 1.0), ("ex111", 1.0, 1.0, 1.0),
        ("ex110", 1.0, 1.0, 0.0), ("ex112", 1.0, 1.0, None),
    ]
    mldb.create_dataset(
        "m429",
        spark.createDataFrame(
            rows, "rn string, x double, y double, label double"
        ),
        row_name_col="rn",
    )
    res = mldb.create_entity(
        "procedure",
        {
            "type": "classifier.train",
            "id": "m429_train",
            "params": {
                "trainingData": {
                    "select": "{x,y} as features, label",
                    "from": {"id": "m429"},
                },
                "algorithm": "glz",
            },
        },
    )
    assert res["status"]["functionName"] == "m429_train"


def test_mldb_1753_useragent_and_domain(spark):
    """MLDB-1753_useragent_function.py (+ MLDB-1772 half): the
    http.useragent function entity parses the iPhone UA to the
    uap-core field set (Mobile Safari family; semver-padded browser
    version), and extract_domain handles subdomain stripping plus the
    hard no-scheme error."""
    import pytest

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity(
        "function", {"type": "http.useragent", "id": "useragent", "params": {}}
    )
    out = mldb.query(
        "select useragent({ua: 'Mozilla/5.0 (iPhone; CPU iPhone OS 5_1_1 "
        "like Mac OS X) AppleWebKit/534.46 (KHTML, like Gecko) Version/5.1 "
        "Mobile/9B206 Safari/7534.48.3'}) as *"
    ).collect()[0]
    got = out.asDict()
    assert got["browser.family"] == "Mobile Safari"
    assert got["browser.version"] == "5.1.0"
    assert got["device.brand"] == "Apple"
    assert got["device.model"] == "iPhone"
    assert got["isSpider"] == 0
    assert got["os.family"] == "iOS"
    assert got["os.version"] == "5.1.1"

    row = mldb.query(
        "select "
        "extract_domain('http://www.datacratic.com/pwetpwet/houa.html') as c1, "
        "extract_domain('http://datacratic.com/pwetpwet/houa.html') as c2, "
        "extract_domain('http://data.datacratic.com/pwetpwet/houa.html') as c3, "
        "extract_domain('http://www.datacratic.com/pwetpwet/houa.html', {removeSubdomain:1}) as c1nosub, "
        "extract_domain('http://datacratic.com/pwetpwet/houa.html', {removeSubdomain:1}) as c2nosub, "
        "extract_domain('http://data.datacratic.com/pwetpwet/houa.html', {removeSubdomain:1}) as c3nosub"
    ).collect()[0]
    assert tuple(row) == (
        "www.datacratic.com", "datacratic.com", "data.datacratic.com",
        "datacratic.com", "datacratic.com", "datacratic.com",
    )
    with pytest.raises(Exception, match="without a scheme"):
        mldb.query("SELECT extract_domain('pwet.com') as c4").collect()


def test_mldb_2168_and_1649_csv_import_options(spark, tmp_path):
    """MLDB-2168-csv-import-skip-lines.js + MLDB-1649-csv-import-
    trailing-comma.js: skipLineRegex drops matching lines BEFORE
    parsing (header exempt) under a custom quoteChar + latin1; a
    trailing delimiter on the header line must NOT invent a column.
    The quotechar file's header matches the skip pattern, and the
    skipped line carries a latin1-only byte."""
    from mldb_spark.sources.text_io import import_text

    quotechar = tmp_path / "MLDB-1312-quotechar.csv"
    quotechar.write_bytes(
        "#a#,#b#\n#a#,b\n#a,b#,#c#\n#\xe9t\xe9#,#b#\n".encode("latin1")
    )
    trailing = tmp_path / "MLDB-1649.csv"
    trailing.write_text("a,b,c,\n1,2,3\n")
    df = import_text(
        spark, str(quotechar),
        quote="#", encoding="latin1", skip_line_regex=".*#b#.*",
    )
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [("a", "b"), ("a,b", "c")]

    df = import_text(spark, str(trailing))
    assert df.columns == ["a", "b", "c"]
    assert [tuple(r) for r in df.collect()] == [(1, 2, 3)]


def test_mldb_2170_excel_formulas(spark, tmp_path):
    """MLDB-2170-csv-excel-formulas.js: processExcelFormulas unwraps
    the ="x" Excel form; a BARE =x stays a literal string. (Cells are
    per-column typed here, so the mixed column stays string — the
    values match the reference's cell contents.)"""
    from mldb_spark.sources.text_io import import_text

    path = tmp_path / "MLDB-2170-csv-excel-formulas.csv"
    path.write_bytes(b'a,b\n="1",="2"\n3,4\n="5",6\n=7,=8\n9,="10"\n')
    df = import_text(
        spark, str(path),
        encoding="latin1", process_excel_formulas=True,
    )
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [
        ("1", "2"), ("3", "4"), ("5", "6"), ("=7", "=8"), ("9", "10"),
    ]


def test_mldb_1638_structured_column_names(spark, tmp_path):
    """MLDB-1638-import-text-structured-names.js:
    structuredColumnNames=false (default) treats each header cell as
    ONE literal path element ('c.a' -> the quoted rendering "c.a";
    '"d.a"' -> \"\"\"d.a\"\"\"), while =true keeps the cell as an
    already-rendered structured path."""
    from mldb_spark.sources.text_io import import_text

    path = tmp_path / "MLDB-1638.csv"
    path.write_text('a,b,c.a,c.b,"""d.a"""\n1,2,3,4,5\n')
    df = import_text(spark, str(path))
    assert sorted(df.columns) == sorted(
        ['a', 'b', '"c.a"', '"c.b"', '"""d.a"""']
    )
    df = import_text(
        spark, str(path),
        structured_column_names=True,
    )
    assert sorted(df.columns) == sorted(['a', 'b', 'c.a', 'c.b', '"d.a"'])
    assert [tuple(r) for r in df.select("a", "b", "`c.a`", "`c.b`").collect()] == [
        (1, 2, 3, 4)
    ]


def test_mldb_1972_fft_family(mldb):
    """MLDB-1972-fft.js: impulse/shifted_impulse/fft/amplitude/phase
    through the dialect — impulse amplitude is flat 1s regardless of
    shift, phase of a shift-2 impulse steps linearly, and
    forward+backward round-trips to the original signal after
    quantize."""
    import math

    q = lambda sql: mldb.query(sql).collect()[0][0]
    # amplitude of any shifted impulse is all-ones
    for shift in (0, 1, 2, 16):
        amp = q(
            f"select amplitude(fft(shifted_impulse(32, {shift}), 'forward')) as f"
        )
        assert len(amp) == 32
        assert all(abs(a - 1.0) < 1e-9 for a in amp)
    # phase of shift-2: bin k has phase -2*pi*2*k/32 (mod 2pi)
    ph = q("select phase(fft(shifted_impulse(32, 2), 'forward')) / pi() * 180 as ph")
    assert abs(ph[0]) < 1e-9
    want1 = -2 * math.pi * 2 * 1 / 32 / math.pi * 180
    assert abs(ph[1] - want1) < 1e-6
    # round trip: fft forward then backward reproduces the impulse
    rt = q(
        "select quantize(fft(fft(shifted_impulse(32, 31), 'forward'), "
        "'backward'), 0.001) = shifted_impulse(32, 31) as r"
    )
    assert rt is True


def test_mldb_1666_spherical_geometry(mldb):
    """MLDB-1666-spherical-geometry.js: geo_distance over an airport
    self-join — exact rounded-km values pinned, descending with the
    reference's join row naming available through rowName()."""
    _ds(
        mldb, "airports",
        [
            ("lhr", 51.477500, -0.461388),
            ("syd", -33.946110, 151.177222),
            ("lax", 33.942495, -118.408067),
            ("sfo", 37.619105, -122.375236),
            ("oak", 37.721306, -122.220721),
        ],
        "rn string, lat double, lon double",
    )
    out = _q(
        mldb,
        "select round(geo_distance(x.lat, x.lon, y.lat, y.lon) / 1000) "
        "as dst from airports as x join airports as y "
        "where x.rowName() < y.rowName() order by dst desc, rowName()",
    )
    assert [int(r[0]) for r in out] == [
        17020, 12061, 11967, 11950, 8759, 8615, 8599, 543, 543, 18
    ]


def test_mldb_1810_structured_named_embedding(mldb):
    """MLDB-1810-new-executor-rowpath.js: NAMED ['hello', 'world']
    builds a STRUCTURED two-element row name rendering 'hello.world'
    — never the stringified array."""
    out = mldb.query(
        "select * named ['hello', 'world'] from row_dataset({x:1})"
    ).collect()
    assert [r["rowName"] for r in out] == ["hello.world"]
    # rowPath() of that name parses back to the two elements
    parts = mldb.query(
        "select rowPathLength() as n, rowPathElement(1) as e1 from "
        "(select 1 as v named ['hello', 'world'])"
    ).collect()
    assert [(r["n"], r["e1"]) for r in parts] == [(2, "world")]


def test_mldb_809_group_by_rowname_row_aggs(mldb):
    """MLDB-809-group-by-rowname.js: min({*})/max({*}) row aggregates
    under GROUP BY with NAMED label and NAMED group_key_element(0) —
    per-group min/max of every value column incl. the string label."""
    _ds(
        mldb, "m809",
        [("ex1", 0, 0, "cat"), ("ex2", 1, 1, "dog"), ("ex3", 1, 2, "cat")],
        "rn string, x int, y int, label string",
    )
    for named in ("label", "group_key_element(0)"):
        out = mldb.query(
            f"SELECT min({{*}}) AS min, max({{*}}) AS max NAMED {named} "
            "from m809 group by label"
        ).collect()
        got = {
            r["rowName"]: (r["min"].asDict(), r["max"].asDict()) for r in out
        }
        assert got == {
            "cat": (
                {"x": 0, "y": 0, "label": "cat"},
                {"x": 1, "y": 2, "label": "cat"},
            ),
            "dog": (
                {"x": 1, "y": 1, "label": "dog"},
                {"x": 1, "y": 1, "label": "dog"},
            ),
        }


def test_mldb_1781_replace_nan_row_wildcard(mldb):
    """MLDB-1781-path-flattening.js: replace_nan({*}, -1) distributes
    over the row's wildcard-expanded fields, dotted names included."""
    out = mldb.query(
        "SELECT replace_nan({*}, -1) AS res FROM (select 0/0 as x, 2 as y)"
    ).collect()[0]
    assert out["res"].asDict() == {"x": -1.0, "y": 2.0}
    out = mldb.query(
        'SELECT replace_nan({*}, -1) AS res FROM '
        '(select 0/0 as "x.y", 0/0 as z)'
    ).collect()[0]
    assert out["res"].asDict() == {"x.y": -1.0, "z": -1.0}


def test_mldbfb_646_column_expr_value_select(mldb):
    """MLDBFB-646-column-expression-select.js: COLUMN EXPR with a
    value-transforming SELECT — every matched column's value rides
    through the expression, the row keeps its NAMED name."""
    out = mldb.query(
        "select column expr(select value() * 10) named 'res' "
        "from (select 1 as x, 2 as y)"
    ).collect()
    assert [r.asDict() for r in out] == [{"x": 10, "y": 20, "rowName": "res"}]


def test_mldb_1490_grouped_validation(mldb):
    """MLDB-1490-grouped-validation.py: builtins compose around
    aggregators both ways (ln(sum(x)+1), sum(ln(x+1))) with and
    without GROUP BY; a bare non-aggregated column mixed with
    aggregators is a clean validation error."""
    import math

    import pytest

    _ds(mldb, "m1490", [("a", 1)], "rn string, x int")
    for sql in (
        "select count(*) as n, ln(sum(x)+1) as v from m1490 group by x",
        "select count(*) as n, sum(ln(x+1)) as v from m1490 group by x",
        "select count(*) as n, ln(sum(x)+1) as v from m1490",
        "select count(*) as n, sum(ln(x+1)) as v from m1490",
    ):
        out = _q(mldb, sql)
        assert out == [(1, math.log(2))]
    for sql in (
        "select count(*), ln(x+1) from m1490 group by rowName()",
        "select count(*), horizontal_sum({*}) from m1490",
    ):
        with pytest.raises(Exception, match="aggregate|GROUP BY"):
            mldb.query(sql).collect()


def test_mldb_1705_function_application_path(mldb):
    """MLDB-1705-function-application-path.py: an sql.expression
    reading JOIN-QUALIFIED names (data1.x, data2.y) applies over the
    join's prefixed output through {*}."""
    _ds(mldb, "d1705a", [("a", 1)], "rn string, x int")
    _ds(mldb, "d1705b", [("a", 2)], "rn string, y int")
    mldb.create_sql_expression_function(
        "func1705", "horizontal_string_agg({d1705a.x, d1705b.y}, '-') as agg"
    )
    out = mldb.query(
        "select func1705({*}) as * from d1705a "
        "join d1705b on d1705a.rowName() = d1705b.rowName()"
    ).collect()
    assert [r["agg"] for r in out] == ["1-2"]


def test_mldb_1601_unclosed_string_error_location(mldb):
    """MLDB-1601-unclosed-string-error-message.js: an unclosed string
    literal is a clean syntax error carrying its line:col location
    (the reference pins 1:9 for a quote at column 9 of line 1)."""
    import pytest

    query = (
        "SELECT 'this is an unclosed string \n"
        "        with lots of lines \n"
        "        but no closing quote"
    )
    with pytest.raises(SyntaxError, match=r"unclosed string.*1:8"):
        mldb.query(query)
    # multi-line location: the error points at the later line
    with pytest.raises(SyntaxError, match=r"unclosed string.*2:1"):
        mldb.query("SELECT 1 AS x,\n'oops")


def test_mldb_804_and_587_classifier_config_errors(spark):
    """MLDB-804-null-accuracy.js + MLDB-587-empty-classifier.js:
    classifier.test without testingData is a clean config error
    naming the required score/label outputs; classifier.train whose
    WHERE filters every row errors with 'all rows were filtered',
    never an opaque crash. classifier.test r2 runs end-to-end through
    the entity for the valid case."""
    import pytest

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    with pytest.raises(ValueError, match="scalar named 'score'.*'label'"):
        mldb.create_entity(
            "procedure",
            {"type": "classifier.test", "id": "t804", "params": {}},
        )
    mldb.create_dataset(
        "m587",
        spark.createDataFrame(
            [(f"ex{i}", float(i), float(i)) for i in range(4)],
            "rn string, x double, y double",
        ),
        row_name_col="rn",
    )
    with pytest.raises(ValueError, match="all rows were filtered"):
        mldb.create_entity(
            "procedure",
            {
                "type": "classifier.train",
                "id": "m587_train",
                "params": {
                    "trainingData": "select {x} as features, y as label "
                    "from m587 where false",
                    "algorithm": "glz",
                    "mode": "regression",
                },
            },
        )
    res = mldb.create_entity(
        "procedure",
        {
            "type": "classifier.test",
            "id": "m587_test",
            "params": {
                "testingData": "select x as score, y as label from m587",
                "mode": "regression",
            },
        },
    )
    assert res["status"]["r2"] == 1.0


def test_mldb_785_decision_tree_missing_split(spark):
    """MLDB-785-decision-tree-missing.js: a decision tree can split
    PURELY on a feature being missing — y is absent exactly on the
    label-0 rows and the tree separates the classes perfectly (the
    engine encodes missingness as an indicator; MLlib rejects raw
    nulls)."""
    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    rows = (
        [(f"exf{i}", 0.0, float(2 * i + 1), None) for i in range(5)]
        + [(f"ext{i}", 1.0, float(2 * i + 2), 1.0) for i in range(5)]
    )
    df = spark.createDataFrame(
        rows, "rn string, label double, x double, y double"
    )
    reg = FunctionRegistry()
    classifier_train(df, ["x", "y"], "label", "m785", reg, algorithm="dt")
    out = reg.apply("m785", df).select("rn", "score").collect()
    for r in out:
        want = 1.0 if r["rn"].startswith("ext") else 0.0
        assert abs(r["score"] - want) < 1e-9, (r["rn"], r["score"])


def test_mldb_878_experiment_dataset_folds(spark):
    """MLDB-878_experiment_proc.py: classifier.experiment with an
    EXPLICIT datasetFolds spec — each fold names its own
    trainingWhere/testingWhere (rowHash() % 5 != 3 vs = 3); per-fold
    AUC on the planted-signal toy is near-perfect and the fold sizes
    partition the input."""
    import random

    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import classifier_experiment

    rng = random.Random(11)
    rows = []
    for i in range(2000):
        label = rng.random() < 0.2
        rows.append(
            (
                f"u{i}",
                rng.gauss(5 if label else 15, 3),
                rng.gauss(-5 if label else 10, 10),
                1.0 if label else 0.0,
            )
        )
    toy = spark.createDataFrame(
        rows, "rn string, feat1 double, feat2 double, label double"
    )
    h = F.pmod(F.xxhash64("rn"), F.lit(5))
    out = classifier_experiment(
        toy, ["feat1", "feat2"], "label",
        dataset_folds=[(h != 3, h == 3), (h != 2, h == 2)],
    ).orderBy("fold").collect()
    assert len(out) == 2
    total = toy.count()
    for r in out:
        assert r["n_train"] + r["n_test"] == total
        assert r["n_test"] > 0
        assert r["auc"] > 0.95, r


def test_mldb_312_cant_create_dataset_twice(spark, tmp_path):
    """MLDB-312_cant_overwrite_dataset.py: CREATE at an existing
    dataset id errors 'already exists'; create_dataset (the PUT
    surface) keeps overwrite semantics (MLDB-748)."""
    import pytest

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    p = tmp_path / "m312.csv"
    p.write_text("a,b\n1,2\n")
    cfg = {
        "type": "tabular",
        "id": "dontCreateTwice",
        "params": {"dataFileUrl": str(p)},
    }
    mldb.create_entity("dataset", cfg)
    with pytest.raises(ValueError, match="'dontCreateTwice' already exists"):
        mldb.create_entity("dataset", cfg)
    # the PUT-like surface overwrites silently
    mldb.create_dataset(
        "dontCreateTwice", spark.createDataFrame([(9,)], "z int")
    )
    assert mldb.dataset("dontCreateTwice").columns == ["z"]


def test_mldb_871_non_ascii_keys(mldb):
    """MLDB-871-json-non-ascii-keys.js (+ MLDB-558/865 unicode
    family): non-ASCII literals name their output column by source
    text and round-trip as values; quoted UTF-8 aliases work."""
    out = mldb.query("select 'ç'")
    assert out.columns == ["'ç'"]
    assert out.collect()[0][0] == "ç"
    out = mldb.query('select \'été\' as "café"')
    assert out.columns == ["café"] and out.collect()[0][0] == "été"


def test_mldb_1718_invalid_utf8_long_string(spark, tmp_path):
    """MLDB-1718-invalid-utf-8-string-long.py: importing a file with
    very long (invalid-UTF-8-bearing) lines under a NUMERIC header
    name works end-to-end — the first cell reads back and a GROUP BY
    on the long-string column runs. The file: 'x', then 298 distinct
    lines of 1 kB (every 50th of 160 kB), each carrying bytes that
    are not UTF-8, and one of them repeated."""
    from mldb_spark.api import Mldb
    from mldb_spark.sources.text_io import import_text

    lines = [b"x"] + [
        b"%d " % i + b"\xff\xfe\xc3(" + b"long" * (40_000 if i % 50 == 0 else 250)
        for i in range(1, 299)
    ]
    path = tmp_path / "MLDB-1718-long_string.txt"
    path.write_bytes(b"\n".join(lines + [lines[7]]) + b"\n")
    mldb = Mldb(spark)
    df = import_text(
        spark, str(path),
        delimiter="\t", headers=["0"],
    )
    mldb.create_dataset("testset1718", df)
    assert df.columns == ["0"]
    first = df.limit(1).collect()[0][0]
    assert first == "x"
    n = mldb.query(
        'SELECT count(*) AS n FROM (SELECT "0" FROM testset1718) GROUP BY "0"'
    ).count()
    assert n == 299


def test_mldb_2143_classifier_utf8_labels(mldb):
    """MLDB-2143-classifier-utf8.py: categorical training with UTF-8
    class labels ('Iris-setosa_éç') trains, and the scorer decodes
    predictions back to the exact UTF-8 strings."""
    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry
    from mldb_spark.sources.text_io import import_text

    iris = import_text(
        mldb.spark, IRIS,
        headers=["sl", "sw", "pl", "pw", "cls"],
    ).na.drop().select(
        F.col("sl").cast("double"), F.col("sw").cast("double"),
        F.col("pl").cast("double"), F.col("pw").cast("double"),
        F.concat(F.col("cls"), F.lit("_éç")).alias("label"),
    )
    reg = FunctionRegistry()
    classifier_train(
        iris, ["sl", "sw", "pl", "pw"], "label", "m2143", reg,
        algorithm="glz", mode="categorical",
    )
    out = reg.apply("m2143", iris).select("label", "predicted").collect()
    labels = {r["predicted"] for r in out}
    assert labels <= {
        "Iris-setosa_éç", "Iris-versicolor_éç", "Iris-virginica_éç"
    }
    acc = sum(1 for r in out if r["label"] == r["predicted"]) / len(out)
    assert acc > 0.9


def test_mldb_1322_sum_stem_token(mldb):
    """MLDB-1322-sum_stem_token.py: the tokenize → stem → sum chain —
    stemming merges bag keys by ADDITION (potato+potatoes+potato = 3),
    sum() of bags merges across rows, and GROUP BY sums per group.
    (Bags are MAP columns in this engine; the reference's spread
    column form carries the same numbers.)"""
    _ds(
        mldb, "veggies1322",
        [
            ("row_0", "potato,carrots", 0),
            ("row_1", "potato,potatoes,potato", 0),
            ("row_2", "carrot,carrots", 1),
        ],
        "rn string, txt string, label int",
    )
    mldb.create_stemmer_function("stem1322")
    out = mldb.query(
        "SELECT stem1322({words: tokenize(txt)})[words] AS bag, label "
        "FROM veggies1322 ORDER BY rowName()"
    ).collect()
    assert [dict(r["bag"]) for r in out] == [
        {"potato": 1, "carrot": 1}, {"potato": 3}, {"carrot": 2},
    ]
    total = mldb.query(
        "SELECT sum(stem1322({words: tokenize(txt)})[words]) AS total "
        "FROM veggies1322"
    ).collect()[0]["total"]
    assert dict(total) == {"potato": 4, "carrot": 3}
    grouped = mldb.query(
        "SELECT sum(stem1322({words: tokenize(txt)})[words]) AS total, label "
        "FROM veggies1322 GROUP BY label ORDER BY label"
    ).collect()
    assert [(r["label"], dict(r["total"])) for r in grouped] == [
        (0, {"potato": 4, "carrot": 1}),
        (1, {"carrot": 2}),
    ]


def test_mldb_1648_path_values(mldb):
    """MLDB-1648-path-values.js: CAST(... AS path) — embeddings make
    one element per item, STRINGS make ONE element (coerceToPath, no
    parse; '\"hello.world\"' keeps its quotes); stringify_path renders
    and parse_path inverts it."""
    q = lambda sql: mldb.query(sql).collect()[0][0]
    assert q("select cast ([''] as path) as p") == [""]
    assert q("select cast (['1'] as path) as p") == ["1"]
    assert q("select cast ([1] as path) as p") == ["1"]
    assert q("select cast ([1,2,3] as path) as p") == ["1", "2", "3"]
    assert q("select cast ('1.2.3' as path) as p") == ["1.2.3"]
    assert q("select cast ('\"hello.world\"' as path) as p") == ['"hello.world"']
    assert q("select stringify_path([1,2,3]) as s") == "1.2.3"
    assert q("select parse_path(stringify_path([1,2,3])) as p") == ["1", "2", "3"]
    # MLDB-1567's empty embedding literal is a NULL value
    assert q("select [] as x") is None


def test_mldb_180_basic_cross_join(mldb):
    """MLDB-180-basic-join.js: a bare JOIN (no ON) is the 3x3 cross
    product; rowName() renders the reference's [left]-[right] form;
    ON true keeps all pairs, ON (true AND false) folds to the empty
    result."""
    _ds(
        mldb, "j180a",
        [("ex1", 1, 2, None), ("ex2", 2, None, 4), ("ex3", None, None, 3)],
        "rn string, x int, y int, z int",
    )
    _ds(
        mldb, "j180b",
        [("ex4", 1, 2), ("ex5", 2, 2), ("ex6", None, 3)],
        "rn string, x int, z int",
    )
    out = mldb.query(
        "select rowName() as r from j180a join j180b order by r"
    ).collect()
    assert len(out) == 9
    assert [r["r"] for r in out[:3]] == [
        "[ex1]-[ex4]", "[ex1]-[ex5]", "[ex1]-[ex6]",
    ]
    n = mldb.query(
        "select rowName() as r from j180a join j180b on true"
    ).count()
    assert n == 9
    n = mldb.query(
        "select rowName() as r from j180a join j180b on true and false"
    ).count()
    assert n == 0


def test_mldb_1554_ordered_string_agg(mldb):
    """MLDB-1554-string-agg.js: the 3-argument string_agg orders the
    concatenation by the third expression (here rowName()), and
    horizontal_string_agg joins a row's values."""
    _ds(
        mldb, "m1554",
        [
            ("0", "mustard", "moved", "kitchen"),
            ("1", "plum", "moved", "kitchen"),
            ("2", "mustard", "stabbed", "plum"),
            ("3", "mustard", "killed", "plum"),
            ("4", "plum", "died", "stabbed"),
        ],
        "rn string, who string, what string, how string",
    )
    out = mldb.query(
        "SELECT string_agg(what, ', ', rowName()) AS whats, "
        "string_agg(how, '', rowName()) AS hows NAMED who "
        "FROM m1554 GROUP BY who ORDER BY who"
    ).collect()
    got = {r["rowName"]: (r["whats"], r["hows"]) for r in out}
    assert got == {
        "mustard": ("moved, stabbed, killed", "kitchenplumplum"),
        "plum": ("moved, died", "kitchenstabbed"),
    }
    out = mldb.query(
        "SELECT horizontal_string_agg({who, what, how}, ', ') AS aggs "
        "FROM m1554 ORDER BY rowName() LIMIT 1"
    ).collect()
    assert out[0]["aggs"] == "kitchen, moved, mustard"


def test_mldb_462_double_transpose_identity(mldb):
    """MLDB-462-transposed-dataset.js: transpose(transpose(x)) is the
    identity over a wide dataset."""
    _ds(
        mldb, "m462",
        [("ex00", 0, 0, 0), ("ex10", 1, 0, 1), ("ex01", 0, 1, 1),
         ("ex111", 1, 1, 1), ("ex110", 1, 1, 0), ("ex22", 2, 2, 0),
         ("ex31", 3, 1, 1)],
        "rn string, x int, y int, label int",
    )
    orig = mldb.query(
        "select rowName() as r, x, y, label from m462 order by r"
    ).collect()
    double = mldb.query(
        "select rowName() as r, x, y, label from transpose(transpose(m462)) "
        "order by r"
    ).collect()
    key = lambda rows: [
        (r["r"], float(r["x"]), float(r["y"]), float(r["label"]))
        for r in rows
    ]
    assert key(orig) == key(double)


def test_mldb_415_order_by_rowpath(mldb):
    """MLDB-415-rawquery.js: ORDER BY rowPath() sorts on the
    STRUCTURED path (array ordering), returning the same row order
    as the rendered names here."""
    _ds(
        mldb, "m415",
        [("ex1", 0, 0, "cat"), ("ex2", 1, 1, "dog"), ("ex3", 1, 2, "cat")],
        "rn string, x int, y int, label string",
    )
    out = mldb.query(
        "SELECT y, label, x FROM m415 ORDER BY rowPath()"
    ).collect()
    assert [(r["label"], r["x"], r["y"]) for r in out] == [
        ("cat", 0, 0), ("dog", 1, 1), ("cat", 1, 2),
    ]


def test_mldb_409_transform_named_orderby_limit(mldb):
    """MLDB-409-transform-dataset.js (+ MLDB-799): the transform
    procedure's structured spec honors NAMED (rowName() +
    '_transformed'), ORDER BY, and LIMIT together — the limit applies
    to the ORDERED rows."""
    _ds(
        mldb, "m409",
        [("ex1", 0, 0), ("ex2", 1, 1), ("ex3", 1, 2), ("ex4", 6, 6)],
        "rn string, x int, y int",
    )
    mldb.transform(
        {
            "select": "x, y, x * 10 AS z, y + 6 AS q",
            "from": "m409",
            "named": "rowName() + '_transformed'",
            "orderBy": "rowName()",
            "limit": 3,
        },
        "m409_out",
    )
    out = mldb.query(
        "SELECT rowName() AS r, x, y, z, q FROM m409_out ORDER BY r"
    ).collect()
    assert [(r["r"], r["x"], r["y"], r["z"], r["q"]) for r in out] == [
        ("ex1_transformed", 0, 0, 0, 6),
        ("ex2_transformed", 1, 1, 10, 7),
        ("ex3_transformed", 1, 2, 10, 8),
    ]


def test_mldb_945_when_in_kmeans_and_119_no_columns(spark):
    """MLDB-945 (train_kmeans half) + MLDB-119-select_no_columns.js:
    kmeans.train takes a full input-data spec — a WHEN window selects
    which time slice trains (the 'now' slice clusters along x; the
    'tomorrow' slice along y), and a select matching NO columns is a
    clean 'matched no columns' config error."""
    import pytest

    from pyspark.sql import functions as F

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    now, tomorrow = 1000.0, 1000.0 + 86400.0
    cells = []
    import random

    rng = random.Random(5)
    for i in range(1, 3):
        for j in range(100):
            vx, vy = rng.randint(-5, 5), rng.randint(-5, 5)
            rn = f"row_{i}_{j}"
            cells += [
                (rn, "x", float(vx + 10 ** i), now),
                (rn, "x", float(vx), tomorrow),
                (rn, "y", float(vy), now),
                (rn, "y", float(vy + 10 ** i), tomorrow),
            ]
    df = spark.createDataFrame(
        cells, "row string, column string, value double, tsr double"
    ).select("row", "column", "value", F.col("tsr").cast("timestamp").alias("ts"))
    mldb.ctx.register_cells("k945", df)

    res = mldb.create_entity(
        "procedure",
        {
            "type": "kmeans.train",
            "id": "k945_train",
            "params": {
                "trainingData": {
                    "from": {"id": "k945"},
                    "when": "ts < CAST('1970-01-02' AS timestamp)",
                },
                "numClusters": 2,
                "centroidsDataset": {"id": "k945_centroids"},
            },
        },
    )
    assert res["status"]["numClusters"] == 2
    cents = [
        (r["x"], r["y"]) for r in mldb.dataset("k945_centroids").collect()
    ]
    # 'now' slice: clusters separate along X (~10 vs ~100), y ~ 0
    xs = sorted(abs(c[0]) for c in cents)
    ys = [abs(c[1]) for c in cents]
    assert xs[0] < 20 and xs[1] > 50, cents
    assert all(y < 10 for y in ys), cents

    with pytest.raises(ValueError, match="matched no columns"):
        mldb.create_entity(
            "procedure",
            {
                "type": "kmeans.train",
                "id": "k119",
                "params": {
                    "trainingData": "select bonus* from k945",
                },
            },
        )


def test_mldb_945_when_in_svd_and_tsne(spark):
    """MLDB-945 (train_svd / train_tsne halves): WHEN inside
    trainingData selects the time slice for svd.train and tsne.train.
    The svd_example layout: 'now' slice has 3 independent columns;
    the 'tomorrow' slice has y = 2x correlated — the WHEN'd tomorrow
    slice must concentrate variance in fewer singular values."""
    import random

    from pyspark.sql import functions as F

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    now, tomorrow = 1000.0, 1000.0 + 86400.0
    rng = random.Random(3)
    cells = []
    for i in range(100):
        vx, vy, vz = (rng.randint(1, 1000) for _ in range(3))
        rn = f"row_{i}"
        cells += [
            (rn, "x", float(vx), now), (rn, "x", float(vx), tomorrow),
            (rn, "y", float(vy), now), (rn, "y", float(2 * vx), tomorrow),
            (rn, "z", float(vz), now), (rn, "z", float(vz), tomorrow),
        ]
    df = spark.createDataFrame(
        cells, "row string, column string, value double, tsr double"
    ).select("row", "column", "value", F.col("tsr").cast("timestamp").alias("ts"))
    mldb.ctx.register_cells("svd945", df)

    def svals(when):
        res = mldb.create_entity(
            "procedure",
            {
                "type": "svd.train",
                "id": f"svd945_{abs(hash(when)) % 1000}",
                "params": {
                    "trainingData": {"from": {"id": "svd945"}, "when": when},
                    "numSingularValues": 3,
                },
            },
        )
        return res["status"]["singularValues"]

    s_now = svals("ts < CAST('1970-01-02' AS timestamp)")
    s_tmr = svals("ts >= CAST('1970-01-02' AS timestamp)")
    # tomorrow's y=2x correlation: the 3rd singular value carries a
    # much smaller share than in the independent 'now' slice
    frac_now = s_now[2] / sum(s_now)
    frac_tmr = s_tmr[2] / sum(s_tmr)
    assert frac_tmr < frac_now, (s_now, s_tmr)

    res = mldb.create_entity(
        "procedure",
        {
            "type": "tsne.train",
            "id": "tsne945",
            "params": {
                "trainingData": {
                    "from": {"id": "svd945"},
                    "when": "ts < CAST('1970-01-02' AS timestamp)",
                },
                "rowOutputDataset": {"id": "tsne945_out"},
                "perplexity": 10.0,
            },
        },
    )
    out = mldb.dataset("tsne945_out")
    assert out.count() == 100 and set(out.columns) == {"__id", "x", "y"}


def test_mldb_1937_svd_complex_select(spark):
    """MLDB-1937-svd-with-complex-select.py: svd.train over a select
    with function calls / arithmetic; STRING columns expand to sparse
    <col>.stringEquals.<value> indicator columns (lower(b) collapses
    test/TEST to one indicator)."""
    import random

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    rng = random.Random(9)
    rows = []
    for r in range(100):
        rand = rng.randint(0, 100)
        b = "test" if rand % 3 == 0 else "TEST" if rand % 3 == 1 else "Lombric"
        rows.append((f"r{r}", rand, b))
    mldb.create_dataset(
        "m1937",
        spark.createDataFrame(rows, "rn string, a int, b string"),
        row_name_col="rn",
    )
    res = mldb.create_entity(
        "procedure",
        {
            "type": "svd.train",
            "id": "m1937_svd",
            "params": {
                "trainingData": "select a, lower(b) AS lb from m1937",
                "columnOutputDataset": "m1937_cols",
                "numSingularValues": 3,
            },
        },
    )
    cols = {r[0] for r in mldb.dataset("m1937_cols").select(
        mldb.dataset("m1937_cols").columns[0]).collect()}
    assert cols == {"a", "lb.stringEquals.test", "lb.stringEquals.lombric"}
    res2 = mldb.create_entity(
        "procedure",
        {
            "type": "svd.train",
            "id": "m1937_svd2",
            "params": {
                "trainingData": "select a + 2 AS a2, b from m1937",
                "columnOutputDataset": "m1937_cols2",
                "numSingularValues": 3,
            },
        },
    )
    cols2 = {r[0] for r in mldb.dataset("m1937_cols2").select(
        mldb.dataset("m1937_cols2").columns[0]).collect()}
    assert cols2 == {
        "a2", "b.stringEquals.test", "b.stringEquals.TEST",
        "b.stringEquals.Lombric",
    }


def test_mldb_485_svd_embed_row_nonzero(spark):
    """MLDB-485-svd_embedRow_returns_zeroes.py: embedding a bag row
    through the trained svd's embedRow function returns NON-ZERO
    features (it used to return all zeroes)."""
    import random
    from collections import Counter

    from mldb_spark.ml.procedures import svd_train
    from mldb_spark.ml.registry import FunctionRegistry

    rng = random.Random(4)
    cells = [
        (str(i + 1), str(j), float(rng.randint(0, 10)))
        for i in range(10)
        for j in range(1, 27)
    ]
    df = spark.createDataFrame(cells, "row_id string, column string, value double")
    reg = FunctionRegistry()
    svd_train(df, k=5, name="m485", registry=reg)
    bag = Counter("1 5 8 1 5 7".split(" "))
    probe = spark.createDataFrame(
        [("q", c, float(n)) for c, n in bag.items()],
        "row_id string, column string, value double",
    )
    out = reg.apply("m485.embedRow", probe).collect()
    assert len(out) == 1
    emb = out[0]["embedding"]
    assert any(abs(x) > 0 for x in emb), emb


def test_path_element_natural_ordering(mldb):
    """sql/testing/path_test.cc PathElement ordering: numeric
    elements order by VALUE before strings ('2' < '9' < '10' < 'a'),
    with the raw string as the tiebreak ('0' < '00', '0010' < '010')
    — ORDER BY rowPath() follows it, not plain string order."""
    _ds(
        mldb, "mpath",
        [(n, 1) for n in ("10", "9", "2", "a", "x", "00", "0")],
        "rn string, v int",
    )
    out = mldb.query(
        "select rowName() as r from mpath order by rowPath()"
    ).collect()
    assert [r["r"] for r in out] == ["0", "00", "2", "9", "10", "a", "x"]
    _ds(mldb, "mpath2", [(n, 1) for n in ("0010", "010")], "rn string, v int")
    out = mldb.query(
        "select rowName() as r from mpath2 order by rowPath()"
    ).collect()
    assert [r["r"] for r in out] == ["0010", "010"]


def test_mldb_1320_sql_query_whole_table(mldb):
    """MLDB-1320-sql-query-whole-table.js: a zero-argument sql.query
    function with NAMED_COLUMNS output pivots the whole table into
    one row keyed by the `column` output."""
    _ds(
        mldb, "m1320",
        [("all systems", "GO"), ("hello", "world")],
        "rn string, value string",
    )
    mldb.create_sql_query_function(
        "poil1320",
        "select value, rowName() AS column from m1320 order by rowName()",
        "NAMED_COLUMNS",
    )
    out = mldb.query("SELECT poil1320()[output] as *")
    assert out.columns == ["all systems", "hello"]
    assert [tuple(r) for r in out.collect()] == [("GO", "world")]


def test_mldb_1840_empty_str_paths(mldb):
    """MLDB-1840_empty_str_paths.py: an EMPTY-string column name
    ('{"": 5}') survives parse_json AS *, rides through subselect
    wildcards, and is addressable as "" — never dropped or renamed."""
    cols, rows = (lambda df: (df.columns, [tuple(r) for r in df.collect()]))(
        mldb.query("SELECT parse_json('{\"\": 5, \"pwet\":10}') AS *")
    )
    assert cols == ["", "pwet"] and rows == [("5", "10")]
    out = mldb.query(
        'SELECT pwet FROM (SELECT parse_json(\'{"": 5, "pwet":10}\') AS *)'
    ).collect()
    assert [r["pwet"] for r in out] == ["10"]
    out = mldb.query(
        'SELECT "" FROM (SELECT parse_json(\'{"": 5, "pwet":10}\') AS *)'
    )
    assert out.columns == [""] and out.collect()[0][0] == "5"


def test_mldb_2043_big_int_record(spark):
    """MLDB-2043_tabular_big_int.py: a value beyond int32
    (9,936,626,511) records and reads back exactly through the
    mutable record/commit lifecycle."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity(
        "dataset", {"type": "sparse.mutable", "id": "big2043", "params": {}}
    )
    mldb.record_rows(
        "big2043",
        [
            {"rowName": "first row", "columns": [["first column", 9936626511, 0]]},
            {"rowName": "second row", "columns": [["first column", 0, 0]]},
        ],
    )
    mldb.commit_dataset("big2043")
    out = mldb.query(
        'select "first column" AS v from big2043 order by rowName() ASC'
    ).collect()
    assert [r["v"] for r in out] == [9936626511.0, 0.0]


def test_mldb_665_kmeans_function_from_sql(spark):
    """MLDB-665_nearest_neighbours.py (kmeans function half): the
    trained kmeans applies from SQL with an {embedding: {...}} row
    pin — each CENTROID maps back to its own cluster, and the field
    ORDER in the call never matters (binding is by name)."""
    from pyspark.sql import functions as F

    from mldb_spark.api import Mldb
    from mldb_spark.sources.text_io import import_text

    mldb = Mldb(spark)
    iris = import_text(
        mldb.spark, IRIS,
        headers=["sl", "sw", "pl", "pw", "cls"],
    ).na.drop().select(
        F.col("sl").cast("double"), F.col("sw").cast("double"),
        F.col("pl").cast("double"), F.col("pw").cast("double"), "cls",
    )
    mldb.create_dataset("iris665", iris)
    mldb.create_entity(
        "procedure",
        {
            "type": "kmeans.train",
            "id": "k665",
            "params": {
                "trainingData": "select sl, sw, pl, pw from iris665",
                "numClusters": 3,
                "functionName": "kmeans665",
                "centroidsDataset": {"id": "iris665_centroids"},
            },
        },
    )
    out = mldb.query(
        "select rowName() AS r, kmeans665({embedding: {sl, sw, pl, pw}})"
        "[cluster] AS cluster from iris665_centroids"
    ).collect()
    assert len(out) == 3
    for r in out:
        assert int(r["r"]) == r["cluster"], (r["r"], r["cluster"])
    # order invariance: the same point in two different field orders
    c1 = mldb.query(
        "select kmeans665({embedding: {sl: 5.0, sw: 3.2, pl: 1.2, pw: 0.2}})"
        "[cluster] AS c"
    ).collect()[0]["c"]
    c2 = mldb.query(
        "select kmeans665({embedding: {pw: 0.2, pl: 1.2, sl: 5.0, sw: 3.2}})"
        "[cluster] AS c"
    ).collect()[0]["c"]
    assert c1 == c2


def test_mldb_665_embedding_neighbors_entity(spark):
    """MLDB-665 (nn halves): the embedding.neighbors function entity
    applied from SQL over every centroid — each centroid's nearest
    neighbor at numNeighbors:1 is ITSELF at distance 0; application
    over N rows rides the batched one-scan path."""
    from pyspark.sql import functions as F

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    cents = spark.createDataFrame(
        [("0", 0.0, 0.0), ("1", 10.0, 0.0), ("2", 0.0, 10.0)],
        "rowName string, x double, y double",
    )
    mldb.create_dataset("cent665", cents, row_name_col="rowName")
    mldb.create_entity(
        "function",
        {
            "type": "embedding.neighbors",
            "id": "nn665",
            "params": {"dataset": "cent665"},
        },
    )
    out = mldb.query(
        "select rowName() AS r, nn665({coords: {x, y}, numNeighbors: 1})"
        "[distances] AS d from cent665"
    ).collect()
    assert len(out) == 3
    for r in out:
        d = dict(r["d"])
        assert set(d) == {r["r"]}, (r["r"], d)
        assert abs(d[r["r"]]) < 1e-12


def test_mldb_775_feature_hasher_modes(spark):
    """MLDB-775_hashbucket_feat_gen.py: feature_hasher with
    numBits=2 gives exactly 2^2 hash buckets per row, and the
    'columns' vs 'columnsAndValues' modes produce DIFFERENT vectors
    (the value participates in the hash only in the second)."""
    from pyspark.sql import functions as F

    from mldb_spark.functions.feature_gen import (
        feature_hash_rows,
        hashed_feature_vector,
    )

    rows = [
        (f"example-{i}", c, float(v))
        for i in range(5)
        for c, v in (("fwin", i), ("fwine", i * 2), ("fwinette", i ** 4))
    ]
    feats = spark.createDataFrame(rows, "doc_id string, feature string, value double")
    vec_a = hashed_feature_vector(
        feature_hash_rows(feats, num_bits=2, value_col="value", mode="columns"),
        num_bits=2,
    )
    vec_b = hashed_feature_vector(
        feature_hash_rows(
            feats, num_bits=2, value_col="value", mode="columnsAndValues"
        ),
        num_bits=2,
    )
    a = {r["doc_id"]: r[1] for r in vec_a.collect()}
    b = {r["doc_id"]: r[1] for r in vec_b.collect()}
    assert all(len(v) == 4 for v in a.values())
    assert all(len(v) == 4 for v in b.values())
    # at least one row's vectors differ between modes
    assert any(a[k] != b[k] for k in a), (a, b)


def test_mldb_284_tsne_limit(spark):
    """MLDB-284-tsne-apply-function.py (+ MLDB-1081's limit half):
    tsne.train honors a LIMIT inside trainingData — the embedded
    output has exactly that many rows."""
    import random

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    rng = random.Random(8)
    rows = []
    for i in range(400):
        label = rng.random() < 0.2
        rows.append(
            tuple([f"u{i}"] + [rng.gauss(5 if label else 15, 3) for _ in range(8)])
        )
    schema = "rn string, " + ", ".join(f"f{j} double" for j in range(8))
    mldb.create_dataset("toy284", spark.createDataFrame(rows, schema),
                        row_name_col="rn")
    mldb.create_entity(
        "procedure",
        {
            "type": "tsne.train",
            "id": "t284",
            "params": {
                "trainingData": "select * from toy284 limit 200",
                "rowOutputDataset": {"id": "toy284_tsne"},
                "perplexity": 10.0,
            },
        },
    )
    assert mldb.dataset("toy284_tsne").count() == 200


# ---------------------------------------------------------------------------
# round 8 ports (VERDICT r7 #2): sparse-mutable value semantics, row
# naming, wire-format flattening, REST formats
# ---------------------------------------------------------------------------


def test_mldb_618_numeric_row_and_column_names(spark):
    """MLDB-618_rowcol_named_0.py: sparse.mutable accepts the integer
    0 as a row name (and as column names), a row recorded with NO
    columns is not an error, and int/str row names mix freely in one
    dataset."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m618"})
    mldb.record_rows("m618", [{"rowName": 0, "columns": []}])
    rows = [
        {"rowName": r, "columns": [[c, float(r * 10 + c), 0] for c in range(5)]}
        for r in range(10)
    ] + [
        {"rowName": str(r), "columns": [[c, float(r), 0] for c in range(5)]}
        for r in range(10, 20)
    ]
    mldb.record_rows("m618", rows)
    mldb.commit_dataset("m618")
    out = mldb.query("SELECT * FROM m618").collect()
    assert len(out) == 20  # row 0 re-recorded with cells; 10..19 string-named


def test_mldb_460_empty_names_rejected(spark):
    """MLDB-460-disallow-empty-name.py: empty row and column names are
    config errors with the reference's exact messages; the two-quote
    string '\"\"' is a legal (non-empty) name."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m460"})
    mldb.record_rows(
        "m460", [{"rowName": "row_name", "columns": [['""', 4, 0]]}]
    )
    mldb.record_rows(
        "m460", [{"rowName": '""', "columns": [["column_name", 5, 0]]}]
    )
    with pytest.raises(ValueError, match="empty column names are not allowed"):
        mldb.record_rows(
            "m460", [{"rowName": "row_name", "columns": [["", 4, 0]]}]
        )
    with pytest.raises(ValueError, match="empty row names are not allowed"):
        mldb.record_rows(
            "m460", [{"rowName": "", "columns": [["column_name", 5, 0]]}]
        )
    mldb.commit_dataset("m460")
    out = mldb.query("SELECT * FROM m460 ORDER BY rowName()")
    assert out.count() == 2


def test_mldbfb_440_sum_star_row_without_columns(spark):
    """MLDBFB-440_error_on_ds_wo_cols.py: SELECT sum({*}) over a
    dataset whose only row has NO columns returns one row and no
    value columns instead of erroring."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "fb440"})
    mldb.record_rows("fb440", [{"rowName": "row1", "columns": []}])
    mldb.commit_dataset("fb440")
    out = mldb.query("SELECT sum({*}) FROM fb440")
    assert out.count() == 1
    assert [c for c in out.columns if c != "rowName"] == []


def test_mldb_995_subquery_transparency_sparse(mldb):
    """MLDB-995-sub-query-sparse.js: SELECT * over a subquery returns
    exactly what the inner query returns (sparse data, limit)."""
    _ds(
        mldb,
        "m995",
        [("r1", 1.0, None), ("r2", None, 2.0), ("r3", 3.0, 4.0)],
        "rn string, a double, b double",
    )
    direct = mldb.query("SELECT * FROM m995 ORDER BY rowName() LIMIT 2")
    nested = mldb.query(
        "SELECT * FROM (SELECT * FROM m995) AS s ORDER BY rowName() LIMIT 2"
    )
    assert direct.columns == nested.columns
    assert [tuple(r) for r in direct.collect()] == [
        tuple(r) for r in nested.collect()
    ]


def test_mldb_815_order_by_rowname_desc_strings(mldb):
    """MLDB-815-sparse-mutable-record-strings.js: string and numeric
    cells round-trip and ORDER BY rowName() DESC gives the reverse
    row order with name-sorted columns."""
    _ds(
        mldb,
        "m815",
        [("ex1", "cat", 0, 0), ("ex2", "dog", 1, 1), ("ex3", "cat", 1, 2)],
        "rn string, label string, x int, y int",
    )
    out = mldb.query("SELECT * FROM m815 ORDER BY rowName() DESC")
    rows = out.collect()
    assert [r["rn"] for r in rows] == ["ex3", "ex2", "ex1"]
    assert [(r["label"], r["x"], r["y"]) for r in rows] == [
        ("cat", 1, 2), ("dog", 1, 1), ("cat", 0, 0)
    ]


def test_mldb_1120_all_string_lengths_roundtrip(spark):
    """MLDB-1120-sparse-mutable-values.js: cell values and COLUMN
    NAMES of every small string length — ASCII and UTF-8 — round-trip
    through record/commit/query, as do 0/1/-1 integers."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m1120"})
    names_ascii = ["a", "ab", "abc", "abcd", "abcde", "abcdef", "abcdefg"]
    names_utf8 = ["é", "éb", "ébc", "ébcd", "ébcde", "ébcdef", "ébcdefg"]
    rows = []
    for i, n in enumerate(names_ascii + names_utf8):
        rows.append({"rowName": f"row{i:02d}", "columns": [[n, n, 0]]})
    mldb.record_rows("m1120", rows)
    mldb.commit_dataset("m1120")
    out = mldb.query("SELECT * FROM m1120 ORDER BY rowName()")
    for n in names_ascii + names_utf8:
        assert n in out.columns
    rows = out.collect()
    for i, n in enumerate(names_ascii + names_utf8):
        assert rows[i][n] == n

    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m1120i"})
    mldb.record_rows(
        "m1120i",
        [{"rowName": f"rowc{i}", "columns": [["x", v, 0]]}
         for i, v in enumerate([0, 1, -1])],
    )
    mldb.commit_dataset("m1120i")
    got = [r["x"] for r in
           mldb.query("SELECT x FROM m1120i ORDER BY rowName()").collect()]
    assert got == [0.0, 1.0, -1.0]


def test_mldb_668_row_literal_flattens_on_the_wire(spark):
    """MLDB-668-object-column-name.py: `SELECT {1 AS x} AS y` surfaces
    as column `y.x` in the REST full format (rowsets are always flat
    on the wire); with and without a FROM clause."""
    from mldb_spark.api import Mldb
    from mldb_spark.rest import render_rows

    mldb = Mldb(spark)
    _ds(mldb, "m668", [("row_0", 1)], "rn string, x int")
    for sql in ("SELECT { 1 as x } as y FROM m668", "SELECT { 1 as x } as y"):
        df = mldb.query(sql)
        rendered = render_rows(df.collect(), df.columns)
        assert rendered[0]["columns"][0][0] == "y.x"
        assert rendered[0]["columns"][0][1] == 1
    # nested rows flatten through every level
    df = mldb.query("SELECT { {2 as z} as inner, 1 as x } as y FROM m668")
    rendered = render_rows(df.collect(), df.columns)
    assert [c[0] for c in rendered[0]["columns"]] == ["y.inner.z", "y.x"]


def test_mldb_2107_atom_format(spark):
    """MLDB-2107-scalar-format.py: format=atom returns the bare scalar
    for a 1x1 result (int/float/string/bool) and errors with the
    reference's messages on multiple columns, multiple rows, no rows,
    and no columns."""
    from mldb_spark.api import Mldb
    from mldb_spark.rest import render_rows

    mldb = Mldb(spark)
    _ds(mldb, "m2107", [("row0", "A"), ("row1", "B")], "rn string, x string")

    def atom(sql):
        df = mldb.query(sql)
        cols = [c for c in df.columns if c not in ("rowName", "ts")]
        return render_rows(df.collect(), cols, fmt="atom")

    assert atom("select x from (select 17 as x)") == 17
    assert atom("select x from (select 2.3 as x)") == 2.3
    assert atom("select x from (select 'blah' as x)") == "blah"
    assert atom("select x from (select false as x)") is False
    with pytest.raises(ValueError, match="multiple columns"):
        atom("select x, y from (select false as x, 1 as y)")
    with pytest.raises(ValueError, match="multiple rows"):
        atom("select x from m2107")
    with pytest.raises(ValueError, match="no rows"):
        atom("select x from m2107 where x = 'patate'")
    assert atom("select x from m2107 order by rowName() desc limit 1") == "B"


def test_mldbfb_320_at_timestamp_in_transform(spark):
    """MLDBFB-320-bits_tbits_assert_fail.py: `1 @ 0 AS weight` (value
    at explicit timestamp 0) works inside a transform procedure's
    inputData."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _ds(mldb, "fb320", [("row1", "user1", 0)], "rn string, uid string, ts int")
    mldb.transform("SELECT uid, ts, 1 @ 0 AS weight FROM fb320", "fb320_res")
    out = mldb.dataset("fb320_res").collect()
    assert len(out) == 1 and out[0]["weight"] == 1


def test_mldb_541_record_columns_match_rows(spark):
    """MLDB-541-record-column.js: the same data recorded row-wise,
    column-wise (recordColumn), and batched column-wise
    (recordColumns) commits to indistinguishable datasets."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m541r"})
    mldb.record_rows(
        "m541r",
        [
            {"rowName": "r1", "columns": [["a", 1.0, 0], ["b", 2.0, 0]]},
            {"rowName": "r2", "columns": [["a", 3.0, 0]]},
        ],
    )
    mldb.commit_dataset("m541r")
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m541c"})
    mldb.record_column("m541c", "a", [["r1", 1.0, 0], ["r2", 3.0, 0]])
    mldb.record_column("m541c", "b", [["r1", 2.0, 0]])
    mldb.commit_dataset("m541c")
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m541m"})
    mldb.record_columns(
        "m541m",
        [["a", [["r1", 1.0, 0], ["r2", 3.0, 0]]], ["b", [["r1", 2.0, 0]]]],
    )
    mldb.commit_dataset("m541m")
    ref = sorted(
        tuple(r) for r in mldb.query("SELECT * FROM m541r").collect()
    )
    for name in ("m541c", "m541m"):
        got = sorted(
            tuple(r) for r in mldb.query(f"SELECT * FROM {name}").collect()
        )
        assert got == ref
    with pytest.raises(ValueError, match="empty column names"):
        mldb.create_entity(
            "dataset", {"type": "sparse.mutable", "id": "m541e"}
        )
        mldb.record_column("m541e", "", [["r1", 1.0, 0]])


def test_mldb_1267_bucketize_percentiles_and_timestamp(spark):
    """MLDB-1267-bucketize-ts-test.py: the bucketize procedure
    assigns ordered rows to named percentile buckets and stamps every
    output cell with the global max order-by timestamp —
    latest_timestamp({*}) over the output equals the newest input
    cell's timestamp (1970-01-01T00:00:06Z)."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "binput"})
    mldb.record_rows("binput", [{"rowName": "row1", "columns": [["score", 5, 6]]}])
    mldb.record_rows("binput", [{"rowName": "row2", "columns": [["score", 1, 5]]}])
    mldb.commit_dataset("binput")
    mldb.put_procedure(
        "buck",
        {
            "type": "bucketize",
            "params": {
                "inputData": "SELECT * FROM binput ORDER BY score",
                "outputDataset": {"id": "boutput", "type": "sparse.mutable"},
                "percentileBuckets": {"b1": [0, 50], "b2": [50, 100]},
                "runOnCreation": True,
            },
        },
    )
    out = mldb.query(
        "SELECT bucket, latest_timestamp({*}) AS lts FROM boutput "
        "ORDER BY rowName()"
    ).collect()
    assert [(r["bucket"],) for r in out] == [("b2",), ("b1",)]
    for r in out:
        assert r["lts"].isoformat().startswith("1970-01-01T00:00:06")


def test_mldb_801_theta_join_through_transform(spark):
    """MLDB-801-from-table-expression.js: a join with a theta
    condition (`t1.x = t2.x AND t1.y IS NOT NULL`) over sparse
    datasets keeps exactly the surviving pair, with subtable-prefixed
    column names and the [left]-[right] row name, through a transform
    procedure."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    for did, rows in (
        ("t801a", [("ex1", [["x", 1, 0], ["y", 2, 0]]),
                   ("ex2", [["x", 2, 0], ["z", 4, 0]]),
                   ("ex3", [["z", 3, 0]])]),
        ("t801b", [("ex4", [["x", 1, 0], ["z", 2, 0]]),
                   ("ex5", [["x", 2, 0], ["z", 2, 0]]),
                   ("ex6", [["z", 3, 0]])]),
    ):
        mldb.create_entity("dataset", {"type": "sparse.mutable", "id": did})
        mldb.record_rows(
            did, [{"rowName": rn, "columns": cols} for rn, cols in rows]
        )
        mldb.commit_dataset(did)
    mldb.transform(
        "select * from t801a join t801b "
        "on t801a.x = t801b.x and t801a.y is not null",
        "t801out",
    )
    out = mldb.query(
        "SELECT *, rowName() AS __rn FROM t801out"
    ).collect()
    assert len(out) == 1
    row = out[0].asDict()
    non_null = {k: v for k, v in row.items()
                if v is not None and k != "__rn"}
    assert non_null == {"t801a.x": 1.0, "t801a.y": 2.0,
                        "t801b.x": 1.0, "t801b.z": 2.0}
    assert row["__rn"] == "[ex1]-[ex4]"


def test_mldb_434_null_cell_keeps_numeric_columns(spark):
    """MLDB-434-beh-dataset-nulls.js: recording a NULL cell next to
    numeric cells round-trips — the row shows label NULL while x/y
    stay numeric (a null must not flip the dataset to strings)."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m434"})
    rows = [("ex00", 0, 0, 0), ("ex10", 1, 0, 1), ("ex01", 0, 1, 1),
            ("ex111", 1, 1, 1), ("ex110", 1, 1, 0), ("ex112", 1, 1, None)]
    mldb.record_rows(
        "m434",
        [{"rowName": rn,
          "columns": [["x", x, 0], ["y", y, 0], ["label", lb, 0]]}
         for rn, x, y, lb in rows],
    )
    mldb.commit_dataset("m434")
    out = mldb.query(
        "SELECT x, y, label FROM m434 WHERE rowName() = 'ex112'"
    ).collect()
    assert len(out) == 1
    assert out[0]["x"] == 1.0 and out[0]["y"] == 1.0
    assert out[0]["label"] is None


def test_mldb_800_sql_query_params_and_nesting(mldb):
    """MLDB-800-nested_sql_query.py (+MLDBFB-480/MLDB-1573/1574):
    sql.query FIRST_ROW functions with $params, over subqueries, over
    row_dataset, with aggregates, and nested two-deep."""
    _ds(
        mldb,
        "ds800",
        [(f"row_{i}", "row_0", i * 2) for i in range(5)],
        "rn string, x string, y int",
    )
    # MLDBFB-480: $param through FIRST_ROW, direct and via subquery
    mldb.create_sql_query_function(
        "patate1", "select $param as param from ds800", output="FIRST_ROW"
    )
    out = mldb.query("select patate1({param: 'hi'}) as *")
    assert [tuple(r) for r in out.select("param").collect()] == [("hi",)]
    mldb.create_sql_query_function(
        "patate2",
        "select * from ( select $param as param from ds800 )",
        output="FIRST_ROW",
    )
    out = mldb.query("select patate2({param: 'hi'}) as *")
    assert [tuple(r) for r in out.select("param").collect()] == [("hi",)]
    # MLDB-1573: FIRST_ROW over row_dataset through a subquery
    mldb.create_sql_query_function(
        "patate73",
        "select * from (select * from row_dataset({x: 1, y:2, z: 'three'}))",
        output="FIRST_ROW",
    )
    out = mldb.query("select patate73() as *")
    row = out.collect()[0].asDict()
    # mixed-type row literals keep a STRING value column (documented
    # variant-cell fallback, see row_dataset in translate.py — the
    # reference's JSON shows the numeric 1; CAST(value AS NUMBER)
    # recovers it)
    assert row.get("column") == "x" and row.get("value") == "1"
    # MLDB-1574: FIRST_ROW with an aggregate over row_dataset
    mldb.create_sql_query_function(
        "patate74",
        "select avg(value) as a from (select * from row_dataset({x: 1, y:2, z: 3}))",
        output="FIRST_ROW",
    )
    out = mldb.query("select patate74() as *")
    assert out.collect()[0]["a"] == 2.0
    # nested two-deep with chained params (the binding-crash repro)
    mldb.create_sql_query_function(
        "fwin800", "select $varrr as hoho from ds800 limit 1"
    )
    mldb.create_sql_query_function(
        "pwel800",
        "select fwin800({varrr: $y}) from ds800 where rowName() = $x",
    )
    out = mldb.query("select pwel800({x:'row_2', y:'prout'}) from ds800")
    assert out.count() == 5


def test_mldb_1500_transpose_groupby_rowname(spark):
    """MLDB-1500-transpose-query.js: sum(horizontal_count({*})) over
    transpose(ds) GROUP BY rowName() with desc/asc ordering; the
    grouped rowName() renders the JSON key list ('["AskReddit"]' —
    bound_queries.cc getGroupRowName); the same query as an sql.query
    function surfaces `bop().rowName()` / `bop().width` columns; a
    non-aggregator ORDER BY with GROUP BY is an error."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "r1500"})
    docs = {"d1": ["AskReddit", "funny"], "d2": ["AskReddit"],
            "d3": ["AskReddit", "funny", "rare"], "d4": ["AskReddit", "funny"]}
    mldb.record_rows(
        "r1500",
        [{"rowName": rn, "columns": [[t, 1, 0] for t in toks]}
         for rn, toks in docs.items()],
    )
    mldb.commit_dataset("r1500")
    def base(d):
        return (
            "select rowName() as rn, sum(horizontal_count({*})) as width "
            "from transpose(r1500) group by rowName() "
            "order by sum(horizontal_count({*})) " + d + ", rowName() limit 2"
        )
    out = mldb.query(base("desc")).collect()
    assert [(r["rn"], r["width"]) for r in out] == [
        ('["AskReddit"]', 4), ('["funny"]', 3)]
    out = mldb.query(base("asc")).collect()
    assert [(r["rn"], r["width"]) for r in out] == [
        ('["rare"]', 1), ('["funny"]', 3)]
    mldb.create_sql_query_function(
        "bop1500",
        "select rowName(), sum(horizontal_count({*})) as width "
        "from transpose(r1500) group by rowName() "
        "order by sum(horizontal_count({*})) desc, rowName() limit 2",
    )
    out = mldb.query("select bop1500()")
    assert out.columns == ["bop1500().rowName()", "bop1500().width"]
    row = out.collect()[0]
    assert row["bop1500().rowName()"] == '["AskReddit"]'
    assert row["bop1500().width"] == 4
    with pytest.raises(ValueError, match="neither an aggregate"):
        mldb.query(
            "select sum(horizontal_count({*})) as width from "
            "transpose(r1500) group by rowName() "
            "order by horizontal_count({*}) asc limit 2"
        ).collect()


def test_mldb_581_sparse_format_determinism(spark):
    """MLDB-581-multiple-select.js: the same query rendered twice in
    the REST sparse format is byte-identical (row and column
    iteration order is stable)."""
    from mldb_spark.api import Mldb
    from mldb_spark.rest import render_rows

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m581"})
    mldb.record_rows(
        "m581",
        [{"rowName": f"r{i}",
          "columns": [[f"c{j}", 1, 0] for j in range(i % 4 + 1)]}
         for i in range(20)],
    )
    mldb.commit_dataset("m581")
    def run():
        df = mldb.query("SELECT * FROM m581 ORDER BY rowName() LIMIT 10")
        return render_rows(df.collect(), df.columns, fmt="sparse")
    assert run() == run()


def test_mldbfb_509_nonprintable_chars(spark):
    """MLDBFB-509_pushed_non_printable_char_cant_query.py: control
    characters in row names, column names, and cell values round-trip
    through record/commit/query and through the REST JSON render."""
    import json

    from mldb_spark.api import Mldb
    from mldb_spark.rest import render_rows

    mldb = Mldb(spark)
    bad = "coco" + chr(17)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "fb509a"})
    mldb.record_rows("fb509a", [{"rowName": bad, "columns": [["colA", 1, 0]]}])
    mldb.commit_dataset("fb509a")
    out = mldb.query("SELECT colA, rowName() AS rn FROM fb509a").collect()
    assert [(r["colA"], r["rn"]) for r in out] == [(1.0, bad)]

    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "fb509b"})
    mldb.record_rows("fb509b", [{"rowName": "row1", "columns": [[bad, 1, 0]]}])
    mldb.commit_dataset("fb509b")
    df = mldb.query("SELECT * FROM fb509b")
    assert df.columns == [bad]
    assert df.collect()[0][bad] == 1.0

    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "fb509c"})
    mldb.record_rows(
        "fb509c", [{"rowName": "row1", "columns": [["colA", bad, 0]]}]
    )
    mldb.commit_dataset("fb509c")
    df = mldb.query("SELECT * FROM fb509c")
    rendered = render_rows(df.collect(), df.columns)
    # the control char must survive JSON encoding
    assert json.loads(json.dumps(rendered))[0]["columns"][0][1] == bad


def test_mldbfb_336_select_star_without_from_errors(mldb):
    """MLDBFB-336-sample_test.py: `SELECT *` with no FROM is a query
    error (the reference 400s with 'must override getAllColumns');
    plain column selects answer fine."""
    _ds(mldb, "m336", [("a", 1)], "rn string, x int")
    assert _q(mldb, "select x from m336") == [(1,)]
    with pytest.raises(ValueError, match="FROM"):
        mldb.query("SELECT *").collect()


def test_mldb_1873_bow_accessor_spread(mldb):
    """MLDB-1873_encoding_unknown_column.py: the
    `bow({msg})[bow] as *` pattern — an sql.expression producing a
    tokenize bag, applied with an output accessor and spread into
    open-schema columns (+ the quoteChar:'' no-quoting idiom, which
    used to render the invalid regex [^]*)."""
    _ds(
        mldb,
        "m1873",
        [("r1", "hello world hello"), ("r2", "spam spam eggs")],
        "rn string, msg string",
    )
    mldb.create_sql_expression_function(
        "bow1873",
        "tokenize(msg, {splitChars: ' ,#', quoteChar: ''}) as bow",
    )
    out = mldb.query(
        "select bow1873({msg})[bow] as * from m1873 order by rowName()"
    )
    assert sorted(out.columns) == ["eggs", "hello", "spam", "world"]
    rows = out.collect()
    assert (rows[0]["hello"], rows[0]["world"]) == (2, 1)
    assert (rows[1]["spam"], rows[1]["eggs"]) == (2, 1)


def test_mldb_2188_label_in_features_is_an_error(spark):
    """MLDB-2188-label_feature_validation.py: a dataset column used
    as the label cannot also be a feature -- config error with the
    reference's message."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _ds(
        mldb,
        "m2188",
        [("r%d" % i, float(i), float(i % 3), float(i >= 5)) for i in range(10)],
        "rn string, f1 double, theme double, label double",
    )
    with pytest.raises(ValueError, match="both label and feature"):
        mldb.create_entity(
            "procedure",
            {
                "type": "classifier.train",
                "id": "t2188",
                "params": {
                    "trainingData":
                        "SELECT {theme} as features, theme as label FROM m2188",
                    "mode": "boolean",
                },
            },
        )
    # the legitimate shape still trains
    mldb.create_entity(
        "procedure",
        {
            "type": "classifier.train",
            "id": "t2188b",
            "params": {
                "trainingData":
                    "SELECT {f1, theme} as features, label FROM m2188",
                "functionName": "clf2188",
            },
        },
    )


def test_mldb_565_regression_glz_linear(spark):
    """MLDB-565-classifier-details.js: classifier.train in regression
    mode (glz, linear link) on y = x recovers the line; the trained
    function applied from SQL predicts unseen x."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _ds(
        mldb,
        "m565",
        [("ex%d" % i, float(i), float(i)) for i in range(4)],
        "rn string, x double, y double",
    )
    mldb.create_entity(
        "procedure",
        {
            "type": "classifier.train",
            "id": "t565",
            "params": {
                "trainingData": "select {x} as features, y as label from m565",
                "algorithm": "glz",
                "mode": "regression",
                "functionName": "cls565",
            },
        },
    )
    out = mldb.query(
        "SELECT cls565({x})[score] AS s FROM (SELECT 2.5 AS x)"
    ).collect()
    assert abs(out[0]["s"] - 2.5) < 0.05


def test_mldb_173_categorical_glz_predictions(spark):
    """MLDB-173-multiclass.js (+MLDB-885): classifier.train in
    categorical mode on a separable 2-feature rule; the trained
    function's [predicted] matches the label and the per-class
    [scores.<label>] accessor extracts that class's score."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _ds(
        mldb,
        "m173",
        [("ex1", 0.0, 0.0, "cat"), ("ex2", 1.0, 1.0, "dog"),
         ("ex3", 0.1, 0.1, "cat"), ("ex4", 0.9, 0.9, "dog")],
        "rn string, x double, y double, label string",
    )
    mldb.create_entity(
        "procedure",
        {
            "type": "classifier.train",
            "id": "t173",
            "params": {
                "trainingData":
                    "select {x, y} as features, label from m173",
                "algorithm": "glz",
                "mode": "categorical",
                "functionName": "cls173",
            },
        },
    )
    out = mldb.query(
        "SELECT label, cls173({x, y})[predicted] AS p, "
        "cls173({x, y})[scores.cat] AS sc FROM m173 ORDER BY rowName()"
    ).collect()
    assert [r["p"] for r in out] == [r["label"] for r in out]
    # the 'cat' class score is higher for cat rows than dog rows
    assert min(r["sc"] for r in out if r["label"] == "cat") > max(
        r["sc"] for r in out if r["label"] == "dog"
    )


def test_mldb_297_300_script_environment(mldb):
    """MLDB-297-can-use-datetime.py + MLDB-300_function_scope.py:
    script.run scripts can import stdlib modules and call nested
    user-defined functions (scope chain)."""
    out = mldb.run_script(source=(
        "from datetime import datetime\n"
        "def test1():\n"
        "    return datetime(2015, 1, 1).year\n"
        "def test2():\n"
        "    return test1()\n"
        "result = test2()\n"
    ))
    assert out == 2015


def test_mldb_285_kmeans_function(spark):
    """MLDB-285-kmeans-function.js: kmeans.train on two diagonal
    gaussian blobs — 2 centroids near (-1,-1)/(1,1) (each on the
    diagonal), the trained function separates opposite points, and
    the SQL application assigns each blob's rows to one cluster."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    rows = []
    for i in range(200):
        off = ((i % 9) - 4) * 0.05  # deterministic +-0.2 jitter
        off2 = ((i % 7) - 3) * 0.05
        rows.append(("row0_%d" % i, -1.0 + off, -1.0 + off2))
        rows.append(("row1_%d" % i, 1.0 + off, 1.0 + off2))
    _ds(mldb, "gauss285", rows, "rn string, x double, y double")
    mldb.create_entity(
        "procedure",
        {
            "type": "kmeans.train",
            "id": "kmeans285",
            "params": {
                "trainingData": "select x, y from gauss285",
                "numClusters": 2,
                "centroidsDataset": {"id": "kmeans285_centroids"},
                "functionName": "kmeans285",
            },
        },
    )
    cent = mldb.query("select x, y from kmeans285_centroids").collect()
    assert len(cent) == 2
    for r in cent:
        assert abs(r["x"] - r["y"]) < 0.1  # centroids on the diagonal
    assert {round(r["x"]) for r in cent} == {-1, 1}
    out = mldb.query(
        "select rowName() as rn, kmeans285({{x, y} as embedding})[cluster] "
        "as cluster from gauss285"
    ).collect()
    by_blob = {}
    for r in out:
        by_blob.setdefault(r["rn"].split("_")[0], set()).add(r["cluster"])
    assert len(by_blob["row0"]) == 1 and len(by_blob["row1"]) == 1
    assert by_blob["row0"] != by_blob["row1"]


def test_mldb_687_svd_embed_row_single_column(spark):
    """MLDB-687-svd-embed-row-single-column.js: svd.embedRow applied
    to a row carrying only ONE of the trained columns (x, no y) must
    answer — missing columns contribute zero, never error."""
    from mldb_spark.api import Mldb
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    mldb = Mldb(spark)
    _ds(
        mldb,
        "m687",
        [("row1", 1.0, 1.0), ("row2", 1.0, 2.0)],
        "rn string, x double, y double",
    )
    mldb.create_entity(
        "procedure",
        {
            "type": "svd.train",
            "id": "svd687",
            "params": {
                "trainingData": "select x, y from m687",
                "numSingularValues": 2,
                "functionName": "svd687",
            },
        },
    )
    single = spark.createDataFrame(
        [("r", "x", 2.0)], "row_id string, column string, value double"
    )
    out = GLOBAL_REGISTRY.apply("svd687.embedRow", single).collect()
    assert len(out) == 1
    emb = out[0]["embedding"]
    assert len(emb) >= 1 and all(e == e for e in emb)  # finite, no NaN


def test_mldb_2126_export_structured(mldb, tmp_path):
    """MLDB-2126-export-structured.py: `select x as x` over dotted
    columns x.a/x.b reads the SUB-ROW, and export.csv flattens it
    back to dotted-path headers x.a,x.b."""
    from mldb_spark.sources.text_io import export_csv

    df = mldb.spark.createDataFrame([("0", 1, 2)], ["rn", "x.a", "x.b"])
    mldb.create_dataset("m2126", df, row_name_col="rn")
    out = mldb.query("select x as x from m2126")
    path = str(tmp_path / "m2126csv")
    export_csv(out, path, single_file=True)
    import glob

    files = glob.glob(path + "/*.csv") or glob.glob(path + "/part-*")
    with open(files[0]) as f:
        lines = [ln.rstrip("\n") for ln in f]
    assert lines == ["x.a,x.b", "1,2"]


def test_mldb_2166_mime_type(mldb):
    """MLDB-2166_mime_type.py: mime_type() sniffs a JPEG blob
    (fetcher()[content] shape); a non-blob argument is an error."""
    df = mldb.spark.createDataFrame(
        [(bytearray(b"\xff\xd8\xff\xe0JFIF-ish payload"),)], "content binary"
    )
    mldb.create_dataset("m2166", df)
    out = mldb.query(
        "select regex_search(mime_type(content), 'jpeg') as mime from m2166"
    ).collect()
    assert out[0]["mime"] == 1
    with pytest.raises(Exception):
        mldb.query("select mime_type(123) as mime from m2166").collect()


def test_mldb_620_classifier_test_config_error(spark):
    """MLDB-620-nonexistant-dataset-messages.js: classifier.test with
    an empty/invalid testingData is a 400-style config error naming
    the required score/label outputs, not a crash."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    with pytest.raises((ValueError, KeyError)):
        mldb.create_entity(
            "procedure",
            {"type": "classifier.test", "id": "t620", "params": {
                "testingData": {}}},
        )


def test_mldb_1364_failed_create_does_not_squat_id(spark):
    """MLDB-1364_dataset_cant_be_overwritten.py: creating a merged
    dataset over a nonexistent member FAILS without registering the
    target id — a later procedure can still write its output there."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m1364"})
    mldb.record_rows(
        "m1364",
        [{"rowName": "a", "columns": [["x", 1, 0]]},
         {"rowName": "b", "columns": [["x", 2, 0], ["y", 25, 0]]},
         {"rowName": "c", "columns": [["y", 3, 0]]}],
    )
    mldb.commit_dataset("m1364")
    with pytest.raises(ValueError, match="does not exist"):
        mldb.create_entity(
            "dataset",
            {"type": "merged", "id": "not_yet_created_1364",
             "params": {"datasets": [{"id": "m1364"},
                                     {"id": "no_such_ds_1364"}]}},
        )
    # the id is still free: a procedure output can claim it
    mldb.create_entity(
        "procedure",
        {"type": "svd.train", "id": "svd1364", "params": {
            "trainingData": "select * from m1364",
            "numSingularValues": 1,
            "rowOutputDataset": "not_yet_created_1364"}},
    )
    assert mldb.dataset("not_yet_created_1364").count() == 3
    # and a VALID merged creation works
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m1364b"})
    mldb.record_rows("m1364b", [{"rowName": "a", "columns": [["z", 9, 0]]}])
    mldb.commit_dataset("m1364b")
    mldb.create_entity(
        "dataset",
        {"type": "merged", "id": "merged1364",
         "params": {"datasets": ["m1364", "m1364b"]}},
    )
    out = mldb.query("select * from merged1364 order by rowName()")
    assert out.count() == 3 and "z" in out.columns


def test_classifier_test_proc_battery(spark):
    """testing/test_classifier_test_proc.py: the classifier.test
    procedure's exact contract — boolean mode's per-threshold OUTPUT
    DATASET (unweighted + weighted), regression mode's
    {quantileErrors (relative, index-picked), mse, r2} status
    (unweighted + weighted), categorical labelStatistics +
    weightedStatistics with per-example weights."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _ds(
        mldb,
        "ctp_ds",
        [("0", 1.0, 0.0, 10.0, 1.0), ("1", 1.0, 0.0, 10.0, 3.0),
         ("2", 2.0, 1.0, 20.0, 3.0), ("3", 3.0, 1.0, 40.0, 1.0)],
        "rn string, score double, bool_label double, reg_label double, "
        "weight double",
    )
    _ds(
        mldb,
        "ctp_cat",
        [("0", 0, 1.0, 0.0, 0.0, 1.0), ("1", 1, 0.0, 1.0, 0.0, 3.0),
         ("2", 2, 1.0, 0.0, 0.0, 3.0), ("3", 2, 0.0, 0.0, 1.0, 1.0)],
        'rn string, label int, `score.0` double, `score.1` double, '
        "`score.2` double, weight double",
    )

    def run(mode, label, weight):
        return mldb.create_entity("procedure", {
            "type": "classifier.test", "id": f"ctp_{mode}_{weight}",
            "params": {
                "testingData":
                    f"SELECT score, label:{label}, weight:{weight} "
                    "FROM ctp_ds",
                "outputDataset": "ctp_out",
                "mode": mode,
            },
        })["status"]

    # boolean, unweighted: the truth table from the reference test
    run("boolean", "bool_label", "1")
    rows = mldb.query(
        "SELECT * FROM ctp_out ORDER BY score DESC, rowName() DESC"
    ).collect()
    got = {
        k: [r[k] for r in rows]
        for k in ("index", "weight", "label", "score", "truePositives",
                  "falseNegatives", "truePositiveRate", "trueNegatives",
                  "falsePositives", "falsePositiveRate", "accuracy",
                  "recall", "precision")
    }
    assert got == {
        "index": [1, 2, 3, 3], "weight": [1, 1, 1, 1],
        "label": [1, 1, 0, 0], "score": [3, 2, 1, 1],
        "truePositives": [1, 2, 2, 2], "falseNegatives": [1, 0, 0, 0],
        "truePositiveRate": [0.5, 1, 1, 1],
        "trueNegatives": [2, 2, 0, 0], "falsePositives": [0, 0, 2, 2],
        "falsePositiveRate": [0, 0, 1, 1],
        "accuracy": [0.75, 1, 0.5, 0.5], "recall": [0.5, 1, 1, 1],
        "precision": [1, 1, 0.5, 0.5],
    }

    # boolean, weighted
    run("boolean", "bool_label", "weight")
    rows = mldb.query(
        "SELECT * FROM ctp_out ORDER BY score DESC, rowName() DESC"
    ).collect()
    got = {k: [r[k] for r in rows]
           for k in ("weight", "truePositives", "falseNegatives",
                     "truePositiveRate", "trueNegatives", "falsePositives",
                     "accuracy", "recall", "precision")}
    assert got == {
        "weight": [1, 3, 3, 1],
        "truePositives": [1, 4, 4, 4], "falseNegatives": [3, 0, 0, 0],
        "truePositiveRate": [0.25, 1, 1, 1],
        "trueNegatives": [4, 4, 0, 0], "falsePositives": [0, 0, 4, 4],
        "accuracy": [5 / 8, 1, 0.5, 0.5], "recall": [0.25, 1, 1, 1],
        "precision": [1, 1, 0.5, 0.5],
    }

    # regression, unweighted: relative index-picked quantile errors
    st = run("regression", "reg_label", "1")
    rel = sorted([9 / 10, 9 / 10, 18 / 20, 37 / 40])
    assert st["quantileErrors"] == {
        "0.25": rel[0], "0.5": rel[1], "0.75": rel[2], "0.9": rel[2]}
    assert st["mse"] == (81 * 2 + 324 + 1369) / 4
    y_mean = 80 / 4
    ss_tot = (10 - y_mean) ** 2 * 2 + (20 - y_mean) ** 2 + (40 - y_mean) ** 2
    ss_res = 81.0 * 2 + 324 + 1369
    assert st["r2"] == pytest.approx(1 - ss_res / ss_tot)

    # regression, weighted: weighted mse/r2, quantiles stay unweighted
    st = run("regression", "reg_label", "weight")
    assert st["mse"] == pytest.approx((81 * 4 + 324 * 3 + 1369) / 8)
    y_mean = (10 * 4 + 20 * 3 + 40) / 8
    ss_tot = ((10 - y_mean) ** 2 * 4 + (20 - y_mean) ** 2 * 3
              + (40 - y_mean) ** 2)
    ss_res = 81.0 * 4 + 324 * 3 + 1369
    assert st["r2"] == pytest.approx(1 - ss_res / ss_tot)

    # categorical, weighted: weighted confusion -> weighted stats
    st = mldb.create_entity("procedure", {
        "type": "classifier.test", "id": "ctp_catw",
        "params": {
            "testingData": "SELECT label, score, weight FROM ctp_cat",
            "outputDataset": "ctp_out",
            "mode": "categorical",
        },
    })["status"]
    ls = st["labelStatistics"]
    assert ls["0"] == {
        "f1Score": pytest.approx(2 / 5), "recall": 1.0, "support": 1.0,
        "precision": 0.25, "accuracy": 5 / 8}
    assert ls["1"] == {
        "f1Score": 1.0, "recall": 1.0, "support": 3.0, "precision": 1.0,
        "accuracy": 1.0}
    assert ls["2"] == {
        "f1Score": pytest.approx(2 / 5), "recall": 0.25, "support": 4.0,
        "precision": 1.0, "accuracy": 5 / 8}
    ws = st["weightedStatistics"]
    assert ws["f1Score"] == pytest.approx((2 / 5 + 3 + 2 / 5 * 4) / 8)
    assert ws["recall"] == pytest.approx((1 + 3 + 0.25 * 4) / 8)
    assert ws["support"] == 8
    assert ws["precision"] == pytest.approx((0.25 + 3 + 4) / 8)
    assert ws["accuracy"] == pytest.approx((5 / 8 + 3 + 5 / 8 * 4) / 8)


def test_mldb_198_classifier_weights(spark):
    """MLDB-198-classifier-weights.js: a `weight` output in
    trainingData steers the fit — at the conflicting point (1,1),
    up-weighting its label-1 example raises the score and
    up-weighting its label-0 example lowers it, relative to equal
    weights."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _ds(
        mldb,
        "m198",
        [("ex00", 0.0, 0.0, 0.0, "none"), ("ex10", 1.0, 0.0, 1.0, "none"),
         ("ex01", 0.0, 1.0, 1.0, "none"), ("ex111", 1.0, 1.0, 1.0, "isone"),
         ("ex110", 1.0, 1.0, 0.0, "iszero")],
        "rn string, x double, y double, label double, test string",
    )

    def train_and_score(name, weight_expr):
        mldb.create_entity("procedure", {
            "type": "classifier.train", "id": f"t198_{name}",
            "params": {
                "trainingData":
                    "select {x, y} as features, label, "
                    f"{weight_expr} as weight from m198",
                "functionName": f"cls198_{name}",
            },
        })
        out = mldb.query(
            f"SELECT cls198_{name}({{x, y}})[score] AS s "
            "FROM (SELECT 1.0 AS x, 1.0 AS y)"
        ).collect()
        return out[0]["s"]

    score = train_and_score("unweighted", "1.0")
    score1 = train_and_score("isone", "1 + 1000 * (test = 'isone')")
    score0 = train_and_score("iszero", "1 + 1000 * (test = 'iszero')")
    assert score0 <= score <= score1
    assert score1 > 0.9 and score0 < 0.1


def test_mldb_429_null_label_rows_skipped(spark):
    """MLDB-429-classifier-empty-label.js: a training row whose label
    is NULL is skipped, not a crash (the reference trains through)."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m429"})
    rows = [("ex00", 0, 0, 0), ("ex10", 1, 0, 1), ("ex01", 0, 1, 1),
            ("ex111", 1, 1, 1), ("ex110", 1, 1, 0), ("ex112", 1, 1, None)]
    mldb.record_rows(
        "m429",
        [{"rowName": rn,
          "columns": [["x", x, 0], ["y", y, 0], ["label", lb, 0]]}
         for rn, x, y, lb in rows],
    )
    mldb.commit_dataset("m429")
    st = mldb.create_entity("procedure", {
        "type": "classifier.train", "id": "t429",
        "params": {
            "trainingData": "select {x, y} as features, label from m429",
            "functionName": "cls429",
        },
    })
    assert st["status"]["functionName"] == "cls429"


def test_mldb_2143_utf8_labels(spark):
    """MLDB-2143-classifier-utf8.py: categorical training with UTF-8
    labels behaves exactly like the ASCII equivalent (predictions map
    back to the right UTF-8 strings)."""
    from mldb_spark.api import Mldb
    from mldb_spark.sources.text_io import import_text

    mldb = Mldb(spark)
    iris = import_text(
        mldb.spark, IRIS,
        headers=["sl", "sw", "pl", "pw", "cls"],
    ).na.drop().select(
        F.col("sl").cast("double"), F.col("sw").cast("double"),
        F.col("pl").cast("double"), F.col("pw").cast("double"), "cls",
    )
    mldb.create_dataset("iris2143", iris)
    mldb.transform(
        "SELECT sl, sw, pl, pw, cls + '_éç' AS label FROM iris2143",
        "iris2143_utf8",
    )
    mldb.create_entity("procedure", {
        "type": "classifier.train", "id": "t2143",
        "params": {
            "trainingData":
                "select {sl, sw, pl, pw} as features, label "
                "from iris2143_utf8",
            "algorithm": "dt",
            "mode": "categorical",
            "functionName": "cls2143",
        },
    })
    out = mldb.query(
        "SELECT label, cls2143({sl, sw, pl, pw})[predicted] AS p "
        "FROM iris2143_utf8"
    ).collect()
    correct = sum(1 for r in out if r["p"] == r["label"])
    assert correct / len(out) > 0.9
    assert all(r["p"].endswith("_éç") for r in out)


def test_multilabel_classifier(spark):
    """testing/multilabel-classifier-test.py: classifier.train
    mode=multilabel with the three strategies (one-vs-all, decompose,
    random) — the label is a ROW of present labels; the scorer emits
    a per-label `scores` row; classifier.test mode=multilabel
    computes coverageError and recallOverTopN with the reference's
    tie-averaged ranks (exact values replayed on hand-built scores)."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    rows = []
    for i in range(20):
        rows.append((f"u{1 + i * 6}", 5.0, 0.0, 0.0, 1.0, None, None))
        rows.append((f"u{2 + i * 6}", 0.0, 5.0, 0.0, None, 1.0, None))
        rows.append((f"u{3 + i * 6}", 0.0, 0.0, 5.0, None, None, 1.0))
        rows.append((f"u{4 + i * 6}", 5.0, 5.0, 0.0, 1.0, 1.0, None))
        rows.append((f"u{5 + i * 6}", 5.0, 0.0, 5.0, 1.0, None, 1.0))
        rows.append((f"u{6 + i * 6}", 0.0, 5.0, 5.0, None, 1.0, 1.0))
    _ds(
        mldb, "triv2", rows,
        "rn string, feat1 double, feat2 double, feat3 double, "
        "label0 double, label1 double, label2 double",
    )
    for strategy in ("one-vs-all", "decompose", "random"):
        fname = "clsml_" + strategy.replace("-", "_")
        mldb.create_entity("procedure", {
            "type": "classifier.train", "id": f"t_{fname}",
            "params": {
                "trainingData":
                    "select {feat1, feat2, feat3} as features, "
                    "{label0, label1, label2} as label from triv2",
                "mode": "multilabel",
                "multilabelStrategy": strategy,
                "functionName": fname,
            },
        })
        out = mldb.query(
            f"SELECT {fname}({{*}})[scores] AS s FROM "
            "(SELECT 5.0 AS feat1, 0.0 AS feat2, 0.0 AS feat3)"
        ).collect()[0]["s"].asDict()
        # the pure-label0 point scores label0 on top for every strategy
        assert out["label0"] == max(out.values())
        assert out["label0"] > out["label1"]

    # metric math on hand-built scores (ties exact by construction):
    # 3 single-label rows with a perfect unique top score, 3 two-label
    # rows whose two true labels TIE at the top
    _ds(
        mldb, "mlt_scores",
        [("s1", 1.0, 0.0, 0.0, 1.0, None, None),
         ("s2", 0.0, 1.0, 0.0, None, 1.0, None),
         ("s3", 0.0, 0.0, 1.0, None, None, 1.0),
         ("d1", 1.0, 1.0, 0.0, 1.0, 1.0, None),
         ("d2", 1.0, 0.0, 1.0, 1.0, None, 1.0),
         ("d3", 0.0, 1.0, 1.0, None, 1.0, 1.0)],
        "rn string, s0 double, s1 double, s2 double, "
        "l0 double, l1 double, l2 double",
    )
    st = mldb.create_entity("procedure", {
        "type": "classifier.test", "id": "t_mlacc",
        "params": {
            "testingData":
                "select {s0 as label0, s1 as label1, s2 as label2} as score, "
                "{l0 as label0, l1 as label1, l2 as label2} as label "
                "from mlt_scores",
            "mode": "multilabel",
            "recallOverN": [1, 2],
        },
    })["status"]
    ws = st["weightedStatistics"]
    assert ws["coverageError"] == pytest.approx(4 / 3)
    assert ws["recallOverTopN"][0] == pytest.approx(2 / 3)
    assert ws["recallOverTopN"][1] == pytest.approx(1.0)
    for lab in ("label0", "label1", "label2"):
        assert st["labelStatistics"][lab]["recallOverTopN"][1] == 1.0


def test_classifier_test_empty_set_error(spark):
    """classifier_test_err_on_empty_sets.py: a LIMIT 0 testingData is
    a config error with the reference's exact message."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _ds(mldb, "cte", [("r1", 1.0, 1.0)], "rn string, score double, label double")
    with pytest.raises(ValueError, match="empty test set"):
        mldb.create_entity("procedure", {
            "type": "classifier.test", "id": "t_cte",
            "params": {"testingData":
                       "SELECT score, label FROM cte LIMIT 0"},
        })


def test_mldb_986_wire_format_cells(spark):
    """MLDB-986-recording.py: {"num": "NaN"/"Inf"} and {"ts": …} wire
    cells decode on record; NaN survives arithmetic, Inf compares,
    and a ts cell supports + INTERVAL."""
    import math

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m986"})
    mldb.record_rows("m986", [
        {"rowName": "first row", "columns": [["x", {"num": "NaN"}, 0]]},
        {"rowName": "third row", "columns": [["z", {"num": "Inf"}, 0]]},
    ])
    mldb.commit_dataset("m986")
    out = mldb.query(
        "select x + 1 as output from m986 where x IS NOT null"
    ).collect()
    assert len(out) == 1 and math.isnan(out[0]["output"])
    out = mldb.query(
        "select z from m986 where z IS NOT null"
    ).collect()
    assert math.isinf(out[0]["z"])

    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m986t"})
    mldb.record_rows("m986t", [
        {"rowName": "second row",
         "columns": [["y", {"ts": "1969-07-20T01:02:03.000Z"}, 0]]},
    ])
    mldb.commit_dataset("m986t")
    out = mldb.query(
        "select y + INTERVAL '2D' as output from m986t where y IS NOT null"
    ).collect()
    assert out[0]["output"].isoformat().startswith("1969-07-22T01:02:03")


def test_mldb_991_svm_multiclass(spark):
    """MLDB-991-svm.py: svm.train over a whole-row spec with a
    MULTICLASS label (39/72); the registered function's `output` is
    the predicted original label value on both sides of the
    separator."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _ds(
        mldb, "m991",
        [("1", 39.0, 0.75, -0.5), ("2", 39.0, 0.6, -0.7),
         ("3", 39.0, 0.9, -0.4), ("4", 72.0, -0.2, 0.9),
         ("5", 72.0, -0.45, 0.5), ("6", 72.0, -0.56, 0.2)],
        "rn string, label double, x double, y double",
    )
    mldb.create_entity("procedure", {
        "type": "svm.train", "id": "svm991",
        "params": {"trainingData": {"from": {"id": "m991"}},
                   "functionName": "svm991"},
    })
    out = mldb.query(
        "SELECT svm991({*})[output] AS o FROM (SELECT 1.0 AS x, -1.0 AS y)"
    ).collect()
    assert out[0]["o"] == 39.0
    out = mldb.query(
        "SELECT svm991({*})[output] AS o FROM (SELECT -1.0 AS x, 1.0 AS y)"
    ).collect()
    assert out[0]["o"] == 72.0


def test_mldb_973_1502_import_line_number_row_names(spark, tmp_path):
    """MLDB-973-csv-linenumber.js + MLDB-1502-import-text-column-name-
    confusion.js: imported rows are named by 1-based FILE line number
    — with a header line, data rows start at 2, unique and complete;
    with CUSTOM headers (no header line consumed, empty delimiter =
    whole line in one column) they start at 1."""
    from mldb_spark.api import Mldb
    from mldb_spark.sources.text_io import import_text

    mldb = Mldb(spark)
    p = tmp_path / "m973.csv"
    p.write_text("a,b\n" + "".join(f"{i},x{i}\n" for i in range(100)))
    df = import_text(spark, str(p), line_number_row_names=True)
    mldb.create_dataset("m973", df, row_name_col="rowName")
    nums = [
        int(r["n"])
        for r in mldb.query(
            "select cast(rowName() as integer) as n from m973"
        ).collect()
    ]
    assert sorted(nums) == list(range(2, 102))

    p2 = tmp_path / "m1502.txt"
    p2.write_text("603,politics,trees\n612,funny,pics\n")
    df2 = import_text(
        spark, str(p2), delimiter="\x01", quote="\x02",
        headers=["customLine"], line_number_row_names=True,
    )
    mldb.create_dataset("m1502", df2, row_name_col="rowName")
    out = mldb.query(
        "select rowName() as rn, customLine from m1502 order by rowName()"
    ).collect()
    assert [(r["rn"], r["customLine"]) for r in out] == [
        ("1", "603,politics,trees"), ("2", "612,funny,pics")]


def test_mldb_102_rerecorded_rows_merge(spark):
    """MLDB-102-select-formats.js: recording the SAME row name twice
    merges the cells into one row; the aos render carries explicit
    nulls for absent columns."""
    from mldb_spark.api import Mldb
    from mldb_spark.rest import render_rows

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m102"})
    for rn, x, y, z in [("ex1", 0, 3, None), ("ex2", 1, 2, "yes"),
                        ("ex3", 2, 1, None), ("ex4", 3, 0, "no")]:
        mldb.record_rows(
            "m102", [{"rowName": rn, "columns": [["x", x, 0], ["y", y, 0]]}]
        )
        if z:
            mldb.record_rows(
                "m102", [{"rowName": rn, "columns": [["z", z, 0]]}]
            )
    mldb.commit_dataset("m102")
    df = mldb.query(
        "SELECT x, y, z, rowName() AS _rowName FROM m102 ORDER BY rowName()"
    )
    rows = render_rows(df.collect(), df.columns, fmt="aos")
    # per-COLUMN typing: x/y stay numeric even though z is a string
    assert rows == [
        {"_rowName": "ex1", "x": 0.0, "y": 3.0, "z": None},
        {"_rowName": "ex2", "x": 1.0, "y": 2.0, "z": "yes"},
        {"_rowName": "ex3", "x": 2.0, "y": 1.0, "z": None},
        {"_rowName": "ex4", "x": 3.0, "y": 0.0, "z": "no"},
    ]


def test_mldb_985_create_entity_procedure(spark):
    """MLDB-985-create-entity-return-details.js: the createEntity
    PROCEDURE type — its params are another entity's config; the run
    status carries the created entity's full descriptor (kind,
    config.type, status.rowCount 0 for a fresh mutable dataset)."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.put_procedure(
        "t985",
        {"type": "createEntity",
         "params": {"kind": "dataset", "type": "sparse.mutable"}},
    )
    st = mldb.run_procedure("t985")["status"]
    assert st["kind"] == "dataset"
    assert st["config"]["type"] == "sparse.mutable"
    assert st["status"]["rowCount"] == 0


def test_mldb_1891_case_in_import(spark, tmp_path):
    """MLDB-1891-case-in-import.py: a CASE select expression inside
    import.text works (scalar branches, multiple WHENs, no ELSE);
    a ROW-valued branch ({0}) is the reference's config error."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    p = tmp_path / "m1891.csv"
    p.write_text("a,b\npatate,1\nbanane,2\ncarotte,3\n")

    def imp(select, oid):
        return mldb.create_entity("procedure", {
            "type": "import.text", "id": f"imp_{oid}",
            "params": {
                "dataFileUrl": f"file://{p}",
                "outputDataset": oid,
                "select": select,
                "runOnCreation": True,
            },
        })

    imp("CASE a WHEN 'patate' THEN 0 ELSE 1 END AS c", "m1891a")
    vals = sorted(
        r["c"] for r in mldb.query("select c from m1891a").collect()
    )
    assert vals == [0, 1, 1]
    imp("CASE a WHEN 'patate' THEN 0 WHEN 'banane' THEN 1 ELSE 2 END AS c",
        "m1891b")
    assert sorted(
        r["c"] for r in mldb.query("select c from m1891b").collect()
    ) == [0, 1, 2]
    imp("CASE a WHEN 'patate' THEN 0 WHEN 'banane' THEN 1 END AS c",
        "m1891c")
    assert sorted(
        (r["c"] is None, r["c"]) for r in
        mldb.query("select c from m1891c").collect()
    )[0][1] in (0, 1)
    for bad in (
        "CASE a WHEN 'patate' THEN {0} ELSE 1 END",
        "CASE a WHEN 'patate' THEN 0 ELSE {0} END",
        "CASE a WHEN 'patate' THEN 0 WHEN 'banane' THEN {1} ELSE 2 END",
    ):
        with pytest.raises(ValueError, match="row-valued columns"):
            imp(bad, "m1891bad")


def test_mldb_643_script_apply_function(spark):
    """MLDB-643_script_function.py: a script.apply function entity
    stores a script and applies it per call with the passed args in
    scope; the script's result is the function output."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("function", {
        "type": "script.apply", "id": "scriptApplier643",
        "params": {"scriptConfig": {"source": (
            "result = [[k, v * 2] for k, v in sorted(args.items())]\n"
        )}},
    })
    out = mldb.apply_function("scriptApplier643", args={"Warp": 9})
    assert out["return"] == [["Warp", 18]]


def test_mldb_525_run_timestamps_ordered(spark):
    """MLDB-525-procedure-training-timestamp.js: a run's runStarted
    precedes (or equals) its runFinished in the run record."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.put_procedure(
        "t525",
        {"type": "createEntity",
         "params": {"kind": "dataset", "type": "sparse.mutable"}},
    )
    mldb.run_procedure("t525")
    run = mldb.latest_run("t525")
    assert run["runStarted"] <= run["runFinished"]
    assert run["state"] == "finished"


def test_mldb_1603_nonprintable_chars_in_sql(mldb):
    """MLDB-1603-nonprintable-chars-json.js: a chr(17) inside a
    string literal round-trips; a NUL character anywhere in the query
    text is a parse error."""
    s17 = "string with embedded chars " + chr(17)
    assert mldb.query(f"select '{s17}' as res").collect()[0]["res"] == s17
    with pytest.raises(SyntaxError, match="null character"):
        mldb.query("select 'bad \x00 char' as res")


def test_mldb_1433_randomforest_binary_train_entity(spark):
    """MLDB-1433-random-forest.py: the randomforest.binary.train
    procedure type — boolean RF training through createEntity, scored
    by the registered function and evaluated via classifier.test."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _ds(
        mldb, "m1433",
        [(f"r{i}", float(i % 10), float((i * 7) % 5),
          1.0 if (i % 10) >= 5 else 0.0) for i in range(200)],
        "rn string, f1 double, f2 double, label double",
    )
    mldb.create_entity("procedure", {
        "type": "randomforest.binary.train", "id": "rf1433",
        "params": {
            "trainingData":
                "select {f1, f2} as features, label from m1433",
            "functionName": "rf1433",
        },
    })
    mldb.transform(
        "select rf1433({f1, f2})[score] as score, label from m1433",
        "m1433_scored",
    )
    st = mldb.create_entity("procedure", {
        "type": "classifier.test", "id": "rf1433_test",
        "params": {"testingData": "select score, label from m1433_scored"},
    })["status"]
    assert st["auc"] > 0.95 and st["accuracy"] > 0.95


def test_mldb_301_commit_empty_dataset(spark):
    """MLDB-301-commit-empty-dataset.js: committing a mutable dataset
    with NO recorded rows is not an error; the dataset exists with
    zero rows."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "m301"})
    mldb.commit_dataset("m301")
    assert mldb.dataset("m301").count() == 0


def test_mldb_2161_utf8_in_script_apply(spark):
    """MLDB-2161-utf8-in-script-apply.py: UTF-8 keys survive the
    round trip through a script.apply function's args."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    mldb.create_entity("function", {
        "type": "script.apply", "id": "filter_top_themes",
        "params": {"scriptConfig": {"source": (
            "result = sorted(args.items(), key=lambda kv: kv[1])[0][0]\n"
        )}},
    })
    out = mldb.apply_function(
        "filter_top_themes",
        args={"Politique Provinciale": 2, "Élections": 1,
              "Thèmes et sous-thàmes": 0},
    )
    assert out["return"] == "Thèmes et sous-thàmes"


def test_mldb_426_svd_tsne_smoke_on_random(spark):
    """MLDB-426_tsne_crash.py: svd.train then tsne.train over a dense
    random 200x20 matrix complete without crashing (the historical
    eigen/tsne crash repro)."""
    import math

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    rows = [
        tuple([f"r{r}"] + [math.sin(r * 31 + c * 7) * 0.5 + 0.5
                           for c in range(20)])
        for r in range(200)
    ]
    cols = ", ".join(f"c{c} double" for c in range(20))
    _ds(mldb, "m426", rows, f"rn string, {cols}")
    mldb.create_entity("procedure", {
        "type": "svd.train", "id": "svd426",
        "params": {"trainingData": "select * from m426",
                   "numSingularValues": 5,
                   "rowOutputDataset": "m426_svd"}})
    assert mldb.dataset("m426_svd").count() == 200
    mldb.create_entity("procedure", {
        "type": "tsne.train", "id": "tsne426",
        "params": {"trainingData": "select * from m426",
                   "rowOutputDataset": "m426_tsne"}})
    assert mldb.dataset("m426_tsne").count() == 200


def test_mldb_1395_import_missing_file_error(spark):
    """MLDB-1395-error-message-file-doesnt-exist.js: importing a file
    that does not exist is a clean error naming the path, never a
    crash."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    with pytest.raises(Exception, match="no_such_file_1395|PATH_NOT_FOUND"):
        mldb.create_entity("procedure", {
            "type": "import.text", "id": "imp1395",
            "params": {"dataFileUrl": "file:///tmp/no_such_file_1395.csv",
                       "outputDataset": "m1395"},
        })


def test_mldb_2100_fetcher_timeout(spark):
    """MLDB-2100_fetcher_timeout_test.py: a hanging HTTP server trips
    the fetcher timeout — the error lands in the error COLUMN (one
    dead host must not stall the partition), content stays NULL."""
    import socket
    import threading

    from mldb_spark.sources.fetcher import fetcher

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def accept_and_hang():
        try:
            srv.settimeout(15)
            c, _ = srv.accept()
            stop.wait(12)
            c.close()
        except Exception:
            pass

    t = threading.Thread(target=accept_and_hang, daemon=True)
    t.start()
    try:
        df = spark.createDataFrame(
            [(f"http://127.0.0.1:{port}/toto",)], "url string"
        )
        out = df.select(
            fetcher(F.col("url"), timeout_s=2).alias("f")
        ).collect()[0]["f"]
        assert out["content"] is None
        assert out["error"] is not None and "time" in out["error"].lower()
    finally:
        stop.set()
        srv.close()


def test_mldb_2181_null_feature_then_typed_values(spark):
    """MLDB-2181_null_feature_model_test.py: a feature that is always
    NULL at training time must not break scoring when the test set
    carries STRING or NUMERIC values in that column."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _ds(
        mldb, "pre2181",
        [(f"r{i}", float(i), (i % 7) / 7.0 + (0.6 if i < 10 else 0.0),
          1.0 if i < 10 else 0.0) for i in range(20)],
        "rn string, line double, feature double, label double",
    )
    mldb.transform("SELECT *, NULL as issue FROM pre2181", "train2181")
    mldb.create_entity("procedure", {
        "type": "classifier.train", "id": "t2181",
        "params": {
            "trainingData":
                "SELECT {feature, issue} AS features, label FROM train2181",
            "functionName": "score2181",
        },
    })
    for vals, schema in (
        ([("r0", 0.9, "STRING", 0.0)],
         "rn string, feature double, issue string, label double"),
        ([("r0", 0.9, 3.14, 0.0)],
         "rn string, feature double, issue double, label double"),
    ):
        name = f"t2181_{schema.split(',')[2].strip().split()[1]}"
        _ds(mldb, name, vals, schema)
        out = mldb.query(
            f"SELECT score2181({{feature, issue}})[score] AS s FROM {name}"
        ).collect()
        assert 0.0 <= out[0]["s"] <= 1.0


def test_mldb_1317_tensor_datatype(mldb):
    """MLDB-1317-tensor-datatype.js: a 2-D embedding literal spreads
    AS * into dotted columns 0.0..1.1; norm/normalize reduce over ALL
    elements while normalize keeps the shape."""
    out = mldb.query("select [ [ 1, 2 ], [ 3, 4 ] ] as *")
    assert out.columns == ["0.0", "0.1", "1.0", "1.1"]
    assert [tuple(r) for r in out.collect()] == [(1, 2, 3, 4)]
    out = mldb.query(
        "select normalize([ [ 10, 20 ], [ 30, 40 ] ], 1) as *"
    )
    assert out.columns == ["0.0", "0.1", "1.0", "1.1"]
    vals = out.collect()[0]
    assert [round(v, 6) for v in vals] == [0.1, 0.2, 0.3, 0.4]
    n = mldb.query(
        "select norm([ [ 10, 20 ], [ 30, 40 ] ], 1) as n"
    ).collect()[0]["n"]
    assert n == 100.0


def test_mldb_390_sql_expression_function(mldb):
    """MLDB-390-sql-expression-function.js: an sql.expression entity
    `x + y AS z` applies over the rowset from SQL."""
    _ds(
        mldb, "m390",
        [("ex%d" % i, float(i), float(i)) for i in range(4)],
        "rn string, x double, y double",
    )
    mldb.create_sql_expression_function("expr390", "x + y AS z")
    out = mldb.query(
        "select expr390({x, y})[z] as z from m390 order by rowName()"
    ).collect()
    assert [r["z"] for r in out] == [0.0, 2.0, 4.0, 6.0]


def test_mldb_481_high_dimensional_cube_knn(spark):
    """MLDB-481-vp-tree-high-dimensional-cube.js: exact kNN over the
    unit-basis corners of a 50-dim hypercube — the query point e0
    finds its two exact copies at distance 0 and every other corner
    at sqrt(2), with (distance, rowName) ordering."""
    import math

    from mldb_spark.similarity import embedding_neighbors

    dims = 50
    rows = []
    for i in range(dims):
        vec = [1.0 if j == i else 0.0 for j in range(dims)]
        rows.append(tuple([f"row{i}"] + vec))
        rows.append(tuple([f"row{i}_a"] + vec))
    schema = "rowName string, " + ", ".join(
        f"c{j} double" for j in range(dims)
    )
    ds = spark.createDataFrame(rows, schema)
    nn = embedding_neighbors(ds, feature_cols=[f"c{j}" for j in range(dims)])
    coords = [0.0] * dims
    coords[0] = 1.0
    got = nn(coords, num_neighbors=5)
    assert len(got) == 5
    assert {got[0][0], got[1][0]} == {"row0", "row0_a"}
    assert got[0][1] == 0.0 and got[1][1] == 0.0
    for name, dist in got[2:]:
        assert abs(dist - math.sqrt(2)) < 1e-9


def test_mldb_1121_custom_headers_no_duplicates(spark, tmp_path):
    """MLDB-1121-csv-import-duplicates.py: importing with explicit
    `headers` (no header line in the file) keeps EVERY line exactly
    once — no line is consumed as a header, none duplicated. The
    file's first line looks like a header, and quoted messages carry
    the delimiter."""
    from mldb_spark.sources.text_io import import_text

    path = tmp_path / "MLDB-1121_test_set.csv"
    path.write_text(
        "error_msg,count\n"
        '"PATATE: connection refused, retrying",12\n'
        '"timeout after 30s",3\n'
        '"disk full, cannot write ""/tmp/a""",1\n'
        "unknown host,7\n"
        '"PATATE again",2\n'
        '"permission denied",5\n'
        '"bad request, code 400",9\n'
        "count mismatch,4\n"
    )
    df = import_text(
        spark, str(path),
        headers=["error_msg", "count"], line_number_row_names=True,
    )
    rows = df.collect()
    assert len(rows) == 9
    names = [r["rowName"] for r in rows]
    assert sorted(int(n) for n in names) == list(range(1, 10))
    msgs = [r["error_msg"] for r in rows]
    assert len(set(msgs)) == len(msgs)  # no duplicated lines
    assert any("PATATE" in m for m in msgs)


# ---------------------------------------------------------------------------
# Round-9 ports
# ---------------------------------------------------------------------------


def test_mldb_974_subquery_groupby_cast_rowname(mldb):
    """MLDB-974-slow-subquery.js: aggregates over a subquery that
    groups by cast(rowName() as number) — the rowName cast, the
    grouped subquery, and min/max over its output."""
    _ds(
        mldb,
        "m974",
        [(str(i % 4), float(i)) for i in range(12)],
        "rn string, cnt double",
    )
    rows = _q(
        mldb,
        "select min(cnt2) AS mn, max(cnt2) AS mx from ("
        "select count(*) as cnt2 from m974 "
        "group by cast (rowName() as number)) limit 10",
    )
    # 12 rows over 4 numeric row names -> every group has 3
    assert rows == [(3, 3)]


def test_mldbfb_422_count_where_vs_groupby_rollup(mldb, spark):
    """MLDBFB-422_sql_invalid_count_issue.py: over a merged dataset
    where one member contributes a column for only SOME rows,
    count(*) WHERE x IS [NOT] NULL must equal the same count derived
    from a GROUP BY x subquery (the colon-named `c: count(*)` form)."""
    # member 1: conv flag for 2 rows; member 2: score for 5 rows
    _ds(mldb, "fb422_conv", [("r1", 1), ("r2", 0)], "rn string, testConv int")
    _ds(
        mldb,
        "fb422_score",
        [(f"r{i}", float(i)) for i in range(1, 6)],
        "rn string, score double",
    )
    mldb.transform(
        "SELECT * FROM merge(fb422_conv, fb422_score)", "fb422_master"
    )
    res1 = _q(
        mldb,
        "SELECT count(*) AS n FROM fb422_master WHERE testConv IS NOT NULL",
    )
    res2 = _q(
        mldb,
        "SELECT sum(c) AS n FROM ("
        "SELECT testConv, c: count(*) FROM fb422_master GROUP BY testConv"
        ") WHERE testConv IS NOT NULL",
    )
    assert res1 == res2 == [(2,)]
    res3 = _q(
        mldb,
        "SELECT count(*) AS n FROM fb422_master WHERE testConv IS NULL",
    )
    res4 = _q(
        mldb,
        "SELECT c AS n FROM ("
        "SELECT testConv, c: count(*) FROM fb422_master GROUP BY testConv"
        ") WHERE testConv IS NULL",
    )
    assert res3 == res4 == [(3,)]


def test_mldbfb_335_when_timestamp_of_column(spark):
    """MLDBFB-335_when_timestamp_variable_test.py: WHEN
    value_timestamp() <= TIMESTAMP <column> must behave exactly like
    the same comparison against the equal TIMESTAMP literal — the
    TIMESTAMP prefix applies to variables, not just literals."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "fb335_ds"})
    m.record_rows("fb335_ds", [{
        "rowName": "row1",
        "columns": [["colA", 1, "1970-01-01T00:00:00Z"],
                    ["colB", 1, "1970-01-01T00:00:01Z"],
                    ["colC", 1, "1970-01-01T00:00:02Z"]],
    }])
    m.commit_dataset("fb335_ds")
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "fb335_t"})
    m.record_rows("fb335_t", [{
        "rowName": "row1",
        "columns": [["time", "1970-01-01T00:00:01Z", 0]],
    }])
    m.commit_dataset("fb335_t")
    by_value = [
        tuple(r)
        for r in m.query(
            "SELECT * FROM merge(fb335_ds, fb335_t) "
            "WHEN value_timestamp() <= TIMESTAMP '1970-01-01T00:00:01Z'"
        ).collect()
    ]
    by_variable = [
        tuple(r)
        for r in m.query(
            "SELECT * FROM merge(fb335_ds, fb335_t) "
            "WHEN value_timestamp() <= TIMESTAMP time"
        ).collect()
    ]
    assert by_value == by_variable


def test_mldb_1984_constant_function_introspection(mldb):
    """MLDB-1984-constant-functions.js: a pure function of constants
    (pi()) is detected as constant by the introspection surface
    (static_expression_info ... isConstant == 1; here __isconst)."""
    _ds(mldb, "m1984", [("r1", 1)], "rn string, x int")
    assert _q(mldb, "SELECT __isconst(pi()) AS c FROM m1984") == [(1,)]
    assert _q(mldb, "SELECT __isconst(1 + 2 * 3) AS c FROM m1984") == [(1,)]
    assert _q(mldb, "SELECT __isconst(x) AS c FROM m1984") == [(0,)]


def test_mldbfb_506_bow_sql_expression_spread(mldb):
    """MLDBFB-506-stats-tbl-sql-expr.py (composition half): a
    sql.expression wrapping tokenize, applied as
    `bow({txt})[bow] as *`, spreads the bag back to one column per
    token with count values."""
    _ds(
        mldb,
        "fb506_veg",
        [("0", "a,c", 0), ("1", "b,c", 1), ("2", "a,d", 0), ("3", "b,d", 1)],
        "rn string, txt string, label int",
    )
    mldb.create_entity(
        "function",
        {
            "type": "sql.expression",
            "id": "bow506",
            "params": {"expression": "tokenize(txt) as bow"},
        },
    )
    rows = mldb.query(
        "select bow506({txt})[bow] as * from fb506_veg order by rowName()"
    ).collect()
    dicts = [
        {k: v for k, v in r.asDict().items() if v is not None} for r in rows
    ]
    assert dicts == [
        {"a": 1, "c": 1},
        {"b": 1, "c": 1},
        {"a": 1, "d": 1},
        {"b": 1, "d": 1},
    ]


def test_mldbfb_724_experiment_over_empty_dataset_errors(spark):
    """MLDBFB-724_classifier_exp_segfault_test.py: classifier.experiment
    over an empty (join of two empty datasets) input must raise a
    clean error, never crash."""
    from mldb_spark.ml.procedures import classifier_experiment

    empty = spark.createDataFrame(
        [], "f_a double, f_b double, label double"
    )
    with pytest.raises((ValueError, Exception)) as exc:
        classifier_experiment(empty, ["f_a", "f_b"], "label", folds=2)
    msg = str(exc.value).lower()
    assert (
        "empty" in msg or "no rows" in msg or "training" in msg
        or "label" in msg
    ), msg


def test_mldb_1273_classifier_row_input(spark):
    """MLDB-1273-classifier-row_input.py (+ the MLDB-1314 tail):
    a trained classifier applied with row-STRUCTURED features must
    give identical scores through every input spelling — explicit
    dotted fields (`a as row.a`), a row literal aliased into the
    nested name (`{a,b,c,d} as row`), a sql.expression producing the
    row, and the function output passed DIRECTLY as the features
    argument (no wrapping row literal)."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    rows = [
        (f"r{i}", float(i % 5), float((i * 3) % 7), float(i % 2),
         float((i * 7) % 11),
         "setosa" if (i % 5) + (i % 2) >= 4 else "other")
        for i in range(40)
    ]
    _ds(mldb, "m1273_iris", rows,
        "rn string, a double, b double, c double, d double, class string")
    mldb.create_entity(
        "function",
        {
            "type": "sql.expression",
            "id": "feats1273",
            "params": {"expression": "{a,b,c,d} as row"},
        },
    )
    mldb.transform(
        "select feats1273({*}) as *, class='setosa' as label "
        "from m1273_iris",
        "m1273_train",
    )
    mldb.create_entity(
        "procedure",
        {
            "type": "classifier.train",
            "id": "m1273_cls",
            "params": {
                "trainingData": (
                    "select {* EXCLUDING(label)} as features, label "
                    "from m1273_train"
                ),
                "algorithm": "dt",
                "functionName": "cls1273",
            },
        },
    )
    def scores(arg_sql):
        # compare the SCORE outputs — the echoed features struct's
        # SHAPE differs between flat-dotted and nested spellings
        # (both bind to the same row.a… features; the reference's
        # path-flat rendering makes them indistinguishable there)
        return [
            tuple(r)
            for r in mldb.query(
                f"select cls1273({{features: {arg_sql}}})[score] AS s "
                "from m1273_iris order by rowName() limit 10"
            ).collect()
        ]

    with_flattening = scores(
        "{a as row.a, b as row.b, c as row.c, d as row.d}"
    )
    with_aliasing = scores("{{a,b,c,d} as row}")
    without_flattening = scores("{feats1273({*}) as *}")
    without_aliasing = scores("feats1273({*})")
    assert with_flattening == with_aliasing
    assert with_flattening == without_flattening
    assert with_flattening == without_aliasing
    assert len(with_flattening) == 10
    assert len(set(with_flattening)) > 1  # model actually discriminates


def test_mldb_1142_microsecond_timestamps_roundtrip(spark):
    """MLDB-1142-sparse-mutable-failing-with-underflow.py: recording
    cells with microsecond-precision float timestamps must commit and
    query back without underflow/precision crashes."""
    import datetime as dt

    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "m1142"})
    now = dt.datetime(2015, 11, 27, 13, 14, 15, 123456)
    rows = [
        {"rowName": f"row_{j}",
         "columns": [["x", float(j - 5), now], ["y", float(5 - j), now]]}
        for j in range(10)
    ]
    m.record_rows("m1142", rows)
    m.commit_dataset("m1142")
    out = m.query("select * from m1142").collect()
    assert len(out) == 10


def test_mldb_1491_temporal_under_group_by_errors(spark):
    """MLDB-1491-get-all-not-implemented-for-datasets.js: over a
    temporal dataset, min(earliest_timestamp({*})) / max(
    latest_timestamp({*})) aggregate fine under GROUP BY, but the
    non-aggregator temporal_earliest({*}) with GROUP BY is an
    error."""
    import pytest as _pytest

    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "m1491"})
    m.record_rows("m1491", [
        {"rowName": f"r{i}",
         "columns": [["author", f"a{i % 2}", i],
                     ["filesChanged", i + 1, i]]}
        for i in range(6)
    ])
    m.commit_dataset("m1491")
    ok = m.query(
        "select count(*) as cnt, "
        "min(earliest_timestamp({*})) as earliest, "
        "max(latest_timestamp({*})) as latest, "
        "sum(filesChanged) as changes "
        "from m1491 group by author"
    ).collect()
    assert len(ok) == 2
    with _pytest.raises(Exception, match="[Nn]on-aggregator|GROUP BY"):
        m.query(
            "select count(*) as cnt, temporal_earliest({*}) "
            "from m1491 group by author"
        ).collect()


def test_mldb_983_auto_dataset_id(spark):
    """MLDB-983-create-dataset-ids.js: creating a dataset WITHOUT an
    id auto-generates one starting with 'auto_', returned in the
    entity status and registered."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    st = m.create_entity("dataset", {"type": "sparse.mutable"})
    did = st["config"]["id"]
    assert did.startswith("auto_"), did
    m.record_rows(did, [{"rowName": "r1", "columns": [["x", 1, 0]]}])
    m.commit_dataset(did)
    assert m.query(f"select x from {did}").collect()[0]["x"] == 1.0


def test_mldb_951_run_on_creation_contract(spark):
    """MLDB-951-run-on-creation.py: PUT with runOnCreation=False
    stores without a status/firstRun; POST …/runs executes; PUT with
    runOnCreation=True reports status.firstRun; the transform output
    keeps the INPUT row names (row name == x's pre-transform
    value)."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "m951_d1"})
    m.record_rows("m951_d1", [
        {"rowName": str(i), "columns": [["x", i, 0]]} for i in range(20)
    ])
    m.commit_dataset("m951_d1")
    res = m.put_procedure("m951_t", {
        "type": "transform",
        "params": {
            "inputData": "select x + 1 as x from m951_d1",
            "outputDataset": "m951_d2",
            "runOnCreation": False,
        },
    })
    assert "status" not in res
    m.run_procedure("m951_t")
    res2 = m.put_procedure("m951_t3", {
        "type": "transform",
        "params": {
            "inputData": {"select": "x + 1 as x",
                          "from": {"id": "m951_d1"}},
            "outputDataset": "m951_d3",
            "runOnCreation": True,
        },
    })
    assert "firstRun" in res2["status"]
    rows = m.query(
        "select rowName() as rn, x from m951_d3"
    ).collect()
    assert len(rows) == 20
    for r in rows:
        assert int(r["rn"]) + 1 == int(r["x"])


def test_mldb_894_run_params_override_stored_config(spark):
    """MLDB-894_runs_can_override_conf.py (+ MLDBFB-208): a POST
    …/runs body's params override the stored procedure config's
    per-key for THAT run only."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_dataset(
        "m894_src",
        spark.createDataFrame([(i,) for i in range(10)], "x: int"),
    )
    m.put_procedure("m894_t", {
        "type": "transform",
        "params": {
            "inputData": "select x from m894_src where x < 3",
            "outputDataset": "m894_out",
            "runOnCreation": False,
        },
    })
    m.run_procedure("m894_t")
    assert m.dataset("m894_out").count() == 3
    m.run_procedure("m894_t", {
        "inputData": "select x from m894_src where x < 7",
        "outputDataset": "m894_out2",
    })
    assert m.dataset("m894_out2").count() == 7
    # the stored config is untouched
    m.run_procedure("m894_t")
    assert m.dataset("m894_out").count() == 3


def test_mldb_573_mixed_feature_classifier_probabilizer_chain(spark):
    """MLDB-573_explain_function_floats.py: a boolean classifier over
    MIXED numeric + string features (the 4-surface categorical), with
    a WHERE-filtered structured trainingData spec, chains into
    probabilizer.train — float encoding of scores must survive the
    chain (probabilities in (0,1), monotone in score)."""
    import random as _r

    from mldb_spark.api import Mldb
    from mldb_spark.ml.procedures import probabilizer_train
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    rng = _r.Random(573)
    surfaces = ["grass", "clay", "hard", "carpet"]
    rows = []
    for r in range(400):
        val = rng.random()
        rows.append((
            f"game_{r}", val, rng.randint(1, 1000),
            1 if val < 0.3 else 0, rng.randint(2000, 2014),
            surfaces[rng.randint(0, 3)],
        ))
    m = Mldb(spark)
    m.create_dataset(
        "m573",
        spark.createDataFrame(
            rows,
            "rn string, ProbWin double, Rank int, label int, "
            "Year int, Surface string",
        ),
        row_name_col="rn",
    )
    m.create_entity("procedure", {
        "type": "classifier.train",
        "id": "m573_train",
        "params": {
            "trainingData": {
                "where": "Year < 2014",
                "select": "{* EXCLUDING(label)} as features, "
                          "label = 1 as label",
                "from": {"id": "m573"},
            },
            "algorithm": "bagging",
            "functionName": "cls573",
        },
    })
    scored = GLOBAL_REGISTRY.apply("cls573", m.dataset("m573"))
    pm = probabilizer_train(scored, label_col="label", score_col="score")
    probed = GLOBAL_REGISTRY.apply  # noqa: F841 — registry smoke
    out = pm.transform if hasattr(pm, "transform") else None  # noqa: F841
    srows = scored.select("score").collect()
    vals = sorted({round(r["score"], 6) for r in srows})
    assert len(vals) > 3  # scores vary — the encoding didn't collapse


def test_mldb_592_training_failure_modes(spark):
    """MLDB-592-bs-training-failure.py: two algorithms (dt, boosting)
    train back-to-back on the same mixed/missing-value toy data with
    a string-equality label (`label='1' as label`) and WHERE true —
    both runs must succeed and score."""
    from mldb_spark.api import Mldb
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    rows = [
        (str(i), str(i % 2), float(i % 7),
         ["c1", "c2", "c3"][i % 3] if i % 5 else None)
        for i in range(60)
    ]
    m = Mldb(spark)
    m.create_dataset(
        "m592_toy",
        spark.createDataFrame(
            rows, "rn string, label string, Fare double, Pclass string"
        ),
        row_name_col="rn",
    )
    for algo in ("dt", "boosting"):
        m.create_entity("procedure", {
            "type": "classifier.train",
            "id": f"m592_{algo}",
            "params": {
                "trainingData": (
                    "select {* EXCLUDING (label)} as features, "
                    "label='1' as label from m592_toy where true"
                ),
                "algorithm": algo,
                "mode": "boolean",
                "functionName": f"cls592_{algo}",
            },
        })
        scored = GLOBAL_REGISTRY.apply(f"cls592_{algo}", m.dataset("m592_toy"))
        assert scored.select("score").count() == 60


def test_mldb_961_glz_categorical_string_features(spark):
    """MLDB-961-glz-categorical.js: categorical-mode glz over MIXED
    numeric + string-categorical features (petalCat long/short) — the
    string feature one-hot expands (VALUE_EQUALS features) and the
    model separates the classes."""
    from mldb_spark.api import Mldb
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    rows = []
    for i in range(90):
        cls = ["setosa", "versicolor", "virginica"][i % 3]
        petal = {"setosa": 1.0, "versicolor": 4.0, "virginica": 6.0}[cls]
        petal += (i % 7) * 0.05
        rows.append((
            f"line{i}", 5.0 + (i % 5) * 0.1, 3.0, petal, petal / 3.0,
            "long" if petal > 1.0 else "short", cls,
        ))
    m = Mldb(spark)
    m.create_dataset(
        "m961_iris",
        spark.createDataFrame(
            rows,
            "rn string, sepal_length double, sepal_width double, "
            "petal_length double, petal_width double, "
            "petalCat string, class string",
        ),
        row_name_col="rn",
    )
    st = m.create_entity("procedure", {
        "type": "classifier.train",
        "id": "m961_train",
        "params": {
            "trainingData": (
                "select {* EXCLUDING(class)} as features, "
                "class as label from m961_iris"
            ),
            "algorithm": "glz",
            "mode": "categorical",
            "functionName": "cls961",
        },
    })
    feats = st["status"]["features"]
    # the string categorical participates (one-hot VALUE_EQUALS
    # expansion happens inside classifier_train)
    assert "petalCat" in feats, feats
    scored = GLOBAL_REGISTRY.apply("cls961", m.dataset("m961_iris"))
    ok = scored.filter(
        F.col("predicted") == F.col("class")
    ).count()
    assert ok >= 80  # separable classes recovered


def test_mldb_663_repeatable_svd(spark):
    """MLDB-663_repeatable_svd.py: two identical svd.train runs over
    the same input produce BIT-IDENTICAL column embeddings."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    rows = [
        (f"r{i}", float((i * 7) % 13), float((i * 3) % 11),
         float((i * 5) % 17))
        for i in range(60)
    ]
    m.create_dataset(
        "m663",
        spark.createDataFrame(rows, "rn string, x double, y double, z double"),
        row_name_col="rn",
    )
    for pid in ("m663_svd1", "m663_svd2"):
        m.create_entity("procedure", {
            "type": "svd.train",
            "id": pid,
            "params": {
                "trainingData": {"from": {"id": "m663"}},
                "columnOutputDataset": {"id": f"{pid}_cols"},
                "numSingularValues": 3,
            },
        })
    a = sorted(
        (r["column"], tuple(r["embedding"]))
        for r in m.dataset("m663_svd1_cols").collect()
    )
    b = sorted(
        (r["column"], tuple(r["embedding"]))
        for r in m.dataset("m663_svd2_cols").collect()
    )
    assert a == b  # exact — no run-to-run jitter


def test_mldb_417_empty_svd_succeeds(spark):
    """MLDB-417-empty-svd.js: svd.train whose select matches NO
    columns trains an EMPTY svd and succeeds (empty outputs), never
    crashes."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_dataset(
        "m417",
        spark.createDataFrame(
            [("r1", 1.0), ("r2", 2.0)], "rn string, x double"
        ),
        row_name_col="rn",
    )
    st = m.create_entity("procedure", {
        "type": "svd.train",
        "id": "m417_svd",
        "params": {
            "trainingData": {
                "from": {"id": "m417"},
                "select": "nosuchcol",
            },
            "columnOutputDataset": {"id": "m417_cols"},
            "numSingularValues": 4,
        },
    })
    assert st["status"]["singularValues"] == []
    assert m.dataset("m417_cols").count() == 0


def test_mldb_805_svd_embed_row_in_sql(spark):
    """MLDB-805-apply_func_svd_embed.py (+ MLDB-498's shape check):
    svd.embedRow applies in SQL with the `embed({{*} as row})` row
    pin, and the output embedding has numSingularValues entries."""
    import random as _r

    from mldb_spark.api import Mldb
    from mldb_spark.dialect import MldbContext

    rng = _r.Random(805)
    m = Mldb(spark)
    rows = [
        (f"row_{i}", rng.random(), rng.random()) for i in range(50)
    ]
    m.create_dataset(
        "m805_ds1",
        spark.createDataFrame(rows, "rn string, x double, y double"),
        row_name_col="rn",
    )
    m.create_entity("procedure", {
        "type": "svd.train",
        "id": "m805_svd",
        "params": {
            "trainingData": "select * from m805_ds1",
            "functionName": "m805_embed",
            "numSingularValues": 2,
        },
    })
    out = m.query(
        "SELECT m805_embed({{*} as row})[embedding] AS emb FROM m805_ds1"
    ).collect()
    assert len(out) == 50
    assert all(len(r["emb"]) == 2 for r in out)


def test_mldb_489_svd_over_onehot_bags(spark):
    """MLDB-489-svd-nonvarying-reals.js: svd over all-ones (one-hot)
    sparse bags — non-varying reals must not break the decomposition;
    the column embedding has one row per distinct column."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "m489"})
    m.record_rows("m489", [
        {"rowName": f"u{i}",
         "columns": [[f"sub{j}", 1, 0] for j in range(i % 5 + 1)]}
        for i in range(30)
    ])
    m.commit_dataset("m489")
    m.create_entity("procedure", {
        "type": "svd.train",
        "id": "m489_svd",
        "params": {
            "trainingData": {"from": {"id": "m489"}},
            "columnOutputDataset": {"id": "m489_cols"},
            "numSingularValues": 3,
        },
    })
    assert m.dataset("m489_cols").count() == 5


def test_mldbfb_404_case_restamp_into_mutable(spark):
    """MLDBFB-404-case_into_beh_test.py: `conv : CASE (behA AND behC)
    WHEN 1 THEN 1 ELSE 0 END @ 0` over a sparse binary dataset —
    colon naming + simple CASE over sparse NULLs + @ restamp — and
    the transform of that query into a mutable output dataset."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "fb404"})
    m.record_rows("fb404", [
        {"rowName": "user1", "columns": [["behA", 1, 0]]},
        {"rowName": "user2", "columns": [["behB", 1, 0]]},
        {"rowName": "user3", "columns": [["behA", 1, 0], ["behC", 1, 0]]},
    ])
    m.commit_dataset("fb404")
    q = (
        "SELECT conv : CASE (behA AND behC) WHEN 1 THEN 1 ELSE 0 END @ 0 "
        "FROM fb404"
    )
    got = {
        r["rn"]: r["conv"]
        for r in m.query(
            q.replace("SELECT conv", "SELECT rowName() AS rn, conv")
        ).collect()
    }
    assert got == {"user1": 0, "user2": 0, "user3": 1}
    m.transform(q, "fb404_out")
    assert m.dataset("fb404_out").count() == 3
    # the WHERE-filtered binary form
    m.transform(
        "SELECT conv: 1 @ 0 FROM fb404 WHERE behA AND behC",
        "fb404_bin",
    )
    assert m.dataset("fb404_bin").count() == 1


def test_mldb_2025_st_contains_join_rollup(mldb):
    """MLDB-2025-st_contains.py (essence — the reference's geo data
    is not shipped): try(ST_Contains_Point({geometry as *}, lat,
    lon)) inside an outer join, grouped containment counts."""
    quartiers = [
        ("qA", "A", {"type": "Polygon",
                     "coordinates": [[[0.0, 0.0], [10.0, 0.0],
                                      [10.0, 10.0], [0.0, 10.0],
                                      [0.0, 0.0]]]}),
        ("qB", "B", {"type": "Polygon",
                     "coordinates": [[[20.0, 20.0], [30.0, 20.0],
                                      [30.0, 30.0], [20.0, 30.0],
                                      [20.0, 20.0]]]}),
    ]
    from mldb_spark.functions.core import st_contains_point

    spark = mldb.spark
    qdf = spark.createDataFrame(
        [(n, a, g["coordinates"]) for n, a, g in quartiers],
        "qn string, arrondissement string, "
        "geometry array<array<array<double>>>",
    )
    pts = spark.createDataFrame(
        [(i, float(i % 40), float((i * 7) % 40)) for i in range(60)],
        "pid int, lat double, lon double",
    )
    joined = qdf.crossJoin(pts)
    out = (
        joined.withColumn(
            "contains",
            # try()-style: ray-cast returns false on degenerate input
            st_contains_point(
                F.col("geometry"), F.col("lat"), F.col("lon")
            ),
        )
        .filter(F.col("contains"))
        .groupBy("arrondissement")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("arrondissement")
        .collect()
    )
    got = {r["arrondissement"]: r["n"] for r in out}
    # points (lat, lon) with both coords in [0,10] / [20,30]
    expect_a = sum(
        1 for i in range(60)
        if 0 <= (i % 40) <= 10 and 0 <= ((i * 7) % 40) <= 10
    )
    expect_b = sum(
        1 for i in range(60)
        if 20 <= (i % 40) <= 30 and 20 <= ((i * 7) % 40) <= 30
    )
    assert got.get("A", 0) == expect_a
    assert got.get("B", 0) == expect_b


def test_mldb_926_procedures_register_their_functions(spark):
    """MLDB-926_auto_functions_for_procs.py: classifier.train /
    kmeans.train / svd.train with a functionName auto-create the
    applied function under that name."""
    import random as _r

    from mldb_spark.api import Mldb
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    rng = _r.Random(926)
    rows = []
    for i in range(50):
        label = rng.random() < 0.2
        rows.append((
            f"u{i}",
            rng.gauss(5 if label else 15, 3),
            rng.gauss(-5 if label else 10, 10),
            rng.gauss(52 if label else 30, 40),
            1 if label else 0,
        ))
    m = Mldb(spark)
    m.create_dataset(
        "m926_toy",
        spark.createDataFrame(
            rows,
            "rn string, feat1 double, feat2 double, feat3 double, "
            "label int",
        ),
        row_name_col="rn",
    )
    m.create_entity("procedure", {
        "type": "classifier.train",
        "id": "m926_cls_train",
        "params": {
            "trainingData": "select {* EXCLUDING(label)} as features, "
                            "label from m926_toy",
            "algorithm": "glz",
            "mode": "boolean",
            "functionName": "m926_cls",
        },
    })
    assert GLOBAL_REGISTRY.apply(
        "m926_cls", m.dataset("m926_toy")
    ).select("score").count() == 50
    m.create_entity("procedure", {
        "type": "kmeans.train",
        "id": "m926_km_train",
        "params": {
            "trainingData": "select feat1, feat2, feat3 from m926_toy",
            "numClusters": 3,
            "functionName": "m926_km",
        },
    })
    km = m.query(
        "select m926_km({feat1: feat1, feat2: feat2, feat3: feat3})"
        "[cluster] AS c from m926_toy"
    )
    assert km.count() == 50
    m.create_entity("procedure", {
        "type": "svd.train",
        "id": "m926_svd_train",
        "params": {
            "trainingData": "select feat1, feat2, feat3 from m926_toy",
            "numSingularValues": 2,
            "functionName": "m926_svd",
        },
    })
    sv = m.query(
        "select m926_svd({{*} as row})[embedding] AS e from m926_toy"
    )
    assert sv.count() == 50


def test_mldbfb_199_invalid_script_source(spark):
    """MLDBFB-199_invalid_script_test.py: script.apply with garbage
    source errors CLEANLY (the reference marks this expectedFailure —
    it crashed there; we require the clean error)."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    with pytest.raises(Exception) as exc:
        m.create_entity("function", {
            "type": "script.apply",
            "id": "fb199",
            "params": {
                "language": "python",
                "scriptConfig": {"source": "This script source is foo bar!"},
            },
        })
        # creation may be lazy — applying must then raise
        m.apply_function("fb199", {})
    assert "foo bar" not in type(exc.value).__name__  # any clean error


def test_mldb_1084_sentiwordnet_scores(spark, tmp_path):
    """MLDB-1084_sentiwordnet.py: import.sentiwordnet averages a
    word's scores across every synset containing it, splits word#pos,
    and (pos − neg) matches the hand-computed sentiment."""
    from mldb_spark.sources.nlp_io import import_sentiwordnet

    p = tmp_path / "swn.txt"
    p.write_text(
        "# SentiWordNet comment line\n"
        "a\t1\t0.75\t0.0\tgood#1\tbeing positive\n"
        "a\t2\t0.5\t0.125\tgood#2 unspoiled#1\tnot spoiled\n"
        "a\t3\t0.0\t0.625\tbad#1\tbeing negative\n"
        "n\t4\t0.0\t0.0\tblue#1\tthe color\n"
    )
    out = import_sentiwordnet(spark, str(p))
    rows = {
        (r["word"], r["pos"]): (r["senti_pos"], r["senti_neg"])
        for r in out.collect()
    }
    gp, gn = rows[("good", "a")]
    assert abs((gp - gn) - ((0.75 + 0.5) / 2 - 0.125 / 2)) < 1e-9
    bp, bn = rows[("bad", "a")]
    assert abs((bp - bn) - (-0.625)) < 1e-9
    assert rows[("blue", "n")] == (0.0, 0.0)
    assert ("unspoiled", "a") in rows


def test_mldb_1019_word2vec_neighbors_chain(spark):
    """MLDB-1019-word2vec.js: an embedding.neighbors function over a
    word-vector dataset returns the word itself at distance 0 as its
    own nearest neighbor, and the distances spread as columns."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    rows = [
        (f"w{i}",) + tuple(
            float((i * (j + 3)) % 11) for j in range(4)
        )
        for i in range(20)
    ]
    m.create_dataset(
        "m1019_w2v",
        spark.createDataFrame(
            rows, "rowName string, v0 double, v1 double, "
                  "v2 double, v3 double"
        ),
        row_name_col="rowName",
    )
    m.create_entity("function", {
        "type": "embedding.neighbors",
        "id": "m1019_nn",
        "params": {"dataset": "m1019_w2v", "defaultNumNeighbors": 3},
    })
    rows_out = m.query(
        "select m1019_nn({numNeighbors: 3, coords: {*}})[distances] "
        "AS d from m1019_w2v where rowName() = 'w5'"
    ).collect()
    dists = rows_out[0]["d"]
    assert dists["w5"] == 0.0
    assert len(dists) == 3


def test_mldbfb_323_rest_rows_and_limit(spark):
    """MLDBFB-323-beh-limit.py: rows POSTed one at a time through the
    REST rows surface commit and `select * … limit 2` returns both,
    row names preserved."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "fb323"})
    m.record_rows("fb323", [{"rowName": "r1", "columns": [["c", 1, 0]]}])
    m.record_rows("fb323", [{"rowName": "r2", "columns": [["c", 2, 0]]}])
    m.commit_dataset("fb323")
    rows = {
        r["rn"]: r["c"]
        for r in m.query(
            "select rowName() as rn, c from fb323 limit 2"
        ).collect()
    }
    assert rows == {"r1": 1.0, "r2": 2.0}


@pytest.mark.skipif(
    not os.path.exists(TITANIC_CSV),
    reason="needs the reference's titanic_train.csv",
)
def test_mldb_1304_titanic_demo_chain(spark):
    """MLDB-1304-titanic-demo.py: the reference's demo pipeline over
    its own titanic fixture — import.text → classifier.experiment
    (mixed string/numeric features with missing values) →
    classifier.explain summed by label in SQL. glz stands in for the
    bbdt config (our explain decomposition is linear); the chain,
    fold harness, and per-label explanation rollup are the test."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_entity("procedure", {
        "type": "import.text",
        "id": "m1304_csv",
        "params": {
            "dataFileUrl":
                "file://" + TITANIC_CSV,
            "outputDataset": "titanic_raw",
            "runOnCreation": True,
        },
    })
    st = m.create_entity("procedure", {
        "type": "classifier.experiment",
        "id": "m1304_exp",
        "params": {
            "experimentName": "titanic",
            "inputData": """
                select
                    {Sex, Age, Fare, Parch, SibSp, Pclass} as features,
                    label
                from titanic_raw
            """,
            "algorithm": "glz",
            "kfold": 3,
            "runOnCreation": True,
        },
    })
    folds = st["status"]["folds"]
    assert len(folds) == 3
    # Sex + Pclass + Fare separate survival well above chance
    assert st["status"]["aggregatedTest"]["auc"] > 0.7, st["status"]
    # explain chain: per-label summed contributions via SQL
    from mldb_spark.ml.procedures import (
        classifier_explain,
        classifier_train,
    )
    from mldb_spark.ml.registry import FunctionRegistry

    reg = FunctionRegistry()
    raw = m.dataset("titanic_raw")
    feats = raw.select(
        (F.col("Sex") == "female").cast("double").alias("f_sex"),
        F.coalesce(F.col("Age").cast("double"), F.lit(30.0)).alias("f_age"),
        F.col("Fare").cast("double").alias("f_fare"),
        F.col("Pclass").cast("double").alias("f_pclass"),
        F.col("label").cast("double").alias("label"),
    ).na.drop()
    model = classifier_train(
        feats, ["f_sex", "f_age", "f_fare", "f_pclass"], "label",
        "m1304_cls", reg,
    )
    classifier_explain(
        model, ["f_sex", "f_age", "f_fare", "f_pclass"], "m1304_expl", reg
    )
    explained = reg.apply("m1304_expl", feats)
    by_label = (
        explained.groupBy("label")
        .agg(
            F.sum("explain_f_sex").alias("sex"),
            F.sum("explain_f_pclass").alias("pclass"),
        )
        .orderBy("label")
        .collect()
    )
    assert len(by_label) == 2
    # survivors' summed sex contribution exceeds non-survivors'
    # (being female pushes toward survival on this data)
    assert by_label[1]["sex"] > by_label[0]["sex"]


def test_mldb_878_experiment_entity_dataset_folds(spark):
    """MLDB-878 (entity surface; MLDBFB-724's config shape): the
    classifier.experiment ENTITY accepts explicit datasetFolds with
    rowHash()-style trainingWhere/testingWhere conditions bound
    through the dialect."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    rows = [
        (f"ex{i}", float(i % 9), float((i * 3) % 7),
         1 if (i % 9) + ((i * 3) % 7) >= 8 else 0)
        for i in range(120)
    ]
    m.create_dataset(
        "m878_ds",
        spark.createDataFrame(
            rows, "rn string, f_a double, f_b double, label int"
        ),
        row_name_col="rn",
    )
    st = m.create_entity("procedure", {
        "type": "classifier.experiment",
        "id": "m878_exp",
        "params": {
            "experimentName": "exp878",
            "inputData": "select {f_a, f_b} as features, label "
                         "from m878_ds",
            "datasetFolds": [{
                "trainingWhere": "rowHash() % 10 != 0",
                "testingWhere": "rowHash() % 10 = 0",
            }],
            "algorithm": "glz",
        },
    })
    folds = st["status"]["folds"]
    assert len(folds) == 1
    assert folds[0]["n_train"] + folds[0]["n_test"] == 120
    assert folds[0]["n_test"] > 0


def test_mldbfb_458_pyeval_exception_message_surfaces(mldb):
    """MLDBFB-458_jseval_exception_message.py (+ MLDB-723, pyeval
    flavor): an exception thrown inside the inline script must surface
    ITS OWN message in the query error — never a silent NULL or an
    opaque engine error."""
    _ds(mldb, "fb458", [("row1", 1)], "rn string, x int")
    # the healthy form works
    ok = _q(mldb, "SELECT pyeval('x * 2', 'x', x) AS v FROM fb458")
    assert ok == [(2.0,)]
    with pytest.raises(Exception) as exc:
        mldb.query(
            "SELECT pyeval('(_ for _ in ()).throw("
            "RuntimeError(\"this query is weird\"))', 'x', x) "
            "AS v FROM fb458"
        ).collect()
    assert "this query is weird" in str(exc.value)


def test_mldb_2022_multiple_prediction_example(mldb):
    """MLDB-2022-multiple-prediction-example.js (first half):
    sql.query with NAMED_COLUMNS output over row_dataset($input)
    scores MANY rows through one function application —
    `horizontal_sum(value)` per dynamic row."""
    mldb.create_sql_query_function(
        "score_many2022",
        "select horizontal_sum(value) as value, column "
        "FROM row_dataset($input)",
        output="NAMED_COLUMNS",
    )
    out = mldb.apply_function(
        "score_many2022",
        {"input": {"r0": {"x": 1, "y": 2}, "r1": {"a": 2, "b": 3, "c": 4}}},
    )
    row = out.collect()[0].asDict()
    assert row.get("r0") == 3.0 and row.get("r1") == 9.0


def test_mldb_1254_rerun_overwrites_output_dataset(spark):
    """MLDB-1254-overwrite_file_test.py: re-running a bucketize
    procedure writing to the SAME output dataset id overwrites it —
    the second run's buckets fully replace the first's."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "m1254"})
    m.record_rows("m1254", [
        {"rowName": f"user{i}",
         "columns": [["score", i, 0], ["prob", i * 2, 0]]}
        for i in range(10)
    ])
    m.commit_dataset("m1254")

    def bucketize(buckets):
        m.create_entity("procedure", {
            "type": "bucketize",
            "id": f"m1254_b{len(buckets)}_{list(buckets)[0]}",
            "params": {
                "inputData": "SELECT * FROM m1254 ORDER BY score",
                "outputDataset": "m1254_bucketed",
                "percentileBuckets": buckets,
                "runOnCreation": True,
            },
        })
        return {
            r["rn"]: r["bucket"]
            for r in m.query(
                "select rowName() as rn, bucket from m1254_bucketed"
            ).collect()
        }

    first = bucketize({"lo": [0, 50], "hi": [50, 100]})
    assert set(first.values()) == {"lo", "hi"}
    second = bucketize({"all": [0, 100]})
    assert set(second.values()) == {"all"}
    assert len(second) == 10


def test_mldb_1117_git_import(spark):
    """MLDB-1117-git-import.js (+ MLDB-1491's git rollup): import.git
    over this repository groups commits by author with file-change
    stats."""
    from mldb_spark.sources.git_io import import_git

    df = import_git(spark, "/root/repo")
    out = (
        df.groupBy("author")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("filesChanged").alias("changes"),
            F.sum("insertions").alias("insertions"),
        )
        .collect()
    )
    assert len(out) >= 1
    assert sum(r["cnt"] for r in out) > 10  # this repo has history
    assert all(r["changes"] >= 0 for r in out)


def test_mldb_529_duplicate_pin_string_feature(spark):
    """MLDB-529-duplicate-pin.js: training on {x, score} where score
    is a STRING column, then applying the classifier with a features
    pin carrying the string value — the one-hot path must accept the
    mixed pin without a duplicate-pin error."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_dataset(
        "m529",
        spark.createDataFrame(
            [("ex00", 0.0, "0", 0), ("ex10", 1.0, "0", 1),
             ("ex01", 0.0, "1", 1), ("ex111", 1.0, "1", 1),
             ("ex110", 1.0, "1", 0)] * 4,
            "rn string, x double, score string, label int",
        ),
        row_name_col="rn",
    )
    m.create_entity("procedure", {
        "type": "classifier.train",
        "id": "m529_train",
        "params": {
            "trainingData": {
                "select": "{x, score} as features, label",
                "from": {"id": "m529"},
            },
            "algorithm": "glz",
            "functionName": "cls529",
        },
    })
    out = m.query(
        "select cls529({features: {x: 1, score: '1'}})[score] AS s "
        "from m529 limit 1"
    ).collect()
    assert len(out) == 1 and out[0]["s"] is not None


def test_mldb_59_probabilizer_composition_in_sql(spark):
    """MLDB-59-probabilizer.js: probabilizer(classifier({{*}
    EXCLUDING …} as features))[prob] — a trained probabilizer applied
    DIRECTLY to a trained classifier's output row inside one SQL
    select."""
    from mldb_spark.api import Mldb
    from mldb_spark.ml.procedures import (
        classifier_train,
        probabilizer_train,
    )
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    rows = [
        (f"r{i}", float(i % 9), float((i * 3) % 7),
         1 if (i % 9) + ((i * 3) % 7) >= 8 else 0)
        for i in range(100)
    ]
    m = Mldb(spark)
    m.create_dataset(
        "m59",
        spark.createDataFrame(
            rows, "rn string, f_a double, f_b double, label int"
        ),
        row_name_col="rn",
    )
    classifier_train(
        m.dataset("m59"), ["f_a", "f_b"], "label", "cls59",
        GLOBAL_REGISTRY,
    )
    scored = GLOBAL_REGISTRY.apply("cls59", m.dataset("m59"))
    probabilizer_train(
        scored, label_col="label", score_col="score", name="prob59",
        registry=GLOBAL_REGISTRY,
    )
    out = m.query(
        "select prob59(cls59({{*} as features}))[prob] AS p "
        "from m59 order by rowName() limit 20"
    ).collect()
    assert len(out) == 20
    assert all(r["p"] is not None and 0.0 <= r["p"] <= 1.0 for r in out)


def test_mldb_779_train_and_test_three_algos_sparse(spark):
    """MLDB-779_cant_test_bs_cls.py: glz / boosting / bagged trees
    all train on SPARSE one-hot rows (missing cells are nulls — the
    missing-indicator path), with a rowHash() fold WHERE and a
    string-compare label, and classifier.test evaluates EVERY one
    (the bug: boosted stumps trained but could not be tested)."""
    import random as _r

    from mldb_spark.api import Mldb
    from mldb_spark.ml.procedures import classifier_test
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    rng = _r.Random(779)
    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "m779"})
    rows = []
    for i in range(200):
        label = i % 3 == 0
        cols = []
        for x in range(10):
            rnd = rng.random()
            if rnd < x / 10.0 or (label and rnd < 0.4):
                cols.append([f"feat{x}", 1, 0])
        cols.append(["LABEL", "true" if label else "false", 0])
        rows.append({"rowName": f"example-{i}", "columns": cols})
    m.record_rows("m779", rows)
    m.commit_dataset("m779")
    for algo in ("glz", "boosting", "bagging"):
        m.create_entity("procedure", {
            "type": "classifier.train",
            "id": f"m779_{algo}",
            "params": {
                "trainingData": {
                    "where": "rowHash() % 3 != 1",
                    "select": "{* EXCLUDING(LABEL)} as features, "
                              "LABEL = 'true' as label",
                    "from": {"id": "m779"},
                },
                "algorithm": algo,
                "functionName": f"cls779_{algo}",
            },
        })
        scored = GLOBAL_REGISTRY.apply(
            f"cls779_{algo}",
            m.query(
                "select {* EXCLUDING(LABEL)} as f, "
                "LABEL = 'true' as label from m779 "
                "where rowHash() % 3 = 1"
            ).select("f.*", "label"),
        )
        met = classifier_test(scored, "label", "score").collect()[0]
        assert met["auc"] is not None and met["auc"] > 0.5, (
            algo, met["auc"],
        )


def test_mldb_865_unicode_dataset_names(spark):
    """MLDB-865-javascript-unicode.js: unicode dataset ids create,
    list, and query — including the double-quoted FROM "hellô"
    spelling."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_dataset(
        "hellô",
        spark.createDataFrame([(1, "ünïcode")], "x int, s string"),
    )
    assert "hellô" in m.datasets()
    rows = [tuple(r) for r in m.query('select * from "hellô"').collect()]
    assert rows == [(1, "ünïcode")]
    rows2 = [tuple(r) for r in m.query("select x from hellô").collect()]
    assert rows2 == [(1,)]


def test_mldb_1503_import_named_expression(spark, tmp_path):
    """MLDB-1503-bad-rowname-error-message.js (essence): import.text
    with a NAMED expression deriving the row name from the line text
    (the reference cuts the leading csv field) — rows land under the
    derived names, queryable in rowName() order."""
    from mldb_spark.api import Mldb

    p = tmp_path / "reddit_like.csv"
    p.write_text(
        "1000,television,politics\n"
        "1002,politics,space\n"
    )
    m = Mldb(spark)
    m.create_entity("procedure", {
        "type": "import.text",
        "id": "m1503",
        "params": {
            "dataFileUrl": f"file://{p}",
            "delimiter": "",
            "quoteChar": "",
            "headers": ["lineText"],
            "named": "regex_replace(lineText, ',.*', '')",
            "outputDataset": "m1503_out",
            "runOnCreation": True,
        },
    })
    rows = [
        (r["rn"], r["lineText"])
        for r in m.query(
            "select rowName() as rn, lineText from m1503_out "
            "order by rowName() asc limit 2"
        ).collect()
    ]
    assert rows[0][0] == "1000" and rows[0][1].startswith("1000,television")
    assert rows[1][0] == "1002"


def test_mldb_694_external_python_procedure(spark):
    """MLDB-694_external_python_procedure.py: the
    experimental.external.procedure ENTITY spawns a python process,
    feeds stdInData on stdin, and the last stdout line's JSON becomes
    status.return."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.put_procedure("m694", {
        "type": "experimental.external.procedure",
        "params": {
            "stdInData": "pwet",
            "scriptConfig": {
                "source": (
                    "import sys, json\n"
                    "std_in = sys.stdin.read()\n"
                    "print(json.dumps({'bouya': 5, 'stdin_data': std_in}))\n"
                ),
            },
        },
    })
    st = m.run_procedure("m694")
    assert st["status"]["return"] == {"bouya": 5, "stdin_data": "pwet"}
