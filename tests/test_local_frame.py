"""session.local_frame: driver-side rows enter Spark as an Arrow-built
LocalRelation that reads back exactly as spark.createDataFrame would
build it, and the REST write path plans no Python RDD."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.ml.linalg import Matrices, Vectors
from pyspark.ml.linalg import MatrixUDT, VectorUDT
from pyspark.sql import types as T

from mldb_spark.session import local_frame

_NAN = float("nan")
_INF = float("inf")

_CASES = {
    "scalars": (
        [
            ("a", 1, 1.5, True),
            ("", -(2**40), _NAN, False),
            (None, None, _INF, None),
            ("ü ✓", 0, -_INF, True),
            ("z", 7, None, False),
        ],
        "s string, n bigint, x double, b boolean",
    ),
    "int": ([(1, "x"), (None, "y"), (-3, None)], "cluster int, name string"),
    "timestamp": (
        [
            ("r1", dt.datetime(1970, 1, 1)),
            ("r2", dt.datetime(2015, 6, 1, 12, 30, 5, 123456)),
            ("r3", None),
            ("r4", dt.datetime.utcfromtimestamp(1.5e9)),
        ],
        "row string, ts timestamp",
    ),
    "array_double": (
        [(0, [1.0, _NAN, -_INF]), (1, []), (2, None), (3, [0.25])],
        "cluster int, centroid array<double>",
    ),
    "array_float": (
        [("alpha", [1.0, 2.0, 2.0]), ("beta", [0.1, 3.0, 4.0]), ("nil", None)],
        "word string, vector array<float>",
    ),
    "map_double": (
        [("0", "0", {"a": 1.0, "b": _NAN}), ("1", "1", {}), ("2", "2", None)],
        "rowName string, column string, value map<string,double>",
    ),
    "map_bigint": (
        [("c", {"x": 3, "y": 1}), ("d", {})],
        "column string, most_frequent_items map<string,bigint>",
    ),
    "non_nullable_struct": (
        [(1, 1), (2, 1), (9, 5)],
        T.StructType(
            [
                T.StructField("node", T.LongType(), False),
                T.StructField("component", T.LongType(), False),
            ]
        ),
    ),
    "inferred_names": (
        [("a", 1, 2.5, True, b"\x00\x01"), ("b", None, 3.0, False, None)],
        ["name", "n", "x", "ok", "blob"],
    ),
    "vector_matrix_inferred": (
        [
            (Vectors.dense([1.0, 2.0]), Matrices.dense(2, 2, [1.0, 0.0, 0.0, 1.0])),
            (Vectors.dense([0.5, -1.0]), Matrices.dense(2, 2, [2.0, 0.5, 0.5, 3.0])),
        ],
        ["mean", "cov"],
    ),
    "vector_matrix_struct": (
        [
            (0, Vectors.sparse(3, [1], [4.0]), Matrices.dense(1, 2, [1.0, 2.0])),
            (1, None, None),
        ],
        T.StructType(
            [
                T.StructField("id", T.IntegerType()),
                T.StructField("v", VectorUDT()),
                T.StructField("m", MatrixUDT()),
            ]
        ),
    ),
    "empty": ([], "rowName string, embedding array<double>"),
}


def _canon(v):
    """Row values with NaN made comparable (NaN != NaN breaks ==)."""
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, list):
        return [_canon(x) for x in v]
    if isinstance(v, tuple):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    return v


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("case", sorted(_CASES))
def test_local_frame_matches_create_dataframe(spark, case):
    rows, schema = _CASES[case]
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert _analyzed(got).startswith("LocalRelation"), _analyzed(got)
    assert got.schema == want.schema
    assert [_canon(tuple(r)) for r in got.collect()] == [
        _canon(tuple(r)) for r in want.collect()
    ]


_PYTHON_RDD_NODES = ("LogicalRDD", "ExistingRDD", "PythonRDD", "SerializeFromObject")


def test_rest_write_path_plans_no_python_rdd(spark):
    """recordRows + commit (MLDB's base write primitive) and the
    column_stats frame behind COLUMN EXPR stay JVM-local: a Python RDD
    in either plan puts Python-worker tasks behind every later read."""
    from mldb_spark.api import Mldb
    from mldb_spark.operators.relational import column_stats

    mldb = Mldb(spark)
    mldb.create_entity("dataset", {"type": "sparse.mutable", "id": "lf_pin"})
    mldb.record_rows(
        "lf_pin",
        [
            {"rowName": f"r{i}", "columns": [["x", float(i), 0], ["y", i * 2, 1]]}
            for i in range(4)
        ],
    )
    mldb.commit_dataset("lf_pin")
    cells = mldb.dataset("lf_pin")
    assert _analyzed(cells).startswith("LocalRelation"), _analyzed(cells)

    stats = column_stats(local_frame(spark, [(1, "a"), (2, None)], "n long, s string"))
    read = mldb.query("SELECT x, y FROM lf_pin ORDER BY rowName()")
    for df in (cells, stats, read):
        plan = _analyzed(df)
        assert not [n for n in _PYTHON_RDD_NODES if n in plan], plan
    assert [(r["x"], r["y"]) for r in read.collect()] == [
        (float(i), float(i * 2)) for i in range(4)
    ]
