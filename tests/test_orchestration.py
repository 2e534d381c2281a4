from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_sqlite_sparse_roundtrip(spark, sf_dir, tmp_path):
    from mldb_spark.catalog import load
    from mldb_spark.operators.temporal import events_to_cells
    from mldb_spark.sources.sqlite_io import (
        export_sqlite_sparse,
        import_sqlite_sparse,
    )

    cells = events_to_cells(load(spark, sf_dir, "events")).filter(
        F.col("row").cast("long") < 5
    )
    path = str(tmp_path / "sparse.db")
    n = export_sqlite_sparse(cells, path)
    assert n == cells.count() > 0

    back = import_sqlite_sparse(spark, path)
    assert back.columns == ["row", "column", "value", "ts"]
    want = {
        (r["row"], r["column"], float(r["value"]), r["ts"])
        for r in cells.collect()
    }
    got = {
        (r["row"], r["column"], float(r["value"]), r["ts"])
        for r in back.collect()
    }
    assert got == want

    # idempotent re-export into the same file (INSERT OR IGNORE + the
    # reference's unique byrow index): no duplicate cells appear
    export_sqlite_sparse(cells, path)
    assert import_sqlite_sparse(spark, path).count() == len(want)


def test_sqlite_generic_query(spark, tmp_path):
    import sqlite3

    from mldb_spark.sources.sqlite_io import import_sqlite

    path = str(tmp_path / "t.db")
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (k TEXT, v REAL)")
    con.executemany("INSERT INTO t VALUES (?, ?)", [("a", 1.5), ("b", -2.0)])
    con.commit()
    con.close()
    df = import_sqlite(spark, path, "SELECT k, v FROM t ORDER BY k")
    assert [(r["k"], r["v"]) for r in df.collect()] == [("a", 1.5), ("b", -2.0)]


def test_run_script(spark, sf_dir):
    from mldb_spark.api import Mldb
    from mldb_spark.catalog import load

    mldb = Mldb(spark)
    mldb.create_dataset("nation", load(spark, sf_dir, "nation"))

    # result-variable form
    out = mldb.run_script(source="result = args['x'] * 2", args={"x": 21})
    assert out == 42

    # main(mldb, args) form, using the injected facade
    src = (
        "def main(mldb, args):\n"
        "    df = mldb.query('SELECT count(*) AS n FROM nation')\n"
        "    return df.collect()[0]['n']\n"
    )
    assert mldb.run_script(source=src) == 25

    with pytest.raises(ValueError):
        mldb.run_script()


def test_create_entity(spark, sf_dir):
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    out = mldb.create_entity(
        "dataset",
        {
            "type": "tabular",
            "id": "region",
            "params": {"dataFileUrl": f"{sf_dir}/region.parquet"},
        },
    )
    assert out["kind"] == "dataset" and "r_name" in out["status"]["columns"]
    assert mldb.dataset("region").count() == 5

    mldb.create_entity(
        "procedure",
        {
            "type": "transform",
            "id": "p1",
            "params": {
                "inputData": "SELECT r_name FROM region ORDER BY r_name LIMIT 2",
                "outputDataset": "top2",
            },
        },
    )
    assert [r["r_name"] for r in mldb.dataset("top2").collect()] == [
        "AFRICA",
        "AMERICA",
    ]

    mldb.create_entity(
        "function",
        {
            "type": "sql.expression",
            "id": "up",
            "params": {"expression": "upper(r_name) AS u"},
        },
    )
    res = mldb.apply_function("up", mldb.dataset("top2"))
    assert [r["u"] for r in res.collect()] == ["AFRICA", "AMERICA"]

    with pytest.raises(ValueError):
        mldb.create_entity("dataset", {"type": "nope", "id": "x"})
    with pytest.raises(ValueError):
        mldb.create_entity("gizmo", {"type": "tabular", "id": "x"})


def test_external_procedure():
    from mldb_spark.utilities import external_procedure

    src = (
        "import json, sys\n"
        "data = sys.stdin.read()\n"
        "print('working...')\n"
        "print(json.dumps({'echo': data, 'n': 3}))\n"
    )
    out = external_procedure(source=src, stdin_data="hello")
    assert out["exit_code"] == 0
    assert out["return"] == {"echo": "hello", "n": 3}
    assert out["stdout"] == "working..."

    # non-JSON last line: everything stays in stdout, return is None
    out2 = external_procedure(source="print('plain text only')")
    assert out2["return"] is None and out2["stdout"] == "plain text only"


def _mutable(mldb, eid, etype, rows):
    """Create, record and commit a mutable dataset; the create's result."""
    out = mldb.create_entity("dataset", {"type": etype, "id": eid})
    mldb.record_rows(
        eid,
        [{"rowName": rn, "columns": [[c, v, 0] for c, v in cells]} for rn, cells in rows],
    )
    mldb.commit_dataset(eid)
    return out


def _rows(df):
    return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())


def test_create_entity_transposed(spark):
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    _mutable(mldb, "tr_src", "sparse.mutable",
             [("r1", [("a", 1), ("b", 2)]), ("r2", [("a", 3)])])
    out = mldb.create_entity(
        "dataset", {"type": "transposed", "id": "tr_t", "params": {"dataset": "tr_src"}}
    )
    want = mldb.query("SELECT * FROM transpose(tr_src)")
    got = mldb.query("SELECT * FROM tr_t")
    assert _rows(got) == _rows(want) and len(_rows(got)) == 2
    assert out["status"]["columnCount"] == len(mldb.dataset("tr_t").columns)
    with pytest.raises(ValueError, match="'nope' does not exist"):
        mldb.create_entity(
            "dataset", {"type": "transposed", "id": "tr_x", "params": {"dataset": "nope"}}
        )


@pytest.mark.parametrize("etype", ["beh.mutable", "beh.binary.mutable"])
def test_create_entity_beh_mutable_round_trip(spark, etype):
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    eid = etype.replace(".", "_")
    out = _mutable(mldb, eid, etype, [("u1", [("x", 1), ("y", 2)]), ("u2", [("x", 5)])])
    assert out["status"] == {"rowCount": 0}
    got = {
        r["rn"]: (r["x"], r["y"])
        for r in mldb.query(f"SELECT rowName() AS rn, x, y FROM {eid}").collect()
    }
    assert got == {"u1": (1.0, 2.0), "u2": (5.0, None)}


@pytest.mark.parametrize(
    "etype, direct",
    [("stemmer", "create_stemmer_function"),
     ("filter_stopwords", "create_filter_stopwords_function")],
)
def test_create_entity_text_functions_match_python_api(spark, etype, direct):
    from mldb_spark.api import Mldb
    from mldb_spark.session import local_frame

    mldb = Mldb(spark)
    words = local_frame(
        spark,
        [(1, ["the", "running", "dogs", "are", "jumping"]), (2, ["a", "cats"])],
        "id int, words array<string>",
    )
    mldb.create_entity(
        "function", {"type": etype, "id": "via_entity", "params": {"language": "english"}}
    )
    getattr(mldb, direct)("via_api")
    got = _rows(mldb.apply_function("via_entity", words))
    assert got == _rows(mldb.apply_function("via_api", words))
    assert got != _rows(words)


def test_create_entity_unknown_type_lists_registered_types(spark):
    from mldb_spark.api import _ENTITY_TYPES, Mldb

    mldb = Mldb(spark)
    with pytest.raises(ValueError, match="unknown function type 'nope'") as err:
        mldb.create_entity("function", {"type": "nope", "id": "f"})
    function_types = [t for k, t in _ENTITY_TYPES if k == "function"]
    assert len(function_types) == 7
    assert all(t in str(err.value) for t in function_types)
    assert "transform" not in str(err.value)
