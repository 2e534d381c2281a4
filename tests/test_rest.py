from __future__ import annotations

import json
import os
import urllib.request

import pytest


@pytest.fixture(scope="module")
def server(spark, sf_dir):
    from mldb_spark.api import Mldb
    from mldb_spark.catalog import load
    from mldb_spark.rest import MldbRestServer

    mldb = Mldb(spark)
    mldb.create_dataset("region", load(spark, sf_dir, "region"))
    mldb.create_dataset("nation", load(spark, sf_dir, "nation"))
    srv = MldbRestServer(mldb).start()
    yield srv
    srv.stop()


def _get(server, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{server.port}{path}") as r:
        return r.status, json.loads(r.read())


def _req(server, method, path, body):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=json.dumps(body).encode(),
        method=method,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def test_query_formats(server):
    q = "SELECT r_name FROM region ORDER BY r_name LIMIT 2"
    _, full = _get(server, f"/v1/query?q={q.replace(' ', '%20')}")
    assert full[0]["columns"] == [["r_name", "AFRICA", None]]

    _, aos = _get(server, f"/v1/query?q={q.replace(' ', '%20')}&format=aos")
    assert aos == [{"r_name": "AFRICA"}, {"r_name": "AMERICA"}]

    _, soa = _get(server, f"/v1/query?q={q.replace(' ', '%20')}&format=soa")
    assert soa == {"r_name": ["AFRICA", "AMERICA"]}

    _, table = _get(server, f"/v1/query?q={q.replace(' ', '%20')}&format=table")
    assert table == [["r_name"], ["AFRICA"], ["AMERICA"]]

    _, nohdr = _get(
        server, f"/v1/query?q={q.replace(' ', '%20')}&format=table&headers=0"
    )
    assert nohdr == [["AFRICA"], ["AMERICA"]]


def test_dataset_routes(server):
    _, names = _get(server, "/v1/datasets")
    assert "region" in names and "nation" in names
    _, status = _get(server, "/v1/datasets/region")
    assert status["rowCount"] == 5 and "r_name" in status["columns"]
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/v1/datasets/nope")
    assert e.value.code == 404


def test_create_entities_over_rest(server, sf_dir):
    st, out = _req(
        server,
        "PUT",
        "/v1/datasets/part2",
        {"type": "tabular", "params": {"dataFileUrl": f"{sf_dir}/part.parquet"}},
    )
    assert st == 201 and out["kind"] == "dataset"
    _, names = _get(server, "/v1/datasets")
    assert "part2" in names

    st, _ = _req(
        server,
        "POST",
        "/v1/procedures",
        {
            "type": "transform",
            "id": "t1",
            "params": {
                "inputData": "SELECT count(*) AS n FROM nation",
                "outputDataset": "nation_count",
            },
        },
    )
    assert st == 201
    _, res = _get(server, "/v1/query?q=SELECT%20n%20FROM%20nation_count&format=aos")
    assert res == [{"n": 25}]

    st, _ = _req(
        server,
        "PUT",
        "/v1/functions/shout",
        {"type": "sql.expression", "params": {"expression": "upper(r_name) AS u"}},
    )
    assert st == 201
    _, fns = _get(server, "/v1/functions")
    assert "shout" in fns


def test_query_errors(server):
    # unknown dataset -> 404 (entity-not-found, like the reference's
    # collection lookups); malformed SQL -> 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/v1/query?q=SELECT%20*%20FROM%20missing_table")
    assert e.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/v1/query?q=SELECT%20FROM%20WHERE")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/v1/query")  # missing q
    assert e.value.code == 400


def test_query_in_post_body(server):
    """MLDB-1717_query_select_in_body.py: query parameters may arrive
    in the request body instead of the query string."""
    st, out = _req(
        server,
        "POST",
        "/v1/query",
        {"q": "SELECT r_name FROM region ORDER BY r_name LIMIT 1", "format": "aos"},
    )
    assert st == 200 and out == [{"r_name": "AFRICA"}]


def test_sparse_and_atom_formats(server):
    q = "SELECT r_name FROM region ORDER BY r_name LIMIT 2"
    _, sparse = _get(server, f"/v1/query?q={q.replace(' ', '%20')}&format=sparse")
    assert sparse == [[["r_name", "AFRICA"]], [["r_name", "AMERICA"]]]

    one = "SELECT count(*) AS n FROM region"
    _, atom = _get(server, f"/v1/query?q={one.replace(' ', '%20')}&format=atom")
    assert atom == 5

    # atom rejects multi-row / multi-column results (dataset_collection.cc:238)
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, f"/v1/query?q={q.replace(' ', '%20')}&format=atom")
    assert e.value.code == 400


def test_function_application_route(spark):
    """MLDB-1705/2163: GET and POST
    /v1/functions/<name>/application apply a registered function to
    one JSON input row and return its outputs."""
    import json
    import urllib.request

    from mldb_spark.api import Mldb
    from mldb_spark.rest import MldbRestServer

    m = Mldb(spark)
    m.create_sql_expression_function("addup", "a + b as rez")
    srv = MldbRestServer(m).start()
    try:
        q = urllib.parse.quote(json.dumps({"a": 1, "b": 2}))
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/v1/functions/addup/application?input={q}"
        ) as r:
            out = json.loads(r.read())
        assert out["output"]["rez"] == 3
        req = urllib.request.Request(
            f"http://127.0.0.1:{srv.port}/v1/functions/addup/application",
            data=json.dumps({"input": {"a": 5, "b": 7}}).encode(),
            method="POST",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            out = json.loads(r.read())
        assert out["output"]["rez"] == 12
    finally:
        srv.stop()


def test_mldb_2107_atom_format_battery(server):
    """MLDB-2107-scalar-format.py: the atom format returns the bare
    scalar for every type, and errors on multiple columns, multiple
    rows, no rows, and no columns."""
    import urllib.error
    import urllib.parse

    def atom(q):
        qs = urllib.parse.quote(q)
        return _get(server, f"/v1/query?q={qs}&format=atom")[1]

    def atom_error(q):
        qs = urllib.parse.quote(q)
        try:
            _get(server, f"/v1/query?q={qs}&format=atom")
        except urllib.error.HTTPError as e:
            return json.loads(e.read()).get("error", "")
        raise AssertionError("expected an atom-format error")

    assert atom("select x from (select 17 as x)") == 17
    assert atom("select x from (select 2.3 as x)") == 2.3
    assert atom("select x from (select 'blah' as x)") == "blah"
    assert atom("select x from (select false as x)") in (False, 0)
    assert "column" in atom_error(
        "select x, y from (select false as x, 1 as y)"
    ).lower()
    assert "row" in atom_error("select r_name from region").lower()
    assert atom("select r_name from region order by r_name limit 1") == "AFRICA"
    assert "row" in atom_error(
        "select r_name from region where r_name = 'patate'"
    ).lower()


def test_mldb_951_run_on_creation_lifecycle(server):
    """MLDB-951-run-on-creation.py: PUT /v1/procedures/<id> with
    runOnCreation=False stores without running (no status); POST
    .../runs executes it; runOnCreation=True reports a firstRun."""
    import urllib.parse

    # source table registered in the fixture: region
    st, body = _req(server, "PUT", "/v1/procedures/t951", {
        "type": "transform",
        "params": {
            "inputData": "select r_regionkey + 1 as k from region",
            "outputDataset": {"id": "t951_out", "type": "sparse.mutable"},
            "runOnCreation": False,
        },
    })
    assert st == 201 and "status" not in body
    # dataset must not exist yet
    qs = urllib.parse.quote("select k from t951_out")
    try:
        _get(server, f"/v1/query?q={qs}")
        raise AssertionError("t951_out must not exist before the run")
    except Exception:
        pass
    st, _body = _req(server, "POST", "/v1/procedures/t951/runs", {})
    assert st == 201
    _, rows = _get(server, f"/v1/query?q={qs}&format=aos")
    assert sorted(r["k"] for r in rows) == [1, 2, 3, 4, 5]
    # runOnCreation True reports firstRun
    st, body = _req(server, "PUT", "/v1/procedures/t951b", {
        "type": "transform",
        "params": {
            "inputData": "select r_regionkey as k from region",
            "outputDataset": "t951b_out",
            "runOnCreation": True,
        },
    })
    assert st == 201 and "firstRun" in body.get("status", {})


def test_mldbfb_208_run_params_override(server):
    """MLDBFB-208_procedure_params_overwrite_test.py: a run's params
    override the stored procedure config per key."""
    st, _b = _req(server, "PUT", "/v1/procedures/t208", {
        "type": "transform",
        "params": {
            "inputData": "select r_regionkey as k from doesnotexist",
            "outputDataset": "t208_bad",
            "runOnCreation": False,
        },
    })
    assert st == 201
    st, _b = _req(server, "POST", "/v1/procedures/t208/runs", {
        "params": {
            "inputData": "select r_regionkey as k from region",
            "outputDataset": "t208_out",
        },
    })
    assert st == 201
    import urllib.parse

    qs = urllib.parse.quote("select k from t208_out order by k")
    _, rows = _get(server, f"/v1/query?q={qs}&format=aos")
    assert [r["k"] for r in rows] == [0, 1, 2, 3, 4]


def test_mldb_1359_latest_run(server):
    """MLDB-1359_procedure_latest_run.py: /latestrun reports the most
    recent run's metadata, advancing across runs."""
    import time

    _req(server, "PUT", "/v1/procedures/t1359", {
        "type": "transform",
        "params": {
            "inputData": "select r_name from region",
            "outputDataset": "t1359_out",
            "runOnCreation": True,
        },
    })
    st, first = _get(server, "/v1/procedures/t1359/latestrun")
    assert st == 200 and first["state"] == "finished"
    time.sleep(0.02)
    _req(server, "POST", "/v1/procedures/t1359/runs", {})
    _, second = _get(server, "/v1/procedures/t1359/latestrun")
    assert second["runStarted"] > first["runStarted"]


def test_mldb_2112_broken_procedure_is_400_not_500(server):
    """MLDB-2112_500_on_broken_proc_test.py: a procedure whose query
    is invalid errors cleanly (4xx with an error body), never a
    crash/500."""
    import urllib.error

    try:
        _req(server, "PUT", "/v1/procedures/broken2112", {
            "type": "transform",
            "params": {
                "inputData": "SELECT x:BUG:1",
                "outputDataset": "perruche",
                "runOnCreation": True,
            },
        })
        raise AssertionError("expected an error response")
    except urllib.error.HTTPError as e:
        assert 400 <= e.code < 500
        body = json.loads(e.read())
        assert "error" in body


def test_mldb_1717_redirect_get(server):
    """MLDB-1717_query_select_in_body.py (test_as_POST_body):
    POST /v1/redirect/get {target: /v1/query, body: {q}} re-dispatches
    the query; a non-query target is a clean 400."""
    status, rows = _req(
        server, "POST", "/v1/redirect/get",
        {"target": "/v1/query",
         "body": {"q": "SELECT r_name FROM region ORDER BY r_name LIMIT 1"}},
    )
    assert status == 200
    assert rows[0]["columns"][0][1] == "AFRICA"
    import urllib.error

    import pytest

    with pytest.raises(urllib.error.HTTPError) as ei:
        _req(server, "POST", "/v1/redirect/get", {"target": "/v1/datasets"})
    assert ei.value.code == 400


def test_mldb_1260_uniform_error_format(server):
    """MLDB-1260-json-errors.py: every error response is shaped the
    same — an 'error' message AND an 'httpCode' field — for parse
    errors, unknown functions, and unknown routes."""
    import urllib.error
    import urllib.parse

    for path in (
        "/v1/query?q=sele",
        "/v1/query?q=" + urllib.parse.quote("select h()"),
        "/v1/querry",
    ):
        try:
            _get(server, path)
            raise AssertionError(f"{path} should have errored")
        except urllib.error.HTTPError as e:
            body = json.loads(e.read())
            assert "error" in body, (path, body)
            assert body.get("httpCode") == e.code, (path, body)


def test_mldb_1010_empty_payload(server):
    """MLDB-1010-put-no-payload-error.js: PUT/POST with an empty body
    is a clean 400 saying 'empty payload'."""
    import urllib.error

    for method, path in (
        ("PUT", "/v1/procedures/test1010"),
        ("POST", "/v1/procedures"),
        ("PUT", "/v1/datasets/test1010"),
    ):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}{path}",
            data=b"", method=method,
            headers={"Content-Type": "application/json"},
        )
        try:
            urllib.request.urlopen(req)
            raise AssertionError(f"{method} {path} should have errored")
        except urllib.error.HTTPError as e:
            assert e.code == 400
            body = json.loads(e.read())
            assert "empty payload" in body["error"]


def test_mldb_2163_redirect_function_application(spark):
    """MLDB-2163-POST-function-application.py (test_as_POST_body):
    /v1/redirect/get dispatches a function application whose input
    rides in the body."""
    from mldb_spark.api import Mldb
    from mldb_spark.rest import MldbRestServer

    m = Mldb(spark)
    m.create_sql_expression_function("addup2163", "a + b as rez")
    srv = MldbRestServer(m).start()
    try:
        status, out = _req(
            srv, "POST", "/v1/redirect/get",
            {
                "target": "/v1/functions/addup2163/application",
                "body": {"input": {"a": 5, "b": 7}},
            },
        )
        assert status == 200
        assert out["output"]["rez"] == 12
    finally:
        srv.stop()


def test_mldb_255_python_script_route(server):
    """MLDB-255-type-routes.js (python flavor; the javascript flavor
    is the declared-out-of-scope JS engine): POST .../python/routes/
    run executes a source — expression results return directly,
    request.set_return() carries statement-script results, and syntax
    or runtime errors are clean 400s."""
    import urllib.error

    status, out = _req(
        server, "POST", "/v1/types/plugins/python/routes/run",
        {"source": "'hello, world from python expr'"},
    )
    assert status == 200 and out["result"] == "hello, world from python expr"
    status, out = _req(
        server, "POST", "/v1/types/plugins/python/routes/run",
        {"source": "request.set_return('hello, world from python')"},
    )
    assert status == 200 and out["result"] == "hello, world from python"
    for bad in ("this has a syntax error", "this_has_a_runtime_error()"):
        try:
            _req(server, "POST", "/v1/types/plugins/python/routes/run",
                 {"source": bad})
            raise AssertionError("should have errored")
        except urllib.error.HTTPError as e:
            assert e.code == 400


def test_mldb_348_326_983_put_post_ids(spark):
    """MLDB-348-put-post-id.js + MLDB-326-put-post-training-ids.js +
    MLDB-983-create-dataset-ids.js: PUT with a contradicting body id
    is 400; POST without an id auto-generates an auto_-prefixed one;
    run PUTs need a run name; named-run PUT works; run-config id
    mismatch is 400."""
    import urllib.error

    from mldb_spark.api import Mldb
    from mldb_spark.rest import MldbRestServer

    m = Mldb(spark)
    srv = MldbRestServer(m).start()

    def expect(code, method, path, body):
        try:
            return _req(srv, method, path, body)
        except urllib.error.HTTPError as e:
            assert e.code == code, (method, path, e.code)
            return None

    try:
        # dataset PUT/POST id rules
        status, _ = _req(srv, "PUT", "/v1/datasets/test5",
                         {"type": "sparse.mutable"})
        assert status == 201
        expect(400, "PUT", "/v1/datasets/test2",
               {"id": "test1", "type": "sparse.mutable"})
        status, out = _req(srv, "POST", "/v1/datasets",
                           {"type": "sparse.mutable"})
        assert status == 201
        assert out["config"]["id"].startswith("auto_")
        status, _ = _req(srv, "POST", "/v1/datasets",
                         {"id": "test3", "type": "sparse.mutable"})
        assert status == 201
        # run lifecycle (null procedure)
        status, _ = _req(srv, "PUT", "/v1/procedures/nullproc",
                         {"type": "null"})
        assert status == 201
        expect(404, "PUT", "/v1/procedures/nullproc/runs", {})
        status, _ = _req(srv, "PUT", "/v1/procedures/nullproc/runs/test5", {})
        assert status == 201
        expect(400, "PUT", "/v1/procedures/nullproc/runs/test2",
               {"id": "test1"})
        status, _ = _req(srv, "POST", "/v1/procedures/nullproc/runs", {})
        assert status == 201
    finally:
        srv.stop()


def test_mutable_dataset_record_commit(spark):
    """The reference's create/record/commit lifecycle over REST
    (MLDB-1267's setup shape; MLDB-460's empty-name errors): rows
    recorded cell-by-cell become a queryable CELLS dataset at commit,
    with GET_LATEST semantics and per-cell timestamps."""
    import urllib.error

    from mldb_spark.api import Mldb
    from mldb_spark.rest import MldbRestServer

    m = Mldb(spark)
    srv = MldbRestServer(m).start()
    try:
        _req(srv, "PUT", "/v1/datasets/input", {"type": "sparse.mutable"})
        _req(srv, "POST", "/v1/datasets/input/rows",
             {"rowName": "row1", "columns": [["score", 5, 6]]})
        _req(srv, "POST", "/v1/datasets/input/rows",
             {"rowName": "row2", "columns": [["score", 1, 5]]})
        try:
            _req(srv, "POST", "/v1/datasets/input/rows",
                 {"rowName": "", "columns": [["score", 1, 5]]})
            raise AssertionError("empty row name should 400")
        except urllib.error.HTTPError as e:
            assert e.code == 400
        _req(srv, "POST", "/v1/datasets/input/commit", {})
        out = m.query(
            "SELECT score, latest_timestamp({*}) AS ts FROM input "
            "ORDER BY rowName()"
        ).collect()
        assert [r["score"] for r in out] == [5.0, 1.0]
        assert out[0]["ts"].isoformat().startswith("1970-01-01T00:00:06")
    finally:
        srv.stop()


def test_mldb_1869_payloads_with_trailing_newlines(spark):
    """MLDB-1869_json_payload_test.py: JSON bodies terminated with
    \\n or \\r\\n (and multi-line bodies) parse fine on PUT."""
    import urllib.request

    from mldb_spark.api import Mldb
    from mldb_spark.rest import MldbRestServer

    m = Mldb(spark)
    srv = MldbRestServer(m).start()
    try:
        for did, raw in (
            ("ds1869a", b'{"type" : "sparse.mutable"}'),
            ("ds1869b", b'{"type" : "sparse.mutable"}\n'),
            ("ds1869c", b'{\n"type" : "sparse.mutable"\n}\n'),
            ("ds1869d", b'{"type" : "sparse.mutable"}\r\n'),
            ("ds1869e", b'{\r\n"type" : "sparse.mutable"\r\n}\r\n'),
        ):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/v1/datasets/{did}",
                data=raw, method="PUT",
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as r:
                assert 200 <= r.status < 400
    finally:
        srv.stop()


def test_mldb_153_script_runs_are_isolated(server):
    """MLDB-153_pyscript_state_pollution.py: state set by one script
    run does not leak into the next — `a=1` then `print(a)` is a
    NameError 400 mentioning name 'a'."""
    import urllib.error

    status, _ = _req(
        server, "POST", "/v1/types/plugins/python/routes/run",
        {"source": "a=1"},
    )
    assert status == 200
    try:
        _req(server, "POST", "/v1/types/plugins/python/routes/run",
             {"source": "print(a)"})
        raise AssertionError("state leaked between script runs")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        import json as _json

        body = _json.loads(e.read())
        assert "'a'" in str(body)


def test_mldb_605_full_format_returns_all_cell_tuples(spark):
    """MLDB-679-latest-get-variable.js (the MLDB-605 case, per the
    MLDB-1370 consistency note): the FULL query format over a cells
    dataset returns ALL timestamped tuples of a cell — x recorded at
    3 timestamps renders a 3-tuple columns list, for both SELECT *
    and SELECT x; the table format keeps GET_LATEST."""
    from mldb_spark.api import Mldb
    from mldb_spark.rest import MldbRestServer

    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "m605"})
    m.record_rows("m605", [{
        "rowName": "row1",
        "columns": [["x", 0, "2015-01-01T00:00:00Z"],
                    ["x", 1, "2015-01-02T00:00:00Z"],
                    ["x", 2, "2015-01-03T00:00:00Z"]],
    }])
    m.commit_dataset("m605")
    srv = MldbRestServer(m).start()
    try:
        import urllib.parse

        q = urllib.parse.quote("SELECT * from m605")
        _, rows = _get(srv, f"/v1/query?q={q}")
        assert len(rows) == 1 and len(rows[0]["columns"]) == 3
        assert [c[0] for c in rows[0]["columns"]] == ["x", "x", "x"]
        assert [c[1] for c in rows[0]["columns"]] == [0.0, 1.0, 2.0]
        q = urllib.parse.quote("SELECT x from m605")
        _, rows = _get(srv, f"/v1/query?q={q}")
        assert len(rows[0]["columns"]) == 3
        # table format stays GET_LATEST
        q = urllib.parse.quote("SELECT x from m605")
        _, tbl = _get(srv, f"/v1/query?q={q}&format=table")
        assert tbl[-1][-1] == 2.0
    finally:
        srv.stop()


def test_mldb_2112_broken_proc_is_4xx_not_500(server):
    """MLDB-2112_500_on_broken_proc_test.py: PUT of a procedure whose
    run fails (bogus SQL) returns a CLEAN 4xx with the uniform error
    body — never a 500/crash — the stored config stays GETtable, and
    /runs on a never-run procedure is 404."""
    import urllib.error

    try:
        _req(server, "PUT", "/v1/procedures/m2112", {
            "type": "transform",
            "params": {
                "inputData": "SELECT x:BUG:1",
                "outputDataset": "m2112_out",
                "runOnCreation": True,
            },
        })
        raise AssertionError("broken procedure run should have errored")
    except urllib.error.HTTPError as e:
        assert 400 <= e.code < 500, e.code
        body = json.loads(e.read())
        assert "error" in body
    # the stored config survives the failed run
    st, cfg = _get(server, "/v1/procedures/m2112")
    assert st == 200
    # /runs of a procedure that never completed a run is 404
    try:
        _get(server, "/v1/procedures/m2112/latestrun")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_mldb_444_plugin_routes_mirror(server):
    """MLDB-444_python_perform_default_args.py: a python plugin with
    a custom routes source mirrors request.rest_params and
    request.payload back — defaulted args arrive empty, URL params
    arrive as [k, v] pairs, the JSON body arrives parsed. (+
    MLDB-2114: a route on an UNKNOWN plugin is a clean 404.)"""
    st, _ = _req(server, "PUT", "/v1/plugins/mirror444", {
        "type": "python",
        "params": {
            "source": {
                "routes": (
                    "request.set_return({'args': request.rest_params,"
                    " 'payload': request.payload})"
                ),
            },
        },
    })
    assert st == 201
    st, out = _req(server, "POST", "/v1/plugins/mirror444/routes/pwet", {})
    assert st == 200
    assert out["args"] == [] and out["payload"] == {}
    st, out = _req(
        server, "POST", "/v1/plugins/mirror444/routes/pwet?patate=5",
        {"ataboy": 5},
    )
    assert st == 200
    assert out["args"] == [["patate", "5"]]
    assert out["payload"] == {"ataboy": 5}
    import urllib.error

    try:
        _req(server, "POST", "/v1/plugins/nope/routes/pwet", {})
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_mldb_951_post_run_location_header(server):
    """MLDB-951-run-on-creation.py (+ MLDB-299/305 sync flavor): POST
    …/runs answers 201 with a Location header pointing at the created
    run, and GETting it works."""
    _req(server, "PUT", "/v1/procedures/m951rest", {
        "type": "transform",
        "params": {
            "inputData": "select 1 as x from region",
            "outputDataset": "m951rest_out",
            "runOnCreation": False,
        },
    })
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/v1/procedures/m951rest/runs",
        data=b"{}",
        method="POST",
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 201
        loc = r.headers["Location"]
    assert loc == "/v1/procedures/m951rest/latestrun"
    st, run = _get(server, loc)
    assert st == 200 and run["state"] == "finished"


def test_mldb_1040_invalid_requests(server):
    """MLDB-1040-invalid-requests.cc (REST flavor): unknown routes
    404 with the uniform error body; malformed JSON payloads are a
    clean 400 — never a hang or crash."""
    import urllib.error

    for path in ("/v1/nope", "/v1/datasets/does_not_exist_1040",
                 "/totally/bogus"):
        try:
            _get(server, path)
            raise AssertionError(f"expected error for {path}")
        except urllib.error.HTTPError as e:
            assert e.code in (400, 404), (path, e.code)
            body = json.loads(e.read())
            assert "error" in body and "httpCode" in body
    # malformed JSON body
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/v1/procedures/bad1040",
        data=b"{not json",
        method="PUT",
        headers={"Content-Type": "application/json"},
    )
    try:
        urllib.request.urlopen(req)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400


@pytest.mark.parametrize(
    "method,path,body,length",
    [
        ("PUT", "/v1/datasets/bad400", b"{not json", None),
        ("PUT", "/v1/functions/bad400", b"{not json", None),
        ("POST", "/v1/datasets", b"{not json", None),
        ("POST", "/v1/procedures", b"{not json", None),
        ("PUT", "/v1/datasets/bad400", b"[1,2]", None),
        ("PUT", "/v1/datasets/bad400", b"", "abc"),
    ],
    ids=["put-dataset", "put-function", "post-dataset", "post-procedure",
         "array-body", "bad-content-length"],
)
def test_bad_requests_are_clean_400s(server, method, path, body, length):
    """MLDB-1040: a malformed JSON body, a body that is not an object
    and a Content-Length that is not a number are each answered with a
    400 and the uniform error body, never a dropped connection."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=60)
    try:
        conn.putrequest(method, path)
        conn.putheader("Content-Type", "application/json")
        conn.putheader("Content-Length", length or str(len(body)))
        conn.endheaders(body)
        r = conn.getresponse()
        out = json.loads(r.read())
    finally:
        conn.close()
    assert r.status == 400
    assert out["httpCode"] == 400 and out["error"]


def test_bad_run_body_does_not_run(server):
    """POST …/runs with a malformed body is a 400 and runs nothing; an
    empty body runs the stored config (MLDB-951, MLDBFB-208)."""
    import urllib.error

    _req(server, "PUT", "/v1/procedures/badrun", {"type": "null"})

    def post_run(data):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/v1/procedures/badrun/runs",
            data=data, method="POST",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as r:
            return r.status

    with pytest.raises(urllib.error.HTTPError) as e:
        post_run(b"{not json")
    assert e.value.code == 400
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/v1/procedures/badrun/latestrun")
    assert e.value.code == 404
    assert post_run(b"") == 201
    st, run = _get(server, "/v1/procedures/badrun/latestrun")
    assert st == 200 and run["state"] == "finished"


def test_one_function_surface(spark):
    """One catalog per Mldb: every function entity SQL can call is
    listed by GET /v1/functions, and each one that takes a rowset
    answers /application and Mldb.apply_function alike."""
    import urllib.parse

    from mldb_spark.api import Mldb
    from mldb_spark.rest import MldbRestServer

    m = Mldb(spark)
    pts = [(0.0, 0.0, 0), (0.2, 0.1, 0), (0.1, 0.3, 0),
           (10.0, 10.0, 1), (10.2, 9.9, 1), (9.8, 10.1, 1)]
    m.create_dataset(
        "surf_pts", spark.createDataFrame(pts, "x double, y double, label int")
    )
    for kind, cfg in [
        ("function", {"type": "sql.expression", "id": "surf_expr",
                      "params": {"expression": "x + y AS s"}}),
        ("function", {"type": "sql.query", "id": "surf_query",
                      "params": {"query": "SELECT count(*) AS n FROM surf_pts"}}),
        ("function", {"type": "http.useragent", "id": "surf_ua"}),
        ("procedure", {"type": "kmeans.train", "id": "surf_km",
                       "params": {"trainingData": "SELECT x, y FROM surf_pts",
                                  "numClusters": 2, "functionName": "surf_kmf"}}),
        ("procedure", {"type": "svm.train", "id": "surf_svm_train",
                       "params": {"trainingData": "SELECT * FROM surf_pts",
                                  "functionName": "surf_svm"}}),
    ]:
        m.create_entity(kind, cfg)
    inputs = {
        "surf_expr": {"x": 1.0, "y": 2.0},
        "surf_query": {"x": 1.0},
        "surf_ua": {"ua": "Mozilla/5.0 (Windows NT 10.0; Win64; x64) "
                          "AppleWebKit/537.36 (KHTML, like Gecko) "
                          "Chrome/120.0 Safari/537.36"},
        "surf_kmf": {"x": 10.0, "y": 10.0},
    }
    srv = MldbRestServer(m).start()
    try:
        _, fns = _get(srv, "/v1/functions")
        assert {*inputs, "surf_svm"} <= set(fns)
        for name, inp in inputs.items():
            q = urllib.parse.quote(json.dumps(inp))
            _, out = _get(srv, f"/v1/functions/{name}/application?input={q}")
            assert out["output"], name
            row = spark.createDataFrame([tuple(inp.values())], list(inp))
            applied = m.apply_function(name, row)
            assert set(applied.columns) > set(inp), name
            assert applied.count() == 1, name
    finally:
        srv.stop()
    assert out["output"]["cluster"] == m.apply_function(
        "surf_kmf", spark.createDataFrame([(10.0, 10.0)], "x double, y double")
    ).collect()[0]["cluster"]
    assert m.query(
        "SELECT surf_svm({*})[output] AS o FROM (SELECT 10.0 AS x, 10.0 AS y)"
    ).collect()[0]["o"] == 1


def test_recreated_mutable_dataset_is_replaced_whole(spark):
    """A committed sparse.mutable dataset re-registered with
    create_dataset is the new frame everywhere: dataset(), SQL, a
    merge() over it and the REST full format (which reads a cells
    dataset's cells)."""
    from mldb_spark.api import Mldb
    from mldb_spark.rest import MldbRestServer

    m = Mldb(spark)
    for name, col in (("rereg", "x"), ("rereg_b", "z")):
        m.create_entity("dataset", {"type": "sparse.mutable", "id": name})
        m.record_rows(name, [{"rowName": name, "columns": [[col, 1, 0]]}])
        m.commit_dataset(name)
    merged = "SELECT * FROM merge(rereg, rereg_b) ORDER BY rowName()"
    assert m.query(merged).columns == ["x", "z"]
    new = spark.createDataFrame([("b", 7)], "rowName string, y int")
    m.create_dataset("rereg", new, row_name_col="rowName")
    assert m.dataset("rereg") is new
    assert [r.asDict() for r in m.query("SELECT y FROM rereg").collect()] == [
        {"y": 7}
    ]
    assert "y" in m.query(merged).columns
    srv = MldbRestServer(m).start()
    try:
        _, full = _get(srv, "/v1/query?q=SELECT%20y%20FROM%20rereg")
    finally:
        srv.stop()
    assert [c[:2] for c in full[0]["columns"]] == [["y", 7]]


def test_concurrent_first_creates_all_land(spark):
    """Sixteen threads storing procedures and creating mutable
    datasets on a fresh Mldb at once: every one is kept (the REST
    server runs a thread per request)."""
    import sys
    import threading

    from mldb_spark.api import Mldb

    m = Mldb(spark)
    barrier = threading.Barrier(16)

    def create(i):
        barrier.wait(timeout=60)
        m.put_procedure(f"cp{i}", {"type": "null",
                                   "params": {"runOnCreation": True}})
        m.create_entity("dataset", {"type": "sparse.mutable", "id": f"cd{i}"})

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=create, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert sorted(m._procedures) == sorted(f"cp{i}" for i in range(16))
    assert sorted(m._runs) == sorted(f"cp{i}" for i in range(16))
    assert sorted(m._mutable) == sorted(f"cd{i}" for i in range(16))


def test_concurrent_creates_of_one_id_one_wins(spark):
    """Eight threads create the structured.mutable dataset `same` at
    once: the id is reserved before the dataset builds, so exactly one
    create succeeds and the other seven fail as a repeated create
    does."""
    import sys
    import threading

    from mldb_spark.api import Mldb

    m = Mldb(spark)
    barrier = threading.Barrier(8)
    outcomes: list[str] = []

    def create():
        barrier.wait(timeout=60)
        try:
            m.create_entity("dataset", {
                "type": "structured.mutable", "id": "same",
                "params": {"inputData": "SELECT 1 AS x"},
            })
            outcomes.append("ok")
        except ValueError as e:
            outcomes.append(str(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=create) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert outcomes.count("ok") == 1
    assert sorted(o for o in outcomes if o != "ok") == [
        "dataset entry 'same' already exists"
    ] * 7
    assert m.dataset("same").columns == ["x"]


def test_not_found_error_is_the_bare_message(server):
    """A 404's error text is the lookup's own message, not the quoted
    repr str() gives a KeyError."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(server, "/v1/functions/nofn/application?input=%7B%7D")
    assert e.value.code == 404
    assert json.loads(e.value.read()) == {"error": "unknown function 'nofn'", "httpCode": 404}


def test_missing_entity_parameter_is_400(server):
    """An entity config without a required parameter is a bad request
    that names the parameter, not a 404."""
    with pytest.raises(urllib.error.HTTPError) as e:
        _req(server, "PUT", "/v1/datasets/tab_noparams", {"type": "tabular", "params": {}})
    assert e.value.code == 400
    body = json.loads(e.value.read())
    assert body == {"error": "missing required parameter 'dataFileUrl'", "httpCode": 400}


def test_concurrent_queries_while_dataset_is_reregistered(spark):
    """Concurrent GET /v1/query requests of one statement, interleaved
    with re-registering the dataset it reads, each answer with the
    result of one registered version, never an error; once the
    re-registering is over, the answer is the last version's. Twice
    as many clients as cores, with a short thread switch interval;
    the plan cache counts every request exactly once."""
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    from mldb_spark.api import Mldb
    from mldb_spark.rest import MldbRestServer

    def version(v):
        return spark.createDataFrame([(1, v), (2, v)], "k int, v int")

    m = Mldb(spark)
    m.create_dataset("rereg", version(0))
    srv = MldbRestServer(m).start()
    path = "/v1/query?format=aos&q=" + urllib.parse.quote("SELECT sum(v) AS s FROM rereg")
    switch = sys.getswitchinterval()
    try:
        assert _get(srv, path) == (200, [{"s": 0}])  # cached before the changes
        sys.setswitchinterval(1e-5)
        with ThreadPoolExecutor(2 * (os.cpu_count() or 4)) as ex:
            futures = [ex.submit(_get, srv, path) for _ in range(16)]
            for v in range(1, 6):
                time.sleep(0.05)
                m.create_dataset("rereg", version(v))
            answers = [f.result(timeout=300) for f in futures]
        sys.setswitchinterval(switch)
        assert {code for code, _ in answers} == {200}
        assert {body[0]["s"] for _, body in answers} <= {2 * v for v in range(6)}
        assert _get(srv, path) == (200, [{"s": 10}])
        hits = m.plan_cache_counts()["hits"]
        assert _get(srv, path) == (200, [{"s": 10}])
        assert m.plan_cache_counts()["hits"] == hits + 1
        assert sum(m.plan_cache_counts().values()) == 1 + 16 + 2
    finally:
        sys.setswitchinterval(switch)
        srv.stop()


@pytest.fixture(scope="module")
def row_name_mldb(spark):
    """An Mldb with a committed sparse.mutable `rnc` (rows r2, r0, r1),
    a table `rnp` without row names and a table `rnn` whose row-name
    column is `rowName`."""
    from mldb_spark.api import Mldb

    m = Mldb(spark)
    m.create_entity("dataset", {"type": "sparse.mutable", "id": "rnc"})
    m.record_rows("rnc", [
        {"rowName": rn, "columns": [["x", x, "2024-01-01T00:00:00Z"],
                                    ["k", k, "2024-01-01T00:00:00Z"]]}
        for rn, x, k in (("r2", 12, "a"), ("r0", 10, "a"), ("r1", 11, "b"))
    ])
    m.commit_dataset("rnc")
    m.create_dataset(
        "rnp", spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "x int, k string")
    )
    m.create_dataset(
        "rnn",
        spark.createDataFrame([("n1", 1), ("n2", 2)], "rowName string, x int"),
        row_name_col="rowName",
    )
    return m


def _count_translations(monkeypatch, ctx) -> list:
    """Record every statement the context translates from now on."""
    calls = []
    orig = ctx._statement

    def counted(stm, params):
        calls.append(stm)
        return orig(stm, params)

    monkeypatch.setattr(ctx, "_statement", counted)
    return calls


def _translated(m) -> int:
    counts = m.plan_cache_counts()
    return counts["misses"] + counts["bypasses"]


@pytest.mark.parametrize(
    "sql, columns, rows, names",
    [
        ("SELECT x FROM rnc", ["x", "__rowName"],
         [(10.0, "r0"), (11.0, "r1"), (12.0, "r2")], ["r0", "r1", "r2"]),
        ("SELECT x FROM rnp", ["x"], [(1,), (2,), (3,)], None),
        ("SELECT x NAMED k + '-' + cast(x AS string) FROM rnp", ["x", "rowName"],
         [(1, "a-1"), (2, "b-2"), (3, "a-3")], ["a-1", "a-3", "b-2"]),
        ("SELECT k, count(*) AS n FROM rnc GROUP BY k", ["k", "n"],
         [("a", 2), ("b", 1)], None),
        ("SELECT count(*) AS n FROM rnc", ["n", "__rowName"], [(3, "[]")], ["[]"]),
        ("SELECT count(*) AS n FROM rnp", ["n", "__rowName"], [(3, "[]")], ["[]"]),
        ("SELECT DISTINCT ON (k) k, x FROM rnc ORDER BY k, x", ["k", "x", "__rowName"],
         [("a", 10.0, "r0"), ("b", 11.0, "r1")], ["r0", "r1"]),
        ("SELECT * FROM rnn", ["rowName", "x"], [("n1", 1), ("n2", 2)], ["n1", "n2"]),
    ],
    ids=["cells", "no-row-names", "named", "group-by", "aggregate",
         "aggregate-no-row-names", "distinct-on", "wildcard-rowName"],
)
def test_transform_row_name_rule(
    row_name_mldb, monkeypatch, request, sql, columns, rows, names
):
    """A transform writes its rows under the input row names by the
    rule in Mldb._query_with_row_name, translating its statement once;
    repeating it over an unchanged source is a plan-cache hit."""
    m = row_name_mldb
    out = "rno_" + request.node.callspec.id.replace("-", "_")
    calls = _count_translations(monkeypatch, m.ctx)
    before = _translated(m)
    df = m.transform(sql, out)
    assert len(calls) == 1 and _translated(m) == before + 1
    assert df.columns == columns
    assert sorted(tuple(r) for r in df.collect()) == rows
    read_back = f"SELECT rowName() AS rn FROM {out}"
    if names is None:
        with pytest.raises(ValueError, match="rowName"):
            m.query(read_back)
    else:
        assert sorted(r["rn"] for r in m.query(read_back).collect()) == names
    del calls[:]
    hits = m.plan_cache_counts()["hits"]
    again = m.transform(sql, out)
    assert calls == [] and m.plan_cache_counts()["hits"] == hits + 1
    assert sorted(tuple(r) for r in again.collect()) == rows


def test_rest_transform_and_full_reads_translate_once(row_name_mldb, monkeypatch):
    """Over a committed sparse.mutable dataset, a transform created
    with runOnCreation translates its statement once, and a repeated
    FULL-format GET /v1/query is served from the plan cache."""
    import urllib.parse

    from mldb_spark.rest import MldbRestServer

    m = row_name_mldb
    srv = MldbRestServer(m).start()
    try:
        calls = _count_translations(monkeypatch, m.ctx)
        status, _ = _req(srv, "PUT", "/v1/procedures/rn_rest_proc", {
            "type": "transform",
            "params": {"inputData": "SELECT x * 2 AS d FROM rnc",
                       "outputDataset": "rno_rest", "runOnCreation": True},
        })
        assert status == 201 and len(calls) == 1
        q = urllib.parse.quote("SELECT x FROM rnc ORDER BY rowName()")
        _, first = _get(srv, f"/v1/query?q={q}")
        assert [r["rowName"] for r in first] == ["r0", "r1", "r2"]
        del calls[:]
        hits = m.plan_cache_counts()["hits"]
        assert _get(srv, f"/v1/query?q={q}") == (200, first)
        assert calls == [] and m.plan_cache_counts()["hits"] == hits + 1
    finally:
        srv.stop()
