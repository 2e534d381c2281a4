"""Thin REST façade over api.Mldb mirroring the reference's /v1
surface (server/mldb_server.cc:209-283; formats
engine/dataset_collection.cc:60-238). stdlib http.server only.

Every request goes through one table, `_ROUTES`, as the reference
registers each route with its router. A pattern's `<id>` takes one
path segment and a final `...` the rest of the path. A KeyError from
a route answers 404, any other error 400, both as {"error",
"httpCode"} (MLDB-1260); a path no route matches is a 404 too.

Routes:
    GET  /v1/query?q=<sql>[&format=full|aos|soa|table|sparse|atom]
         [&limit=N][&rowNames=1][&headers=0]      → rendered rows
    POST /v1/query  {q, format, …}                 → the same, from the body
    POST /v1/redirect/get  {target, body}          → /v1/query or a function
                                                     application, from the body
    GET  /v1/datasets                              → names
    POST /v1/datasets  {type, params[, id]}        → createEntity
    GET  /v1/datasets/<id>                         → {columns, rowCount}
    PUT  /v1/datasets/<id>  {type, params}         → createEntity
    POST /v1/datasets/<id>/rows  {rowName, columns}       → record a row
    POST /v1/datasets/<id>/multirows  [[rowName, columns]] → record rows
    POST /v1/datasets/<id>/columns  {columnName, rows}    → record a column
    POST /v1/datasets/<id>/multicolumns  [{columnName, rows}]
    POST /v1/datasets/<id>/commit                  → commit the recorded cells
    GET  /v1/functions                             → names
    PUT  /v1/functions/<id>  {type, params}        → createEntity
    GET  /v1/functions/<id>/application?input=<json> → {output}
    POST /v1/functions/<id>/application  {input}   → {output}
    POST /v1/procedures  {type, params[, id]}      → createEntity (runs on
                                                     creation, like the
                                                     reference's runOnCreation)
    GET  /v1/procedures/<id>                       → the stored config
    PUT  /v1/procedures/<id>  {type, params}       → store; run if runOnCreation
    POST /v1/procedures/<id>/runs  [{params}]      → run; Location: …/latestrun
    PUT  /v1/procedures/<id>/runs/<run>  [{id, params}] → run
    GET  /v1/procedures/<id>/latestrun             → the last finished run
    PUT  /v1/plugins/<id>  {type: python, params: {source: {routes, main}}}
    GET|POST /v1/plugins/<id>/routes/...           → the plugin's routes source
    POST /v1/types/plugins/python/routes/run  {source} → {result}

Formats follow dataset_collection.cc: `full` (per-row sparse
[column, value, timestamp] triples; timestamp comes from a `ts`
column when the result carries one, else null — this engine stores
per-cell time as row metadata, see STATUS 'Known semantic
divergences'), `aos` (array of objects), `soa` (object of arrays),
`table` (header row + value rows).

The REST layer collect()s results onto the driver — that is the
reference's behavior too (its REST returns the whole result; RAM-
bound by design, doc/builtin/Scaling.md). A row cap (default 10k,
`?limit=` to lower it) guards the façade; batch-scale outputs go
through transform + parquet sinks, not HTTP.
"""

from __future__ import annotations

import dataclasses
import json
import threading
from datetime import date, datetime
from functools import partial
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pyspark.sql.functions as F

from mldb_spark.api import Mldb
from mldb_spark.dialect import ast as _ast
from mldb_spark.dialect.parser import parse_statement

DEFAULT_ROW_CAP = 10_000


def _jsonable(v):
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        import base64

        return base64.b64encode(v).decode()
    if hasattr(v, "asDict"):  # Row — a tuple subclass, so check FIRST
        return {k: _jsonable(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _jsonable(x) for k, x in v.items()}
    return v


def _flatten_cell(prefix: str, v, out: dict) -> None:
    if isinstance(v, dict):
        for k, x in v.items():
            _flatten_cell(f"{prefix}.{k}", x, out)
    else:
        out[prefix] = v


def render_rows(rows, columns, fmt="full", row_names=False, headers=True):
    """Render collected rows per dataset_collection.cc formats.

    Structured (struct/map) cells flatten to dotted-path columns on
    the wire (MLDB-668-object-column-name.py: `SELECT {1 AS x} AS y`
    surfaces as column `y.x`): the reference's rowsets are always
    flat — row values exist only inside expressions — while this
    engine keeps Spark structs internally, so the flattening happens
    at the REST render boundary. Leaves of an expanded column slot in
    at its position, name-sorted; rows where the struct is NULL just
    lack the leaves (sparse rows render as NULL cells in dense
    formats)."""
    raw = [{c: _jsonable(r[c]) for c in columns} for r in rows]
    data = []
    expanded: dict[str, set] = {}
    for row in raw:
        fr = {}
        for c in columns:
            v = row[c]
            if isinstance(v, dict) and c not in ("rowName", "ts"):
                leaves: dict = {}
                _flatten_cell(c, v, leaves)
                fr.update(leaves)
                expanded.setdefault(c, set()).update(leaves)
            else:
                fr[c] = v
        data.append(fr)
    if expanded:
        new_cols = []
        for c in columns:
            if c in expanded:
                new_cols.extend(sorted(expanded[c]))
            else:
                new_cols.append(c)
        columns = new_cols
        data = [{c: row.get(c) for c in columns} for row in data]
    if fmt in ("full", ""):
        out = []
        for i, row in enumerate(data):
            ts = row.get("ts")
            name = row.get("rowName", str(i))
            out.append(
                {
                    "rowName": name,
                    "columns": [[c, row[c], ts] for c in columns],
                }
            )
        return out
    if fmt == "aos":
        if row_names:
            return [
                {"_rowName": row.get("rowName", str(i)), **row}
                for i, row in enumerate(data)
            ]
        return data
    if fmt == "soa":
        out = {c: [row[c] for row in data] for c in columns}
        if row_names:
            out["_rowName"] = [
                row.get("rowName", str(i)) for i, row in enumerate(data)
            ]
        return out
    if fmt == "table":
        body = [[row[c] for c in columns] for row in data]
        return ([list(columns)] + body) if headers else body
    if fmt == "sparse":
        out = []
        for i, row in enumerate(data):
            pairs = []
            if row_names:
                pairs.append(["_rowName", row.get("rowName", str(i))])
            pairs.extend([c, row[c]] for c in sorted(columns))
            out.append(pairs)
        return out
    if fmt == "atom":
        # exactly one row and one column (dataset_collection.cc:238-259)
        if len(data) > 1:
            raise ValueError(
                "Query with atom format returning multiple rows. Consider using limit."
            )
        if not data:
            raise ValueError("Query with atom format returned no rows.")
        if len(columns) != 1:
            raise ValueError(
                "Query with atom format returned "
                + ("no" if not columns else "multiple")
                + " columns."
            )
        return data[0][columns[0]]
    raise ValueError(f"unknown format {fmt!r}")


# -- routes ---------------------------------------------------------------
#
# A route handler takes the MldbRestServer, the path ids its pattern
# captured, the query args and the raw body, and returns (code,
# payload[, location]).


def _json(raw: bytes):
    """The request body as JSON; an empty body reads as {}."""
    return json.loads(raw or b"{}")


@dataclasses.dataclass
class _Request:
    """The `request` a plugin route or a script sees (MLDB-444,
    MLDB-255): query args as [k, v] pairs, the JSON payload, the verb
    and the path below the route; set_return() sets the response."""

    rest_params: list = dataclasses.field(default_factory=list)
    payload: object = None
    verb: str = "POST"
    remaining: str = "/"
    value: object = None

    def set_return(self, v) -> None:
        self.value = v


def _create(kind: str, srv, ids, q, raw):
    """createEntity from the body, at the path id when there is one.
    An empty body is MLDB-1010's "empty payload"; a body id that
    contradicts the path id is MLDB-348's put-with-wrong-id."""
    cfg = _json(raw)
    if not cfg:
        raise ValueError("empty payload")
    if ids:
        if cfg.get("id") not in (None, ids[0]):
            raise ValueError(
                f"config id {cfg['id']!r} does not match the URI id {ids[0]!r}"
            )
        cfg["id"] = ids[0]
    return 201, srv.mldb.create_entity(kind, cfg)


def _dataset_status(srv, ids, q, raw):
    df = srv.mldb.dataset(ids[0])
    return 200, {"columns": df.columns, "rowCount": df.count()}


def _record_row(srv, ids, q, raw):
    srv.mldb.record_rows(ids[0], [_json(raw)])
    return 200, {}


def _record_multirows(srv, ids, q, raw):
    # [[rowName, [[col, v, ts], ...]], ...]
    rows = [{"rowName": r[0], "columns": r[1]} for r in _json(raw)]
    srv.mldb.record_rows(ids[0], rows)
    return 200, {}


def _record_column(srv, ids, q, raw):
    body = _json(raw)
    srv.mldb.record_column(ids[0], body["columnName"], body["rows"])
    return 200, {}


def _record_columns(srv, ids, q, raw):
    srv.mldb.record_columns(ids[0], _json(raw))
    return 200, {}


def _commit(srv, ids, q, raw):
    srv.mldb.commit_dataset(ids[0])
    return 200, {}


def _get_application(srv, ids, q, raw):
    return 200, srv.apply_function_json(ids[0], json.loads(q.get("input", "{}")))


def _post_application(srv, ids, q, raw):
    body = _json(raw)
    return 200, srv.apply_function_json(ids[0], body.get("input", body))


def _procedure(srv, ids, q, raw):
    # the stored config survives a FAILED runOnCreation (MLDB-2112:
    # the broken procedure is still GETtable)
    cfg = srv.mldb._procedures.get(ids[0])
    if cfg is None:
        raise KeyError(f"unknown procedure {ids[0]!r}")
    return 200, cfg


def _put_procedure(srv, ids, q, raw):
    body = _json(raw)
    if not body:
        raise ValueError("empty payload")
    return 201, srv.mldb.put_procedure(ids[0], body)


def _post_run(srv, ids, q, raw):
    # run params override the stored config (MLDBFB-208); an empty
    # body runs the stored config
    status = srv.mldb.run_procedure(ids[0], _json(raw).get("params"))
    return 201, status, f"/v1/procedures/{ids[0]}/latestrun"


def _put_run(srv, ids, q, raw):
    # a named run (MLDB-326); a body id contradicting the URI id is a
    # 400 (MLDB-348's rule)
    body = _json(raw)
    if body.get("id") not in (None, ids[1]):
        raise ValueError("run config id does not match URI")
    return 201, srv.mldb.run_procedure(ids[0], body.get("params"))


def _redirect(srv, ids, q, raw):
    """Re-dispatch a GET whose parameters ride in a body (MLDB-1717's
    and MLDB-2163's test_as_POST_body)."""
    b = _json(raw)
    target, body = b.get("target", ""), b.get("body", {})
    if target == "/v1/query":
        return 200, srv.run_query(body)
    fn = _match("/v1/functions/<id>/application", target)
    if fn is None:
        raise ValueError(
            "redirect target must be /v1/query or a function application"
        )
    return 200, srv.apply_function_json(fn[0], body.get("input", {}))


def _put_plugin(srv, ids, q, raw):
    """Store a python plugin's ROUTES source and run its main
    (MLDB-444_python_perform_default_args.py)."""
    body = _json(raw)
    if body.get("type") != "python":
        raise ValueError("only python plugins supported")
    src = body.get("params", {}).get("source", {}) or {}
    srv.plugins[ids[0]] = {"routes": src.get("routes", ""), "config": body}
    if src.get("main"):
        exec(compile(src["main"], "<plugin>", "exec"), {"mldb": srv.mldb})  # noqa: S102
    return 201, {"config": body}


def _plugin_route(verb: str, srv, ids, q, raw):
    """Run a plugin's routes source for /v1/plugins/<id>/routes/...
    (MLDB-444). A body that is not JSON reaches it as text; an unknown
    plugin is a 404 (MLDB-2114's contract is a clean error)."""
    plug = srv.plugins.get(ids[0])
    if plug is None:
        raise KeyError(f"unknown plugin {ids[0]!r}")
    try:
        payload = json.loads(raw) if raw else None
    except ValueError:
        payload = raw.decode("utf-8", "replace")
    req = _Request([[k, v] for k, v in q.items()], payload, verb, ids[1])
    ns = {"mldb": srv.mldb, "request": req}
    exec(compile(plug["routes"], "<plugin-route>", "exec"), ns)  # noqa: S102
    return 200, req.value


def _run_script(srv, ids, q, raw):
    """The script-run route (MLDB-255's python flavor; the reference's
    javascript flavor is out of scope): the source runs with the mldb
    facade in scope. A single expression answers its value, a
    statement script what it passed to request.set_return()."""
    src = _json(raw).get("source", "")
    try:
        code = compile(src, "<script>", "eval")
    except SyntaxError:
        code = compile(src, "<script>", "exec")
    req = _Request()
    result = eval(code, {"mldb": srv.mldb, "request": req})  # noqa: S307
    return 200, {"result": req.value if result is None else result}


_ROUTES = [
    ("GET", "/v1/query", lambda srv, ids, q, raw: (200, srv.run_query(q))),
    ("POST", "/v1/query", lambda srv, ids, q, raw: (200, srv.run_query(_json(raw)))),
    ("POST", "/v1/redirect/get", _redirect),
    ("GET", "/v1/datasets", lambda srv, ids, q, raw: (200, srv.mldb.datasets())),
    ("POST", "/v1/datasets", partial(_create, "dataset")),
    ("GET", "/v1/datasets/<id>", _dataset_status),
    ("PUT", "/v1/datasets/<id>", partial(_create, "dataset")),
    # the mutable-dataset record path (the reference's recordRow/commit
    # lifecycle; MLDB-1267 et al.; column-wise variants per MLDB-541)
    ("POST", "/v1/datasets/<id>/rows", _record_row),
    ("POST", "/v1/datasets/<id>/multirows", _record_multirows),
    ("POST", "/v1/datasets/<id>/columns", _record_column),
    ("POST", "/v1/datasets/<id>/multicolumns", _record_columns),
    ("POST", "/v1/datasets/<id>/commit", _commit),
    ("GET", "/v1/functions", lambda srv, ids, q, raw: (200, srv.mldb.ctx.function_names())),
    ("PUT", "/v1/functions/<id>", partial(_create, "function")),
    ("GET", "/v1/functions/<id>/application", _get_application),
    ("POST", "/v1/functions/<id>/application", _post_application),
    ("POST", "/v1/procedures", partial(_create, "procedure")),
    ("GET", "/v1/procedures/<id>", _procedure),
    ("PUT", "/v1/procedures/<id>", _put_procedure),
    ("POST", "/v1/procedures/<id>/runs", _post_run),
    ("PUT", "/v1/procedures/<id>/runs/<run>", _put_run),
    (
        "GET",
        "/v1/procedures/<id>/latestrun",
        lambda srv, ids, q, raw: (200, srv.mldb.latest_run(ids[0])),
    ),
    ("PUT", "/v1/plugins/<id>", _put_plugin),
    ("GET", "/v1/plugins/<id>/routes/...", partial(_plugin_route, "GET")),
    ("POST", "/v1/plugins/<id>/routes/...", partial(_plugin_route, "POST")),
    ("POST", "/v1/types/plugins/python/routes/run", _run_script),
]


def _match(pattern: str, path: str) -> "list[str] | None":
    """The ids `path` binds to `pattern`'s placeholders, or None when
    the pattern does not match. Empty segments are ignored; a `<name>`
    segment takes one segment, a final `...` the rest as one
    '/'-prefixed path."""
    segs = pattern.split("/")[1:]
    parts = [p for p in path.split("/") if p]
    if segs[-1] == "...":
        n = len(segs) - 1
        parts = parts[:n] + ["/" + "/".join(parts[n:])]
    if len(segs) != len(parts):
        return None
    ids = []
    for seg, part in zip(segs, parts):
        if seg[0] in "<.":
            ids.append(part)
        elif seg != part:
            return None
    return ids


class MldbRestServer:
    """In-process REST server bound to an Mldb facade. start() binds
    an ephemeral (or given) port on a daemon thread; stop() shuts it
    down. Single-facade, thread-per-request (Spark driver calls are
    serialized by the GIL around py4j — fine for a façade)."""

    def __init__(self, mldb: Mldb, port: int = 0, row_cap: int = DEFAULT_ROW_CAP):
        self.mldb = mldb
        self.row_cap = row_cap
        # python plugins with custom routes (MLDB-444): id -> {routes
        # source, config}
        self.plugins: dict[str, dict] = {}
        facade = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def do_GET(self):
                self._dispatch("GET")

            def do_PUT(self):
                self._dispatch("PUT")

            def do_POST(self):
                self._dispatch("POST")

            def _dispatch(self, verb: str) -> None:
                """Answer one request: read its body once, call the
                first route matching (verb, path), map the route's
                error to the uniform error body and send one response."""
                u = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(u.query).items()}
                location = []
                try:
                    n = int(self.headers.get("Content-Length") or 0)
                    raw = self.rfile.read(n) if n > 0 else b""
                    for v, pattern, route in _ROUTES:
                        ids = _match(pattern, u.path) if v == verb else None
                        if ids is not None:
                            break
                    else:
                        raise KeyError(f"no route {verb} {u.path}")
                    code, payload, *location = route(facade, ids, q, raw)
                except Exception as e:
                    code = 404 if isinstance(e, KeyError) else 400
                    # str() of a KeyError quotes its message
                    msg = e.args[0] if code == 404 and e.args else e
                    payload = {"error": str(msg), "httpCode": code}
                body = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                if location:
                    # creation responses point at the created object
                    # (MLDB-951's Location check; MLDB-299/305's sync
                    # flavor)
                    self.send_header("Location", location[0])
                self.end_headers()
                self.wfile.write(body)

        self._server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self._thread: threading.Thread | None = None

    # -- function application -----------------------------------------------

    def apply_function_json(self, name: str, input_obj: dict):
        """GET/POST /v1/functions/<name>/application (MLDB-1705/2163):
        apply a registered function to ONE JSON input row and return
        {"output": {...}} — the reference's single-application REST
        surface. The input row is typed as Spark's JSON reader types
        it (nested objects become struct columns); outputs are the
        columns the function added."""
        doc = F.lit(json.dumps(input_obj))
        df = (
            self.mldb.spark.range(1)
            .select(F.from_json(doc, F.schema_of_json(doc)).alias("v"))
            .select("v.*")
        )
        before = set(df.columns)
        out = self.mldb.apply_function(name, df)
        new_cols = [c for c in out.columns if c not in before]
        if not new_cols:
            new_cols = [c for c in out.columns if not c.startswith("__")]
        row = out.collect()[0]
        return {"output": {c: _jsonable(row[c]) for c in new_cols}}

    # -- query execution ----------------------------------------------------

    def run_query(self, params: dict[str, str]):
        sql = params.get("q")
        if not sql:
            raise ValueError("missing q parameter")
        limit = min(int(params.get("limit", self.row_cap)), self.row_cap)
        fmt = params.get("format", "full")
        row_names = str(params.get("rowNames", "0")).lower() in ("1", "true")
        headers = str(params.get("headers", "1")).lower() not in ("0", "false")
        stm = parse_statement(sql)
        if fmt in ("full", ""):
            full = self._try_cells_full(stm, limit)
            if full is not None:
                return full
        df = self.mldb.ctx.run_statement(stm).limit(limit)
        return render_rows(
            df.collect(), df.columns, fmt=fmt, row_names=row_names, headers=headers
        )

    def _try_cells_full(self, stm: _ast.SelectStatement, limit: int):
        """The reference's FULL format over a cells dataset returns
        ALL timestamped tuples of each selected cell, not just the
        GET_LATEST value (MLDB-605/679: recording x at 3 timestamps →
        a 3-tuple columns list; 'we return all tuples of a column for
        consistency, see MLDB-1370'). Applies to plain
        SELECT */<columns> FROM <cells dataset> [WHERE …] [ORDER BY …]
        [LIMIT …]; everything else falls back to the wide render."""
        # one read of the catalog: a concurrent request may replace it
        info = isinstance(stm.from_, _ast.TableRef) and self.mldb.ctx._cells.get(
            stm.from_.name
        )
        if not info or stm.group_by or stm.named is not None or stm.when is not None:
            return None
        want: "list[str] | None" = []
        for it in stm.select:
            if isinstance(it, _ast.Wildcard) and not it.qualifier:
                want = None  # every column
                break
            if (
                isinstance(it, _ast.ExprItem)
                and isinstance(it.expr, _ast.ColumnRef)
                and it.alias is None
            ):
                want.append(it.expr.name)
            else:
                return None  # computed items: latest-value semantics
        cols = info["columns"] if want is None else [
            c for c in info["columns"] if c in want
        ]
        # surviving row names in the statement's own order
        rn_stm = dataclasses.replace(stm, select=[_ast.RowNameItem()])
        names = [
            r["__rowName"]
            for r in self.mldb.ctx.run_statement(rn_stm).limit(limit).collect()
        ]
        cells = info["cells"]
        got = (
            cells.filter(
                F.col(info["row"]).isin(names)
                & F.col(info["column"]).isin(cols)
            )
            .orderBy(info["row"], info["column"], info["ts"])
            .collect()
        )
        by_row: dict = {n: [] for n in names}
        for r in got:
            ts = r[info["ts"]]
            by_row[r[info["row"]]].append(
                [
                    r[info["column"]],
                    _jsonable(r[info["value"]]),
                    ts.isoformat() + "Z" if ts is not None else None,
                ]
            )
        return [
            {"rowName": n, "columns": by_row.get(n, [])} for n in names
        ]

    # -- lifecycle ----------------------------------------------------------

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "MldbRestServer":
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)
