"""Thin REST façade over api.Mldb mirroring the reference's /v1
surface (server/mldb_server.cc:209-283; formats
engine/dataset_collection.cc:60-238). stdlib http.server only.

Routes:
    GET  /v1/query?q=<sql>[&format=full|aos|soa|table][&limit=N]
         [&rowNames=1][&headers=0]
    GET  /v1/datasets                 → names
    GET  /v1/datasets/<name>          → {columns, rowCount}
    PUT  /v1/datasets/<name>  {type, params}     → createEntity
    PUT  /v1/functions/<name> {type, params}     → createEntity
    GET  /v1/functions                → names
    POST /v1/procedures       {type, params}     → createEntity
                                       (runs on creation, like the
                                        reference's runOnCreation)

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

import json
import threading
from datetime import date, datetime
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pyspark.sql.functions as F

from mldb_spark.api import Mldb

DEFAULT_ROW_CAP = 10_000


def _is_expression(src: str) -> bool:
    """True when a script source is a single evaluable expression
    (MLDB-255's `'hello, world'` one-liners)."""
    try:
        compile(src, "<script>", "eval")
        return True
    except SyntaxError:
        return False


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

            def _plugin_route(self, parts, q, verb):
                """Dispatch /v1/plugins/<id>/routes/<path> into the
                plugin's routes source (MLDB-444: request.rest_params
                carries the query args as [k, v] pairs,
                request.payload the JSON body; set_return is the
                response). A body-less POST is a 404 when the route
                source requires a payload (MLDB-2114's contract is a
                clean error, never a hang)."""
                plug = facade.plugins.get(parts[2])
                if plug is None:
                    self._send(404, {"error": f"unknown plugin {parts[2]!r}"})
                    return
                n = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(n) if n else b""
                try:
                    payload = json.loads(raw) if raw else None
                except Exception:
                    payload = raw.decode("utf-8", "replace")

                class _Req:
                    rest_params = [[k, v] for k, v in q.items()]
                    verb_ = verb
                    remaining = "/" + "/".join(parts[4:])
                    value = None

                    def set_return(self, v):
                        _Req.value = v

                _Req.payload = payload
                try:
                    ns = {"mldb": facade.mldb, "request": _Req()}
                    exec(  # noqa: S102 — local plugin route
                        compile(plug["routes"], "<plugin-route>", "exec"),
                        ns,
                    )
                    self._send(200, _Req.value)
                except Exception as e:
                    self._send(400, {"error": f"{type(e).__name__}: {e}"})

            def _send(self, code: int, payload, location: str | None = None) -> None:
                # every error response carries BOTH 'error' and
                # 'httpCode' (MLDB-1260's uniform error format)
                if code >= 400 and isinstance(payload, dict) and "httpCode" not in payload:
                    payload = {**payload, "httpCode": code}
                body = json.dumps(payload, default=str).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                if location:
                    # creation responses point at the created object
                    # (MLDB-951's Location check; MLDB-299/305's sync
                    # flavor)
                    self.send_header("Location", location)
                self.end_headers()
                self.wfile.write(body)

            def _body(self) -> dict:
                n = int(self.headers.get("Content-Length", 0))
                return json.loads(self.rfile.read(n) or b"{}")

            def do_GET(self):
                u = urlparse(self.path)
                q = {k: v[0] for k, v in parse_qs(u.query).items()}
                parts = [p for p in u.path.split("/") if p]
                try:
                    if (
                        parts[:2] == ["v1", "plugins"]
                        and len(parts) >= 4
                        and parts[3] == "routes"
                    ):
                        self._plugin_route(parts, q, "GET")
                        return
                    if parts[:2] == ["v1", "query"]:
                        self._send(200, facade.run_query(q))
                    elif (
                        parts[:2] == ["v1", "procedures"]
                        and len(parts) == 4
                        and parts[3] == "latestrun"
                    ):
                        # MLDB-1359: the most recent run's metadata;
                        # a never-run procedure is 404 (MLDB-2112)
                        try:
                            self._send(200, facade.mldb.latest_run(parts[2]))
                        except KeyError as e:
                            self._send(404, {"error": str(e)})
                    elif (
                        parts[:2] == ["v1", "procedures"]
                        and len(parts) == 3
                    ):
                        # the stored config survives a FAILED
                        # runOnCreation (MLDB-2112: the broken proc is
                        # still GETtable)
                        procs = facade.mldb._procedures
                        if parts[2] in procs:
                            self._send(200, procs[parts[2]])
                        else:
                            self._send(
                                404,
                                {"error": f"unknown procedure {parts[2]!r}"},
                            )
                    elif parts[:2] == ["v1", "datasets"] and len(parts) == 2:
                        self._send(200, facade.mldb.datasets())
                    elif parts[:2] == ["v1", "datasets"] and len(parts) == 3:
                        df = facade.mldb.dataset(parts[2])
                        self._send(
                            200, {"columns": df.columns, "rowCount": df.count()}
                        )
                    elif parts[:2] == ["v1", "functions"] and len(parts) == 2:
                        self._send(200, facade.mldb.ctx.function_names())
                    elif (
                        parts[:2] == ["v1", "functions"]
                        and len(parts) == 4
                        and parts[3] == "application"
                    ):
                        inp = json.loads(q.get("input", "{}"))
                        self._send(
                            200, facade.apply_function_json(parts[2], inp)
                        )
                    else:
                        self._send(404, {"error": f"no route {u.path}"})
                except KeyError as e:
                    self._send(404, {"error": str(e)})
                except Exception as e:
                    self._send(400, {"error": str(e)})

            def _create(self, kind: str, eid: str | None):
                cfg = self._body()
                if not cfg:
                    # PUT/POST with no body is a clean 400
                    # (MLDB-1010's "empty payload")
                    self._send(400, {"error": "empty payload"})
                    return
                if eid is not None:
                    # a body id that CONTRADICTS the path id is a 400
                    # (MLDB-348's put-with-wrong-id)
                    if cfg.get("id") not in (None, eid):
                        self._send(
                            400,
                            {
                                "error": f"config id {cfg['id']!r} does not "
                                f"match the URI id {eid!r}"
                            },
                        )
                        return
                    cfg["id"] = eid
                try:
                    self._send(201, facade.mldb.create_entity(kind, cfg))
                except Exception as e:
                    self._send(400, {"error": str(e)})

            def do_PUT(self):
                parts = [p for p in urlparse(self.path).path.split("/") if p]
                if parts[:2] == ["v1", "datasets"] and len(parts) == 3:
                    self._create("dataset", parts[2])
                elif parts[:2] == ["v1", "functions"] and len(parts) == 3:
                    self._create("function", parts[2])
                elif parts[:2] == ["v1", "plugins"] and len(parts) == 3:
                    # python plugin with custom ROUTES
                    # (MLDB-444_python_perform_default_args.py): store
                    # the routes source; requests to
                    # /v1/plugins/<id>/routes/<path> exec it with a
                    # `request` carrying rest_params/payload/verb
                    try:
                        body = self._body()
                        if body.get("type") != "python":
                            self._send(
                                400,
                                {"error": "only python plugins supported"},
                            )
                            return
                        src = (body.get("params", {})
                               .get("source", {}) or {})
                        facade.plugins[parts[2]] = {
                            "routes": src.get("routes", ""),
                            "config": body,
                        }
                        main = src.get("main")
                        if main:
                            ns = {"mldb": facade.mldb}
                            exec(compile(main, "<plugin>", "exec"), ns)  # noqa: S102
                        self._send(201, {"config": body})
                    except Exception as e:
                        self._send(400, {"error": str(e)})
                elif parts[:2] == ["v1", "procedures"] and len(parts) == 3:
                    # store + optional runOnCreation (MLDB-951)
                    try:
                        body = self._body()
                        if not body:
                            self._send(400, {"error": "empty payload"})
                            return
                        self._send(
                            201, facade.mldb.put_procedure(parts[2], body)
                        )
                    except Exception as e:
                        self._send(400, {"error": str(e)})
                elif (
                    parts[:2] == ["v1", "procedures"]
                    and len(parts) == 4
                    and parts[3] == "runs"
                ):
                    # PUT of a run needs a run NAME (MLDB-326)
                    self._send(404, {"error": "PUT of a run needs a run name"})
                elif (
                    parts[:2] == ["v1", "procedures"]
                    and len(parts) == 5
                    and parts[3] == "runs"
                ):
                    # named-run PUT (MLDB-326's /runs/<id>); a body id
                    # contradicting the URI id is a 400 (MLDB-348 rule)
                    try:
                        body = self._body()
                        if body.get("id") not in (None, parts[4]):
                            self._send(
                                400,
                                {"error": "run config id does not match URI"},
                            )
                            return
                        self._send(
                            201,
                            facade.mldb.run_procedure(
                                parts[2], body.get("params")
                            ),
                        )
                    except KeyError as e:
                        self._send(404, {"error": str(e)})
                    except Exception as e:
                        self._send(400, {"error": str(e)})
                else:
                    self._send(404, {"error": "PUT supports /v1/datasets/<id>, /v1/functions/<id> and /v1/procedures/<id>"})

            def do_POST(self):
                u = urlparse(self.path)
                parts = [p for p in u.path.split("/") if p]
                if (
                    parts[:2] == ["v1", "plugins"]
                    and len(parts) >= 4
                    and parts[3] == "routes"
                ):
                    q = {k: v[0] for k, v in parse_qs(u.query).items()}
                    self._plugin_route(parts, q, "POST")
                    return
                if (
                    parts[:2] == ["v1", "procedures"]
                    and len(parts) == 4
                    and parts[3] == "runs"
                ):
                    # POST /v1/procedures/<id>/runs (MLDB-951); run
                    # params override the stored config (MLDBFB-208)
                    try:
                        body = {}
                        try:
                            body = self._body()
                        except Exception:
                            pass
                        self._send(
                            201,
                            facade.mldb.run_procedure(
                                parts[2], body.get("params")
                            ),
                            location=f"/v1/procedures/{parts[2]}/latestrun",
                        )
                    except KeyError as e:
                        self._send(404, {"error": str(e)})
                    except Exception as e:
                        self._send(400, {"error": str(e)})
                elif parts[:2] == ["v1", "procedures"]:
                    self._create("procedure", None)
                elif (
                    parts[:2] == ["v1", "datasets"]
                    and len(parts) == 4
                    and parts[3] in ("rows", "multirows", "columns",
                                     "multicolumns", "commit")
                ):
                    # mutable-dataset record path (the reference's
                    # recordRow/commit lifecycle; MLDB-1267 et al.;
                    # column-wise + batched variants per MLDB-541)
                    try:
                        if parts[3] == "rows":
                            facade.mldb.record_rows(parts[2], [self._body()])
                            self._send(200, {})
                        elif parts[3] == "multirows":
                            # [[rowName, [[col, v, ts], ...]], ...]
                            facade.mldb.record_rows(
                                parts[2],
                                [{"rowName": r[0], "columns": r[1]}
                                 for r in self._body()],
                            )
                            self._send(200, {})
                        elif parts[3] == "columns":
                            body = self._body()
                            facade.mldb.record_column(
                                parts[2], body["columnName"], body["rows"]
                            )
                            self._send(200, {})
                        elif parts[3] == "multicolumns":
                            facade.mldb.record_columns(parts[2], self._body())
                            self._send(200, {})
                        else:
                            facade.mldb.commit_dataset(parts[2])
                            self._send(200, {})
                    except KeyError as e:
                        self._send(404, {"error": str(e)})
                    except Exception as e:
                        self._send(400, {"error": str(e)})
                elif parts == ["v1", "datasets"]:
                    # POST create with an optional id (MLDB-348/983)
                    self._create("dataset", None)
                elif (
                    parts[:2] == ["v1", "functions"]
                    and len(parts) == 4
                    and parts[3] == "application"
                ):
                    try:
                        body = self._body()
                        self._send(
                            200,
                            facade.apply_function_json(
                                parts[2], body.get("input", body)
                            ),
                        )
                    except Exception as e:
                        self._send(400, {"error": str(e)})
                elif parts[:2] == ["v1", "query"]:
                    # query params in the request body
                    # (MLDB-1717_query_select_in_body.py: the reference
                    # accepts q in the body as well as the query string)
                    try:
                        self._send(200, facade.run_query(self._body()))
                    except KeyError as e:
                        self._send(404, {"error": str(e)})
                    except Exception as e:
                        self._send(400, {"error": str(e)})
                elif parts == ["v1", "types", "plugins", "python", "routes", "run"]:
                    # script-run route (MLDB-255's python flavor; the
                    # reference's javascript flavor is declared out of
                    # scope — pyeval/pyscript is the same-contract
                    # replacement): exec the source with the mldb
                    # facade in scope; request.set_return() carries
                    # the result; any error is a clean 400
                    try:
                        body = self._body()
                        src = body.get("source", "")

                        class _Req:
                            value = None

                            def set_return(self, v):
                                _Req.value = v

                        ns = {"mldb": facade.mldb, "request": _Req()}
                        if _is_expression(src):
                            result = eval(  # noqa: S307 — local script route
                                compile(src, "<script>", "eval"), ns
                            )
                        else:
                            exec(compile(src, "<script>", "exec"), ns)  # noqa: S102
                            result = None
                        if result is None:
                            result = _Req.value
                        self._send(200, {"result": result})
                    except Exception as e:
                        self._send(
                            400, {"error": f"{type(e).__name__}: {e}"}
                        )
                elif parts == ["v1", "redirect", "get"]:
                    # POST /v1/redirect/get {target, body}: re-dispatch
                    # a GET whose parameters ride in a body
                    # (MLDB-1717's test_as_POST_body)
                    try:
                        b = self._body()
                        target = b.get("target", "")
                        tparts = [p for p in target.split("/") if p]
                        if target == "/v1/query":
                            self._send(200, facade.run_query(b.get("body", {})))
                        elif (
                            tparts[:2] == ["v1", "functions"]
                            and len(tparts) == 4
                            and tparts[3] == "application"
                        ):
                            # function application through the
                            # redirect (MLDB-2163's test_as_POST_body)
                            inp = b.get("body", {}).get("input", {})
                            self._send(
                                200,
                                facade.apply_function_json(tparts[2], inp),
                            )
                        else:
                            self._send(
                                400,
                                {
                                    "error": "redirect target must be "
                                    "/v1/query or a function application"
                                },
                            )
                    except Exception as e:
                        self._send(400, {"error": str(e)})
                else:
                    self._send(404, {"error": "POST supports /v1/procedures and /v1/query"})

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
        if fmt in ("full", ""):
            full = self._try_cells_full(sql, limit)
            if full is not None:
                return full
        df = self.mldb.query(sql).limit(limit)
        return render_rows(
            df.collect(), df.columns, fmt=fmt, row_names=row_names, headers=headers
        )

    def _try_cells_full(self, sql: str, limit: int):
        """The reference's FULL format over a cells dataset returns
        ALL timestamped tuples of each selected cell, not just the
        GET_LATEST value (MLDB-605/679: recording x at 3 timestamps →
        a 3-tuple columns list; 'we return all tuples of a column for
        consistency, see MLDB-1370'). Applies to plain
        SELECT */<columns> FROM <cells dataset> [WHERE …] [ORDER BY …]
        [LIMIT …]; everything else falls back to the wide render."""
        try:
            from mldb_spark.dialect import ast as _ast
            from mldb_spark.dialect.parser import parse_statement

            stm = parse_statement(sql)
        except Exception:
            return None
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
        import dataclasses as _dc

        rn_stm = _dc.replace(
            stm,
            select=[
                _ast.ExprItem(
                    _ast.FunctionCall("rowname", [], raw="rowName"), "__rn"
                )
            ],
        )
        try:
            names = [
                r["__rn"]
                for r in self.mldb.ctx._statement(rn_stm, {})
                .limit(limit)
                .collect()
            ]
        except Exception:
            return None
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
