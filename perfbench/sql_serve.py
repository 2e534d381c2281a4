"""sql_serve: the MLDB product path. An `MldbRestServer` over one `Mldb`
with the tables registered runs in its own process; this process is the
client, running 4 closed-loop threads, each sending its next request
only when the previous one has been answered.

A round is one fixed request mix (`round_scripts`): every client sends
each pool statement once and one write chain: create a sparse.mutable
dataset, `POST .../rows`, `POST .../commit`, then `PUT
/v1/procedures/<id>` a transform over it with runOnCreation, followed
by a read of the transform's output. 56 requests per round, 16 of them
writes. The seed sets the statement parameters, the order and the write
ids; it does not change how much work a round is, so runs with
different seeds compare.

Set-up starts the server and sends every pool statement and one write
chain serially; those responses are the expected ones every concurrent
response is compared with, after the timed region. Latencies, round
walls and set-up are net of hypervisor steal (`common.net_s`); the
per-layer client latency behind `rest.wait_s` stays raw, like the
handler spans it is compared with.

Server process protocol, one line each way: the server prints
`{"port": N}` when it serves; the client writes `snap` to receive the
server's span totals as one JSON line, and `stop` to end it.
"""

from __future__ import annotations

import contextlib
import http.client
import json
import os
import queue
import random
import statistics
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib.parse import quote

from perfbench import common, layers, trace

CLIENTS = 4
# Nominal seconds of one warm round on a 4-core host. `--seconds` picks
# the number of timed rounds from it, so how much work a run measures
# never depends on how fast the run happens to be.
ROUND_S = 12.0

# One statement per dialect feature the product path exercises; the
# parameters move the selected rows, not how many, and every statement
# orders by a unique key, so responses compare exactly.
READ_TEMPLATES = {
    "group_by_having": (
        "SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS total FROM orders "
        "WHERE o_custkey % 8 = {m} GROUP BY o_custkey HAVING n >= 12 ORDER BY o_custkey",
        lambda r: {"m": r.randrange(8)},
    ),
    "named": (
        "SELECT c_acctbal NAMED c_mktsegment + '-' + cast(c_custkey AS string) "
        "FROM customer WHERE c_nationkey = {nk} ORDER BY c_custkey LIMIT 20",
        lambda r: {"nk": r.randrange(25)},
    ),
    "column_expr": (
        "SELECT COLUMN EXPR (WHERE columnName() LIKE 'c_%' ORDER BY columnName() LIMIT 3) "
        "FROM customer WHERE c_nationkey = {nk} ORDER BY c_custkey",
        lambda r: {"nk": r.randrange(25)},
    ),
    "keys_of": (
        "SELECT p_partkey, p_size FROM part WHERE 'p_brand' IN (KEYS OF {{p_brand, p_size}}) "
        "AND p_size = {size} ORDER BY p_partkey LIMIT 25",
        lambda r: {"size": r.randint(1, 50)},
    ),
    "when": (
        "SELECT event_type, count(*) AS n FROM events "
        "WHEN value_timestamp() BETWEEN '2024-01-{d:02d}' AND '2024-01-{d7:02d}' "
        "GROUP BY event_type ORDER BY event_type",
        lambda r: {"d": (d := r.randint(1, 20)), "d7": d + 7},
    ),
    "join": (
        "SELECT n_name, count(*) AS n FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "WHERE c_acctbal > {bal} GROUP BY n_name ORDER BY n_name",
        lambda r: {"bal": r.randint(0, 5000)},
    ),
    "join_top": (
        "SELECT s_name, count(*) AS n FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
        "WHERE l_quantity > {q} GROUP BY s_name ORDER BY n DESC, s_name LIMIT 5",
        lambda r: {"q": r.randint(30, 45)},
    ),
    "temporal": (
        'SELECT user_id, temporal_count("value") AS n, temporal_latest("value") AS last_v '
        "FROM events WHERE user_id % 8 = {m} GROUP BY user_id ORDER BY user_id",
        lambda r: {"m": r.randrange(8)},
    ),
    "aggregate": (
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS q, avg(l_extendedprice) AS p, "
        "count(*) AS n FROM lineitem WHERE l_discount > {disc} "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        lambda r: {"disc": r.choice((0.02, 0.04, 0.06, 0.08))},
    ),
}


def read_pool(rng: random.Random) -> dict[str, str]:
    return {name: sql.format(**params(rng)) for name, (sql, params) in READ_TEMPLATES.items()}


def write_cells(rng: random.Random) -> list:
    """One row of six columns, each recorded at two timestamps."""
    return [[f"x{i}", rng.randint(0, 999), t] for i in range(6) for t in (0, 86_400)]


def write_chain(ds: str, cells: list) -> list[tuple[str, str, dict | None]]:
    """The requests that record dataset `ds` and transform it into `ds`_t."""
    transform = {
        "type": "transform",
        "params": {
            "inputData": f"SELECT x0 + x1 AS s, x2 * 2 AS d, x5 AS e FROM {ds}",
            "outputDataset": f"{ds}_t",
            "runOnCreation": True,
        },
    }
    return [
        ("PUT", f"/v1/datasets/{ds}", {"type": "sparse.mutable"}),
        ("POST", f"/v1/datasets/{ds}/rows", {"rowName": "r0", "columns": cells}),
        ("POST", f"/v1/datasets/{ds}/commit", None),
        ("PUT", f"/v1/procedures/proc_{ds}", transform),
    ]


def written_read(ds: str) -> str:
    return f"SELECT s, d, e FROM {ds}_t ORDER BY rowName()"


def _get(sql: str) -> tuple[str, str, None]:
    return ("GET", "/v1/query?q=" + quote(sql), None)


def request(port: int, method: str, path: str, body) -> tuple[int, bytes]:
    # the server speaks HTTP/1.0: one connection per request
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        payload = None if body is None else json.dumps(body)
        headers = {} if body is None else {"Content-Type": "application/json"}
        conn.request(method, path, body=payload, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def _rounded(v):
    # sums of doubles may differ in the last bits with shuffle fetch order
    if isinstance(v, float):
        return float(f"{v:.9g}")
    if isinstance(v, list):
        return [_rounded(x) for x in v]
    if isinstance(v, dict):
        return {k: _rounded(x) for k, x in v.items()}
    return v


def canonical(data: bytes) -> str:
    return json.dumps(_rounded(json.loads(data)), sort_keys=True)


def round_scripts(rng, pool, cells, prefix: str) -> list[list[tuple]]:
    """One round: a script of (op, expected key, requests) per client.
    Every client sends the same ops, each pool read once and one write
    chain followed by a read of what it wrote, in one seeded order; client
    c starts c/CLIENTS of the way into that order, so the clients run
    spread over the order instead of piling onto the heavy statements
    together by chance. A write chain is one op; its latency runs from
    the first request to the last response."""
    order = rng.sample([*sorted(pool), None], len(pool) + 1)
    scripts = []
    for c in range(CLIENTS):
        at = c * len(order) // CLIENTS
        ds = f"{prefix}_{c}"
        script = []
        for name in order[at:] + order[:at]:
            if name is None:
                script.append(("write", None, write_chain(ds, cells)))
                script.append(("read", "written", [_get(written_read(ds))]))
            else:
                script.append(("read", name, [_get(pool[name])]))
        scripts.append(script)
    return scripts


def run_script(port: int, script) -> list[tuple]:
    out = []
    for op, key, requests in script:
        t0 = common.stamp()
        for method, path, body in requests:
            try:
                status, data = request(port, method, path, body)
            except OSError as e:
                status, data = 0, repr(e).encode()
            if status not in (200, 201):
                break
        t1 = common.stamp()
        out.append((op, key, len(requests), common.net_s(t0, t1), status, data, t1[0] - t0[0]))
    return out


def _drain(stream, lines: queue.Queue) -> None:
    """Pass the server's protocol lines on; anything else its JVM or
    Python workers print to stdout goes to stderr, so the pipe never
    fills and blocks them."""
    for line in stream:
        if line.startswith("{"):
            lines.put(json.loads(line))
        else:
            sys.stderr.write(line)
    lines.put(None)


def _server_line(lines: queue.Queue) -> dict:
    msg = lines.get(timeout=120)
    if msg is None:
        raise RuntimeError("the server process exited")
    return msg


def run(seed: int, seconds: float, traced: bool, sf_dir: str) -> dict:
    host = common.HostRecord()
    log_dir = None
    if traced:
        log_dir = os.path.join(common.OUT, f"eventlog-sql_serve-{seed}-{os.getpid()}")
    t_setup = common.stamp()
    common.prepare_env()
    cmd = [sys.executable, "-m", "perfbench.sql_serve", "--sf-dir", sf_dir]
    if traced:
        cmd += ["--event-log", log_dir]
    proc = subprocess.Popen(
        cmd, cwd=common.REPO, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
    )
    lines: queue.Queue = queue.Queue()
    reader = threading.Thread(target=_drain, args=(proc.stdout, lines), daemon=True)
    reader.start()
    try:
        port = _server_line(lines)["port"]
        rng = random.Random(seed)
        pool = read_pool(rng)
        cells = write_cells(rng)
        setup = [("read", name, [_get(sql)]) for name, sql in pool.items()]
        setup += [
            ("write", None, write_chain("setup", cells)),
            ("read", "written", [_get(written_read("setup"))]),
        ]
        expected = {}
        for op, key, _n, _lat, status, data, _raw in run_script(port, setup):
            if status not in (200, 201):
                raise RuntimeError(f"set-up {op} {key} failed: {status} {data[:300]!r}")
            if op == "read":
                expected[key] = canonical(data)
        setup_s = common.net_s(t_setup, common.stamp())

        def snap():
            proc.stdin.write("snap\n")
            proc.stdin.flush()
            return _server_line(lines)

        before = snap() if traced else {}
        cpu0 = common.driver_cpu(proc.pid)
        host.start()
        records, round_walls, raw_walls = [], [], []
        t_start = time.time()
        with ThreadPoolExecutor(CLIENTS) as pool_ex:
            for r in range(max(1, int(seconds // ROUND_S))):
                scripts = round_scripts(rng, pool, cells, f"w{seed}_{r}")
                t0 = common.stamp()
                futures = [pool_ex.submit(run_script, port, s) for s in scripts]
                for f in futures:
                    records.extend(f.result())
                t1 = common.stamp()
                round_walls.append(common.net_s(t0, t1))
                raw_walls.append(t1[0] - t0[0])
        t_end = time.time()
        host.stop()
        cpu1 = common.driver_cpu(proc.pid)
        peak = common.peak_rss_mb(proc.pid)
        after = snap() if traced else {}
    finally:
        with contextlib.suppress(OSError):  # the server may already be gone
            proc.stdin.write("stop\n")
            proc.stdin.close()
        proc.wait(timeout=120)
        reader.join(timeout=10)

    problems = []
    for op, key, _n, _lat, status, data, _raw in records:
        if status not in (200, 201):
            problems.append(f"{op} {key}: HTTP {status}: {data[:200]!r}")
        elif op == "read" and canonical(data) != expected[key]:
            problems.append(f"read {key}: response differs from the serial one")
    reads = [lat for op, _k, _n, lat, _s, _d, _r in records if op == "read"]
    writes = [lat for op, _k, _n, lat, _s, _d, _r in records if op == "write"]
    n_requests = sum(n for _op, _k, n, _lat, _s, _d, _r in records)
    per_op: dict[str, list[float]] = {}
    for op, key, _n, lat, _s, _d, _raw in records:
        per_op.setdefault(key or op, []).append(lat)
    rounds = len(round_walls)
    result = {
        "attempted": n_requests,
        "failed": len(problems),
        "problems": problems,
        "host": host.as_dict(),
        "per_op_s": {k: statistics.median(v) for k, v in sorted(per_op.items())},
        "rounds_s": round_walls,
        "rounds_raw_s": raw_walls,
        "samples_s": {"read": reads, "write": writes},
        "e2e": {
            "setup_s": (setup_s, "s", 1),
            "wall_s": (statistics.median(round_walls), "s", rounds),
            "ops_per_s": (n_requests / sum(round_walls), "1/s", n_requests),
            "read_p50_s": (common.quantile(reads, 0.5), "s", len(reads)),
            "read_p90_s": (common.quantile(reads, 0.9), "s", len(reads)),
            "write_p50_s": (common.quantile(writes, 0.5), "s", len(writes)),
        },
        "peak_rss_mb": peak,
    }
    if traced:
        spans = trace.diff(after, before)
        sm = trace.spark_metrics(trace.take_event_log(log_dir), [(t_start, t_end)], {})
        cpu = {k: cpu1[k] - cpu0[k] for k in ("python", "jvm", "workers")}
        counts = {
            "peak_rss_mb": peak,
            "ops": n_requests,
            "reads": len(reads),
            "client_latency_s": sum(raw for _op, _k, _n, _lat, _s, _d, raw in records),
        }
        result["per_layer"] = layers.per_layer(
            spans, sm, cpu, counts, rounds, statistics.median(round_walls)
        )
    return result


# -- server process --------------------------------------------------------------


def _handler_span(tracer: trace.Tracer, fn):
    from mldb_spark import caching

    inner = tracer.wrapper("rest.handler", fn)

    def handler(self):
        try:
            return inner(self)
        finally:
            tracer.gauge_max("caching.persists_held", len(caching._PERSISTED))

    return handler


def serve(sf_dir: str, log_dir: str | None) -> None:
    common.prepare_env(log_dir)
    spark = common.start_session("perfbench_sql_serve")
    from mldb_spark.api import Mldb
    from mldb_spark.catalog import TESTDATA_TABLES, load
    from mldb_spark.rest import MldbRestServer

    mldb = Mldb(spark)
    for name in TESTDATA_TABLES:
        ts_col = "ts" if name == "events" else None
        mldb.create_dataset(name, load(spark, sf_dir, name), ts_col=ts_col)
    srv = MldbRestServer(mldb)
    tracer = None
    if log_dir is not None:
        tracer = trace.Tracer()
        layers.install(tracer)
        handler = srv._server.RequestHandlerClass
        for verb in ("do_GET", "do_PUT", "do_POST"):
            setattr(handler, verb, _handler_span(tracer, getattr(handler, verb)))
    srv.start()
    print(json.dumps({"port": srv.port}), flush=True)
    try:
        for line in sys.stdin:
            if line.strip() != "snap":
                break
            print(json.dumps(tracer.snapshot() if tracer else {}), flush=True)
    finally:
        srv.stop()
        common.stop_session(spark)


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="sql_serve's server process")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--event-log")
    args = ap.parse_args()
    serve(args.sf_dir, args.event_log)
