"""The benchmark's own tests: session parity with `get_spark`, the span
and event-log arithmetic, and a smoke run of every workload at sf0.001
that checks every metric BENCHMARK.json names is emitted with its unit.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import pytest

from perfbench import common, layers, trace
from perfbench.sql_serve import canonical

REPO = common.REPO
with open(os.path.join(REPO, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)

# -- session parity ------------------------------------------------------------

_DUMP_CONF = """
import json, sys
sys.path.insert(0, {repo!r})
from perfbench import common
mode = {mode!r}
if mode == "get_spark":
    from mldb_spark.session import get_spark
    spark = get_spark("parity")
else:
    common.prepare_env({log_dir!r} if mode == "traced" else None)
    spark = common.start_session("parity")
print(json.dumps(dict(spark.sparkContext.getConf().getAll())))
common.stop_session(spark)
"""


def _session_conf(mode: str, log_dir: str) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    code = _DUMP_CONF.format(repo=REPO, mode=mode, log_dir=log_dir)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=REPO, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _parity_keys(conf: dict) -> dict:
    return {
        k: v
        for k, v in conf.items()
        if k.startswith("spark.sql.") or k in ("spark.default.parallelism", "spark.driver.memory")
    }


def test_session_parity_with_get_spark():
    os.makedirs(common.OUT, exist_ok=True)
    log_dir = tempfile.mkdtemp(prefix="parity-", dir=common.OUT)
    try:
        reference = _session_conf("get_spark", log_dir)
        untraced = _session_conf("untraced", log_dir)
        traced = _session_conf("traced", log_dir)
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    assert _parity_keys(reference)
    assert _parity_keys(untraced) == _parity_keys(reference)
    assert _parity_keys(traced) == _parity_keys(reference)
    # the traced run adds its event-log conf and nothing else
    added = set(traced) - set(untraced)
    assert added and all(k.startswith("spark.eventLog.") for k in added), added
    assert not set(untraced) - set(traced)


# -- spans and event log ----------------------------------------------------------


def test_tracer_self_time_and_reentry():
    tracer = trace.Tracer(intervals=("outer",))

    def inner():
        time.sleep(0.02)

    def outer(depth=0):
        if depth == 0:
            outer(1)  # re-entry counts once, at the outermost call
        inner()
        time.sleep(0.01)

    inner = tracer.wrapper("inner", inner)
    outer = tracer.wrapper("outer", outer)
    outer()
    snap = tracer.snapshot()
    assert snap["calls"] == {"inner": 2, "outer": 1}
    assert snap["total"]["outer"] >= snap["total"]["inner"] >= 0.04
    assert snap["self"]["outer"] == pytest.approx(snap["total"]["outer"] - snap["total"]["inner"])
    assert len(snap["intervals"]["outer"]) == 1 and "inner" not in snap["intervals"]


def test_spark_metrics_counts_only_jobs_inside_windows():
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 3, "time": 1_000_000},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_040,
         "Stage IDs": [0, 1], "Properties": {"spark.sql.execution.id": "3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_005_000,
         "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 300, "Executor CPU Time": 100_000_000, "JVM GC Time": 5,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 2**20},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**19}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 999}},
    ]
    m = trace.spark_metrics(events, [(1000.0, 1001.0)], {"fit": [(1000.03, 1000.05)]})
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 1, 1)
    assert m["plan_s"] == pytest.approx(0.04)
    assert m["executor_run_s"] == pytest.approx(0.3)
    assert m["blocked_s"] == pytest.approx(0.2)
    assert (m["shuffle_read_mb"], m["shuffle_write_mb"]) == (1.0, 0.5)
    assert m["span_jobs"] == {"fit": 1}


def test_quantile_estimate():
    xs = [float(x) for x in range(101)]
    assert common.quantile(xs, 0.5) == pytest.approx(50.0)
    assert common.quantile(xs, 0.9) == pytest.approx(90.0, abs=0.5)
    assert common.quantile([3.0], 0.5) == pytest.approx(3.0)
    assert 1.0 < common.quantile([1.0, 1.0, 9.0], 0.5) < 9.0


def test_net_time_subtracts_stolen_capacity():
    ncpu = os.cpu_count() or 1
    assert common.net_s((100.0, 50.0), (110.0, 50.0)) == 10.0
    # 2 s stolen from every vCPU leaves 8 s of the guest's capacity
    assert common.net_s((100.0, 50.0), (110.0, 50.0 + 2.0 * ncpu)) == pytest.approx(8.0)
    a, b = common.stamp(), common.stamp()
    assert b[0] >= a[0] and b[1] >= a[1]


def test_responses_compare_up_to_float_summation_order():
    a = json.dumps([{"rowName": "0", "columns": [["s", 0.1 + 0.2 + 0.3, None]]}]).encode()
    b = json.dumps([{"rowName": "0", "columns": [["s", 0.3 + 0.2 + 0.1, None]]}]).encode()
    assert canonical(a) == canonical(b)


# -- smoke run ---------------------------------------------------------------------


def test_benchmark_json_names_every_emitted_metric():
    assert {w["name"] for w in BENCHMARK["workloads"]} == {"sql_serve", "batch_pipeline"}
    per_layer = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
    assert per_layer == layers.names_and_units()


def _run(workload: str, traced: int) -> tuple[dict, dict]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(traced), "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    report, result = (json.loads(line) for line in out.stdout.strip().splitlines()[-2:])
    return report, result


@pytest.mark.parametrize("workload", ["sql_serve", "batch_pipeline"])
def test_smoke_every_metric_emitted(workload):
    e2e_units = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}

    report, result = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, report["problems"]
    assert result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == e2e_units
    # every end-to-end metric also carries its sample count
    assert all(report["e2e"][k]["samples"] >= 1 for k in e2e_units)
    assert report["e2e"]["failed_frac"] == {"value": 0.0, "unit": "ratio", "samples": result["attempted"]}
    assert report["e2e"]["peak_rss_mb"]["value"] > 0
    assert all(report["e2e"][k]["samples"] >= 1 for k in ("read_p90_s", "write_p50_s"))
    assert {"loadavg_before", "loadavg_after", "other_cpu_s", "steal_s"} <= set(report["host"])

    report, result = _run(workload, 1)
    assert result["correct"], report["problems"]
    metrics = result["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == layer_units
    # ratios carry their base
    assert metrics["base.reads"]["value"] > 0 and metrics["base.ops"]["value"] > 0
    assert metrics["dialect.parse_calls_per_read"]["value"] == pytest.approx(
        metrics["dialect.parse_calls"]["value"] / metrics["base.reads"]["value"]
    )
    assert metrics["spark.jobs_per_op"]["value"] == pytest.approx(
        metrics["spark.jobs"]["value"] / metrics["base.ops"]["value"]
    )
    assert metrics["spark.jobs"]["value"] > 0 and metrics["python.driver_cpu_s"]["value"] > 0
    busy = {
        "sql_serve": ("rest.handler_s", "dialect.parse_s", "api.commit_s"),
        "batch_pipeline": (
            "queries.build_s", "ml.svd_train_s", "ml.svd_train.jobs",
            "dedup.connected_components_s", "similarity.semantic_dedup_s",
            "corpus.dedup_lines_s",
        ),
    }[workload]
    assert all(metrics[k]["value"] > 0 for k in busy), {k: metrics[k] for k in busy}
