"""Stage-level profiler: run gates in the benchmark's own session
(`mldb_spark.session.get_spark`, with the event-log confs of
perfbench's traced run) and print per-stage metrics read from Spark's
event log, so optimization targets the right stage. Each run also
prints how many classes Spark's code generator compiled during it
(`CodegenMetrics`), so a gate that recompiles on every warm run shows.

A run executes every named gate once, in order, so several gates
profile a serial pass over their shared working set. With --plan-dir,
each gate's `explain("formatted")` from the last run is written to
<plan-dir>/<gate>.txt, before that run's tracked persists are released,
so the plan shows what the run executed.

Usage: python tools/profile_stages.py q31_embedding_neardup [GATE ...] [--sf perfbench/data/sf0.01] [--runs N] [--plan-dir DIR]
"""

from __future__ import annotations

import argparse
import io
import os
import sys
import time
from collections import defaultdict
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import common, trace  # noqa: E402


def stage_table(events: list[dict], window: tuple[float, float]) -> list[dict]:
    """Per-stage task totals of the jobs submitted inside `window`."""
    names: dict[int, str] = {}
    stage_ids: set[int] = set()
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart" and trace._inside(ev["Submission Time"], [window]):
            stage_ids.update(ev.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            names[info["Stage ID"]] = info.get("Stage Name", "")
    rows: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd" or ev.get("Stage ID") not in stage_ids:
            continue
        tm = ev.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        r = rows[ev["Stage ID"]]
        r["tasks"] += 1
        r["run_ms"] += tm.get("Executor Run Time", 0)
        r["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
        r["gc_ms"] += tm.get("JVM GC Time", 0)
        r["sread"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        r["swrite"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return sorted(
        ({"stage": s, "name": names.get(s, ""), **r} for s, r in rows.items()),
        key=lambda r: -r["run_ms"],
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", default=os.path.join(REPO, "perfbench", "data", "sf0.01"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--plan-dir", default=None)
    args = ap.parse_args()

    log_dir = os.path.join(common.OUT, f"stageprof-{os.getpid()}")
    common.prepare_env(log_dir)
    spark = common.start_session("mldb_spark_stageprof")

    import __spark_entry__ as entrymod

    from mldb_spark.caching import release_cached

    fns = [entrymod.queries()[q] for q in args.queries]
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    windows = []
    compiles = []
    for _ in range(args.runs):
        release_cached()
        spark.catalog.clearCache()
        c0 = codegen.METRIC_COMPILATION_TIME().getCount()
        t0 = time.time()
        dfs = []
        for fn in fns:
            dfs.append(fn(spark, args.sf))
            dfs[-1].write.mode("overwrite").format("noop").save()
        windows.append((t0, time.time()))
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - c0)
    if args.plan_dir:
        os.makedirs(args.plan_dir, exist_ok=True)
        for q, df in zip(args.queries, dfs):
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plan_dir, f"{q}.txt"), "w") as f:
                f.write(buf.getvalue())
    release_cached()
    common.stop_session(spark)

    events = trace.take_event_log(log_dir)
    for i, window in enumerate(windows):
        tot = trace.spark_metrics(events, [window], {})
        print(f"--- run {i}: {window[1] - window[0]:.3f}s", flush=True)
        print(
            f"  {tot['jobs']} jobs, {tot['stages']} stages, "
            f"{compiles[i]} codegen classes compiled, executor run "
            f"{tot['executor_run_s']:.3f}s cpu {tot['executor_cpu_s']:.3f}s"
        )
        for s in stage_table(events, window)[:14]:
            print(
                f"  run={s['run_ms']:>7.0f}ms cpu={s['cpu_ms']:>7.0f}ms "
                f"gc={s['gc_ms']:>6.0f}ms tasks={s['tasks']:>3.0f} "
                f"sread={s['sread']:>9.0f} swrite={s['swrite']:>9.0f} {s['name'][:70]}"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
