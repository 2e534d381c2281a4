"""Stage-level profiler: run one gate in the benchmark's own session
(`mldb_spark.session.get_spark`, with the event-log confs of
perfbench's traced run) and print per-stage metrics read from Spark's
event log, so optimization targets the right stage.

Usage: python tools/profile_stages.py q31_embedding_neardup [--sf DIR] [--runs N]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
    ap.add_argument("query")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    log_dir = os.path.join(common.OUT, f"stageprof-{os.getpid()}")
    common.prepare_env(log_dir)
    spark = common.start_session("mldb_spark_stageprof")

    import __spark_entry__ as entrymod

    from mldb_spark.caching import release_cached

    fn = entrymod.queries()[args.query]
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()

    windows = []
    for _ in range(args.runs):
        release_cached()
        spark.catalog.clearCache()
        t0 = time.time()
        fn(spark, args.sf).write.mode("overwrite").format("noop").save()
        windows.append((t0, time.time()))
    release_cached()
    common.stop_session(spark)

    events = trace.take_event_log(log_dir)
    for i, window in enumerate(windows):
        tot = trace.spark_metrics(events, [window], {})
        print(f"--- run {i}: {window[1] - window[0]:.3f}s", flush=True)
        print(
            f"  {tot['jobs']} jobs, {tot['stages']} stages, executor run "
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
