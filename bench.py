"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print a JSON summary line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The driver records only the last ~2000 chars of stdout; a 90-query
dict overflows that window (BENCH_r03.parsed was null). So stdout now
carries TWO lines: the full per-query JSON first (complete in the raw
stream), then a SHORT summary line LAST — total, sf, and the slowest
queries — guaranteed to sit entirely inside the tail window. The full
per-query JSON is also written to BENCH_LOCAL.json next to this file.

Each query is forced end-to-end with a noop write (full computation,
no driver-side collect cost), timed individually after a warm-up of
the session.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mldb_spark.session import get_spark  # noqa: E402


def short_keys(timings: dict[str, float]) -> dict[str, float]:
    """Per-query seconds under short keys, rounded to 2 decimals: the
    `qNN`/`qaNN` prefix of each gate name, or the full name when an
    earlier gate already took that prefix (a collision must not
    silently drop a query's number). Keys keep `timings`' order."""
    out: dict[str, float] = {}
    for name, sec in timings.items():
        key = name.split("_", 1)[0]
        if key in out:
            key = name
        out[key] = round(sec, 2)
    return out


def main() -> None:
    # Oracle-fixture exports are correctness-harness IO (collect +
    # parquet write inside gate bodies); suppress them so the bench
    # times pure queries. The driver's correctness run never imports
    # bench.py, so its fixtures stay fresh.
    os.environ["MLDB_SPARK_SKIP_FIXTURE_EXPORT"] = "1"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # provenance (VERDICT r8 #8): three rounds re-litigated driver-slot
    # host load — record 1/5/15-min loadavg before and after the run
    # so an inflated artifact carries its own explanation
    load_before = list(os.getloadavg())
    spark = get_spark("mldb_spark_bench")
    # stdout must stay parseable: exactly one JSON line at the end.
    # Progress bars are disabled in get_spark; drop log chatter too.
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # warm up the JVM + parquet footer caches so per-query numbers
    # measure the plan, not session startup
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()

    from mldb_spark.caching import release_cached

    timings: dict[str, float] = {}
    for name, fn in sorted(qs.items()):
        best = None
        # queries that persist intermediates (LSH signatures, MLlib
        # internals) must not bleed executor memory into later
        # queries' timings — each query starts from a cold cache
        release_cached()
        spark.catalog.clearCache()
        try:
            # best-of-2: the first run absorbs plan compilation and any
            # transient host contention; the min is the steady-state
            # per-query cost
            for _ in range(2):
                t0 = time.time()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                elapsed = time.time() - t0
                best = elapsed if best is None else min(best, elapsed)
            timings[name] = round(best, 3)
        except Exception as e:  # a broken query must not hide the rest
            timings[name] = -1.0
            print(f"bench error in {name}: {e}", file=sys.stderr)
        finally:
            # tracked persists (dedup signatures, SVD matrices) are
            # per-query scratch: release so they never bleed into the
            # next query's executor-memory budget
            release_cached()

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    full = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in os.getloadavg()],
        # configured core count (the driver also benches at a lower
        # $SPARK_GRAFT_CPUS to measure scaling; recording os.cpu_count()
        # here made the 8-core artifact claim cpus=32 — VERDICT r9 #7)
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        "host_cpus": os.cpu_count(),
    }
    # per-stage rows for the chained pipeline macro-gates (qa31/qa32 —
    # the reference's reddit/stackoverflow benchmark_utils metrics)
    try:
        from mldb_spark.queries import PIPELINE_STAGES

        if PIPELINE_STAGES:
            full["stages"] = {
                g: dict(s) for g, s in sorted(PIPELINE_STAGES.items())
            }
    except Exception:
        pass
    # full artifact, committed in-repo so per-query numbers survive the
    # driver's stdout-tail truncation
    local_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json")
    with open(local_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")
    # builder's load-controlled pin: MLDB_SPARK_BENCH_PIN=1 also writes
    # BENCH_PINNED.json — a path the per-round driver never overwrites,
    # so the clean-slot number of record survives the driver's own
    # (possibly load-inflated) bench run (VERDICT r8 #8)
    if os.environ.get("MLDB_SPARK_BENCH_PIN"):
        pin_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_PINNED.json"
        )
        with open(pin_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps(full, separators=(",", ":")), flush=True)
    # short line LAST: the driver keeps only the final ~2000 chars of
    # stdout, so the final line must be a complete, small JSON object.
    # Through round 9 it carried only the 15 slowest queries, which
    # made the driver's round-over-round comparison sample
    # selection-biased toward regressions (queries that got FASTER left
    # the top-15 window and were reported as dropped_from_bench —
    # VERDICT r9 #2). Now it carries ALL queries under short keys (the
    # unique `qNN`/`qaNN` prefix of each gate name) at 2-decimal
    # precision: 131 entries serialize to ~1.6k chars, inside the tail
    # window. The first line and BENCH_LOCAL.json keep full names and
    # 3-decimal values.
    short = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": short_keys(timings),
        "n_queries": len(timings),
        "queries_file": "BENCH_LOCAL.json",
        "sf": sf_val,
        "cpus": full["cpus"],
    }
    print(json.dumps(short, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
