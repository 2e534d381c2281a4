"""Local replica of the driver's correctness gate: run each Spark
query and its DuckDB oracle side by side, compare row count, column
names, and an order-insensitive value hash.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
(sf_dir defaults to the in-repo perfbench/data/sf0.001)
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mldb_spark.session import get_spark  # noqa: E402
from mldb_spark.testing import compare_spark_duck, duck_connection  # noqa: E402


def main() -> int:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.path.join(REPO, "perfbench", "data", "sf0.001")
    )
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    only = set(sys.argv[2:])

    spark = get_spark()
    con = duck_connection(sf_dir)

    from mldb_spark.caching import release_cached

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        # tracked persists (LSH signatures, SVD matrices) are
        # per-query scratch — release between queries, same as bench.py
        release_cached()
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                n = df.count()
                print(f"pass {name}: rows-only ({n} rows, {time.time()-t0:.1f}s)")
                continue
            problems = compare_spark_duck(df, con, oracles[name])
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: error: {e}")
            continue
        if problems:
            failures.append(name)
            print(f"FAIL {name}: {'; '.join(problems)}")
        else:
            print(f"pass {name} ({time.time()-t0:.1f}s)")

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
