"""Serve the /v1 REST facade over a testdata scale factor.

Usage: python tools/serve.py [sf_dir] [port]
(sf_dir defaults to the in-repo perfbench/data/sf0.001)

Loads every parquet table under sf_dir as a dataset, starts
mldb_spark.rest.MldbRestServer, and blocks. Then e.g.:

    curl 'http://127.0.0.1:8765/v1/query?q=SELECT%20count(*)%20AS%20n%20FROM%20lineitem&format=aos'
    curl 'http://127.0.0.1:8765/v1/datasets/orders'
"""

from __future__ import annotations

import glob
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mldb_spark.api import Mldb  # noqa: E402
from mldb_spark.catalog import load  # noqa: E402
from mldb_spark.rest import MldbRestServer  # noqa: E402
from mldb_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = (
        sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "perfbench", "data", "sf0.001")
    )
    port = int(sys.argv[2]) if len(sys.argv) > 2 else 8765
    spark = get_spark("mldb_spark_serve")
    spark.sparkContext.setLogLevel("ERROR")
    mldb = Mldb(spark)
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(p))[0]
        mldb.create_dataset(name, load(spark, sf_dir, name))
    srv = MldbRestServer(mldb, port=port).start()
    print(f"serving {mldb.datasets()} on http://127.0.0.1:{srv.port}/v1", flush=True)
    try:
        import threading

        threading.Event().wait()
    except KeyboardInterrupt:
        srv.stop()


if __name__ == "__main__":
    main()
