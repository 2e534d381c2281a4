"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query smoke check at sf0.001.
queries()     — every implemented operator from SURVEY.md §2 as
                (spark, sf_dir) -> DataFrame callables.
oracle_sql()  — DuckDB-replayable SQL twin per query (column names,
                rounding and fold order mirrored — see
                mldb_spark/oracles.py).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from mldb_spark.oracles import ORACLES
from mldb_spark.queries import QUERIES, q05_region_revenue

_SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "perfbench", "data", "sf0.001")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: 5-way star join + aggregate at sf0.001."""
    return q05_region_revenue(spark, _SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
