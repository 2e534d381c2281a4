"""Utility procedures (SURVEY §2.13 'utilities').

Reference parity:
- list.files (builtin: files listing procedure): enumerate files
  under a root into a dataset (path, name, size_bytes, mtime).
- dataset.stats: per-column stats + row count of a dataset — wraps
  operators.relational.column_stats.
- serial (serial procedure runner): run a list of procedures in
  order, collecting per-step status.
- null / mock: no-op procedure and a deterministic mock dataset for
  harness tests.

These are driver-side harness pieces by nature (the reference's are
too); the datasets they produce are metadata-sized.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mldb_spark.session import local_frame


def list_files(
    spark: SparkSession,
    root: str,
    recursive: bool = True,
    pattern: str | None = None,
) -> DataFrame:
    """list.files: files under root as a dataset. pattern is a glob
    fnmatch on the file NAME."""
    import fnmatch

    rows = []
    if recursive:
        walker = os.walk(root)
    else:
        walker = [(root, [], [f for f in os.listdir(root) if os.path.isfile(os.path.join(root, f))])]
    for dirpath, _dirs, files in walker:
        for f in files:
            if pattern and not fnmatch.fnmatch(f, pattern):
                continue
            full = os.path.join(dirpath, f)
            st = os.stat(full)
            rows.append((full, f, int(st.st_size), float(st.st_mtime)))
    return local_frame(
        spark, rows, "path string, name string, size_bytes long, mtime double"
    )


def dataset_stats(df: DataFrame) -> DataFrame:
    """dataset.stats: one row per column with count/distinct stats
    (single aggregate pass via column_stats)."""
    from mldb_spark.operators.relational import column_stats

    return column_stats(df)


def serial_run(steps: list[tuple[str, callable]]) -> list[dict]:
    """serial procedure: run (name, fn) steps in order; stop on first
    failure. Returns per-step {name, ok, seconds, error}."""
    out = []
    for name, fn in steps:
        t0 = time.time()
        try:
            fn()
            out.append({"name": name, "ok": True, "seconds": round(time.time() - t0, 3), "error": None})
        except Exception as e:
            out.append({"name": name, "ok": False, "seconds": round(time.time() - t0, 3), "error": str(e)})
            break
    return out


def null_procedure() -> None:
    """null procedure: does nothing, successfully."""
    return None


def external_procedure(
    script_path: str | None = None,
    source: str | None = None,
    stdin_data: str = "",
    timeout: float = 120.0,
) -> dict:
    """experimental.external.procedure
    (builtin/external_python_procedure.cc:152): spawn an external
    python process, send `stdin_data` on its stdin, capture stdout.
    Per the reference (:127-144), the LAST stdout line is parsed as
    JSON and becomes the `return` field; the rest stays in `stdout`.
    """
    import json
    import subprocess
    import sys
    import tempfile

    if (source is None) == (script_path is None):
        raise ValueError("external_procedure takes exactly one of source= or script_path=")
    tmp = None
    if source is not None:
        tmp = tempfile.NamedTemporaryFile("w", suffix=".py", delete=False)
        tmp.write(source)
        tmp.close()
        script_path = tmp.name
    try:
        proc = subprocess.run(
            [sys.executable, script_path],
            input=stdin_data,
            capture_output=True,
            text=True,
            timeout=timeout,
        )
    finally:
        if tmp is not None:
            os.unlink(tmp.name)
    out = proc.stdout.rstrip("\n")
    head, _, last = out.rpartition("\n")
    ret = None
    try:
        ret = json.loads(last)
        stdout = head
    except ValueError:
        stdout = out
    return {
        "return": ret,
        "stdout": stdout,
        "stderr": proc.stderr,
        "exit_code": proc.returncode,
    }


def mock_dataset(spark: SparkSession, n_rows: int = 100, seed: int = 1) -> DataFrame:
    """Deterministic mock dataset (id, category, value) for harness
    tests — generated JVM-side with sequence+hash, no driver loop."""
    return (
        spark.range(n_rows)
        .select(
            F.col("id"),
            F.concat(F.lit("cat"), (F.crc32(F.concat(F.lit(seed), F.col("id"))) % 5).cast("string")).alias("category"),
            (F.crc32(F.concat(F.lit(seed + 1), F.col("id"))) % 1000 / 1000.0).alias("value"),
        )
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "inner",
    n_salts: int = 16,
    skew_threshold: int | None = None,
) -> DataFrame:
    """Skew-resistant equi-join: salt the FACT side's hot keys across
    n_salts sub-keys and replicate the matching DIM rows once per
    salt, so a single hot key spreads over n_salts reducers instead
    of stalling one.

    This is the manual fallback when AQE's skew-join split
    (spark.sql.adaptive.skewJoin.enabled) can't kick in — e.g. the
    skewed side is the OUTPUT of an aggregation in the same stage, or
    the join is feeding a window that repartitions by the same key.

    When `skew_threshold` is given, ONLY keys whose fact-side count
    exceeds it are salted (one cheap count pass over the fact keys);
    everything else joins on the natural key — the replicate cost is
    then |hot keys| * n_salts, not |dim| * n_salts.

    Supports inner and left joins (the salting side is `fact`).
    """
    import pyspark.sql.functions as F

    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if skew_threshold is not None:
        hot = (
            fact.groupBy(key)
            .count()
            .filter(F.col("count") > skew_threshold)
            .select(key)
        )
        hot_rows = fact.join(F.broadcast(hot), key, "left_semi")
        cold_rows = fact.join(F.broadcast(hot), key, "left_anti")
        hot_dim = dim.join(F.broadcast(hot), key, "left_semi")
        cold_dim = dim.join(F.broadcast(hot), key, "left_anti")
        joined_hot = salted_join(hot_rows, hot_dim, key, how, n_salts, None)
        joined_cold = cold_rows.join(cold_dim, key, how)
        return joined_hot.unionByName(joined_cold)
    salted_fact = fact.withColumn(
        "__salt", (F.rand(seed=7) * n_salts).cast("int")
    )
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return (
        salted_fact.join(salted_dim, [key, "__salt"], how).drop("__salt")
    )
