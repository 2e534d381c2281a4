"""Source-structure rules that keep each decision in one place."""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "mldb_spark"
_ESTIMATOR_IMPORT = re.compile(
    r"^\s*(from\s+pyspark\.ml\.(classification|clustering|regression)\s+import"
    r"|import\s+pyspark\.ml\.(classification|clustering|regression)\b)",
    re.M,
)


def test_model_fits_live_in_ml_package():
    """How a model is fitted is shared by the Python API, createEntity
    and SQL: only mldb_spark/ml/ imports MLlib estimators, so every
    other module reaches a fit through ml.procedures."""
    offenders = [
        str(p.relative_to(PKG.parent))
        for p in sorted(PKG.rglob("*.py"))
        if PKG / "ml" not in p.parents and _ESTIMATOR_IMPORT.search(p.read_text())
    ]
    assert offenders == []


def test_driver_rows_enter_spark_through_local_frame():
    """Driver-side rows become a DataFrame only in session.local_frame,
    which builds an Arrow LocalRelation: a `createDataFrame(<python
    rows>)` elsewhere would parallelize pickled rows through a
    PythonRDD and put Python-worker tasks behind every job over the
    frame. No `parallelize(` remains either."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        for n, line in enumerate(p.read_text().splitlines(), 1):
            if ".createDataFrame(" in line or "parallelize(" in line:
                offenders.append(f"{p.relative_to(PKG.parent)}:{n}")
    session = (PKG / "session.py").read_text().splitlines()
    start = next(i for i, l in enumerate(session) if l.startswith("def local_frame("))
    end = next(
        (i for i, l in enumerate(session) if i > start and l.startswith("def ")),
        len(session),
    )
    allowed = {f"mldb_spark/session.py:{i + 1}" for i in range(start, end)}
    assert [o for o in offenders if o not in allowed] == []
