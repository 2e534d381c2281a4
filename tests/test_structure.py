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
