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


def _function_lines(path: pathlib.Path, name: str) -> set[str]:
    """`path:line` ids of the lines of the top-level function `name`
    (none if there is no such function)."""
    lines = path.read_text().splitlines()
    start = next((i for i, l in enumerate(lines) if l.startswith(f"def {name}(")), None)
    if start is None:
        return set()
    end = next(
        (i for i, l in enumerate(lines) if i > start and l.startswith("def ")),
        len(lines),
    )
    return {f"{path.relative_to(PKG.parent)}:{i + 1}" for i in range(start, end)}


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
    allowed = _function_lines(PKG / "session.py", "local_frame")
    assert [o for o in offenders if o not in allowed] == []


# `.limit(<expr> + 1)`, across lines, with one level of nested parens
_BOUNDED_LIMIT = re.compile(r"\.limit\(([^()]|\([^()]*\))*\+\s*1\s*\)")


def test_bounded_collects_go_through_local_rows():
    """Collect at most cap + 1 rows, over cap means the distributed
    path or an error: that rule is written once, in session.local_rows,
    which also logs the regime it chose. export_xlsx keeps its own
    collect: it writes str() of arbitrary column types, and Arrow reads
    timestamps, maps and structs back as other Python types."""
    offenders = []
    for p in sorted(PKG.rglob("*.py")):
        text = p.read_text()
        for m in _BOUNDED_LIMIT.finditer(text):
            n = text.count("\n", 0, m.start()) + 1
            offenders.append(f"{p.relative_to(PKG.parent)}:{n}")
    allowed = _function_lines(PKG / "session.py", "local_rows") | _function_lines(
        PKG / "sources" / "git_io.py", "export_xlsx"
    )
    assert [o for o in offenders if o not in allowed] == []


# a branch on the entity type name: `etype == ...`, `etype in (...)`
_ETYPE_BRANCH = re.compile(r"\betype\s*(==|!=|\bin\b|\bnot\s+in\b)")


def test_entity_types_dispatch_through_registry():
    """Each createEntity (kind, type) is one builder registered in
    api._ENTITY_TYPES, never a branch on the type name, and
    create_entity's docstring lists exactly the registered types."""
    assert _ETYPE_BRANCH.findall((PKG / "api.py").read_text()) == []

    from mldb_spark.api import _ENTITY_TYPES, Mldb

    listed, kind = set(), None
    for line in Mldb.create_entity.__doc__.splitlines():
        m = re.match(r"\s*- (\w+): (.*)", line)
        if m:
            kind, line = m.groups()
        elif not line.strip():
            kind = None
        if kind:
            listed |= {(kind, t) for t in re.findall(r"[\w.]+", line)}
    assert listed == set(_ENTITY_TYPES)
