"""Source-structure rules that keep each decision in one place."""

from __future__ import annotations

import ast
import os
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "mldb_spark"
REPO = PKG.parent
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


_TRANSLATE = PKG / "dialect" / "translate.py"
_NAME_TESTS = (ast.Eq, ast.NotEq, ast.In, ast.NotIn)
# the join-qualified x.rowName() / x.rowHash() check in Binder._call
_JOIN_QUALIFIED = {"'.' in name", "tail in ('rowname', 'rowhash')", "tail == 'rowname'"}


def _str_literals(node: ast.AST) -> bool:
    if isinstance(node, ast.Constant):
        return isinstance(node.value, str)
    return isinstance(node, (ast.Tuple, ast.Set, ast.List)) and all(
        isinstance(x, ast.Constant) and isinstance(x.value, str) for x in node.elts
    )


def _call_name_tests(fn: ast.FunctionDef) -> list[str]:
    """Source of every test in `fn` of a call's name against string
    literals: ==, !=, in, not in, or startswith/endswith/removeprefix
    prefix dispatch. A call's name is `<x>.name`, or a variable assigned
    from one, a string method of one or a slice of one."""
    derived: set[str] = set()

    def is_name(n: ast.AST) -> bool:
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
            return is_name(n.func.value)
        if isinstance(n, ast.Subscript):
            return is_name(n.value)
        return (isinstance(n, ast.Attribute) and n.attr == "name") or (
            isinstance(n, ast.Name) and n.id in derived
        )

    grew = True
    while grew:
        grew = False
        for node in ast.walk(fn):
            if isinstance(node, ast.Assign) and is_name(node.value):
                for target in node.targets:
                    for x in ast.walk(target):
                        if isinstance(x, ast.Name) and x.id not in derived:
                            derived.add(x.id)
                            grew = True
    found = []
    for node in ast.walk(fn):
        if isinstance(node, ast.Compare) and all(isinstance(o, _NAME_TESTS) for o in node.ops):
            sides = [node.left, *node.comparators]
            if any(map(is_name, sides)) and any(map(_str_literals, sides)):
                found.append(ast.unparse(node))
        elif (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("startswith", "endswith", "removeprefix")
            and is_name(node.func.value)
            and any(map(_str_literals, node.args))
        ):
            found.append(ast.unparse(node))
    return found


def test_builtins_bind_through_one_table():
    """Each dialect builtin is one translate._BUILTINS entry holding its
    binding, arity, static type, purity, aggregate flag and spelling.
    No Binder method, _is_const_expr or _is_path_valued tests a call's
    name against string literals (the join-qualified x.rowName() check
    aside; the COLUMN EXPR binders are separate classes and keep their
    overrides), and the parallel name sets are gone."""
    tree = ast.parse(_TRANSLATE.read_text())
    binder = next(n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "Binder")
    scopes = [n for n in binder.body if isinstance(n, ast.FunctionDef)] + [
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name in ("_is_const_expr", "_is_path_valued")
    ]
    assert {"_call", "_static_dtype", "_is_const_expr", "_is_path_valued"} <= {
        n.name for n in scopes
    }
    found = [t for scope in scopes for t in _call_name_tests(scope)]
    assert [t for t in found if t not in _JOIN_QUALIFIED] == []

    from mldb_spark.dialect import translate

    for gone in ("AGGREGATE_FNS", "_RESERVED_BUILTIN_NAMES", "_scalar_fn"):
        assert not hasattr(translate, gone), gone
    for gone in ("_STRING_FNS", "_CANONICAL_SPELLING", "_ROW_AGG", "_aggregate"):
        assert not hasattr(translate.Binder, gone), gone
    assigned = {
        t.id
        for node in ast.walk(tree)
        if isinstance(node, ast.Assign)
        for t in node.targets
        if isinstance(t, ast.Name)
    }
    assert assigned.isdisjoint({"volatile", "one_arg"})
    assert all(
        isinstance(entry, translate._Builtin) and name == name.lower()
        for name, entry in translate._BUILTINS.items()
    )


# the machine-local data directories the code once read: the sf*
# table directories and the reference checkout
_OUTSIDE_DIRS = tuple(os.path.join(os.sep, "root", d) for d in ("testdata", "reference"))


def test_code_names_no_out_of_repo_data_path():
    """Tier-1, the tools and the driver entry point read their data
    from the repository: no string literal other than a docstring in
    mldb_spark/, tools/, tests/ or __spark_entry__.py names the
    out-of-repo data directories. TITANIC_CSV is the one exception:
    that fixture has no in-repo copy, and its test is skipped where the
    file is absent. bench.py is not scanned, because its default sf0.1
    directory has no in-repo copy either."""
    files = [REPO / "__spark_entry__.py"] + [
        p for d in ("mldb_spark", "tools", "tests") for p in sorted((REPO / d).rglob("*.py"))
    ]
    offenders = []
    for path in files:
        tree = ast.parse(path.read_text())
        skip = {
            id(node.body[0].value)
            for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
            and node.body
            and isinstance(node.body[0], ast.Expr)
        } | {
            id(node.value)
            for node in ast.walk(tree)
            if isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "TITANIC_CSV" for t in node.targets)
        }
        offenders += [
            f"{path.relative_to(REPO)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in skip
            and any(d in node.value for d in _OUTSIDE_DIRS)
        ]
    assert offenders == []


_REST = PKG / "rest.py"
# a docstring route line: `GET  /v1/...` or `GET|POST /v1/...`
_ROUTE_LINE = re.compile(r"^\s*((?:GET|PUT|POST)(?:\|(?:GET|PUT|POST))*)\s+(/[^\s?]*)", re.M)


def test_rest_routes_through_one_table():
    """Each REST route is one rest._ROUTES entry, matched by one
    matcher and answered by one dispatcher with one error mapping: no
    path-parts list is compared against a literal list or slice outside
    _match, do_GET/do_PUT/do_POST only call _dispatch, no `except
    Exception` (or bare except) remains outside _dispatch, and the
    module docstring lists exactly the table's routes."""
    tree = ast.parse(_REST.read_text())
    fns = {n.name: n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)}
    assert {"_match", "_dispatch", "do_GET", "do_PUT", "do_POST"} <= set(fns)
    inside = {
        name: {id(n) for n in ast.walk(fns[name])} for name in ("_match", "_dispatch")
    }

    def list_or_slice(n: ast.AST) -> bool:
        return isinstance(n, ast.List) or (
            isinstance(n, ast.Subscript) and isinstance(n.slice, ast.Slice)
        )

    path_tests = [
        ast.unparse(n)
        for n in ast.walk(tree)
        if isinstance(n, ast.Compare)
        and id(n) not in inside["_match"]
        and any(map(list_or_slice, [n.left, *n.comparators]))
    ]
    assert path_tests == []
    for verb in ("do_GET", "do_PUT", "do_POST"):
        calls = [n for n in ast.walk(fns[verb]) if isinstance(n, ast.Call)]
        assert [ast.unparse(c.func) for c in calls] == ["self._dispatch"], verb
        assert len(fns[verb].body) == 1, verb
    broad = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.ExceptHandler)
        and (n.type is None or (isinstance(n.type, ast.Name) and n.type.id == "Exception"))
        and id(n) not in inside["_dispatch"]
    ]
    assert broad == []

    from mldb_spark import rest

    listed = {
        (verb, pattern)
        for verbs, pattern in _ROUTE_LINE.findall(rest.__doc__)
        for verb in verbs.split("|")
    }
    assert listed == {(verb, pattern) for verb, pattern, _ in rest._ROUTES}


# MldbContext's catalog maps and what may change them in place
_CATALOG_MAPS = {"_datasets", "_meta", "_functions"}
_CATALOG_CHANGERS = ("register", "drop", "register_function")
_MAP_MUTATORS = {"pop", "popitem", "clear", "update", "setdefault", "__setitem__", "__delitem__"}


def test_catalog_changes_go_through_register_drop_register_function():
    """MldbContext's plan cache trusts the change stamps that register,
    drop and register_function record, so no other code in mldb_spark/
    assigns to, deletes from or pops MldbContext._datasets, _meta or
    _functions (__init__ creates them), and each of the three stamps
    the name it changed."""
    tree = ast.parse(_TRANSLATE.read_text())
    ctx = next(n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "MldbContext")
    methods = {n.name: n for n in ctx.body if isinstance(n, ast.FunctionDef)}
    for name in _CATALOG_CHANGERS:
        calls = [ast.unparse(n.func) for n in ast.walk(methods[name]) if isinstance(n, ast.Call)]
        assert "self._stamp" in calls, name
    changers = {id(n) for name in _CATALOG_CHANGERS for n in ast.walk(methods[name])}
    init = {id(n) for n in ast.walk(methods["__init__"])}

    def catalog_map(n: ast.AST) -> bool:
        return isinstance(n, ast.Attribute) and n.attr in _CATALOG_MAPS

    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        mine = path == _TRANSLATE
        for node in ast.walk(tree if mine else ast.parse(path.read_text())):
            if isinstance(node, (ast.Assign, ast.Delete)):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _MAP_MUTATORS
                and catalog_map(node.func.value)
            ):
                if not (mine and id(node) in changers):
                    offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
                continue
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Subscript) and catalog_map(t.value):
                    ok = mine and id(node) in changers
                elif catalog_map(t):
                    ok = mine and id(node) in init
                else:
                    continue
                if not ok:
                    offenders.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert offenders == []


def test_statements_translate_through_one_entry_point():
    """Every top-level dialect statement goes through
    MldbContext.run_statement and its plan cache: no module but
    translate.py calls `._statement(`, and api.py decides nothing by a
    broad `except Exception` (rest.py keeps one, _dispatch's error
    boundary, which test_rest_routes_through_one_table pins)."""
    calls = [
        f"{p.relative_to(REPO)}:{n.lineno}"
        for p in sorted(PKG.rglob("*.py"))
        if p != _TRANSLATE
        for n in ast.walk(ast.parse(p.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "_statement"
    ]
    assert calls == []
    broad = [
        n.lineno
        for n in ast.walk(ast.parse((PKG / "api.py").read_text()))
        if isinstance(n, ast.ExceptHandler)
        and (n.type is None or (isinstance(n.type, ast.Name) and n.type.id == "Exception"))
    ]
    assert broad == []
