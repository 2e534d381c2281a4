"""Python-first surface mirroring the reference's entity model
(SURVEY §1.6): named datasets, procedures, functions, and SQL
queries in one place.

The reference drives everything over REST (/v1/query, /v1/procedures,
/v1/functions — server/mldb_server.cc:209-283); this class is the
in-process equivalent: `Mldb(spark)` plays the server, datasets are
registered DataFrames, procedures are the operators package, and
query() runs the MLDB SQL dialect through the translator.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mldb_spark.dialect import MldbContext
from mldb_spark.ml.registry import FunctionRegistry
from mldb_spark.session import local_frame

# Spark dtype names (DataFrame.dtypes, decimal without its precision)
# that feed a model as numbers. Matched whole, never by prefix:
# 'interval day to second'.startswith('int') is a trap.
_NUMERIC_DTYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double", "decimal",
)


def _feature_cols(
    df: DataFrame, skip=("rowName",), strings: bool = False
) -> list[str]:
    """Training-input columns of `df`: the numeric ones (and strings
    when `strings`), minus `skip` and the engine's `__` columns."""
    return [
        c
        for c, dt in df.dtypes
        if c not in skip
        and not c.startswith("__")
        and (dt.split("(")[0] in _NUMERIC_DTYPES or strings and dt == "string")
    ]


def _flat_features(df: DataFrame) -> list:
    """The leaves of `df`'s `features` struct as columns: NESTED row
    features flatten to dotted names (MLDB-1273: `feats({*}) as
    features` yields a struct holding a `row` struct — the reference
    trains on features named row.a, row.b, ...)."""
    from pyspark.sql.types import StructType

    def leaves(col, dtype, name):
        if isinstance(dtype, StructType):
            return [
                c
                for f in dtype.fields
                for c in leaves(col.getField(f.name), f.dataType, f"{name}.{f.name}")
            ]
        return [col.alias(name)]

    return [
        c
        for f in df.schema["features"].dataType.fields
        for c in leaves(F.col("features").getField(f.name), f.dataType, f.name)
    ]


def _entity_id(spec: "str | dict") -> str:
    """An entity reference given as a plain id or as an {id, [type]}
    config row (MLDB-1025-dataset-output-with-default.py)."""
    return spec["id"] if isinstance(spec, dict) else spec


def _required(params: dict, key: str):
    """params[key]; a missing one is a ValueError that names it, so
    REST answers 400 rather than the 404 of an unknown entity."""
    if key not in params:
        raise ValueError(f"missing required parameter {key!r}")
    return params[key]


# (kind, type) -> builder(mldb, eid, params) -> status: every entity
# type createEntity can make. Each builder registers at its definition
# with @_entity_type, as each reference type registers beside its
# implementation (tabular_dataset.cc:2681, sparse_matrix_dataset.cc:1924).
_ENTITY_TYPES: dict[tuple[str, str], Callable[[Mldb, str, dict], object]] = {}


def _entity_type(kind: str, *types: str):
    """Register the decorated builder under (kind, type) for each type."""

    def register(builder):
        for t in types:
            _ENTITY_TYPES[(kind, t)] = builder
        return builder

    return register


class Mldb:
    """One MLDB server in-process. Its state: `ctx`, the one catalog of
    datasets and functions (dialect.MldbContext); `_mutable`, the cell
    buffers of mutable datasets not yet committed; `_procedures`, the
    stored procedure configs; `_runs`, each procedure's latest run;
    `_creating`, the dataset ids being created (under `_ids_lock`)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.ctx = MldbContext(spark)
        self._mutable: dict[str, list[tuple]] = {}
        self._procedures: dict[str, dict] = {}
        self._runs: dict[str, dict] = {}
        self._creating: set[str] = set()
        self._ids_lock = threading.Lock()

    # -- datasets -----------------------------------------------------------

    def create_dataset(
        self,
        name: str,
        df: DataFrame,
        row_name_col: str | None = None,
        ts_col: str | None = None,
    ) -> None:
        self.ctx.register(name, df, row_name_col, ts_col)

    def dataset(self, name: str) -> DataFrame:
        """The registered frame; for a cells dataset, its cells table."""
        cells = self.ctx._cells.get(name)
        return cells["cells"] if cells else self.ctx._resolve(name)

    def datasets(self) -> list[str]:
        return self.ctx.dataset_names()

    # -- queries ------------------------------------------------------------

    def query(self, sql: str, params: dict[str, object] | None = None) -> DataFrame:
        """GET /v1/query equivalent: MLDB-dialect SQL → DataFrame."""
        return self.ctx.query(sql, params)

    def plan_cache_counts(self) -> dict[str, int]:
        """How many queries the context's plan cache served (hits),
        translated and kept (misses) or translated without it
        (bypasses); MldbContext's docstring states the rule."""
        with self.ctx._lock:
            return dict(self.ctx.plan_cache_counts)

    # -- procedures (the §2.13 batch operators) -----------------------------

    @staticmethod
    def _input_spec_to_sql(spec: "str | dict") -> str:
        """Procedure inputData accepts the reference's two spec forms
        (MLDB-1104-input-data-spec.py; sql/sql_expression.cc
        InputQuery): a plain SQL string, or the structured object
        {select, from: <name or {id}>, where, groupBy, having,
        orderBy, named, limit, offset}."""
        if isinstance(spec, str):
            return spec
        frm = spec.get("from")
        if isinstance(frm, dict):
            frm = frm.get("id")
        if not frm:
            raise ValueError("input data spec must contain a FROM clause")
        sql = f"SELECT {spec.get('select', '*')}"
        if spec.get("named"):
            sql += f" NAMED {spec['named']}"
        sql += f" FROM {frm}"
        for kw, key in (
            ("WHEN", "when"), ("WHERE", "where"), ("GROUP BY", "groupBy"),
            ("HAVING", "having"), ("ORDER BY", "orderBy"),
        ):
            if spec.get(key):
                sql += f" {kw} {spec[key]}"
        for kw in ("limit", "offset"):
            if spec.get(kw) is not None:
                sql += f" {kw.upper()} {int(spec[kw])}"  # type: ignore[arg-type]
        return sql

    @staticmethod
    def _require_from(spec: "str | dict") -> str:
        """InputQuery params on procedures REQUIRE a FROM clause —
        a config without one is a 4xx config error, never a crash
        (MLDB-1258_nofrom_segfault.py: all 13 procedure types)."""
        sql = Mldb._input_spec_to_sql(spec)
        from mldb_spark.dialect.parser import parse_statement

        if parse_statement(sql).from_ is None:
            raise ValueError(
                "the trainingData/inputData of this procedure type "
                "must contain a FROM clause"
            )
        return sql

    def _query_with_row_name(
        self, sql: str, params: dict[str, object] | None = None
    ) -> "tuple[DataFrame, str | None]":
        """Run a query and carry its row identity out: the reference's
        procedures write output rows under the INPUT row names by
        default (transform_dataset defaults the name to rowName() —
        MLDB-801's `select * from a join b` transform keeps the
        [left]-[right] names; classifier.test's output dataset keeps
        the test example names). One parse, one translation; the rule:
        an output `rowName` column (NAMED, or a wildcard over a source
        whose row-name column is `rowName`) names the rows; else, with
        a FROM and no NAMED or GROUP BY, the hidden `__rowName` of an
        ast.RowNameItem does where rowName() binds (a source with row
        names, or an aggregate: '[]'); else the rows have none."""
        from mldb_spark.dialect import ast as _ast
        from mldb_spark.dialect.parser import parse_statement

        stm = parse_statement(sql)
        carry = stm.named is None and stm.from_ is not None and not stm.group_by
        if carry:
            stm.select.append(_ast.RowNameItem())
        out = self.ctx.run_statement(stm, params)
        if "rowName" in out.columns:
            return (out.drop("__rowName") if carry else out), "rowName"
        return out, "__rowName" if carry and "__rowName" in out.columns else None

    def transform(
        self,
        input_sql: "str | dict",
        output_dataset: str,
        params: dict[str, object] | None = None,
        skip_empty_rows: bool = False,
    ) -> DataFrame:
        """transform procedure (builtin/sql_functions.cc:899): run a
        query, register (and return) the result as a new dataset.
        Writing to a real table is the caller's `.write` away — the
        registered result stays a lazy plan until acted on."""
        sql = self._input_spec_to_sql(input_sql)
        out, rn = self._query_with_row_name(sql, params)
        if skip_empty_rows:
            # skipEmptyRows drops rows with NO cells — the injected
            # row-name column is never null and must not count as a
            # cell (ADVICE r8: it made this filter a no-op)
            non_null = None
            for c in out.columns:
                if rn is not None and c == rn:
                    continue
                cond = F.col(c).isNotNull()
                non_null = cond if non_null is None else (non_null | cond)
            if non_null is not None:
                out = out.filter(non_null)
        # a NAMED transform output keeps its row names queryable on
        # the registered result (MLDB-409's rowName() over the
        # output); otherwise the hidden __rowName carries them
        self.create_dataset(output_dataset, out, row_name_col=rn)
        return out

    def melt(self, dataset: str, id_vars: list[str], value_vars: list[str], output: str) -> DataFrame:
        from mldb_spark.operators.relational import melt

        out = melt(self.dataset(dataset), id_vars, value_vars)
        self.create_dataset(output, out)
        return out

    def bucketize(self, dataset: str, value_col: str, num_buckets: int, output: str) -> DataFrame:
        from mldb_spark.operators.relational import bucketize_approx

        out = bucketize_approx(self.dataset(dataset), value_col, num_buckets)
        self.create_dataset(output, out)
        return out

    def split(
        self,
        dataset: str,
        weights: list[float],
        seed: int = 42,
        stratify_by: str | None = None,
        exact: bool = True,
    ) -> list[DataFrame]:
        """split procedure (builtin/datasetsplit_procedure.cc:302;
        MLDB-2180): exact-proportion, deterministic, disjoint splits
        with per-label spread when stratify_by names a label column.

        NOTE (ADVICE r5): the default changed from Bernoulli
        randomSplit to exact=True in round 5. The exact unstratified
        path now ranks through the parallel zipWithIndex pattern
        (global_hash_index) — no single-reducer stage — but still
        costs one count job plus one range shuffle; exact=False keeps
        Bernoulli randomSplit as the cheapest TB-scale path when
        exact proportions aren't required."""
        if not exact:
            return self.dataset(dataset).randomSplit(weights, seed)
        from mldb_spark.operators.relational import stratified_split

        return stratified_split(
            self.dataset(dataset), weights, label_col=stratify_by, seed=seed
        )

    def summary_statistics(self, dataset: str) -> DataFrame:
        from mldb_spark.operators.relational import summary_statistics

        return summary_statistics(self.dataset(dataset))

    # -- function entities (§2.12) ------------------------------------------

    def create_sql_expression_function(self, name: str, select_sql: str) -> None:
        """sql.expression function entity (builtin/sql_functions.cc:613):
        a named SQL lambda — row in, computed columns out. The select
        list is parsed once; applying the function binds it against
        the input DataFrame's schema (open-schema NULL rules apply).
        """
        from mldb_spark.dialect.parser import Parser
        from mldb_spark.dialect.translate import Binder, _expr_name
        from mldb_spark.dialect import ast as _ast

        parser = Parser("select " + select_sql)
        stm = parser.parse_subselect()

        def apply(df: DataFrame, params: dict[str, object] | None = None) -> DataFrame:
            # pass 1: a bare * is the identity output (the input row
            # passes through — MLDB-797's `expression: '*'`), and a
            # call to ANOTHER registered function composes by applying
            # it first (MLDB-797/800 nested sql.expression entities)
            from pyspark.sql import functions as _F
            from pyspark.sql.types import StructType as _StructType

            plain: list[tuple[int, _ast.ExprItem]] = []
            qualified_cols = []
            for i, it in enumerate(stm.select):
                if isinstance(it, _ast.Wildcard):
                    # `input.*` over a struct-valued argument column
                    # (MLDB-1707): expand its fields as dotted outputs;
                    # a bare * is the identity (input passes through)
                    if (
                        it.qualifier
                        and it.qualifier in df.columns
                        and isinstance(
                            df.schema[it.qualifier].dataType, _StructType
                        )
                    ):
                        qualified_cols.extend(
                            (
                                f"{it.qualifier}.{f.name}",
                                _F.col(it.qualifier).getField(f.name),
                            )
                            for f in df.schema[it.qualifier].dataType.fields
                        )
                    continue
                if not isinstance(it, _ast.ExprItem):
                    raise ValueError("sql.expression takes plain select items")
                fn = isinstance(it.expr, _ast.FunctionCall) and (
                    self.ctx._lookup_function(it.expr.name)
                )
                if fn:
                    df = fn(df)
                    continue
                if (
                    isinstance(it.expr, _ast.Index)
                    and isinstance(it.expr.operand, _ast.FunctionCall)
                    and self.ctx._lookup_function(it.expr.operand.name)
                    is not None
                    and isinstance(it.expr.key, _ast.Literal)
                ):
                    # composed accessor form inside a function body:
                    # inner({...})[out] AS name (MLDB-1190's
                    # getMsgStats({text: raw_text}) as msgStats) —
                    # applied as SQL applies it, then the output
                    # column is extracted
                    arg_tmp: list[str] = []
                    df, _ = self.ctx._apply_fn_for_value(
                        df, it.expr.operand, params or {}, arg_tmp
                    )
                    key = str(it.expr.key.value)
                    out_name = it.alias or _expr_name(it.expr, i)
                    if key in df.columns and out_name != key:
                        df = df.withColumn(out_name, _F.col(f"`{key}`"))
                    df = df.drop(*[c for c in arg_tmp if c != out_name])
                    continue
                plain.append((i, it))
            if not plain and not qualified_cols:
                return df
            binder = Binder(df.columns, params or {}, dtypes=dict(df.dtypes))
            named = dict(qualified_cols)
            named.update(
                (it.alias or _expr_name(it.expr, i), binder.bind(it.expr))
                for i, it in plain
            )
            # withColumns REPLACES same-named columns — an output that
            # shares an input column's name shadows it (MLDB-1563's
            # identity function: expression 'input' outputs 'input')
            return df.withColumns(named)

        self.ctx.register_function(name, apply)

    def create_sql_query_function(
        self, name: str, sql: str, output: str = "FIRST_ROW"
    ) -> None:
        """sql.query function entity (builtin/sql_functions.cc:316):
        a parameterized single query applied by name with $params.

        output modes (doc functions/SqlQueryFunction.md):
        - FIRST_ROW (default): the query's first row is the function
          output (LIMIT 1 plan — the executor stops early);
        - NAMED_COLUMNS: the result's (column, value) rows pivot into
          ONE output row whose column names come from the `column`
          column — the reference's dynamic-row constructor.
        """
        if output not in ("FIRST_ROW", "NAMED_COLUMNS"):
            raise ValueError(f"unknown sql.query output mode {output!r}")

        def apply(arg=None, params: dict[str, object] | None = None) -> DataFrame:
            # called with $params (or nothing) it runs the query; called
            # with a rowset (MLDB-1320's SELECT poil()[output] as *) the
            # one-row result attaches as a struct column named
            # 'output', broadcast-joined onto the rows
            rows = isinstance(arg, DataFrame)
            res = self.query(sql, params if rows else arg)
            if output == "FIRST_ROW":
                res = res.limit(1)
            elif {"column", "value"} <= set(res.columns):
                res = res.groupBy().pivot("column").agg(F.first("value"))
            else:
                raise ValueError("NAMED_COLUMNS needs `column` and `value` output columns")
            if not rows:
                return res
            out = F.struct(*[F.col(f"`{c}`") for c in res.columns]).alias("output")
            return arg.crossJoin(F.broadcast(res.select(out)))

        self.ctx.register_function(name, apply)

    def apply_function(self, name: str, *args, **kwargs):
        """Apply a function entity by name, resolved as SQL resolves it."""
        fn = self.ctx._lookup_function(name)
        if fn is None:
            raise KeyError(f"unknown function {name!r}")
        return fn(*args, **kwargs)

    def create_stemmer_function(self, name: str, language: str = "english") -> None:
        """stemmer function entity (plugins/nlp/nlp.cc:193-240;
        MLDB-1126): input {words}, output {words} with stemmed keys —
        bag-of-words MAPs merge collapsing keys by addition, token
        arrays stem element-wise, plain strings stem directly."""
        from mldb_spark.functions.text import (
            porter_stem_tokens_udf,
            porter_stem_udf,
        )

        if language.lower() != "english":
            raise ValueError(f"stemmer: unsupported language {language!r}")

        def apply(df: DataFrame, params: dict | None = None) -> DataFrame:
            if "words" not in df.columns:
                raise ValueError("stemmer input must provide a 'words' column")
            dt = dict(df.dtypes)["words"]
            from pyspark.sql import functions as _F

            if dt.startswith("map"):
                # mapInPandas, not a scalar UDF: a pandas UDF directly
                # over a lambda-function expression (tokenize's
                # filter/transform chain after projection collapse)
                # trips Catalyst's PythonUDF extraction in some plan
                # states; a MapInPandas node is a real barrier
                from mldb_spark.functions.text import porter_stem

                schema = df.schema

                def stem_batches(batches):
                    for pdf in batches:
                        def one(bag):
                            if bag is None:
                                return None
                            items = bag.items() if hasattr(bag, "items") else bag
                            out: dict[str, int] = {}
                            for k, v in items:
                                sk = porter_stem(k) if k is not None else k
                                out[sk] = out.get(sk, 0) + (v or 0)
                            return out

                        pdf["words"] = pdf["words"].map(one)
                        yield pdf

                return df.mapInPandas(stem_batches, schema)
            if dt.startswith("array"):
                return df.withColumn(
                    "words", porter_stem_tokens_udf()(_F.col("words"))
                )
            return df.withColumn("words", porter_stem_udf()(_F.col("words")))

        self.ctx.register_function(name, apply)

    def create_filter_stopwords_function(
        self, name: str, language: str = "english"
    ) -> None:
        """filter_stopwords function entity (plugins/nlp/nlp.cc:108;
        MLDB-1030): input {words} token array or bag MAP, output with
        stopwords removed — pure JVM filters."""
        from pyspark.sql import functions as _F

        from mldb_spark.functions.text import ENGLISH_STOPWORDS

        if language.lower() != "english":
            raise ValueError(f"filter_stopwords: unsupported language {language!r}")
        words = list(ENGLISH_STOPWORDS)

        def apply(df: DataFrame, params: dict | None = None) -> DataFrame:
            if "words" not in df.columns:
                raise ValueError(
                    "filter_stopwords input must provide a 'words' column"
                )
            dt = dict(df.dtypes)["words"]
            stop_arr = _F.array(*[_F.lit(w) for w in words])
            if dt.startswith("map"):
                out = _F.map_filter(
                    _F.col("words"), lambda k, v: ~_F.array_contains(stop_arr, k)
                )
            else:
                out = _F.filter(
                    _F.col("words"), lambda t: ~_F.array_contains(stop_arr, t)
                )
            return df.withColumn("words", out)

        self.ctx.register_function(name, apply)

    # -- orchestration procedures (§2.13 utilities) -------------------------

    def run_script(
        self,
        source: str | None = None,
        path: str | None = None,
        args: object = None,
    ):
        """script.run procedure (builtin/script_procedure.cc:129) with
        Python as the script language (the reference runs JS or Python
        through its language plugins; this engine's extension language
        is Python throughout — see pyeval). The script executes with an
        injected `mldb` object (this facade) and `args` in scope, the
        same contract the reference's script runtime provides. The run
        output is the script's `result` variable, or the return of its
        `main(mldb, args)` if defined (checked first)."""
        if (source is None) == (path is None):
            raise ValueError("run_script takes exactly one of source= or path=")
        code = source if source is not None else open(path).read()
        ns: dict[str, object] = {"mldb": self, "args": args}
        exec(compile(code, path or "<script.run>", "exec"), ns)
        main = ns.get("main")
        if callable(main):
            return main(self, args)
        return ns.get("result")

    def record_rows(self, dataset_id: str, rows: "list[dict]") -> None:
        """Record rows into a mutable dataset created with type
        sparse.mutable (the reference's recordRow/record_rows path):
        each row is {rowName, columns: [[col, value, ts], ...]}.
        Empty row/column names are config errors (MLDB-460)."""
        buf = self._mutable.get(dataset_id)
        if buf is None:
            raise KeyError(
                f"dataset {dataset_id!r} is not a mutable dataset "
                "under construction"
            )
        for r in rows:
            rn = r.get("rowName")
            if rn is None or str(rn) == "":
                raise ValueError("empty row names are not allowed")
            columns = r.get("columns", [])
            if not columns:
                # a row recorded with NO columns still exists
                # (MLDB-618 record_row(0, []); MLDBFB-440 queries it):
                # keep a null-column marker cell so the row survives
                # the pivot
                buf.append((str(rn), None, None, 0))
                continue
            for c in columns:
                col, val = c[0], c[1]
                ts = c[2] if len(c) > 2 else 0
                if col is None or str(col) == "":
                    raise ValueError("empty column names are not allowed")
                buf.append((str(rn), str(col), self._decode_cell(val), ts))

    @staticmethod
    def _decode_cell(val):
        """Wire-format cell values (MLDB-986-recording.py; the
        reference's JSON encoding for non-JSON-representable cells):
        {"num": "NaN"/"Inf"/"-Inf"} → float, {"ts": iso} → datetime.
        Interval cells ({"interval": …}) stay as their wire dict —
        the engine has no interval storage type."""
        if isinstance(val, dict):
            if "num" in val and len(val) == 1:
                s = str(val["num"])
                return float(
                    {"NaN": "nan", "Inf": "inf", "-Inf": "-inf"}.get(s, s)
                )
            if "ts" in val and len(val) == 1:
                import datetime as _dt

                dt = _dt.datetime.fromisoformat(
                    str(val["ts"]).replace("Z", "+00:00")
                )
                # the reference stores UTC instants: CONVERT non-UTC
                # offsets before dropping tzinfo (ADVICE r8 — stripping
                # a -05:00 offset shifted the stored instant by 5h)
                if dt.tzinfo is not None:
                    dt = dt.astimezone(_dt.timezone.utc)
                return dt.replace(tzinfo=None)
        return val

    def record_column(
        self, dataset_id: str, column_name, rows: "list"
    ) -> None:
        """Column-wise record (the reference's recordColumn /
        POST .../columns surface, MLDB-541-record-column.js): one
        column, rows = [[rowName, value, ts], ...]. Cells land in the
        SAME buffer as row-wise recording, so row- and column-recorded
        datasets are indistinguishable after commit."""
        if column_name is None or str(column_name) == "":
            raise ValueError("empty column names are not allowed")
        self.record_rows(
            dataset_id,
            [
                {"rowName": r[0],
                 "columns": [[column_name, r[1], r[2] if len(r) > 2 else 0]]}
                for r in rows
            ],
        )

    def record_columns(self, dataset_id: str, columns: "list") -> None:
        """recordColumns / POST .../multicolumns (MLDB-541):
        columns = [[columnName, [[rowName, value, ts], ...]], ...]."""
        for c in columns:
            self.record_column(dataset_id, c[0], c[1])

    def commit_dataset(self, dataset_id: str) -> None:
        """Commit a mutable dataset: the accumulated cells register as
        a CELLS dataset (per-cell timestamps — sparse.mutable
        semantics; GET_LATEST view + temporal_* family apply). The
        committed cells frame is a driver-side LocalRelation
        (session.local_frame), so no Python worker runs behind reads
        of the dataset."""
        import datetime as _dt

        buf = self._mutable.pop(dataset_id, None)
        if buf is None:
            raise KeyError(f"dataset {dataset_id!r} is not under construction")

        def to_ts(t):
            if isinstance(t, (int, float)):
                return _dt.datetime.utcfromtimestamp(float(t))
            if isinstance(t, str):
                dt = _dt.datetime.fromisoformat(t.replace("Z", "+00:00"))
                if dt.tzinfo is not None:
                    dt = dt.astimezone(_dt.timezone.utc)
                return dt.replace(tzinfo=None)
            return t

        vals = [
            v
            # row-existence markers and explicit NULL cells (MLDB-434's
            # recordExample(..., label=null)) don't decide the type
            for _, c, v, _ in buf
            if c is not None and v is not None
        ]
        numeric = all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for v in vals
        )
        # all-timestamp cells keep the timestamp type so temporal
        # arithmetic works over the values (MLDB-986's
        # `y + INTERVAL '2D'` on a {"ts": …} wire cell)
        all_ts = bool(vals) and all(
            isinstance(v, _dt.datetime) for v in vals
        )
        vtype = (
            "timestamp" if all_ts else "double" if numeric else "string"
        )
        rows = [
            (r, c,
             (None if v is None
              else (v if all_ts
                    else (float(v) if numeric else str(v)))),
             to_ts(t))
            for r, c, v, t in buf
        ]
        df = local_frame(
            self.spark, rows, f"row string, column string, value {vtype}, ts timestamp"
        )
        numeric_cols = None
        if vtype == "string":
            # MIXED datasets: columns whose cells are ALL numeric keep
            # a numeric wide view (MLDB-102 — one string cell must not
            # flip the other columns); the buffer is already
            # driver-side by design, so this pass is free
            per_col: dict[str, bool] = {}
            for _, c, v, _t in buf:
                if c is None or v is None:
                    continue
                ok = isinstance(v, (int, float)) and not isinstance(v, bool)
                per_col[c] = per_col.get(c, True) and ok
            numeric_cols = {c for c, ok in per_col.items() if ok}
        self.ctx.register_cells(
            dataset_id, df, numeric_columns=numeric_cols
        )

    @staticmethod
    def _check_label_not_in_features(spec: "str | dict", tdf: DataFrame) -> None:
        """A dataset column used as the label must not also be a
        feature (MLDB-2188-label_feature_validation.py:
        `SELECT {Theme} as features, Theme as label` is a config
        error, not silent leakage). Detected statically: the select
        item aliased `label` names a column that also appears among
        the features-struct fields."""
        from mldb_spark.dialect import ast as _ast
        from mldb_spark.dialect.parser import parse_statement

        stm = parse_statement(Mldb._input_spec_to_sql(spec))
        feat_fields = set()
        for f in tdf.schema:
            if f.name == "features" and hasattr(f.dataType, "fieldNames"):
                feat_fields = set(f.dataType.fieldNames())
        for it in stm.select:
            if (
                getattr(it, "alias", None) == "label"
                and isinstance(getattr(it, "expr", None), _ast.ColumnRef)
                and it.expr.name in feat_fields
            ):
                raise ValueError(
                    f"Dataset column '{it.expr.name}' cannot be used in "
                    "both label and feature"
                )

    def put_procedure(self, proc_id: str, config: dict) -> dict:
        """PUT /v1/procedures/<id> semantics (MLDB-951): store the
        config; run immediately only when params.runOnCreation is
        true (the reference's default for PUT is False — a stored
        procedure runs via POST .../runs)."""
        config = dict(config)
        config["id"] = proc_id
        self._procedures[proc_id] = config
        params = config.get("params", {})
        if params.get("runOnCreation", False):
            status = self.run_procedure(proc_id)
            return {"status": {"firstRun": status}, "config": config}
        return {"config": config}

    def run_procedure(
        self, proc_id: str, params_override: "dict | None" = None
    ) -> dict:
        """POST /v1/procedures/<id>/runs: execute a stored procedure
        (MLDB-951's runOnCreation=False flow). A run body's params
        override the stored config's per key (MLDBFB-208)."""
        if proc_id not in self._procedures:
            raise KeyError(f"unknown procedure {proc_id!r}")
        config = dict(self._procedures[proc_id])
        if params_override:
            merged = dict(config.get("params", {}))
            merged.update(params_override)
            config["params"] = merged
        import datetime as _dt

        started = _dt.datetime.utcnow().isoformat() + "Z"
        status = self.create_entity("procedure", config)
        # only COMPLETED runs register (MLDB-2112: /runs of a
        # procedure whose only run failed is 404 — the failed attempt
        # propagates its error and leaves no run record)
        self._runs[proc_id] = {
            "runStarted": started,
            "runFinished": _dt.datetime.utcnow().isoformat() + "Z",
            "state": "finished",
        }
        return status

    def latest_run(self, proc_id: str) -> dict:
        """GET /v1/procedures/<id>/latestrun (MLDB-1359)."""
        if proc_id not in self._runs:
            raise KeyError(f"no runs for procedure {proc_id!r}")
        return self._runs[proc_id]

    def create_entity(self, kind: str, config: dict) -> dict:
        """createEntity procedure (builtin/basic_procedures.cc:194-230):
        create another entity from a {type, id, params} config and
        return {kind, config, status}; an id-less config gets an
        `auto_…` id. Procedures run on creation. The builder of each
        (kind, type) is registered in _ENTITY_TYPES; these are all of
        them (tests/test_structure.py checks the list against it):

        - dataset: sparse.mutable, beh.mutable, beh.binary.mutable,
          merged, transposed, tabular, structured.mutable
        - function: sql.expression, sql.query, http.useragent,
          script.apply, embedding.neighbors, stemmer, filter_stopwords
        - procedure: transform, bucketize, import.text, createEntity,
          svm.train, classifier.experiment, classifier.train,
          randomforest.binary.train, kmeans.train, svd.train,
          tsne.train, classifier.test, tfidf.train,
          experimental.external.procedure, null

        Model-training procedures fit through mldb_spark.ml.procedures,
        the same trainers the Python API and SQL reach.
        """
        eid = config.get("id")
        if not eid:
            # the reference auto-generates ids for id-less configs
            # (MLDB-983: createDataset without id → 'auto_…'), writing
            # the generated id back into the caller's config object
            import uuid as _uuid

            eid = "auto_" + _uuid.uuid4().hex[:16]
            config["id"] = eid
        build = _ENTITY_TYPES.get((kind, config.get("type")))
        if build is None:
            known = sorted(t for k, t in _ENTITY_TYPES if k == kind)
            if not known:
                kinds = sorted({k for k, _ in _ENTITY_TYPES})
                raise ValueError(
                    f"createEntity: unknown kind {kind!r} "
                    f"(registered kinds: {', '.join(kinds)})"
                )
            raise ValueError(
                f"createEntity: unknown {kind} type {config.get('type')!r} "
                f"(registered {kind} types: {', '.join(known)})"
            )
        params = config.get("params", {})
        if kind != "dataset":
            status = build(self, eid, params)
        else:
            # CREATE is not idempotent: a second create at the same id
            # errors (MLDB-312), also while the first is building; PUT
            # overwrites
            with self._ids_lock:
                if eid in self.ctx._datasets or eid in self._mutable or eid in self._creating:
                    raise ValueError(f"dataset entry '{eid}' already exists")
                self._creating.add(eid)
            try:
                status = build(self, eid, params)
            finally:
                self._creating.discard(eid)
        return {"kind": kind, "config": config, "status": status}


# -- dataset types ------------------------------------------------------------


@_entity_type("dataset", "sparse.mutable", "beh.mutable", "beh.binary.mutable")
def _mutable_dataset(mldb: Mldb, eid: str, params: dict) -> dict:
    """An empty MUTABLE dataset: rows accumulate through record_rows()
    / POST /v1/datasets/<id>/rows and become queryable at
    commit_dataset (the reference's create/record/commit lifecycle)."""
    mldb._mutable[eid] = []
    return {"rowCount": 0}


@_entity_type("dataset", "merged")
def _merged_dataset(mldb: Mldb, eid: str, params: dict) -> dict:
    """merged dataset entity (builtin/merged_dataset.cc; MLDB-1364):
    every member must already exist — the check fires BEFORE the id
    registers, so a failed creation never squats the id (the caller
    may create it later through a procedure's output)."""
    member_ids = [_entity_id(d) for d in params.get("datasets", [])]
    missing = [d for d in member_ids if d not in mldb.ctx._datasets]
    if missing:
        raise ValueError(
            f"merged dataset: member dataset '{missing[0]}' does not exist"
        )
    mldb.transform("SELECT * FROM merge(" + ", ".join(member_ids) + ")", eid)
    return {"columns": mldb.dataset(eid).columns}


@_entity_type("dataset", "transposed")
def _transposed_dataset(mldb: Mldb, eid: str, params: dict) -> dict:
    """transposed dataset entity (builtin/transposed_dataset.cc; the
    reddit/stackoverflow benchmark pipelines PUT /v1/datasets/<id>
    {type: transposed}): rows and columns swap; backed by the
    FROM-clause transpose()."""
    mid = _entity_id(params.get("dataset"))
    if mid not in mldb.ctx._datasets:
        raise ValueError(f"transposed dataset: dataset '{mid}' does not exist")
    mldb.transform(f"SELECT * FROM transpose({mid})", eid)
    return {"columnCount": len(mldb.dataset(eid).columns)}


@_entity_type("dataset", "tabular")
def _tabular_dataset(mldb: Mldb, eid: str, params: dict) -> dict:
    """A parquet or CSV file (dataFileUrl) as a dataset."""
    url = _required(params, "dataFileUrl")
    if url.endswith(".csv"):
        df = mldb.spark.read.csv(url, header=True, inferSchema=True)
    else:
        df = mldb.spark.read.parquet(url)
    mldb.create_dataset(eid, df)
    return {"rowCount": None, "columns": mldb.dataset(eid).columns}


@_entity_type("dataset", "structured.mutable")
def _structured_mutable_dataset(mldb: Mldb, eid: str, params: dict) -> dict:
    """The result of the inputData query as a dataset."""
    mldb.transform(_required(params, "inputData"), eid)
    return {"rowCount": None, "columns": mldb.dataset(eid).columns}


# -- function types -----------------------------------------------------------


@_entity_type("function", "sql.expression")
def _sql_expression_function(mldb: Mldb, eid: str, params: dict) -> None:
    mldb.create_sql_expression_function(eid, _required(params, "expression"))


@_entity_type("function", "sql.query")
def _sql_query_function(mldb: Mldb, eid: str, params: dict) -> None:
    mldb.create_sql_query_function(
        eid, _required(params, "query"), params.get("output", "FIRST_ROW")
    )


@_entity_type("function", "http.useragent")
def _useragent_function(mldb: Mldb, eid: str, params: dict) -> None:
    """http.useragent function entity
    (plugins/html/useragent_function.cc:95-106; MLDB-1753): input
    pin `ua`, outputs the uap-core field set as dotted columns
    (browser.family/version, os.family/version, device.brand/
    model, isSpider as 0/1)."""
    from mldb_spark.functions.web import parse_useragent

    def apply(df: DataFrame) -> DataFrame:
        p = parse_useragent(F.col("ua"))
        return (
            df.withColumn("browser.family", p["browser_family"])
            .withColumn("browser.version", p["browser_version"])
            .withColumn("device.brand", p["device_brand"])
            .withColumn("device.model", p["device_model"])
            .withColumn("isSpider", p["is_spider"].cast("int"))
            .withColumn("os.family", p["os_family"])
            .withColumn("os.version", p["os_version"])
        )

    mldb.ctx.register_function(eid, apply)


@_entity_type("function", "script.apply")
def _script_apply_function(mldb: Mldb, eid: str, params: dict) -> None:
    """script.apply function entity (builtin/script_function.cc;
    MLDB-643): a stored script applied per call with `args` in scope
    (the reference's mldb.script.args); the script's
    set_return/result is the function output."""
    src = _required(_required(params, "scriptConfig"), "source")

    def run_stored(args=None, __src=src):
        return {"return": mldb.run_script(source=__src, args=args)}

    mldb.ctx.register_function(eid, run_stored)


@_entity_type("function", "embedding.neighbors")
def _neighbors_function(mldb: Mldb, eid: str, params: dict) -> None:
    """embedding.neighbors function entity
    (plugins/embedding/embedding.cc:1420; MLDB-283/665): input pin
    `coords` (a row of coordinates, bound by NAME), output
    `distances` — a MAP of neighbor rowName -> distance. SQL
    application rides the BATCHED path (VERDICT r6 #8): the whole
    query-point set broadcasts over ONE corpus scan, never a
    driver round-trip per row."""
    from mldb_spark.similarity import embedding_neighbors_batch

    corpus = mldb.dataset(_required(params, "dataset"))
    num_neighbors = params.get("defaultNumNeighbors")
    rn_col = "rowName" if "rowName" in corpus.columns else corpus.columns[0]
    feat_cols = _feature_cols(corpus, (rn_col,))

    def apply(df: DataFrame, params: dict | None = None) -> DataFrame:
        k = int((params or {}).get("numNeighbors", num_neighbors or 0)) or None
        q = df.withColumn("__qid", F.monotonically_increasing_id())
        hits = embedding_neighbors_batch(
            corpus.select(F.col(rn_col).alias("__rn"), *feat_cols),
            q.select("__qid", *feat_cols),
            row_name_col="__rn",
            feature_cols=feat_cols,
            query_id_col="__qid",
            num_neighbors=k,
        )
        pairs = F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("distance").alias("d"),
                    F.col("neighbor").alias("n"),
                )
            )
        )
        agg = hits.groupBy("__qid").agg(
            F.map_from_entries(
                F.transform(
                    pairs, lambda s: F.struct(s["n"].alias("k"), s["d"].alias("v"))
                )
            ).alias("distances")
        )
        return q.join(agg, "__qid", "left").drop("__qid")

    mldb.ctx.register_function(eid, apply)


@_entity_type("function", "stemmer")
def _stemmer_function(mldb: Mldb, eid: str, params: dict) -> None:
    mldb.create_stemmer_function(eid, params.get("language", "english"))


@_entity_type("function", "filter_stopwords")
def _filter_stopwords_function(mldb: Mldb, eid: str, params: dict) -> None:
    mldb.create_filter_stopwords_function(eid, params.get("language", "english"))


# -- procedure types (run on creation) ----------------------------------------


def _training_frame(mldb: Mldb, params: dict) -> DataFrame:
    """The result of a training procedure's trainingData: a full
    input-data spec, WHEN/WHERE/structured {from, when} forms included
    (MLDB-945's train_classifier(when=...)), run through the same
    dialect query path as transform, so a temporal filter hits the
    cells before training."""
    if "trainingData" not in params:
        raise ValueError("You need to define trainingData")
    return mldb.query(Mldb._require_from(_required(params, "trainingData")))


@_entity_type("procedure", "transform")
def _transform_procedure(mldb: Mldb, eid: str, params: dict) -> dict:
    # missing inputs are configuration errors, not crashes
    # (MLDB-2119_segfault_transform_no_input.py)
    if "inputData" not in params:
        raise ValueError("You need to define inputData")
    if "outputDataset" not in params:
        raise ValueError("You need to define outputDataset")
    out_id = _entity_id(_required(params, "outputDataset"))
    mldb.transform(_required(params, "inputData"), out_id)
    return {"outputDataset": out_id}


@_entity_type("procedure", "bucketize")
def _bucketize_procedure(mldb: Mldb, eid: str, params: dict) -> dict:
    """bucketize procedure
    (plugins/feature_gen/bucketize_procedure.cc:255, MLDB-1267):
    assign ordered input rows to named percentile buckets. Output
    rows keep the input row names with ONE column `bucket` whose
    timestamp is the global max order-by timestamp (the
    reference's globalMaxOrderByTimestamp — why MLDB-1267's
    latest_timestamp check passes). Bucket `b: [lo, hi]` covers
    ordered indexes [lo/100*n, hi/100*n) (hi==100 closes at n);
    rows in no bucket are dropped. The ordered ROW-NAME list is
    driver-side — exactly the reference's own in-memory
    orderedRowNames vector, so the collect is name-sized and
    bounded by the same contract; the scale path for numeric
    bucketing without named ranges is
    operators.relational.bucketize_approx (cut points, no global
    sort)."""
    if "inputData" not in params:
        raise ValueError("You need to define inputData")
    if "outputDataset" not in params:
        raise ValueError("You need to define outputDataset")
    # percentileBuckets validation (bucketize_procedure.cc:79-100):
    # bounds in [0,100], hi > lo, pairwise non-overlap — the
    # reference rejects these at config parse, BEFORE running the
    # query; without it two same-timestamp 'bucket' cells land per
    # row with a nondeterministic GET_LATEST winner (ADVICE r8)
    _ranges = sorted(
        (float(r[0]), float(r[1]))
        for r in params.get("percentileBuckets", {}).values()
    )
    _last = (-1.0, -1.0)
    for _lo, _hi in _ranges:
        if _lo < 0:
            raise ValueError(
                f"Invalid percentileBucket [{_lo:f}, {_hi:f}]: lower "
                "bound must be greater or equal to 0"
            )
        if _hi > 100:
            raise ValueError(
                f"Invalid percentileBucket [{_lo:f}, {_hi:f}]: higher "
                "bound must be lower or equal to 1"
            )
        if _lo >= _hi:
            raise ValueError(
                f"Invalid percentileBucket [{_lo:f}, {_hi:f}]: higher "
                "bound must  be greater than lower bound"
            )
        if _lo < _last[1]:
            raise ValueError(
                f"Invalid percentileBucket: [{_last[0]:f}, {_last[1]:f}]"
                f" is overlapping with [{_lo:f}, {_hi:f}]"
            )
        _last = (_lo, _hi)
    out_id = _entity_id(_required(params, "outputDataset"))
    import re as _re

    # SELECT * over a cells dataset does not surface row names —
    # inject rowName() into the select list so the ordered
    # row-name list is queryable
    sql = _re.sub(
        r"^\s*select\s", "SELECT rowName() AS __bk_rn, ",
        _required(params, "inputData"), count=1, flags=_re.I,
    )
    ordered = mldb.query(sql)
    names = [str(r["__bk_rn"]) for r in ordered.select("__bk_rn").collect()]
    n = len(names)
    # global max input-cell timestamp: the source cells table if
    # the input is a committed mutable dataset
    import datetime as _dt

    max_ts = _dt.datetime(1970, 1, 1)
    m = _re.search(r"\bfrom\s+([A-Za-z_][\w]*)", _required(params, "inputData"), _re.I)
    if m and m.group(1) in mldb.ctx._datasets:
        src = mldb.dataset(m.group(1))
        if "ts" in src.columns and "row" in src.columns:
            got = src.agg(F.max("ts")).collect()[0][0]
            if got is not None:
                max_ts = got
    cells = []
    for bname, rng in sorted(params.get("percentileBuckets", {}).items()):
        lo, hi = float(rng[0]), float(rng[1])
        lo_i = 0 if hi == 0 else int(lo / 100 * n)
        hi_i = n if hi == 100 else int(hi / 100 * n)
        for i in range(lo_i, hi_i):
            cells.append((names[i], "bucket", bname, max_ts))
    df = local_frame(
        mldb.spark, cells, "row string, column string, value string, ts timestamp"
    )
    mldb.ctx.register_cells(out_id, df)
    return {"outputDataset": out_id, "rowCount": len(cells)}


@_entity_type("procedure", "import.text")
def _import_text_procedure(mldb: Mldb, eid: str, params: dict) -> dict:
    """import.text procedure entity
    (plugins/textual/importtext_procedure.cc; MLDB-1891): per-line
    select/where/named run through the dialect over the raw import;
    a row-valued select item is the reference's config error —
    imported cells are atoms."""
    from mldb_spark.sources.text_io import import_text

    out_id = _entity_id(params.get("outputDataset") or eid)
    sel = params.get("select")
    if sel and sel != "*":
        from mldb_spark.dialect import ast as _ast
        from mldb_spark.dialect.parser import parse_statement
        from mldb_spark.dialect.translate import _walk

        stm = parse_statement(f"SELECT {sel} FROM __imp")
        for it in stm.select:
            if isinstance(it, _ast.ExprItem) and any(
                isinstance(n, _ast.RowLiteral) for n in _walk(it.expr)
            ):
                raise ValueError(
                    "Import select expression cannot have row-valued columns"
                )
    q = params.get("quoteChar", '"')
    raw = import_text(
        mldb.spark,
        str(_required(params, "dataFileUrl")).removeprefix("file://"),
        delimiter=params.get("delimiter", ",") or "\x01",
        quote=q if q else "\x00",  # '' disables quoting
        headers=params.get("headers"),
        limit=params.get("limit"),
        offset=params.get("offset", 0),
        ignore_bad_lines=params.get("ignoreBadLines", False),
        multi_line=params.get("allowMultiLines", False),
        structured_column_names=params.get("structuredColumnNames", False),
        line_number_row_names=True,
    )
    # unique temp id so concurrent/repeated imports don't clobber each
    # other's intermediate, dropped from the registry after the
    # transform (ADVICE r8)
    import re as _re

    tmp_id = "__import_raw_" + _re.sub(r"\W", "_", str(eid))
    mldb.create_dataset(tmp_id, raw, row_name_col="rowName")
    named = f" NAMED {params['named']}" if params.get("named") else ""
    sql = f"SELECT {sel or '*'}{named} FROM {tmp_id}"
    if params.get("where"):
        sql += f" WHERE {params['where']}"
    try:
        mldb.transform(sql, out_id)
    finally:
        mldb.ctx.drop(tmp_id)
    return {"outputDataset": out_id, "rowCount": mldb.dataset(out_id).count()}


@_entity_type("procedure", "createEntity")
def _create_entity_procedure(mldb: Mldb, eid: str, params: dict) -> dict:
    """createEntity procedure (builtin/basic_procedures.cc:194-230;
    MLDB-985): the params ARE another entity's config {kind, type,
    params…}; the run's status is the created entity's full
    descriptor."""
    sub = {
        "type": params.get("type"),
        "id": params.get("entityId", f"{eid}_entity"),
        "params": params.get("params", {}),
    }
    return mldb.create_entity(_required(params, "kind"), sub)


@_entity_type("procedure", "svm.train")
def _svm_train(mldb: Mldb, eid: str, params: dict) -> dict:
    """svm.train entity (plugins/jml/svm.cc:464; MLDB-991-svm.py):
    trainingData is a whole-row spec — the `label` column is the
    target, every other numeric column a feature. Labels index to
    0..n-1 and every fit is svm_train's: a binary target is one fit
    (class 1 iff margin > 0); more classes fit one binary svm per
    class and predict the argmax of the margins (MLlib OneVsRest's
    rule). Registers `functionName` adding an `output` column with
    the predicted ORIGINAL label value."""
    tdf = _training_frame(mldb, params)
    if "label" not in tdf.columns:
        raise ValueError("svm.train needs a 'label' column")
    feat_cols = _feature_cols(tdf, ("label", "rowName"))
    if not feat_cols:
        raise ValueError("svm.train: no numeric feature columns")
    from mldb_spark.ml.procedures import svm_train

    classes = sorted(
        r[0] for r in tdf.select("label").distinct().collect() if r[0] is not None
    )
    mapping = F.create_map(
        *[x for i, v in enumerate(classes) for x in (F.lit(v), F.lit(float(i)))]
    )
    li = mapping[F.col("label")]
    targets = (
        [li]
        if len(classes) <= 2
        else [(li == float(i)).cast("double") for i in range(len(classes))]
    )
    fits = FunctionRegistry()
    for i, target in enumerate(targets):
        svm_train(tdf.withColumn("__y", target), feat_cols, "__y", f"__m{i}", fits)
    fname = params.get("functionName", eid)

    def apply_svm(
        d: DataFrame,
        __fits=fits,
        __names=[f"__m{i}" for i in range(len(targets))],
        __b=F.array(*[F.lit(v) for v in classes]),
    ) -> DataFrame:
        for n in __names:
            d = __fits.apply(n, d).withColumnRenamed("margin", n)
        if len(__names) == 1:
            pick = (F.col(__names[0]) > 0).cast("int")
        else:
            m = F.array(*__names)
            pick = (F.array_position(m, F.array_max(m)) - 1).cast("int")
        return d.withColumn("output", __b[pick]).drop(*__names)

    mldb.ctx.register_function(fname, apply_svm)
    return {"functionName": fname, "classes": classes}


@_entity_type("procedure", "classifier.experiment")
def _classifier_experiment(mldb: Mldb, eid: str, params: dict) -> dict:
    """classifier.experiment entity
    (plugins/jml/experiment_procedure.cc:618; the reference's k-fold
    train/test harness — MLDB-1304/MLDBFB-724's surface). inputData
    is the classifier.train features/label spec; datasetFolds gives
    explicit trainingWhere/testingWhere conditions (MLDB-878's
    grammar), bound through the dialect so rowHash()-style fold rules
    work; otherwise kfold hash-mod folds."""
    if "inputData" not in params:
        raise ValueError("You need to define inputData")
    tdf, exp_rn = mldb._query_with_row_name(
        Mldb._input_spec_to_sql(_required(params, "inputData"))
    )
    if "features" not in tdf.columns or "label" not in tdf.columns:
        raise ValueError(
            "classifier.experiment inputData must produce "
            "'features' and 'label' outputs"
        )
    keep_rn = [F.col(exp_rn).alias("__rowName")] if exp_rn else []
    flat = tdf.select(
        *_flat_features(tdf),
        F.col("label").cast("double").alias("label"),
        *keep_rn,
    ).filter(F.col("label").isNotNull())
    exp_feats = _feature_cols(flat, ("label",), strings=True)
    from mldb_spark.ml.procedures import classifier_experiment

    ds_folds = None
    if params.get("datasetFolds"):
        from mldb_spark.dialect.parser import parse_expression
        from mldb_spark.dialect.translate import Binder

        def _bind_cond(s):
            b = Binder(
                flat.columns, None,
                row_name_col="__rowName" if exp_rn else None,
                dtypes=dict(flat.dtypes),
            )
            return b.bind(parse_expression(s)).cast("boolean")

        ds_folds = [
            (_bind_cond(f["trainingWhere"]), _bind_cond(f["testingWhere"]))
            for f in _required(params, "datasetFolds")
        ]
    res = classifier_experiment(
        flat,
        exp_feats,
        "label",
        folds=int(params.get("kfold", 3) or 3),
        name=params.get("experimentName", eid),
        dataset_folds=ds_folds,
    )
    folds_status = [r.asDict() for r in res.collect()]
    return {
        "experimentName": params.get("experimentName", eid),
        "folds": folds_status,
        "aggregatedTest": {
            "auc": sum(f["auc"] for f in folds_status) / max(1, len(folds_status)),
        },
    }


@_entity_type("procedure", "classifier.train")
def _classifier_train(mldb: Mldb, eid: str, params: dict) -> dict:
    tdf = _training_frame(mldb, params)
    if "features" not in tdf.columns or "label" not in tdf.columns:
        raise ValueError(
            "classifier.train trainingData must produce "
            "'features' and 'label' outputs "
            "(select {* EXCLUDING (x)} as features, x as label)"
        )
    mldb._check_label_not_in_features(_required(params, "trainingData"), tdf)
    if params.get("mode") == "multilabel":
        # the label is a ROW — each non-null field a present label
        # (multilabel-classifier-test.py)
        from mldb_spark.ml.procedures import multilabel_train

        ldt = dict(tdf.dtypes)["label"]
        if not ldt.startswith("struct<"):
            raise ValueError(
                "multilabel mode needs a row-valued label "
                "({label0, label1} as label)"
            )
        label_fields = [f.name for f in tdf.schema["label"].dataType]
        flat_ml = tdf.select(
            F.col("features.*"),
            *[F.col("label").getField(n).alias(f"__lab_{n}") for n in label_fields],
        )
        ml_feats = _feature_cols(flat_ml)
        fname = params.get("functionName", eid)
        multilabel_train(
            flat_ml.select(
                *ml_feats, *[F.col(f"__lab_{n}").alias(n) for n in label_fields]
            ),
            ml_feats,
            label_fields,
            strategy=params.get("multilabelStrategy", "one-vs-all"),
            name=fname,
        )
        # GLOBAL_REGISTRY models are auto-visible in SQL by training
        # name (the reference's functionName auto-creation)
        return {"functionName": fname, "labels": label_fields}
    extra = [F.col("weight")] if "weight" in tdf.columns else []
    # rows whose label cell fell outside the WHEN window (or was never
    # present) are not training examples — the reference skips
    # missing-label rows rather than erroring the whole run.
    # Categorical mode keeps STRING labels (classifier_train indexes
    # them and maps predictions back — MLDB-173's cat/dog labels);
    # boolean/regression coerce numeric.
    label = (
        F.col("label")
        if params.get("mode") == "categorical"
        else F.col("label").cast("double")
    )
    flat = tdf.select(
        *_flat_features(tdf),
        label.alias("label"),
        *extra,
    ).filter(F.col("label").isNotNull())
    if flat.isEmpty():
        # zero surviving training rows is a clean config error, never
        # an opaque MLlib crash (MLDB-587's `WHERE false` training)
        raise ValueError(
            "classifier.train: all rows were filtered out "
            "by the trainingData query; nothing to train on"
        )
    # numeric features feed the estimator directly; STRING features
    # are legal too — classifier_train one-hot encodes them against a
    # capped vocabulary (MLDB-961's petalCat long/short VALUE_EQUALS
    # features). The engine's rowName column is metadata, never a
    # feature.
    feat_cols = _feature_cols(flat, ("label", "weight", "rowName"), strings=True)
    if not feat_cols:
        raise ValueError("classifier.train: no numeric feature columns")
    from mldb_spark.ml.procedures import classifier_train

    fname = params.get("functionName", eid)
    classifier_train(
        flat,
        feat_cols,
        "label",
        fname,
        algorithm=params.get("algorithm", "glz"),
        mode=params.get("mode", "boolean"),
        weight_col="weight" if "weight" in tdf.columns else None,
    )
    return {"functionName": fname, "features": feat_cols}


@_entity_type("procedure", "randomforest.binary.train")
def _randomforest_binary_train(mldb: Mldb, eid: str, params: dict) -> dict:
    """randomforest.binary.train (plugins/jml/randomforest_procedure.cc:411;
    MLDB-1433): classifier.train with the bagged-tree estimator in
    boolean mode."""
    return _classifier_train(
        mldb, eid, {**params, "algorithm": "bagging", "mode": "boolean"}
    )


@_entity_type("procedure", "kmeans.train")
def _kmeans_train(mldb: Mldb, eid: str, params: dict) -> dict:
    """kmeans.train entity (MLDB-945's WHEN half; MLDB-119's
    empty-column-match error): the numeric output columns of
    trainingData become the embedding."""
    tdf = _training_frame(mldb, params)
    feat_cols = _feature_cols(tdf)
    if not feat_cols:
        raise ValueError("kmeans.train: trainingData matched no columns")
    from mldb_spark.ml.procedures import kmeans_train

    emb = tdf.na.drop(subset=feat_cols).withColumn(
        "__emb",
        F.array(*[F.col(f"`{c}`").cast("double") for c in feat_cols]),
    )
    fname = params.get("functionName", eid)
    _model, centroids = kmeans_train(
        emb, "__emb", k=int(params.get("numClusters", 8)), name=fname
    )
    cds = params.get("centroidsDataset")
    if cds:
        mldb.create_dataset(
            _entity_id(cds),
            centroids.select(
                F.col("cluster").cast("string").alias("rowName"),
                *[F.col("centroid")[i].alias(c) for i, c in enumerate(feat_cols)],
            ),
            row_name_col="rowName",
        )
    # SQL application surface (MLDB-665's
    # kmeans({embedding: {...}})[cluster]): the embedding pin binds by
    # COLUMN NAME, so field order in the call never matters
    from mldb_spark.ml.registry import GLOBAL_REGISTRY

    def sql_assign(d, _feats=tuple(feat_cols), _fn=fname):
        d2 = d.withColumn(
            "__emb", F.array(*[F.col(f"`{c}`").cast("double") for c in _feats])
        )
        return GLOBAL_REGISTRY.apply(_fn, d2).drop("__emb")

    mldb.ctx.register_function(fname, sql_assign)
    return {
        "functionName": fname,
        "columns": feat_cols,
        "numClusters": int(params.get("numClusters", 8)),
    }


def _stable_row_id(tdf: DataFrame) -> tuple[DataFrame, Column]:
    """`tdf` and a row-id column that stays one value per source row
    through an explode: rowName when present, else a synthesized
    `__rid`. monotonically_increasing_id is re-evaluated per GENERATED
    row when Catalyst collapses the projections, splitting one source
    row into several (MLDB-1364 exposed 4 row embeddings for 3 rows).
    A window row_number is computed once per source row and carried
    through the generate; single-partition, acceptable at entity
    training scale. It is materialized as a COLUMN on tdf so the
    window runs over source rows — inlining it next to the explode
    would rank the GENERATED rows instead."""
    if "rowName" in tdf.columns:
        return tdf, F.col("rowName")
    from pyspark.sql import Window

    tdf = tdf.withColumn(
        "__rid",
        F.row_number()
        .over(Window.orderBy(*[F.col(f"`{c}`") for c in tdf.columns]))
        .cast("string"),
    )
    return tdf, F.col("__rid")


@_entity_type("procedure", "svd.train")
def _svd_train(mldb: Mldb, eid: str, params: dict) -> dict:
    """svd.train entity (MLDB-945's WHEN half): the wide result of
    trainingData melts to the long cell layout; string columns expand
    to categorical indicator cells named <col>.stringEquals.<value> —
    the reference's sparse string handling (MLDB-1937)."""
    tdf = _training_frame(mldb, params)
    feat_cols = _feature_cols(tdf)
    str_cols = [
        c
        for c, dt in tdf.dtypes
        if dt == "string" and c != "rowName" and not c.startswith("__")
    ]
    if not feat_cols and not str_cols:
        # an empty column match is NOT an error for svd.train
        # (MLDB-417: the reference trains an EMPTY svd and succeeds)
        # — emit empty outputs
        empty = local_frame(mldb.spark, [], "rowName string, embedding array<double>")
        for key in ("rowOutputDataset", "columnOutputDataset"):
            if params.get(key):
                mldb.create_dataset(_entity_id(params[key]), empty)
        return {"singularValues": [], "columns": []}
    from mldb_spark.ml.procedures import svd_train

    tdf, rn = _stable_row_id(tdf)
    cell_structs = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"`{c}`").cast("double").alias("value"),
        )
        for c in feat_cols
    ] + [
        F.struct(
            F.concat(F.lit(f"{c}.stringEquals."), F.col(f"`{c}`")).alias("column"),
            F.when(F.col(f"`{c}`").isNotNull(), F.lit(1.0)).alias("value"),
        )
        for c in str_cols
    ]
    cells = tdf.select(
        rn.alias("row_id"),
        F.explode(F.array(*cell_structs)).alias("cell"),
    ).select("row_id", "cell.column", "cell.value").filter(F.col("value").isNotNull())
    k = int(params.get("numSingularValues", 8))
    if str_cols:
        # string columns expand to per-value indicator cells — clamp
        # against the ACTUAL expanded column count (len(feat_cols)
        # alone would clamp a string-only training to k=0)
        k = min(k, cells.select("column").distinct().count())
    else:
        k = min(k, len(feat_cols))
    fname = params.get("functionName", eid)
    rows_emb, cols_emb, svals = svd_train(cells, k=k, name=fname)
    for key, out_df in (
        ("rowOutputDataset", rows_emb),
        ("columnOutputDataset", cols_emb),
    ):
        if params.get(key):
            mldb.create_dataset(_entity_id(params[key]), out_df)
    # WIDE-rowset embedRow surface (the reference's svd.embedRow
    # function entity, MLDB-805/498): x·V as a pure column expression
    # — V is the vocab-sized collected loading table, so the embedding
    # is codegen'd arithmetic, no join. Numeric columns only (string
    # indicator cells have no wide column to read).
    vmap = {
        r["column"]: list(r["embedding"])
        for r in cols_emb.collect()
        if r["column"] in feat_cols
    }
    if vmap and k > 0:
        def _wide_embed(d, _vmap=vmap, _k=k):
            dims = []
            for j in range(_k):
                expr = None
                for c, vec in _vmap.items():
                    if c not in d.columns:
                        continue
                    term = F.coalesce(
                        F.col(f"`{c}`").cast("double"), F.lit(0.0)
                    ) * F.lit(float(vec[j]))
                    expr = term if expr is None else expr + term
                dims.append(expr if expr is not None else F.lit(0.0))
            return d.withColumn("embedding", F.array(*dims))

        mldb.ctx.register_function(fname, _wide_embed)
    return {"singularValues": [float(s) for s in svals], "columns": feat_cols}


@_entity_type("procedure", "tsne.train")
def _tsne_train(mldb: Mldb, eid: str, params: dict) -> dict:
    """tsne.train entity (MLDB-945's WHEN half): the numeric columns
    of trainingData stack into one embedding per row."""
    tdf = _training_frame(mldb, params)
    feat_cols = _feature_cols(tdf)
    if not feat_cols:
        raise ValueError("tsne.train: trainingData matched no columns")
    from mldb_spark.ml.procedures import tsne_train

    emb = tdf.na.drop(subset=feat_cols).select(
        F.monotonically_increasing_id().alias("__id"),
        F.array(*[F.col(f"`{c}`").cast("double") for c in feat_cols]).alias("__emb"),
    )
    coords = tsne_train(
        emb, "__emb", id_col="__id",
        n_components=int(params.get("numOutputDimensions", 2)),
        perplexity=float(params.get("perplexity", 15.0)),
    )
    if params.get("rowOutputDataset"):
        mldb.create_dataset(_entity_id(_required(params, "rowOutputDataset")), coords)
    return {"columns": feat_cols, "rows": coords.count()}


@_entity_type("procedure", "classifier.test")
def _classifier_test(mldb: Mldb, eid: str, params: dict) -> dict:
    """accuracy procedure (plugins/jml/accuracy.cc; MLDB-804/256):
    testingData must produce 'score' and 'label' outputs; a config
    without it is a 4xx."""
    if "testingData" not in params:
        raise ValueError(
            "classifier.test expects a scalar named 'score' "
            "and a scalar named 'label' in testingData — "
            "you need to define testingData"
        )
    tdf = mldb.query(Mldb._require_from(_required(params, "testingData")))
    mode = params.get("mode", "boolean")
    if mode == "multilabel":
        # score and label are ROWS (multilabel-classifier-test.py's
        # accuracy case): rank every label by its score with the
        # reference's tie handling
        from mldb_spark.ml.procedures import multilabel_test

        dts = dict(tdf.dtypes)
        if not (
            dts.get("score", "").startswith("struct<")
            and dts.get("label", "").startswith("struct<")
        ):
            raise ValueError(
                "multilabel mode needs row-valued score and label outputs"
            )
        return multilabel_test(
            tdf,
            [f.name for f in tdf.schema["score"].dataType],
            [f.name for f in tdf.schema["label"].dataType],
            recall_over_n=params.get("recallOverN", [1]),
            weight_col="weight" if "weight" in tdf.columns else None,
        )
    if mode != "categorical" and (
        "score" not in tdf.columns or "label" not in tdf.columns
    ):
        raise ValueError(
            "classifier.test expects a scalar named 'score' "
            "and a scalar named 'label'"
        )
    if tdf.isEmpty():
        # the reference's exact message
        # (classifier_test_err_on_empty_sets.py)
        raise ValueError("Cannot run classifier.test procedure on empty test set")
    from mldb_spark.ml.procedures import (
        categorical_statistics,
        classifier_test,
        weighted_statistics,
    )

    if mode == "categorical":
        # `{...} as score` row pin: per-class scores — predicted =
        # argmax (MLDB-256's toy matrix)
        from mldb_spark.ml.procedures import argmax_prediction

        if "score" in tdf.columns and dict(tdf.dtypes)["score"].startswith("struct<"):
            from mldb_spark.dialect.translate import _struct_fields_typed

            fields = [n for n, _t in _struct_fields_typed(dict(tdf.dtypes)["score"])]
            flat = tdf.select(
                F.col("label"),
                *([F.col("weight")] if "weight" in tdf.columns else []),
                *[F.col("score").getField(n).alias(n) for n in fields],
            )
            scored = argmax_prediction(flat, fields)
        elif "predicted" in tdf.columns:
            scored = tdf
        else:
            raise ValueError(
                "classifier.test categorical mode needs a "
                "'score' row of per-class scores"
            )
        stats = categorical_statistics(
            scored, weight_col="weight" if "weight" in scored.columns else None
        )
        return {
            "labelStatistics": {
                r["label"]: {
                    "f1Score": r["f1Score"],
                    "recall": r["recall"],
                    "support": r["support"],
                    "precision": r["precision"],
                    "accuracy": r["accuracy"],
                }
                for r in stats.collect()
            },
            "weightedStatistics": weighted_statistics(stats),
        }
    wcol = "weight" if "weight" in tdf.columns else None
    if mode == "boolean" and params.get("outputDataset"):
        # the boolean test's threshold-sweep table
        # (test_classifier_test_proc.py truth rows), rows named like
        # the test examples
        from mldb_spark.ml.procedures import classifier_test_roc

        named, nrn = mldb._query_with_row_name(
            Mldb._require_from(_required(params, "testingData"))
        )
        mldb.create_dataset(
            _entity_id(_required(params, "outputDataset")),
            classifier_test_roc(named, weight_col=wcol, row_name_col=nrn),
            row_name_col="__rowName" if nrn else None,
        )
    row = classifier_test(tdf, mode=mode, weight_col=wcol).collect()[0]
    if mode != "regression":
        return row.asDict()
    d = row.asDict()
    return {
        "quantileErrors": {
            "0.25": d["quantile_err_25"],
            "0.5": d["quantile_err_50"],
            "0.75": d["quantile_err_75"],
            "0.9": d["quantile_err_90"],
        },
        "mse": d["mse"],
        "r2": d["r2"],
    }


@_entity_type("procedure", "tfidf.train")
def _tfidf_train(mldb: Mldb, eid: str, params: dict) -> dict:
    """tfidf.train (plugins/nlp/tfidf.cc:145-257): count per-term
    document frequency from the trainingData query (WHEN included)
    and write an output dataset of rows named by term with a `count`
    column."""
    tdf = _training_frame(mldb, params)
    if {"row", "column"}.issubset(tdf.columns):
        counts = tdf.groupBy("column").agg(F.countDistinct("row").alias("count"))
        counts = counts.select(F.col("column").alias("rowName"), "count")
    else:
        # wide layout: each non-rowName column is a term; df = rows
        # where it has a value
        terms = [c for c in tdf.columns if c != "rowName" and not c.startswith("__")]
        if not terms:
            raise ValueError("tfidf.train trainingData produced no term columns")
        stacked = tdf.selectExpr(
            "stack({n}, {args}) as (rowName, c)".format(
                n=len(terms), args=", ".join(f"'{t}', `{t}`" for t in terms)
            )
        )
        counts = (
            stacked.filter(F.col("c").isNotNull())
            .groupBy("rowName")
            .agg(F.count(F.lit(1)).alias("count"))
        )
    out_id = _entity_id(params.get("outputDataset", f"{eid}_output"))
    mldb.create_dataset(out_id, counts, row_name_col="rowName")
    return {"outputDataset": out_id}


@_entity_type("procedure", "experimental.external.procedure")
def _external_procedure(mldb: Mldb, eid: str, params: dict) -> dict:
    """external python process procedure
    (builtin/external_python_procedure.cc:152; MLDB-694): stdInData
    on stdin, last stdout line parsed as JSON into status.return."""
    from mldb_spark.utilities import external_procedure

    sc = params.get("scriptConfig", {})
    return external_procedure(
        script_path=sc.get("address"),
        source=sc.get("source"),
        stdin_data=params.get("stdInData", ""),
    )


@_entity_type("procedure", "null")
def _null_procedure(mldb: Mldb, eid: str, params: dict) -> None:
    """The no-op procedure (MLDB-326's run-lifecycle tests)."""
