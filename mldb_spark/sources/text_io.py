"""Text importers/exporters mirroring the reference's procedures.

- import.text (plugins/textual/importtext_procedure.h:22-57, .cc:1435):
  CSV/TSV with header autogeneration, delimiter/quote/encoding
  options, bad-line tolerance, offset/limit, per-line select/where/
  named expressions.
- import.json (plugins/textual/json_importer.cc:427): JSON-lines.
- export.csv (plugins/textual/csv_export_procedure.cc:238).

Spark-first: the readers ARE spark.read.csv/json (distributed,
splittable, schema-inferring); this layer adds the reference's
per-line expression semantics (select/where/named/offset/limit) on
top of the scan, which Catalyst then fuses into it.
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mldb_spark.session import local_rows


def import_text(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    header: bool = True,
    quote: str = '"',
    encoding: str = "UTF-8",
    ignore_bad_lines: bool = False,
    offset: int = 0,
    limit: int | None = None,
    where: Column | None = None,
    select: list[Column] | None = None,
    named: Column | None = None,
    skip_line_regex: str | None = None,
    multi_line: bool = False,
    replace_invalid_characters_with: str | None = None,
    headers: "list[str] | None" = None,
    process_excel_formulas: bool = False,
    structured_column_names: bool = False,
    line_number_row_names: bool = False,
) -> DataFrame:
    """import.text: CSV → DataFrame with the reference's per-line
    options (plugins/textual/importtext_procedure.h:22-57). Header
    autogeneration (header=False) yields the reference's x0..xN-style
    names (Spark's _c0.. renamed). offset/limit follow the
    reference's line-window semantics via a monotonically-derived
    line index — NOTE: at scale prefer where-filters; a global line
    offset forces an ordering. skip_line_regex drops matching lines
    BEFORE parsing (the reference's skipLineRegex; the header line is
    exempt); multi_line enables quoted embedded newlines.
    """
    if headers is not None:
        header = False
    # the reference accepts loose encoding spellings (MLDB-861 uses
    # 'utf8'/'latin1'); Spark's CSVOptions wants canonical charsets
    encoding = {
        "utf8": "UTF-8", "utf-8": "UTF-8",
        "latin1": "ISO-8859-1", "latin-1": "ISO-8859-1",
        "iso8859-1": "ISO-8859-1", "ascii": "US-ASCII",
        "utf16": "UTF-16", "utf-16": "UTF-16",
    }.get(encoding.lower(), encoding)
    reader = (
        spark.read.option("header", header)
        .option("sep", delimiter)
        .option("quote", quote)
        # RFC-4180 doubling ("" inside a quoted cell = one quote) —
        # the reference's CSV dialect; Spark's default escape is \
        .option("escape", quote)
        .option("encoding", encoding)
        .option("inferSchema", True)
        .option("multiLine", multi_line)
        .option("mode", "DROPMALFORMED" if ignore_bad_lines else "PERMISSIVE")
    )
    if skip_line_regex is not None:
        # pre-parse line filter: read raw lines, drop matches (keeping
        # line 1 when it is the header), re-parse the survivors as CSV
        lines = spark.read.text(path).withColumn(
            "__line", F.monotonically_increasing_id()
        )
        keep = ~F.col("value").rlike(skip_line_regex)
        if header:
            keep = keep | (F.col("__line") == 0)
        kept = lines.filter(keep).orderBy("__line").select("value")
        df = reader.csv(kept.rdd.map(lambda r: r["value"]))
    else:
        df = reader.csv(path)
    if headers is not None:
        # user-supplied header names (the reference's `headers`
        # option, MLDB-1121/1428): the file has no header line
        df = df.toDF(*headers)
    elif not header:
        df = df.toDF(*[f"x{i}" for i in range(len(df.columns))])
    else:
        # EMPTY header cells (a trailing delimiter on the header line,
        # MLDB-1649) produce Spark's autogenerated _cN names — the
        # reference drops those columns rather than inventing names
        ghost = [c for c in df.columns if re.fullmatch(r"_c\d+", c)]
        if ghost:
            df = df.drop(*ghost)
        if not structured_column_names:
            # structuredColumnNames=false (the reference default,
            # MLDB-1638): a header cell is ONE literal path element —
            # 'c.a' renders quoted as "c.a"; structured=true keeps the
            # cell as an already-rendered path string
            from mldb_spark.dialect.translate import _render_path_el

            renames = {
                c: _render_path_el(c)
                for c in df.columns
                if _render_path_el(c) != c
            }
            for old, new in renames.items():
                df = df.withColumnRenamed(old, new)
    if process_excel_formulas:
        # processExcelFormulas (MLDB-2170): ="x" unwraps to x; a bare
        # =x stays literal (only the quoted formula form is a formula)
        for c, t in df.dtypes:
            if t == "string":
                ref = F.col(f"`{c}`") if "." in c or '"' in c else F.col(c)
                df = df.withColumn(
                    c, F.regexp_replace(ref, r'^="(.*)"$', "$1")
                )
    if line_number_row_names:
        # the reference names imported rows by their 1-based FILE
        # line number (MLDB-973: header consumes line 1, data starts
        # at 2; MLDB-1502: custom headers consume nothing, data
        # starts at 1). Contiguous numbering needs a global
        # row_number over the file order — sequential by nature; at
        # scale prefer content-derived names (named=…).
        from pyspark.sql import Window as _W

        base = 2 if (header and headers is None) else 1
        df = (
            df.withColumn("__line", F.monotonically_increasing_id())
            .withColumn(
                "rowName",
                (F.row_number().over(_W.orderBy("__line")) + base - 1)
                .cast("string"),
            )
            .drop("__line")
        )
    if offset or limit is not None:
        df = df.withColumn("__line", F.monotonically_increasing_id())
        ordered = df.orderBy("__line")
        if offset:
            ordered = ordered.offset(offset)
        if limit is not None:
            ordered = ordered.limit(limit)
        df = ordered.drop("__line")
    if replace_invalid_characters_with is not None:
        # the reference's replaceInvalidCharactersWith (MLDB-1703):
        # undecodable bytes surface post-decode as U+FFFD; control
        # characters (incl. NUL) are the other poison for downstream
        # tokenizers — replace both in every string column
        bad = r"[\x00-\x08\x0B\x0C\x0E-\x1F�]"
        for c, t in df.dtypes:
            if t == "string":
                df = df.withColumn(
                    c,
                    F.regexp_replace(
                        F.col(f"`{c}`") if "." in c else F.col(c),
                        bad,
                        replace_invalid_characters_with,
                    ),
                )
    if where is not None:
        df = df.filter(where)
    if named is not None:
        df = df.withColumn("rowName", named)
    if select is not None:
        df = df.select(*select, *([F.col("rowName")] if named is not None else []))
    return df


def import_json(
    spark: SparkSession,
    path: str,
    ignore_bad_lines: bool = False,
    where: Column | None = None,
    select: list[Column] | None = None,
    arrays: str = "parse",
    max_one_hot: int = 1024,
    named: Column | None = None,
    line_numbers: bool = False,
) -> DataFrame:
    """import.json: JSON-lines → DataFrame (nested structs preserved;
    the reference flattens to dotted paths — use flatten_struct to
    match that output shape).

    arrays (plugins/textual/json_importer.cc, doc
    Importing JSON): 'parse' (default) keeps arrays as typed array
    columns; 'encode' one-hot-expands scalar arrays into
    `col.value -> 1` membership columns (the reference's sparse
    bag-of-values form) and renders arrays of objects as JSON
    strings. The one-hot vocabulary is collected per column and
    hard-capped at max_one_hot — an unbounded tag set must stay in
    the 'parse' (array) form."""
    if arrays not in ("parse", "encode"):
        raise ValueError(f"arrays must be 'parse' or 'encode', got {arrays!r}")
    reader = spark.read.option(
        "mode", "DROPMALFORMED" if ignore_bad_lines else "PERMISSIVE"
    )
    df = reader.json(path)
    if arrays == "encode":
        from pyspark.sql.types import ArrayType, StructType

        cols: list[Column] = []
        for field in df.schema.fields:
            if isinstance(field.dataType, ArrayType):
                elem = field.dataType.elementType
                if isinstance(elem, StructType):
                    cols.append(F.to_json(F.col(field.name)).alias(field.name))
                    continue
                distinct = df.select(F.explode(field.name).alias("v")).distinct().orderBy("v")
                vals = local_rows(distinct, max_one_hot, "import.json arrays='encode'")
                if vals is None:
                    raise ValueError(
                        f"arrays='encode': column {field.name!r} has more "
                        f"than {max_one_hot} distinct values; keep it in "
                        f"'parse' form"
                    )
                cols.extend(
                    F.array_contains(F.col(field.name), v)
                    .cast("int")
                    .alias(f"{field.name}.{v}")
                    for v in vals.column(0).to_pylist()
                )
            else:
                cols.append(F.col(field.name))
        df = df.select(*cols)
    if line_numbers:
        # 1-based input-order line numbers (MLDB-1266's lineNumber()
        # row-name idiom): row_number over the ingestion order. A
        # global window — import-sized inputs only; at TB scale name
        # rows from content instead.
        from pyspark.sql import Window

        df = df.withColumn(
            "lineNumber",
            F.row_number().over(
                Window.orderBy(F.monotonically_increasing_id())
            ).cast("long"),
        )
    if where is not None:
        df = df.filter(where)
    if named is not None:
        df = df.withColumn("rowName", named.cast("string"))
    if select is not None:
        # thread the computed naming columns through the projection,
        # skipping any the select list already produces (a select of
        # rowName itself must not duplicate the column)
        picked = df.select(*select).columns
        keep = [
            c
            for c in ("rowName", "lineNumber")
            if c in df.columns and c not in picked
        ]
        df = df.select(*select, *[F.col(c) for c in keep])
    return df


def leaf_refs(schema, sep: str = ".") -> list[tuple[str, str]]:
    """(dotted_name, field_access_ref) for every atomic leaf of a
    schema, recursing into structs: a field b of struct a yields
    ('a.b', '`a`.`b`'). The ref string is valid against the ORIGINAL
    (unflattened) DataFrame; the name is its flattened alias."""
    out: list[tuple[str, str]] = []

    def walk(prefix: str, sch, path: str):
        for field in sch.fields:
            full = f"{path}.`{field.name}`" if path else f"`{field.name}`"
            name = f"{prefix}{sep}{field.name}" if prefix else field.name
            if hasattr(field.dataType, "fields"):
                walk(name, field.dataType, full)
            else:
                out.append((name, full))

    walk("", schema, "")
    return out


def flatten_struct(df: DataFrame, sep: str = ".") -> DataFrame:
    """Flatten nested structs to dotted-path atomic columns — the
    reference's complex-type flattening rule (TypeSystem.md 'Complex
    type flattening'; recordRowExpr 'will be flattened',
    core/dataset.h:459-468)."""
    return df.select(
        *[F.col(ref).alias(name) for name, ref in leaf_refs(df.schema, sep)]
    )


def export_csv(
    df: DataFrame,
    path: str,
    delimiter: str = ",",
    header: bool = True,
    single_file: bool = False,
) -> None:
    """export.csv. single_file=True coalesces to one partition —
    only for modest outputs (the reference is single-node and always
    writes one file; distributed default keeps one file per
    partition)."""
    # structured (struct) cells flatten to dotted-path columns on the
    # wire (MLDB-2126-export-structured.py: `select x as x` over
    # columns x.a/x.b exports header `x.a,x.b`) — rowsets are always
    # flat in the reference's CSV output
    from pyspark.sql.types import StructType

    while any(isinstance(f.dataType, StructType) for f in df.schema):
        cols = []
        for f in df.schema:
            if isinstance(f.dataType, StructType):
                cols.extend(
                    F.col(f"`{f.name}`").getField(sub).alias(f"{f.name}.{sub}")
                    for sub in f.dataType.fieldNames()
                )
            else:
                cols.append(F.col(f"`{f.name}`"))
        df = df.select(*cols)
    # VOID columns (open-schema unknown references bound to NULL)
    # export as empty cells like any other NULL — the CSV source
    # rejects the VOID type outright (MLDB-1098's `select bar`)
    if any(t == "void" for _, t in df.dtypes):
        df = df.select(
            *[
                F.col(f"`{c}`").cast("string").alias(c) if t == "void" else F.col(f"`{c}`")
                for c, t in df.dtypes
            ]
        )
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", header).option("sep", delimiter).csv(path)
