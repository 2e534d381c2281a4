"""Lower the MLDB-dialect AST to PySpark DataFrame plans.

The reference's bind step resolves every AST node against the
dataset's known columns, with unknown columns evaluating to NULL
(sql/sql_expression.h:968-1200; doc ValueExpression.md:24). Here the
binder produces pyspark Columns; Catalyst then owns optimization —
nothing in this module schedules execution.

Semantics carried over:
- open schema: unresolved column → lit(NULL)
- CAST fail → NULL (try_cast; reference CastExpression)
- true/false are 1/0 (no boolean atomic type, TypeSystem.md:17-18)
- NAMED computes a rowName output column
- WHEN filters on the row timestamp (tabular layout: one ts per row,
  plugins/tabular/tabular_dataset.h:7-10); value_timestamp() binds
  to the dataset's ts column
- DISTINCT ON + ORDER BY keeps the first row per key
- aggregate queries detect aggregate functions in the select list
  (reference: BoundGroupByQuery chosen when aggregators present,
  core/bound_queries.cc)
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mldb_spark.dialect import ast
from mldb_spark.dialect.parser import parse_statement
from mldb_spark.functions import core, paths, text, vector, web
from mldb_spark.session import local_frame, local_rows

_CAST_TYPES = {
    "string": "string",
    "integer": "long",
    "number": "double",
    "boolean": "boolean",
    "timestamp": "timestamp",
}



_POSIX_CLASSES = {
    "alnum": "Alnum", "alpha": "Alpha", "blank": "Blank",
    "cntrl": "Cntrl", "digit": "Digit", "graph": "Graph",
    "lower": "Lower", "print": "Print", "punct": "Punct",
    "space": "Space", "upper": "Upper", "xdigit": "XDigit",
}


def _posix_re(pat: str) -> str:
    """Translate POSIX bracket classes ([:digit:] inside a character
    class) to Java's \\p{...} spelling — the reference's regex engine
    accepts them (MLDB-1172's 'feat[[:digit:]]'), Java's does not."""
    for k, v in _POSIX_CLASSES.items():
        pat = pat.replace(f"[:{k}:]", f"\\p{{{v}}}")
    return pat


def _mime_type_fn(c: Column) -> Column:
    from mldb_spark.multimodal import sniff_mime

    return sniff_mime(c.cast("binary"))


def _cxx_log(c: Column, fn) -> Column:
    """C/C++ logarithm edge semantics: log(0) = -Inf, log(<0) = NaN
    (the reference evaluates through libm; Spark's builtins return
    NULL for non-positive inputs)."""
    x = c.cast("double")
    return (
        F.when(x == 0, F.lit(float("-inf")))
        .when(x < 0, F.lit(float("nan")))
        .otherwise(fn(x))
    )


# -- builtin functions --------------------------------------------------
#
# Every builtin is one _BUILTINS entry holding its binding and what the
# binder knows of it statically, as the reference registers each
# builtin once with its arity (sql/builtin_functions.cc; families from
# SURVEY §2.9). Binder._call looks the name up and checks the arity;
# _static_dtype, _is_stringy, _expr_ndim, _is_const_expr,
# _is_path_valued and aggregate detection read the entry.


class _Builtin(NamedTuple):
    bind: Callable[..., Column]  # (binder, call) -> Column
    arity: tuple[int, int | None]  # (min, max); max None is variadic
    # static result type ('' when unknown), or (binder, call) -> type
    dtype: str | Callable[..., str] = ""
    pure: bool = True  # constant whenever its arguments are
    aggregate: bool = False
    spelling: str | None = None  # registered spelling, if not lowercase
    path: bool = False  # yields a structured path (an element array)


_BUILTINS: dict[str, _Builtin] = {}


def _builtin(names: str, arity: int | tuple = 1, **facts):
    """Register the decorated (binder, call) -> Column binding under
    each of the space-separated `names`; `arity` is an exact argument
    count or (min, max)."""
    if isinstance(arity, int):
        arity = (arity, arity)

    def register(bind):
        for name in names.split():
            assert name not in _BUILTINS, name
            _BUILTINS[name] = _Builtin(bind, arity, **facts)
        return bind

    return register


def _scalar(names: str, arity: int | tuple = 1, **facts):
    """Register the decorated (args, call) -> Column binding of a
    scalar builtin; args are the call's arguments, already bound."""

    def register(fn):
        _builtin(names, arity, **facts)(lambda b, e: fn([b.bind(a) for a in e.args], e))
        return fn

    return register


def _simple(fns: dict[str, Callable[..., Column]], arity=1, **facts) -> None:
    """Register scalars that apply a Column function to their bound
    arguments."""
    for name, fn in fns.items():
        _scalar(name, arity, **facts)(lambda args, e, fn=fn: fn(*args))


def _spelled(name: str) -> str:
    return _BUILTINS[name].spelling or name


def _is_aggregate(e: ast.FunctionCall) -> bool:
    entry = _BUILTINS.get(e.name)
    return entry is not None and entry.aggregate


def _sign(c: Column) -> Column:
    # sign: NaN for non-numeric strings and NaN inputs, NULL for NULL,
    # else -1/0/1 (sign_function_test.py)
    num = c.try_cast("double")
    return (
        F.when(c.isNull(), F.lit(None).cast("double"))
        .when(num.isNull(), F.lit(float("nan")))
        .otherwise(F.signum(num))
    )


_simple({
    "abs": F.abs, "sqrt": F.sqrt, "exp": F.exp,
    # C++ log conventions (MLDB-781-numeric-functions.js):
    # ln(0) = -Inf, ln(negative) = NaN — Spark's log would give
    # NULL for both
    "ln": lambda c: _cxx_log(c, F.log),
    "floor": F.floor, "ceil": F.ceiling, "ceiling": F.ceiling,
    # length counts characters and coerces numbers to their string
    # form (length(22) = 2 — MLDB-1691)
    "length": lambda c: F.length(c.cast("string")),
    "isnan": F.isnan,
    "sin": F.sin, "cos": F.cos, "tan": F.tan, "asin": F.asin,
    "acos": F.acos, "atan": F.atan, "sinh": F.sinh, "cosh": F.cosh,
    "tanh": F.tanh,
    "asinh": F.asinh, "acosh": F.acosh, "atanh": F.atanh,
    "date_trunc_day": lambda c: F.date_trunc("day", c),
    "token_count": text.token_count, "quality_score": text.quality_score,
    # path scalar surface (sql/path_functions; MLDB-1648):
    # stringify renders with quoting, parse splits respecting it
    "stringify_path": paths.stringify_path,
    "parse_path": paths.parse_path,
    "path_length": paths.path_length,
    # corpus-tier scalar surface (beyond-reference): PII scrub and
    # URL canonicalization reachable straight from SQL/REST
    "redact_pii": text.redact_pii,
    "canonicalize_url": web.canonicalize_url,
    # isinf/isfinite (builtin_functions.cc math family): finite =
    # non-null, not NaN, not +-inf
    "isinf": lambda c: F.abs(c.cast("double")) == F.lit(float("inf")),
    "isfinite": lambda c: c.isNotNull()
    & ~F.isnan(c.cast("double"))
    & (F.abs(c.cast("double")) != F.lit(float("inf"))),
    # implicit_cast (builtin_functions.cc:970): string -> number
    # when parseable. Typed-column divergence: the reference keeps
    # the original string when unparseable (variant cells); a
    # typed DataFrame column cannot mix, so unparseable -> NULL.
    "implicit_cast": lambda c: c.try_cast("double"),
    # hash (builtin_functions.cc:3388): deterministic value hash
    # hash(NULL) is NULL (builtin_hash_fct_test), not the seed
    "hash": lambda c: F.when(c.isNull(), F.lit(None).cast("long")).otherwise(
        F.xxhash64(c)
    ),
    # mime_type (builtin_functions.cc:3612): magic-byte sniff
    "mime_type": _mime_type_fn,
    "sign": _sign,
    "base64_encode": lambda c: F.base64(c.cast("binary")),
    "base64_decode": F.unbase64,
    "blob_length": lambda c: F.octet_length(c.cast("binary")).cast("long"),
    # real Porter 1980 via Arrow-batched UDF (the reference's
    # stemmer applied function with {algorithm: 'porter'})
    "porter_stem": lambda c: text.porter_stem_udf()(c),
})
_simple({
    "lower": F.lower, "upper": F.upper, "trim": F.trim, "md5": F.md5,
    "normalize_text": text.normalize_text, "language_id": text.language_id,
}, dtype="string")
_simple({"to_timestamp": F.to_timestamp}, dtype="timestamp")
_simple({"tokenize_counts": text.tokenize_counts}, dtype="map<string,bigint>")
_simple({"flatten_path": paths.flatten_path}, path=True)
_simple({"unflatten_path": paths.unflatten_path}, dtype="array<string>", path=True)
_simple({
    # mod() is C-truncated (sign of the DIVIDEND —
    # builtin_functions.cc:787 uses C++ % on ints; MLDB-798), so
    # Spark's % (same semantics), NOT pmod
    "pow": F.pow, "power": F.pow,
    "mod": lambda a, b: a.cast("long") % b.cast("long"),
    "atan2": F.atan2, "levenshtein_distance": F.levenshtein,
    "path_element": paths.path_element,
    "dot_product": vector.dot_product,
    "cosine_similarity": vector.cosine_similarity,
    "binomial_lb_80": core.binomial_lb_80, "binomial_ub_80": core.binomial_ub_80,
    # remove_prefix/suffix (builtin_functions.cc:993-1016): strip
    # only when present, else unchanged
    "remove_prefix": lambda c, p: F.when(
        c.startswith(p), c.substr(F.length(p) + 1, F.length(c))
    ).otherwise(c),
    "remove_suffix": lambda c, s: F.when(
        c.endswith(s), c.substr(F.lit(1), F.length(c) - F.length(s))
    ).otherwise(c),
}, 2)
# element-wise embedding arithmetic (builtin_functions.cc vector_*
# family; MLDB-923)
_simple(
    {n: getattr(vector, n) for n in "vector_sum vector_diff vector_product vector_quotient".split()},
    2, dtype="array<double>",
)
_simple({"clamp": core.clamp}, 3)
_simple({"geo_distance": core.geo_distance}, 4)
_simple({"coalesce": F.coalesce}, (1, None))
_simple({"pi": lambda: F.lit(3.141592653589793), "e": lambda: F.lit(2.718281828459045)}, 0)


@_scalar("log", (1, 2))
def _log(args, e):
    # reference log family (builtin_functions.cc; MLDB-781):
    # log(x) is BASE-10 (log(1000) = 3), log(b, x) is base-b,
    # ln(x) is natural; 0 -> -Inf, negative -> NaN
    if len(args) == 1:
        return _cxx_log(args[0], F.log10)
    # log(b, x) = ln(x)/ln(b) with libm edges on BOTH operands
    # (ADVICE r5: x == 0 with base < 1 is +Inf, not -Inf, because
    # ln(base) < 0; base == 1 divides by zero per IEEE)
    lx = _cxx_log(args[1], F.log)
    lb = _cxx_log(args[0], F.log)
    nan = F.lit(float("nan"))
    pinf = F.lit(float("inf"))
    ninf = F.lit(float("-inf"))
    return (
        F.when(F.isnan(lx) | F.isnan(lb), nan)
        .when(
            lb == 0,  # base == 1: IEEE x/0 — signed Inf, 0/0 = NaN
            F.when(lx > 0, pinf).when(lx < 0, ninf).otherwise(nan),
        )
        .when(
            lx == ninf,  # x == 0: sign follows ln(base)
            F.when(lb == ninf, nan).when(lb < 0, pinf).otherwise(ninf),
        )
        .otherwise(F.try_divide(lx, lb))
    )


@_scalar("tokenize", (1, 2), dtype="map<string,bigint>")
def _tokenize(args, e):
    if len(args) == 1:
        # the reference's tokenize preserves case (sql/tokenize.cc;
        # MLDB-1190 keeps 'I')
        return text.tokenize_counts(args[0], lowercase=False)
    # tokenize(str, {splitChars, quoteChar, ngramRange,
    # minTokenLength, limit, offset, value}) — the reference's
    # full option row (sql/tokenize.cc; TokenizeOptions). With
    # `value`, the output is the bag-of-words MAP with that
    # constant value per token (the one-hot-ish form); otherwise
    # the token array.
    if not isinstance(e.args[1], ast.RowLiteral):
        raise ValueError("tokenize options must be a row literal")
    opts = {k.lower(): v for k, v in e.args[1].fields}

    def lit_of(key, default=None):
        v = opts.get(key)
        return v.value if isinstance(v, ast.Literal) else default

    ngr = (1, 1)
    if isinstance(opts.get("ngramrange"), ast.EmbeddingLiteral):
        items = [_literal_int(x) for x in opts["ngramrange"].items]
        if len(items) == 2 and all(i is not None for i in items):
            ngr = (items[0], items[1])
    toks = text.tokenize_opts(
        args[0],
        split_chars=lit_of("splitchars"),
        min_token_length=int(lit_of("mintokenlength", 1)),
        ngram_range=ngr,
        limit=(int(lit_of("limit")) if lit_of("limit") is not None else None),
        offset=int(lit_of("offset", 0)),
        quote_char=lit_of("quotechar"),
        lowercase=False,
    )
    distinct = F.array_distinct(toks)
    if "value" in opts:
        val = opts["value"]
        if not isinstance(val, ast.Literal):
            raise ValueError("tokenize value option must be a literal")
        return F.map_from_arrays(
            distinct, F.transform(distinct, lambda _t: F.lit(val.value))
        )
    # the reference's tokenize() output is the bag-of-words row
    # token -> count (sql/tokenize.cc; MLDB-907-tokenize.py),
    # mapped here to MAP<token, count>. Pipelines that need the
    # raw token stream use the Python-level text.tokenize array
    # (exploded), not this scalar SQL form. Single-pass aggregate
    # (optimization r10): the old per-distinct filter re-ran the
    # regex tokenizer once per distinct token — quadratic.
    return text.token_counts_map(toks)


# regex_match is a FULL-string match in the reference
# (std::regex_match, builtin_functions.cc:1038); regex_search is the
# find-anywhere form (:1049). Spark's rlike is search semantics, so
# regex_match anchors the pattern; literal patterns get POSIX class
# translation.
@_scalar("regex_search", 2)
def _regex_search(args, e):
    if isinstance(e.args[1], ast.Literal):
        return F.rlike(args[0], F.lit(_posix_re(str(e.args[1].value))))
    return F.rlike(args[0], args[1])


@_scalar("regex_match", 2)
def _regex_match(args, e):
    if isinstance(e.args[1], ast.Literal):
        return args[0].rlike(f"^(?:{_posix_re(str(e.args[1].value))})$")
    # dynamic pattern (MLDB-1631 builds one from rowName());
    # rlike accepts a column regexp — anchor it the same way
    return F.rlike(args[0], F.concat(F.lit("^(?:"), args[1], F.lit(")$")))


@_scalar("regex_replace", 3, dtype="string")
def _regex_replace(args, e):
    return F.regexp_replace(
        args[0], _posix_re(str(e.args[1].value)), e.args[2].value  # type: ignore[union-attr]
    )


def _date_unit(fn):
    """date_part/date_trunc(unit, ts [, tzoffset]) — unit and the
    optional timezone offset are bind-time literals, with the
    reference's 16-unit table (types/date.cc:714-846; MLDB-906 pins
    0-based doy/week, the iso family and the int-division quarter)."""

    def bind(args, e):
        if not isinstance(e.args[0], ast.Literal):
            raise ValueError(f"{e.name}(unit, ts) needs a literal unit")
        tz_min = 0
        if len(args) == 3:
            if not isinstance(e.args[2], ast.Literal):
                raise ValueError(f"{e.name} timezone must be a literal string")
            tz_min = core.tz_offset_minutes(str(e.args[2].value))
        return fn(str(e.args[0].value), args[1].cast("timestamp"), tz_min)

    return bind


_scalar("date_part", (2, 3))(_date_unit(core.mldb_date_part))
_scalar("date_trunc", (2, 3), dtype="timestamp")(_date_unit(core.mldb_date_trunc))


def _p_norm(normalize: bool):
    """norm/normalize(v [, p]) with the reference's p cases
    (builtin_functions.cc:1600-1749; MLDB-953): p=0 non-zero count,
    p=inf max element, else the p-power root; p is a bind-time
    constant because it selects the formula."""

    def bind(args, e):
        p = 2.0
        if len(args) == 2:
            if not isinstance(e.args[1], ast.Literal):
                raise ValueError(f"{e.name}(v, p) needs a literal power")
            p = float(e.args[1].value)
        if isinstance(e.args[0], ast.EmbeddingLiteral) and any(
            isinstance(it, ast.EmbeddingLiteral) for it in e.args[0].items
        ):
            # 2-D embedding (tensor) literal (MLDB-1317): the norm
            # reduces over ALL elements; normalize keeps the shape
            n = vector.p_norm(F.flatten(args[0]), p)
            if not normalize:
                return n
            return F.transform(
                args[0],
                lambda row: F.transform(row, lambda x: x.cast("double") / n),
            )
        if normalize:
            return vector.normalize_p(args[0], p)
        return vector.p_norm(args[0], p)

    return bind


_scalar("norm", (1, 2))(_p_norm(False))
_scalar("normalize", (1, 2), dtype="array<double>")(_p_norm(True))


@_scalar(
    "split_part", (2, 3),
    dtype=lambda b, e: "array<string>" if len(e.args) == 2 else "",
)
def _split_part(args, e):
    # split_part(str, delim, n) (builtin_functions.cc:1991);
    # 1-based n, negative counts from the end. The 2-arg form
    # returns ALL parts (the reference emits a row of parts,
    # MLDB-2108; here the analog is the array, 0-indexable with [n])
    if len(args) == 2:
        if not isinstance(e.args[1], ast.Literal):
            raise ValueError("split_part(str, delim) needs a literal delimiter")
        return F.split(args[0], re.escape(str(e.args[1].value)))
    return F.split_part(args[0], args[1], args[2].cast("int"))


@_scalar("token_extract", (2, 3))
def _token_extract(args, e):
    # token_extract(str, nth [, {options}]) (tokenize.cc /
    # builtin_functions.cc:1956): nth token through the SAME
    # TokenizeOptions surface as tokenize (splitChars, quoteChar,
    # minTokenLength); default ',' split, negative nth from the end
    # (0-based like embedding paths)
    split_chars, quote_char, min_len = ",", None, 1
    if len(e.args) == 3 and isinstance(e.args[2], ast.RowLiteral):
        opts = {k.lower(): v for k, v in e.args[2].fields}
        if isinstance(opts.get("splitchars"), ast.Literal):
            split_chars = str(opts["splitchars"].value)
        if isinstance(opts.get("quotechar"), ast.Literal):
            quote_char = str(opts["quotechar"].value)
        if isinstance(opts.get("mintokenlength"), ast.Literal):
            min_len = int(opts["mintokenlength"].value)
    toks = text.tokenize_opts(
        args[0],
        split_chars=split_chars,
        min_token_length=min_len,
        quote_char=quote_char,
        lowercase=False,
    )
    n = _literal_int(e.args[1])
    if n is None:
        raise ValueError("token_extract needs a literal token index")
    return F.element_at(toks, n + 1 if n >= 0 else n)


@_scalar("extract_column", 2)
def _extract_column(args, e):
    # extract_column(name, row) (builtin_functions.cc:2400): pull one
    # named field out of a row value
    if not isinstance(e.args[0], ast.Literal):
        raise ValueError("extract_column(name, row) needs a literal name")
    return args[1].getItem(str(e.args[0].value))


@_scalar("round", (1, 2))
def _round(args, e):
    if len(args) == 1:
        # 1-arg form: nearest integer (MLDB-1666's
        # round(geo_distance(...) / 1000))
        return F.round(args[0])
    if not isinstance(e.args[1], ast.Literal):
        raise ValueError("round(x, d) needs a literal digit count")
    return F.round(args[0], int(e.args[1].value))


# signal family (sql/builtin_signal_functions.cc; MLDB-1972)
def _signal():
    from mldb_spark.functions import signal

    return signal


@_scalar("impulse", dtype="array<double>")
def _impulse(args, e):
    n = _literal_int(e.args[0])
    pos = _literal_int(e.args[1]) if len(e.args) > 1 else 0
    if n is None or pos is None:
        raise ValueError(f"{e.name}() needs literal integer arguments")
    return _signal().impulse(n, pos)


_scalar("shifted_impulse", 2, dtype="array<double>")(_impulse)


def _fft_backward(e: ast.FunctionCall) -> bool:
    if len(e.args) < 2:
        return False
    d = e.args[1]
    if not (isinstance(d, ast.Literal) and isinstance(d.value, str)):
        raise ValueError("fft() direction must be a literal string")
    if d.value not in ("forward", "backward"):
        raise ValueError(f"unknown fft direction {d.value!r}")
    return d.value == "backward"


@_scalar(
    "fft", (1, 2),
    dtype=lambda b, e: (
        "array<double>" if _fft_backward(e)
        else "struct<re:array<double>,im:array<double>>"
    ),
)
def _fft(args, e):
    if _fft_backward(e):
        return _signal().ifft_real(args[0]["re"], args[0]["im"])
    return _signal().fft(args[0])


_simple({
    "amplitude": lambda c: _signal().amplitude(c),
    "phase": lambda c: _signal().phase(c),
}, dtype="array<double>")


_simple(
    {"concat": F.concat}, (1, None),
    # strings concatenate; embeddings (arrays) append
    dtype=lambda b, e: (_array_dtype(b._expr_ndim(e.args[0])) if e.args else "") or "string",
)


def _array_dtype(ndim: int) -> str:
    """The static type of an ndim-deep embedding ('' when ndim < 1)."""
    return "array<" * ndim + "double" + ">" * ndim if ndim > 0 else ""


@_scalar("substr substring", 3, dtype="string")
def _substring(args, e):
    return F.substring(args[0], int(e.args[1].value), int(e.args[2].value))  # type: ignore[union-attr]


@_scalar("left", 2, dtype="string")
def _left(args, e):
    return F.substring(args[0], 1, int(e.args[1].value))  # type: ignore[union-attr]


@_scalar("try", (1, 2))
def _try(args, e):
    # try(expr[, fallback]) — reference row-level error absorber
    # (builtin_functions.cc:3447). PARTIAL: this engine binds
    # fallible exprs through NULL-on-error forms (try_cast,
    # try_divide, try_element_at), so try() reduces to coalesce
    # over the already-absorbed NULL. Exprs that THROW in Spark
    # (ANSI overflow, malformed regex) are not absorbed — route
    # those through an explicit try_* function instead.
    return F.coalesce(*args) if len(args) > 1 else args[0]


@_scalar("print_json")
def _print_json(args, e):
    # struct/map/array inputs serialize structurally; scalars are
    # their JSON literal form
    if isinstance(e.args[0], (ast.RowLiteral, ast.EmbeddingLiteral)):
        return F.to_json(args[0])
    return F.to_json(F.struct(args[0].alias("v"))).substr(F.lit(6), F.length(F.to_json(F.struct(args[0].alias("v")))) - 6)


@_scalar("parse_json", (1, 2))
def _parse_json(args, e):
    # full flattening to dotted paths in a MAP<string,string>
    # (TypeSystem.md complex-type flattening): nested objects and
    # — with arrays='parse' (the default) — array elements under
    # their 0-based index (friends.0.name, MLDB-1779/1275);
    # arrays='encode' one-hots scalar arrays and renders object
    # arrays as JSON text. Malformed input parses to NULL (the
    # ignoreErrors behavior). Arrow-batched UDF — parse_json is an
    # import-shaped function, not a hot scan path.
    arrays_mode = "parse"
    if len(e.args) == 2:
        if not isinstance(e.args[1], ast.RowLiteral):
            raise ValueError("parse_json options must be a row literal")
        for k, v in e.args[1].fields:
            if k.lower() == "arrays":
                if not isinstance(v, ast.Literal):
                    raise ValueError(
                        "parse_json arrays option must be a quoted "
                        "string ('parse' or 'encode')"
                    )
                if str(v.value) not in ("parse", "encode"):
                    raise ValueError(
                        f"unknown parse_json arrays mode {v.value!r}"
                    )
                arrays_mode = str(v.value)
    return text.parse_json_flatten_udf(arrays_mode)(args[0])


@_scalar("extract_domain", (1, 2))
def _extract_domain(args, e):
    # http family (sql/builtin_http_functions.cc:38-77); the options
    # row literal {removeSubdomain: true|1} is a bind-time constant,
    # like the reference's jsonDecode of arg 2
    remove_sub = False
    if len(e.args) == 2:
        if not isinstance(e.args[1], ast.RowLiteral):
            raise ValueError(
                "extract_domain options must be a {removeSubdomain: ...} row"
            )
        opts = {k.lower(): v for k, v in e.args[1].fields}
        lit = opts.get("removesubdomain")
        remove_sub = bool(isinstance(lit, ast.Literal) and lit.value)
    # a scheme-less input is a hard error, not a NULL
    # (MLDB-1753/1772: "Attempt to create a URL without a scheme")
    checked = F.when(
        args[0].isNotNull() & ~args[0].rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://"),
        F.raise_error(
            F.concat(F.lit("Attempt to create a URL without a scheme: "), args[0])
        ),
    ).otherwise(args[0])
    return web.extract_domain(checked, remove_sub)


@_builtin("jaccard_index", 2)
def _jaccard_index(b, e):
    # the reference's jaccard operates on rows-as-SETS (MLDB-1668:
    # jaccard_index(tokenize(a), tokenize(b))) — a bag-of-words MAP
    # argument contributes its key set
    args = [b.bind(a) for a in e.args]
    return core.jaccard_index(*[
        F.map_keys(c) if b._static_dtype(a).startswith("map") else c
        for a, c in zip(e.args, args)
    ])


@_builtin(
    "quantize", 2,
    # shape-preserving (scalar or element-wise)
    dtype=lambda b, e: b._static_dtype(e.args[0]) if e.args else "",
)
def _quantize(b, e):
    args = [b.bind(a) for a in e.args]
    if b._static_dtype(e.args[0]).startswith("array"):
        # element-wise over embeddings (MLDB-1972's
        # quantize(fft(..., 'backward'), 0.001))
        return F.transform(args[0], lambda x: core.quantize(x, args[1]))
    return core.quantize(args[0], args[1])


def _elementwise(fn):
    """The replace_* family: fn(x, v) distributed over an embedding's
    elements and a row literal's fields (builtin_functions.cc
    replaceIfNaN et al. unwrap structured values; MLDB-917 pins the
    behavior for both [] and {} forms)."""

    def bind(b, e):
        arg0, repl = e.args[0], b.bind(e.args[1])
        if isinstance(arg0, ast.EmbeddingLiteral) or b._static_dtype(arg0).startswith("array"):
            return F.transform(b.bind(arg0), lambda x: fn(x, repl))
        if isinstance(arg0, ast.RowLiteral):
            # _row_literal_fields expands {*}/{p*} wildcard fields
            # (MLDB-1781's replace_nan({*}, -1))
            return F.struct(
                *[fn(c, repl).alias(k) for k, c in b._row_literal_fields(arg0)]
            )
        return fn(b.bind(arg0), repl)

    return bind


for _name, _fn in {
    "replace_nan": lambda c, v: F.when(F.isnan(c), v).otherwise(c),
    "replace_null": lambda c, v: F.coalesce(c, v),
    "replace_inf": lambda c, v: F.when(
        F.abs(c.cast("double")) == F.lit(float("inf")), v
    ).otherwise(c),
    "replace_not_finite": lambda c, v: F.when(
        F.isnan(c.cast("double"))
        | (F.abs(c.cast("double")) == F.lit(float("inf"))),
        v,
    ).otherwise(c),
}.items():
    _builtin(_name, 2)(_elementwise(_fn))


def _non_null(arr: Column) -> Column:
    return F.filter(arr, lambda x: x.isNotNull())


def _horizontal(over_values, over_cells=None, empty=lambda: F.lit(None)):
    """horizontal_*(<row>) / horizontal_*(v1, v2, ...): over_values
    reduces the flat value list (given with the raw arguments, None
    for expanded row cells); over_cells, where the family has it,
    reduces the non-null cells of one embedding or MAP-valued row."""

    def bind(b, e):
        if over_cells is not None and len(e.args) == 1:
            dt = b._static_dtype(e.args[0])
            if dt.startswith(("map", "array")):
                # a dynamic ROW carried as a MAP (MLDB-2022's
                # row_dataset($input) rows) reduces its values like a
                # row's cells; an embedding value reduces its elements
                # (MLDB-953's horizontal_sum(normalize(...) - v))
                cells = b.bind(e.args[0])
                if dt.startswith("map"):
                    cells = F.map_values(cells)
                return over_cells(_non_null(cells))
        if e.args and isinstance(e.args[0], ast.RowLiteral):
            # horizontal_* take a ROW argument (doc ValueExpression.md
            # §Horizontal operations; MLDB-461/2111): expand the row's
            # cells — including {*}/{x*} wildcards — into the flat
            # value list. Rows are ordered containers sorted by COLUMN
            # NAME (MLDB-1554: horizontal_string_agg({who, what, how})
            # concatenates how, what, who), so the expansion name-sorts.
            vals = [c for _, c in sorted(b._row_literal_fields(e.args[0]), key=lambda kv: kv[0])]
            if not vals:
                # wildcard matched no columns (MLDB-461's
                # {superPatate*}): count 0, sum 0, the rest NULL
                return empty()
            rest = [b.bind(a) for a in e.args[1:]]
            return over_values(vals + rest, [None] * len(vals) + list(e.args[1:]))
        return over_values([b.bind(a) for a in e.args], e.args)

    return bind


def _horizontal_string_agg(args, raw):
    # horizontal_string_agg(<row>[, sep]): values coerced to string,
    # null cells skipped (concat_ws's native behavior); the
    # separator, when present, is a trailing literal
    if raw and isinstance(raw[-1], ast.Literal):
        sep, vals = str(raw[-1].value), args[:-1]
    else:
        sep, vals = ",", args
    return F.concat_ws(sep, *[a.cast("string") for a in vals])


def _total(arr: Column, cast: bool) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda a, x: a + (x.cast("double") if cast else x))


def _folds(fold):
    """(over_values, over_cells) of a fold over non-null values: NULL
    cells are absent in the reference's sparse rows — skip them rather
    than poisoning the fold; the cells of an embedding or a MAP are
    cast to double."""
    return lambda args, raw: fold(_non_null(F.array(*args)), False), lambda arr: fold(arr, True)


for _name, _horiz in {
    "horizontal_sum": _horizontal(*_folds(_total), lambda: F.lit(0.0)),
    "horizontal_count": _horizontal(
        *_folds(lambda arr, cast: F.size(arr).cast("long")), lambda: F.lit(0).cast("long")
    ),
    "horizontal_min": _horizontal(lambda args, raw: F.least(*args), F.array_min),
    "horizontal_max": _horizontal(lambda args, raw: F.greatest(*args), F.array_max),
    # try_divide: an all-NULL row has zero countable cells and must
    # yield NULL, not a division error
    "horizontal_avg": _horizontal(
        *_folds(lambda arr, cast: F.try_divide(_total(arr, cast), F.size(arr)))
    ),
    "horizontal_string_agg": _horizontal(
        _horizontal_string_agg, empty=lambda: F.lit("")
    ),
    # wide rows carry ONE timestamp, so every cell ties; the
    # deterministic tiebreak is column order (first non-null)
    "horizontal_earliest": _horizontal(lambda args, raw: F.coalesce(*args)),
    "horizontal_latest": _horizontal(lambda args, raw: F.coalesce(*reversed(args))),
}.items():
    _builtin(_name, (1, None))(_horiz)


# -- row-context builtins: they read the binder's relation -------------


@_builtin("rowname", 0, dtype="string", pure=False, spelling="rowName")
def _row_name(b, e):
    if b.row_name_col:
        return F.col(b.row_name_col)
    raise ValueError("rowName() needs a dataset with a rowName column")


_builtin("rowhash", 0, pure=False, spelling="rowHash")(
    lambda b, e: F.xxhash64(F.col(b.row_name_col) if b.row_name_col else F.lit(None))
)


def _side_row_name(side: str):
    """leftRowName()/rightRowName(): the top-level join side's row
    name (MLDB-1710)."""

    def bind(b, e):
        src = b.side_row_names.get(side)
        if src is None:
            raise ValueError(
                f"Function '{_spelled(e.name)}' is not available outside of a join"
            )
        return F.col(src)

    return bind


_builtin("leftrowname", 0, dtype="string", pure=False, spelling="leftRowName")(
    _side_row_name("__left")
)
_builtin("rightrowname", 0, dtype="string", pure=False, spelling="rightRowName")(
    _side_row_name("__right")
)


@_builtin(
    "rowpath", 0, dtype="array<string>", pure=False, spelling="rowPath",
    path=True,
)
def _row_path(b, e):
    # row path pseudo-functions (reference sql/sql_expression.cc
    # rowPath family): the stored rowName is the RENDERED path
    # (types/path.h quoting — dotted elements double-quoted, inner
    # quotes doubled; MLDB-1678), so the structured form comes from
    # the full parse, not a naive dot-split: NAMED 'msnbc.com' stores
    # '"msnbc.com"' and rowPath() yields the single element
    # 'msnbc.com'.
    if not b.row_name_col:
        raise ValueError(f"{e.name}() needs a dataset with a rowName column")
    return paths.parse_path(F.col(b.row_name_col).cast("string"))


_builtin("rowpathlength", 0, pure=False, spelling="rowPathLength")(
    lambda b, e: F.size(_row_path(b, e)).cast("long")
)


@_builtin("rowpathelement", pure=False, spelling="rowPathElement")
def _row_path_element(b, e):
    parts = _row_path(b, e)
    i = _literal_int(e.args[0])
    if i is None:
        raise ValueError("rowPathElement(n) needs a literal index")
    # out-of-range is NULL (MLDB-1636), never an ANSI index error
    return F.try_element_at(parts, F.lit(i + 1 if i >= 0 else i))


def _select_marker(marker: str):
    """rowNumber()/totalRows(): read the marker column the SELECT
    lowering adds for them."""

    def bind(b, e):
        if marker in b.colset:
            return F.col(marker).cast("long")
        raise ValueError(
            f"function {_spelled(e.name)} is only available in SELECT expressions."
        )

    return bind


_builtin("rownumber", 0, pure=False, spelling="rowNumber")(
    _select_marker("__rowNumber")
)
_builtin("totalrows", 0, pure=False, spelling="totalRows")(
    _select_marker("__totalRows")
)


# columns of the bound relation, minus engine-internal ones
_builtin("columncount", 0, pure=False, spelling="columnCount")(
    lambda b, e: F.lit(len([c for c in b.columns if not c.startswith("__")])).cast("long")
)


def _value_timestamp(b, e):
    # value_timestamp(x @ t) / value_timestamp(at(x, t)) is the stamp
    # itself; argument-less (or plain-column) forms read the row's
    # timestamp column
    if e.args:
        stamp = _restamp_ts(e.args[0])
        if stamp is not None:
            return b.bind(stamp).cast("timestamp")
    if not b.ts_col:
        raise ValueError(f"{e.name}() needs a dataset with a timestamp column")
    return F.col(b.ts_col)


_builtin("value_timestamp", (0, 1), pure=False)(_value_timestamp)
_builtin("latest_timestamp earliest_timestamp", (0, 1), dtype="timestamp", pure=False)(
    _value_timestamp
)


# distinct_timestamps(x) (builtin_functions.cc:1070-1120): all
# timestamps carried by the value. Wide rows carry one timestamp -> a
# one-element array; the full superposition form lives in
# operators.temporal.cell_timestamps / all_cells over the cells layout.
_builtin("distinct_timestamps", (0, 1), pure=False)(
    lambda b, e: F.array(_value_timestamp(b, e))
)


# at(x, ts): the value of x re-stamped at ts. Timestamps are row
# metadata in this engine, so the VALUE passes through; the stamp is
# observable via value_timestamp(...) and WHEN, which filter on the row
# ts.
_builtin("at", 2)(lambda b, e: b.bind(e.args[0]))
_builtin("now", 0, dtype="timestamp", pure=False)(lambda b, e: F.current_timestamp())
# reference static_type (introspection): the bound expression's
# runtime type name (Spark typeof)
_builtin("static_type")(lambda b, e: F.typeof(b.bind(e.args[0])))
# bind-time constant detection over the AST — pure literals and
# operator trees of literals are const
_builtin("__isconst")(lambda b, e: F.lit(1 if _is_const_expr(e.args[0]) else 0).cast("int"))


@_builtin("pyeval", (2, None), pure=False)
def _pyeval(b, e):
    # inline Python lambda — the documented jseval replacement
    # (builtin/js/js_function.cc:117-226 is the reference surface; the
    # extension language here is Python)
    from mldb_spark.functions.pyeval import pyeval_udf

    if not isinstance(e.args[0], ast.Literal) or not isinstance(e.args[1], ast.Literal):
        raise ValueError(
            "pyeval('expr', 'a,b', args… [, {type: …}]) needs "
            "literal expression and argument-name strings"
        )
    src = str(e.args[0].value)
    names = [s.strip() for s in str(e.args[1].value).split(",") if s.strip()]
    rest = e.args[2:]
    out_type = "number"
    if rest and isinstance(rest[-1], ast.RowLiteral):
        opts = {k.lower(): v for k, v in rest[-1].fields}
        t = opts.get("type")
        if isinstance(t, ast.Literal):
            out_type = str(t.value)
        rest = rest[:-1]
    return pyeval_udf(src, names, out_type)(*[b.bind(a) for a in rest])


@_builtin("st_contains_point", 3, spelling="ST_Contains_Point")
def _st_contains_point(b, e):
    # geo family (sql/builtin_geo_functions.cc:71-282): Polygon
    # coordinates are depth-3 arrays, MultiPolygon depth-4 — inferred
    # like the tensor functions
    nd = b._expr_ndim(e.args[0])
    return core.st_contains_point(
        b.bind(e.args[0]), b.bind(e.args[1]), b.bind(e.args[2]), multi=nd >= 4
    )


# -- tensor builtins (sql/builtin_functions.cc:2723-2977) ---------------


def _tensor_arg(b, e) -> tuple[Column, int, int | None]:
    """The first argument of a tensor builtin, bound, with its static
    nesting depth and, when known, its element count."""
    arg0 = e.args[0]
    if isinstance(arg0, ast.RowLiteral):
        # a row argument flattens to its leaf values in written order
        # (MLDB-1947's reshape({"0": 1, …}, [2, 2]))
        leaves = _row_literal_leaves(arg0)
        return F.array(*[b.bind(x) for x in leaves]), 1, len(leaves)
    nd = b._expr_ndim(arg0)
    if nd < 1:
        raise ValueError(
            f"{e.name}() requires an embedding argument (array-typed "
            f"column or [...] literal)"
        )
    size = _embedding_literal_size(arg0) if isinstance(arg0, ast.EmbeddingLiteral) else None
    return b.bind(arg0), nd, size


_builtin("flatten", dtype="array<double>")(
    lambda b, e: vector.tensor_flatten(*_tensor_arg(b, e)[:2])
)
_builtin("shape", dtype="array<bigint>")(lambda b, e: vector.tensor_shape(*_tensor_arg(b, e)[:2]))


@_builtin(
    "slice", 2,
    # the LAST dimension goes; a 1-d slice is an element
    dtype=lambda b, e: _array_dtype(b._expr_ndim(e.args[0]) - 1) if e.args else "",
)
def _slice(b, e):
    a, nd, _ = _tensor_arg(b, e)
    idx = _literal_int(e.args[1])
    if idx is None:
        raise ValueError("slice(val, index) needs a literal index")
    return vector.tensor_slice(a, idx, nd)


@_builtin(
    "reshape", (2, 3),
    dtype=lambda b, e: (
        _array_dtype(len(b._shape_literal(e.args[1]))) if len(e.args) >= 2 else ""
    ),
)
def _reshape(b, e):
    # reshape(val, shape[, newel])
    a, nd, size = _tensor_arg(b, e)
    shape = b._shape_literal(e.args[1])
    fill = b.bind(e.args[2]) if len(e.args) == 3 else None
    if fill is None and size is not None:
        import math

        if size != math.prod(shape):
            # the 2-arg form cannot change the element count
            # (builtin_functions.cc reshape; MLDB-1947 pins the
            # message)
            raise ValueError(
                "Attempt to change embedding size by reshaping: "
                f"{size} elements into shape {shape}"
            )
    return vector.tensor_reshape(a, shape, nd, fill)


# -- aggregates ---------------------------------------------------------


def _agg_row_cells(b, row: ast.RowLiteral) -> list[tuple[str, ast.Expr | None]]:
    """(name, expression) of each cell an aggregate of a row literal
    reduces; a wildcard's columns have no expression. Row/ts METADATA
    columns never match the {*} wildcard: sum({*}) sums the VALUE
    columns, not the row name (MLDBFB-332) — summing a string row name
    was a crash."""
    meta = {b.row_name_col, b.ts_col} - {None}
    cells: list[tuple[str, ast.Expr | None]] = []
    for fname, fexpr in row.fields:
        if fname != "*" and not isinstance(fexpr, ast.RowWildcard):
            cells.append((fname, fexpr))
            continue
        prefix, excl = ("", []) if fname == "*" else (fexpr.prefix, fexpr.excluding)
        excl_e = {x for x in excl if not x.endswith("*")}
        excl_p = [x[:-1] for x in excl if x.endswith("*")]
        cells += [
            (c, None)
            for c in b.columns
            if c not in meta
            and not _hidden_col(c)
            and c.startswith(prefix)
            and c not in excl_e
            and not any(c.startswith(p) for p in excl_p)
        ]
    return cells


def _row_agg(agg, one=None):
    """An aggregate of one argument that also takes a row: agg({*}) /
    agg({x, y}) expand to a struct of per-column aggregates at plan
    time (reference RegisterAggregator row path,
    sql/builtin_aggregators.cc:50-500; doc ValueExpression.md
    §Aggregates of rows). one(binder, arg) binds the plain form, by
    default agg of the bound argument."""

    def bind(b, e):
        arg = e.args[0]
        if not isinstance(arg, ast.RowLiteral):
            return one(b, arg) if one else agg(b.bind(arg))
        return F.struct(*[
            agg(F.col(f"`{n}`" if "." in n else n) if x is None else b.bind(x)).alias(n)
            for n, x in _agg_row_cells(b, arg)
        ])

    return bind


def _count_one(b, arg):
    if isinstance(arg, ast.Literal) and arg.value == "*":
        return F.count(F.lit(1))
    return F.count(b.bind(arg))


def _sum_one(b, arg):
    # sum over a bag-of-words MAP merges the bags with per-key
    # addition (the reference's `sum(tokenize(txt)) AS *` idiom,
    # MLDB-1322): collect the group's maps, fold with a JVM map-merge
    # lambda. Output stays a MAP (this engine's bag representation).
    if b._static_dtype(arg).startswith("map"):
        return _map_sum(b.bind(arg))
    return F.sum(b.bind(arg))


def _agg_of(fn):
    """An aggregate of its one bound argument."""
    return lambda b, e: fn(b.bind(e.args[0]))


def _by_timestamp(pick, what: str):
    """earliest/latest(x): x at the group's min/max timestamp."""

    def bind(b, e):
        if not b.ts_col:
            raise ValueError(f"{what}() needs a timestamp column")
        return pick(b.bind(e.args[0]), F.col(b.ts_col))

    return bind


# vertical_* are documented aliases of the standard column-wise
# aggregates (doc ValueExpression.md §Vertical, Horizontal and
# Temporal Aggregation); temporal_* over a flat observation table:
# each row is one timed observation, so the value-history aggregates
# ARE the group aggregates (the cells layout goes through
# operators.temporal)
for _names, _bind in {
    "count vertical_count": _row_agg(F.count, _count_one),
    "sum vertical_sum": _row_agg(F.sum, _sum_one),
    "avg vertical_avg": _row_agg(F.avg),
    "min vertical_min": _row_agg(F.min),
    "max vertical_max": _row_agg(F.max),
    "count_distinct": _agg_of(F.countDistinct),
    "variance vertical_variance": _agg_of(F.var_samp),
    "stddev vertical_stddev": _agg_of(F.stddev_samp),
    "earliest vertical_earliest temporal_earliest": _by_timestamp(F.min_by, "earliest"),
    "latest vertical_latest temporal_latest": _by_timestamp(F.max_by, "latest"),
    "temporal_count": _agg_of(F.count),
    "temporal_sum": _agg_of(F.sum),
    "temporal_avg": _agg_of(F.avg),
    "temporal_min": _agg_of(F.min),
    "temporal_max": _agg_of(F.max),
    # beyond the reference's surface: distribution stats every
    # corpus-quality pipeline needs (exact, sort-based — linear
    # interpolation between order statistics, matching DuckDB's
    # quantile_cont for oracle replay)
    "median": _agg_of(F.median),
}.items():
    _builtin(_names, aggregate=True)(_bind)


@_builtin("percentile", 2, aggregate=True)
def _percentile(b, e):
    if not isinstance(e.args[1], ast.Literal):
        raise ValueError("percentile(x, p) needs a literal p in [0,1]")
    return F.percentile(b.bind(e.args[0]), F.lit(float(e.args[1].value)))


@_builtin("string_agg", (1, 3), aggregate=True)
def _string_agg(b, e):
    sep = e.args[1].value if len(e.args) > 1 else ","  # type: ignore[union-attr]
    if len(e.args) > 2:
        # 3-arg form: concatenation ordered by the third expression
        # (MLDB-1554's string_agg(what, ', ', rowName()))
        pair = F.struct(
            b.bind(e.args[2]).alias("o"),
            b.bind(e.args[0]).alias("v"),
        )
        return F.concat_ws(
            str(sep),
            F.transform(F.array_sort(F.collect_list(pair)), lambda s: s["v"]),
        )
    return F.concat_ws(str(sep), F.array_sort(F.collect_list(b.bind(e.args[0]))))


@_builtin("pivot", 2, aggregate=True)
def _pivot(b, e):
    # pivot(col, value): the group's (col -> value) pairs as a MAP —
    # `AS *` spreads it to sparse columns (MLDB-1323's
    # `pivot(recipe_id, 1) as * GROUP BY user_id`); one collect_list
    # partial-agg, no extra shuffle. The reference's PivotAccum
    # (sql/builtin_aggregators.cc:950-997) keeps the LATEST cell for a
    # duplicated key (last-writer by timestamp); a MAP cannot hold
    # duplicates and Spark's default mapKeyDedupPolicy=EXCEPTION would
    # throw at execution. When the dataset carries a timestamp column,
    # sort the entries (key, ts, value) and keep the LAST entry per
    # key = the latest cell (ts ties break on max value, so the result
    # is independent of partition/collect order — VERDICT r5 "what's
    # wrong" #3). Without a timestamp the deterministic fallback
    # remains max-value-per-key.
    k = b.bind(e.args[0]).cast("string").alias("k")
    v = b.bind(e.args[1]).alias("v")
    stamped = bool(b.ts_col and b.ts_col in b.columns)
    ent = F.struct(k, F.col(b.ts_col).alias("t"), v) if stamped else F.struct(k, v)
    ents = F.array_sort(F.collect_list(ent))
    deduped = F.filter(
        ents,
        lambda x, i: ~F.exists(
            F.slice(ents, i + F.lit(2), F.size(ents)),
            lambda y: y["k"] == x["k"],
        ),
    )
    return F.map_from_entries(
        F.transform(deduped, lambda x: F.struct(x["k"].alias("k"), x["v"].alias("v")))
        if stamped
        else deduped
    )


def _restamp_ts(e: ast.Expr) -> ast.Expr | None:
    """The stamp expression of `x @ ts` / at(x, ts), else None."""
    if isinstance(e, ast.Binary) and e.op == "@":
        return e.right
    if isinstance(e, ast.FunctionCall) and e.name == "at" and len(e.args) == 2:
        return e.args[1]
    return None


def _row_literal_leaves(rl: ast.RowLiteral) -> list[ast.Expr]:
    """Leaf value expressions of a (possibly nested) row literal, in
    written order — the reference's row-to-embedding flattening
    (MLDB-1947's reshape over {"0": {"0": 1, "1": 2}, …})."""
    out: list[ast.Expr] = []
    for _, x in rl.fields:
        if isinstance(x, ast.RowLiteral):
            out.extend(_row_literal_leaves(x))
        else:
            out.append(x)
    return out


def _embedding_literal_size(e: ast.EmbeddingLiteral) -> int | None:
    """Total leaf count of a nested embedding literal; None when any
    item is not statically sized."""
    total = 0
    for x in e.items:
        if isinstance(x, ast.EmbeddingLiteral):
            n = _embedding_literal_size(x)
            if n is None:
                return None
            total += n
        else:
            total += 1
    return total


def _struct_field_names(dt: str) -> list[str]:
    """Top-level field names of a struct dtype string
    ('struct<1:int,a:struct<b:int>>' -> ['1', 'a']) — fromDDL rejects
    numeric field names, so split on depth-0 commas instead."""
    inner = dt[len("struct<"):-1]
    names: list[str] = []
    depth = 0
    start = 0
    for i, ch in enumerate(inner + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            field = inner[start:i]
            names.append(field.split(":", 1)[0].strip().strip("`"))
            start = i + 1
    return [n for n in names if n]


def _struct_fields_typed(dt: str) -> list[tuple[str, str]]:
    """Top-level (name, type) pairs of a struct dtype string."""
    inner = dt[len("struct<"):-1]
    out: list[tuple[str, str]] = []
    depth = 0
    start = 0
    for i, ch in enumerate(inner + ","):
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif ch == "," and depth == 0:
            fld = inner[start:i]
            if ":" in fld:
                n, t = fld.split(":", 1)
                out.append((n.strip().strip("`"), t.strip()))
            start = i + 1
    return out


def _flatten_pin_fields(bound, fdt: str, prefix: str = ""):
    """Flatten a ROW-valued function-input pin into (dotted name,
    Column) pairs — NESTED rows expand recursively (MLDB-1273's
    `cls({features: {{a,b,c,d} as row}})` trains/binds on features
    named row.a …). Struct-valued fields also surface as-is so
    struct-typed consumers keep working."""
    out = []
    for sub, t in _struct_fields_typed(fdt):
        name = f"{prefix}{sub}"
        col = bound.getField(sub)
        out.append((name, col))
        if t.startswith("struct<"):
            out.extend(_flatten_pin_fields(col, t, name + "."))
    return out


_NUM_DTYPES = (
    "int", "bigint", "smallint", "tinyint", "float", "double", "decimal",
    "boolean",
)
_CELL_KEY_T = "array<struct<k:string,vr:int,vn:double,vs:string>>"


def _cell_key(name: Column, val: Column, vtype: str) -> Column:
    """One row/bag cell → its comparison struct (k, value-rank,
    numeric key, string key) under the reference's CellValue ordering
    (numbers before strings)."""
    if vtype.startswith(_NUM_DTYPES):
        return F.struct(
            name.alias("k"), F.lit(1).alias("vr"),
            val.cast("double").alias("vn"),
            F.lit(None).cast("string").alias("vs"),
        )
    if vtype.startswith("string"):
        return F.struct(
            name.alias("k"), F.lit(2).alias("vr"),
            F.lit(None).cast("double").alias("vn"), val.alias("vs"),
        )
    return F.struct(
        name.alias("k"), F.lit(3).alias("vr"),
        F.lit(None).cast("double").alias("vn"),
        val.cast("string").alias("vs"),
    )


def _sortable_key(col: Column, dt: str) -> Column:
    """Encode a value as the reference's cross-type ORDER BY /
    comparison key (sql/expression_value.cc ordering; pinned by
    MLDB-989): NULL < numbers < strings < rows < embeddings. Rows
    (structs and tokenize-style maps) compare as their NAME-SORTED
    present-cell sequences — a missing column is skipped, never a
    null that sorts first (the A1 divergence this fixes) — and
    embeddings compare element-wise. Pure JVM struct/array ordering;
    no UDF."""
    null_n = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    null_e = F.lit(None).cast("array<double>")
    null_c = F.lit(None).cast(_CELL_KEY_T)

    def mk(r: int, n=None, s=None, e=None, c=None) -> Column:
        return F.struct(
            F.lit(r).alias("r"),
            (n if n is not None else null_n).alias("n"),
            (s if s is not None else null_s).alias("s"),
            (e if e is not None else null_e).alias("e"),
            (c if c is not None else null_c).alias("c"),
        )

    if dt.startswith("struct<"):
        cells = [
            F.when(
                col.getField(fname).isNotNull(),
                _cell_key(F.lit(fname), col.getField(fname), ftype),
            )
            for fname, ftype in _struct_fields_typed(dt)
        ]
        arr = F.sort_array(F.filter(F.array(*cells), lambda x: x.isNotNull()))
        key = mk(3, c=arr)
    elif dt.startswith("map<"):
        vtype = dt[len("map<"):-1].split(",", 1)[1].strip()
        arr = F.sort_array(
            F.transform(
                F.map_entries(col),
                lambda kv: _cell_key(
                    kv["key"].cast("string"), kv["value"], vtype
                ),
            )
        )
        key = mk(3, c=arr)
    elif dt.startswith("array"):
        key = mk(4, e=F.transform(col, lambda x: x.cast("double")))
    elif dt.startswith("string"):
        key = mk(2, s=col)
    else:
        key = mk(1, n=col.cast("double"))
    return F.when(col.isNull(), mk(0)).otherwise(key)


def _is_const_expr(e: ast.Expr) -> bool:
    """Static constness: literal trees (and operators over them) are
    const; anything touching a column, parameter or function is not.
    AND/OR short-circuit at bind time like the reference
    (sql_expression_operations.cc:1969-2030, pinned by MLDB-1935):
    AND with a constant-false or constant-NULL side is constant, OR
    with a constant-true or constant-NULL side is constant."""
    if isinstance(e, ast.Literal):
        return True
    if isinstance(e, ast.Unary):
        return _is_const_expr(e.operand)
    if isinstance(e, ast.Binary):
        if e.op in ("and", "or"):
            for side in (e.left, e.right):
                if not isinstance(side, ast.Literal):
                    continue
                v = side.value
                if v is None:
                    return True
                falsy = v is False or (
                    isinstance(v, (int, float)) and not isinstance(v, bool) and v == 0
                )
                truthy = v is True or (
                    isinstance(v, (int, float)) and not isinstance(v, bool) and v != 0
                )
                if e.op == "and" and falsy:
                    return True
                if e.op == "or" and truthy:
                    return True
        return _is_const_expr(e.left) and _is_const_expr(e.right)
    if isinstance(e, ast.EmbeddingLiteral):
        return all(_is_const_expr(x) for x in e.items)
    if isinstance(e, ast.RowLiteral):
        return all(_is_const_expr(x) for _, x in e.fields)
    if isinstance(e, ast.FunctionCall):
        # a PURE builtin of constant arguments is constant
        # (MLDB-1984: static_expression_info(pi()) isConstant = 1);
        # volatile / row-context functions never are
        entry = _BUILTINS.get(e.name)
        return entry is not None and entry.pure and all(_is_const_expr(a) for a in e.args)
    return False


def _literal_int(e: ast.Expr) -> int | None:
    """Literal integer, including the parsed Unary('-') negative form."""
    if isinstance(e, ast.Literal) and isinstance(e.value, (int, float)):
        return int(e.value)
    if (
        isinstance(e, ast.Unary)
        and e.op == "-"
        and isinstance(e.operand, ast.Literal)
        and isinstance(e.operand.value, (int, float))
    ):
        return -int(e.operand.value)
    return None


class Binder:
    """Expression binder for one input relation."""

    def __init__(
        self,
        columns: list[str],
        params: dict[str, object] | None = None,
        row_name_col: str | None = None,
        ts_col: str | None = None,
        dtypes: dict[str, str] | None = None,
        table_aliases: frozenset[str] | set[str] = frozenset(),
        side_row_names: dict[str, str] | None = None,
    ):
        self.columns = columns
        self.colset = set(columns)
        self.params = params or {}
        self.row_name_col = row_name_col
        self.ts_col = ts_col
        self.dtypes = dtypes or {}
        # table aliases in scope (FROM x AS a, join sides): `a.k`
        # resolves to column k (or to the collision-renamed column
        # `a.k` via the colset check, which runs first)
        self.table_aliases = set(table_aliases)
        # per-join-side row-name columns (alias -> physical column),
        # so x.rowName()/x.rowHash() bind in join scopes (MLDBFB-636)
        self.side_row_names = side_row_names or {}

    _NUMERIC_PREFIXES = (
        "int", "bigint", "smallint", "tinyint", "double", "float",
        "decimal", "long",
    )

    def _is_numeric_dtype(self, t: str) -> bool:
        if "interval" in t:  # 'interval…'.startswith('int') is a trap
            return False
        return any(t.startswith(p) for p in self._NUMERIC_PREFIXES)

    def _static_dtype(self, e: ast.Expr) -> str:
        """Best-effort static type of an expression — enough to drive
        the time-value coercion rules (timestamp/interval vs number);
        unknown shapes return ''."""
        if isinstance(e, ast.ColumnRef):
            return self.dtypes.get(self._resolve_name(e.name) or e.name, "")
        if isinstance(e, ast.Cast):
            return e.type_name
        if isinstance(e, ast.IntervalLiteral):
            return "interval" if e.months else "interval day to second"
        if isinstance(e, ast.Binary) and e.op in ("+", "-"):
            # interval +/- interval stays an interval (MLDB-1033's
            # negative-interval rendering)
            lt = self._static_dtype(e.left)
            rt = self._static_dtype(e.right)
            if lt.startswith("interval") and rt.startswith("interval"):
                return lt
        if isinstance(e, ast.Literal):
            if isinstance(e.value, bool):
                return "boolean"
            if isinstance(e.value, (int, float)):
                return "double"
            if isinstance(e.value, str):
                return "string"
            return ""
        if isinstance(e, ast.FunctionCall):
            entry = _BUILTINS.get(e.name)
            dt = entry.dtype if entry else ""
            return dt(self, e) if callable(dt) else dt
        if isinstance(e, ast.RowLiteral):
            fields = []
            meta = {self.row_name_col, self.ts_col} - {None}
            for n, x in e.fields:
                if isinstance(x, ast.RowWildcard) or (
                    n.endswith("*") and isinstance(x, ast.ColumnRef) and x.name == n
                ):
                    pref = x.prefix if isinstance(x, ast.RowWildcard) else n[:-1]
                    excl = x.excluding if isinstance(x, ast.RowWildcard) else []
                    excl_e = {v for v in excl if not v.endswith("*")}
                    excl_p = [v[:-1] for v in excl if v.endswith("*")]
                    for c in self.columns:
                        if (
                            c.startswith("__")
                            or c in meta
                            or not c.startswith(pref)
                            or c in excl_e
                            or any(c.startswith(p) for p in excl_p)
                        ):
                            continue
                        fields.append(f"{c}:{self.dtypes.get(c, 'double')}")
                    continue
                ft = self._static_dtype(x) or "double"
                fields.append(f"{n}:{ft}")
            return "struct<" + ",".join(fields) + ">"
        if isinstance(e, ast.EmbeddingLiteral):
            return "array<double>"
        if isinstance(e, ast.Binary) and e.op in ("+", "-", "*", "/"):
            lt, rt = self._static_dtype(e.left), self._static_dtype(e.right)
            if lt.startswith("array") or rt.startswith("array"):
                return "array<double>"
        if isinstance(e, ast.Unary) and e.op == "-":
            return self._static_dtype(e.operand)
        if isinstance(e, ast.Binary) and e.op in ("+", "-"):
            lt, rt = self._static_dtype(e.left), self._static_dtype(e.right)
            if lt.startswith("timestamp") and rt.startswith("timestamp"):
                return "interval"
            if lt.startswith("timestamp") or rt.startswith("timestamp"):
                return "timestamp"
            if "interval" in lt or "interval" in rt:
                return "interval"
        return ""

    def _is_stringy(self, e: ast.Expr) -> bool:
        """Static 'does this evaluate to a string' check, used to give
        `+` MLDB's string-concatenation behavior (CellValue + coerces;
        Spark's + is numeric-only)."""
        if isinstance(e, ast.Literal):
            return isinstance(e.value, str)
        if isinstance(e, ast.ColumnRef):
            return self.dtypes.get(self._resolve_name(e.name) or e.name) == "string"
        if isinstance(e, ast.Cast):
            return e.type_name == "string"
        if isinstance(e, ast.FunctionCall):
            return self._static_dtype(e) == "string"
        if isinstance(e, ast.Binary) and e.op == "+":
            return self._is_stringy(e.left) or self._is_stringy(e.right)
        if isinstance(e, ast.Case):
            return any(self._is_stringy(v) for _, v in e.branches)
        return False

    def _sort_kind(self, e: ast.Expr) -> str:
        """Coarse value-kind for the cross-type ordering decision:
        'row' (struct/map), 'emb', 'num', 'str', 'null', or ''."""
        if isinstance(e, ast.Literal) and e.value is None:
            return "null"
        dt = self._static_dtype(e)
        if dt.startswith(("struct<", "map<")):
            return "row"
        if dt.startswith("array"):
            return "emb"
        if dt.startswith("string"):
            return "str"
        if dt in ("double", "boolean") or dt.startswith(_NUM_DTYPES):
            return "num"
        return ""

    def _needs_sort_key(self, e: ast.Expr) -> bool:
        """True when ORDER BY / comparison must use the reference's
        cross-type key (MLDB-989): row/map values anywhere, or a CASE
        whose branches mix value kinds (Spark's CASE requires one
        type; the reference orders across types)."""
        if isinstance(e, ast.Case):
            results = [r for _, r in e.branches]
            if e.otherwise is not None:
                results.append(e.otherwise)
            kinds = {self._sort_kind(r) for r in results}
            kinds -= {"null", ""}
            return "row" in kinds or len(kinds) > 1
        return self._sort_kind(e) == "row"

    def bind_sortable(self, e: ast.Expr) -> Column:
        """Bind to the cross-type comparison key (see _sortable_key).
        CASE rebuilds branch-by-branch so each arm encodes with ITS
        static type before Spark ever tries to unify them."""
        if isinstance(e, ast.Case) and e.operand is None:
            out = None
            for cond, res in e.branches:
                c = self.bind(cond).cast("boolean")
                v = self.bind_sortable(res)
                out = F.when(c, v) if out is None else out.when(c, v)
            if out is None:
                return self.bind_sortable(e.otherwise)  # degenerate
            if e.otherwise is not None:
                return out.otherwise(self.bind_sortable(e.otherwise))
            return out.otherwise(
                _sortable_key(F.lit(None).cast("double"), "double")
            )
        if isinstance(e, ast.Literal) and e.value is None:
            return _sortable_key(F.lit(None).cast("double"), "double")
        dt = self._static_dtype(e) or "double"
        return _sortable_key(self.bind(e), dt)

    def bind(self, e: ast.Expr) -> Column:
        if isinstance(e, ast.Literal):
            return F.lit(e.value)
        if isinstance(e, ast.Param):
            if e.name not in self.params:
                raise ValueError(f"missing parameter ${e.name}")
            return F.lit(self.params[e.name])
        if isinstance(e, ast.ColumnRef):
            return self._column(e.name)
        if isinstance(e, ast.Unary):
            c = self.bind(e.operand)
            if e.op == "-":
                return -c
            if e.op == "NOT":
                return ~c.cast("boolean")
            if e.op == "~":
                return F.bitwise_not(c)
        if isinstance(e, ast.Binary):
            return self._binary(e)
        if isinstance(e, ast.IntervalLiteral):
            # day-time intervals when month-free (support arithmetic
            # and comparison); calendar intervals when months appear
            if e.months:
                return F.make_interval(
                    F.lit(0), F.lit(e.months), F.lit(0), F.lit(e.days),
                    F.lit(0), F.lit(0), F.lit(float(e.seconds)),
                )
            return F.make_dt_interval(
                F.lit(e.days), F.lit(0), F.lit(0), F.lit(float(e.seconds))
            )
        if isinstance(e, ast.IsTest):
            return self._is_test(e)
        if isinstance(e, ast.Between):
            c = self.bind(e.operand)
            out = c.between(self.bind(e.low), self.bind(e.high))
            return ~out if e.negated else out
        if isinstance(e, ast.InList) and _is_path_valued(e.operand):
            # rowPath() IN (...) — every list item coerces to a path
            # per the single-element rule (MLDB-1678: 'msnbc.com'
            # matches, '"msnbc.com"' does not; embeddings compare
            # element-wise as rendered strings, NULL follows 3VL)
            c = self.bind(e.operand)
            out = None
            for item in e.items:
                if isinstance(item, ast.Literal) and item.value is None:
                    eq = F.lit(None).cast("boolean")
                elif isinstance(item, ast.EmbeddingLiteral):
                    eq = c == F.transform(
                        self.bind(item), lambda x: x.cast("string")
                    )
                else:
                    eq = c == F.array(self.bind(item).cast("string"))
                out = eq if out is None else (out | eq)
            if out is None:
                out = F.lit(False)
            return ~out if e.negated else out
        if isinstance(e, ast.InList):
            c = self.bind(e.operand)
            # literals go through isin (one codegen'd IN); every other
            # item (params, column refs, computed exprs) is bound and
            # OR'd as an equality — silently dropping them would return
            # wrong rows with no error
            lits = [v.value for v in e.items if isinstance(v, ast.Literal)]
            out = c.isin(*lits) if lits else None
            for item in e.items:
                if not isinstance(item, ast.Literal):
                    rhs = self.bind(item)
                    if self._is_booly(item):
                        # the reference has no boolean atomic type —
                        # a truth-valued IN element compares as 1/0
                        # (MLDB-895's `2 IN (…, 1 IN (…), x < y, …)`)
                        rhs = rhs.cast("int")
                    eq = c == rhs
                    out = eq if out is None else (out | eq)
            if out is None:
                out = F.lit(False)
            return ~out if e.negated else out
        if isinstance(e, ast.InSelect):
            raise ValueError(
                "IN (SELECT …) is only supported in WHERE conjuncts"
            )
        if isinstance(e, ast.InKeysValues):
            src = self.bind(e.source)
            dt = self._static_dtype(e.source)
            if dt.startswith("struct<"):
                # row-valued source (MLDB-1563's
                # KEYS OF identity({input: {"1": 1}})[input]): field
                # names are the keys, statically known
                names = _struct_field_names(dt)
                if e.which == "keys":
                    arr = F.array(*[F.lit(n) for n in names])
                else:
                    arr = F.array(*[src.getField(n) for n in names])
            else:
                arr = F.map_keys(src) if e.which == "keys" else F.map_values(src)
            out = F.array_contains(arr, self.bind(e.operand))
            return ~out if e.negated else out
        if isinstance(e, ast.LikeOp):
            if not isinstance(e.pattern, ast.Literal):
                raise ValueError("LIKE pattern must be a literal")
            out = self.bind(e.operand).like(str(e.pattern.value))
            return ~out if e.negated else out
        if isinstance(e, ast.Case):
            return self._case(e)
        if isinstance(e, ast.Cast):
            if e.type_name == "path":
                # CAST (x AS path) (MLDB-1648): an embedding becomes
                # one path element per item (stringified); a string
                # becomes a SINGLE-element path (no dot splitting —
                # parse_path does that)
                c = self.bind(e.operand)
                if self._static_dtype(e.operand).startswith("array") or isinstance(
                    e.operand, ast.EmbeddingLiteral
                ):
                    return F.transform(c, lambda x: x.cast("string"))
                return F.array(c.cast("string"))
            if e.type_name not in _CAST_TYPES:
                raise ValueError(f"unknown cast type {e.type_name}")
            if e.type_name == "string" and self._static_dtype(
                e.operand
            ).startswith("interval day"):
                # the reference's interval rendering (MLDB-1033/1038:
                # "1H 16M 7.89S", "-0.1S", zero = "0S"): skip zero
                # components, no padding, fraction trimmed
                c = self.bind(e.operand)
                # Spark renders dt intervals as
                # INTERVAL '[-]D HH:MM:SS[.f]' DAY TO SECOND — parse
                # the components back out (casting to long truncates
                # fractional seconds)
                txt = c.cast("string")
                pat = r"INTERVAL '(-?)(\d+) (\d+):(\d+):(\d+(?:\.\d+)?)'"
                neg = F.regexp_extract(txt, pat, 1) == "-"
                days = F.regexp_extract(txt, pat, 2).cast("long")
                hours = F.regexp_extract(txt, pat, 3).cast("long")
                mins = F.regexp_extract(txt, pat, 4).cast("long")
                secs = F.regexp_extract(txt, pat, 5).cast("double")
                sec_txt = F.regexp_replace(
                    F.regexp_extract(txt, pat, 5), r"(\.\d*?)0+$", r"$1"
                )
                sec_txt = F.regexp_replace(sec_txt, r"\.$", "")
                sec_txt = F.regexp_replace(sec_txt, r"^0+(\d)", r"$1")
                parts = F.concat_ws(
                    " ",
                    F.when(days > 0, F.concat(days.cast("string"), F.lit("D"))),
                    F.when(hours > 0, F.concat(hours.cast("string"), F.lit("H"))),
                    F.when(mins > 0, F.concat(mins.cast("string"), F.lit("M"))),
                    F.when(
                        (secs > 0)
                        | ((days == 0) & (hours == 0) & (mins == 0)),
                        F.concat(sec_txt, F.lit("S")),
                    ),
                )
                return F.when(neg, F.concat(F.lit("-"), parts)).otherwise(parts)
            # reference semantics: failed casts yield NULL
            return self.bind(e.operand).try_cast(_CAST_TYPES[e.type_name])
        if isinstance(e, ast.EmbeddingLiteral):
            if not e.items:
                # MLDB-1567: `[]` is the null (empty) value, not an
                # empty array
                return F.lit(None)
            return F.array(*[self.bind(x) for x in e.items])
        if isinstance(e, ast.RowLiteral):
            return F.struct(
                *[c.alias(n) for n, c in self._row_literal_fields(e)]
            )
        if isinstance(e, ast.FunctionCall):
            return self._call(e)
        if isinstance(e, ast.Index):
            # output extraction: struct field, map key or array index —
            # Spark's ExtractValue resolves all three uniformly
            c = self.bind(e.operand)
            if isinstance(e.key, ast.Literal):
                key = e.key.value
                # numeric keys over a statically-known array are
                # 0-based element access, including the quoted form
                # split_part(x, ' ')["2"] (MLDB-2108)
                if self._static_dtype(e.operand).startswith("array") and (
                    isinstance(key, int)
                    or (isinstance(key, str) and key.lstrip("-").isdigit())
                ):
                    n = int(key)
                    return F.element_at(c, n + 1 if n >= 0 else n)
                return c.getItem(key)
            return c[self.bind(e.key)]
        raise ValueError(f"cannot bind {e!r}")

    def _row_literal_fields(self, rl: ast.RowLiteral) -> list[tuple[str, Column]]:
        """Bind a row literal's fields, expanding {*} / {x*} wildcard
        fields against the in-scope columns (MLDB-832 `{x*} as z`,
        MLDB-855 `{*} as y`); wildcard field names keep the full
        column name."""
        out: list[tuple[str, Column]] = []
        # row/timestamp METADATA columns never match a row-literal
        # wildcard — the reference's {*} spans real columns only, so
        # sum({*}) must not try to sum the row name (MLDBFB-332) and
        # feature rows must not carry the stamp
        meta = {self.row_name_col, self.ts_col} - {None}
        for n, x in rl.fields:
            if isinstance(x, ast.RowWildcard):
                # {* EXCLUDING (a, b*)} — wildcard field minus the
                # excluded names/prefixes (MLDB-945 features rows)
                excl_exact = {e for e in x.excluding if not e.endswith("*")}
                excl_pref = [e[:-1] for e in x.excluding if e.endswith("*")]
                for c in self.columns:
                    if _hidden_col(c) or c in meta or not c.startswith(x.prefix):
                        continue
                    if c in excl_exact or any(
                        c.startswith(p) for p in excl_pref
                    ):
                        continue
                    out.append((c, self._column(c)))
                continue
            if n.endswith("*") and isinstance(x, ast.ColumnRef) and x.name == n:
                pref = n[:-1]
                for c in self.columns:
                    if _hidden_col(c) or c in meta or not c.startswith(pref):
                        continue
                    out.append((c, self._column(c)))
                continue
            out.append((n, self.bind(x)))
        return out

    def _resolve_name(self, name: str) -> str | None:
        """Logical reference -> physical column name:
        1. exact (incl. the join layer's `alias.col` prefixed names);
        2. alias-qualified `a.k` -> bare k (single-table alias scope);
        3. unqualified k -> unique `alias.k` among in-scope aliases
           (the reference binds through subtable scopes the same way;
           two matches is an ambiguity error, joined_dataset.cc)."""
        if name in self.colset:
            return name
        if '"' in name:
            # quoted rendering from the parser: resolve structurally
            # (x."y.z" and "x.y".z stay distinct — VERDICT r5 #4)
            els = _parse_path_str(name)
            if len(els) == 1:
                el = els[0]
                if el in self.colset:
                    return el
                dcands = [
                    c
                    for a in sorted(self.table_aliases)
                    for c in {
                        _render_path_el(a) + "." + el,
                        _pjoin(a, el),
                    }
                    if c in self.colset
                ]
                if len(dcands) > 1:
                    raise ValueError(
                        f"ambiguous column {name!r}: matches {dcands}"
                    )
                return dcands[0] if dcands else None
            head, rest = els[0], els[1:]
            if head in self.table_aliases:
                if len(rest) == 1 and rest[0] in self.colset:
                    return rest[0]  # single-table alias scope
                raw_rest = ".".join(rest)
                if raw_rest in self.colset:
                    return raw_rest
                hp = _render_path_el(head) + "."
                for cand in (hp + raw_rest, _pjoin(head, *rest)):
                    if cand in self.colset:
                        return cand
            return None
        if "." in name:
            # try every alias as a dotted PREFIX, longest first —
            # aliases and columns may themselves contain dots
            # (MLDB-835's `"q.r"."a.b" FROM "x.y" AS "q.r"`)
            for a in sorted(self.table_aliases, key=len, reverse=True):
                if name.startswith(a + "."):
                    rest = name[len(a) + 1:]
                    if rest in self.colset:
                        return rest
                    # dotted-alias prefixes render quoted ("x.y".z)
                    rendered = _render_path_el(a) + "." + rest
                    if rendered in self.colset:
                        return rendered
            # unqualified reference to a dotted single-element column
            # under a join: matches its quoted rendering on a unique
            # side (`"y.z"` -> x."y.z")
            dcands = [
                _render_path_el(a) + "." + name
                for a in sorted(self.table_aliases)
                if _render_path_el(a) + "." + name in self.colset
            ]
            if len(dcands) > 1:
                raise ValueError(
                    f"ambiguous column {name!r}: matches {dcands}"
                )
            if dcands:
                return dcands[0]
            return None
        cands = [
            _render_path_el(a) + "." + name
            for a in sorted(self.table_aliases)
            if _render_path_el(a) + "." + name in self.colset
        ]
        if len(cands) > 1:
            raise ValueError(f"ambiguous column {name!r}: matches {cands}")
        return cands[0] if cands else None

    def _column(self, name: str) -> Column:
        phys = self._resolve_name(name)
        if phys is not None:
            # backticks: a physical name containing a dot (join
            # prefixes, quoted identifiers, merged open-schema data)
            # must not be parsed as struct-field access
            return F.col(f"`{phys}`") if "." in phys else F.col(phys)
        # qualified a.b where nothing resolved: struct-field access
        head = name.split(".", 1)[0]
        if head in self.colset and "." in name:
            col = F.col(head)
            for part in name.split(".")[1:]:
                col = col.getField(part)
            return col
        # a bare name that PREFIXES dotted columns reads the sub-row
        # (MLDB-2126's `select x` over columns x.a/x.b → row {a, b};
        # flattened-path columns ARE the structure, Datasets.md):
        # name-sorted fields, deeper nesting kept as dotted field
        # names for the wire flattening to expand
        kids = sorted(c for c in self.columns if c.startswith(name + "."))
        if kids:
            return F.struct(
                *[
                    (F.col(f"`{c}`") if "." in c else F.col(c)).alias(
                        c[len(name) + 1:]
                    )
                    for c in kids
                ]
            )
        # open schema: unknown columns are NULL (ValueExpression.md:24)
        return F.lit(None)

    def _is_booly(self, e: ast.Expr) -> bool:
        """Static 'does this evaluate to a boolean' check — the
        reference has no boolean atomic type (TypeSystem.md:17-18), so
        truth values participate in arithmetic as 1/0."""
        if isinstance(e, (ast.IsTest, ast.LikeOp, ast.Between, ast.InList)):
            return True
        if isinstance(e, ast.Unary) and e.op == "NOT":
            return True
        if isinstance(e, ast.Binary) and e.op in (
            "and", "or", "=", "!=", "<", ">", "<=", ">=",
        ):
            return True
        if isinstance(e, ast.Literal):
            return isinstance(e.value, bool)
        return self._static_dtype(e) == "boolean"

    def _binary(self, e: ast.Binary) -> Column:
        if e.op == "@":
            # re-stamping passes the value through (see at() in _call)
            return self.bind(e.left)
        if (
            e.op in ("=", "!=")
            and isinstance(e.left, ast.IntervalLiteral)
            and isinstance(e.right, ast.IntervalLiteral)
        ):
            # interval literals compare as the (months, days, seconds)
            # TRIPLE, not a normalized duration: the reference keeps
            # calendar components distinct, so 1 day != 24H and
            # 1 month != 30 days (MLDB-724; sql/interval.cc). Spark's
            # interval types either normalize days-to-hours or refuse
            # mixed year-month comparisons, so fold the literal case
            # at bind time.
            lt = (e.left.months, e.left.days, e.left.seconds)
            rt = (e.right.months, e.right.days, e.right.seconds)
            return F.lit((lt == rt) if e.op == "=" else (lt != rt))
        l, r = self.bind(e.left), self.bind(e.right)
        op = e.op
        if op in ("+", "-", "*", "/"):
            # embedding arithmetic is element-wise (MLDB-923:
            # [1,2,3] + [3,2,1] = [4,4,4]); array op scalar broadcasts
            la = self._static_dtype(e.left).startswith("array")
            ra = self._static_dtype(e.right).startswith("array")
            if la or ra:
                def ew(x: Column, y: Column) -> Column:
                    x, y = x.cast("double"), y.cast("double")
                    if op == "+":
                        return x + y
                    if op == "-":
                        return x - y
                    if op == "*":
                        return x * y
                    return F.try_divide(x, y)

                if la and ra:
                    return F.zip_with(l, r, ew)
                if la:
                    return F.transform(l, lambda x: ew(x, r))
                return F.transform(r, lambda y: ew(l, y))
        if op in ("+", "-", "*", "/", "%"):
            # booleans coerce to 1/0 under arithmetic (MLDB-1736's
            # `x + (5 IS NOT NULL)` = 6)
            if self._is_booly(e.left):
                l = l.cast("int")
            if self._is_booly(e.right):
                r = r.cast("int")
        if op in ("+", "-"):
            # time-value rules (ValueExpression.md §Operators on time
            # values): a bare Number combined with a Timestamp or
            # Interval implicitly represents DAYS
            lt, rt = self._static_dtype(e.left), self._static_dtype(e.right)
            timy_l = lt.startswith("timestamp") or "interval" in lt
            timy_r = rt.startswith("timestamp") or "interval" in rt
            if timy_l and self._is_numeric_dtype(rt):
                return (l + _days_interval(r)) if op == "+" else (l - _days_interval(r))
            if timy_r and self._is_numeric_dtype(lt) and op == "+":
                return r + _days_interval(l)  # + commutes (doc ibid.)
        if op == "and":
            return l.cast("boolean") & r.cast("boolean")
        if op == "or":
            return l.cast("boolean") | r.cast("boolean")
        if op == "+":
            if self._is_stringy(e.left) or self._is_stringy(e.right):
                return F.concat(l.cast("string"), r.cast("string"))
            return l + r
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            # reference semantics are C++ doubles (TypeSystem.md keeps
            # inf/nan): x/0 = +-inf, 0/0 = nan. Spark's ANSI divide
            # throws on /0 — even at constant-folding time — so route
            # through try_divide (folds safely to NULL) and rewrite
            # the NULL-on-zero case to the IEEE result.
            safe = F.try_divide(l.cast("double"), r.cast("double"))
            return F.when(
                r.cast("double") == 0.0,
                F.when(l.cast("double") > 0, F.lit(float("inf")))
                .when(l.cast("double") < 0, F.lit(float("-inf")))
                .when(l.cast("double") == 0, F.lit(float("nan")))
                .otherwise(F.lit(None).cast("double")),
            ).otherwise(safe)
        if op == "%":
            return l % r
        if op in ("=", "!=", "<", "<=", ">", ">=") and (
            self._needs_sort_key(e.left) or self._needs_sort_key(e.right)
        ):
            # row/bag-valued comparison (MLDB-989's tokenize-bag
            # compares): both sides encode to the cross-type key so
            # sparse rows compare as name-sorted present-cell
            # sequences, never Spark's nulls-first struct ordering
            l = self.bind_sortable(e.left)
            r = self.bind_sortable(e.right)
            return {
                "=": l == r, "!=": l != r, "<": l < r,
                "<=": l <= r, ">": l > r, ">=": l >= r,
            }[op]
        if op in ("=", "!=") and (
            _is_path_valued(e.left) != _is_path_valued(e.right)
        ):
            # Path vs atom (MLDB-1678): a string/number coerces to a
            # ONE-element path — cell_value.cc:765 coerceToPath builds
            # a single PathElement from the string, it does NOT parse —
            # so rowPath() = 'msnbc.com' matches the row NAMED
            # 'msnbc.com' while rowName() = 'msnbc.com' does not (the
            # rendered name is '"msnbc.com"').
            if _is_path_valued(e.left):
                r = F.array(r.cast("string"))
            else:
                l = F.array(l.cast("string"))
        if op == "=":
            return l == r
        if op == "!=":
            return l != r
        if op == "<":
            return l < r
        if op == ">":
            return l > r
        if op == "<=":
            return l <= r
        if op == ">=":
            return l >= r
        if op == "||":
            # ANSI/reference string concatenation
            return F.concat(l.cast("string"), r.cast("string"))
        if op == "&":
            return l.bitwiseAND(r)
        if op == "|":
            return l.bitwiseOR(r)
        if op == "^":
            return l.bitwiseXOR(r)
        raise ValueError(f"unknown operator {op}")

    def _is_test(self, e: ast.IsTest) -> Column:
        c = self.bind(e.operand)
        if e.kind == "NULL":
            out = c.isNull()
        elif e.kind == "TRUE":
            # null-safe: IS tests never return NULL (NULL IS TRUE is
            # false, NULL IS NOT TRUE is true — 3VL IS semantics)
            out = c.cast("boolean").eqNullSafe(F.lit(True))
        elif e.kind == "FALSE":
            out = c.cast("boolean").eqNullSafe(F.lit(False))
        else:
            # dynamic type tests need runtime type info; on a typed
            # DataFrame they resolve statically via try_cast probes
            if e.kind == "INTERVAL":
                # static: only interval-typed expressions are
                # intervals on a typed DataFrame
                out = F.lit("interval" in self._static_dtype(e.operand)) & c.isNotNull()
            else:
                probe = {
                    "STRING": c.try_cast("double").isNull() & c.isNotNull(),
                    "NUMBER": c.try_cast("double").isNotNull(),
                    "INTEGER": c.try_cast("long").isNotNull(),
                    "TIMESTAMP": c.try_cast("timestamp").isNotNull(),
                }[e.kind]
                out = probe
        return ~out if e.negated else out

    def _case(self, e: ast.Case) -> Column:
        # row-valued branches with different field sets unify to the
        # UNION of fields, absent ones NULL — the reference's
        # `CASE … THEN {z:5, y:8} ELSE {} END` (MLDB-1734); Spark's
        # casewhen needs one struct type
        row_vals = [
            v
            for v in [val for _, val in e.branches]
            + ([e.otherwise] if e.otherwise is not None else [])
            if isinstance(v, ast.RowLiteral)
        ]
        if row_vals:
            all_fields: list[str] = []
            for rl in row_vals:
                for n, _x in rl.fields:
                    if n not in all_fields:
                        all_fields.append(n)
            all_fields.sort()

            def unify(v: ast.Expr) -> ast.Expr:
                if not isinstance(v, ast.RowLiteral):
                    return v
                have = dict(v.fields)
                return ast.RowLiteral(
                    [
                        (n, have.get(n, ast.Literal(None)))
                        for n in all_fields
                    ]
                )

            e = ast.Case(
                e.operand,
                [(c, unify(v)) for c, v in e.branches],
                unify(e.otherwise) if e.otherwise is not None else None,
            )
        col = None
        for cond, val in e.branches:
            if e.operand is not None:
                op = self.bind(e.operand)
                if self._is_booly(e.operand):
                    # truth values participate as 1/0 (MLDB-1734's
                    # `CASE x = 1 WHEN 1 THEN …`)
                    op = op.cast("boolean").cast("int")
                test = op == self.bind(cond)
            else:
                test = self.bind(cond).cast("boolean")
            col = F.when(test, self.bind(val)) if col is None else col.when(test, self.bind(val))
        if col is None:
            raise ValueError("CASE needs at least one WHEN")
        return col.otherwise(self.bind(e.otherwise)) if e.otherwise is not None else col

    def _call(self, e: ast.FunctionCall) -> Column:
        name = e.name
        # table-qualified pseudo functions in join scopes:
        # x.rowName() / x.rowHash() read that side's row name
        # (MLDBFB-636's join ON x.rowHash() = y.rowHash())
        if "." in name:
            q, tail = name.rsplit(".", 1)
            if tail in ("rowname", "rowhash") and q in self.side_row_names:
                src = self.side_row_names[q]
                col = F.col(f"`{src}`" if "." in src else src)
                return col if tail == "rowname" else F.xxhash64(col)
        entry = _BUILTINS.get(name)
        # function names are case-sensitive in the reference
        # (MLDB-957: POWER() is unknown): accept the registered
        # spelling and, leniently, the all-lowercase form
        if entry is None or e.raw not in (None, name, entry.spelling):
            raise ValueError(f"Unable to find function {e.raw or name!r}")
        lo, hi = entry.arity
        n = len(e.args)
        if n < lo or (hi is not None and n > hi):
            want = str(lo) if lo == hi else f"at least {lo}" if hi is None else f"{lo}-{hi}"
            # a wrong count is an error, never a silently dropped
            # argument; the reference words its aggregators' check
            # differently (MLDB-1792)
            where = (
                f"function {name}" if entry.aggregate
                else f"Binding builtin function {entry.spelling or name}:"
            )
            raise ValueError(
                f"{where} expected {want} argument{'' if want == '1' else 's'}, got {n}"
            )
        return entry.bind(self, e)

    def _expr_ndim(self, e: ast.Expr) -> int:
        """Static embedding nesting depth of an expression (tensor
        functions need it: Spark array ops are depth-typed while the
        reference's EmbeddingValueInfo carries shape at bind time —
        sql/expression_value.h:1801-1850)."""
        if isinstance(e, ast.ColumnRef):
            return vector.ndim_of_dtype(
                self.dtypes.get(self._resolve_name(e.name) or e.name, "")
            )
        if isinstance(e, ast.EmbeddingLiteral):
            return 1 + (self._expr_ndim(e.items[0]) if e.items else 0)
        if isinstance(e, ast.FunctionCall):
            dt = self._static_dtype(e)
            return vector.ndim_of_dtype(dt) if dt.startswith("array") else 0
        return 0

    def _shape_literal(self, e: ast.Expr) -> list[int]:
        """A reshape() shape argument must be a literal embedding of
        positive ints — the output Spark type depends on it, so it is
        a bind-time constant (the reference also special-cases the
        const shape path, builtin_functions.cc:2780)."""
        if isinstance(e, ast.EmbeddingLiteral):
            dims = [_literal_int(x) for x in e.items]
            if all(d is not None and d > 0 for d in dims):
                return [int(d) for d in dims]  # type: ignore[arg-type]
        raise ValueError("reshape() needs a literal [d0, d1, ...] shape")


class _ColumnMetaBinder(Binder):
    """Binder for COLUMN EXPR clause expressions: the column-context
    builtins (SelectExpression.md:83-101) resolve against the
    column_stats metadata relation (columnName, rowCount, ...)."""

    def __init__(self, columns: list[str], params: dict | None = None):
        super().__init__(columns, params)

    def _call(self, e: ast.FunctionCall) -> Column:
        n = e.name
        if n in ("columnname", "columnpath"):
            return F.col("columnName")
        if n == "rowcount":
            # the number of rows in which this column HAS a value
            # (SelectExpression.md; MLDB-1172 filters a sparse column
            # with rowCount() > 1) — not the table's row total
            return F.col("n_nonnull")
        if n == "columnpathlength":
            return F.size(F.split(F.col("columnName"), r"\."))
        if n == "columnpathelement":
            i = _literal_int(e.args[0]) if e.args else None
            if i is None:
                raise ValueError("columnPathElement needs a literal index")
            parts = F.split(F.col("columnName"), r"\.")
            # element_at is 1-based; negative indexes count from the
            # end; out-of-range yields NULL (the reference's semantics
            # — MLDB-1779 filters 1-element paths with element 1)
            return F.try_element_at(parts, F.lit(i + 1 if i >= 0 else i))
        return super()._call(e)


class _ColumnValueBinder(Binder):
    """Binder for the per-column transform inside COLUMN EXPR
    (SELECT f(value())): value() is the current column, columnName()
    its name as a literal."""

    def __init__(
        self, self_columns: str, params: dict | None = None, ref: str | None = None
    ):
        super().__init__([self_columns], params)
        self._colname = self_columns
        # ref: field-access expression against the ORIGINAL frame (e.g.
        # `a`.`b` for a struct leaf); defaults to the quoted name
        self._ref = ref or (
            f"`{self_columns}`" if "." in self_columns else self_columns
        )

    def _call(self, e: ast.FunctionCall) -> Column:
        if e.name == "value":
            return F.col(self._ref)
        if e.name in ("columnname", "columnpath"):
            return F.lit(self._colname)
        return super()._call(e)


def _column_expr_stat_needs(item: "ast.ColumnExprItem") -> "tuple[bool, bool]":
    """(need_counts, need_distinct) for a COLUMN EXPR item: which
    column_stats data aggregates its clause expressions (WHERE /
    ORDER BY / AS) actually reference. rowCount() and the raw
    n_nonnull/rowCount stats columns need the per-column counts;
    n_distinct_approx needs the per-column HLL sketches; name/type
    metadata (columnName(), columnPathLength(), dtype, ...) needs no
    data pass at all. Generic dataclass walk so every expression
    node — including ones added later — is covered conservatively."""
    import dataclasses

    needs = {"counts": False, "distinct": False}

    def walk(node):
        if isinstance(node, ast.FunctionCall) and node.name == "rowcount":
            needs["counts"] = True
        if isinstance(node, ast.ColumnRef):
            nm = node.name.lower()
            if nm in ("rowcount", "n_nonnull"):
                needs["counts"] = True
            elif nm == "n_distinct_approx":
                needs["distinct"] = True
        if dataclasses.is_dataclass(node) and not isinstance(node, type):
            for f in dataclasses.fields(node):
                walk(getattr(node, f.name))
        elif isinstance(node, (list, tuple)):
            for x in node:
                walk(x)

    for e in (
        ([item.where] if item.where is not None else [])
        + [o.expr for o in item.order_by]
        + ([item.as_expr] if item.as_expr is not None else [])
    ):
        walk(e)
    return needs["counts"], needs["distinct"]


def _contains_aggregate(e: ast.Expr) -> bool:
    if isinstance(e, ast.FunctionCall):
        if _is_aggregate(e):
            return True
        return any(_contains_aggregate(a) for a in e.args)
    if isinstance(e, ast.Unary):
        return _contains_aggregate(e.operand)
    if isinstance(e, ast.Binary):
        return _contains_aggregate(e.left) or _contains_aggregate(e.right)
    if isinstance(e, ast.Case):
        return any(
            _contains_aggregate(x)
            for pair in e.branches
            for x in pair
        ) or (e.otherwise is not None and _contains_aggregate(e.otherwise))
    if isinstance(e, ast.Cast):
        return _contains_aggregate(e.operand)
    if isinstance(e, (ast.Between,)):
        return any(map(_contains_aggregate, (e.operand, e.low, e.high)))
    return False


def _conjuncts(e: ast.Expr) -> list[ast.Expr]:
    """AND-split a predicate (reference AnnotatedJoinCondition's
    clause decomposition, sql/join_utils.h:61-68, applied to WHERE)."""
    if isinstance(e, ast.Binary) and e.op == "and":
        return _conjuncts(e.left) + _conjuncts(e.right)
    return [e]


def _map_sum(m: Column) -> Column:
    """Aggregate: merge MAP<string, number> values with per-key
    addition. collect_list gathers the group's maps (bounded by the
    group's vocab — the same bound the reference's sparse-row
    aggregation carries), the fold is pure JVM higher-order
    functions."""

    def merge(acc: Column, mm: Column) -> Column:
        ks = F.array_distinct(F.concat(F.map_keys(acc), F.map_keys(mm)))
        return F.map_from_arrays(
            ks,
            F.transform(
                ks,
                lambda k: F.coalesce(F.element_at(acc, k), F.lit(0).cast("long"))
                + F.coalesce(F.element_at(mm, k), F.lit(0).cast("long")),
            ),
        )

    return F.aggregate(
        F.collect_list(m),
        F.create_map().cast("map<string,bigint>"),
        merge,
    )


def _days_interval(col: Column) -> Column:
    """Number -> day-time interval at the reference's
    numbers-are-days rule (ValueExpression.md §Operators on time
    values); fractional days carry through as seconds."""
    return F.make_dt_interval(
        F.lit(0), F.lit(0), F.lit(0), col.cast("double") * F.lit(86400.0)
    )


def _call_fn(fn, df: DataFrame, call_params: "dict[str, object]"):
    """Apply a registered function entity, forwarding the call's
    literal argument fields as $params when the entity accepts them
    (sql.query functions — MLDB-1319's poil3({n: 1}))."""
    if call_params:
        try:
            return fn(df, params=call_params)
        except TypeError:
            pass
    return fn(df)


def _render_named(col: Column, e: ast.Expr, dtype: str = "") -> Column:
    """NAMED value → stored rowName string via the path rendering rule
    (reference types/path.h; MLDB-1678): a STRING value coerces to a
    SINGLE path element (cell_value.cc:765 — no parse), so
    NAMED 'msnbc.com' stores '"msnbc.com"'; a structured path value
    (rowPath() family) renders element-by-element through the same
    quoting rule."""
    from mldb_spark.functions.paths import stringify_path

    if (
        _is_path_valued(e)
        or isinstance(e, ast.EmbeddingLiteral)
        or dtype.startswith("array")
    ):
        # a path VALUE (rowPath()) or an embedding literal names the
        # row with one element per item — NAMED ['hello', 'world']
        # renders 'hello.world' (MLDB-1810), never a single string
        return stringify_path(F.transform(col, lambda x: x.cast("string")))
    return stringify_path(F.array(col.cast("string")))


def _is_path_valued(e: ast.Expr) -> bool:
    """True when the expression statically produces a structured PATH
    value (an element array) rather than a rendered string — the
    rowPath()/flatten_path/unflatten_path family (MLDB-1678). Drives
    the path-vs-atom comparison coercion."""
    entry = _BUILTINS.get(e.name) if isinstance(e, ast.FunctionCall) else None
    return entry is not None and entry.path


def _render_path_el(el: str) -> str:
    """One path element → its rendered form (reference types/path.h
    quoting: an element containing '.' or '"' renders double-quoted
    with inner quotes doubled). Join output names route through this
    so table `x` column `y.z` (renders `x."y.z"`) stays distinct
    from table `x.y` column `z` (renders `"x.y".z`) — the structured-
    path divergence VERDICT r5 #4."""
    if "." in el or '"' in el:
        return '"' + el.replace('"', '""') + '"'
    return el


_RESERVED_HIDDEN = re.compile(
    r"^__(rowName|cellsRow|whenRow|whenValueTs|line|rn\b|grn|"
    r"joinRowName|leftRowName|rightRowName|rowNumber|totalRows|"
    r"fnout__|shadow__|features_pin|feat\d+|"
    r"ord(agg)?\d+|g\d+|spread\d+|whenAgg\d+|hid\d+|v\d+|"
    r"tr\d+_|tc\d+_)"
)


def _hidden_col(c: str) -> bool:
    """Engine-internal pseudo columns never match wildcards: the
    engine's RESERVED names (join row names, hidden sort projections)
    and join-side-prefixed internals like `t1.__cellsRow` (a cells
    dataset's row-name column carried through a join for rowName()
    synthesis — MLDB-801's `select *` must not surface it). Only
    reserved names hide: a legitimate user column like `a.__x` is
    legal in the reference's open path scheme and must survive
    wildcards (ADVICE r8)."""
    leaf = c.rsplit(".", 1)[-1]
    return bool(_RESERVED_HIDDEN.match(c)) or bool(_RESERVED_HIDDEN.match(leaf))


def _pjoin(*els: str) -> str:
    """Render a path from raw elements with the quoting rule."""
    return ".".join(_render_path_el(e) for e in els)


def _parse_path_str(name: str) -> list[str]:
    """Rendered dotted path → raw elements (inverse of _pjoin):
    double-quoted elements may contain dots; inner quotes double."""
    els: list[str] = []
    i, n = 0, len(name)
    while i < n:
        if name[i] == '"':
            j = i + 1
            buf: list[str] = []
            while j < n:
                if name[j] == '"':
                    if j + 1 < n and name[j + 1] == '"':
                        buf.append('"')
                        j += 2
                        continue
                    break
                buf.append(name[j])
                j += 1
            els.append("".join(buf))
            i = j + 2  # past closing quote and the following dot
        else:
            j = name.find(".", i)
            if j == -1:
                els.append(name[i:])
                break
            els.append(name[i:j])
            i = j + 1
    return els


def _substitute(e: ast.Expr, mapping: list[tuple[ast.Expr, str]]) -> ast.Expr:
    """Replace any subtree equal to a mapped expression with a
    ColumnRef to its output name (dataclass equality = structural).
    Rides the reflection rewriter so EVERY node type recurses
    (MLDB-1563 nests the target inside IN (KEYS OF …))."""

    def fn(node: ast.Expr) -> ast.Expr | None:
        for target, name in mapping:
            if node == target:
                return ast.ColumnRef(name)
        return None

    return _rewrite(e, fn)


def _rewrite(e: ast.Expr, fn) -> ast.Expr:
    """Generic expr->expr rewriter: fn(node) returns a replacement or
    None to recurse. Works over every dataclass AST node by field
    reflection (lists and (cond, val) tuples included)."""
    import dataclasses

    rep = fn(e)
    if rep is not None:
        return rep
    if not dataclasses.is_dataclass(e):
        return e

    def rec(v):
        if isinstance(v, ast.Expr):
            return _rewrite(v, fn)
        if isinstance(v, list):
            return [rec(x) for x in v]
        if isinstance(v, tuple):
            return tuple(rec(x) for x in v)
        return v

    changes = {}
    for f in dataclasses.fields(e):
        old = getattr(e, f.name)
        new = rec(old)
        if new is not old:
            changes[f.name] = new
    return dataclasses.replace(e, **changes) if changes else e


def _walk(e: ast.Expr):
    """Yield every node of an expression tree (pre-order). Field
    reflection covers EVERY dataclass node type — hand-listing
    children missed InKeysValues/InSelect/Cast/LikeOp subtrees
    (MLDB-1563 nests a function call inside IN (KEYS OF …))."""
    import dataclasses

    yield e
    if not dataclasses.is_dataclass(e):
        return

    def rec(v):
        if isinstance(v, ast.Expr):
            yield from _walk(v)
        elif isinstance(v, (list, tuple)):
            for x in v:
                yield from rec(x)

    for f in dataclasses.fields(e):
        yield from rec(getattr(e, f.name))


def _expr_name(e: ast.Expr, idx: int) -> str:
    if isinstance(e, ast.ColumnRef):
        return e.name
    if isinstance(e, ast.FunctionCall) and e.args and isinstance(e.args[0], ast.ColumnRef):
        return f"{e.name}({e.args[0].name})"
    if isinstance(e, ast.FunctionCall):
        return f"{e.name}()"
    return f"_{idx}"


def _item_name(it: ast.ExprItem, idx: int) -> str:
    """Output column name of a select item: explicit alias, else the
    bare column name, else the expression's SURFACE spelling — the
    reference names unnamed outputs by their source text (MLDB-195's
    `select 2.2 * Weight` -> column "2.2 * Weight")."""
    if it.alias:
        return it.alias
    if isinstance(it.expr, ast.ColumnRef):
        return it.expr.name
    if getattr(it, "surface", None):
        return it.surface  # type: ignore[return-value]
    return _expr_name(it.expr, idx)


class MldbContext:
    """The one catalog of datasets and function entities, read by SQL,
    api.Mldb and the REST façade alike, and the query entry point over
    it (the reference's dataset/function collections and /v1/query).
    A function name resolves here first, case-insensitively, then in
    ml.registry.GLOBAL_REGISTRY, where ml procedures put their models."""

    # name prefix of the merged cells views the context registers itself
    _MERGED_CELLS = "__merged_cells__"

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._datasets: dict[str, DataFrame] = {}
        self._meta: dict[str, dict[str, str | None]] = {}
        self._functions: dict[str, tuple[str, object]] = {}
        self._cells: dict[str, dict[str, object]] = {}

    def register(
        self,
        name: str,
        df: "DataFrame | object",
        row_name_col: str | None = None,
        ts_col: str | None = None,
    ) -> None:
        """Register a dataset. `df` may be a DataFrame or a zero-arg
        CALLABLE returning one (optimization r9): a context that
        registers a whole catalog eagerly pays one spark.read +
        schema-normalization round-trip per table (~0.1s each) even
        for queries touching one table — a lazy provider defers that
        to first reference and unreferenced tables cost nothing.
        Replaces any earlier entry of `name` whole."""
        self._forget_cells(name)
        self._meta[name] = {"rowName": row_name_col, "ts": ts_col}
        self._datasets[name] = df

    def _forget_cells(self, name: str) -> None:
        """Drop `name`'s cells table and every merged view over it."""
        for n, info in list(self._cells.items()):
            if n == name or name in info.get("members", ()):  # type: ignore[operator]
                self._cells.pop(n, None)

    def drop(self, name: str) -> None:
        self._forget_cells(name)
        self._meta.pop(name, None)
        self._datasets.pop(name, None)

    def dataset_names(self) -> list[str]:
        names = list(self._datasets)  # one atomic copy: REST threads register
        return sorted(n for n in names if not n.startswith(self._MERGED_CELLS))

    def _resolve(self, name: str) -> DataFrame:
        """Materialize a lazily-registered dataset provider (at most
        once; the resolved DataFrame replaces the thunk)."""
        v = self._datasets[name]
        if callable(v) and not isinstance(v, DataFrame):
            v = v()
            self._datasets[name] = v
        return v

    def register_cells(
        self,
        name: str,
        cells: DataFrame,
        row_col: str = "row",
        column_col: str = "column",
        value_col: str = "value",
        ts_col: str = "ts",
        numeric_columns: "set[str] | None" = None,
    ) -> None:
        """Register a TEMPORAL dataset from the cell layout (row,
        column, value, ts) — the sparse.mutable / beh shape where a
        cell may hold several timestamped values.

        SQL semantics over a cells dataset mirror the reference
        (MLDB-1235-temporal-aggregators.py; core/bound_queries.cc:385,
        394): plain column references and WHERE read each cell at
        GET_LATEST (the wide arg-max view this method registers), and
        the temporal_* family reduces over the cell's full
        superposition per ROW — rewritten in `_statement` to
        per-(row,column) aggregations over the raw cells joined back
        to the latest view.

        Scale shape: the wide view is one partial-agg shuffle (max_by
        per (row, column), conditional-agg pivot on row); the distinct
        column list is collected once with the AS-* spread cap. A
        committed sparse.mutable dataset's cells frame is a driver-side
        LocalRelation (session.local_frame), so both run in the JVM.
        """
        from mldb_spark.operators.temporal import latest_cells

        # null = row-existence marker (MLDB-618)
        named = cells.select(column_col).where(F.col(column_col).isNotNull())
        cols = local_rows(named.distinct(), self._SPREAD_KEY_CAP, "cells columns")
        if cols is None:
            raise ValueError(
                f"cells dataset has more than {self._SPREAD_KEY_CAP} "
                "distinct columns; query it through all_cells()/"
                "operators.temporal instead"
            )
        cols = sorted(cols.column(0).to_pylist())
        latest = latest_cells(cells, row_col, column_col, value_col, ts_col)
        if cols:
            # numeric_columns: per-COLUMN typing for MIXED datasets
            # (MLDB-102: one string cell must not flip every other
            # column to strings) — the recording buffer knows which
            # columns are all-numeric, so those cast back to double
            # in the wide view while the value column stays string
            nset = numeric_columns or set()
            wide = latest.groupBy(F.col(row_col).alias("__cellsRow")).agg(
                *[
                    (
                        F.max(
                            F.when(F.col(column_col) == c, F.col(value_col))
                        ).cast("double")
                        if c in nset
                        else F.max(
                            F.when(F.col(column_col) == c, F.col(value_col))
                        )
                    ).alias(c)
                    for c in cols
                ]
            )
        else:
            # every recorded row was column-less (MLDBFB-440): the
            # dataset still has rows — just no value columns
            wide = latest.select(F.col(row_col).alias("__cellsRow")).distinct()
        self.register(name, wide, "__cellsRow")
        self._cells[name] = {
            "cells": cells,
            "row": row_col,
            "column": column_col,
            "value": value_col,
            "ts": ts_col,
            "columns": cols,
        }

    def _register_merged_cells(self, name: str, members: list[str]) -> None:
        """merged dataset over CELLS members (builtin/merged_dataset.cc;
        MLDBFB-335: `merge(ds, timeDs) WHEN value_timestamp() <= …`
        must keep per-cell timestamps): the members' cell
        superpositions union; on an exact (row, column, ts) collision
        the LAST member wins, matching the wide merge's
        coalesce(right, left). Values ride as strings in the unioned
        triple table — per-COLUMN numeric typing is recovered from the
        members' wide views (MLDB-102 semantics), so numeric columns
        cast back to double in the merged wide view."""
        parts = []
        for i, mname in enumerate(members):
            info = self._cells[mname]
            parts.append(
                info["cells"].select(  # type: ignore[union-attr]
                    F.col(str(info["row"])).cast("string").alias("row"),
                    F.col(str(info["column"])).cast("string").alias("column"),
                    F.col(str(info["value"])).cast("string").alias("value"),
                    F.col(str(info["ts"])).alias("ts"),
                    F.lit(i).alias("__src"),
                )
            )
        cells = parts[0]
        for p in parts[1:]:
            cells = cells.unionByName(p)
        cells = (
            cells.groupBy("row", "column", "ts")
            .agg(F.max_by("value", F.col("__src")).alias("value"))
            .select("row", "column", "value", "ts")
        )
        numeric: set[str] = set()
        stringish: set[str] = set()
        num_types = ("double", "float", "int", "bigint", "smallint",
                     "tinyint", "decimal")
        for mname in members:
            for c, dt in self._resolve(mname).dtypes:
                if c == "__cellsRow":
                    continue
                if dt.startswith(num_types):
                    numeric.add(c)
                else:
                    stringish.add(c)
        self.register_cells(name, cells, numeric_columns=numeric - stringish)
        self._cells[name]["members"] = members

    def register_function(self, name: str, fn) -> None:
        """Applied-function entity usable from SQL: `fn({…})[output]`
        in a SELECT applies the registered DataFrame transform (a
        trained model scorer, a stats-table lookup, …) to the rowset
        once, then extracts the named output column — the reference's
        `SELECT my_classifier({features: {*}})[score]` pattern. The
        argument row literal is informational (the transform closure
        already knows its input columns).

        Every builtin function's name is reserved (MLDB-1661: the
        reference refuses `PUT /v1/functions/temporal_earliest`)."""
        low = name.lower()
        if low in _BUILTINS:
            raise ValueError(
                f"MLDB already has a built-in function named {name!r}"
            )
        self._functions[low] = (name, fn)

    def _lookup_function(self, name: str):
        """Resolve an applied-function name: context-local first, then
        the global ML registry — so a model trained through
        ml.procedures (classifier_train, kmeans_train, …) is callable
        from SQL by its training name with no explicit
        register_function step (the reference's behavior: PUT
        /v1/procedures with a functionName creates the function
        entity automatically)."""
        entry = self._functions.get(name.lower())
        if entry is not None:
            return entry[1]
        from mldb_spark.ml.registry import GLOBAL_REGISTRY

        if name in GLOBAL_REGISTRY.names():
            return lambda d: GLOBAL_REGISTRY.apply(name, d)
        return None

    def function_names(self) -> list[str]:
        """Every name `_lookup_function` resolves."""
        from mldb_spark.ml.registry import GLOBAL_REGISTRY

        own = [n for n, _ in list(self._functions.values())]
        return sorted(own + [n for n in GLOBAL_REGISTRY.names() if n.lower() not in self._functions])

    def _apply_fn_for_value(self, df, call: ast.FunctionCall, params, arg_cols):
        """Apply a registered function appearing as a VALUE inside
        another function's argument row (MLDB-1273/1314 composition):
        materialize its row-literal args, run the transform once, and
        return (df, its new output columns)."""
        fn = self._lookup_function(call.name)
        call_params: dict[str, object] = {}
        if call.args and isinstance(call.args[0], ast.RowLiteral):
            abinder = Binder(df.columns, params, dtypes=dict(df.dtypes))
            for field_name, fexpr in call.args[0].fields:
                if field_name.endswith("*"):
                    continue
                if isinstance(fexpr, ast.Literal):
                    call_params[field_name] = fexpr.value
                if field_name not in df.columns:
                    df = df.withColumn(field_name, abinder.bind(fexpr))
                    arg_cols.append(field_name)
        before = set(df.columns)
        df = _call_fn(fn, df, call_params)
        outs = [c for c in df.columns if c not in before]
        return df, outs

    def _inline_registered_calls(
        self, df, rl: ast.RowLiteral, params, arg_cols
    ):
        """Rewrite registered-function calls INSIDE an argument row
        literal to references over their applied output columns —
        the reference binds `cls({features: feats({*})})` and
        `cls({features: {feats({*}) as *}})` by evaluating the inner
        function against the rowset first (MLDB-1273/1314)."""
        new_fields: list[tuple[str, ast.Expr]] = []
        changed = False
        for fname_, fexpr in rl.fields:
            if (
                isinstance(fexpr, ast.FunctionCall)
                and self._lookup_function(fexpr.name) is not None
            ):
                df, outs = self._apply_fn_for_value(
                    df, fexpr, params, arg_cols
                )
                arg_cols.extend(outs)
                changed = True
                if fname_ == "*":
                    new_fields.extend((c, ast.ColumnRef(c)) for c in outs)
                else:
                    # the function's VALUE is its whole output row —
                    # the output column names stay as the row's fields
                    # (feats({*}) under {features: …} keeps the `row`
                    # level, so features bind as row.a …)
                    new_fields.append(
                        (
                            fname_,
                            ast.RowLiteral(
                                [(c, ast.ColumnRef(c)) for c in outs]
                            ),
                        )
                    )
                continue
            if isinstance(fexpr, ast.RowLiteral):
                df, sub = self._inline_registered_calls(
                    df, fexpr, params, arg_cols
                )
                if sub is not fexpr:
                    changed = True
                new_fields.append((fname_, sub))
                continue
            new_fields.append((fname_, fexpr))
        return df, (ast.RowLiteral(new_fields) if changed else rl)

    def _apply_row_functions(
        self, df: DataFrame, stm: ast.SelectStatement, params=None
    ):
        """Rewrite `fn({…})[out]` select items over registered
        functions: apply each distinct fn to the rowset once, then
        substitute the call with a reference to its output column.

        The argument row literal's top-level fields are MATERIALIZED
        as input columns first (unless a column of that name already
        exists) — the reference's function-application semantics,
        where the argument row IS the function input
        (MLDB-1012_nested_function_calls.py:
        `f1({input: {x: 1, y: 2}})` binds input.x inside f1)."""
        mapping: list[tuple[ast.Expr, str]] = []
        applied: set[str] = set()
        accessed: set[int] = set()
        arg_cols: list[str] = []
        fn_intro: list[str] = []  # non-internal cols a fn application added
        spread_outputs: dict[int, list[str]] = {}  # id(item) -> fn output cols
        # key -> internal column holding the DATASET value of a column a
        # function output will shadow. apply() writes outputs with
        # withColumns, which REPLACES same-named columns — without the
        # stash, `SELECT out, f({a: a})[out]` would silently return the
        # function output for the plain `out` reference too.
        shadow: dict[str, str] = {}
        # pre-pass: every [key] accessed on each registered function
        # anywhere in the statement, so the dataset value can be stashed
        # BEFORE the first application overwrites it
        indexed_keys: dict[str, set[str]] = {}
        for _e in [it.expr for it in stm.select if isinstance(it, ast.ExprItem)] + [
            c for c in [stm.where, stm.named, stm.having] if c is not None
        ] + [o.expr for o in stm.order_by]:
            for _n in _walk(_e):
                if (
                    isinstance(_n, ast.Index)
                    and isinstance(_n.operand, ast.FunctionCall)
                    and self._lookup_function(_n.operand.name) is not None
                    and isinstance(_n.key, ast.Literal)
                ):
                    indexed_keys.setdefault(_n.operand.name, set()).add(
                        str(_n.key.value)
                    )

        def _apply_indexed_calls(expr: ast.Expr, df: DataFrame) -> DataFrame:
            # fn({…})[out] anywhere in a clause: apply fn to the
            # rowset once, substitute the call with its output column
            # (MLDB-1563 puts one inside WHERE … IN (KEYS OF …))
            for node in _walk(expr):
                if (
                    isinstance(node, ast.Index)
                    and isinstance(node.operand, ast.FunctionCall)
                    and self._lookup_function(node.operand.name) is not None
                    and isinstance(node.key, (ast.Literal, ast.ColumnRef))
                ):
                    fname = node.operand.name
                    if fname not in applied:
                        args = node.operand.args
                        call_params: dict[str, object] = {}
                        if (
                            args
                            and isinstance(args[0], ast.FunctionCall)
                            and self._lookup_function(args[0].name)
                            is not None
                        ):
                            # direct composition: the argument IS a
                            # registered call — apply it, its output
                            # row becomes the argument (MLDB-59's
                            # probabilizer(classifier({…}))[prob])
                            df, outs = self._apply_fn_for_value(
                                df, args[0], params, arg_cols
                            )
                            arg_cols.extend(outs)
                            args = [
                                ast.RowLiteral(
                                    [(c, ast.ColumnRef(c)) for c in outs]
                                )
                            ] + list(args[1:])
                        if args and isinstance(args[0], ast.RowLiteral):
                            df, arg_rl = self._inline_registered_calls(
                                df, args[0], params, arg_cols
                            )
                            abinder = Binder(
                                df.columns, params, dtypes=dict(df.dtypes)
                            )
                            for field_name, fexpr in arg_rl.fields:
                                if field_name.endswith("*"):
                                    # {*} wildcard: the row passes
                                    # through — materializing a column
                                    # literally named '*' would poison
                                    # downstream name resolution
                                    continue
                                if isinstance(fexpr, ast.Literal):
                                    # literal fields double as $params
                                    # for parameterized entities
                                    # (MLDB-1319's poil3({n: 1}))
                                    call_params[field_name] = fexpr.value
                                fdt = abinder._static_dtype(fexpr)
                                if (
                                    isinstance(fexpr, ast.RowLiteral)
                                    and fdt.startswith("struct<")
                                ):
                                    # a ROW-valued input pin
                                    # (cls({{*} as features}) —
                                    # MLDB-647): functions bind
                                    # against the row's OWN fields,
                                    # so flatten them into columns
                                    # ALONGSIDE the pin-named struct
                                    # (sql.expression entities read
                                    # the pin as input.a); nested
                                    # rows expand to dotted names
                                    # (MLDB-1273)
                                    bound = abinder.bind(fexpr)
                                    for sub, sc in _flatten_pin_fields(
                                        bound, fdt
                                    ):
                                        if sub not in df.columns:
                                            df = df.withColumn(sub, sc)
                                            arg_cols.append(sub)
                                if field_name not in df.columns:
                                    df = df.withColumn(
                                        field_name, abinder.bind(fexpr)
                                    )
                                    arg_cols.append(field_name)
                        # stash dataset columns this function's accessed
                        # outputs would shadow (original value survives
                        # for plain references)
                        for k in sorted(indexed_keys.get(fname, ())):
                            if k in df.columns and k not in shadow:
                                sh = f"__shadow__{k}"
                                df = df.withColumn(sh, F.col(f"`{k}`"))
                                shadow[k] = sh
                        before = set(df.columns)
                        df = _call_fn(
                            self._lookup_function(fname), df, call_params
                        )
                        applied.add(fname)
                        fn_intro.extend(
                            c for c in df.columns if c not in before
                        )
                    key = (
                        str(node.key.value)
                        if isinstance(node.key, ast.Literal)
                        else node.key.name
                    )
                    # route through an __-prefixed internal copy so
                    # the output (and any materialized argument it
                    # shadows) stays out of SELECT * expansion
                    # (MLDB-1563's expected rows carry only the
                    # dataset's own columns)
                    if key in shadow:
                        internal = f"__fnout__{fname}__{key}"
                        if internal not in df.columns:
                            # capture the function output, then restore
                            # the dataset's value for plain references
                            df = df.withColumn(internal, F.col(f"`{key}`"))
                            df = df.withColumn(key, F.col(shadow[key]))
                        mapping.append((node, internal))
                    elif key in df.columns:
                        internal = f"__fnout__{fname}__{key}"
                        if internal not in df.columns:
                            df = df.withColumn(internal, F.col(f"`{key}`"))
                        mapping.append((node, internal))
                    else:
                        # dotted accessor into a structured output:
                        # [scores."Iris-setosa"] reads key 'Iris-setosa'
                        # of the function's `scores` map/struct output
                        # (MLDB-647's per-class score extraction)
                        els = _parse_path_str(key)
                        if len(els) > 1 and els[0] in df.columns:
                            internal = f"__fnout__{fname}__{key}"
                            if internal not in df.columns:
                                sub = F.col(f"`{els[0]}`")
                                dtm = dict(df.dtypes).get(els[0], "")
                                for el in els[1:]:
                                    sub = (
                                        sub[el]
                                        if dtm.startswith("map")
                                        else sub.getField(el)
                                    )
                                df = df.withColumn(internal, sub)
                            mapping.append((node, internal))
                        else:
                            mapping.append((node, key))
                    accessed.add(id(node.operand))
                    # nested registered calls inside the applied call's
                    # arguments were inlined by
                    # _inline_registered_calls — don't re-flag them
                    for sub in _walk(node.operand):
                        if (
                            isinstance(sub, ast.FunctionCall)
                            and self._lookup_function(sub.name) is not None
                        ):
                            accessed.add(id(sub))
            for node in _walk(expr):
                if (
                    isinstance(node, ast.FunctionCall)
                    and self._lookup_function(node.name) is not None
                    and id(node) not in accessed
                ):
                    raise ValueError(
                        f"registered function {node.name!r} needs an output "
                        f"accessor: {node.name}({{…}})[output_column]"
                    )
            return df

        for it in stm.select:
            if not isinstance(it, ast.ExprItem):
                continue
            # fn({…}) AS * — spread ALL of a registered function's
            # outputs into the row (MLDB-1440's `noIgnore({a,b}) as *`).
            # A BARE call (no alias, no [output] accessor) also
            # spreads, with each output column prefixed by the call's
            # surface text — the reference's `select bop()` yields
            # columns `bop().rowName()`, `bop().width` (MLDB-1500),
            # and `select pwel({x: …})` must bind (MLDB-800).
            if (
                it.alias in ("*", None)
                and isinstance(it.expr, ast.FunctionCall)
                and self._lookup_function(it.expr.name) is not None
            ):
                fname = it.expr.name
                args = it.expr.args
                call_params = {}
                if args and isinstance(args[0], ast.RowLiteral):
                    df, arg_rl = self._inline_registered_calls(
                        df, args[0], params, arg_cols
                    )
                    abinder = Binder(df.columns, params, dtypes=dict(df.dtypes))
                    for field_name, fexpr in arg_rl.fields:
                        if field_name.endswith("*"):
                            continue  # {*} wildcard: row passes through
                        if isinstance(fexpr, ast.Literal):
                            call_params[field_name] = fexpr.value
                        elif (
                            isinstance(fexpr, ast.Param)
                            and fexpr.name in params
                        ):
                            # chained $params (MLDB-800's
                            # pwel({x:…,y:…}) forwarding $y into
                            # fwin's $varrr)
                            call_params[field_name] = params[fexpr.name]
                        fdt = abinder._static_dtype(fexpr)
                        if fdt.startswith("struct<"):
                            # ROW-valued input pin (MLDB-1273's
                            # `cls({features: {a as row.a, …}}) as *`
                            # / `cls({features: feats({*})}) as *`):
                            # flatten the pin's fields into columns
                            # alongside the struct, exactly like the
                            # indexed fn({…})[out] path; nested rows
                            # expand to dotted names
                            bound = abinder.bind(fexpr)
                            for sub, sc in _flatten_pin_fields(bound, fdt):
                                if sub not in df.columns:
                                    df = df.withColumn(sub, sc)
                                    arg_cols.append(sub)
                        if field_name not in df.columns:
                            df = df.withColumn(field_name, abinder.bind(fexpr))
                            arg_cols.append(field_name)
                before = set(df.columns)
                df = _call_fn(self._lookup_function(fname), df, call_params)
                applied.add(fname)
                outs = [c for c in df.columns if c not in before]
                if outs == ["output"] and dict(df.dtypes)["output"].startswith(
                    "struct"
                ):
                    # a function whose single output is the struct
                    # column `output` (sql.query entities) spreads its
                    # FIELDS (MLDB-800: `select patate1({param:'hi'})
                    # as *` -> column `param`, not a struct column)
                    fields = list(df.schema["output"].dataType.fieldNames())
                    for fld in fields:
                        df = df.withColumn(fld, F.col("output").getField(fld))
                    df = df.drop("output")
                    outs = fields
                if not outs:
                    # identity-shaped function (MLDB-797's
                    # `expression: '*'` chain): output = input row
                    outs = [c for c in df.columns if not c.startswith("__")]
                if it.alias is None:
                    # bare call: prefix outputs with the surface text
                    pfx = (
                        getattr(it, "surface", None)
                        or f"{it.expr.raw or fname}({{…}})"
                    )
                    renamed = []
                    for c in outs:
                        nc = f"{pfx}.{c}"
                        df = df.withColumnRenamed(c, nc)
                        renamed.append(nc)
                    outs = renamed
                spread_outputs[id(it)] = outs
                accessed.add(id(it.expr))
                for sub in _walk(it.expr):
                    if (
                        isinstance(sub, ast.FunctionCall)
                        and self._lookup_function(sub.name) is not None
                    ):
                        accessed.add(id(sub))
                continue
            df = _apply_indexed_calls(it.expr, df)
        for clause in [stm.where, stm.named, stm.having] + [
            o.expr for o in stm.order_by
        ]:
            if clause is not None:
                df = _apply_indexed_calls(clause, df)
        if not mapping and not spread_outputs:
            return df, stm
        out_names = {name for _, name in mapping} | {
            c for outs in spread_outputs.values() for c in outs
        }
        stale = [
            c
            for c in dict.fromkeys(arg_cols + fn_intro + list(shadow.values()))
            if c not in out_names
        ]
        if stale:
            df = df.drop(*stale)
        import dataclasses

        new_select: list[ast.SelectItem] = []
        for it in stm.select:
            if id(it) in spread_outputs:
                new_select.extend(
                    ast.ExprItem(ast.ColumnRef(c), c)
                    for c in spread_outputs[id(it)]
                )
            elif isinstance(it, ast.ExprItem):
                new_select.append(
                    dataclasses.replace(it, expr=_substitute(it.expr, mapping))
                )
            else:
                new_select.append(it)

        def _sub(e: ast.Expr | None) -> ast.Expr | None:
            return _substitute(e, mapping) if e is not None else None

        return df, dataclasses.replace(
            stm,
            select=new_select,
            where=_sub(stm.where),
            named=_sub(stm.named),
            having=_sub(stm.having),
            order_by=[
                dataclasses.replace(o, expr=_substitute(o.expr, mapping))
                for o in stm.order_by
            ],
        )

    def query(self, sql: str, params: dict[str, object] | None = None) -> DataFrame:
        return self._statement(parse_statement(sql), params or {})

    # -- statement lowering -------------------------------------------------

    def _resolve_from(
        self, stm: ast.SelectStatement, params
    ) -> tuple[DataFrame, str | None, str | None, set[str], dict[str, str]]:
        src = stm.from_
        if src is None:
            return self.spark.range(1).drop("id"), None, None, set(), {}
        if isinstance(src, ast.SelectStatement):
            aliases = {src.from_alias} if getattr(src, "from_alias", None) else set()
            sub = self._statement(src, params)
            # a NAMED subquery carries its row names out — the outer
            # scope's rowName()/rowPath() read them (MLDB-1678's
            # `select * from (select 1 as x named 'msnbc.com') where
            # rowName() = …`); a plain wildcard passthrough keeps the
            # source's row identity (MLDB-995-sub-query-sparse.js:
            # `SELECT * FROM (SELECT * FROM ds) ORDER BY rowName()`)
            sub_rn = "rowName" if "rowName" in sub.columns else None
            if sub_rn is None:
                inh = self._inherited_row_name(src)
                if inh and inh in sub.columns:
                    sub_rn = inh
            return sub, sub_rn, None, aliases, {}
        if isinstance(src, ast.TableRef):
            df, meta = self._table(src.name)
            return df, meta["rowName"], meta["ts"], {src.alias or src.name}, {}
        if isinstance(src, ast.TableFunction):
            df = self._table_function(src, params)
            rn = "rowName" if "rowName" in df.columns else None
            # the AS alias qualifies columns (MLDB-1315's
            # `SELECT x.* FROM row_dataset(...) AS x`)
            aliases = {src.alias} if src.alias else set()
            return df, rn, None, aliases, {}
        if isinstance(src, ast.Join):
            df, aliases, rn_col, side_rns = self._build_join(src, params)
            return df, rn_col, None, aliases, side_rns
        raise ValueError(f"unsupported FROM {src!r}")

    def _inherited_row_name(self, stm) -> "str | None":
        """Row-name column a plain wildcard passthrough subquery
        inherits from its source (no GROUP BY / NAMED, select list
        contains *): the reference keeps row identity through
        subselects (MLDB-995)."""
        if stm.group_by or stm.named is not None:
            return None
        if not any(isinstance(it, ast.Wildcard) for it in stm.select):
            return None
        src = stm.from_
        if isinstance(src, ast.TableRef):
            meta = self._meta.get(src.name)
            return meta["rowName"] if meta else None
        if isinstance(src, ast.SelectStatement):
            return self._inherited_row_name(src)
        return None

    def _resolve_tf_arg(self, a, params) -> DataFrame:
        """A dataset-valued table-function argument: a dataset name,
        a nested table function (MLDB-2103's
        merge(row_dataset(...), ...)), or a parenthesized
        subselect/table expression (MLDB-2065)."""
        if isinstance(a, ast.ColumnRef) and a.name in self._datasets:
            # a bare dataset name inside a NESTED call parses as a
            # ColumnRef (expression context) — resolve it as a table
            # (dedup_groups(minhash_pairs(documents, {...})))
            a = a.name
        if isinstance(a, str):
            df, meta = self._table(a)
            on = meta["rowName"]
            if on and on != "rowName":
                df = df.withColumnRenamed(on, "rowName")
            return df
        if isinstance(a, ast.TableFunction):
            return self._table_function(a, params)
        if isinstance(a, ast.FunctionCall) and a.name in (
            "row_dataset", "atom_dataset", "merge", "sample", "transpose",
            "all_cells", "decontaminate", "mixture_sample",
            "minhash_pairs", "dedup_groups",
        ):
            # nested dataset functions parse as expression calls —
            # re-route (merge(row_dataset(...), ...), MLDB-2103)
            return self._table_function(
                ast.TableFunction(a.name, list(a.args), None), params
            )
        if isinstance(a, ast.SelectStatement):
            return self._statement(a, params)
        raise ValueError(f"expected a dataset argument, got {a!r}")

    def _table_function(self, tf: ast.TableFunction, params=None) -> DataFrame:
        """FROM-clause dataset functions (reference
        sql/builtin_dataset_functions.cc: transpose :107, merge :173,
        sample :213; table_expression_operations.h:210-240
        row_dataset/atom_dataset)."""
        if tf.name == "atom_dataset":
            # atom_dataset(<row literal>) — one row per atom like
            # row_dataset, the column rendered as its path string
            # (MLDB-1616/1639; table_expression_operations.h:210-240)
            tf = ast.TableFunction("row_dataset", tf.args, tf.alias)
        if tf.name == "row_dataset":
            # row_dataset(<row or embedding literal>): one output row
            # per atom, named by its 0-based atom index, with
            # (column, value) cells (MLDB-2065/2103)
            if (
                len(tf.args) == 1
                and isinstance(tf.args[0], ast.Param)
            ):
                # row_dataset($param) — a BOUND row/array parameter
                # (MLDB-2022's sql.query scorer over $input). Row
                # values may themselves be rows → MAP cells, so a
                # dynamic batch of rows scores in one application.
                pv = (params or {}).get(tf.args[0].name)
                if pv is None:
                    raise ValueError(
                        f"row_dataset: missing parameter "
                        f"${tf.args[0].name}"
                    )
                if isinstance(pv, dict):
                    items = list(pv.items())
                elif isinstance(pv, (list, tuple)):
                    items = [(str(i), v) for i, v in enumerate(pv)]
                else:
                    raise ValueError(
                        "row_dataset($param) needs a row or array value"
                    )
                if items and all(isinstance(v, dict) for _, v in items):
                    return local_frame(
                        self.spark,
                        [
                            (str(n), str(n),
                             {str(k): float(x) for k, x in v.items()})
                            for n, v in items
                        ],
                        "rowName string, column string, "
                        "value map<string,double>",
                    )
                numeric = all(
                    isinstance(v, (int, float)) and not isinstance(v, bool)
                    for _, v in items
                )
                vt = "double" if numeric else "string"
                return local_frame(
                    self.spark,
                    [
                        (str(n), str(n),
                         (None if v is None
                          else float(v) if numeric else str(v)))
                        for n, v in items
                    ],
                    f"rowName string, column string, value {vt}",
                )
            if len(tf.args) != 1 or not isinstance(
                tf.args[0], (ast.RowLiteral, ast.EmbeddingLiteral)
            ):
                raise ValueError("row_dataset(<row or embedding>) needs a literal")
            binder = Binder([], params or {})
            arg = tf.args[0]
            if isinstance(arg, ast.EmbeddingLiteral):
                fields = [(str(i), x) for i, x in enumerate(arg.items)]
            else:
                fields = list(arg.fields)
            # the argument is a literal row: one literal-sized eval.
            # An all-numeric row keeps a DOUBLE value column (the
            # q40 shape); mixed-type rows (MLDB-1315's
            # {x:1, z:'three'}) fall back to STRING — the reference's
            # variant cells have no single Spark type, and
            # CAST (value AS NUMBER) recovers the numerics
            numeric = all(
                isinstance(x, ast.Literal)
                and isinstance(x.value, (int, float))
                and not isinstance(x.value, bool)
                for _, x in fields
            )
            vtype = "double" if numeric else "string"
            vals = self.spark.range(1).select(
                *[
                    binder.bind(x).cast(vtype).alias(f"__v{i}")
                    for i, (_, x) in enumerate(fields)
                ]
            ).collect()[0]
            return local_frame(
                self.spark,
                [
                    (str(i), n, vals[f"__v{i}"])
                    for i, (n, _) in enumerate(fields)
                ],
                f"rowName string, column string, value {vtype}",
            )
        if tf.name == "merge":
            from mldb_spark.operators.relational import merge_datasets

            dfs = []
            for a in tf.args:
                df = self._resolve_tf_arg(a, params)
                if "rowName" not in df.columns:
                    raise ValueError(
                        "merge() needs datasets with a rowName column"
                    )
                dfs.append(df)
            return merge_datasets(dfs)
        if tf.name == "sample":
            from mldb_spark.operators.relational import sample_dataset

            df = self._resolve_tf_arg(tf.args[0], params)
            # option-row form (FromExpression.md §sample; MLDB-1242):
            # sample(ds, {rows: 10, withReplacement: true, seed: 7})
            if len(tf.args) > 1 and isinstance(tf.args[1], ast.RowLiteral):
                opts: dict[str, object] = {}
                for k, v in tf.args[1].fields:
                    if not isinstance(v, ast.Literal):
                        raise ValueError("sample() options must be literals")
                    opts[k.lower()] = v.value
                return sample_dataset(
                    df,
                    fraction=opts.get("fraction"),
                    rows=opts.get("rows"),
                    with_replacement=bool(opts.get("withreplacement", False)),
                    seed=int(opts.get("seed", 0)),  # type: ignore[arg-type]
                )
            fraction = float(tf.args[1]) if len(tf.args) > 1 else 0.1
            seed = int(tf.args[2]) if len(tf.args) > 2 else 0
            return df.sample(fraction=fraction, seed=seed)
        if tf.name == "all_cells":
            # all_cells(cells_ds [, <latest-row predicate>]): the
            # GET_ALL emission over the cell layout — the predicate
            # is an arbitrary row expression evaluated against each
            # row's LATEST cell values (the reference evaluates WHERE
            # at GET_LATEST, core/bound_queries.cc:385,394); rows
            # that pass emit their FULL superposition.  Predicate
            # column names refer to logical cell columns (the values
            # of the `column` column), e.g.
            # all_cells(cells, purchase > 900 AND click < 50).
            from mldb_spark.operators.temporal import all_cells

            df = self._resolve_tf_arg(tf.args[0], params)
            if "row" not in df.columns and "rowName" in df.columns:
                df = df.withColumnRenamed("rowName", "row")
            if not {"row", "column", "value", "ts"}.issubset(df.columns):
                raise ValueError(
                    "all_cells() needs the cell layout "
                    "(row, column, value, ts)"
                )
            if len(tf.args) < 2:
                return df
            pred = tf.args[1]
            cols = sorted(
                {n.name for n in _walk(pred) if isinstance(n, ast.ColumnRef)}
            )
            if not cols:
                raise ValueError(
                    "all_cells() predicate must reference at least one "
                    "cell column"
                )
            pred_binder = Binder(cols, params or {})
            return all_cells(
                df,
                where_row=pred_binder.bind(pred).cast("boolean"),
                where_columns=cols,
            )
        if tf.name in ("decontaminate", "mixture_sample"):
            # corpus-tier dataset functions (beyond-reference): the
            # LLM-training-data passes reachable from SQL —
            #   decontaminate(corpus, benchmark, {n: 13, id: 'doc_id',
            #                                     text: 'text'})
            #   mixture_sample(corpus, {alpha: 0.5, source: 'source',
            #                           weight: 'n_tokens',
            #                           key: 'doc_id'})
            from mldb_spark import corpus as corpus_ops

            df = self._resolve_tf_arg(tf.args[0], params)
            rest = list(tf.args[1:])
            opts: dict[str, object] = {}
            if rest and isinstance(rest[-1], ast.RowLiteral):
                for k, v in rest.pop().fields:
                    if not isinstance(v, ast.Literal):
                        raise ValueError(
                            f"{tf.name}() options must be literals"
                        )
                    opts[k.lower()] = v.value
            if tf.name == "decontaminate":
                if len(rest) != 1:
                    raise ValueError(
                        "decontaminate(corpus, benchmark [, {options}])"
                    )
                bench = self._resolve_tf_arg(rest[0], params)
                return corpus_ops.decontaminate(
                    df,
                    bench,
                    n=int(opts.get("n", 13)),  # type: ignore[arg-type]
                    id_col=str(opts.get("id", "doc_id")),
                    text_col=str(opts.get("text", "text")),
                    mark_only=bool(opts.get("markonly", False)),
                )
            if rest:
                raise ValueError("mixture_sample(corpus [, {options}])")
            return corpus_ops.mixture_sample(
                df,
                source_col=str(opts.get("source", "source")),
                weight_col=str(opts.get("weight", "n_tokens")),
                key_col=str(opts.get("key", "doc_id")),
                alpha=float(opts.get("alpha", 0.5)),  # type: ignore[arg-type]
                target_weight=(
                    float(opts["target"])  # type: ignore[arg-type]
                    if "target" in opts
                    else None
                ),
            )
        if tf.name in ("minhash_pairs", "dedup_groups"):
            # dedup-chain dataset functions (VERDICT r5 #5): the full
            # canonical near-dup pipeline is SQL-reachable —
            #   minhash_pairs(corpus, {numHashes: 16, bands: 4,
            #                          threshold: 0.5, id: 'doc_id',
            #                          text: 'text'})
            #   dedup_groups(pairs [, {a: 'id_a', b: 'id_b'}])
            # Compose: SELECT * FROM dedup_groups(minhash_pairs(docs,
            # {...})) resolves pairs into (node, component) groups.
            from mldb_spark import dedup as dedup_ops

            df = self._resolve_tf_arg(tf.args[0], params)
            opts: dict[str, object] = {}
            if len(tf.args) > 1 and isinstance(tf.args[1], ast.RowLiteral):
                for k, v in tf.args[1].fields:
                    if not isinstance(v, ast.Literal):
                        raise ValueError(
                            f"{tf.name}() options must be literals"
                        )
                    opts[k.lower()] = v.value
            if tf.name == "minhash_pairs":
                return dedup_ops.minhash_near_duplicates(
                    df,
                    num_hashes=int(opts.get("numhashes", 16)),  # type: ignore[arg-type]
                    bands=int(opts.get("bands", 4)),  # type: ignore[arg-type]
                    threshold=float(opts.get("threshold", 0.5)),  # type: ignore[arg-type]
                    id_col=str(opts.get("id", "doc_id")),
                    text_col=str(opts.get("text", "text")),
                    shingle_words=int(opts.get("shinglewords", 0)),  # type: ignore[arg-type]
                )
            a_col = str(opts.get("a", "id_a"))
            b_col = str(opts.get("b", "id_b"))
            if a_col not in df.columns or b_col not in df.columns:
                raise ValueError(
                    f"dedup_groups() needs pair columns {a_col!r}/{b_col!r}"
                    f" (have {df.columns})"
                )
            return dedup_ops.connected_components(df, a_col=a_col, b_col=b_col)
        if tf.name in (
            "repetition_signals", "unigram_logprob_scores", "pack_sequences"
        ):
            # remaining corpus-tier passes as FROM-clause functions
            # (VERDICT r6 #7) — with decontaminate/mixture_sample/
            # minhash_pairs/dedup_groups this makes the whole
            # LLM-pipeline tier SQL-composable:
            #   repetition_signals(docs, {id: 'doc_id', text: 'text'})
            #   unigram_logprob_scores(docs, {smoothing: 0.5, ...})
            #   pack_sequences(docs, {maxTokens: 2048, nBuckets: 64,
            #                         id: 'doc_id', tokens: 'n_tokens'})
            from mldb_spark import corpus as corpus_ops

            df = self._resolve_tf_arg(tf.args[0], params)
            opts = {}
            if len(tf.args) > 1 and isinstance(tf.args[1], ast.RowLiteral):
                for k, v in tf.args[1].fields:
                    if not isinstance(v, ast.Literal):
                        raise ValueError(
                            f"{tf.name}() options must be literals"
                        )
                    opts[k.lower()] = v.value
            id_col = str(opts.get("id", "doc_id"))
            if tf.name == "repetition_signals":
                return corpus_ops.repetition_signals(
                    df, id_col=id_col, text_col=str(opts.get("text", "text"))
                )
            if tf.name == "unigram_logprob_scores":
                return corpus_ops.unigram_logprob_scores(
                    df,
                    id_col=id_col,
                    text_col=str(opts.get("text", "text")),
                    smoothing=float(opts.get("smoothing", 0.5)),  # type: ignore[arg-type]
                )
            return corpus_ops.pack_sequences(
                df,
                max_tokens=int(opts.get("maxtokens", 2048)),  # type: ignore[arg-type]
                n_buckets=int(opts.get("nbuckets", 64)),  # type: ignore[arg-type]
                id_col=id_col,
                tokens_col=str(opts.get("tokens", "n_tokens")),
            )
        if tf.name == "transpose":
            from mldb_spark.operators.relational import transpose_cells

            df = self._resolve_tf_arg(tf.args[0], params)
            if {"row", "column"}.issubset(df.columns) or (
                {"rowName", "column"}.issubset(df.columns)
            ):
                if "row" not in df.columns:
                    df = df.withColumnRenamed("rowName", "row")
                return transpose_cells(df)
            return self._transpose_wide(df)
        raise ValueError(f"unknown dataset function {tf.name!r}")

    _TRANSPOSE_MAX_ROWS = 10_000

    def _transpose_wide(self, df: DataFrame) -> DataFrame:
        """Transpose a WIDE dataset (builtin/transposed_dataset.cc):
        output rows are the input's columns, output columns its row
        names. The new column set is the input's row count, so the
        input must be matrix-sized — capped loudly at
        _TRANSPOSE_MAX_ROWS (the reference is equally RAM-bound
        here); the cells layout (q54) stays the zero-shuffle scale
        path."""
        if "rowName" not in df.columns:
            raise ValueError(
                "transpose() over a wide dataset needs row names "
                "(NAMED or a registered dataset)"
            )
        data_cols = [
            c for c in df.columns if c != "rowName" and not c.startswith("__")
        ]
        names = local_rows(df.select("rowName"), self._TRANSPOSE_MAX_ROWS, "transpose rows")
        if names is None:
            raise ValueError(
                "transpose() over a wide dataset is capped at "
                f"{self._TRANSPOSE_MAX_ROWS} rows (each becomes an "
                "output column); use the cell layout for larger data"
            )
        numeric = all(
            not dt.startswith(("string", "binary", "array", "map", "struct"))
            for c, dt in df.dtypes
            if c in data_cols
        )
        vt = "double" if numeric else "string"
        melted = df.select(
            F.col("rowName"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column"),
                            F.col(f"`{c}`").cast(vt).alias("value"),
                        )
                        for c in data_cols
                    ]
                )
            ).alias("cell"),
        ).select(
            F.col("cell.column").alias("rowName"),
            F.col("rowName").alias("__orig_row"),
            F.col("cell.value").alias("value"),
        )
        return (
            melted.groupBy("rowName")
            .pivot("__orig_row", [str(n) for n in names.column(0).to_pylist()])
            .agg(F.first("value"))
        )

    def _table(self, name: str):
        if name not in self._datasets:
            raise KeyError(f"unknown dataset {name!r} (have {sorted(self._datasets)})")
        return self._resolve(name), self._meta[name]

    def _join(self, j: ast.Join, params) -> DataFrame:
        return self._build_join(j, params)[0]

    _JOIN_ROW_NAME = "__joinRowName"

    def _join_leaves(self, node) -> list[ast.TableRef]:
        if isinstance(node, ast.Join):
            return self._join_leaves(node.left) + self._join_leaves(node.right)
        return [node]

    def _leaf_info(self, node, params):
        """(df, alias, row_name_meta) for one join side: a named
        dataset or a parenthesized subselect (MLDB-1794
        join-subselect)."""
        if isinstance(node, ast.TableRef):
            df, meta = self._table(node.name)
            return df, node.alias or node.name, meta["rowName"]
        if isinstance(node, ast.SelectStatement):
            sdf = self._statement(node, params)
            rn = "rowName" if "rowName" in sdf.columns else None
            if rn is None and node.from_ is None:
                # constant selects produce one row named 'result'
                # (the reference's no-FROM row naming; MLDB-1631
                # expects the join row "[result]-[toy story]")
                sdf = sdf.withColumn("rowName", F.lit("result"))
                rn = "rowName"
            return sdf, getattr(node, "from_alias", None), rn
        if isinstance(node, ast.TableFunction):
            # dataset function as a join side (MLDB-1631 joins against
            # transpose((select … named …)))
            df = self._table_function(node, params)
            rn = "rowName" if "rowName" in df.columns else None
            return df, node.alias, rn
        raise ValueError(f"unsupported join side {node!r}")

    def _build_join(self, j: ast.Join, params) -> tuple[DataFrame, set[str], str | None, dict[str, str]]:
        """Build a (possibly multi-way, left-deep) join. Columns whose
        bare name appears on more than one side are renamed to the
        reference's subtable-prefixed path `alias.col`
        (builtin/joined_dataset.cc names join output columns under
        their subtable prefix); unambiguous columns keep their bare
        names so unqualified references stay valid."""
        leaves = self._join_leaves(j)
        infos = {id(t): self._leaf_info(t, params) for t in leaves}
        from collections import Counter

        counts: Counter[str] = Counter()
        for df, _a, _rn in infos.values():
            counts.update(set(df.columns))
        collide = {c for c, n in counts.items() if n > 1}
        aliases = {a for _df, a, _rn in infos.values() if a}
        side_rns = {
            a: _render_path_el(a) + "." + rn
            for _df, a, rn in infos.values()
            if a and rn is not None
        }

        def leaf_df(t) -> DataFrame:
            # the reference prefixes EVERY join output column with its
            # subtable alias (J1_TBL.i, J2_TBL.k — joined_dataset.cc);
            # unqualified references resolve back through the binder's
            # suffix rule. Unaliased subselect sides keep bare names
            # (they must not collide).
            df, alias, _rn = infos[id(t)]
            if alias is None:
                hit = [c for c in df.columns if c in collide]
                if hit:
                    raise ValueError(
                        f"join sides sharing column names {sorted(hit)} need "
                        "an alias (… AS x) to disambiguate"
                    )
                return df
            # physical column names are treated as RENDERED path
            # strings (dotted = nested path, a la JSON flattening);
            # only the ALIAS element needs quoting, which keeps
            # table `x` col `y.z` (-> x.y.z, path x/y/z) distinct
            # from table `x.y` col `z` (-> "x.y".z) while join-side
            # nested wildcards (x.a.* over col a.b — MLDBFB-634)
            # keep matching by prefix
            apfx = _render_path_el(alias) + "."
            return df.select(
                *[
                    F.col(f"`{c}`" if "." in c else c).alias(apfx + c)
                    for c in df.columns
                ]
            )

        def build(node) -> DataFrame:
            if not isinstance(node, ast.Join):
                return leaf_df(node)
            left = build(node.left)
            right = build(node.right)
            if node.kind == "cross" or node.on is None:
                return left.crossJoin(right)
            cols = list(dict.fromkeys(left.columns + right.columns))
            binder = Binder(
                cols, params, table_aliases=aliases, side_row_names=side_rns
            )
            cond = binder.bind(node.on)
            how = {"inner": "inner", "left": "left", "right": "right", "full": "full"}[
                node.kind
            ]
            return left.join(right, cond, how)

        out = build(j)
        # the reference names joined rows "[left]-[right]" (chained
        # joins append "-[next]"), with empty brackets for outer
        # non-matches (joined_dataset.cc:328-348 recordJoinRow). When
        # every side carries row-name metadata, synthesize that name
        # so rowName()/NAMED work over joins.
        rn_col = None
        leaf_rns = []
        for t in leaves:
            _df, alias, meta_rn = infos[id(t)]
            if meta_rn is None:
                leaf_rns = []
                break
            leaf_rns.append(_render_path_el(alias) + "." + meta_rn if alias else meta_rn)
        if leaf_rns:
            rn_col = self._JOIN_ROW_NAME
            parts = [
                F.concat(
                    F.lit("["),
                    F.coalesce(F.col(f"`{c}`" if "." in c else c).cast("string"), F.lit("")),
                    F.lit("]"),
                )
                for c in leaf_rns
            ]
            out = out.withColumn(rn_col, F.concat_ws("-", *parts))
            # leftRowName()/rightRowName() (MLDB-1710): the row name
            # of the join's top-level left/right side — a bare name
            # for a single table, the bracketed composite for a
            # nested join side, '' for an outer non-match
            def _side_name(ts: list) -> Column:
                cs = []
                for t in ts:
                    _df, alias, meta_rn = infos[id(t)]
                    cs.append(_render_path_el(alias) + "." + meta_rn if alias else meta_rn)
                raw = [
                    F.coalesce(
                        F.col(f"`{c}`" if "." in c else c).cast("string"),
                        F.lit(""),
                    )
                    for c in cs
                ]
                if len(raw) == 1:
                    return raw[0]
                return F.concat_ws(
                    "-", *[F.concat(F.lit("["), c, F.lit("]")) for c in raw]
                )

            out = out.withColumn(
                "__leftRowName", _side_name(self._join_leaves(j.left))
            ).withColumn(
                "__rightRowName", _side_name(self._join_leaves(j.right))
            )
            side_rns = dict(side_rns)
            side_rns["__left"] = "__leftRowName"
            side_rns["__right"] = "__rightRowName"
        return out, aliases, rn_col, side_rns

    _CELL_TEMPORALS = {
        "temporal_count": "count",
        "temporal_sum": "sum",
        "temporal_avg": "avg",
        "temporal_min": "min",
        "temporal_max": "max",
        "temporal_earliest": "earliest",
        "temporal_latest": "latest",
    }

    def _apply_cells_when(self, stm: ast.SelectStatement, name: str, params):
        """WHEN over a register_cells() dataset filters PER CELL —
        the reference's tuple-level temporal filter (MLDB-963's
        `SELECT * FROM ds WHEN value_timestamp() < latest_timestamp(x)`;
        WhenExpression.md). value_timestamp() binds to each cell's own
        stamp; latest_timestamp(col)/earliest_timestamp(col) and the
        {*} row form bind to per-ROW aggregates over the raw cells
        (one partial-agg shuffle each, joined back on the row key).
        The wide GET_LATEST view rebuilds from the SURVIVING cells, so
        WHERE / plain references / temporal_* all see the filtered
        superposition; rows whose every cell is filtered keep a row of
        NULL cells (the closest tabular rendering of the reference's
        zero-column rows).

        Returns (new wide df, overridden cells info)."""
        info = self._cells[name]
        cells: DataFrame = info["cells"]  # type: ignore[assignment]
        row_c, col_c, val_c, ts_c = (
            info["row"], info["column"], info["value"], info["ts"]
        )
        joins: list[DataFrame] = []
        counter = [0]

        colset = set(info.get("columns") or [])
        wide_types = dict(self._resolve(name).dtypes) if name in self._datasets else {}

        def fn(node: ast.Expr):
            if isinstance(node, ast.FunctionCall):
                if node.name == "value_timestamp":
                    return ast.ColumnRef("__whenValueTs")
                if node.name in ("latest_timestamp", "earliest_timestamp") and node.args:
                    a = node.args[0]
                    agg = F.max if node.name == "latest_timestamp" else F.min
                    out = f"__whenAgg{counter[0]}"
                    counter[0] += 1
                    if (
                        isinstance(a, ast.RowLiteral)
                        and len(a.fields) == 1
                        and a.fields[0][0] == "*"
                    ):
                        per = cells
                    elif isinstance(a, ast.ColumnRef):
                        per = cells.filter(F.col(col_c) == a.name)
                    else:
                        raise ValueError(
                            f"{node.name} over a cells dataset takes a "
                            "column name or {*}"
                        )
                    joins.append(
                        per.groupBy(F.col(row_c).alias("__whenRow")).agg(
                            agg(F.col(ts_c)).alias(out)
                        )
                    )
                    return ast.ColumnRef(out)
            if isinstance(node, ast.ColumnRef) and node.name in colset:
                # a plain variable inside WHEN reads the row's
                # GET_LATEST value of that cell (MLDBFB-335:
                # `WHEN value_timestamp() <= TIMESTAMP time` must
                # equal the same comparison against the literal) —
                # one per-(row) arg-max join back on the row key
                out = f"__whenAgg{counter[0]}"
                counter[0] += 1
                val = F.max_by(F.col(val_c), F.col(ts_c))
                if wide_types.get(node.name, "").startswith(
                    ("double", "float", "int", "bigint", "smallint",
                     "tinyint", "decimal")
                ):
                    val = val.cast("double")
                joins.append(
                    cells.filter(F.col(col_c) == node.name)
                    .groupBy(F.col(row_c).alias("__whenRow"))
                    .agg(val.alias(out))
                )
                return ast.ColumnRef(out)
            return None

        when2 = _rewrite(stm.when, fn)
        aug = cells.withColumn("__whenValueTs", F.col(ts_c))
        for jd in joins:
            aug = aug.join(
                jd, aug[row_c] == jd["__whenRow"], "left"
            ).drop("__whenRow")
        binder = Binder(aug.columns, params, dtypes=dict(aug.dtypes))
        filtered = aug.filter(binder.bind(when2).cast("boolean")).select(
            *cells.columns
        )
        from mldb_spark.operators.temporal import latest_cells

        cols: list[str] = info["columns"]  # type: ignore[assignment]
        latest = latest_cells(filtered, row_c, col_c, val_c, ts_c)
        wide = latest.groupBy(F.col(row_c).alias("__cellsRow")).agg(
            *[
                F.max(
                    F.when(F.col(col_c) == c, F.col(val_c))
                ).alias(c)
                for c in cols
            ]
        )
        allrows = cells.select(F.col(row_c).alias("__cellsRow")).distinct()
        wide = allrows.join(wide, "__cellsRow", "left")
        return wide, {**info, "cells": filtered}

    def _rewrite_cells_temporals(
        self, df: DataFrame, stm: ast.SelectStatement, name: str,
        info_override: "dict | None" = None,
    ):
        """Over a register_cells() dataset, temporal_*(x) reduces the
        cell's SUPERPOSITION per row (MLDB-1235; the plain column ref
        already reads GET_LATEST from the wide view). Each distinct
        temporal call becomes a per-(row,column) aggregation over the
        raw cells joined back on the row key; the row form
        temporal_*({*}) AS * expands to one such column per cell
        column. One partial-agg shuffle per distinct temporal
        function — never a per-row Python loop."""
        import dataclasses

        info = info_override or self._cells[name]
        cells: DataFrame = info["cells"]  # type: ignore[assignment]
        row_c, col_c, val_c, ts_c = (
            info["row"], info["column"], info["value"], info["ts"]
        )

        def _star_row(a: ast.Expr) -> bool:
            return (
                isinstance(a, ast.RowLiteral)
                and len(a.fields) == 1
                and a.fields[0][0] == "*"
            )

        # the per-row aggregated wide view for one temporal function,
        # restricted to the named columns
        def _agg_wide(base: str, wanted: list[str], prefix: str) -> DataFrame:
            v, t = F.col(val_c), F.col(ts_c)
            fns = {
                "count": F.count(v), "sum": F.sum(v), "avg": F.avg(v),
                "min": F.min(v), "max": F.max(v),
                "earliest": F.min_by(v, t), "latest": F.max_by(v, t),
                "latest_ts": F.max(t), "earliest_ts": F.min(t),
            }
            per_cell = (
                cells.filter(F.col(col_c).isin(wanted))
                .groupBy(row_c, col_c)
                .agg(fns[base].alias("__tv"))
            )
            return per_cell.groupBy(
                F.col(row_c).alias("__cellsRow")
            ).agg(
                *[
                    F.max(F.when(F.col(col_c) == c, F.col("__tv"))).alias(
                        f"{prefix}{c}"
                    )
                    for c in wanted
                ]
            )

        # temporal_* are PER-ROW reductions, never GROUP BY
        # aggregators — the reference rejects them in grouped selects
        # (MLDB-1491: "Non-aggregator 'temporal_earliest({*})' with
        # GROUP BY clause is not allowed")
        if stm.group_by:
            def _bad_temporal(e: ast.Expr, in_agg: bool):
                if isinstance(e, ast.FunctionCall):
                    if e.name in self._CELL_TEMPORALS and not in_agg:
                        surf = e.raw or e.name
                        arg = (
                            "{*}"
                            if e.args and _star_row(e.args[0])
                            else getattr(e.args[0], "name", "…")
                            if e.args
                            else ""
                        )
                        raise ValueError(
                            f"Non-aggregator '{surf}({arg})' with "
                            "GROUP BY clause is not allowed"
                        )
                    in_agg = in_agg or _is_aggregate(e)
                import dataclasses as _d

                if _d.is_dataclass(e):
                    for f in _d.fields(e):
                        v = getattr(e, f.name)
                        vs = v if isinstance(v, (list, tuple)) else [v]
                        for x in vs:
                            if isinstance(x, ast.Expr):
                                _bad_temporal(x, in_agg)
                            elif isinstance(x, tuple):
                                for y in x:
                                    if isinstance(y, ast.Expr):
                                        _bad_temporal(y, in_agg)

            for it in stm.select:
                if isinstance(it, ast.ExprItem):
                    _bad_temporal(it.expr, False)

        new_select: list[ast.SelectItem] = []
        changed = False
        mapping: list[tuple[ast.Expr, str]] = []
        join_dfs: list[DataFrame] = []
        for i, it in enumerate(stm.select):
            if (
                isinstance(it, ast.ExprItem)
                and it.alias == "*"
                and isinstance(it.expr, ast.FunctionCall)
                and it.expr.name in self._CELL_TEMPORALS
                and len(it.expr.args) == 1
                and _star_row(it.expr.args[0])
            ):
                base = self._CELL_TEMPORALS[it.expr.name]
                prefix = f"__tr{i}_"
                join_dfs.append(
                    _agg_wide(base, list(info["columns"]), prefix)
                )
                new_select.extend(
                    ast.ExprItem(ast.ColumnRef(f"{prefix}{c}"), c)
                    for c in info["columns"]
                )
                changed = True
                continue
            new_select.append(it)

        # scalar temporal calls anywhere in select, WHERE, or ORDER BY
        # (MLDB-605's `WHERE latest_timestamp(imp) <
        # latest_timestamp(click)`) — latest/earliest_timestamp(col)
        # reduce the cell's ts range per row
        ts_fns = {
            "latest_timestamp": "latest_ts",
            "earliest_timestamp": "earliest_ts",
        }

        def _collect(expr: ast.Expr) -> None:
            for n in _walk(expr):
                base = None
                if isinstance(n, ast.FunctionCall) and len(n.args) == 1:
                    if n.name in self._CELL_TEMPORALS:
                        base = self._CELL_TEMPORALS[n.name]
                    elif n.name in ts_fns:
                        base = ts_fns[n.name]
                if (
                    base is not None
                    and isinstance(n.args[0], ast.ColumnRef)
                    and n.args[0].name in info["columns"]
                    and not any(n == m for m, _ in mapping)
                ):
                    cname = f"__tc{len(mapping)}_{n.args[0].name}"
                    join_dfs.append(
                        _agg_wide(base, [n.args[0].name], "").select(
                            "__cellsRow",
                            F.col(n.args[0].name).alias(cname),
                        )
                    )
                    mapping.append((n, cname))
                elif (
                    base in ("latest_ts", "earliest_ts")
                    and _star_row(n.args[0])
                    and not any(n == m for m, _ in mapping)
                ):
                    # latest/earliest_timestamp({*}): the row's full
                    # ts range over every cell (MLDB-998's
                    # min(earliest_timestamp({*})) range query)
                    agg = F.min if base == "earliest_ts" else F.max
                    cname = f"__tc{len(mapping)}_star"
                    join_dfs.append(
                        cells.groupBy(
                            F.col(row_c).alias("__cellsRow")
                        ).agg(agg(F.col(ts_c)).alias(cname))
                    )
                    mapping.append((n, cname))

        for it in new_select:
            if isinstance(it, ast.ExprItem):
                _collect(it.expr)
        if stm.where is not None:
            _collect(stm.where)
        for o in stm.order_by:
            _collect(o.expr)

        new_where = stm.where
        new_order = list(stm.order_by)
        if mapping:
            new_select = [
                dataclasses.replace(it, expr=_substitute(it.expr, mapping))
                if isinstance(it, ast.ExprItem)
                else it
                for it in new_select
            ]
            if new_where is not None:
                new_where = _substitute(new_where, mapping)
            new_order = [
                ast.OrderItem(_substitute(o.expr, mapping), o.ascending)
                for o in stm.order_by
            ]
            changed = True
        if not changed:
            return df, stm
        for jd in join_dfs:
            df = df.join(jd, "__cellsRow", "left")
        return df, dataclasses.replace(
            stm, select=new_select, where=new_where, order_by=new_order
        )

    def _statement(self, stm: ast.SelectStatement, params) -> DataFrame:
        if stm.from_ is None:
            if any(isinstance(it, ast.Wildcard) for it in stm.select):
                # MLDB-1732: the reference rejects SELECT * with no table
                raise ValueError("Wildcard usage requires a FROM statement")
            # … including wildcard fields of row literals
            # (MLDB-1834's SELECT {*})
            for it in stm.select:
                if isinstance(it, ast.ExprItem) and any(
                    isinstance(n, ast.RowLiteral)
                    and any(
                        fn.endswith("*")
                        and isinstance(fx, ast.ColumnRef)
                        and fx.name == fn
                        for fn, fx in n.fields
                    )
                    for n in _walk(it.expr)
                ):
                    raise ValueError("Cannot use wildcards with no FROM clause")
        # FROM merge(...) where every member is a CELLS dataset keeps
        # the merged result in the cell layout (MLDBFB-335: the WHEN /
        # temporal surface must see per-cell timestamps across the
        # merge) — rewrite to a synthetic registered cells dataset so
        # all the cells machinery below applies unchanged
        if (
            isinstance(stm.from_, ast.TableFunction)
            and stm.from_.name == "merge"
            and stm.from_.args
        ):
            _members = []
            for _a in stm.from_.args:
                _nm = (
                    _a if isinstance(_a, str)
                    else _a.name if isinstance(_a, ast.ColumnRef)
                    else None
                )
                if _nm is None or _nm not in self._cells:
                    _members = None
                    break
                _members.append(_nm)
            if _members:
                import dataclasses as _dc

                _synth = self._MERGED_CELLS + "__".join(_members)
                if _synth not in self._cells:
                    self._register_merged_cells(_synth, _members)
                stm = _dc.replace(
                    stm,
                    from_=ast.TableRef(_synth, getattr(stm.from_, "alias", None)),
                )
        df, row_name_col, ts_col, aliases, side_rns = self._resolve_from(stm, params)
        if (
            isinstance(stm.from_, ast.TableRef)
            and stm.from_.name in self._cells
        ):
            import dataclasses as _dc

            cells_override = None
            if stm.when is not None:
                # per-cell WHEN (MLDB-963): filter the superposition
                # first, then everything below sees surviving cells
                df, cells_override = self._apply_cells_when(
                    stm, stm.from_.name, params
                )
                stm = _dc.replace(stm, when=None)
            df, stm = self._rewrite_cells_temporals(
                df, stm, stm.from_.name, cells_override
            )
        # applied-function entities: fn({…})[out] rewrites to an
        # output-column reference after applying the transform once
        df, stm = self._apply_row_functions(df, stm, params)
        # COLUMN EXPR inside expressions expands to explicit fields
        stm = self._expand_expr_column_exprs(df, stm, params)
        binder = Binder(
            df.columns, params, row_name_col, ts_col, dict(df.dtypes), aliases,
            side_row_names=side_rns,
        )

        # WHEN: temporal filter on the row timestamp (tabular layout)
        if stm.when is not None:
            df = df.filter(binder.bind(stm.when).cast("boolean"))
        if stm.where is not None:
            # IN (SELECT …) conjuncts become semi/anti joins (the
            # reference routes these through set-membership
            # generators, core/dataset.cc:1573-1650; Spark's
            # left_semi/left_anti is the distributed equivalent)
            residual: list[ast.Expr] = []
            for conj in _conjuncts(stm.where):
                if isinstance(conj, ast.InSelect):
                    sub = self._statement(conj.subquery, params)
                    if len(sub.columns) != 1:
                        raise ValueError("IN (SELECT …) needs a 1-column subquery")
                    how = "left_anti" if conj.negated else "left_semi"
                    df = df.join(
                        sub, binder.bind(conj.operand) == sub[sub.columns[0]], how
                    )
                else:
                    residual.append(conj)
            if residual:
                combined = residual[0]
                for r in residual[1:]:
                    combined = ast.Binary("and", combined, r)
                df = df.filter(binder.bind(combined).cast("boolean"))

        # rowNumber()/totalRows() (row_number_builtin_fct_test /
        # total_rows_builtin_fct_test): SELECT-only functions over the
        # post-WHERE row set, positioned by the statement's ORDER BY
        # and computed BEFORE LIMIT/OFFSET. Parity cost: both force a
        # single-partition window — use only where the reference's
        # semantics are wanted.
        def _row_fn_names(expr: ast.Expr) -> set[str]:
            return {
                n.name
                for n in _walk(expr)
                if isinstance(n, ast.FunctionCall)
                and n.name in ("rownumber", "totalrows")
            }

        outside: set[str] = set()
        for clause in (
            [stm.where, stm.when, stm.having, stm.named]
            + list(stm.group_by)
            + [o.expr for o in stm.order_by]
            + list(stm.distinct_on)
        ):
            if clause is not None:
                outside |= _row_fn_names(clause)
        if outside:
            pretty = "rowNumber" if "rownumber" in outside else "totalRows"
            raise ValueError(
                f"function {pretty} is only available in SELECT expressions."
            )
        used: set[str] = set()
        for it in stm.select:
            if isinstance(it, ast.ExprItem):
                used |= _row_fn_names(it.expr)
        if used:
            if "totalrows" in used:
                df = df.withColumn(
                    "__totalRows",
                    F.count(F.lit(1)).over(Window.partitionBy(F.lit(1))),
                )
            if "rownumber" in used:
                if stm.order_by:
                    # the window ordering binds BEFORE the select
                    # projection, so an ORDER BY naming a select
                    # alias must be substituted to its source
                    # expression (open schema would otherwise resolve
                    # it to NULL and number rows arbitrarily while
                    # the output still sorts correctly — silent
                    # misnumbering)
                    sel_alias = {
                        it.alias: it.expr
                        for it in stm.select
                        if isinstance(it, ast.ExprItem)
                        and it.alias and it.alias != "*"
                    }

                    def _bind_rn_order(e: ast.Expr) -> Column:
                        if (
                            isinstance(e, ast.ColumnRef)
                            and binder._resolve_name(e.name) is None
                            and e.name.split(".", 1)[0] not in binder.colset
                        ):
                            if e.name in sel_alias:
                                return binder.bind(sel_alias[e.name])
                            raise ValueError(
                                f"rowNumber() ORDER BY column {e.name!r} "
                                "cannot be resolved"
                            )
                        return binder.bind(e)

                    w_order = [
                        _bind_rn_order(o.expr) if o.ascending
                        else F.desc(_bind_rn_order(o.expr))
                        for o in stm.order_by
                    ]
                else:
                    w_order = [F.monotonically_increasing_id()]
                df = df.withColumn(
                    "__rowNumber",
                    F.row_number().over(
                        Window.partitionBy(F.lit(1)).orderBy(*w_order)
                    ),
                )
            binder = Binder(
                df.columns, params, row_name_col, ts_col, dict(df.dtypes), aliases
            )

        is_agg = bool(stm.group_by) or any(
            isinstance(it, ast.ExprItem) and _contains_aggregate(it.expr)
            for it in stm.select
        )

        ordagg_names: list[str] = []
        if (
            is_agg
            and stm.order_by
            and stm.named is None
            and stm.group_by
            and any(
                isinstance(n, ast.FunctionCall)
                and n.name == "rowname"
                and not n.args
                for o in stm.order_by
                for n in _walk(o.expr)
            )
        ):
            # ORDER BY rowName() under a plain GROUP BY orders by the
            # synthesized group-row name — the reference renders it as
            # "[key]" per key, joined with '-' (MLDB-702's
            # `min({*}) … GROUP BY label ORDER BY rowName()`)
            import dataclasses

            def _bracket(e: ast.Expr) -> ast.Expr:
                return ast.Binary(
                    "||",
                    ast.Binary("||", ast.Literal("["), ast.Cast(e, "string")),
                    ast.Literal("]"),
                )

            gname: ast.Expr = _bracket(stm.group_by[0])
            for g in stm.group_by[1:]:
                gname = ast.Binary(
                    "||", ast.Binary("||", gname, ast.Literal("-")), _bracket(g)
                )
            _gname = gname
            stm = dataclasses.replace(
                stm,
                order_by=[
                    ast.OrderItem(
                        _rewrite(
                            o.expr,
                            lambda n: _gname
                            if isinstance(n, ast.FunctionCall)
                            and n.name == "rowname" and not n.args
                            else None,
                        ),
                        o.ascending,
                    )
                    for o in stm.order_by
                ],
            )
        if is_agg and stm.order_by and stm.named is not None:
            # ORDER BY rowName() under GROUP BY + NAMED orders by the
            # NAMED expression itself (MLDB-809's
            # `… NAMED group_key_element(0) GROUP BY label
            #  ORDER BY rowName()`)
            import dataclasses

            named_expr = stm.named
            stm = dataclasses.replace(
                stm,
                order_by=[
                    ast.OrderItem(
                        _rewrite(
                            o.expr,
                            lambda n: named_expr
                            if isinstance(n, ast.FunctionCall)
                            and n.name == "rowname" and not n.args
                            else None,
                        ),
                        o.ascending,
                    )
                    for o in stm.order_by
                ],
            )
        if is_agg and stm.order_by:
            # ORDER BY over aggregates not in the select list
            # (MLDBFB-638's `ORDER BY min(z), y`): compute them as
            # hidden aggregate outputs, sort on those, drop after
            import dataclasses

            sel_map = [
                (it.expr, _item_name(it, j))
                for j, it in enumerate(stm.select)
                if isinstance(it, ast.ExprItem)
            ]
            sel_names = {name for _, name in sel_map}
            extra_items: list[ast.ExprItem] = []
            new_order: list[ast.OrderItem] = []
            for i, o in enumerate(stm.order_by):
                subst = _substitute(o.expr, sel_map)
                if isinstance(subst, ast.ColumnRef) and subst.name in sel_names:
                    # resolves to a select output
                    new_order.append(ast.OrderItem(subst, o.ascending))
                    continue
                # anything else — an aggregate or a key expression not
                # in the select list — becomes a hidden output
                name = f"__ordagg{i}"
                extra_items.append(ast.ExprItem(o.expr, name))
                ordagg_names.append(name)
                new_order.append(
                    ast.OrderItem(ast.ColumnRef(name), o.ascending)
                )
            if extra_items:
                stm = dataclasses.replace(
                    stm,
                    select=list(stm.select) + extra_items,
                    order_by=new_order,
                )

        if is_agg:
            out = self._aggregate_select(df, stm, binder)
        else:
            out = self._plain_select(df, stm, binder, row_name_col)

        if stm.having is not None and not is_agg:
            raise ValueError("HAVING requires GROUP BY/aggregates")

        if stm.distinct_on:
            if not stm.order_by:
                raise ValueError("DISTINCT ON requires ORDER BY")
            # resolve-then-drop: DISTINCT ON keys and ORDER BY exprs may
            # reference source columns the SELECT list dropped
            # (MLDB-1841 test_order: SELECT DISTINCT ON (x) x, z …
            # ORDER BY x, y DESC) — project them as hidden columns,
            # window, order, then drop
            out_binder = Binder(out.columns, params, row_name_col, ts_col)
            hidden: list[Column] = []
            hidden_names: list[str] = []

            def _resolve(e: ast.Expr, tag: str) -> Column:
                if isinstance(e, ast.ColumnRef) and e.name in out.columns:
                    return out_binder.bind(e)
                if is_agg:
                    return binder.bind(e)
                name = f"__{tag}{len(hidden)}"
                hidden.append(binder.bind(e).alias(name))
                hidden_names.append(name)
                return F.col(name)

            keys = [_resolve(e, "dk") for e in stm.distinct_on]
            order = [
                _resolve(o.expr, "ord") if o.ascending
                else F.desc(_resolve(o.expr, "ord"))
                for o in stm.order_by
            ]
            if hidden:
                out = self._plain_select(df, stm, binder, row_name_col, extra_cols=hidden)
            w = Window.partitionBy(*keys).orderBy(*order)
            out = out.withColumn("__rn", F.row_number().over(w)).filter(
                F.col("__rn") == 1
            ).drop("__rn")
            # the statement's ORDER BY also orders the deduped output
            # (the reference sorts before applying numDistinctOnClauses,
            # core/bound_queries.cc:406-640)
            out = out.orderBy(*order)
            if hidden_names:
                out = out.drop(*hidden_names)

        if stm.order_by and not stm.distinct_on:
            out_binder = Binder(out.columns, params, row_name_col, ts_col)
            order_cols = []
            hidden: list[Column] = []
            hidden_names: list[str] = []
            for i, o in enumerate(stm.order_by):
                if isinstance(o.expr, ast.ColumnRef) and o.expr.name in out.columns:
                    c = out_binder.bind(o.expr)
                elif is_agg:
                    c = binder.bind(o.expr)
                else:
                    # resolve-then-drop semantics: sort expressions may
                    # reference source columns the SELECT list dropped —
                    # project them as hidden __ord columns, sort, drop.
                    # Row-valued / mixed-type sort expressions encode
                    # to the reference's cross-type key (MLDB-989);
                    # PATH values order naturally ('9' < '10' —
                    # path_test.cc element ordering).
                    if _is_path_valued(o.expr):
                        from mldb_spark.functions.paths import path_sort_key

                        oc = path_sort_key(binder.bind(o.expr))
                    elif binder._needs_sort_key(o.expr):
                        oc = binder.bind_sortable(o.expr)
                    else:
                        oc = binder.bind(o.expr)
                    hidden.append(oc.alias(f"__ord{i}"))
                    hidden_names.append(f"__ord{i}")
                    c = F.col(f"__ord{i}")
                order_cols.append(c if o.ascending else F.desc(c))
            if hidden:
                out = self._plain_select(df, stm, binder, row_name_col, extra_cols=hidden)
            out = out.orderBy(*order_cols)
            if hidden_names:
                out = out.drop(*hidden_names)
        if ordagg_names:
            out = out.drop(*ordagg_names)
        if stm.offset:
            out = out.offset(stm.offset)
        if stm.limit is not None:
            out = out.limit(stm.limit)
        return out

    def _expand_wildcard(
        self,
        wc: ast.Wildcard,
        columns: list[str],
        table_aliases: frozenset[str] | set[str] = frozenset(),
    ) -> list[Column]:
        excl_exact = {x for x in wc.excluding if not x.endswith("*")}
        excl_pref = [x[:-1] for x in wc.excluding if x.endswith("*")]
        picked = []
        # engine-internal pseudo columns (join row names, hidden sort
        # projections, side-prefixed cells row names) never match
        columns = [c for c in columns if not _hidden_col(c)]
        if wc.qualifier:
            # `q.*`: columns living under the join prefix `q.` if any
            # exist, else the qualifier names the relation itself
            # (a FROM alias) and matches every column (MLDB-761).
            # A qualifier that is NEITHER a join prefix NOR a known
            # FROM alias is an error — `SELECT bogus.* FROM t` must
            # not silently return every column.
            qpref = wc.qualifier + "."
            rpref = _render_path_el(wc.qualifier) + "."
            qcols = [
                c
                for c in columns
                if c.startswith(qpref) or c.startswith(rpref)
            ]
            if qcols:
                columns = qcols
            elif wc.qualifier not in table_aliases:
                raise ValueError(
                    f"unknown table {wc.qualifier!r} in "
                    f"{wc.qualifier}.* (not a FROM alias or join side)"
                )
        for c in columns:
            if wc.prefix and not c.startswith(wc.prefix):
                continue
            if c in excl_exact or any(c.startswith(p) for p in excl_pref):
                continue
            src = F.col(f"`{c}`") if "." in c else F.col(c)
            if wc.rename is not None:
                # y* AS z*: swap the matched prefix in the output name
                picked.append(src.alias(wc.rename + c[len(wc.prefix):]))
            else:
                picked.append(src)
        return picked

    def _expand_expr_column_exprs(self, df, stm, params):
        """Pre-pass: COLUMN EXPR used INSIDE expressions — a
        row-literal field like horizontal_sum({COLUMN EXPR (...)})
        in the SELECT list or WHERE/HAVING/NAMED/ORDER BY clauses
        (MLDB-1172 uses it as a WHERE condition) — expands to
        explicit column fields against the bound dataset before
        binding."""
        clause_exprs = [
            it.expr for it in stm.select if isinstance(it, ast.ExprItem)
        ] + [
            c for c in (stm.where, stm.having, stm.named) if c is not None
        ] + [o.expr for o in stm.order_by]
        if not any(
            isinstance(n, ast.ColumnExprRef)
            for e in clause_exprs
            for n in _walk(e)
        ):
            return stm
        import dataclasses

        def rewrite(e: ast.Expr) -> ast.Expr:
            if isinstance(e, ast.RowLiteral):
                fields = []
                for n, x in e.fields:
                    if isinstance(x, ast.ColumnExprRef):
                        picks = self._expand_column_expr(
                            df, x.item, params, names_only=True
                        )
                        fields.extend(
                            (out, ast.ColumnRef(src)) for src, out in picks
                        )
                    else:
                        fields.append((n, rewrite(x)))
                return dataclasses.replace(e, fields=fields)
            if isinstance(e, ast.Unary):
                return dataclasses.replace(e, operand=rewrite(e.operand))
            if isinstance(e, ast.Binary):
                return dataclasses.replace(
                    e, left=rewrite(e.left), right=rewrite(e.right)
                )
            if isinstance(e, ast.FunctionCall):
                return dataclasses.replace(e, args=[rewrite(a) for a in e.args])
            if isinstance(e, ast.Index):
                return dataclasses.replace(
                    e, operand=rewrite(e.operand), key=rewrite(e.key)
                )
            if isinstance(e, ast.Case):
                return dataclasses.replace(
                    e,
                    operand=rewrite(e.operand) if e.operand else None,
                    branches=[(rewrite(c), rewrite(v)) for c, v in e.branches],
                    otherwise=rewrite(e.otherwise) if e.otherwise else None,
                )
            return e

        new_select = [
            dataclasses.replace(it, expr=rewrite(it.expr))
            if isinstance(it, ast.ExprItem)
            else it
            for it in stm.select
        ]

        def opt(e):
            return rewrite(e) if e is not None else None

        return dataclasses.replace(
            stm,
            select=new_select,
            where=opt(stm.where),
            having=opt(stm.having),
            named=opt(stm.named),
            order_by=[
                dataclasses.replace(o, expr=rewrite(o.expr))
                for o in stm.order_by
            ],
        )

    @staticmethod
    def _is_empty_row_agg(binder, expr) -> bool:
        """True for agg({*}) / agg({x*}) whose wildcard expansion
        matches ZERO value columns (MLDBFB-440: a dataset whose rows
        have no columns) — the item then contributes no output."""
        return (
            isinstance(expr, ast.FunctionCall)
            and _is_aggregate(expr)
            and len(expr.args) == 1
            and isinstance(expr.args[0], ast.RowLiteral)
            and not _agg_row_cells(binder, expr.args[0])
        )

    def _expand_column_expr(
        self, df: DataFrame, item: ast.ColumnExprItem, params: dict,
        names_only: bool = False,
    ) -> list[Column] | list[tuple[str, str]]:
        """Two-phase COLUMN EXPR (SelectExpression.md:44-128): phase 1
        evaluates the clause expressions over column METADATA
        (operators.relational.column_stats — one aggregate pass, one
        metadata-sized collect), phase 2 is a plain pruned projection
        of the picked columns. The data never flows through phase 1.

        Default (non-STRUCTURED) processes every ATOMIC leaf of the
        flattened representation — nested struct fields participate as
        dotted-path columns (SelectExpression.md:105-128); STRUCTURED
        keeps the top-level columns whole so structured values can be
        passed to functions intact. Arrays/maps stay atomic either way
        (Spark schemas are positional, not path-sparse)."""
        from mldb_spark.operators.relational import column_stats
        from mldb_spark.sources.text_io import flatten_struct, leaf_refs

        has_nested = any(hasattr(f.dataType, "fields") for f in df.schema.fields)
        if not item.structured and has_nested:
            ref_map = dict(leaf_refs(df.schema))
            meta_df = flatten_struct(df)
        else:
            ref_map = {c: f"`{c}`" for c in df.columns}
            meta_df = df
        # Phase 1 touches the DATA only for the stats the clause
        # expressions actually reference (optimization r9): a
        # name/type-only COLUMN EXPR (q69, qa29 — the common
        # reference idiom) runs zero data jobs here; rowCount()
        # pulls per-column counts; only an explicit
        # n_distinct_approx reference pays the per-column HLL
        # sketches over the scan.
        need_counts, need_distinct = _column_expr_stat_needs(item)
        stats = column_stats(
            meta_df, need_counts=need_counts, need_distinct=need_distinct
        )
        binder = _ColumnMetaBinder(stats.columns, params)
        if item.where is not None:
            stats = stats.filter(binder.bind(item.where).cast("boolean"))
        order = []
        for o in item.order_by:
            c = binder.bind(o.expr)
            order.append(c if o.ascending else F.desc(c))
        stats = stats.orderBy(*order, "columnName") if order else stats.orderBy("columnName")
        name_col = (
            binder.bind(item.as_expr).cast("string")
            if item.as_expr is not None
            else F.col("columnName")
        )
        rows = stats.select(F.col("columnName"), name_col.alias("__out")).collect()
        end = item.offset + item.limit if item.limit is not None else None
        rows = rows[item.offset : end]
        if not rows:
            raise ValueError("COLUMN EXPR selected no columns")
        if names_only:
            # row-literal context (MLDB-1172): (source, output) names
            if item.select_expr is not None:
                raise ValueError(
                    "COLUMN EXPR (SELECT ...) not supported inside row literals"
                )
            return [(r["columnName"], r["__out"]) for r in rows]
        if item.select_expr is None:
            return [
                F.col(ref_map[r["columnName"]]).alias(r["__out"]) for r in rows
            ]
        # (SELECT f(value())): apply the transform per picked column —
        # value() binds to the column itself, columnName() to its name
        out = []
        for r in rows:
            vb = _ColumnValueBinder(
                self_columns=r["columnName"],
                params=params,
                ref=ref_map[r["columnName"]],
            )
            out.append(vb.bind(item.select_expr).alias(r["__out"]))
        return out

    _SPREAD_KEY_CAP = 10_000

    def _spread_columns(self, df: DataFrame) -> DataFrame:
        """Expand __spread{i} temp columns produced by `expr AS *`
        select items: a struct spreads its fields, a map its keys
        (tokenize(...) AS * — MLDB-1594/-2186). Map expansion needs
        the key vocabulary, collected in one distinct pass and capped
        at _SPREAD_KEY_CAP (the same metadata-sized collect COLUMN
        EXPR does); missing keys surface as NULL cells, matching the
        reference's sparse rows."""
        spreads = [c for c in df.columns if c.startswith("__spread")]
        if not spreads:
            return df
        dtypes = dict(df.dtypes)
        for s in spreads:
            others = [
                F.col(f"`{c}`") if "." in c else F.col(c)
                for c in df.columns
                if c != s and not c.startswith("__spread")
            ] + [F.col(x) for x in spreads if x != s and x in df.columns]
            dt = dtypes[s]
            if dt.startswith("struct"):
                df = df.select(*others, f"{s}.*")
            elif dt.startswith("map"):
                distinct = df.select(F.explode(F.map_keys(F.col(s)))).distinct()
                keys = local_rows(distinct, self._SPREAD_KEY_CAP, "AS * map keys")
                if keys is None:
                    raise ValueError(
                        f"AS * would spread more than {self._SPREAD_KEY_CAP} "
                        "columns; aggregate the map instead"
                    )
                keys = sorted(keys.column(0).to_pylist())
                df = df.select(*others, *[F.col(s)[k].alias(k) for k in keys])
            elif dt.startswith("array"):
                # embedding spread (MLDB-1317 tensors): element i →
                # column 'i'; a nested embedding spreads to dotted
                # 'i.j'. Lengths come from one 1-row aggregate —
                # bounded by the same spread cap as maps.
                inner = dt[len("array<"):-1]
                n = df.agg(F.max(F.size(F.col(s)))).collect()[0][0] or 0
                if inner.startswith("array"):
                    m = (
                        df.agg(
                            F.max(
                                F.array_max(
                                    F.transform(
                                        F.col(s), lambda x: F.size(x)
                                    )
                                )
                            )
                        ).collect()[0][0]
                        or 0
                    )
                    if n * m > self._SPREAD_KEY_CAP:
                        raise ValueError(
                            f"AS * would spread more than "
                            f"{self._SPREAD_KEY_CAP} columns"
                        )
                    cols = [
                        F.col(s)[i][j].alias(f"{i}.{j}")
                        for i in range(n)
                        for j in range(m)
                    ]
                else:
                    if n > self._SPREAD_KEY_CAP:
                        raise ValueError(
                            f"AS * would spread more than "
                            f"{self._SPREAD_KEY_CAP} columns"
                        )
                    cols = [F.col(s)[i].alias(str(i)) for i in range(n)]
                df = df.select(*others, *cols)
            else:
                raise ValueError("AS * needs a row-valued expression")
        return df

    def _plain_select(self, df, stm, binder, row_name_col, extra_cols=()) -> DataFrame:
        cols: list[Column] = []
        # NAMED REPLACES the row naming: the source's rowName column
        # must not survive wildcard expansion next to the new one
        # (MLDB-1810's `select * named [...] from row_dataset(...)`)
        wc_columns = df.columns
        if stm.named is not None and row_name_col:
            wc_columns = [c for c in wc_columns if c != row_name_col]
        for i, it in enumerate(stm.select):
            if isinstance(it, ast.Wildcard):
                cols.extend(self._expand_wildcard(it, wc_columns, binder.table_aliases))
            elif isinstance(it, ast.ColumnExprItem):
                cols.extend(self._expand_column_expr(df, it, binder.params))
            else:
                name = f"__spread{i}" if it.alias == "*" else _item_name(it, i)
                cols.append(binder.bind(it.expr).alias(name))
        if stm.named is not None:
            named = binder.bind(stm.named)
            # a NULL row name is a runtime error in the reference
            # (MLDBFB-345), not a silently-null rowName
            cols.append(
                F.when(named.isNotNull(), _render_named(named, stm.named))
                .otherwise(
                    F.raise_error(
                        F.lit("Can't create a row with a null name")
                    )
                )
                .alias("rowName")
            )
        # without NAMED, rowName is not carried implicitly
        return self._spread_columns(df.select(*cols, *extra_cols))

    def _aggregate_select(self, df, stm, binder) -> DataFrame:
        # group keys get internal __g{i} aliases so the post-agg
        # select never collides with source column names; select
        # items that syntactically equal a key (dataclass AST
        # equality) are rewritten to the key reference — the
        # reference's GroupByKeyExpression rewrite
        # (core/bound_queries.cc:1683-1703).
        group_cols = [binder.bind(g).alias(f"__g{i}") for i, g in enumerate(stm.group_by)]
        key_map = [(g, f"__g{k}") for k, g in enumerate(stm.group_by)]
        # group_key_element(n) reads the n-th GROUP BY key
        # (MLDB-809's NAMED group_key_element(0); sql registration in
        # sql/builtin_functions.cc) — rewrite it like any key-equal
        # subtree
        key_map.extend(
            (ast.FunctionCall("group_key_element", [ast.Literal(k)]), f"__g{k}")
            for k in range(len(stm.group_by))
        )
        # grouped rowName() is the JSON-encoded key LIST — '["cat"]',
        # '[1,2]' — not the bare key (bound_queries.cc:1341-1355's
        # getGroupRowName; MLDB-1500 pins '["AskReddit"]'). Prepended
        # so it wins over a GROUP BY rowName() key's own rewrite.
        key_map.insert(0, (ast.FunctionCall("rowname", []), "__grn"))
        # a ColumnRef key matches select items under ANY qualification
        # spelling — bare, alias-qualified, dotted alias (MLDB-835's
        # `SELECT "a.b" … GROUP BY "q.r"."a.b"`): map every
        # physically-equivalent form to the same key slot
        for k, g in enumerate(stm.group_by):
            if isinstance(g, ast.ColumnRef):
                phys = binder._resolve_name(g.name)
                if phys:
                    variants = {phys} | {
                        v
                        for a in binder.table_aliases
                        for v in (
                            f"{a}.{phys}",
                            _render_path_el(a) + "." + phys,
                            _pjoin(a, phys),
                        )
                    }
                    key_map.extend(
                        (ast.ColumnRef(v), f"__g{k}")
                        for v in variants
                        if v != g.name
                    )
        agg_cols: list[Column] = []
        items: list[tuple[str, ast.Expr | None]] = []  # (name, post-agg expr or None)
        for i, it in enumerate(stm.select):
            if isinstance(it, ast.Wildcard):
                raise ValueError("wildcard select not allowed with GROUP BY")
            name = f"__spread{i}" if it.alias == "*" else _item_name(it, i)
            if _contains_aggregate(it.expr):
                if self._is_empty_row_agg(binder, it.expr):
                    # agg({*}) over a dataset with no value columns
                    # contributes NO output columns (MLDBFB-440: one
                    # row, no columns — not an error, not an empty
                    # struct column)
                    continue
                agg_cols.append(binder.bind(it.expr).alias(name))
                items.append((name, None))
            else:
                # GroupByKeyExpression rewrite (core/bound_queries.cc:
                # 1683-1703): any subtree equal to a GROUP BY key
                # becomes a key reference, so EXPRESSIONS OF keys are
                # legal select items; remaining bare column refs mean
                # the item isn't derivable from the keys — error.
                rewritten = _substitute(it.expr, key_map)
                stray = [
                    n.name
                    for n in _walk(rewritten)
                    if isinstance(n, ast.ColumnRef) and not n.name.startswith("__g")
                ]
                if stray:
                    raise ValueError(
                        f"select item {name!r} is neither an aggregate nor a "
                        f"function of the GROUP BY keys (free columns: {stray})"
                    )
                items.append((name, rewritten))
        if stm.named is not None:
            # NAMED under GROUP BY (MLDBFB-650's
            # `x NAMED min(rowName()) GROUP BY x`): an aggregate
            # NAMED computes per group; otherwise it must derive
            # from the keys like any select item
            if _contains_aggregate(stm.named):
                agg_cols.append(
                    _render_named(binder.bind(stm.named), stm.named).alias(
                        "rowName"
                    )
                )
                items.append(("rowName", None))
            else:
                items.append(
                    ("rowName", _substitute(stm.named, key_map))
                )
        if not agg_cols:
            out = df.select(*group_cols).distinct()
        else:
            out = df.groupBy(*group_cols).agg(*agg_cols)
        # materialize the grouped row name (JSON key list) for the
        # rowName() rewrite above; each key renders as a JSON scalar
        # (strings quoted+escaped, numbers bare, nulls literal)
        scalars = [
            F.expr(
                f"substring(to_json(named_struct('v', `__g{k}`), "
                f"map('ignoreNullFields', 'false')), 6, "
                f"length(to_json(named_struct('v', `__g{k}`), "
                f"map('ignoreNullFields', 'false'))) - 6)"
            )
            for k in range(len(stm.group_by))
        ]
        out = out.withColumn(
            "__grn",
            F.concat(F.lit("["), F.concat_ws(",", *scalars), F.lit("]")),
        )
        post = Binder(out.columns, binder.params, dtypes=dict(out.dtypes))
        key_cols = [f"__g{k}" for k in range(len(stm.group_by))]
        final = out.select(
            *[
                F.col(name)
                if expr is None
                else (
                    # non-aggregate NAMED derives from the keys; the
                    # value still renders through the path quoting
                    # rule like every other row name (MLDB-1678)
                    _render_named(
                        post.bind(expr), expr, post._static_dtype(expr)
                    )
                    if name == "rowName" and stm.named is not None
                    else post.bind(expr)
                ).alias(name)
                for name, expr in items
            ],
            # keep the group keys visible for HAVING, dropped below
            *[F.col(k) for k in key_cols],
        )
        if stm.having is not None:
            # HAVING binds in the post-aggregation scope: select
            # aliases are visible, aggregate expressions that
            # textually match a select item are rewritten to that
            # item's output column, and GROUP BY key expressions are
            # rewritten to the key (MLDB-2111's
            # `GROUP BY x+1 HAVING x+1 = 3`).
            select_map = [
                (it.expr, _item_name(it, j))
                for j, it in enumerate(stm.select)
                if isinstance(it, ast.ExprItem)
            ]
            having = _substitute(stm.having, select_map)
            having = _substitute(having, key_map)
            if _contains_aggregate(having):
                raise ValueError(
                    "HAVING aggregates must also appear in the SELECT list"
                )
            final = final.filter(Binder(final.columns).bind(having).cast("boolean"))
        return self._spread_columns(final.drop(*key_cols))
