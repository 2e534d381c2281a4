"""AST node types for the MLDB SQL dialect.

Mirrors the reference's expression classes
(sql/sql_expression_operations.h) and SelectStatement
(sql/sql_expression.h:1764-1791) at the level needed for
translation; deliberately small dataclasses, no behavior.
"""

from __future__ import annotations

from dataclasses import dataclass, field


class Expr:
    pass


@dataclass
class Literal(Expr):
    value: object  # None | bool | int | float | str


@dataclass
class ColumnRef(Expr):
    name: str  # dotted path allowed


@dataclass
class Param(Expr):
    name: str  # $name


@dataclass
class Unary(Expr):
    op: str  # '-', 'NOT', '~'
    operand: Expr


@dataclass
class Binary(Expr):
    op: str  # arithmetic/comparison/boolean/bitwise
    left: Expr
    right: Expr


@dataclass
class IsTest(Expr):
    operand: Expr
    negated: bool
    kind: str  # 'NULL','TRUE','FALSE','STRING','NUMBER','INTEGER','TIMESTAMP'


@dataclass
class Between(Expr):
    operand: Expr
    low: Expr
    high: Expr
    negated: bool = False


@dataclass
class InList(Expr):
    operand: Expr
    items: list[Expr]
    negated: bool = False


@dataclass
class InSelect(Expr):
    operand: Expr
    subquery: "SelectStatement"
    negated: bool = False


@dataclass
class InKeysValues(Expr):
    operand: Expr
    source: Expr  # a map-typed expression
    which: str  # 'keys' | 'values'
    negated: bool = False


@dataclass
class LikeOp(Expr):
    operand: Expr
    pattern: Expr
    negated: bool = False


@dataclass
class Case(Expr):
    operand: Expr | None  # CASE x WHEN … vs CASE WHEN …
    branches: list[tuple[Expr, Expr]]
    otherwise: Expr | None


@dataclass
class Cast(Expr):
    operand: Expr
    type_name: str  # string|integer|number|boolean|timestamp


@dataclass
class FunctionCall(Expr):
    name: str
    args: list[Expr]
    # raw surface spelling — the reference's function names are
    # case-sensitive (MLDB-957); compare=False keeps structural
    # equality (GROUP BY key rewrites) spelling-insensitive
    raw: str | None = field(default=None, compare=False)


@dataclass
class EmbeddingLiteral(Expr):
    items: list[Expr]  # [1,2,3]


@dataclass
class RowLiteral(Expr):
    fields: list[tuple[str, Expr]]  # {a: 1, b: x+1}


@dataclass
class IntervalLiteral(Expr):
    """INTERVAL '<spec>' — (months, days, seconds) triple parsed from
    the reference's unit grammar (sql/interval.cc:18-113)."""

    months: int
    days: int
    seconds: float


@dataclass
class SelectItem:
    pass


@dataclass
class ExprItem(SelectItem):
    expr: Expr
    alias: str | None
    # surface spelling of an unnamed item — the reference's output
    # column name for it (MLDB-195); None when aliased or synthesized
    surface: str | None = field(default=None, compare=False)


@dataclass
class Index(Expr):
    """Postfix output extraction: fn({...})[accessor] / expr[key]
    (reference sql/sql_expression_operations.h:488-531)."""

    operand: Expr
    key: Expr


@dataclass
class Wildcard(SelectItem):
    prefix: str  # '' for bare *
    excluding: list[str] = field(default_factory=list)  # names or prefixes 'p*'
    rename: str | None = None  # 'y* AS z*' → prefix='y', rename='z'
    qualifier: str | None = None  # 'blah.*' → 'blah' (table-scoped)


@dataclass
class RowNameItem(ExprItem):
    """`rowName() AS __rowName` (or another alias), which selects nothing
    where rowName() does not bind. The parser never produces it."""

    expr: Expr = field(default_factory=lambda: FunctionCall("rowname", [], "rowName"))
    alias: str | None = "__rowName"


@dataclass
class ColumnExprItem(SelectItem):
    """COLUMN EXPR (AS name WHERE cond ORDER BY ... OFFSET n LIMIT m)
    — programmatic column selection (reference SelectExpression.md:
    44-128). Clause expressions run over column METADATA (columnName,
    rowCount, ...), not row data."""

    as_expr: Expr | None = None
    where: Expr | None = None
    order_by: list["OrderItem"] = field(default_factory=list)
    offset: int = 0
    limit: int | None = None
    structured: bool = False
    select_expr: Expr | None = None  # (SELECT f(value())) transform


@dataclass
class ColumnExprRef(Expr):
    """COLUMN EXPR used INSIDE an expression — a row-literal field
    like horizontal_sum({COLUMN EXPR (WHERE ...)}) (MLDB-1172). The
    translator expands it against the bound dataset's columns before
    binding."""

    item: "ColumnExprItem"


@dataclass
class RowWildcard(Expr):
    """A wildcard row-literal field WITH exclusions —
    {* EXCLUDING (x)} / {p* EXCLUDING (p.q, r*)} (MLDB-945's
    classifier trainingData `{* EXCLUDING (x)} as features`). The
    plain {*}/{p*} forms keep their legacy ColumnRef encoding."""

    prefix: str = ""
    excluding: list[str] = field(default_factory=list)


@dataclass
class TableRef:
    name: str
    alias: str | None = None


@dataclass
class TableFunction:
    """FROM-clause dataset function: merge(ds…), sample(ds, frac
    [, seed]), transpose(ds) (reference
    sql/builtin_dataset_functions.cc:107-213)."""

    name: str
    args: list[object]  # dataset names (str) or numeric literals
    alias: str | None = None


@dataclass
class Join:
    left: "TableRef | Join"
    right: TableRef
    kind: str  # inner|left|right|full|cross
    on: Expr | None


@dataclass
class OrderItem:
    expr: Expr
    ascending: bool = True


@dataclass
class SelectStatement:
    select: list[SelectItem]
    distinct_on: list[Expr] = field(default_factory=list)
    named: Expr | None = None
    from_: "TableRef | Join | SelectStatement | None" = None
    from_alias: str | None = None
    when: Expr | None = None
    where: Expr | None = None
    group_by: list[Expr] = field(default_factory=list)
    having: Expr | None = None
    order_by: list[OrderItem] = field(default_factory=list)
    limit: int | None = None
    offset: int | None = None
