"""session.local_rows: the one bounded collect out of Spark."""

from __future__ import annotations

import datetime as dt
import logging
import math

from mldb_spark.session import local_frame, local_rows


def _same(a, b) -> bool:
    """Equality that also holds NaN equal to NaN, inside lists too."""
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a):
        return math.isnan(b)
    return type(a) is type(b) and a == b


def test_cap_is_inclusive(spark):
    df = spark.range(5)
    table = local_rows(df, 5, "five rows")
    assert table is not None and table.column(0).to_pylist() == [0, 1, 2, 3, 4]
    assert local_rows(df, 4, "five rows") is None
    empty = local_rows(df.limit(0), 0, "no rows")
    assert empty is not None and empty.num_rows == 0


def test_values_equal_collect(spark):
    """The column types the callers read come back as collect() gives
    them: strings, bigints with nulls, doubles with NaN, arrays of
    double and float, dates."""
    schema = (
        "s string, n bigint, d double, ad array<double>, af array<float>, day date"
    )
    rows = [
        ("a", 1, 0.5, [1.0, 2.5], [0.25, 3.0], dt.date(2020, 1, 31)),
        ("é", None, float("nan"), [float("nan")], [1e-3], dt.date(1969, 12, 31)),
        (None, -(2**62), None, None, [None, 2.0], None),
        ("", 0, -0.0, [], [], dt.date(2400, 2, 29)),
    ]
    df = local_frame(spark, rows, schema).orderBy("n")
    table = local_rows(df, 10, "typed rows")
    collected = df.collect()
    for i, name in enumerate(df.columns):
        got = table.column(name).to_pylist()
        want = [r[i] for r in collected]
        assert _same(got, want), name


def test_one_record_per_call_names_the_regime(spark, caplog):
    df = spark.range(3)
    with caplog.at_level(logging.DEBUG, logger="mldb_spark.session"):
        local_rows(df, 3, "probe-local")
        local_rows(df, 2, "probe-over")
    msgs = [r.getMessage() for r in caplog.records if r.name == "mldb_spark.session"]
    assert msgs == [
        "local_rows probe-local: local, 3 rows read, cap 3",
        "local_rows probe-over: over cap, 3 rows read, cap 2",
    ]
