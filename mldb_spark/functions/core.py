"""Core scalar functions from the reference's builtin library.

Reference: /root/reference sql/builtin_functions.cc (math/statistics
families, registration sites cited per function). All are pure Column
expressions — they inline into whole-stage codegen, nothing crosses
into Python at execution time.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize(x: Column, step: Column | float) -> Column:
    """Round x to the nearest multiple of step.

    Reference: quantize, sql/builtin_functions.cc:3133 region.
    """
    step = F.lit(step) if not isinstance(step, Column) else step
    return F.round(x / step) * step


def clamp(x: Column, lo: Column | float, hi: Column | float) -> Column:
    """Clamp x into [lo, hi]; NULL bounds leave that side open.

    Reference: clamp, sql/builtin_functions.cc:3133.
    """
    lo = F.lit(lo) if not isinstance(lo, Column) else lo
    hi = F.lit(hi) if not isinstance(hi, Column) else hi
    return F.least(F.greatest(x, lo), hi)


def replace_not_finite(x: Column, repl: Column | float) -> Column:
    """Replace NaN/inf with repl (reference replace_not_finite)."""
    repl = F.lit(repl) if not isinstance(repl, Column) else repl
    return F.when(F.isnan(x) | x.isin(float("inf"), float("-inf")), repl).otherwise(x)


def binomial_lb_80(trials: Column, successes: Column) -> Column:
    """Wilson score 80% lower bound on a binomial proportion.

    Reference: binomial_lb_80, sql/builtin_functions.cc:946. z for 80%
    two-sided = 1.281551565545.
    """
    return _wilson(trials, successes, lower=True)


def binomial_ub_80(trials: Column, successes: Column) -> Column:
    """Wilson score 80% upper bound (sql/builtin_functions.cc:947)."""
    return _wilson(trials, successes, lower=False)


def _wilson(n: Column, k: Column, lower: bool) -> Column:
    z = F.lit(1.281551565545)
    p = k / n
    denom = F.lit(1.0) + z * z / n
    center = p + z * z / (F.lit(2.0) * n)
    margin = z * F.sqrt(p * (F.lit(1.0) - p) / n + z * z / (F.lit(4.0) * n * n))
    return (center - margin) / denom if lower else (center + margin) / denom


def jaccard_index(a: Column, b: Column) -> Column:
    """Jaccard similarity of two array columns as sets.

    Reference: jaccard_index, sql/builtin_functions.cc:1337 (operates
    on rows-as-sets; here the Spark-native form takes arrays).
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)


def geo_distance(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Haversine distance in meters.

    Reference: geo_distance, sql/builtin_geo_functions.cc (286 LoC file).
    """
    r = F.lit(6371000.0)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2)) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return r * F.lit(2.0) * F.asin(F.sqrt(a))


def _ring_crossings_odd(ring: Column, lat: Column, lon: Column) -> Column:
    """Odd-crossings (ray-cast) test for one GeoJSON ring
    (array of [lon, lat] points, implicitly closed): true when the
    point is inside the ring. Pure JVM higher-order functions."""
    # edges = zip(ring, rotate(ring, 1)); the rotation closes the loop
    rot = F.concat(F.slice(ring, 2, F.size(ring) - 1), F.slice(ring, 1, 1))
    edges = F.zip_with(
        ring,
        rot,
        lambda a, b: F.struct(
            a[0].alias("x1"), a[1].alias("y1"), b[0].alias("x2"), b[1].alias("y2")
        ),
    )
    hits = F.filter(
        edges,
        lambda e: ((e["y1"] > lat) != (e["y2"] > lat))
        & (
            lon
            < (e["x2"] - e["x1"]) * (lat - e["y1"]) / (e["y2"] - e["y1"])
            + e["x1"]
        ),
    )
    return F.size(hits) % 2 == 1


def st_contains_point(rings: Column, lat: Column, lon: Column, multi: bool = False) -> Column:
    """ST_Contains_Point (sql/builtin_geo_functions.cc:71-282):
    point-in-polygon over GeoJSON coordinates. `rings` is the GeoJSON
    `coordinates` member — for a Polygon an array of rings (ring 0
    exterior, the rest holes, RFC 7946 §3.1.6), for a MultiPolygon
    (multi=True) an array of polygons, any of which may contain.
    Points are [lon, lat] pairs, rings implicitly closed.

    Divergence note: the reference tests on the S2 sphere; this is
    planar ray casting — identical verdicts except for polygons
    spanning the antimeridian or with >~100 km edge curvature, the
    standard trade for a codegen'd JVM expression (no geometry lib in
    the row path)."""

    def poly_contains(poly: Column) -> Column:
        outer = _ring_crossings_odd(F.element_at(poly, 1), lat, lon)
        holes = F.filter(
            F.slice(poly, 2, F.greatest(F.size(poly) - 1, F.lit(0))),
            lambda ring: _ring_crossings_odd(ring, lat, lon),
        )
        return outer & (F.size(holes) == 0)

    if multi:
        return F.size(F.filter(rings, poly_contains)) > 0
    return poly_contains(rings)


def likelihood_ratio(outcome: Column, feature: Column) -> dict[str, Column]:
    """Log-likelihood ratio of a boolean feature given a boolean
    outcome: ln(P(feature|outcome) / P(feature|not outcome)), from
    the four cell counts of the 2x2 contingency table.

    Reference: the likelihood_ratio aggregate
    (sql/builtin_aggregators.cc:947, undocumented upstream); this is
    the standard log-LR it computes, exposed as aggregate Columns so
    it runs inside any groupBy. Returns the component counts too —
    at scale you keep them (they re-aggregate; the ratio itself
    doesn't)."""
    o = outcome.cast("boolean")
    f = feature.cast("boolean")
    n_to = F.sum((o & f).cast("long"))
    n_o = F.sum(o.cast("long"))
    n_tn = F.sum((~o & f).cast("long"))
    n_n = F.sum((~o).cast("long"))
    llr = F.log((n_to / n_o) / (n_tn / n_n))
    return {"n_true_outcome": n_o, "n_feat_true": n_to, "n_false_outcome": n_n,
            "n_feat_false": n_tn, "llr": llr}


def row_hash(key: Column) -> Column:
    """Deterministic 64-bit row hash.

    Reference: rowHash() pseudo-column (doc ValueExpression.md
    §Dataset-provided functions) used for stable sampling and implicit
    ORDER BY tiebreaks (core/bound_queries.cc:1139-1142). xxhash64 is
    Spark-native and stable across partitions/executors, but not
    portable: a cross-engine (duckdb-oracle) check needs an md5-based
    hash, which any engine with md5() can replay.
    """
    return F.xxhash64(key)


# -- date_part / date_trunc (reference unit semantics) ------------------

_TZ_RE = None  # compiled lazily below


def tz_offset_minutes(tz: str) -> int:
    """Parse an ISO-8601 timezone offset ('+01', '-0100', '+01:30')
    into the minutes date_part/date_trunc ADD to the timestamp.
    The reference's Iso8601Parser::matchTimezone (types/date.cc:
    1776-1796) NEGATES the sign — the convention that turns a
    local-time suffix into a to-UTC correction — and date_part
    reuses it verbatim, so '-0100' shifts +1h (MLDB-906 pins
    hour 15 → 16)."""
    import re as _re

    global _TZ_RE
    if _TZ_RE is None:
        _TZ_RE = _re.compile(r"^([+-])(\d{1,2}):?(\d{2})?$")
    if tz in ("Z", "z", ""):
        return 0
    m = _TZ_RE.match(tz)
    if not m:
        raise ValueError(f"bad timezone offset {tz!r}")
    sign = 1 if m.group(1) == "-" else -1
    return sign * (int(m.group(2)) * 60 + int(m.group(3) or 0))


def _with_tz(c: Column, tz_minutes: int) -> Column:
    if not tz_minutes:
        return c
    return c + F.make_dt_interval(F.lit(0), F.lit(0), F.lit(tz_minutes), F.lit(0.0))


def mldb_date_part(unit: str, c: Column, tz_minutes: int = 0) -> Column:
    """date_part with the reference's unit table (types/date.cc:714-755
    Date::get; sql/builtin_functions.cc:1473 date_part). Divergences
    from ANSI worth naming: doy and week are 0-based (tm_yday;
    week = doy/7 with Sunday-agnostic 7-day blocks), quarter is the
    reference's integer (month/4)+1 (July lands in quarter 2), dow is
    0=Sunday, isodow 1=Monday..7=Sunday, isodoy is 1-based within the
    ISO year, millisecond/microsecond are the sub-second fraction."""
    u = unit.lower()
    c = _with_tz(c, tz_minutes)
    if u == "microsecond":
        out = F.unix_micros(c) % 1_000_000
    elif u == "millisecond":
        out = (F.unix_micros(c) % 1_000_000) / 1000
        out = F.floor(out)
    elif u == "second":
        out = F.second(c)
    elif u == "minute":
        out = F.minute(c)
    elif u == "hour":
        out = F.hour(c)
    elif u == "day":
        out = F.dayofmonth(c)
    elif u == "dow":
        out = F.dayofweek(c) - 1
    elif u == "doy":
        out = F.dayofyear(c) - 1
    elif u == "isodow":
        out = F.weekday(c) + 1
    elif u == "isodoy":
        out = (F.weekofyear(c) - 1) * 7 + F.weekday(c) + 1
    elif u == "week":
        out = F.floor((F.dayofyear(c) - 1) / 7)
    elif u == "isoweek":
        out = F.weekofyear(c)
    elif u == "month":
        out = F.month(c)
    elif u == "quarter":
        out = F.floor(F.month(c) / 4) + 1
    elif u == "year":
        out = F.year(c)
    elif u == "isoyear":
        y, w, mth = F.year(c), F.weekofyear(c), F.month(c)
        out = (
            F.when((w == 1) & (mth == 12), y + 1)
            .when((mth == 1) & (w > 5), y - 1)
            .otherwise(y)
        )
    else:
        raise ValueError(f"unknown date_part unit {unit!r}")
    return out.cast("int")


def mldb_date_trunc(unit: str, c: Column, tz_minutes: int = 0) -> Column:
    """date_trunc with the reference's unit table (types/date.cc:758-846
    Date::trunc): week truncates to the previous SUNDAY, isoweek to
    the previous Monday, quarter to the reference's (quarter-1)*3
    month (December -> September 1st), isoyear to the Monday opening
    ISO week 1. dow/doy/isodow/isodoy truncate like day."""
    u = unit.lower()
    c = _with_tz(c, tz_minutes)
    if u == "microsecond":
        return c  # Spark timestamps already have microsecond grain
    if u == "millisecond":
        return F.timestamp_micros(
            (F.floor(F.unix_micros(c) / 1000) * 1000).cast("long")
        )
    if u in ("second", "minute", "hour", "month", "year"):
        return F.date_trunc(u, c)
    if u in ("day", "dow", "doy", "isodow", "isodoy"):
        return F.date_trunc("day", c)
    if u == "week":
        # previous Sunday (Date::trunc WEEK subtracts weekday() days)
        return F.to_timestamp(F.date_sub(F.to_date(c), F.dayofweek(c) - 1))
    if u == "isoweek":
        # previous Monday — Spark's week trunc
        return F.date_trunc("week", c)
    if u == "quarter":
        # reference quirk: month = (quarter-1)*3 with quarter =
        # month/4+1, so December truncates to September 1st (months
        # 1-3 clamp to January — boost would reject month 0)
        m0 = (F.floor(F.month(c) / 4)) * 3
        m0 = F.greatest(m0, F.lit(1))
        return F.to_timestamp(
            F.concat_ws(
                "-",
                F.year(c).cast("string"),
                F.lpad(m0.cast("string"), 2, "0"),
                F.lit("01"),
            )
        )
    if u == "isoyear":
        # back to the Monday opening ISO week 1 of the ISO year
        isodoy = (F.weekofyear(c) - 1) * 7 + F.weekday(c) + 1
        return F.to_timestamp(F.date_sub(F.to_date(c), isodoy - 1))
    raise ValueError(f"unknown date_trunc unit {unit!r}")
