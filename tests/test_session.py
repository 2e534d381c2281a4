"""Session-level behaviour that `get_spark` fixes at build time."""

from __future__ import annotations


def _compiles(spark) -> int:
    """Classes Spark's code generator has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_plans_reuse_generated_code(spark):
    """A plan run again in a warm session reuses its generated class.

    Spark caches compiled whole-stage-codegen classes by source text in
    a cache bounded by `spark.sql.codegen.cache.maxEntries` (default
    100). The gates' working set is far larger (about 1,400 distinct
    classes over the 131 gates), so at the default every warm pass
    recompiled what the last pass had evicted. 120 distinct plans, each
    with its own inlined literal and so its own class, overflow the
    default cache; the second pass over them must compile nothing."""
    from pyspark.sql import functions as F

    plans = [spark.range(4).select((F.col("id") * i + 7).alias("x")) for i in range(120)]
    for df in plans:
        df.collect()
    before = _compiles(spark)
    for i, df in enumerate(plans):
        assert [r.x for r in df.collect()] == [n * i + 7 for n in range(4)]
    assert _compiles(spark) - before == 0
