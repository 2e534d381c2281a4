"""The layers the traced run measures, named after this repo's modules,
and the per-layer metrics every workload emits.

Every workload emits every metric; a layer a workload does not use
reports 0. Totals are per round: one pass of the gate list in
`batch_pipeline`, one fixed request mix in `sql_serve`.
"""

from __future__ import annotations

from perfbench.trace import Tracer

ML_FNS = (
    "svd_train",
    "kmeans_train",
    "tsne_train",
    "classifier_train",
    "random_forest_train",
    "svm_train",
    "gaussian_clustering_train",
    "pca_train",
)

# (module, function, span). q76 builds its IVF index and searches it
# directly, so both halves report under the composed kernel's name.
FUNCTIONS = (
    ("mldb_spark.dialect.parser", "parse_statement", "dialect.parse"),
    ("mldb_spark.rest", "render_rows", "rest.render"),
    *(("mldb_spark.ml.procedures", fn, f"ml.{fn}") for fn in ML_FNS),
    ("mldb_spark.dedup", "connected_components", "dedup.connected_components"),
    ("mldb_spark.dedup", "minhash_near_duplicates", "dedup.minhash_near_duplicates"),
    ("mldb_spark.dedup", "simhash_pairs", "dedup.simhash_pairs"),
    ("mldb_spark.similarity", "semantic_dedup", "similarity.semantic_dedup"),
    (
        "mldb_spark.similarity",
        "embedding_cosine_near_duplicates",
        "similarity.embedding_cosine_near_duplicates",
    ),
    ("mldb_spark.similarity", "ivf_topk", "similarity.ivf_topk"),
    ("mldb_spark.similarity", "ivf_index", "similarity.ivf_topk"),
    ("mldb_spark.similarity", "ivf_search", "similarity.ivf_topk"),
    ("mldb_spark.corpus", "decontaminate", "corpus.decontaminate"),
    ("mldb_spark.corpus", "dedup_lines", "corpus.dedup_lines"),
)

METHODS = (
    ("mldb_spark.dialect.translate", "MldbContext", "query", "dialect.query"),
    ("mldb_spark.api", "Mldb", "create_entity", "api.create_entity"),
    ("mldb_spark.api", "Mldb", "record_rows", "api.record_rows"),
    ("mldb_spark.api", "Mldb", "commit_dataset", "api.commit"),
)

# spans whose Spark jobs are counted
JOB_SPANS = (*(f"ml.{fn}" for fn in ML_FNS), "dedup.connected_components")

KERNEL_SPANS = (
    *(f"ml.{fn}" for fn in ML_FNS),
    "dedup.connected_components",
    "dedup.minhash_near_duplicates",
    "dedup.simhash_pairs",
    "similarity.semantic_dedup",
    "similarity.embedding_cosine_near_duplicates",
    "similarity.ivf_topk",
    "corpus.decontaminate",
    "corpus.dedup_lines",
)

SPARK_FIELDS = {
    "jobs": "jobs/round",
    "stages": "stages/round",
    "tasks": "tasks/round",
    "plan_s": "s/round",
    "executor_run_s": "s/round",
    "executor_cpu_s": "s/round",
    "blocked_s": "s/round",
    "gc_s": "s/round",
    "shuffle_read_mb": "MB/round",
    "shuffle_write_mb": "MB/round",
}


def install(tracer: Tracer) -> None:
    """Wrap every layer's public functions. Import the gate entry first
    so aliases bound at import time are wrapped too."""
    import importlib

    import __spark_entry__  # noqa: F401

    for module, fn, span in FUNCTIONS:
        tracer.wrap_function(module, fn, span)
    for module, cls, attr, span in METHODS:
        tracer.wrap_method(getattr(importlib.import_module(module), cls), attr, span)


def names_and_units() -> dict[str, str]:
    """Every per-layer metric with its unit (`names` of `per_layer`)."""
    return {name: unit for name, (_v, unit) in per_layer({}, {}, {}, {}, 1, 0.0).items()}


def per_layer(
    spans: dict,
    spark: dict,
    cpu: dict,
    counts: dict,
    rounds: int,
    traced_wall_s: float,
) -> dict[str, tuple[float, str]]:
    """Assemble the per-layer metrics.

    spans: `trace.diff` of the timed region; spark: `trace.spark_metrics`;
    cpu: CPU seconds of the driver's parts over the timed region;
    counts: ops, reads, client_latency_s, build_s, exec_s for the region,
    and the run's peak_rss_mb.
    """
    total = spans.get("total", {})
    self_time = spans.get("self", {})
    calls = spans.get("calls", {})
    span_jobs = spark.get("span_jobs", {})
    ops = counts.get("ops", 0)
    reads = counts.get("reads", 0)
    latency = counts.get("client_latency_s", 0.0)

    def per_round(v):
        return v / rounds

    out: dict[str, tuple[float, str]] = {
        "rest.handler_s": (per_round(total.get("rest.handler", 0.0)), "s/round"),
        "rest.render_s": (per_round(total.get("rest.render", 0.0)), "s/round"),
        "rest.wait_s": (per_round(max(0.0, latency - total.get("rest.handler", 0.0))), "s/round"),
        "dialect.parse_s": (per_round(total.get("dialect.parse", 0.0)), "s/round"),
        "dialect.parse_calls": (per_round(calls.get("dialect.parse", 0)), "calls/round"),
        "dialect.parse_calls_per_read": (
            calls.get("dialect.parse", 0) / reads if reads else 0.0,
            "calls/read",
        ),
        "dialect.translate_s": (per_round(self_time.get("dialect.query", 0.0)), "s/round"),
        "api.create_entity_s": (per_round(total.get("api.create_entity", 0.0)), "s/round"),
        "api.record_rows_s": (per_round(total.get("api.record_rows", 0.0)), "s/round"),
        "api.commit_s": (per_round(total.get("api.commit", 0.0)), "s/round"),
        "queries.build_s": (per_round(counts.get("build_s", 0.0)), "s/round"),
        "queries.exec_s": (per_round(counts.get("exec_s", 0.0)), "s/round"),
    }
    for span in KERNEL_SPANS:
        out[f"{span}_s"] = (per_round(total.get(span, 0.0)), "s/round")
        if span in JOB_SPANS:
            out[f"{span}.jobs"] = (per_round(span_jobs.get(span, 0)), "jobs/round")
    out["caching.persists_held"] = (
        spans.get("gauges", {}).get("caching.persists_held", 0),
        "persists",
    )
    for field, unit in SPARK_FIELDS.items():
        out[f"spark.{field}"] = (per_round(spark.get(field, 0)), unit)
    out["spark.jobs_per_op"] = (spark.get("jobs", 0) / ops if ops else 0.0, "jobs/op")
    out["spark.python_worker_cpu_s"] = (per_round(cpu.get("workers", 0.0)), "s/round")
    out["spark.driver_jvm_cpu_s"] = (per_round(cpu.get("jvm", 0.0)), "s/round")
    out["python.driver_cpu_s"] = (per_round(cpu.get("python", 0.0)), "s/round")
    out["memory.peak_rss_mb"] = (counts.get("peak_rss_mb", 0.0), "MB")
    out["base.ops"] = (per_round(ops), "ops/round")
    out["base.reads"] = (per_round(reads), "reads/round")
    out["trace.wall_s"] = (traced_wall_s, "s")
    return out
