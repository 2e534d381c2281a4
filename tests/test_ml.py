"""ML procedure invariants (the gate's rows-only ops get their real
verification here)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from mldb_spark.catalog import load
from mldb_spark.ml.procedures import (
    classifier_test,
    classifier_train,
    kmeans_train,
    pca_train,
    probabilizer_train,
    tfidf_table,
    tfidf_train,
)
from mldb_spark.ml.registry import FunctionRegistry


def test_kmeans_assignment_matches_nearest_centroid(spark, sf_dir):
    reg = FunctionRegistry()
    emb = load(spark, sf_dir, "embeddings")
    model, centroids = kmeans_train(emb, "embedding", k=4, seed=7, name="km", registry=reg)
    assigned = reg.apply("km", emb)
    assert centroids.count() == 4
    assert assigned.select("cluster").distinct().count() <= 4
    # every point's assigned centroid is the argmin over centroids
    cents = {r["cluster"]: r["centroid"] for r in centroids.collect()}
    for row in assigned.limit(20).collect():
        v = row["embedding"]
        dists = {
            c: sum((float(a) - b) ** 2 for a, b in zip(v, cent))
            for c, cent in cents.items()
        }
        assert min(dists, key=dists.get) == row["cluster"]


def test_tfidf_table_formula(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "durian")],
        "doc_id long, text string",
    )
    rows = {(r["doc_id"], r["token"]): r for r in tfidf_table(docs).collect()}
    assert rows[(1, "apple")]["tf"] == 2 and rows[(1, "apple")]["df"] == 1
    expect = round(2 * math.log((3 + 1.0) / (1 + 1.0)), 6)
    assert abs(rows[(1, "apple")]["tfidf"] - expect) < 1e-9
    assert rows[(2, "banana")]["df"] == 2


def test_tfidf_mllib_pipeline(spark):
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry")],
        "doc_id long, text string",
    )
    model = tfidf_train(docs)
    out = model.transform(docs.withColumn("tokens", F.split("text", " ")))
    assert out.select("tfidf").count() == 2


def test_classifier_learns_separable_labels(spark):
    # label = f(x) is linearly separable -> AUC should be ~1
    data = spark.createDataFrame(
        [(float(i), float(i % 7), 1.0 if i > 50 else 0.0) for i in range(100)],
        "x double, noise double, label double",
    )
    reg = FunctionRegistry()
    classifier_train(data, ["x", "noise"], "label", "clf", reg)
    scored = reg.apply("clf", data)
    metrics = classifier_test(scored, "label", "score").collect()[0]
    assert metrics["auc"] > 0.95
    assert metrics["accuracy"] > 0.9

    # probabilizer on the scores keeps ordering (monotone calibration)
    probabilizer_train(scored, "score", "label", "prob", reg)
    calibrated = reg.apply("prob", scored).orderBy("score").collect()
    probs = [r["prob"] for r in calibrated]
    assert all(a <= b + 1e-9 for a, b in zip(probs, probs[1:]))


def test_pca_variances(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    _, variances = pca_train(emb, "embedding", k=6)
    assert len(variances) == 6
    assert all(v >= -1e-12 for v in variances)
    assert all(a >= b - 1e-12 for a, b in zip(variances, variances[1:]))
    assert sum(variances) <= 1.0 + 1e-9


def test_svd_train_full_contract(spark):
    # planted rank-3 matrix: k=3 SVD must reconstruct it exactly, and
    # the registered embedRow function must reproduce rowOutput (both
    # are X·V by construction)
    import numpy as np

    from mldb_spark.ml.procedures import svd_train
    from mldb_spark.ml.registry import FunctionRegistry

    rng = np.random.RandomState(0)
    A = rng.rand(20, 3) @ rng.rand(3, 10)
    cells = [(i, f"c{j:02d}", float(A[i, j])) for i in range(20) for j in range(10)]
    df = spark.createDataFrame(cells, "row_id long, column string, value double")
    reg = FunctionRegistry()
    row_emb, col_emb, sigma = svd_train(df, k=3, name="svd_t", registry=reg)
    assert len(sigma) == 3 and sigma == sorted(sigma, reverse=True)
    R = {r["row_id"]: r["embedding"] for r in row_emb.collect()}
    V = {r["column"]: r["embedding"] for r in col_emb.collect()}
    assert len(R) == 20 and len(V) == 10
    for i in range(20):
        for j in range(10):
            approx = sum(R[i][t] * V[f"c{j:02d}"][t] for t in range(3))
            assert abs(approx - A[i, j]) < 1e-6
    E = {r["row_id"]: r["embedding"] for r in reg.apply("svd_t.embedRow", df).collect()}
    for i in range(20):
        assert np.allclose(E[i], R[i], atol=1e-6)


def test_svd_train_column_cap_raises(spark, monkeypatch):
    """svd_train must refuse an over-cap column space BEFORE collecting
    the column map (the Gram matrix is n_cols**2; an unpruned vocab is
    a caller bug that must fail loudly)."""
    import pytest as _pytest

    from mldb_spark.ml import procedures
    from mldb_spark.ml.procedures import svd_train

    cells = spark.createDataFrame(
        [(r, f"c{c}", 1.0) for r in range(4) for c in range(10)],
        "row_id int, column string, value double",
    )
    monkeypatch.setattr(procedures, "_SVD_MAX_COLUMNS", 5)
    with _pytest.raises(ValueError, match="max_columns"):
        svd_train(cells, row_col="row_id", k=2, name="svd_cap")


def test_svd_train_distributed_path_matches_gram(spark, monkeypatch):
    """The two svd_train regimes (driver-eigh Gram vs distributed
    MLlib computeSVD) must agree on singular values and on the row
    embeddings up to per-component sign."""
    import numpy as np

    from mldb_spark.ml import procedures
    from mldb_spark.ml.procedures import svd_train

    rng = np.random.default_rng(11)
    A = rng.normal(size=(30, 6))
    cells = spark.createDataFrame(
        [(i, f"c{j}", float(A[i, j])) for i in range(30) for j in range(6)],
        "row_id int, column string, value double",
    )
    r1, c1, s1 = svd_train(cells, row_col="row_id", k=3, name="svd_g")
    monkeypatch.setattr(procedures, "_GRAM_LOCAL_COLUMNS", 0)
    r2, c2, s2 = svd_train(cells, row_col="row_id", k=3, name="svd_d")
    assert np.allclose(s1, s2, atol=1e-6)
    E1 = {r["row_id"]: np.array(r["embedding"]) for r in r1.collect()}
    E2 = {r["row_id"]: np.array(r["embedding"]) for r in r2.collect()}
    # per-component sign is arbitrary between eigensolvers: fix signs
    # against row 0 then compare
    sign = np.sign(E1[0] * E2[0])
    for i in range(30):
        assert np.allclose(E1[i], E2[i] * sign, atol=1e-6)
