"""Similarity search over embedding columns (ARRAY<FLOAT>).

Reference: the embedding dataset's VP-tree KNN
(/root/reference plugins/embedding/embedding.cc:1183 dataset,
:1420 embedding.neighbors function). A VP-tree is a single-node
pointer structure — the Spark-native equivalents are:

- brute-force top-k: broadcast the (small) query set against the
  full corpus; one scan, JVM-side dot products, per-partition top-k
  via window rank. Exact; the baseline every ANN variant is
  measured against.
- LSH-bucketed ANN: random-hyperplane signatures bucket the corpus;
  queries probe only their bucket (+ optional multi-probe). The
  bucket join replaces the full cross product — at 100 TB this is
  the difference between a broadcast-join scan and an infeasible
  crossJoin.
- IVF-style coarse quantization: assign every vector to its nearest
  of k centroids (KMeans-lite), probe nprobe cells.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from mldb_spark.functions.vector import (
    array_double_lit,
    cosine_similarity,
    dot_product,
    l2_norm,
)


# DoubleType() instance (not the "double" DDL string): the string
# form needs an active SparkContext at decoration time, which breaks
# importing this module before the session exists.
@pandas_udf(DoubleType())
def cosine_pandas(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine over Arrow batches — the fast path when a
    plan evaluates many pairs (higher-order-function arithmetic is
    interpreted per element in the JVM; numpy does the same math
    ~100x faster per batch). float64 throughout so results agree
    with the CAST(.. AS DOUBLE[]) SQL form."""
    ma = np.stack(a.to_numpy()).astype(np.float64)
    mb = np.stack(b.to_numpy()).astype(np.float64)
    dots = np.einsum("ij,ij->i", ma, mb)
    na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
    nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
    return pd.Series(dots / (na * nb))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k per query vector.

    queries: (query_id, embedding). The query side is broadcast —
    corpus is scanned once regardless of |queries|; ties broken by
    corpus id for determinism. Returns (query_id, vec_id, cos_sim,
    rank).
    """
    q = F.broadcast(queries.select(F.col(query_id_col), F.col(vec_col).alias("__qvec")))
    scored = corpus.join(q, corpus[id_col] != q[query_id_col]).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine_similarity(F.col("__qvec"), F.col(vec_col)), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def random_hyperplane_signature(vec, planes: list[list[float]]):
    """Bit-signature column: sign of dot(vec, plane) per plane.

    The plane matrix ships as ONE nested-array literal with a single
    transform lambda — per-plane expression trees (64 planes × 64
    literal weights each) blew codegen up to MB-sized task binaries
    and Catalyst compile time dominated the whole banding stage
    (VERDICT r8 #5; the 'Broadcasting large task binary' warnings).
    Same arithmetic (double-accumulated dot, >= 0 bit) — oracle
    replays are unchanged. The literal ships as ONE parsed SQL
    string (optimization r10): F.lit(nested list) round-trips py4j
    per element — ~3.5s of driver-side plan construction for the
    64×64 matrix, paid by EVERY query building this signature."""
    from mldb_spark.functions.vector import matrix_double_lit

    planes_lit = matrix_double_lit(planes)
    bits = F.transform(
        planes_lit,
        lambda p: F.when(
            F.aggregate(
                F.zip_with(
                    vec, p, lambda x, y: x.cast("double") * y.cast("double")
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0")),
    )
    return F.array_join(bits, "")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets, then exact
    rescoring within the query's bucket only. `planes` is a fixed
    list of hyperplanes (deterministic — generate them from a seeded
    RNG driver-side). Recall grows with fewer planes (bigger
    buckets) or multi-probe; cost shrinks with more planes."""
    sig = random_hyperplane_signature(F.col(vec_col), planes)
    c = corpus.select(F.col(id_col), F.col(vec_col), sig.alias("bucket"))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        random_hyperplane_signature(F.col(vec_col), planes).alias("bucket"),
    )
    scored = c.join(F.broadcast(q), "bucket").filter(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine_similarity(F.col("__qvec"), F.col(vec_col)), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_index(
    corpus: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[DataFrame, list[list[float]]]":
    """IVF index build: coarse k-means quantization of the corpus.
    Returns (assigned, centroids) where assigned is the corpus with a
    `cell` column and centroids is the n_cells × dim list. The
    coarse-quantizer fit goes through kmeans_train (optimization r9):
    its ≤4096-row local fast path replaces the MLlib kmeans|| fit's
    ~40 one-task scheduling stages on index-sized inputs (q76 was
    driver-scheduling-bound: 58 stages, 0.9s of task time under 4.7s
    wall), while larger corpora keep the distributed Lloyd path.
    EITHER way the assignment is argmin squared-Euclidean with ties
    to the lowest cell id — the exact rule the oracle replays from
    the exported (id, cell) + centroid fixtures. Split from
    ivf_search so the index can be persisted/exported."""
    from mldb_spark.ml.procedures import kmeans_train
    from mldb_spark.ml.registry import FunctionRegistry

    reg = FunctionRegistry()
    model, _centroids_df = kmeans_train(
        corpus, vec_col, k=n_cells, seed=seed, name="__ivf_cells", registry=reg
    )
    assigned = reg.apply("__ivf_cells", corpus).withColumnRenamed("cluster", "cell")
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centroids


def ivf_search(
    assigned: DataFrame,
    centroids: "list[list[float]]",
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF probe + exact rescore over a built index (see ivf_index):
    each query probes its n_probe nearest cells and rescores exactly
    within them — the probe join is an equi-join on the cell id, so
    at corpus scale this reads n_probe/n_cells of the data per query
    batch instead of the full scan brute-force does. Recall rises
    with n_probe (n_probe = n_cells degenerates to exact)."""
    # per-query probe cells: distance to every centroid (n_cells is
    # small — a literal-array expression), sort, take n_probe, explode
    def sq_dist(c: list[float]):
        arr = array_double_lit(c)
        diff = F.zip_with(F.col(vec_col), arr, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b))
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)

    cells = F.array(
        *[F.struct(sq_dist(c).alias("d"), F.lit(i).alias("cell")) for i, c in enumerate(centroids)]
    )
    probes = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.explode(
            F.transform(F.slice(F.array_sort(cells), 1, n_probe), lambda s: s["cell"])
        ).alias("cell"),
    )
    scored = assigned.join(F.broadcast(probes), "cell").filter(
        F.col(id_col) != F.col(query_id_col)
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine_similarity(F.col("__qvec"), F.col(vec_col)), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-style ANN end-to-end: ivf_index (one distributed KMeans
    fit + transform) composed with ivf_search (probe + exact
    rescore)."""
    assigned, centroids = ivf_index(corpus, n_cells, seed, id_col, vec_col)
    return ivf_search(
        assigned, centroids, queries, k, n_probe, id_col, vec_col, query_id_col
    )


def seeded_planes(dim: int, num_planes: int = 16, seed: int = 13) -> list[list[float]]:
    """Deterministic random hyperplanes (seeded numpy, rounded to 6
    decimals so the same literals replay exactly in a SQL oracle)."""
    rng = np.random.RandomState(seed)
    return [[round(float(x), 6) for x in row] for row in rng.standard_normal((num_planes, dim))]


def embedding_cosine_near_duplicates(
    vectors: DataFrame,
    threshold: float = 0.95,
    planes: list[list[float]] | None = None,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """Near-dup pairs by embedding cosine >= threshold, blocked by
    random-hyperplane LSH bands.

    The plane bit-signature is split into `bands` bands; vectors
    sharing any band key become candidates (per-band equi-self-join —
    a shuffle hash join on the band key, never the O(n²) theta-join;
    cf. the reference's 100M-pair cross-join guard,
    builtin/joined_dataset.cc:516-521). Candidates are deduped then
    rescored exactly with the Arrow-batched numpy cosine. Recall is
    approximate and rises with fewer planes per band or more bands;
    with fixed seeded planes the whole pipeline is engine-replayable.

    max_candidate_pairs (opt-in) is the same hard guard simhash_pairs
    carries (dedup.py; reference cap builtin/joined_dataset.cc:
    516-521): count the deduped candidate table and raise BEFORE the
    exact-rescore join if the banding collapsed (template-heavy
    corpora hash whole regions into one bucket and the rescore join
    silently goes quadratic otherwise). Costs one extra action on the
    persisted candidate table.

    When planes is None the plane dimension comes from `dim`, or — if
    dim is also None — from ONE driver-side `.first()` row (arrays
    carry no length in the Spark schema). That fallback is a hidden
    Spark action at plan-build time; pass dim (or planes) in
    latency-sensitive plan construction.
    """
    if planes is None:
        if dim is None:
            dim = len(vectors.select(vec_col).first()[0])
        planes = seeded_planes(dim)
    from mldb_spark.caching import persist_tracked

    sig = random_hyperplane_signature(F.col(vec_col), planes)
    # persist the NARROW (id, signature) table: it feeds BOTH sides
    # of the candidate self-join, and without the barrier Catalyst
    # collapses the projections so the 64-plane dot-product subtree
    # re-evaluates once per exploded band row AND per join side
    # (VERDICT r8 #5 — this was most of q31/qa24's regression).
    # Bytes per row: id + bitstring, so ~GBs at 100 TB corpus scale.
    base = persist_tracked(
        vectors.select(F.col(id_col), sig.alias("__sig"))
    )
    r = len(planes) // bands
    # EXPLODED banding: one row per (band, key) and a single
    # equi-self-join on (band, bk) — a union of per-band joins would
    # re-evaluate the signature (its dot products) once per arm and
    # shuffle the vectors through every candidate join. Vectors rejoin
    # only after the pair set is deduped.
    band_vals = F.array(
        *[F.substring(F.col("__sig"), bi * r + 1, r) for bi in range(bands)]
    )
    band_rows = base.select(F.col(id_col), F.posexplode(band_vals).alias("band", "bk"))
    a = band_rows.select("band", "bk", F.col(id_col).alias("id_a"))
    b = band_rows.select("band", "bk", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    if max_candidate_pairs is not None:
        from mldb_spark.caching import persist_tracked

        cand = persist_tracked(cand)
        n_cand = cand.count()
        if n_cand > max_candidate_pairs:
            cand.unpersist()
            raise ValueError(
                f"embedding banding produced {n_cand} candidate pairs "
                f"(> max_candidate_pairs={max_candidate_pairs}); the corpus "
                "is too self-similar for this plane/band config — use more "
                "planes per band, raise the threshold upstream, or "
                "pre-shard the corpus"
            )
    # Exact rescore stays in the JVM (optimization r9, guide §4):
    # the pandas-UDF cosine put an ArrowEvalPython node under the
    # threshold filter, and Catalyst's filter pushdown DUPLICATED the
    # UDF (two ArrowEvalPython nodes — every candidate pair crossed
    # the Python boundary twice; guide §4.4). Per-vector norms are
    # computed ONCE on the vector table (corpus-sized) and ride the
    # pair join as scalars, so each pair pays one zip_with dot
    # product. Rounded values are identical to the numpy kernel
    # (float64 either way; verified pairwise on the full sf0.1 pair
    # set) and the DuckDB oracle recomputes with its own
    # list_dot_product as before. sf0.1 rescore: 8.0s -> 1.4s.
    from mldb_spark.functions.vector import dot_product, l2_norm

    va = vectors.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        l2_norm(F.col(vec_col)).alias("__na"),
    )
    vb = vectors.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        l2_norm(F.col(vec_col)).alias("__nb"),
    )
    cos = F.round(
        dot_product(F.col("va"), F.col("vb")) / (F.col("__na") * F.col("__nb")), 6
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def quantize_embeddings(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q8"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    code_i = round(x_i / scale). Adds (out_col ARRAY<TINYINT>,
    {out_col}_scale FLOAT) next to the original column.

    Scale rationale: a 100 TB float32 embedding corpus becomes ~25 TB
    as int8 — ANN candidate generation (bucket probing, coarse
    scoring) reads the tinyint column and only the final rescoring
    pass touches the float column, cutting scan bandwidth ~4x. The
    whole transform is JVM higher-order functions; cosine on
    dequantized vectors stays within ~1e-2 of exact (pinned in
    tests), which is far inside the recall tolerance of any bucketed
    ANN front-end."""
    v = F.col(vec_col)
    scale = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
    ) / F.lit(127.0)
    return df.withColumn(f"{out_col}_scale", scale.cast("float")).withColumn(
        out_col,
        F.transform(v, lambda x: F.round(x / F.col(f"{out_col}_scale")).cast("tinyint")),
    )


def dequantize_embeddings(
    df: DataFrame, q_col: str = "q8", out_col: str = "embedding_dq"
) -> DataFrame:
    """Inverse of quantize_embeddings: x_i ~ code_i * scale."""
    return df.withColumn(
        out_col,
        F.transform(
            F.col(q_col), lambda c: (c.cast("double") * F.col(f"{q_col}_scale"))
        ),
    )


def ivf_topk_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 2,
    rerank: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF ANN with an int8 coarse-scoring layer: probed-cell
    candidates are ranked by cosine over the tinyint codes (the
    per-vector symmetric scales cancel in cosine, so the coarse score
    needs ONLY the int8 column — 4x less scan bandwidth than float32
    at 100 TB), and the float column is touched only for the
    rerank*k coarse survivors per query, which are exact-rescored.
    Recall vs the exact scan is pinned in tests; raise rerank to
    trade bandwidth for recall. The coarse quantizer is ivf_index's."""
    corpus = quantize_embeddings(corpus, vec_col, "__q8")
    assigned, centroids = ivf_index(corpus, n_cells, seed, id_col, vec_col)

    def sq_dist(c: list[float]):
        arr = array_double_lit(c)
        diff = F.zip_with(F.col(vec_col), arr, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b))
        return F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x)

    cells = F.array(
        *[F.struct(sq_dist(c).alias("d"), F.lit(i).alias("cell")) for i, c in enumerate(centroids)]
    )
    probes = quantize_embeddings(
        queries.select(query_id_col, vec_col), vec_col, "__qq8"
    ).select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.col("__qq8").alias("__qq"),
        F.explode(
            F.transform(F.slice(F.array_sort(cells), 1, n_probe), lambda s: s["cell"])
        ).alias("cell"),
    )
    # coarse pass: int8-only cosine (scales cancel), narrow columns
    coarse = assigned.select(id_col, "cell", "__q8").join(
        F.broadcast(probes), "cell"
    ).filter(F.col(id_col) != F.col(query_id_col))
    int_cos = cosine_similarity(
        F.transform(F.col("__q8"), lambda c: c.cast("double")),
        F.transform(F.col("__qq"), lambda c: c.cast("double")),
    )
    cw = Window.partitionBy(query_id_col).orderBy(F.desc("coarse"), F.asc(id_col))
    survivors = (
        coarse.select(F.col(query_id_col), F.col(id_col), F.col("__qvec"), int_cos.alias("coarse"))
        .withColumn("crank", F.row_number().over(cw))
        .filter(F.col("crank") <= rerank * k)
    )
    # exact rescoring touches the float column only for survivors
    exact = survivors.join(
        corpus.select(F.col(id_col), F.col(vec_col).alias("__cvec")), id_col
    ).select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine_similarity(F.col("__qvec"), F.col("__cvec")), 6).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return exact.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_neighbors(
    dataset: DataFrame,
    row_name_col: str = "rowName",
    feature_cols: "list[str] | None" = None,
    metric: str = "euclidean",
):
    """embedding.neighbors function entity (builtin/embedding.cc:1420;
    MLDB-283): returns fn(coords, num_neighbors=None,
    max_distance=None) -> list[(rowName, distance)] sorted by
    distance then rowName.

    coords is either a {column: value} dict, an ordered value list,
    or an existing rowName (MLDB-509's self-lookup — distance 0 to
    itself included, exactly like the reference).

    Scale shape: one scan of the embedding dataset per application —
    the query point is a literal folded into the plan; top-k is a
    TakeOrdered (no global sort materialization). Function
    application is per-query (the reference binds it per row only
    through SQL application, which composes this same scan).
    """
    cols = feature_cols or [c for c in dataset.columns if c != row_name_col]

    def fn(coords, num_neighbors: int | None = None, max_distance: float | None = None):
        if isinstance(coords, str):
            hit = dataset.filter(F.col(row_name_col) == coords).limit(1).collect()
            if not hit:
                raise KeyError(f"unknown row {coords!r}")
            point = [float(hit[0][c]) for c in cols]
        elif isinstance(coords, dict):
            point = [float(coords[c]) for c in cols]
        else:
            point = [float(v) for v in coords]
        if metric == "euclidean":
            d2 = None
            for c, v in zip(cols, point):
                t = (F.col(c) - F.lit(v)) * (F.col(c) - F.lit(v))
                d2 = t if d2 is None else d2 + t
            dist = F.sqrt(d2)
        elif metric == "cosine":
            from mldb_spark.functions.vector import cosine_similarity

            arr = array_double_lit(point)
            vec = F.array(*[F.col(c).cast("double") for c in cols])
            dist = F.lit(1.0) - cosine_similarity(vec, arr)
        else:
            raise ValueError(f"unknown metric {metric!r}")
        out = dataset.select(
            F.col(row_name_col).alias("neighbor"), dist.alias("distance")
        )
        if max_distance is not None:
            out = out.filter(F.col("distance") <= float(max_distance))
        out = out.orderBy("distance", "neighbor")
        if num_neighbors is not None:
            out = out.limit(int(num_neighbors))
        return [(r["neighbor"], r["distance"]) for r in out.collect()]

    return fn


def embedding_neighbors_batch(
    dataset: DataFrame,
    queries: DataFrame,
    row_name_col: str = "rowName",
    feature_cols: "list[str] | None" = None,
    metric: str = "euclidean",
    query_id_col: str = "query_id",
    num_neighbors: int | None = None,
    max_distance: float | None = None,
) -> DataFrame:
    """Batched SQL application of embedding.neighbors (VERDICT r6 #8):
    the scalar entity (embedding_neighbors) folds ONE query point into
    the plan per call — applied over N rows that is N driver
    round-trips. This path broadcasts the whole query-point table
    against a SINGLE scan of the embedding dataset and returns
    (query_id, neighbor, distance) with the same ordering/tie-break
    contract (distance asc, neighbor asc) and the same
    num_neighbors/max_distance semantics.

    Scale shape: one corpus scan regardless of N; the all-pairs
    product is a deliberate broadcast (exact brute-force KNN baseline
    — same contract as the reference's embedding.cc:1420 per-point
    kNN, batched). queries must carry the same feature columns as the
    dataset (or a prejoined coordinate set)."""
    cols = feature_cols or [c for c in dataset.columns if c != row_name_col]
    q = queries.select(
        F.col(query_id_col),
        *[F.col(c).cast("double").alias(f"__q_{c}") for c in cols],
    )
    if metric == "euclidean":
        d2 = None
        for c in cols:
            t = (F.col(c) - F.col(f"__q_{c}")) * (F.col(c) - F.col(f"__q_{c}"))
            d2 = t if d2 is None else d2 + t
        dist = F.sqrt(d2)
    elif metric == "cosine":
        from mldb_spark.functions.vector import cosine_similarity

        qv = F.array(*[F.col(f"__q_{c}") for c in cols])
        cv = F.array(*[F.col(c).cast("double") for c in cols])
        dist = F.lit(1.0) - cosine_similarity(cv, qv)
    else:
        raise ValueError(f"unknown metric {metric!r}")
    out = dataset.crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(row_name_col).alias("neighbor"),
        dist.alias("distance"),
    )
    if max_distance is not None:
        out = out.filter(F.col("distance") <= float(max_distance))
    if num_neighbors is not None:
        w = Window.partitionBy(query_id_col).orderBy("distance", "neighbor")
        out = (
            out.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= int(num_neighbors))
            .drop("__rk")
        )
    return out


def semantic_dedup(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 4,
    planes: "list[list[float]] | None" = None,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — the published method clusters embeddings and
    prunes within-cluster cosine near-duplicates; here the clustering
    stage is the DETERMINISTIC seeded-hyperplane banding the near-dup
    gate q31 already replays in SQL, so the whole pass stays
    oracle-checkable): emit (id, survivor, is_duplicate) where every
    member of a cosine-similarity component maps to the component's
    minimum id, and only survivors (id == survivor) are kept when
    deduping a corpus.

    Composition: embedding_cosine_near_duplicates (one equi-self-join
    over exploded (band, signature) keys) → pointer-jumping connected
    components (O(log d) rounds) → left join back to the full id set
    (never-matched rows survive as their own id). Scale shape: the
    corpus embeddings shuffle once for the banding; component
    resolution runs over the PAIRS (tiny next to the corpus)."""
    from mldb_spark.dedup import connected_components

    pairs = embedding_cosine_near_duplicates(
        vectors, threshold=threshold, planes=planes, bands=bands,
        id_col=id_col, vec_col=vec_col,
        max_candidate_pairs=max_candidate_pairs,
    ).select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    comp = connected_components(pairs)
    out = vectors.select(id_col).join(
        comp, vectors[id_col] == comp["node"], "left"
    )
    return out.select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("survivor"),
    ).withColumn(
        "is_duplicate", (F.col(id_col) != F.col("survivor")).cast("int")
    )
