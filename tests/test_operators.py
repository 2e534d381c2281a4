"""Unit tests for the operator library (semantics invariants the
oracle queries don't fully pin down)."""

from __future__ import annotations

import logging
from datetime import datetime

from pyspark.sql import functions as F

from mldb_spark.dedup import (
    dedup_exact,
    exact_duplicates,
    minhash_near_duplicates,
    minhash_signatures,
    simhash_near_duplicates,
)
from mldb_spark.operators.relational import (
    bucketize_approx,
    distinct_on,
    merge_datasets,
    summary_statistics,
    transpose_cells,
    union_datasets,
)
from mldb_spark.operators.temporal import latest_cells, temporal_agg
from mldb_spark.similarity import brute_force_topk, lsh_topk


def test_merge_last_writer_wins(spark):
    a = spark.createDataFrame([("r1", 1, 10), ("r2", 2, 20)], "rowName string, x int, y int")
    b = spark.createDataFrame([("r1", 100, 5), ("r3", 300, 7)], "rowName string, x int, z int")
    out = {r["rowName"]: r for r in merge_datasets([a, b]).collect()}
    # reference merged_dataset.cc: later dataset wins per cell
    assert out["r1"]["x"] == 100 and out["r1"]["y"] == 10 and out["r1"]["z"] == 5
    assert out["r2"]["x"] == 2 and out["r2"]["z"] is None
    assert out["r3"]["x"] == 300 and out["r3"]["y"] is None


def test_union_open_schema(spark):
    a = spark.createDataFrame([(1, "a")], "id int, x string")
    b = spark.createDataFrame([(2, 9.5)], "id int, y double")
    rows = union_datasets([a, b]).orderBy("id").collect()
    assert rows[0]["x"] == "a" and rows[0]["y"] is None
    assert rows[1]["x"] is None and rows[1]["y"] == 9.5


def test_transpose_cells_involution(spark):
    cells = spark.createDataFrame(
        [("r1", "c1", 1.0), ("r1", "c2", 2.0), ("r2", "c1", 3.0)],
        "row string, column string, value double",
    )
    t = transpose_cells(cells)
    assert {(r["row"], r["column"]) for r in t.collect()} == {
        ("c1", "r1"), ("c2", "r1"), ("c1", "r2")
    }
    back = transpose_cells(t)
    assert sorted(map(tuple, back.select("row", "column", "value").collect())) == sorted(
        map(tuple, cells.collect())
    )


def test_distinct_on_keeps_first_per_key(spark):
    df = spark.createDataFrame(
        [("k1", 1, "old"), ("k1", 5, "new"), ("k2", 3, "only")],
        "k string, seq int, tag string",
    )
    rows = {r["k"]: r["tag"] for r in distinct_on(df, ["k"], [F.desc("seq")]).collect()}
    assert rows == {"k1": "new", "k2": "only"}


def test_latest_cells_get_latest_semantics(spark):
    # MLDB-1235: plain reads see the LATEST value of each cell
    cells = spark.createDataFrame(
        [
            ("u1", "x", 1.0, datetime(2016, 1, 1)),
            ("u1", "x", 99.0, datetime(2016, 1, 3)),
            ("u1", "x", 5.0, datetime(2016, 1, 2)),
        ],
        "row string, column string, value double, ts timestamp",
    )
    out = latest_cells(cells).collect()
    assert len(out) == 1 and out[0]["value"] == 99.0


def test_temporal_aggs_see_all_values(spark):
    cells = spark.createDataFrame(
        [
            ("u1", "x", 1.0, datetime(2016, 1, 1)),
            ("u1", "x", 99.0, datetime(2016, 1, 3)),
        ],
        "row string, column string, value double, ts timestamp",
    )
    assert temporal_agg(cells, "count").collect()[0]["temporal_count"] == 2
    assert temporal_agg(cells, "earliest").collect()[0]["temporal_earliest"] == 1.0


def test_exact_dedup(spark):
    docs = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world!"), (3, "different")],
        "doc_id long, text string",
    )
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 1 and groups[0]["dup_ids"] == [1, 2]
    kept = {r["doc_id"] for r in dedup_exact(docs).collect()}
    assert kept == {1, 3}


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tomorrow"),  # near-dup of 1
            (3, "completely unrelated content about database query engines"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs, num_hashes=8)
    assert sigs.count() == 3 and len(sigs.columns) == 9
    pairs = minhash_near_duplicates(docs, num_hashes=16, bands=8, threshold=0.5).collect()
    assert any(p["id_a"] == 1 and p["id_b"] == 2 for p in pairs)
    assert not any(p["id_b"] == 3 for p in pairs)


def test_simhash_near_duplicates(spark):
    # identical token streams hash identically (hamming 0, always
    # caught by quarter-blocking); a disjoint doc stays far away
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    docs = spark.createDataFrame(
        [(1, base), (2, base.upper()), (3, "xyz qrs tuv " * 10)],
        "doc_id long, text string",
    )
    pairs = simhash_near_duplicates(docs, max_hamming=3).collect()
    assert any(p["id_a"] == 1 and p["id_b"] == 2 and p["hamming"] == 0 for p in pairs)


def test_simhash_pairs_planted_recall(spark):
    # planted signatures: recall must be EXACT at the requested radius,
    # even when the differing bits spread across every 16-bit quarter
    # (the case the old fixed-quarter blocking silently dropped).
    from mldb_spark.dedup import _simhash_segments, simhash_pairs

    base = 0x0123456789ABCDEF
    # 15 flipped bits spread across all four quarters: bits 1,5,9 in
    # each quarter plus 13,29,45 — hamming(base, far) == 15
    flip = 0
    for bit in (1, 5, 9, 13, 17, 21, 25, 29, 33, 37, 41, 45, 49, 53, 57):
        flip |= 1 << bit
    far = base ^ flip
    near = base ^ (1 << 2)  # hamming 1
    sig = spark.createDataFrame(
        [(1, base), (2, far), (3, near)], "doc_id long, simhash long"
    )
    got15 = {(p["id_a"], p["id_b"]): p["hamming"] for p in simhash_pairs(sig, 15).collect()}
    assert got15[(1, 2)] == 15 and got15[(1, 3)] == 1
    # below the radius the hamming-15 pair must be excluded but the
    # hamming-1 pair kept
    got8 = {(p["id_a"], p["id_b"]) for p in simhash_pairs(sig, 8).collect()}
    assert (1, 2) not in got8 and (1, 3) in got8
    # segment partition covers all 64 bits exactly once
    for b in (1, 2, 9, 10, 17, 63, 64, 100):
        segs = _simhash_segments(b)
        assert sum(w for _, w in segs) == 64
        assert segs[0][0] == 0
        for (o1, w1), (o2, _) in zip(segs, segs[1:]):
            assert o1 + w1 == o2


def test_simhash_min_collisions_exact_recall(spark):
    # the >=2-collision scale prefilter must NOT cost recall at exactly
    # h == max_hamming: segments are sized max_hamming + min_collisions,
    # so a pair differing in max_hamming bits still agrees in >=2
    # segments (generalized pigeonhole). Plant the worst case: one
    # differing bit in each of the first max_hamming segments.
    from mldb_spark.dedup import _simhash_segments, simhash_pairs

    max_hamming = 8
    segs = _simhash_segments(max_hamming + 2)
    base = 0x0123456789ABCDEF
    flip = 0
    for off, _w in segs[:max_hamming]:
        flip |= 1 << off
    worst = base ^ flip  # hamming == max_hamming, spread maximally
    sig = spark.createDataFrame(
        [(1, base), (2, worst)], "doc_id long, simhash long"
    )
    got = {
        (p["id_a"], p["id_b"]): p["hamming"]
        for p in simhash_pairs(sig, max_hamming, min_collisions=2).collect()
    }
    assert got == {(1, 2): max_hamming}


def test_simhash_fused_rescore_matches_two_phase(spark):
    # optimization r9: the budget-less path fuses the XOR-popcount
    # radius filter into the collision join (no candidate-set shuffle);
    # its (pair, hamming) output must equal the budget-guarded
    # two-phase path's exactly on a clustered random corpus
    import random

    from mldb_spark.dedup import simhash_pairs

    rng = random.Random(99)
    rows = []
    # 12 template clusters of 8 docs each: signatures within a cluster
    # differ by 0-6 random bit flips (plenty of true pairs and plenty
    # of cross-cluster segment collisions)
    doc = 0
    for _ in range(12):
        base = rng.getrandbits(64)
        for _ in range(8):
            s = base
            for _ in range(rng.randint(0, 6)):
                s ^= 1 << rng.randint(0, 63)
            # unsigned 64-bit -> signed two's complement for LongType
            rows.append((doc, s - (1 << 64) if s >= (1 << 63) else s))
            doc += 1
    sig = spark.createDataFrame(rows, "doc_id long, simhash long")
    fused = {
        (p["id_a"], p["id_b"]): p["hamming"]
        for p in simhash_pairs(sig, 8).collect()
    }
    two_phase = {
        (p["id_a"], p["id_b"]): p["hamming"]
        for p in simhash_pairs(sig, 8, max_candidate_pairs=10**9).collect()
    }
    assert fused == two_phase
    assert len(fused) > 0


def test_simhash_candidate_cap_guard(spark):
    # identical signatures collide in every segment: 3 docs -> 3 pairs,
    # which must trip a cap of 2 (the reference-style complexity guard)
    import pytest

    from mldb_spark.dedup import simhash_pairs

    sig = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 7)], "doc_id long, simhash long"
    )
    with pytest.raises(ValueError, match="candidate pairs"):
        simhash_pairs(sig, 4, max_candidate_pairs=2)
    assert simhash_pairs(sig, 4, max_candidate_pairs=10).count() == 3


def test_neardup_pipelines_release_cache(spark):
    # persisted intermediates (signature tables, candidate pairs) are
    # tracked; release_cached() must leave the executor cache empty —
    # the service-loop hygiene contract
    from mldb_spark.caching import release_cached
    from mldb_spark.dedup import minhash_near_duplicates, simhash_near_duplicates

    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "a b c d e f h"), (3, "x y z w v u t")],
        "doc_id long, text string",
    )
    minhash_near_duplicates(docs, num_hashes=8, bands=4).collect()
    simhash_near_duplicates(docs, max_hamming=3).collect()
    assert release_cached() >= 2
    jsc = spark.sparkContext._jsc.sc()
    assert jsc.getPersistentRDDs().size() == 0
    assert release_cached() == 0


def test_brute_force_topk_and_lsh(spark, sf_dir):
    from mldb_spark.catalog import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5)
    rows = exact.collect()
    assert len(rows) == 5
    assert [r["rank"] for r in rows] == [1, 2, 3, 4, 5]
    sims = [r["cos_sim"] for r in rows]
    assert sims == sorted(sims, reverse=True)

    import random

    rng = random.Random(7)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    approx = lsh_topk(emb, queries, planes, k=5).collect()
    # LSH returns a subset of the corpus ranked identically within
    # its bucket; every returned sim must be <= the exact best
    assert all(r["cos_sim"] <= rows[0]["cos_sim"] + 1e-9 for r in approx)


def test_bucketize_approx_matches_exact_distribution(spark, sf_dir):
    from mldb_spark.catalog import load

    cust = load(spark, sf_dir, "customer")
    out = bucketize_approx(cust, "c_acctbal", 4, relative_error=0.0001)
    counts = {r["bucket"]: r["n"] for r in out.groupBy("bucket").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert set(counts) == {1, 2, 3, 4}
    for b, n in counts.items():
        assert abs(n - total / 4) <= total * 0.05 + 2


def test_summary_statistics(spark, sf_dir):
    from mldb_spark.catalog import load

    out = summary_statistics(load(spark, sf_dir, "part"), ["p_size", "p_type"])
    rows = {r["column"]: r for r in out.collect()}
    assert rows["p_size"]["data_type"] == "number"
    assert rows["p_size"]["avg"] is not None and rows["p_size"]["num_unique"] > 0
    assert rows["p_type"]["data_type"] == "categorical"
    assert rows["p_type"]["avg"] is None and rows["p_type"]["most_frequent_items"]


def test_utilities(spark, tmp_path):
    from mldb_spark.utilities import (
        dataset_stats,
        list_files,
        mock_dataset,
        null_procedure,
        serial_run,
    )

    (tmp_path / "a.txt").write_text("xx")
    (tmp_path / "sub").mkdir()
    (tmp_path / "sub" / "b.csv").write_text("1,2,3")
    files = list_files(spark, str(tmp_path))
    assert files.count() == 2
    assert list_files(spark, str(tmp_path), pattern="*.csv").collect()[0]["name"] == "b.csv"
    assert list_files(spark, str(tmp_path), recursive=False).count() == 1

    md = mock_dataset(spark, 50)
    assert md.count() == 50
    stats = dataset_stats(md)
    assert {r["columnName"] for r in stats.collect()} == {"id", "category", "value"}

    log = serial_run([
        ("ok1", null_procedure),
        ("boom", lambda: (_ for _ in ()).throw(RuntimeError("x"))),
        ("never", null_procedure),
    ])
    assert [s["ok"] for s in log] == [True, False]


def test_ivf_topk_invariants(spark, sf_dir):
    from mldb_spark.catalog import load
    from mldb_spark.similarity import brute_force_topk, ivf_topk

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=5).collect()
    approx = ivf_topk(emb, queries, k=5, n_cells=4, n_probe=2).collect()
    assert 1 <= len(approx) <= 5
    assert [r["rank"] for r in approx] == list(range(1, len(approx) + 1))
    # approximate best can never beat the exact best
    assert approx[0]["cos_sim"] <= exact[0]["cos_sim"] + 1e-9
    # full probe degenerates to the exact result set
    full = ivf_topk(emb, queries, k=5, n_cells=4, n_probe=4).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]


def test_get_all_cells_superposition(spark):
    """GET_ALL emission invariants (sql/expression_value.h:940-944):
    no-WHERE form is the identity; with WHERE, latest-per-cell over
    the emitted superposition equals latest_cells of the surviving
    rows, and the emitted count per cell equals temporal_count."""
    from pyspark.sql import functions as F

    from mldb_spark.operators.temporal import all_cells, latest_cells

    cells = spark.createDataFrame(
        [
            ("u1", "x", 1.0, "2024-01-01"),
            ("u1", "x", 5.0, "2024-01-03"),
            ("u1", "y", 2.0, "2024-01-02"),
            ("u2", "x", 9.0, "2024-01-01"),
            ("u2", "x", 3.0, "2024-01-04"),   # latest x for u2 = 3.0
            ("u3", "y", 7.0, "2024-01-01"),
        ],
        "row string, column string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    assert all_cells(cells).count() == cells.count()

    # WHERE latest x > 4 — only u1 survives (u2's latest x is 3.0
    # even though an OLDER value 9.0 would pass: WHERE reads LATEST)
    out = all_cells(cells, where_latest=(F.col("column") == "x") & (F.col("value") > 4))
    assert sorted(r["row"] for r in out.select("row").distinct().collect()) == ["u1"]
    # the survivor emits its FULL superposition: both x values + y
    assert out.count() == 3

    got = {
        (r["row"], r["column"]): r["value"]
        for r in latest_cells(out).collect()
    }
    assert got == {("u1", "x"): 5.0, ("u1", "y"): 2.0}


def test_winnow_guarantee_shared_run_shares_fingerprint(spark):
    """Winnowing theorem (Schleimer et al. 2003): documents sharing a
    token run of length >= k + window - 1 share at least one
    fingerprint; disjoint documents share none."""
    from pyspark.sql import functions as F

    from mldb_spark.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 = k+w-1 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"completely different opening {shared} other ending"),
            (3, "unrelated text with no overlap at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(docs, k=4, window=4)
    by_doc = {
        r["doc_id"]: set(r["fps"])
        for r in fps.groupBy("doc_id")
        .agg(F.collect_set("fingerprint").alias("fps"))
        .collect()
    }
    assert by_doc[1] & by_doc[2], "shared 7-token run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_winnow_overlap_pairs_oracle_parity(spark, duck, sf_dir):
    """winnow_overlap_pairs hash-matches a full DuckDB replay (join +
    df-guard + pair counts over the same md5-prefix hashes). Kept as a
    pytest gate rather than a numbered query so the driver's scored
    q01-q50 window composition stays frozen."""
    from mldb_spark.catalog import load
    from mldb_spark.dedup import winnow_overlap_pairs
    from mldb_spark.testing import compare_spark_duck

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    got = winnow_overlap_pairs(docs, k=4, window=4, min_shared=2).orderBy(
        "id_a", "id_b"
    )
    oracle = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents WHERE doc_id < 300
), h AS (
  SELECT doc_id,
         list_transform(
           list_transform(range(1, greatest(len(toks) - 3, 1) + 1),
                          i -> array_to_string(toks[i:i+3], ' ')),
           gr -> CAST(('0x' || substr(md5(gr), 1, 8)) AS BIGINT)) AS hs
  FROM t
), fp AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(list_transform(
             range(1, greatest(len(hs) - 3, 1) + 1),
             j -> list_aggregate(hs[j:j+3], 'min')))) AS fingerprint
  FROM h
), rare AS (
  SELECT fingerprint FROM fp GROUP BY fingerprint HAVING count(*) <= 1000
), pruned AS (
  SELECT fp.* FROM fp JOIN rare USING (fingerprint)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
FROM pruned a JOIN pruned b USING (fingerprint)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 2
ORDER BY id_a, id_b
"""
    problems = compare_spark_duck(got, duck, oracle)
    assert problems == [], problems


def test_embedding_int8_quantization_roundtrip(spark, sf_dir):
    """int8 quantize/dequantize: codes bounded to [-127, 127], and
    cosine on the dequantized vectors stays within 1e-2 of exact —
    the tolerance that keeps a quantized ANN front-end's recall
    intact while cutting scan bandwidth 4x."""
    from mldb_spark.catalog import load
    from mldb_spark.functions.vector import cosine_similarity
    from mldb_spark.similarity import dequantize_embeddings, quantize_embeddings

    emb = load(spark, sf_dir, "embeddings").limit(100).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = dequantize_embeddings(quantize_embeddings(emb))
    rows = q.select(
        F.array_max(F.transform("q8", lambda c: F.abs(c.cast("int")))).alias("max_code"),
        cosine_similarity(F.col("embedding"), F.col("embedding_dq")).alias("cos"),
    ).collect()
    assert rows, "no embeddings loaded"
    for r in rows:
        assert r["max_code"] <= 127
        assert r["cos"] > 1.0 - 1e-2, r["cos"]


def test_ivf_quantized_recall_vs_exact(spark, sf_dir):
    """ivf_topk_quantized: int8 coarse scoring + exact rerank must
    recover >= 80% of the exact brute-force top-10 at full probe
    (isolating quantization loss from cell-probe loss)."""
    from mldb_spark.catalog import load
    from mldb_spark.similarity import brute_force_topk, ivf_topk_quantized

    corpus = load(spark, sf_dir, "embeddings")
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding")
    )
    exact = brute_force_topk(corpus, queries, k=10)
    approx = ivf_topk_quantized(
        corpus, queries, k=10, n_cells=4, n_probe=4, rerank=4
    )
    ex = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["vec_id"]) for r in approx.collect()}
    assert len(ap & ex) / len(ex) >= 0.8, f"recall {len(ap & ex)}/{len(ex)}"


def test_round4_operator_edge_cases(spark):
    """Empty/degenerate inputs for the round-4 operators: short docs
    in winnowing, empty survivor sets in GET_ALL, NULL embeddings in
    the tensor family."""
    from pyspark.sql import functions as F

    from mldb_spark.dedup import winnow_fingerprints
    from mldb_spark.functions.vector import tensor_reshape, tensor_shape
    from mldb_spark.operators.temporal import all_cells

    # a doc shorter than k tokens still emits exactly one fingerprint
    short = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    assert winnow_fingerprints(short, k=4, window=4).count() == 1

    # WHERE nothing survives -> empty GET_ALL output, no error
    cells = spark.createDataFrame(
        [("u1", "x", 1.0, "2024-01-01")],
        "row string, column string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = all_cells(cells, where_latest=F.col("value") > 99)
    assert out.count() == 0

    # NULL embedding -> NULL through reshape/shape, never an error
    df = spark.createDataFrame([(1, None), (2, [1.0, 2.0])], "id long, v array<double>")
    r = df.select(
        "id",
        tensor_reshape(F.col("v"), [2, 1], 1).alias("m"),
        tensor_shape(F.col("v"), 1).alias("s"),
    ).orderBy("id").collect()
    assert r[0]["m"] is None
    assert [int(x) for x in r[1]["s"]] == [2]


def test_asof_join_matches_duckdb_native(spark, duck, sf_dir):
    """asof_join (union + keyed window) hash-matches DuckDB's native
    ASOF JOIN: purchases pick up each user's latest prior view."""
    from mldb_spark.catalog import load
    from mldb_spark.operators.temporal import asof_join
    from mldb_spark.testing import compare_spark_duck

    ev = load(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("value").alias("purchase_value")
    )
    # dedupe right on (user, ts) so the as-of pick is unambiguous in
    # both engines
    right = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    got = asof_join(left, right, "user_id", "ts").select(
        "user_id",
        "ts",
        F.round("purchase_value", 2).alias("purchase_value"),
        F.round("view_value_r", 2).alias("prior_view_value"),
        F.col("ts_r").alias("view_ts"),
    ).orderBy("user_id", "ts")
    oracle = """
WITH l AS (
  SELECT user_id, ts, "value" AS purchase_value FROM events
  WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, ts, max("value") AS view_value FROM events
  WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT l.user_id, l.ts, round(l.purchase_value, 2) AS purchase_value,
       round(r.view_value, 2) AS prior_view_value, r.ts AS view_ts
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.user_id, l.ts
"""
    problems = compare_spark_duck(got, duck, oracle)
    assert problems == [], problems


def test_asof_join_tolerance(spark):
    from mldb_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00"), (1, "2024-01-01 05:00:00")],
        "k long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7.0)], "k long, ts string, v double"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["ts"].hour: r["v_r"]
        for r in asof_join(left, right, "k", "ts", tolerance_seconds=3600).collect()
    }
    assert out[0] == 7.0      # 10 min old: inside tolerance
    assert out[5] is None     # 5 h old: dropped


import pytest as _pytest


@_pytest.mark.parametrize("cutoff", [0, 1_000_000], ids=["distributed", "driver"])
def test_connected_components(spark, cutoff):
    """dedup.connected_components: min-label propagation resolves
    pairs into components — chains merge transitively, cycles close,
    disjoint pairs stay separate, and the component id is the
    minimum member. Parametrized over BOTH paths of the hybrid:
    driver_cutoff=0 forces the distributed pointer-jump loop; the
    default routes this metadata-sized graph to driver union-find.
    Identical expected output pins the two paths to the same
    contract."""
    from mldb_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [
            # chain 1-2-3-4-5 (transitive merge over 4 hops)
            (1, 2), (2, 3), (3, 4), (4, 5),
            # cycle 10-11-12-10
            (10, 11), (11, 12), (12, 10),
            # isolated pair
            (20, 21),
            # star centered high, min at a leaf
            (31, 30), (31, 32), (31, 33),
        ],
        "a long, b long",
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(pairs, driver_cutoff=cutoff).collect()
    }
    assert {n: out[n] for n in (1, 2, 3, 4, 5)} == {n: 1 for n in (1, 2, 3, 4, 5)}
    assert {n: out[n] for n in (10, 11, 12)} == {n: 10 for n in (10, 11, 12)}
    assert out[20] == 20 and out[21] == 20
    assert {n: out[n] for n in (30, 31, 32, 33)} == {n: 30 for n in (30, 31, 32, 33)}


def test_connected_components_long_chain_log_rounds(spark):
    """A path graph of diameter 4095 must converge within the default
    25-round budget — only possible because each round pointer-jumps
    label(u) := label(label(u)), turning O(diameter) propagation into
    O(log d) (Rastogi et al. ICDE'13). Plain propagation would need
    ~4000 rounds and previously returned silently-wrong labels.
    driver_cutoff=0 forces the distributed loop (the thing under
    test); the driver path replays the same graph for agreement."""
    from mldb_spark.dedup import connected_components

    n = 4096
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "a long, b long"
    )
    out = connected_components(pairs, driver_cutoff=0)
    comps = out.select("component").distinct().collect()
    assert [r["component"] for r in comps] == [0]
    assert out.count() == n
    driver_out = connected_components(pairs)
    assert driver_out.count() == n
    assert [
        r["component"] for r in driver_out.select("component").distinct().collect()
    ] == [0]


@_pytest.mark.parametrize("cutoff", [0, 1_000_000], ids=["distributed", "driver"])
def test_connected_components_string_ids(spark, cutoff):
    """String node ids (doc hashes, URLs) work: min-label over string
    ordering, no arithmetic on the label — the old decimal-sum
    convergence check raised TypeError on non-numeric ids. Both hybrid
    paths must produce the same string-ordered minima with a string
    output schema."""
    from mldb_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [("apple", "banana"), ("banana", "cherry"), ("x", "y")],
        "a string, b string",
    )
    res = connected_components(pairs, driver_cutoff=cutoff)
    assert dict(res.dtypes) == {"node": "string", "component": "string"}
    out = {r["node"]: r["component"] for r in res.collect()}
    assert out == {
        "apple": "apple", "banana": "apple", "cherry": "apple",
        "x": "x", "y": "x",
    }


def test_connected_components_unconverged_raises(spark):
    """max_iter too small for the graph's diameter must raise, not
    return silently-wrong components (distributed path only — driver
    union-find has no iteration budget)."""
    import pytest

    from mldb_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "a long, b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2, driver_cutoff=0).count()


@_pytest.mark.parametrize("cutoff", [0, 1_000_000], ids=["distributed", "driver"])
def test_connected_components_messy_pairs(spark, cutoff, caplog):
    """The driver path now consumes RAW pairs (optimization r10 — the
    symmetrize+distinct exchange is deferred to the distributed
    branch), so union-find must tolerate duplicate pairs, both
    orientations of the same edge, and self-loops; the distributed
    path dedups them through the edge distinct. Both paths must agree
    on the same messy input."""
    from mldb_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [
            (1, 2), (1, 2), (2, 1),   # duplicate + reversed orientation
            (3, 3),                    # self-loop
            (2, 3),
            (7, 8),
        ],
        "a long, b long",
    )
    with caplog.at_level(logging.DEBUG, logger="mldb_spark.session"):
        out = {
            r["node"]: r["component"]
            for r in connected_components(pairs, driver_cutoff=cutoff).collect()
        }
    # the forced distributed path runs no probe
    assert [r.getMessage() for r in caplog.records if r.name == "mldb_spark.session"] == (
        ["local_rows connected_components: local, 6 rows read, cap 1000000"] if cutoff else []
    )
    assert {n: out[n] for n in (1, 2, 3)} == {1: 1, 2: 1, 3: 1}
    assert out[7] == 7 and out[8] == 7


def test_connected_components_hybrid_paths_agree_random(spark):
    """Property: on a seeded random graph (200 nodes, 180 edges —
    mixes chains, merges, and singletons), the driver union-find path
    and the distributed pointer-jump path return byte-identical
    (node, component) sets."""
    import random

    from mldb_spark.dedup import connected_components

    rng = random.Random(77)
    edges = [
        (rng.randrange(200), rng.randrange(200)) for _ in range(180)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "a long, b long")
    dist = sorted(
        (r["node"], r["component"])
        for r in connected_components(pairs, driver_cutoff=0).collect()
    )
    drv = sorted(
        (r["node"], r["component"])
        for r in connected_components(pairs).collect()
    )
    assert dist == drv


def test_get_all_where_row_general_predicate(spark):
    """GET_ALL with an ARBITRARY multi-column row predicate
    (core/bound_queries.cc:385,394 evaluates WHERE at GET_LATEST):
    the latest view pivots to the predicate's columns, NULLs for
    absent cells follow 3VL, survivors emit their full
    superposition."""
    from pyspark.sql import functions as F

    from mldb_spark.operators.temporal import all_cells

    cells = spark.createDataFrame(
        [
            # u1: latest x=5, y=2  -> passes (x>4 AND y<3)
            ("u1", "x", 1.0, "2024-01-01"),
            ("u1", "x", 5.0, "2024-01-03"),
            ("u1", "y", 2.0, "2024-01-02"),
            # u2: latest x=9, y=8  -> fails y<3
            ("u2", "x", 9.0, "2024-01-01"),
            ("u2", "y", 8.0, "2024-01-04"),
            # u3: has y only -> x IS NULL -> 3VL fails
            ("u3", "y", 1.0, "2024-01-01"),
        ],
        "row string, column string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = all_cells(
        cells,
        where_row=(F.col("x") > 4) & (F.col("y") < 3),
        where_columns=["x", "y"],
    )
    assert sorted(r["row"] for r in out.select("row").distinct().collect()) == ["u1"]
    assert out.count() == 3  # full superposition: two x values + y

    # where_row without where_columns is a usage error
    import pytest

    with pytest.raises(ValueError, match="where_columns"):
        all_cells(cells, where_row=F.lit(True))


def test_dialect_all_cells_from_clause(spark):
    """SQL surface: FROM all_cells(ds, x > 4 AND y < 3) reaches the
    general GET_ALL WHERE; predicate names are logical cell
    columns."""
    from mldb_spark.dialect import MldbContext
    from pyspark.sql import functions as F
    cells = spark.createDataFrame(
        [
            ("u1", "x", 1.0, "2024-01-01"),
            ("u1", "x", 5.0, "2024-01-03"),
            ("u1", "y", 2.0, "2024-01-02"),
            ("u2", "x", 9.0, "2024-01-01"),
            ("u2", "y", 8.0, "2024-01-04"),
        ],
        "row string, column string, value double, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    ctx = MldbContext(spark)
    ctx.register("c", cells, ts_col="ts")
    out = ctx.query(
        "SELECT row, column, value FROM all_cells(c, x > 4 AND y < 3) "
        "ORDER BY row, column, value"
    )
    assert [tuple(r) for r in out.collect()] == [
        ("u1", "x", 1.0), ("u1", "x", 5.0), ("u1", "y", 2.0),
    ]
    # bare all_cells(ds) is the identity
    assert ctx.query("SELECT * FROM all_cells(c)").count() == 5


def test_sample_rows_deterministic_across_partitionings(spark):
    # global_hash_index ranks by a content hash, so the exact-n sample
    # is a pure function of (row content, seed) — identical output
    # regardless of the input partitioning.
    from mldb_spark.caching import release_cached
    from mldb_spark.operators.relational import sample_dataset

    base = spark.range(500).selectExpr("id", "id * 2 AS v")
    a = sorted(
        tuple(r)
        for r in sample_dataset(
            base.repartition(3), rows=40, with_replacement=True, seed=11
        ).collect()
    )
    b = sorted(
        tuple(r)
        for r in sample_dataset(
            base.repartition(17), rows=40, with_replacement=True, seed=11
        ).collect()
    )
    assert len(a) == 40 and a == b
    release_cached()


def test_unstratified_split_deterministic_and_disjoint(spark):
    from mldb_spark.caching import release_cached
    from mldb_spark.operators.relational import stratified_split

    base = spark.range(200).selectExpr("id", "id % 7 AS v")
    a1, b1 = stratified_split(base.repartition(4), [0.75, 0.25], seed=5)
    a2, b2 = stratified_split(base.repartition(9), [0.75, 0.25], seed=5)
    sa1 = {r["id"] for r in a1.collect()}
    sb1 = {r["id"] for r in b1.collect()}
    assert len(sa1) == 150 and len(sb1) == 50
    assert not (sa1 & sb1)
    assert sa1 == {r["id"] for r in a2.collect()}
    assert sb1 == {r["id"] for r in b2.collect()}
    release_cached()


def test_connected_components_leaves_session_clean_for_mllib(spark):
    """Regression: the CC loop must leave NO session-level observation
    state behind — a lingering ObservationManager registration (from
    a CollectMetrics-based convergence check) made every later MLlib
    evaluate() fail with 'Task not serializable'. Runs the distributed
    loop (incl. the raising path) then an MLlib evaluator in the same
    session."""
    import pytest as _pt

    from mldb_spark.dedup import connected_components
    from mldb_spark.ml.procedures import classifier_test

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "a long, b long"
    )
    assert connected_components(pairs, driver_cutoff=0).count() == 64
    with _pt.raises(RuntimeError):
        connected_components(pairs, max_iter=1, driver_cutoff=0).count()
    scored = spark.createDataFrame(
        [(0.9, 1.0), (0.2, 0.0), (0.8, 1.0), (0.1, 0.0)],
        "score double, label double",
    )
    row = classifier_test(scored).collect()[0]
    assert row["auc"] == 1.0


def test_embedding_candidate_cap_guard(spark):
    # VERDICT r7 #3: a bucket-collapsing corpus (identical vectors all
    # land in one band bucket) must trip the opt-in pair budget BEFORE
    # the exact-rescore join — same contract as simhash_pairs.
    import pytest

    from mldb_spark.similarity import (
        embedding_cosine_near_duplicates,
        semantic_dedup,
    )

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(6)]  # 15 pairs
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="candidate pairs"):
        embedding_cosine_near_duplicates(
            vecs, threshold=0.9, dim=4, max_candidate_pairs=10
        )
    # under the cap the pipeline completes and the guard is invisible
    assert (
        embedding_cosine_near_duplicates(
            vecs, threshold=0.9, dim=4, max_candidate_pairs=100
        ).count()
        == 15
    )
    # threaded through semantic_dedup
    with pytest.raises(ValueError, match="candidate pairs"):
        semantic_dedup(vecs, threshold=0.9, max_candidate_pairs=10).collect()


def test_fixture_export_flag_suppresses_io(tmp_path, monkeypatch):
    # bench.py sets MLDB_SPARK_SKIP_FIXTURE_EXPORT=1 so BENCH times
    # pure queries (VERDICT r7 #4); the flag must make both export
    # flavors no-ops (no parquet write, no collect).
    import os

    from mldb_spark import queries as q

    monkeypatch.setenv("MLDB_SPARK_SKIP_FIXTURE_EXPORT", "1")
    q.export_oracle_fixture("__flag_probe", {"x": 1.0})

    class Boom:
        def toArrow(self):  # collect would happen here
            raise AssertionError("export ran despite skip flag")

    q.export_oracle_fixture_df("__flag_probe", Boom())
    fx = os.path.join(os.path.dirname(os.path.dirname(q.__file__)),
                      ".oracle_fixtures", "__flag_probe.parquet")
    assert not os.path.exists(fx)
    monkeypatch.setenv("MLDB_SPARK_SKIP_FIXTURE_EXPORT", "0")
    q.export_oracle_fixture("__flag_probe", {"x": 1.0})
    assert os.path.exists(fx)
    os.remove(fx)
