"""SVM / random forest / GMM / word2vec wrappers + NLP functions."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F

from mldb_spark.catalog import load
from mldb_spark.functions.text import filter_stopwords, stem, stem_tokens, tokenize
from mldb_spark.ml.procedures import (
    gaussian_clustering_train,
    random_forest_train,
    svm_train,
    word2vec_train,
)
from mldb_spark.ml.registry import FunctionRegistry


def _separable(spark):
    return spark.createDataFrame(
        [(float(i), float((i * 7) % 13), 1.0 if i > 60 else 0.0) for i in range(120)],
        "x double, noise double, label double",
    )


def test_svm_separates(spark):
    reg = FunctionRegistry()
    data = _separable(spark)
    svm_train(data, ["x", "noise"], "label", "svm", reg)
    scored = reg.apply("svm", data)
    # margins should order with the label
    hi = scored.filter(F.col("label") == 1.0).agg(F.avg("margin")).collect()[0][0]
    lo = scored.filter(F.col("label") == 0.0).agg(F.avg("margin")).collect()[0][0]
    assert hi > lo


def test_random_forest(spark):
    reg = FunctionRegistry()
    data = _separable(spark)
    random_forest_train(data, ["x", "noise"], "label", num_trees=20, name="rf", registry=reg)
    scored = reg.apply("rf", data)
    acc = scored.withColumn(
        "ok", ((F.col("score") > 0.5) == (F.col("label") == 1.0)).cast("int")
    ).agg(F.avg("ok")).collect()[0][0]
    assert acc > 0.9


def test_gaussian_clustering(spark, sf_dir):
    reg = FunctionRegistry()
    emb = load(spark, sf_dir, "embeddings")
    model = gaussian_clustering_train(emb, "embedding", k=3, name="gmm", registry=reg)
    out = reg.apply("gmm", emb)
    assert out.select("prediction").distinct().count() <= 3
    assert len(model.weights) == 3


def test_word2vec(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    model, vectors = word2vec_train(docs, vector_size=16, min_count=5)
    vocab = vectors.count()
    assert vocab > 10
    row = vectors.limit(1).collect()[0]
    assert len(row["vector"]) == 16
    # similar words query works (the embedding-dataset use case)
    syn = model.findSynonymsArray("data", 3)
    assert len(syn) == 3


def test_filter_stopwords_and_stem(spark):
    df = spark.createDataFrame([("the running dogs quickly jumped",)], "t string")
    out = df.select(
        filter_stopwords(tokenize(F.col("t"))).alias("f"),
        stem_tokens(tokenize(F.col("t"))).alias("s"),
    ).collect()[0]
    assert "the" not in out["f"] and "running" in out["f"]
    stems = dict(zip(["the", "running", "dogs", "quickly", "jumped"], out["s"]))
    assert stems["running"] == "runn"
    assert stems["dogs"] == "dog"
    assert stems["quickly"] == "quick"
    assert stems["jumped"] == "jump"
    assert stems["the"] == "the"  # guard: stem would drop below 3 chars


PORTER_VECTORS = {
    # every worked example in Porter 1980 §§ step 1a–5b plus the
    # paper's chained derivations — pins the real algorithm, not a
    # lookalike ladder
    "caresses": "caress", "ponies": "poni", "ties": "ti", "caress": "caress",
    "cats": "cat", "feed": "feed", "agreed": "agre", "plastered": "plaster",
    "bled": "bled", "motoring": "motor", "sing": "sing", "conflated": "conflat",
    "troubled": "troubl", "sized": "size", "hopping": "hop", "tanned": "tan",
    "falling": "fall", "hissing": "hiss", "fizzed": "fizz", "failing": "fail",
    "filing": "file", "happy": "happi", "sky": "sky", "relational": "relat",
    "conditional": "condit", "rational": "ration", "valenci": "valenc",
    "hesitanci": "hesit", "digitizer": "digit", "conformabli": "conform",
    "radicalli": "radic", "differentli": "differ", "vileli": "vile",
    "analogousli": "analog", "vietnamization": "vietnam",
    "predication": "predic", "operator": "oper", "feudalism": "feudal",
    "decisiveness": "decis", "hopefulness": "hope", "callousness": "callous",
    "formaliti": "formal", "sensitiviti": "sensit", "sensibiliti": "sensibl",
    "triplicate": "triplic", "formative": "form", "formalize": "formal",
    "electriciti": "electr", "electrical": "electr", "hopeful": "hope",
    "goodness": "good", "revival": "reviv", "allowance": "allow",
    "inference": "infer", "airliner": "airlin", "gyroscopic": "gyroscop",
    "adjustable": "adjust", "defensible": "defens", "irritant": "irrit",
    "replacement": "replac", "adjustment": "adjust", "dependent": "depend",
    "adoption": "adopt", "communism": "commun", "activate": "activ",
    "angulariti": "angular", "homologous": "homolog", "effective": "effect",
    "bowdlerize": "bowdler", "probate": "probat", "rate": "rate",
    "cease": "ceas", "controlling": "control", "rolling": "roll",
    "generalizations": "gener", "oscillators": "oscil",
}


def test_porter_stem_paper_vectors():
    from mldb_spark.functions.text import porter_stem

    bad = {
        w: (porter_stem(w), want)
        for w, want in PORTER_VECTORS.items()
        if porter_stem(w) != want
    }
    assert bad == {}


def test_porter_stem_udfs(spark):
    from mldb_spark.functions.text import porter_stem_tokens_udf, porter_stem_udf

    words = list(PORTER_VECTORS)[:10]
    df = spark.createDataFrame([(w,) for w in words] + [(None,)], "w string")
    out = {r["w"]: r["s"] for r in df.select("w", porter_stem_udf()(F.col("w")).alias("s")).collect()}
    assert out[None] is None
    for w in words:
        assert out[w] == PORTER_VECTORS[w]
    doc = spark.createDataFrame([(words,)], "toks array<string>")
    stemmed = doc.select(porter_stem_tokens_udf()(F.col("toks")).alias("s")).collect()[0]["s"]
    assert stemmed == [PORTER_VECTORS[w] for w in words]


def test_feature_hasher_modes(spark):
    from mldb_spark.functions.feature_gen import (
        feature_hash_rows,
        hashed_feature_vector,
    )

    feats = spark.createDataFrame(
        [(1, "color", "red"), (1, "size", "xl"), (2, "color", "red"), (2, "color", "blue")],
        "doc_id long, feature string, val string",
    )
    cols = feature_hash_rows(feats, num_bits=4, feat_col="feature").collect()
    # columns mode: doc 2's two 'color' features land in ONE bucket, weight 2
    d2 = [r for r in cols if r["doc_id"] == 2]
    assert len(d2) == 1 and d2[0]["weight"] == 2.0
    # columnsAndValues mode distinguishes red vs blue
    cav = feature_hash_rows(
        feats, num_bits=8, feat_col="feature", value_col="val", mode="columnsAndValues"
    )
    assert cav.filter("doc_id = 2").count() == 2
    vec = hashed_feature_vector(cav, num_bits=8).collect()
    for r in vec:
        assert len(r["features"]) == 256
        assert abs(sum(r["features"]) - 2.0) < 1e-12  # each doc has 2 unit features


def test_pooling_contract(spark):
    from mldb_spark.functions.feature_gen import pooling

    bags = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "a"), (3, "zzz")], "doc_id long, token string"
    )
    vectors = spark.createDataFrame(
        [("a", [1.0, 3.0]), ("b", [3.0, 5.0])], "word string, vector array<double>"
    )
    out = {r["doc_id"]: r["embedding"] for r in
           pooling(bags, vectors, aggregators=("avg", "max", "sum")).collect()}
    assert out[1] == [2.0, 4.0, 3.0, 5.0, 4.0, 8.0]  # avg | max | sum
    assert out[2] == [1.0, 3.0, 1.0, 3.0, 1.0, 3.0]
    assert out[3] == [0.0] * 6  # no vocabulary hit -> zeros (reference contract)


def test_tsne_separates_clusters(spark):
    import numpy as np

    from mldb_spark.ml.procedures import tsne_train

    rng = np.random.RandomState(3)
    pts = [(i, (rng.randn(8) + (0 if i < 20 else 8)).tolist()) for i in range(40)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    coords = tsne_train(df, "embedding", perplexity=8.0).collect()
    assert len(coords) == 40 and set(coords[0].asDict()) == {"vec_id", "x", "y"}
    A = np.array([[r["x"], r["y"]] for r in coords if r["vec_id"] < 20])
    B = np.array([[r["x"], r["y"]] for r in coords if r["vec_id"] >= 20])
    # cluster separation survives the projection: centroid distance
    # dominates within-cluster spread
    d = np.linalg.norm(A.mean(0) - B.mean(0))
    spread = max(A.std(), B.std())
    assert d > 2 * spread


def test_tsne_embed_row_interpolates(spark):
    import numpy as np

    from mldb_spark.ml.procedures import tsne_embed_row, tsne_train
    from mldb_spark.ml.registry import FunctionRegistry

    rng = np.random.RandomState(7)
    pts = [(i, (rng.randn(6) + (0 if i < 15 else 6)).tolist()) for i in range(30)]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    coords = tsne_train(df, "embedding", perplexity=6.0, n_iter=300)
    reg = FunctionRegistry()
    embed = tsne_embed_row(df, coords, "embedding", k=3, name="tsne_e", registry=reg)

    # a training row embeds (almost) exactly onto its own map position:
    # distance 0 dominates the inverse-distance weights
    got = {r["vec_id"]: (r["x"], r["y"]) for r in embed(df).collect()}
    want = {r["vec_id"]: (r["x"], r["y"]) for r in coords.collect()}
    for vid in (0, 7, 29):
        assert abs(got[vid][0] - want[vid][0]) < 1e-6
        assert abs(got[vid][1] - want[vid][1]) < 1e-6

    # an unseen point near cluster B lands near B's map centroid
    newbie = spark.createDataFrame(
        [(999, (np.full(6, 6.05)).tolist())], "vec_id long, embedding array<double>"
    )
    out = reg.apply("tsne_e", newbie).collect()[0]
    B = np.array([want[i] for i in range(15, 30)])
    A = np.array([want[i] for i in range(15)])
    p = np.array([out["x"], out["y"]])
    assert np.linalg.norm(p - B.mean(0)) < np.linalg.norm(p - A.mean(0))


def test_classifier_explain_additivity(spark):
    from mldb_spark.ml.procedures import classifier_explain, classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    data = spark.createDataFrame(
        [(float(i), float(i % 5), 1.0 if i > 50 else 0.0) for i in range(100)],
        "x double, noise double, label double",
    )
    reg = FunctionRegistry()
    model = classifier_train(data, ["x", "noise"], "label", "clf_e", reg)
    classifier_explain(model, ["x", "noise"], "explain_e", reg)
    row = reg.apply("explain_e", data.limit(3)).collect()[0]
    # margin decomposition: sum of contributions + bias = w·x + b
    margin = row["explain_x"] + row["explain_noise"] + row["bias"]
    import math

    w = [float(c) for c in model.coefficients]
    expect = w[0] * row["x"] + w[1] * row["noise"] + float(model.intercept)
    assert math.isclose(margin, expect, abs_tol=1e-4)


def test_classifier_experiment_folds(spark):
    from mldb_spark.ml.procedures import classifier_experiment

    data = spark.createDataFrame(
        [(float(i), float((i * 7) % 13), 1.0 if i % 3 == 0 else 0.0) for i in range(120)],
        "f1 double, f2 double, label double",
    )
    res = classifier_experiment(data, ["f1", "f2"], "label", folds=3).collect()
    assert len(res) == 3
    assert sum(r["n_test"] for r in res) == 120
    for r in res:
        assert 0.0 <= r["auc"] <= 1.0 and 0.0 <= r["accuracy"] <= 1.0


def test_permuter_run(spark):
    from mldb_spark.ml.procedures import permuter_run

    got = permuter_run({"a": [1, 2], "b": ["x", "y"]}, lambda p: p["a"] * 10 + len(p["b"]))
    assert len(got) == 4
    assert {(g["a"], g["b"]) for g in got} == {(1, "x"), (1, "y"), (2, "x"), (2, "y")}


def test_import_sentiwordnet_and_word2vec(spark, tmp_path):
    from mldb_spark.sources.nlp_io import (
        export_word2vec_binary,
        import_sentiwordnet,
        import_word2vec,
    )

    swn = tmp_path / "swn.txt"
    swn.write_text(
        "# SentiWordNet v3.0 comment line\n"
        "a\t00001740\t0.125\t0\tgood#1 unspoiled#2\tfine gloss\n"
        "a\t00002098\t0.5\t0.125\tgood#2\tanother gloss\n"
        "n\t00003553\t0\t0.75\tbad#1\tnegative gloss\n"
    )
    sw = import_sentiwordnet(spark, str(swn))
    rows = {(r["word"], r["pos"]): r for r in sw.collect()}
    assert rows[("good", "a")]["senti_pos"] == 0.3125  # avg(0.125, 0.5)
    assert rows[("bad", "n")]["senti_neg"] == 0.75
    assert abs(rows[("unspoiled", "a")]["senti_obj"] - 0.875) < 1e-9

    vecs = spark.createDataFrame(
        [("alpha", [1.0, 2.0, 3.0]), ("beta", [-1.5, 0.25, 4.0])],
        "word string, vector array<double>",
    )
    w2v = tmp_path / "vecs.bin"
    export_word2vec_binary(vecs, str(w2v))
    back = {r["word"]: r["vector"] for r in import_word2vec(spark, str(w2v)).collect()}
    assert back["alpha"] == [1.0, 2.0, 3.0]
    assert back["beta"] == [-1.5, 0.25, 4.0]
    limited = import_word2vec(spark, str(w2v), limit=1)
    assert limited.count() == 1


def test_tokensplit_and_web_fns(spark):
    from mldb_spark.functions.text import tokensplit
    from mldb_spark.functions.web import html_links, html_text, parse_useragent
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("I love #spark#data and $AAPL!",)], "t string"
    )
    out = df.select(
        tokensplit(F.col("t"), ["#spark", "#data", "$AAPL"]).alias("s")
    ).collect()[0]["s"]
    assert out == "I love  #spark #data and  $AAPL!"

    html = (
        "<html><head><style>.x{color:red}</style><script>var a=1;</script></head>"
        "<body><h1>Title</h1><p>Hello &amp; <b>world</b></p>"
        "<a href='http://a.example/x'>link</a><!-- note --></body></html>"
    )
    hdf = spark.createDataFrame([(html,)], "h string")
    row = hdf.select(
        html_text(F.col("h")).alias("txt"), html_links(F.col("h")).alias("links")
    ).collect()[0]
    assert row["txt"] == "Title Hello & world link"
    assert row["links"] == ["http://a.example/x"]

    uas = spark.createDataFrame(
        [
            ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
             "(KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",),
            ("Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) "
             "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",),
            ("Googlebot/2.1 (+http://www.google.com/bot.html)",),
        ],
        "ua string",
    )
    parsed = uas.select(parse_useragent(F.col("ua")).alias("p")).select("p.*").collect()
    assert parsed[0]["browser_family"] == "Chrome" and parsed[0]["os_family"] == "Windows"
    assert parsed[0]["browser_version"].startswith("120")
    # uap-core splits the mobile family (MLDB-1753, round 7)
    assert parsed[1]["browser_family"] == "Mobile Safari" and parsed[1]["os_family"] == "iOS"
    assert parsed[1]["device_model"] == "iPhone" and parsed[1]["os_version"] == "17.1"
    assert parsed[2]["is_spider"] is True and parsed[0]["is_spider"] is False


def test_stats_table_named_function(spark):
    from pyspark.sql import functions as F

    from mldb_spark.ml.registry import FunctionRegistry
    from mldb_spark.operators.relational import stats_table_get_counts, stats_table_totals

    train = spark.createDataFrame(
        [("a", 1), ("a", 0), ("a", 1), ("b", 0)], "k string, y int"
    )
    totals = stats_table_totals(train, ["k"], F.col("y") == 1)
    reg = FunctionRegistry()
    stats_table_get_counts(totals, ["k"], "st.getCounts", registry=reg)
    apply_to = spark.createDataFrame([("a",), ("b",), ("zzz",)], "k string")
    rows = {r["k"]: r for r in reg.apply("st.getCounts", apply_to).collect()}
    assert rows["a"]["st_count"] == 3 and rows["a"]["st_outcomes"] == 2
    assert rows["b"]["st_count"] == 1 and rows["b"]["st_outcomes"] == 0
    assert rows["zzz"]["st_count"] == 0 and rows["zzz"]["st_outcomes"] == 0


def test_import_git(spark):
    from mldb_spark.sources.git_io import import_git

    df = import_git(spark, "/root/repo", limit=5)
    rows = df.collect()
    assert 1 <= len(rows) <= 5
    head = rows[0]
    assert len(head["commit"]) == 40
    assert head["filesChanged"] >= 1 and head["insertions"] >= 0
    assert isinstance(head["parents"], list)
    # no-stats variant still yields the commit metadata
    lite = import_git(spark, "/root/repo", limit=2, import_stats=False).collect()
    assert len(lite) == 2 and lite[0]["filesChanged"] == 0


def _write_xlsx_fixture(path: str) -> None:
    """Hand-roll a minimal ECMA-376 workbook: two sheets, shared +
    inline strings, numerics, booleans, and a sparse row (missing B3)."""
    import zipfile

    content_types = (
        '<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org'
        '/package/2006/content-types">'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats'
        '-package.relationships+xml"/></Types>'
    )
    root_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
        'openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    workbook = (
        '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.'
        'org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.'
        'org/officeDocument/2006/relationships"><sheets>'
        '<sheet name="people" sheetId="1" r:id="rId1"/>'
        '<sheet name="extra" sheetId="2" r:id="rId2"/></sheets></workbook>'
    )
    wb_rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
        'openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.xml"/>'
        '<Relationship Id="rId2" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet2.xml"/>'
        '<Relationship Id="rId3" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/sharedStrings" '
        'Target="sharedStrings.xml"/></Relationships>'
    )
    shared = (
        '<?xml version="1.0"?><sst xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main" count="4" uniqueCount="4">'
        "<si><t>name</t></si><si><t>score</t></si><si><t>alice</t></si>"
        "<si><r><t>bo</t></r><r><t>b</t></r></si></sst>"
    )
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    sheet1 = (
        f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c>'
        '<c r="C1" t="inlineStr"><is><t>ok</t></is></c></row>'
        '<row r="2"><c r="A2" t="s"><v>2</v></c><c r="B2"><v>12.5</v></c>'
        '<c r="C2" t="b"><v>1</v></c></row>'
        '<row r="3"><c r="A3" t="s"><v>3</v></c><c r="C3" t="b"><v>0</v></c>'
        "</row></sheetData></worksheet>"
    )
    sheet2 = (
        f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
        '<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>'
        '<row r="2"><c r="A2"><v>42</v></c></row></sheetData></worksheet>'
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        z.writestr("xl/sharedStrings.xml", shared)
        z.writestr("xl/worksheets/sheet1.xml", sheet1)
        z.writestr("xl/worksheets/sheet2.xml", sheet2)


def test_import_xlsx(spark, tmp_path):
    import pytest

    from mldb_spark.sources.git_io import import_xlsx

    path = str(tmp_path / "fixture.xlsx")
    _write_xlsx_fixture(path)

    df = import_xlsx(spark, path)
    assert df.columns == ["name", "score", "ok"]
    rows = {r["name"]: r for r in df.collect()}
    assert rows["alice"]["score"] == 12.5 and rows["alice"]["ok"] is True
    # rich-text shared string is concatenated; sparse B3 is NULL
    assert rows["bob"]["score"] is None and rows["bob"]["ok"] is False

    second = import_xlsx(spark, path, sheet="extra")
    assert second.columns == ["k"]
    assert second.collect()[0]["k"] == 42

    with pytest.raises(ValueError, match="not in"):
        import_xlsx(spark, path, sheet="nope")


def test_order_features_ml_gates_learn_planted_rule(spark, sf_dir):
    """The shared ML-gate featurization plants a known noisy linear
    rule (see queries._order_features): a working train/score/eval
    path must recover it. AUC floor 0.85 holds with huge margin
    (measured ~0.94); a feature-wiring or eval bug drops it to ~0.5."""
    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import classifier_test, classifier_train
    from mldb_spark.ml.registry import FunctionRegistry
    from mldb_spark.queries import _order_features

    feats = _order_features(spark, sf_dir)
    train = feats.filter(F.col("o_orderkey") % 5 != 0)
    test = feats.filter(F.col("o_orderkey") % 5 == 0)
    reg = FunctionRegistry()
    classifier_train(
        train, ["f_year", "f_month", "f_priority", "f_cust"], "label", "auc_floor", reg
    )
    m = classifier_test(reg.apply("auc_floor", test), "label", "score").collect()[0]
    assert m["auc"] > 0.85, m


def test_classifier_algorithm_matrix(spark):
    """classifier.train algorithm/mode matrix (ClassifierConf.md;
    MLDB-174/1597 regression mode, decision-tree/bagging/boosting
    configs): every estimator learns the planted rule, regression
    mode recovers a linear signal, and unknown combos raise."""
    import pytest
    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    df = (
        spark.range(400)
        .select(
            (F.col("id") % 20).cast("double").alias("f1"),
            ((F.col("id") * 7) % 13).cast("double").alias("f2"),
        )
        .withColumn("label", (F.col("f1") + F.col("f2") > 16).cast("int"))
    )
    for algorithm in ("glz", "dt", "bagging", "boosting", "naive_bayes"):
        reg = FunctionRegistry()
        classifier_train(
            df, ["f1", "f2"], "label",
            name="m", registry=reg, algorithm=algorithm,
        )
        scored = reg.apply("m", df)
        acc = (
            scored.withColumn(
                "ok", ((F.col("score") > 0.5) == (F.col("label") == 1)).cast("int")
            )
            .agg(F.avg("ok"))
            .collect()[0][0]
        )
        assert acc > 0.8, (algorithm, acc)
    # regression mode: recover y = 3*f1 - 2*f2 + 1
    reg_df = df.withColumn("y", 3 * F.col("f1") - 2 * F.col("f2") + 1)
    for algorithm in ("glz", "dt", "bagging", "boosting"):
        reg = FunctionRegistry()
        classifier_train(
            reg_df, ["f1", "f2"], "y",
            name="r", registry=reg, algorithm=algorithm, mode="regression",
        )
        scored = reg.apply("r", reg_df)
        mse = (
            scored.withColumn("e", (F.col("score") - F.col("y")) ** 2)
            .agg(F.avg("e"))
            .collect()[0][0]
        )
        assert mse < 25.0, (algorithm, mse)
    with pytest.raises(ValueError, match="unknown algorithm"):
        classifier_train(
            df, ["f1"], "label", algorithm="naive_bayes", mode="regression"
        )
    with pytest.raises(ValueError, match="unknown classifier mode"):
        classifier_train(df, ["f1"], "label", mode="multilabel")


def test_classifier_categorical_mode(spark):
    """Categorical mode (MLDB-647/2143): string class labels index
    through training and map back on output; per-class probabilities
    come out as a scores map keyed by the original labels."""
    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    df = (
        spark.range(300)
        .select(
            (F.col("id") % 30).cast("double").alias("f1"),
        )
        .withColumn(
            "cls",
            F.when(F.col("f1") < 10, F.lit("low"))
            .when(F.col("f1") < 20, F.lit("mid"))
            .otherwise(F.lit("high")),
        )
    )
    reg = FunctionRegistry()
    classifier_train(
        df, ["f1"], "cls", name="mc", registry=reg,
        algorithm="glz", mode="categorical",
    )
    out = reg.apply("mc", df)
    assert "predicted" in out.columns and "scores" in out.columns
    acc = (
        out.withColumn("ok", (F.col("predicted") == F.col("cls")).cast("int"))
        .agg(F.avg("ok"))
        .collect()[0][0]
    )
    assert acc > 0.9
    row = out.collect()[0]
    assert set(row["scores"].keys()) == {"low", "mid", "high"}
    assert abs(sum(row["scores"].values()) - 1.0) < 1e-6


def test_classifier_test_modes(spark):
    """MLDB-256_accuracy_accepts_all_cls_modes.py: the test procedure
    accepts regression (mse 0.375 on the reference's toy set, r2,
    quantile errors) and categorical (confusion matrix) modes."""
    import pytest
    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import classifier_test

    toy_reg = spark.createDataFrame(
        [(3.0, 2.5), (-0.5, 0.0), (2.0, 2.0), (7.0, 8.0)],
        "label double, score double",
    )
    row = classifier_test(toy_reg, mode="regression").collect()[0]
    assert row["mse"] == pytest.approx(0.375)
    assert 0 < row["r2"] <= 1
    # the reference's quantileErrors are RELATIVE |(p-y)/y| picked at
    # sorted index int((n-1)*q) (accuracy.cc:785,945): errors
    # [1/6, 1, 0, 1/7] sorted -> q50 at index 1 = 1/7
    assert row["quantile_err_50"] == pytest.approx(1 / 7)
    toy_cat = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 2), (2, 2), (0, 0)],
        "label int, score int",
    )
    cm = {
        (r["label"], r["predicted"]): r["count"]
        for r in classifier_test(toy_cat, mode="categorical").collect()
    }
    assert cm == {("0", "0"): 2, ("1", "0"): 1, ("2", "2"): 2}
    with pytest.raises(ValueError, match="unknown classifier.test mode"):
        classifier_test(toy_reg, mode="nope")


def test_classifier_categorical_features(spark):
    """MLDB-1766_dt_categorical surface: string feature columns
    one-hot encode automatically (capped vocabulary) for every
    algorithm; the scorer replays the encoding on new input."""
    import pytest
    from pyspark.sql import functions as F

    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    df = (
        spark.range(400)
        .select(
            "id",
            (F.col("id") % 4).alias("g"),
            (F.col("id") % 7).cast("double").alias("num"),
        )
        .withColumn(
            "surface",
            F.element_at(
                F.array(F.lit("grass"), F.lit("clay"), F.lit("hard"), F.lit("carpet")),
                (F.col("g") + 1).cast("int"),
            ),
        )
        # label depends on the categorical: clay/hard are positive
        .withColumn("label", F.col("surface").isin("clay", "hard").cast("int"))
    )
    for algorithm in ("glz", "dt"):
        reg = FunctionRegistry()
        classifier_train(
            df, ["surface", "num"], "label",
            name="m", registry=reg, algorithm=algorithm,
        )
        scored = reg.apply("m", df.drop("label").join(df.select("id", "label"), "id"))
        acc = (
            scored.withColumn(
                "ok", ((F.col("score") > 0.5) == (F.col("label") == 1)).cast("int")
            )
            .agg(F.avg("ok"))
            .collect()[0][0]
        )
        assert acc > 0.95, (algorithm, acc)
    # unbounded category set refuses loudly
    big = spark.range(500).select(
        F.col("id").cast("string").alias("cat"),
        (F.col("id") % 2).cast("int").alias("label"),
    )
    with pytest.raises(ValueError, match="distinct values"):
        classifier_train(big, ["cat"], "label")


def test_local_logistic_matches_mllib_optimum(spark):
    """Optimization r9: the glz/boolean local Newton fit solves the
    SAME strictly-convex objective as MLlib's LBFGS, so coefficients
    agree to high precision and the registered scorer is the same
    sigmoid."""
    import numpy as np

    from mldb_spark.ml.procedures import classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    rng = np.random.RandomState(5)
    n = 3000
    X = rng.randn(n, 3)
    true_w = np.array([1.5, -2.0, 0.5])
    p = 1.0 / (1.0 + np.exp(-(X @ true_w + 0.3)))
    y = (rng.rand(n) < p).astype(float)
    rows = [(float(a), float(b), float(c), float(l)) for (a, b, c), l in zip(X, y)]
    df = spark.createDataFrame(rows, "f1 double, f2 double, f3 double, label double")

    reg = FunctionRegistry()
    model = classifier_train(df, ["f1", "f2", "f3"], "label", "lrloc", reg)
    # local-path shim (no Spark fit); coefficients near the truth
    from mldb_spark.ml.procedures import _LocalLogisticModel

    assert isinstance(model, _LocalLogisticModel)
    w = np.array([float(c) for c in model.coefficients])
    assert np.abs(w - true_w).max() < 0.35

    # MLlib fit on the same data converges to the same optimum
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(inputCols=["f1", "f2", "f3"], outputCol="features")
    ml = LogisticRegression(maxIter=100, regParam=0.01).fit(assembler.transform(df))
    assert np.abs(w - np.array(ml.coefficients)).max() < 1e-4
    assert abs(float(model.intercept) - float(ml.intercept)) < 1e-4

    # the registered scorer is sigmoid(b + w.x)
    scored = reg.apply("lrloc", df).select("f1", "f2", "f3", "score").limit(50).collect()
    for r in scored:
        z = float(model.intercept) + sum(
            float(wj) * r[f"f{j+1}"] for j, wj in enumerate(model.coefficients)
        )
        assert abs(r["score"] - 1.0 / (1.0 + np.exp(-z))) < 1e-9


def test_local_svc_matches_mllib_optimum(spark):
    """Optimization r9: svm_train's local continuation-Newton solves
    the SAME strictly-convex L2-hinge objective as MLlib's OWLQN, so
    coefficients agree (to MLlib's own loose tol=1e-3) and the
    registered margin is the same hyperplane."""
    import numpy as np

    from mldb_spark.ml.procedures import _LocalLogisticModel, svm_train
    from mldb_spark.ml.registry import FunctionRegistry

    rng = np.random.RandomState(11)
    n = 3000
    X = rng.randn(n, 3)
    true_w = np.array([1.0, -1.5, 0.7])
    # noisy labels keep the problem non-separable (unique intercept)
    marg = X @ true_w + 0.2 + 0.8 * rng.randn(n)
    y = (marg > 0).astype(float)
    rows = [(float(a), float(b), float(c), float(l)) for (a, b, c), l in zip(X, y)]
    df = spark.createDataFrame(rows, "f1 double, f2 double, f3 double, label double")

    reg = FunctionRegistry()
    model = svm_train(df, ["f1", "f2", "f3"], "label", "svcloc", reg)
    assert isinstance(model, _LocalLogisticModel)
    w = np.array([float(c) for c in model.coefficients])

    from pyspark.ml.classification import LinearSVC
    from pyspark.ml.feature import VectorAssembler

    assembler = VectorAssembler(inputCols=["f1", "f2", "f3"], outputCol="features")
    # coalesce(1): same rows, same objective, same optimum — but the
    # 200-iteration OWLQN reference fit schedules 1 task per
    # treeAggregate instead of <default parallelism>, which is most of
    # this test's wall-clock on tiny data.
    assembled = assembler.transform(df).coalesce(1).cache()
    ml = LinearSVC(maxIter=200, regParam=0.01, tol=1e-9).fit(assembled)
    assembled.unpersist()
    assert np.abs(w - np.array(ml.coefficients)).max() < 2e-3
    assert abs(float(model.intercept) - float(ml.intercept)) < 2e-3

    # the registered margin is b + w.x
    scored = reg.apply("svcloc", df).select("f1", "f2", "f3", "margin").limit(50).collect()
    for r in scored:
        z = float(model.intercept) + sum(
            float(wj) * r[f"f{j+1}"] for j, wj in enumerate(model.coefficients)
        )
        assert abs(r["margin"] - z) < 1e-9


def test_local_svc_degenerate_falls_back(spark):
    """Constant labels (non-unique intercept under hinge) keep the
    MLlib LinearSVC path."""
    from mldb_spark.ml.procedures import _LocalLogisticModel, svm_train
    from mldb_spark.ml.registry import FunctionRegistry

    df = spark.createDataFrame(
        [(float(i), 1.0) for i in range(20)], "f1 double, label double"
    )
    reg = FunctionRegistry()
    model = svm_train(df, ["f1"], "label", "svcconst", reg)
    assert not isinstance(model, _LocalLogisticModel)
    out = reg.apply("svcconst", df)
    assert out.select("margin").count() == 20


def test_local_svc_separable_falls_back(spark):
    """Linearly-separable input (zero hinge loss at the optimum makes
    the unregularized intercept non-unique) keeps the MLlib LinearSVC
    path (VERDICT r9 #7)."""
    from mldb_spark.ml.procedures import _LocalLogisticModel, svm_train
    from mldb_spark.ml.registry import FunctionRegistry

    # wide margin: label flips at f1=0 with a gap of 20 — any solver
    # ends with every point strictly outside the margin
    rows = [(float(i), 0.0) for i in range(-30, -9)] + [
        (float(i), 1.0) for i in range(10, 31)
    ]
    df = spark.createDataFrame(rows, "f1 double, label double")
    reg = FunctionRegistry()
    model = svm_train(df, ["f1"], "label", "svcsep", reg)
    assert not isinstance(model, _LocalLogisticModel)
    assert reg.apply("svcsep", df).select("margin").count() == 42


def test_local_logistic_degenerate_falls_back(spark):
    """Constant labels keep the MLlib path (and its behavior) rather
    than the local Newton solver."""
    from mldb_spark.ml.procedures import _LocalLogisticModel, classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    df = spark.createDataFrame(
        [(float(i), 1.0) for i in range(20)], "f1 double, label double"
    )
    reg = FunctionRegistry()
    model = classifier_train(df, ["f1"], "label", "lrconst", reg)
    assert not isinstance(model, _LocalLogisticModel)
    out = reg.apply("lrconst", df)
    assert out.select("score").count() == 20


def test_svd_local_gram_matches_distributed(spark, caplog):
    """The bounded local (numpy bincount) Gram and the distributed
    self-join Gram produce the same factorization on the same cells
    (optimization r10). Forcing the distributed path via the cells
    cap must yield singular values equal to the local path's to
    float tolerance (same Gram, same eigh)."""
    import mldb_spark.ml.procedures as proc
    from mldb_spark.ml.registry import FunctionRegistry

    rows = [
        (f"r{i}", f"c{j}", float((i * 7 + j * 3) % 5 + 1))
        for i in range(40)
        for j in range(6)
        if (i + j) % 3
    ]
    cells = spark.createDataFrame(rows, "row_id string, column string, value double")
    caplog.set_level(logging.DEBUG, logger="mldb_spark.session")
    _, cols_l, sv_l = proc.svd_train(
        cells, k=3, name="svdl", registry=FunctionRegistry()
    )
    orig = proc._LOCAL_GRAM_CELLS_CAP
    proc._LOCAL_GRAM_CELLS_CAP = 0  # force the distributed join
    try:
        _, cols_d, sv_d = proc.svd_train(
            cells, k=3, name="svdd", registry=FunctionRegistry()
        )
    finally:
        proc._LOCAL_GRAM_CELLS_CAP = orig
    assert [
        m.split(",")[0] for m in caplog.messages if m.startswith("local_rows svd_train gram")
    ] == ["local_rows svd_train gram: local", "local_rows svd_train gram: over cap"]
    assert sv_l == [pytest.approx(s, abs=1e-9) for s in sv_d]
    lv = {r["column"]: r["embedding"] for r in cols_l.collect()}
    dv = {r["column"]: r["embedding"] for r in cols_d.collect()}
    assert set(lv) == set(dv)
    for c in lv:
        # eigenvectors are sign-ambiguous per component only when
        # eigh breaks ties differently; same Gram (to ULP) keeps the
        # same basis, so compare absolute values conservatively
        assert [abs(x) for x in lv[c]] == [
            pytest.approx(abs(x), abs=1e-7) for x in dv[c]
        ]


def test_gmm_degenerate_input_falls_back(spark):
    """1-row input: np.cov is NaN — the local GMM must fall back to
    MLlib instead of registering NaN literals (ADVICE r9)."""
    from mldb_spark.ml.procedures import gaussian_clustering_train
    from mldb_spark.ml.registry import FunctionRegistry

    df = spark.createDataFrame([([1.0, 2.0],)], "embedding array<double>")
    reg = FunctionRegistry()
    gaussian_clustering_train(df, "embedding", k=2, name="gmm1", registry=reg)
    out = reg.apply("gmm1", df).select("prediction").collect()
    assert len(out) == 1 and out[0][0] is not None


def test_classifier_partial_convergence_uses_mllib(spark):
    """max_iter is an iteration BUDGET: a budget too small for the
    local Newton to converge in must fall back to MLlib (the only
    path with meaningful partial-convergence behavior), while a
    budget Newton converges within keeps the fast path (ADVICE r9,
    budget semantics r10)."""
    from mldb_spark.ml.procedures import _LocalLogisticModel, classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    rows = [(float(i), float(i % 2)) for i in range(30)]
    df = spark.createDataFrame(rows, "f1 double, label double")
    reg = FunctionRegistry()
    # 1 Newton step cannot reach tol=1e-12 — must step aside
    model = classifier_train(df, ["f1"], "label", "lrpart", reg, max_iter=1)
    assert not isinstance(model, _LocalLogisticModel)
    # a realistic sub-default budget that Newton converges within
    # (q74 passes max_iter=20) keeps the fast path
    model20 = classifier_train(df, ["f1"], "label", "lrp20", reg, max_iter=20)
    assert isinstance(model20, _LocalLogisticModel)


def test_local_scorer_raises_on_null_feature(spark):
    """The local fast-path scorer shares the MLlib regime's error
    surface: a NULL feature at apply time raises instead of silently
    scoring NULL (ADVICE r9)."""
    from mldb_spark.ml.procedures import _LocalLogisticModel, classifier_train
    from mldb_spark.ml.registry import FunctionRegistry

    rows = [(float(i), 1.0, float(i % 2)) for i in range(40)]
    df = spark.createDataFrame(rows, "f1 double, f2 double, label double")
    reg = FunctionRegistry()
    model = classifier_train(df, ["f1", "f2"], "label", "lrnull", reg)
    assert isinstance(model, _LocalLogisticModel)
    bad = spark.createDataFrame(
        [(1.0, None)], "f1 double, f2 double"
    )
    with pytest.raises(Exception, match="NULL feature"):
        reg.apply("lrnull", bad).select("score").collect()


def test_tfidf_none_corpus_size_guard():
    """corpus_size=None is legal only for the N-free idf flavors; an
    N-dependent flavor must fail loudly (ADVICE r9)."""
    from mldb_spark.ml.procedures import tfidf_score_table

    with pytest.raises(ValueError, match="corpus size"):
        tfidf_score_table(None, None, None, idf_type="inverseSmooth")


def test_cluster_fits_mllib_regime(spark, caplog):
    """_LOCAL_CLUSTER_ROWS = 0 forces the distributed MLlib kmeans and
    GMM fits; their registered assignments still add `cluster` /
    `prediction` to every row."""
    import mldb_spark.ml.procedures as proc
    from mldb_spark.ml.registry import FunctionRegistry

    rows = [([float(i % 3) * 10 + (i % 5) * 0.1, float(i % 3)],) for i in range(60)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    reg = FunctionRegistry()
    caplog.set_level(logging.DEBUG, logger="mldb_spark.session")
    orig = proc._LOCAL_CLUSTER_ROWS
    proc._LOCAL_CLUSTER_ROWS = 0
    try:
        km, _ = proc.kmeans_train(df, "embedding", k=3, name="kmd", registry=reg)
        gmm = proc.gaussian_clustering_train(
            df, "embedding", k=3, name="gmmd", registry=reg
        )
    finally:
        proc._LOCAL_CLUSTER_ROWS = orig
    assert not isinstance(km, proc._LocalKMeansModel)
    assert not isinstance(gmm, proc._LocalGMMModel)
    assert [r.getMessage() for r in caplog.records if r.name == "mldb_spark.session"] == [
        "local_rows kmeans_train: over cap, 1 rows read, cap 0",
        "local_rows gaussian_clustering_train: over cap, 1 rows read, cap 0",
    ]
    for fn, col in (("kmd", "cluster"), ("gmmd", "prediction")):
        out = reg.apply(fn, df).select(col).collect()
        assert len(out) == 60 and all(r[0] is not None for r in out)


def test_kmeans_entity_skips_interval_columns(spark):
    """An interval column is not a numeric feature ('interval…' starts
    with 'int'): kmeans.train over a dataset carrying one trains on
    the real numeric columns only."""
    import datetime as dt

    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    rows = [
        (float(i % 2) * 10 + i * 0.01, float(i % 2), dt.timedelta(seconds=i))
        for i in range(20)
    ]
    mldb.create_dataset(
        "kmiv",
        spark.createDataFrame(rows, "x double, y double, d interval day to second"),
    )
    status = mldb.create_entity("procedure", {
        "type": "kmeans.train", "id": "kmiv_train",
        "params": {"trainingData": "SELECT * FROM kmiv",
                   "numClusters": 2, "functionName": "kmiv_fn"},
    })["status"]
    assert status["columns"] == ["x", "y"]


def test_svm_entity_three_classes(spark):
    """svm.train with three well-separated label values: one binary
    svm_train fit per class, argmax of the margins — a point inside
    each cluster gets that cluster's ORIGINAL label back."""
    from mldb_spark.api import Mldb

    mldb = Mldb(spark)
    centers = {"a": (0.0, 10.0), "b": (-10.0, -6.0), "c": (10.0, -6.0)}
    rows = [
        (lab, cx + 0.3 * ((i * 7) % 5 - 2), cy + 0.3 * ((i * 3) % 5 - 2))
        for lab, (cx, cy) in centers.items()
        for i in range(10)
    ]
    mldb.create_dataset(
        "svm3", spark.createDataFrame(rows, "label string, x double, y double")
    )
    status = mldb.create_entity("procedure", {
        "type": "svm.train", "id": "svm3_train",
        "params": {"trainingData": {"from": {"id": "svm3"}},
                   "functionName": "svm3"},
    })["status"]
    assert status["classes"] == ["a", "b", "c"]
    for lab, (cx, cy) in centers.items():
        out = mldb.query(
            f"SELECT svm3({{*}})[output] AS o FROM (SELECT {cx} AS x, {cy} AS y)"
        ).collect()
        assert out[0]["o"] == lab
