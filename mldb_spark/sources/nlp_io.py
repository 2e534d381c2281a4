"""NLP resource importers (SURVEY §2.1 importers).

- import.sentiwordnet (plugins/nlp/sentiwordnet.cc:187): the
  SentiWordNet 3.0 tab-separated format (POS, synset id, PosScore,
  NegScore, SynsetTerms 'word#rank ...', Gloss; '#' comment lines) →
  one row per (word, pos) with the reference's output columns
  (SentiPos/SentiNeg/SentiObj), scores averaged over the word's
  synsets.
- import.word2vec (plugins/nlp/word2vec.cc:248): the word2vec binary
  format ('<vocab> <dim>\\n' header, then '<word> ' + dim float32s
  per entry) → (word, vector ARRAY<DOUBLE>) — the same shape
  ml.procedures.word2vec_train produces, so pooling and the embedding
  KNN work on either source.

Both files are vocabulary-sized artifacts (MBs to low GBs), not
corpus-scale: the parse runs driver-side exactly like the reference's
single-node importer, and the result lands in a DataFrame whose
DOWNSTREAM joins are the distributed part (broadcast dimension
pattern). The word2vec limit/offset options mirror the reference's.
"""

from __future__ import annotations

import struct as _struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mldb_spark.session import local_frame, local_rows


def import_sentiwordnet(spark: SparkSession, path: str) -> DataFrame:
    """SentiWordNet file → (word, pos, senti_pos, senti_neg,
    senti_obj), scores averaged across the synsets containing the
    word (reference emits one row per word#pos,
    plugins/nlp/sentiwordnet.cc:123-186)."""
    raw = (
        spark.read.option("sep", "\t")
        .option("comment", "#")
        .csv(path)
        .toDF("pos", "synset_id", "pos_score", "neg_score", "terms", "gloss")
        .filter(F.col("terms").isNotNull())
    )
    words = raw.select(
        "pos",
        F.col("pos_score").cast("double").alias("p"),
        F.col("neg_score").cast("double").alias("n"),
        F.explode(F.split(F.col("terms"), " ")).alias("term"),
    ).select(
        "pos", "p", "n",
        F.regexp_replace(F.col("term"), r"#\d+$", "").alias("word"),
    )
    return (
        words.groupBy("word", "pos")
        .agg(
            F.round(F.avg("p"), 6).alias("senti_pos"),
            F.round(F.avg("n"), 6).alias("senti_neg"),
            F.round(F.avg(1.0 - F.col("p") - F.col("n")), 6).alias("senti_obj"),
        )
    )


def read_word2vec_binary(path: str, limit: int | None = None, offset: int = 0):
    """Parse the word2vec binary format into (word, [float]) pairs —
    sequential records, so the parse is inherently single-reader
    (same as the reference importer). Generator keeps memory at one
    record."""
    with open(path, "rb") as f:
        header = f.readline().split()
        vocab, dim = int(header[0]), int(header[1])
        end = min(vocab, offset + limit) if limit is not None else vocab
        for i in range(end):
            word_bytes = bytearray()
            while True:
                ch = f.read(1)
                if not ch or ch == b" ":
                    break
                if ch != b"\n":
                    word_bytes.extend(ch)
            vec = _struct.unpack(f"<{dim}f", f.read(4 * dim))
            if i >= offset:
                yield word_bytes.decode("utf-8", errors="replace"), [float(x) for x in vec]


def import_word2vec(
    spark: SparkSession, path: str, limit: int | None = None, offset: int = 0
) -> DataFrame:
    """import.word2vec: binary embedding file → (word, vector)
    DataFrame. limit/offset mirror the reference's config
    (plugins/nlp/word2vec.cc:34-56)."""
    rows = list(read_word2vec_binary(path, limit, offset))
    return local_frame(spark, rows, "word string, vector array<double>")


def export_word2vec_binary(
    vectors: DataFrame, path: str, max_vocab: int = 10_000_000
) -> None:
    """Write (word, vector) back to the word2vec binary format —
    round-trip partner of import_word2vec for interchange with
    reference deployments.

    The format is a single sequential file, so the vocabulary MUST
    pass through the driver — inherent to the interchange format, not
    a plan defect. max_vocab bounds that collect (10M rows x 300 dims
    x 4B ≈ 12 GB — near the practical ceiling); corpora beyond it
    should stay in parquet and be consumed distributed."""
    rows = local_rows(vectors.select("word", "vector"), max_vocab, "word2vec export")
    if rows is None:
        raise ValueError(
            f"vocabulary exceeds max_vocab={max_vocab}: the word2vec "
            "binary format is a single driver-written file; keep larger "
            "embedding tables in parquet instead"
        )
    if not rows:
        raise ValueError("no vectors to export")
    rows = rows.to_pylist()
    dim = len(rows[0]["vector"])
    with open(path, "wb") as f:
        f.write(f"{len(rows)} {dim}\n".encode())
        for r in rows:
            f.write(r["word"].encode("utf-8") + b" ")
            f.write(_struct.pack(f"<{dim}f", *[float(x) for x in r["vector"]]))
            f.write(b"\n")
