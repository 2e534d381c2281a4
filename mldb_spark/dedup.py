"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (its nearest capability is the
embedding dataset's KNN, plugins/embedding/embedding.cc); these are
the standard web-scale text-dedup algorithms expressed as shuffle-
conscious DataFrame plans.

Design for 100 TB:
- exact dedup: one hash-groupBy shuffle on a 32-byte fingerprint;
- minhash LSH: per-doc signatures are computed in a single explode +
  groupBy pass, band keys bucket candidates so the pair join is
  |bucket|^2 per bucket instead of |corpus|^2 globally;
- hashes are md5-derived (engine-portable) so a SQL oracle can replay
  the whole pipeline bit-for-bit — and md5 stays stable across Spark
  versions/executors, unlike JVM Random-seeded generators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mldb_spark.caching import persist_tracked
from mldb_spark.functions.text import doc_fingerprint, tokenize, word_shingles
from mldb_spark.session import local_frame, local_rows


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of byte-identical (post-normalization) documents.

    Returns (fingerprint, dup_count, keep_id, dup_ids) for groups with
    >1 member; keep_id = min id (the canonical survivor).
    """
    return (
        docs.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("dup_ids"),
        )
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one doc (min id) per content fingerprint. Single shuffle."""
    return (
        docs.withColumn("__fp", doc_fingerprint(F.col(text_col)))
        .withColumn("__keep", F.min(id_col).over(Window.partitionBy("__fp")))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__fp", "__keep")
    )


def shingle_rows(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
    sep: str = " ",
) -> DataFrame:
    """n-word shingles as ROWS: (id, [keep_cols...], sh).

    posexplode the token array once, then lead() windows stitch n
    consecutive tokens — linear work, one shuffle on the doc id,
    wholly codegen'd. This is the scale path for shingling (the
    array-lambda form re-evaluates its input per element). Emits
    duplicates; min-hash aggregation is duplicate-insensitive, exact
    Jaccard callers dropDuplicates first.
    """
    toks = docs.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.posexplode(tokenize(F.col(text_col))).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.col("tok")] + [F.lead("tok", j).over(w) for j in range(1, n)]
    # shingle + tail guard MUST come from the same projection: filtering
    # first and then re-evaluating lead() would run the window over the
    # filtered rows and emit truncated shingles at each document tail
    staged = toks.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.concat_ws(sep, *leads).alias("sh"),
        leads[-1].isNotNull().alias("__full"),
    )
    return staged.filter(F.col("__full")).drop("__full")


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 0,
) -> DataFrame:
    """Per-document MinHash signature over the token (or word-shingle)
    set.

    Hash family h_i(unit) = md5(i || ':' || unit) compared as strings —
    a lexicographic min over md5 values is a uniform min-hash and is
    reproducible in any engine with md5(). One explode + one groupBy
    (single shuffle on doc id); signature width is a column count,
    not a row count, so num_hashes doesn't change the shuffle volume
    materially. shingle_words>0 switches the unit from unigram tokens
    to n-word shingles (discriminative for small shared vocabularies).
    """
    if shingle_words:
        toks = shingle_rows(docs, shingle_words, id_col, text_col).withColumnRenamed(
            "sh", "tok"
        )
    else:
        toks = docs.select(
            F.col(id_col),
            F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("tok"),
        )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("tok")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return toks.groupBy(id_col).agg(*aggs)


def minhash_near_duplicates(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 0,
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs.

    Signature of num_hashes minhashes split into `bands` bands of
    r = num_hashes/bands rows; docs sharing any band key become
    candidates (self-join per band key — the LSH trick that avoids
    the quadratic all-pairs join); candidate pairs are scored by the
    fraction of agreeing minhashes (estimated Jaccard) and kept at >=
    threshold. Output: (id_a, id_b, est_jaccard) with id_a < id_b.
    """
    sig = minhash_signatures(docs, num_hashes, id_col, text_col, shingle_words)
    # the signature table feeds pair generation AND the two rescoring
    # joins; persist so the shingle+hash pipeline runs once (at scale
    # the signature table is an artifact you'd write to storage anyway
    # — it is ids + fixed-width hashes, tiny next to the corpus).
    sig = persist_tracked(sig)
    r = num_hashes // bands
    band_vals = F.array(
        *[
            F.md5(F.concat_ws("|", F.lit(str(b)), *[F.col(f"mh{b * r + j}") for j in range(r)]))
            for b in range(bands)
        ]
    )
    # EXPLODED banding: one row per (band, key) and a single
    # equi-self-join — not a union of per-band joins (each arm would
    # re-shuffle, and wide signature columns would ride through the
    # candidate join). Signatures rejoin after pair dedup.
    band_rows = sig.select(F.col(id_col), F.posexplode(band_vals).alias("band", "bk"))
    a = band_rows.select("band", "bk", F.col(id_col).alias("id_a"))
    b = band_rows.select("band", "bk", F.col(id_col).alias("id_b"))
    cand = (
        a.join(b, ["band", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(F.col(id_col).alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_hashes)])
    sb = sig.select(F.col(id_col).alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_hashes)])
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_hashes)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (matches / F.lit(float(num_hashes))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    block_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact word-shingle-set Jaccard over candidate pairs, blocked
    by a grouping column to bound the quadratic join (at scale the
    block key is an LSH band or a shard key, never the whole corpus).

    Shape matters: instead of joining documents and intersecting
    per-pair shingle ARRAYS (quadratic interpreted array ops — tens
    of seconds at 5k docs, hopeless at scale), the shingles are
    exploded once and self-joined on (block, shingle); the match
    count per (id_a, id_b) IS the intersection size, and
    |A∪B| = |A|+|B|-|A∩B|. All equi-joins + hash aggregates —
    codegen'd, shuffle-parallel, and pairs with zero overlap never
    materialize at all.
    """
    # persist the deduped shingle table: it feeds FOUR consumers (both
    # self-join sides and both per-doc size branches) and upstream of
    # it sits the full tokenize + shingle explode — without the
    # persist that subtree executes once per consumer (the initial q34
    # plan showed 8 parquet scans, 0 ReusedExchange; differently-
    # aliased branches do not share work). Same rationale as the
    # simhash signature persist above.
    ex = persist_tracked(
        shingle_rows(docs, 3, id_col, text_col, keep_cols=(block_col,))
        .withColumnRenamed(block_col, "__blk")
        .dropDuplicates([id_col, "sh"])
    )
    sizes = ex.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = ex.select(F.col("__blk"), F.col("sh"), F.col(id_col).alias("id_a"))
    b = ex.select(F.col("__blk"), F.col("sh"), F.col(id_col).alias("id_b"))
    inter = (
        a.join(b, ["__blk", "sh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = F.round(
        F.col("n_inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).cast("double"),
        6,
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash64(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash per document from token xxhash64 bit votes.

    Per-token 64-bit hash; each bit votes +1/-1 weighted by token
    count; sign of the per-bit sum forms the fingerprint. Stays in
    JVM expressions: the 64 bit-sums are computed with shiftright/
    bitwise-and inside one aggregate over the exploded tokens —
    one shuffle on doc id. (xxhash64 is Spark-specific, so this op
    is verified by invariants rather than a cross-engine oracle.)
    """
    # pre-aggregate to (doc, token, count) first: the 64-column vote
    # aggregate then runs over distinct tokens per doc (~20× fewer
    # rows than raw occurrences), with votes weighted by the count —
    # identical fingerprints, and the first shuffle carries 3 columns
    # instead of 64 partial sums per occurrence row
    toks = (
        docs.select(F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h", F.xxhash64("tok"))
    )
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, F.col("cnt")
            ).otherwise(-F.col("cnt"))
        ).alias(f"bit{i}")
        for i in range(64)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sim = sum(
        F.when(F.col(f"bit{i}") > 0, F.lit(1).cast("long") * (2**i if i < 63 else -(2**63))).otherwise(F.lit(0).cast("long"))
        for i in range(64)
    )
    return agg.select(F.col(id_col), sim.alias("simhash"))


def _simhash_segments(n_segments: int) -> list[tuple[int, int]]:
    """(offset, width) for n disjoint bit-segments of a 64-bit
    fingerprint. Generalized pigeonhole: a pair differing in <= h bits
    differs in <= h segments, so with b segments it AGREES in >= b-h —
    blocking on segments and requiring >= (b-h) collisions keeps FULL
    candidate recall at radius h. Widths differ by at most one bit."""
    b = max(1, min(64, n_segments))
    base, extra = divmod(64, b)
    segs, off = [], 0
    for s in range(b):
        w = base + (1 if s < extra else 0)
        segs.append((off, w))
        off += w
    return segs


def simhash_pairs(
    sig: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    sim_col: str = "simhash",
    min_collisions: int | None = None,
    max_candidate_pairs: int | None = None,
) -> DataFrame:
    """Near-dup pairs from a (id, simhash) signature table.

    Blocks on (max_hamming + min_collisions) disjoint bit-segments and
    keeps a candidate pair only if it collides in >= min_collisions of
    them. Generalized pigeonhole: a pair within max_hamming bits
    differs in <= max_hamming segments, so it agrees in >=
    min_collisions — recall stays EXACT at the requested radius, with
    no off-by-one. min_collisions defaults to 2 for max_hamming >= 6
    (the scale guard: per-segment keys shrink to ~7 bits at radius 8,
    so a single-collision block admits ~n²/2⁷ candidates per segment
    on a uniform corpus; requiring a second independent collision
    multiplies that selectivity) and 1 for small radii where the
    segments are wide enough to be selective on their own.

    max_candidate_pairs (opt-in) is a hard guard mirroring the
    reference's cross-join complexity cap (builtin/joined_dataset.cc:
    516-521 caps at 100M): counts the surviving candidate pairs and
    raises before the rescoring join if the blocking collapsed (e.g. a
    corpus of near-identical templates all sharing segment values).
    Costs one extra action on the (persisted) candidate table.
    """
    if min_collisions is None:
        # cap so max_hamming + min_collisions never exceeds the 64
        # available bits (at max_hamming >= 63 a second collision
        # segment cannot exist)
        min_collisions = min(2 if max_hamming >= 6 else 1, max(1, 64 - max_hamming))
    if not 0 <= max_hamming < 64:
        raise ValueError(f"max_hamming must be in [0, 64), got {max_hamming}")
    if max_hamming + min_collisions > 64:
        # _simhash_segments would silently clamp to 64 segments and the
        # >= min_collisions filter would break exact recall at radius:
        # a pair at distance h could agree in fewer than min_collisions
        # of the clamped segments and be dropped
        raise ValueError(
            f"max_hamming ({max_hamming}) + min_collisions ({min_collisions}) "
            f"exceeds the 64 fingerprint bits; lower min_collisions to "
            f"<= {64 - max_hamming} to keep exact recall"
        )
    segs = _simhash_segments(max_hamming + min_collisions)
    seg_vals = F.array(
        *[
            F.shiftright(F.col("__sh"), off).bitwiseAND(F.lit((1 << w) - 1))
            for off, w in segs
        ]
    )
    # EXPLODED banding: one (segment, value) row per signature segment
    # and a SINGLE equi-self-join on (seg, bk) — a union of per-segment
    # joins would re-evaluate the signature subtree once per arm.
    # Signatures rejoin only after the candidate pairs are deduped, so
    # the wide columns never ride through the pair-generation shuffle.
    # persist the narrow (id, hash) table: it feeds BOTH self-join
    # sides and BOTH signature rejoins, and upstream of it sits the
    # whole tokenize + 64-vote aggregation — without the persist that
    # subtree re-executes once per consumer (exchange reuse is not
    # guaranteed across differently-aliased branches). 16 bytes/row,
    # so at 100 TB of text this is still only ~GBs of executor cache.
    sh = persist_tracked(sig.select(F.col(id_col), F.col(sim_col).alias("__sh")))
    seg_rows = sh.select(F.col(id_col), F.col("__sh"), F.posexplode(seg_vals).alias("seg", "bk"))
    if max_candidate_pairs is None:
        # FUSED rescore (optimization r9): carry the 8-byte signature
        # through the banding explode and apply the XOR-popcount radius
        # filter IN THE SAME CODEGEN STAGE as the collision join — on a
        # template-heavy corpus the collision join emits orders of
        # magnitude more rows than survive the radius (q85 at sf0.1:
        # 16.65M collisions -> 91,845 true pairs), and the old shape
        # shuffled every collision into the pair-dedup aggregate before
        # rescoring. Only true pairs (duplicated once per agreeing
        # segment, >= min_collisions <= 10 copies) reach the shuffle.
        # The >= min_collisions prefilter is dropped here: its only
        # role was cutting false candidates before a SEPARATE rescore
        # join, and pigeonhole guarantees every true pair collides in
        # >= min_collisions segments anyway, so the surviving pair set
        # is identical by construction (pinned by a parity test).
        a = seg_rows.select(
            F.col("seg"), F.col("bk"),
            F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"),
        )
        b = seg_rows.select(
            F.col("seg"), F.col("bk"),
            F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"),
        )
        ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        return (
            a.join(b, ["seg", "bk"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(ham <= max_hamming)
            .groupBy("id_a", "id_b")
            .agg(F.min(ham).alias("hamming"))
        )
    # budget-guarded two-phase path: the guard's contract is to COUNT
    # the surviving candidate pairs and raise BEFORE any rescoring
    # work, so the candidate set must materialize separately here.
    a = seg_rows.select(F.col("seg"), F.col("bk"), F.col(id_col).alias("id_a"))
    b = seg_rows.select(F.col("seg"), F.col("bk"), F.col(id_col).alias("id_b"))
    # groupBy(pair).count() replaces dropDuplicates: same shuffle, and
    # the collision count doubles as the >=min_collisions prefilter
    cand = (
        a.join(b, ["seg", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__ncoll"))
        .filter(F.col("__ncoll") >= min_collisions)
        .select("id_a", "id_b")
    )
    if max_candidate_pairs is not None:
        cand = persist_tracked(cand)
        n_cand = cand.count()
        if n_cand > max_candidate_pairs:
            cand.unpersist()
            sh.unpersist()
            raise ValueError(
                f"simhash blocking produced {n_cand} candidate pairs "
                f"(> max_candidate_pairs={max_candidate_pairs}); the corpus "
                "is too self-similar for this radius — lower max_hamming, "
                "raise min_collisions, or pre-shard the corpus"
            )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs over documents: simhash64 signatures +
    radius-sized segment blocking (simhash_pairs) — full recall for
    pairs within max_hamming bits. Practical fast path for near-exact
    template dedup."""
    return simhash_pairs(simhash64(docs, id_col, text_col), max_hamming, id_col)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the rolling-hash fingerprint family; the reference's
    md5 content fingerprint covers only EXACT dedup): hash every
    k-token shingle, slide a `window`-wide frame over the hash
    sequence keeping each frame's minimum, emit the distinct minima
    as (id, fingerprint) rows.

    Guarantee: two documents sharing a run of at least
    k + window - 1 tokens share at least one fingerprint, so a
    fingerprint equi-join finds all such overlaps — partial-overlap
    detection that content-md5 cannot do.

    Scale shape: everything per-document is JVM higher-order
    functions over the token array (no shuffle, no Python); the
    explode emits ~n_tokens/window rows per doc, and downstream
    overlap joins group on the fingerprint — the same exploded-key
    single-equi-join shape as MinHash banding. Hashes are the
    md5-prefix integers both engines can replay (not xxhash64).

    Each stage is MATERIALIZED as a column before the next lambda
    consumes it: an expression referenced inside a higher-order
    lambda re-evaluates per element (the same pitfall shingle_rows
    documents), which would make the tokenize/md5 work O(n²) per
    document."""
    toks = F.col("__toks")
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    hashes = F.col("__hashes")
    n_windows = F.greatest(F.size(hashes) - (window - 1), F.lit(1))
    staged = (
        docs.select(F.col(id_col), tokenize(F.col(text_col)).alias("__toks"))
        .withColumn(
            "__grams",
            F.transform(
                F.sequence(F.lit(1), n_grams),
                lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
            ),
        )
        .withColumn(
            "__hashes",
            F.transform(
                F.col("__grams"),
                lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast("long"),
            ),
        )
        .withColumn(
            "__minima",
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda j: F.array_min(F.slice(hashes, j, window)),
            ),
        )
    )
    return staged.select(
        F.col(id_col), F.explode(F.array_distinct(F.col("__minima"))).alias("fingerprint")
    )


def winnow_overlap_pairs(
    docs: DataFrame,
    k: int = 4,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Partial-overlap candidate pairs from winnowing fingerprints:
    docs sharing >= min_shared fingerprints (each implying a shared
    k..k+window-1 token run). Output (id_a, id_b, shared_fps).

    Scale shape: ONE equi-self-join on the fingerprint key — but a
    boilerplate fingerprint appearing in d documents contributes d²
    candidate rows, so fingerprints with document frequency >
    max_fp_df are dropped first (the winnowing analogue of stopword
    removal; a fingerprint shared by thousands of docs identifies
    boilerplate, not meaningful overlap). The df-filter is one
    partial-agg pass over the fingerprint table it already feeds."""
    fps = persist_tracked(
        winnow_fingerprints(docs, k, window, id_col, text_col).dropDuplicates(
            [id_col, "fingerprint"]
        )
    )
    rare = (
        fps.groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_fp_df)
        .select("fingerprint")
    )
    pruned = fps.join(rare, "fingerprint")
    a = pruned.select("fingerprint", F.col(id_col).alias("id_a"))
    b = pruned.select("fingerprint", F.col(id_col).alias("id_b"))
    return (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def _union_find_min_label(edge_rows) -> dict:
    """Exact driver-side union-find over (a, b) tuples with
    path compression; every union links the larger root under the
    smaller, so the root of any set is the set's MINIMUM element —
    the same canonical-survivor contract as the distributed loop.
    Works for any orderable node type."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for a, b in edge_rows:
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in nodes}


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 25,
    driver_cutoff: int = 1_000_000,
) -> DataFrame:
    """Resolve candidate duplicate PAIRS into duplicate GROUPS:
    (node, component) where component is the minimum node id of the
    connected component — the canonical survivor every member maps
    to. This is the step between pair generation (minhash/simhash/
    winnowing emit pairs) and actual corpus dedup (drop everything
    whose component != itself).

    Algorithm: distributed min-label propagation WITH pointer
    jumping. Each round (1) propagates the per-node minimum label
    across the symmetrized edge set (one shuffle join + one
    partial-agg shuffle), then (2) shortcuts label(u) :=
    label(label(u)) (one join of the node-sized label table with
    itself). The jump step compresses label chains so a component of
    diameter d converges in O(log d) rounds instead of O(d) — the
    logarithmic-rounds family of Rastogi et al., "Finding Connected
    Components in Map-Reduce in Logarithmic Rounds" (ICDE'13) /
    Kiveris et al. SoCC'14. Dedup graphs are dense near-cliques
    (2-4 rounds); a crawl-chain of diameter 10^4 still finishes in
    ~15.

    Works for ANY orderable node id type (longs, strings, dates):
    convergence is an exact changed-count on the label table. The
    round-start label rides THROUGH the pointer-jump join as __old,
    so the check is a filter over the round's ALREADY-CHECKPOINTED
    (in-memory) output — a near-free probe, never a recompute of the
    round's shuffles. (An Observation/CollectMetrics variant was
    tried and REVERTED: Spark's ObservationManager is not
    serializable and lingering observation registrations poison later
    jobs' closures with 'Task not serializable' — found by the full
    suite, pinned by the regression below.) Raises RuntimeError if
    the fixpoint is not reached within max_iter — an unconverged
    result would silently merge/miss groups.

    100 TB shape: labels and edges stay partitioned by node across
    rounds (the join keys never change), intermediates are
    persist-tracked and released per round, and the loop stops on a
    changed-count of zero rather than a fixed iteration budget.

    HYBRID small-graph path: after banding + similarity filtering the
    surviving pair set is typically orders of magnitude smaller than
    the corpus. When session.local_rows reads at most driver_cutoff
    RAW pairs (duplicates only push toward the distributed path),
    exact driver-side union-find resolves the components instead of
    O(log d) Spark rounds of pure scheduling latency on a
    metadata-sized table; 1M edges ~ 32 MB on the driver.
    driver_cutoff=0 forces the distributed loop with no probe (the
    oracle gate qa13 does, so the scale path stays correctness-gated).
    """
    # The driver path needs only the RAW pairs (union-find is
    # insensitive to duplicates, orientation and self-loops); only the
    # distributed branch pays the symmetrize+distinct exchange below.
    # `pairs` is typically the WHOLE un-persisted banding + rescore
    # pipeline, so it is persisted: an over-cutoff graph's distributed
    # branch reads the cache the probe filled.
    if driver_cutoff > 0:
        pairs_cached = persist_tracked(pairs.select(a_col, b_col))
        half = local_rows(pairs_cached, driver_cutoff, "connected_components")
        if half is not None:
            label_of = _union_find_min_label(zip(*(c.to_pylist() for c in half.columns)))
            node_type = pairs_cached.schema[a_col].dataType
            schema = T.StructType(
                [
                    T.StructField("node", node_type, False),
                    T.StructField("component", node_type, False),
                ]
            )
            out = local_frame(
                pairs.sparkSession, sorted(label_of.items()), schema
            )
            pairs_cached.unpersist()
            return out
        pairs = pairs_cached  # distributed branch reads the cache
    # symmetrize in ONE pass over pairs (optimization r9): the old
    # two-arm union read the pairs input twice — explode over both
    # orientations reads it once.
    edges = persist_tracked(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a_col).alias("node"), F.col(b_col).alias("nbr")
                    ),
                    F.struct(
                        F.col(b_col).alias("node"), F.col(a_col).alias("nbr")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.node", "__e.nbr")
        .distinct()
    )
    # one action: materializes the edge cache before the loop; the
    # raw-pair cache (if any) is fully consumed by it
    edges.count()
    if driver_cutoff > 0:
        pairs.unpersist()
    # localCheckpoint per round truncates the lineage — without it
    # each round's logical plan nests the previous round's and
    # Catalyst analysis time compounds (the classic iterative-algo
    # trap); at cluster scale swap for a reliable checkpoint dir.
    labels = (
        edges.groupBy("node")
        .agg(F.min("nbr").alias("label"))
        .select("node", F.least("node", "label").alias("label"))
        .localCheckpoint()
    )
    # Right-size the edge table to the graph, not to the upstream
    # scan: AQE coalesced the label shuffle to the partition count the
    # node set actually needs, but the CACHED edge plan keeps its
    # pre-AQE width (cached plans pin their output partitioning). A
    # 451-pair graph inherited 32 partitions from the corpus scan and
    # paid 32-task scheduling in every one of O(log d) rounds; at
    # 100 TB the label count is large and this repartition is a no-op
    # relabel. Partitioned by the propagate-join key ("nbr").
    n_label_parts = max(1, labels.rdd.getNumPartitions())
    if edges.rdd.getNumPartitions() > 4 * n_label_parts:
        wide = edges
        edges = persist_tracked(edges.repartition(n_label_parts, "nbr"))
        wide.unpersist()

    converged = False
    for _ in range(max_iter):
        # (1) propagate: label(u) = min(label(u), min_{v in N(u)} label(v)).
        # Carried through a node-keyed left join (not a union+groupBy)
        # so the round-start label survives as __old for the in-action
        # convergence metric below.
        nbr_min = (
            edges.join(
                labels.withColumnRenamed("node", "nbr").withColumnRenamed(
                    "label", "nbr_label"
                ),
                "nbr",
            )
            .groupBy("node")
            .agg(F.min("nbr_label").alias("__nmin"))
        )
        propagated = labels.join(nbr_min, "node", "left").select(
            "node",
            F.col("label").alias("__old"),
            F.least("label", F.coalesce("__nmin", "label")).alias("label"),
        )
        # (2) pointer jump: label(u) = label(label(u)). label(u) is
        # itself a node of the same component, so this shortcuts
        # chains — the step that turns O(diameter) into O(log d).
        parents = propagated.select(
            F.col("node").alias("label"), F.col("label").alias("__pl")
        )
        # Labels are monotone non-increasing (label(x) <= x holds
        # inductively), so "changed" = any strict decrease vs __old.
        # __old is kept IN the checkpointed output, making the probe
        # a limit-1 filter over in-memory data (no shuffle replay).
        new_labels = (
            propagated.join(parents, "label", "left")
            .select(
                "node",
                F.coalesce("__pl", "label").alias("label"),
                "__old",
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.filter(F.col("label") != F.col("__old"))
            .limit(1)
            .count()
        )
        labels = new_labels.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            "rounds — raise max_iter (an unconverged result would "
            "silently mislabel components)"
        )
    # edges are fully consumed by the converged labels — release the
    # intermediate now (labels are checkpointed, not lazy)
    edges.unpersist()
    return labels.select("node", F.col("label").alias("component"))
