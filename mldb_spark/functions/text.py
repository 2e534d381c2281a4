"""Text-analysis scalar functions.

Covers the reference's tokenize family (/root/reference
sql/tokenize.cc, 411 LoC; registrations sql/builtin_functions.cc:1915
tokenize, :1956 token_extract, :1991 split_part) plus the
training-data-pipeline text metrics (language ID, quality scoring,
token counting, fingerprinting) that go beyond the reference surface.

Everything is a pure Column expression (JVM-side, codegen-friendly):
tokenization is regex split, language ID is a stopword-hit argmax,
fingerprints are md5 — all deliberately expressible in any SQL engine
so the duckdb oracle can replay them verbatim.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Tiny deterministic stopword inventories per language. These drive
# the language_id heuristic; at scale you would swap in a trained
# n-gram model via pandas_udf, but the argmax plumbing is identical.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that"),
    "fr": ("le", "la", "de", "et", "un", "une", "est", "que"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es": ("el", "la", "de", "y", "un", "una", "es", "que"),
}

ENGLISH_STOPWORDS = STOPWORDS["en"]


def tokenize(text: Column) -> Column:
    """Lowercase + split on non-alphanumeric runs, drop empties.

    Reference: tokenize() with default splitChars
    (sql/builtin_functions.cc:1915; sql/tokenize.cc). The reference
    returns a bag-of-words row {token: count}; `tokenize_counts`
    below builds that map form.
    """
    return F.filter(
        F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


def tokenize_opts(
    text: Column,
    split_chars: str | None = None,
    min_token_length: int = 1,
    ngram_range: tuple[int, int] = (1, 1),
    limit: int | None = None,
    offset: int = 0,
    quote_char: str | None = None,
    lowercase: bool = True,
) -> Column:
    """tokenize() with the reference's option surface
    (sql/tokenize.cc; doc ValueExpression.md §tokenize: splitChars,
    quoteChar, ngramRange, minTokenLength, limit, offset). N-grams
    are joined with '_'. quoteChar protects enclosed spans from
    splitting (CSV-style). Per-row API form — for corpus-scale
    n-gram generation use dedup.shingle_rows (linear posexplode+
    lead), since the array lambdas here re-evaluate their input per
    element."""
    import re as _re

    base = F.lower(text) if lowercase else text.cast("string")
    # quoteChar '' means NO quoting (the reference's common
    # `{quoteChar: ''}` import idiom, MLDB-1873/2188) — an empty q
    # would render the invalid regex `[^]*`
    if quote_char:
        # quoted spans survive whole: extract quoted|unquoted runs,
        # then strip the quotes
        q = _re.escape(quote_char)
        split_cls = _re.escape(split_chars) if split_chars else r",\s"
        pat = f"{q}[^{q}]*{q}|[^{split_cls}{q}]+"
        raw = F.regexp_extract_all(base, F.lit(pat), F.lit(0))
        toks = F.transform(
            raw, lambda t: F.regexp_replace(t, f"^{q}|{q}$", "")
        )
    else:
        pattern = (
            "[" + _re.escape(split_chars) + "]+" if split_chars else TOKEN_SPLIT_RE
        )
        toks = F.split(base, pattern)
    toks = F.filter(
        toks,
        lambda t: (t != F.lit("")) & (F.length(t) >= min_token_length),
    )
    lo, hi = ngram_range
    parts = [
        toks if n == 1 else word_shingles(toks, n, sep="_")
        for n in range(max(lo, 1), hi + 1)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = F.concat(out, p)
    if offset or limit is not None:
        out = F.slice(out, offset + 1, limit if limit is not None else (1 << 30))
    return out


def token_counts_map(toks: Column) -> Column:
    """token array → MAP<token, count> in ONE pass over the tokens
    (optimization r10). The previous map_from_arrays(distinct,
    transform(distinct, d → size(filter(toks, t == d)))) form
    re-evaluated the FULL token expression once per distinct token
    (interpreted HOF arguments are not CSE'd) — for the dialect's
    regex tokenizers that made the bag quadratic in document length
    with a regex extraction per distinct token (qa32's tokenize
    stage: ~5s → ~0.6s). The aggregate form evaluates `toks` exactly
    once; first-occurrence key order is preserved (existing keys are
    updated in place via transform_values, new keys appended)."""
    return F.aggregate(
        toks,
        F.create_map().cast("map<string,int>"),
        lambda acc, t: F.when(
            F.map_contains_key(acc, t),
            F.transform_values(
                acc, lambda k, v: F.when(k == t, v + 1).otherwise(v)
            ),
        ).otherwise(F.map_concat(acc, F.create_map(t, F.lit(1)))),
    )


def tokenize_counts(text: Column, lowercase: bool = True) -> Column:
    """Bag-of-words as MAP<token, count> — the reference's tokenize()
    output shape (one sparse column per token, flattened). The
    reference does NOT fold case (sql/tokenize.cc; MLDB-1190 keeps
    'I') — the SQL dialect passes lowercase=False; the Python-level
    corpus pipelines keep the folding default."""
    toks = (
        tokenize(text)
        if lowercase
        else F.filter(
            F.split(text.cast("string"), TOKEN_SPLIT_RE),
            lambda t: t != F.lit(""),
        )
    )
    return token_counts_map(toks)


def token_count(text: Column) -> Column:
    """Whitespace-ish token count (training-data token budget proxy)."""
    return F.size(tokenize(text))


def word_shingles(tokens: Column, n: int = 3, sep: str = " ") -> Column:
    """n-word shingles ('w1 w2 w3') from a token array — the unit set
    for near-dup Jaccard/MinHash (more discriminative than unigrams
    when documents share a small vocabulary). Empty when the doc has
    fewer than n tokens.

    PERFORMANCE CAVEAT: pass a *materialized column* of tokens, never
    the tokenize(...) expression directly — the lambda references its
    input n times per element, so an inlined tokenize would re-split
    the whole document per shingle (quadratic blowup). For pipelines,
    prefer mldb_spark.dedup.shingle_rows (posexplode + lead), which
    stays linear and codegen'd."""
    count = F.size(tokens) - (n - 1)
    return F.when(
        count >= 1,
        F.transform(
            F.sequence(F.lit(1), count),
            lambda i: F.concat_ws(
                sep, *[F.element_at(tokens, (i + j).cast("int")) for j in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _stopword_hits(tokens: Column, words: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


def language_id(text: Column) -> Column:
    """Stopword-argmax language guess over {en,fr,de,es}, 'und' if no
    stopword hits. Deterministic tiebreak: language code ascending.

    This is the n-gram-heuristic tier of a language-ID pipeline; the
    structure (per-language score -> argmax) is what a trained model
    would plug into.
    """
    toks = tokenize(text)
    scored = F.array(
        *[
            F.struct(
                (-_stopword_hits(toks, ws)).alias("neg_hits"),
                F.lit(lang).alias("lang"),
            )
            for lang, ws in sorted(STOPWORDS.items())
        ]
    )
    best = F.array_min(scored)
    return F.when(best["neg_hits"] < 0, best["lang"]).otherwise(F.lit("und"))


def quality_score(text: Column) -> Column:
    """Heuristic document quality in [0,1]: blends token count,
    mean token length, stopword ratio and symbol noise — the
    length/punct/stopword-ratio tier of a C4/Gopher-style filter."""
    toks = tokenize(text)
    n = F.size(toks)
    mean_len = F.when(n > 0, F.length(F.concat_ws("", toks)) / n).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n > 0, _stopword_hits(toks, ENGLISH_STOPWORDS) / n
    ).otherwise(F.lit(0.0))
    sym_ratio = F.when(
        F.length(text) > 0,
        F.size(F.regexp_extract_all(F.lower(text), F.lit("[^a-z0-9\\s]"), 0))
        / F.length(text),
    ).otherwise(F.lit(0.0))
    length_term = F.least(n / F.lit(100.0), F.lit(1.0)) * 0.4
    len_term = F.when((mean_len >= 3) & (mean_len <= 10), F.lit(0.3)).otherwise(F.lit(0.0))
    stop_term = F.least(stop_ratio * 4, F.lit(1.0)) * 0.2
    noise_term = (F.lit(1.0) - F.least(sym_ratio * 10, F.lit(1.0))) * 0.1
    return F.round(length_term + len_term + stop_term + noise_term, 4)


def filter_stopwords(tokens: Column, stopwords: tuple[str, ...] | None = None) -> Column:
    """filter_stopwords function (plugins/nlp/nlp.cc:108): drop
    stopword tokens from a token array."""
    words = stopwords or ENGLISH_STOPWORDS
    return F.filter(tokens, lambda t: ~t.isin(*words))


_SUFFIXES = ("ational", "iveness", "fulness", "ization", "ations",
             "ings", "edly", "ies", "ing", "ed", "es", "ly", "s")


def stem(token: Column) -> Column:
    """Suffix-stripping stemmer in pure Column expressions — a
    lightweight stand-in for the reference's Snowball stemmer
    (plugins/nlp/nlp.cc:213 `stemmer`; the Snowball library is not in
    this container). Longest-suffix-first, guarded so stems keep >= 3
    chars; deterministic and JVM-side."""
    # single chained CASE: F.when branches already evaluate in order
    # with first-match-wins, so no "done" accumulator is needed — an
    # accumulator would re-embed every prior condition at each level
    # and grow the expression tree exponentially (2^13 nodes)
    expr = None
    for suf in _SUFFIXES:
        cond = token.endswith(suf) & (F.length(token) - len(suf) >= 3)
        stemmed = token.substr(F.lit(1), F.length(token) - len(suf))
        expr = F.when(cond, stemmed) if expr is None else expr.when(cond, stemmed)
    return expr.otherwise(token)


def stem_tokens(tokens: Column) -> Column:
    """stemmerdoc equivalent (plugins/nlp/nlp.cc:284): stem every
    token of an array."""
    return F.transform(tokens, lambda t: stem(t))


def _p_cons(w: str, i: int) -> bool:
    ch = w[i]
    if ch in "aeiou":
        return False
    if ch == "y":
        return i == 0 or not _p_cons(w, i - 1)
    return True


def _p_measure(stem: str) -> int:
    """m in [C](VC)^m[V] — the Porter 'measure' of a stem."""
    m, i, n = 0, 0, len(stem)
    while i < n and _p_cons(stem, i):
        i += 1
    while i < n:
        while i < n and not _p_cons(stem, i):
            i += 1
        if i >= n:
            break
        m += 1
        while i < n and _p_cons(stem, i):
            i += 1
    return m


def _p_has_vowel(stem: str) -> bool:
    return any(not _p_cons(stem, i) for i in range(len(stem)))


def _p_double_cons(w: str) -> bool:
    return len(w) >= 2 and w[-1] == w[-2] and _p_cons(w, len(w) - 1)


def _p_cvc(w: str) -> bool:
    return (
        len(w) >= 3
        and _p_cons(w, len(w) - 3)
        and not _p_cons(w, len(w) - 2)
        and _p_cons(w, len(w) - 1)
        and w[-1] not in "wxy"
    )


_P_STEP2 = (
    ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
    ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
    ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
    ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
    ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
)
_P_STEP3 = (
    ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
    ("ical", "ic"), ("ful", ""), ("ness", ""),
)
_P_STEP4 = (
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
)


def porter_stem(word: str) -> str:
    """The classic Porter stemming algorithm (Porter 1980, 'An
    algorithm for suffix stripping') — real parity with the
    reference's `stemmer` applied function (plugins/nlp/nlp.cc:213,
    which wraps Snowball's english/porter stemmers). Pure Python;
    used through the Arrow-batched UDFs below. Words shorter than 3
    characters pass through unchanged, as in Porter's definition."""
    w = word
    if len(w) < 3:
        return w

    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif not w.endswith("ss") and w.endswith("s"):
        w = w[:-1]

    # step 1b
    if w.endswith("eed"):
        if _p_measure(w[:-3]) > 0:
            w = w[:-1]
    else:
        flag = False
        if w.endswith("ed") and _p_has_vowel(w[:-2]):
            w, flag = w[:-2], True
        elif w.endswith("ing") and _p_has_vowel(w[:-3]):
            w, flag = w[:-3], True
        if flag:
            if w.endswith(("at", "bl", "iz")):
                w += "e"
            elif _p_double_cons(w) and w[-1] not in "lsz":
                w = w[:-1]
            elif _p_measure(w) == 1 and _p_cvc(w):
                w += "e"

    # step 1c
    if w.endswith("y") and _p_has_vowel(w[:-1]):
        w = w[:-1] + "i"

    # step 2
    for suf, rep in _P_STEP2:
        if w.endswith(suf):
            if _p_measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # step 3
    for suf, rep in _P_STEP3:
        if w.endswith(suf):
            if _p_measure(w[: -len(suf)]) > 0:
                w = w[: -len(suf)] + rep
            break

    # step 4
    for suf in _P_STEP4:
        if w.endswith(suf):
            stem_part = w[: -len(suf)]
            if _p_measure(stem_part) > 1 and (
                suf != "ion" or (stem_part and stem_part[-1] in "st")
            ):
                w = stem_part
            break

    # step 5a
    if w.endswith("e"):
        m = _p_measure(w[:-1])
        if m > 1 or (m == 1 and not _p_cvc(w[:-1])):
            w = w[:-1]

    # step 5b
    if _p_measure(w) > 1 and _p_double_cons(w) and w.endswith("l"):
        w = w[:-1]
    return w


def porter_stem_udf():
    """Arrow-batched scalar UDF: string column → Porter stem. The UDF
    boundary is unavoidable (Porter needs measure-counting loops SQL
    can't express); batching keeps it off the per-row slow path."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    def _stem(s):
        return s.map(lambda x: porter_stem(x) if x is not None else None)

    return pandas_udf(_stem, StringType())


def porter_stem_tokens_udf():
    """Arrow-batched UDF: array<string> column → array of Porter
    stems (the reference's `stemmerdoc`, plugins/nlp/nlp.cc:284)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    def _stem_doc(s):
        return s.map(
            lambda toks: None if toks is None else [porter_stem(t) for t in toks]
        )

    return pandas_udf(_stem_doc, ArrayType(StringType()))


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse
    whitespace/punct runs to single spaces, trim."""
    return F.trim(F.regexp_replace(F.lower(text), "[^a-z0-9]+", " "))


def doc_fingerprint(text: Column) -> Column:
    """Content fingerprint = md5 of normalized text. md5 (not
    xxhash64) so any SQL engine reproduces it byte-for-byte; at scale
    the fingerprint is the exact-dedup shuffle key."""
    return F.md5(normalize_text(text))


def tokensplit(text: Column, tokens: list[str], insert: str = " ") -> Column:
    """tokensplit function (plugins/textual/tokensplit.cc:287): insert
    a split character before every occurrence of a dictionary token
    (emoji, hashtags, ticker symbols...) so a later tokenize pass
    separates them. Longest tokens match first, mirroring the
    reference's longest-match walk. Pure regexp_replace — codegen'd,
    oracle-replayable."""
    import re as _re

    alternation = "|".join(
        _re.escape(t) for t in sorted(tokens, key=len, reverse=True)
    )
    return F.regexp_replace(text, f"({alternation})", insert + "$1")


# GPT-2-style pretokenizer pattern, RE2-compatible (no lookahead, so
# DuckDB's regexp engine replays it exactly): contractions, runs of
# letters, runs of digits, runs of other non-space — each optionally
# preceded by one space (the byte-pair-encoding pretokenization
# convention).
BPE_SPLIT_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+"


def bpe_pretokenize(text: Column) -> Column:
    """BPE-style pretokens (the GPT-2 regex family, minus the
    RE2-incompatible lookahead): the unit an LLM tokenizer's merge
    table operates on. A real BPE vocab maps each pretoken to >= 1
    ids, so the pretoken count is the standard lower-bound token
    estimate for budget/quality filters at corpus scale — pure JVM
    regexp, one pass, no vocab file in the row path."""
    return F.regexp_extract_all(text, F.lit(BPE_SPLIT_PATTERN), F.lit(0))


def bpe_pretoken_count(text: Column) -> Column:
    """Pretoken count (LLM-token lower bound) as a long."""
    return F.size(bpe_pretokenize(text)).cast("long")


# -- PII redaction (training-data hygiene pass) --------------------------

# RE2-safe (no lookarounds) so any engine replays the redaction
# bit-for-bit; ordered so earlier rewrites can't create later matches.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    (r"\+?\d[\d().\-\s]{7,}\d", "<PHONE>"),
)


def redact_pii(text: Column) -> Column:
    """Redact emails, IPv4s, SSN-shaped ids and phone numbers to
    typed placeholders — the standard pre-training scrub pass. Pure
    JVM regexp_replace chain (one codegen'd projection, no Python);
    patterns are RE2-safe so a SQL oracle replays them exactly."""
    out = text
    for pat, tag in PII_PATTERNS:
        out = F.regexp_replace(out, pat, tag)
    return out


def pii_counts(text: Column) -> Column:
    """Match counts per PII class as a struct (email, ip, id, phone)
    — the audit view a removal pass logs. Counted STAGED, each class
    on the text with earlier classes already redacted, so the counts
    are exactly what redact_pii replaces (a phone-shaped digit run
    inside an IP is never double-counted)."""
    names = ("email", "ip", "id", "phone")
    cols = []
    out = text
    for name, (pat, tag) in zip(names, PII_PATTERNS):
        cols.append(
            F.size(F.regexp_extract_all(out, F.lit(pat), F.lit(0)))
            .cast("long")
            .alias(name)
        )
        out = F.regexp_replace(out, pat, tag)
    return F.struct(*cols)


def parse_json_flatten_udf(arrays: str = "parse"):
    """parse_json with the reference's complex-type FLATTENING
    (TypeSystem.md 'Complex type flattening'; json parsing in
    sql/json_expression.cc): nested objects flatten to dotted paths
    and — with arrays='parse' — array elements flatten under their
    0-based index (friends.0.name), so `parse_json(x) AS *` spreads
    to the reference's sparse column set (MLDB-1779/1275).
    arrays='encode' keeps the one-hot form for scalar arrays
    (path.value -> 1) and renders object arrays as JSON text at their
    index path. Output is MAP<string,string>; malformed input -> NULL
    (the ignoreErrors behavior). Arrow-batched."""
    import json

    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import MapType, StringType

    def scalar_text(v):
        if v is None:
            return None
        if isinstance(v, str):
            return v
        return json.dumps(v)

    def flatten(obj, path, out):
        if isinstance(obj, dict):
            for k, v in obj.items():
                flatten(v, f"{path}.{k}" if path else str(k), out)
        elif isinstance(obj, list):
            if arrays == "encode":
                for i, v in enumerate(obj):
                    if isinstance(v, (dict, list)):
                        out[f"{path}.{i}"] = json.dumps(
                            v, separators=(",", ":"), sort_keys=True
                        )
                    else:
                        out[f"{path}.{scalar_text(v)}"] = "1"
            else:
                for i, v in enumerate(obj):
                    flatten(v, f"{path}.{i}" if path else str(i), out)
        else:
            out[path] = scalar_text(obj)

    def run(s):
        def one(x):
            if x is None:
                return None
            try:
                parsed = json.loads(x)
            except ValueError:
                return None
            out: dict = {}
            flatten(parsed, "", out)
            return out

        return s.map(one)

    return pandas_udf(run, MapType(StringType(), StringType()))
