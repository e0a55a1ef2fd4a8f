"""Text analysis operators: tokenization, token counting, quality scoring,
language ID, document fingerprinting.

All pure built-in pyspark.sql.functions — whole-stage codegen, no UDFs. Each
has an exact ANSI-SQL oracle counterpart (see __spark_entry__.oracle_sql);
regex patterns are restricted to the syntax subset Java regex and RE2 share.

Scale: every operator is a narrow projection — one pass over the text column,
no shuffle (fingerprinting aggregates per-row arrays, not across rows), so
they all pipeline into whatever scan feeds them and parallelize embarrassingly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# token pattern shared with the oracle: whitespace-split words
WS = r"\s+"
# BPE-ish unit pattern: letter runs, single digits, single punctuation marks
BPE_UNIT = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"
PUNCT = r"[^A-Za-z0-9\s]"

# tiny stopword lists for the n-gram/stopword language heuristic; ASCII-only
# so Java-regex and RE2 tokenize identically
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "una", "los", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "que"],
    "de": ["der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist"],
}
# quality-score stopwords: generic English function words
QUALITY_STOPWORDS = STOPWORDS["en"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty text → empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(c), WS)
    )


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def bpe_unit_count(col: Column | str) -> Column:
    """Sub-word-ish unit count: letter runs + digits + punctuation marks."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_UNIT), F.lit(0)))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise(punct / n)


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in (stopwords or QUALITY_STOPWORDS)])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(hits / F.size(toks))


def mean_token_length(col: Column | str) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(total / F.size(toks))


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: length, punctuation, stopword and
    token-shape signals (the standard pre-training quality-filter features).

    score = 0.25·len_ok + 0.25·punct_ok + 0.25·stop_ok + 0.25·shape_ok, where
    each component is a 0/1 gate — gates (not weights) keep the score exactly
    reproducible in SQL.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    len_ok = (F.length(c) >= 50) & (F.length(c) <= 100_000)
    punct_ok = punct_ratio(c) <= 0.2
    stop_ok = stopword_ratio(c) >= 0.01
    shape_ok = (mean_token_length(c) >= 2.0) & (mean_token_length(c) <= 12.0)
    score = (
        len_ok.cast("int") + punct_ok.cast("int") + stop_ok.cast("int") + shape_ok.cast("int")
    ) / F.lit(4.0)
    return F.when(n_tok == 0, F.lit(0.0)).otherwise(score)


def lang_scores(col: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit counts + CJK character count for zh."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(F.lower(c))
    out: dict[str, Column] = {}
    for lang, words in STOPWORDS.items():
        sw = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    # zh: CJK Unified Ideographs presence (character count, weighted heavily)
    out["zh"] = F.length(F.regexp_replace(c, r"[^一-鿿]", "")) * 3
    return out


def lang_id(col: Column | str) -> Column:
    """Argmax language with deterministic alphabetical tiebreak; 'und' if no
    signal. n-gram-heuristic class of detector (stopword + script evidence)."""
    scores = lang_scores(col)
    # build array<struct<score,negkey,lang>> and array_max for a deterministic
    # argmax: max on (score, lang DESC alphabetical? ) — tiebreak: first
    # alphabetically wins → compare (score, reversed-lang) and take max.
    pairs = F.array(
        *[
            F.struct(
                scores[lang].alias("score"),
                F.lit(-i).alias("prio"),  # earlier alphabetical → higher prio
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(sorted(scores))
        ]
    )
    best = F.array_max(pairs)
    c = F.col(col) if isinstance(col, str) else col
    # NULL text: every score is NULL, and array_max's struct comparison then
    # surfaces an arbitrary language ('de' alphabetically) — pin to 'und'
    return F.when(
        c.isNull() | (best["score"] <= 0) | best["score"].isNull(), F.lit("und")
    ).otherwise(best["lang"])


def word_ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-grams (space-joined token windows); empty array if < n tokens.

    CALLER NOTE: the tokenizer expression sits FREE inside the window
    lambda, so if this lands in a single projection the split() can run once
    per n-gram (~35% measured overhead on the shingle pipeline). Hot paths
    should stage tokens() into a bound column first and use
    `word_ngrams_of` (minhash_df / ngram_hash_set do)."""
    return word_ngrams_of(tokens(col), n)


def word_ngrams_of(toks: Column, n: int = 3) -> Column:
    """Word n-grams from an already-computed token-array column. Pass a
    BOUND column (staged via a prior select): lambdas referencing an
    attribute read the materialized array; lambdas referencing a free
    expression tree may re-evaluate it per element."""
    cnt = F.size(toks) - (n - 1)
    return F.when(cnt < 1, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), cnt), lambda i: F.concat_ws(" ", F.slice(toks, i, n))
        )
    )


# Rabin-Karp polynomial hash parameters (shared with the SQL oracle)
FP_BASE = 257
FP_P = 2_147_483_647  # 2^31 - 1


def char_codes(col: Column | str) -> Column:
    """One-pass char codepoints: split('') walks the string once; a
    per-position substring() would be O(position) per char (UTF-8 seek) →
    O(n²) total."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))


def _fingerprint_from_codes(n: Column, codes: Column, k: int = 8) -> Column:
    """Rabin-Karp min-hash from a (length, codes-array) pair: min over
    h(i) = Σ_j code(c_{i+j})·B^j mod P, built as k shifted array views
    combined with zip_with. NULL for texts shorter than k."""
    m = n - k + 1

    def scaled(j: int):
        bj = pow(FP_BASE, j, FP_P)
        return F.transform(F.slice(codes, j + 1, m), lambda x: x * F.lit(bj))

    acc = scaled(0)
    for j in range(1, k):
        acc = F.zip_with(acc, scaled(j), lambda a, b: a + b)
    hvec = F.transform(acc, lambda h: h % FP_P)
    return F.when(n < k, F.lit(None).cast("long")).otherwise(F.array_min(hvec))


def fingerprint(col: Column | str, k: int = 8) -> Column:
    """Rolling-hash document fingerprint: min over the Rabin-Karp polynomial
    hash of every char k-gram (the winnowing family's global-min special
    case). Pure integer arithmetic — ~100× cheaper than a digest per k-gram
    and exactly reproducible in the DuckDB oracle.

    Single-Column form: the codes array appears in k shifted views of ONE
    projection, so codegen re-evaluates split+ascii k times. On hot paths use
    fingerprint_df, which materializes the codes once per row in a separate
    projection (measured ~7× faster at sf0.1)."""
    c = F.col(col) if isinstance(col, str) else col
    return _fingerprint_from_codes(F.length(c), char_codes(c), k)


def fingerprint_df(
    df: DataFrame, text_col: str = "text", out_col: str = "fingerprint", k: int = 8
) -> DataFrame:
    """Two-projection fingerprint: stage (length, codes) in their own
    projection so every shifted view reads the materialized array instead of
    re-splitting the text. Catalyst's CollapseProject keeps the boundary
    because the codes alias is referenced k times (non-cheap, multi-use
    aliases are not inlined)."""
    staged = df.select(
        "*", F.length(F.col(text_col)).alias("_fp_n"), char_codes(text_col).alias("_fp_codes")
    )
    return staged.select(
        *df.columns,
        _fingerprint_from_codes(F.col("_fp_n"), F.col("_fp_codes"), k).alias(out_col),
    )


def add_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All features in one narrow pass (the 'document featurizer' operator).
    The fingerprint goes through the two-projection fingerprint_df path so
    its char-code array is materialized once per row."""
    from peerdb_spark.functions import ensure_parallelism

    df = ensure_parallelism(df)
    c = F.col(text_col)
    feats = df.select(
        "*",
        token_count(c).alias("n_tokens"),
        bpe_unit_count(c).alias("n_units"),
        punct_ratio(c).alias("punct_ratio"),
        stopword_ratio(c).alias("stopword_ratio"),
        quality_score(c).alias("quality"),
        lang_id(c).alias("lang_pred"),
    )
    return fingerprint_df(feats, text_col)


def html_to_text(col: Column | str) -> Column:
    """HTML → visible text (the crawl-ingest step between WARC bodies and
    langid/quality/dedup): drop script/style/comment blocks, strip tags,
    decode the six ubiquitous entities (&amp; LAST so &amp;lt; stays
    literal), collapse whitespace. Pure built-in expressions — regex kept
    to the Java/RE2 shared subset ((?is), lazy .*?, no backrefs), and the
    whitespace class written explicitly ([ \\t\\n\\r\\f]) because Java \\s
    and RE2 \\s disagree on \\x0B. Boilerplate REMOVAL (trafilatura-style
    main-content detection) is a model/heuristic, deliberately out of
    scope — this is the exact, restatable extraction layer under it."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, r"(?is)<script\b.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"<[^>]*>", " ")
    for ent, ch in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")):
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(c, "[ \t\n\r\f]+", " "))


def url_normalize(col: Column | str) -> Column:
    """Canonical URL for crawl dedup: lowercase scheme+host, drop the
    fragment, drop default ports (http:80 / https:443), empty path → '/',
    strip utm_* tracking params (collapsing separators). All built-in
    expressions with Java/RE2-shared regex; the oracle restates each step
    (replacement syntax differs — $1 vs \\1 — but semantics align)."""
    u = F.trim(F.col(col) if isinstance(col, str) else col)
    u = F.regexp_replace(u, r"(?s)#.*", "")  # fragment
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://", "")
    hostport = F.regexp_extract(rest, r"^([^/?]*)", 1)
    tail = F.substring(rest, F.length(hostport) + 1, F.lit(1 << 30))
    host = F.lower(F.regexp_extract(hostport, r"^([^:]*)", 1))
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    keep_port = (port != "") & ~(
        ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443"))
    )
    path = F.regexp_extract(tail, r"^([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(tail, r"\?(.*)$", 1)
    query = F.regexp_replace(query, r"(^|&)utm_[^&]*", r"$1")
    query = F.regexp_replace(query, r"&&+", "&")
    query = F.regexp_replace(query, r"^&|&$", "")
    return F.concat(
        scheme, F.lit("://"), host,
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(F.lit("")),
        path,
        F.when(query != "", F.concat(F.lit("?"), query)).otherwise(F.lit("")),
    )
