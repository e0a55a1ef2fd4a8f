"""Corpus-level training-data operators: benchmark decontamination,
Gopher-style repetition quality rules, fixed-window document chunking, and
BM25 keyword retrieval.

All operators are pure built-in pyspark.sql.functions (whole-stage codegen,
no Python in the hot path) with exact DuckDB oracle counterparts (see
peerdb_spark.queries / __spark_entry__.oracle_sql).

Scale notes (100 TB):
- decontaminate: the benchmark side is an eval suite (thousands of docs) —
  its distinct n-gram set is broadcast, so the corpus n-grams never shuffle;
  the only exchange is the per-(train, bench) pair count, which is bounded by
  actual overlap, not corpus size.
- gopher_quality: per-row array expressions only — zero shuffles; the
  top-bigram mode is computed as the longest run of the SORTED bigram array
  (O(n log n) per row in codegen) instead of an explode + per-doc group-by,
  so a quality pass pipelines into the scan.
- chunk_documents: per-row posexplode of a start-offset sequence — narrow.
- bm25_topk: one global 1-row stats aggregate (broadcast back), one per-doc
  projection, one top-k window on score. Corpus scans twice, shuffles once
  (the final rank, bounded by k per ordering — use a LIMIT-style takeOrdered
  at true scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from peerdb_spark.functions.hashing import h64
from peerdb_spark.functions.text import tokens, word_ngrams, word_ngrams_of

# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def ngram_hash_set(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct (id, gram_hash) relation of word n-grams per document.

    Hashing the gram (h64) keeps the joined relation narrow: 16 bytes/row
    instead of the gram text. Distinct-per-doc so a gram repeated inside one
    document counts once (standard decontamination semantics) — deduped
    PER ROW with array_distinct BEFORE the explode, so the dedup needs no
    shuffle (a relational .distinct() here would exchange every corpus
    n-gram)."""
    # stage tokens as a bound column: a free tokens() inside the n-gram
    # lambda re-runs split() per gram (see text.word_ngrams caller note)
    tk = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    t = tk.select(F.col(id_col), word_ngrams_of(F.col("_t"), n).alias("_gs"))
    hashes = F.array_distinct(F.transform(F.col("_gs"), lambda g: h64(g)))
    return t.select(id_col, F.explode(hashes).alias("gram_hash"))


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Benchmark-contamination pairs: (train doc, bench doc, #shared n-grams)
    for every pair sharing >= min_shared distinct word n-grams.

    The standard eval-set decontamination pass for pre-training corpora
    (n-gram collision against held-out benchmarks). The benchmark n-gram set
    is broadcast — the corpus-side n-gram relation is joined map-side and
    never shuffles; only matched (train, bench) pairs reach the count
    aggregate. Returns (doc_id, bench_id, shared_ngrams).
    """
    tg = ngram_hash_set(train, text_col, id_col, n)
    bg = ngram_hash_set(bench, text_col, id_col, n).withColumnRenamed(
        id_col, "bench_id"
    )
    return (
        tg.join(F.broadcast(bg), "gram_hash")
        .groupBy(id_col, "bench_id")
        .agg(F.count("*").alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition / quality rules
# ---------------------------------------------------------------------------


def longest_run(arr: Column) -> Column:
    """Length of the longest run of equal adjacent values in a SORTED array —
    i.e. the multiplicity of the array's mode — as a SINGLE-PASS fold
    (`aggregate` with (prev, run, best) state). No explode, no shuffle.

    Deliberately a fold and not a change-position/zip_with formulation: the
    fold references `arr` exactly ONCE, so when Catalyst collapses projects
    or pushes a filter on a derived column through (substituting this whole
    expression per reference), the plan grows linearly, not exponentially.
    The multi-reference formulation made `where(keep == 1)` take 43 s/1000
    rows after predicate pushdown re-inlined it; the fold is ~1 ms. Lambda
    variables bind once at runtime, so `acc` appearing several times below
    costs nothing. Empty array → 0.
    """
    run_len = lambda acc, x: (  # noqa: E731 — shared by two struct fields
        F.when(acc["p"].eqNullSafe(x), acc["r"] + 1).otherwise(F.lit(1))
    )
    folded = F.aggregate(
        arr,
        F.struct(
            F.lit(None).cast("string").alias("p"),
            F.lit(0).alias("r"),
            F.lit(0).alias("b"),
        ),
        lambda acc, x: F.struct(
            x.alias("p"),
            run_len(acc, x).alias("r"),
            F.greatest(acc["b"], run_len(acc, x)).alias("b"),
        ),
        lambda acc: acc["b"],
    )
    return folded


def gopher_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 25,
    max_dup_word_frac: float = 0.6,
    max_top_bigram_frac: float = 0.09,
    extra: dict[str, "Column"] | None = None,
) -> DataFrame:
    """Repetition-based quality signals per document (the Gopher/MassiveText
    rule family: doc-length bounds, duplicate-word fraction, most-common-
    n-gram fraction) and the composite keep flag.

    All fractions are int/int divisions — bit-identical across engines.
    Returns (id, n_tokens, dup_word_frac, top_bigram_frac, keep).

    Each derivation is staged through a select so every level references a
    COLUMN, not a copy of the upstream expression — Column composition
    substitutes subtrees, and the naive single-select form duplicates the
    tokenizer ~100× (Catalyst's CollapseProject then re-inlines; the staged
    form keeps the analyzed tree linear).

    `extra` maps output-column name → Column over df's columns; the extras are
    computed in the SAME first projection as the tokenizer (one pass over the
    text) and carried through the staged selects — callers composing several
    per-row feature families avoid a second scan or a self-join.
    """
    extra = extra or {}
    ex_names = list(extra)
    t = df.select(
        F.col(id_col),
        tokens(text_col).alias("_t"),
        *[col.alias(name) for name, col in extra.items()],
    )
    n = F.size(F.col("_t"))
    bigrams = F.when(n < 2, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("_t"), i, 2)),
        )
    )
    s1 = t.select(
        id_col,
        n.alias("n_tokens"),
        F.size(F.array_distinct("_t")).alias("_nd"),
        F.array_sort(bigrams).alias("_bg"),
        *ex_names,
    )
    s2 = s1.select(
        id_col,
        "n_tokens",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise((F.col("n_tokens") - F.col("_nd")) / F.col("n_tokens"))
        .alias("dup_word_frac"),
        F.size("_bg").alias("_nbg"),
        longest_run(F.col("_bg")).alias("_top"),
        *ex_names,
    )
    s3 = s2.select(
        id_col,
        "n_tokens",
        "dup_word_frac",
        F.when(F.col("_nbg") == 0, F.lit(0.0))
        .otherwise(F.col("_top") / F.col("_nbg"))
        .alias("top_bigram_frac"),
        *ex_names,
    )
    return s3.select(
        id_col,
        "n_tokens",
        "dup_word_frac",
        "top_bigram_frac",
        (
            (F.col("n_tokens") >= min_tokens)
            & (F.col("dup_word_frac") <= max_dup_word_frac)
            & (F.col("top_bigram_frac") <= max_top_bigram_frac)
        )
        .cast("int")
        .alias("keep"),
        *ex_names,
    )


# ---------------------------------------------------------------------------
# fixed-window chunking
# ---------------------------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 40,
    stride: int = 30,
) -> DataFrame:
    """Split each document into fixed-size token windows with overlap
    (training-sample chunking: chunk i covers tokens [i*stride,
    i*stride+chunk_size)). The last chunk may be short; every token is
    covered; a document shorter than chunk_size yields exactly one chunk.

    Per-row posexplode of the start-offset sequence — narrow, no shuffle.
    Chunks are transported as (token count, content hash) so the gate hashes
    scalars; the chunk text itself is `concat_ws(' ', slice)` when needed.
    Returns (id, chunk_idx, chunk_tokens, chunk_hash).
    """
    toks = tokens(text_col)
    n = F.size(toks)
    # number of chunks: 1 + ceil(max(0, n - size) / stride)  (>=1 even for n=0)
    nch = F.lit(1) + F.floor(
        (F.greatest(n - F.lit(chunk_size), F.lit(0)) + F.lit(stride - 1))
        / F.lit(stride)
    ).cast("int")
    starts = F.sequence(F.lit(0), (nch - 1) * F.lit(stride), F.lit(stride))
    out = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        F.posexplode(starts).alias("chunk_idx", "_start"),
    )
    piece = F.slice(F.col("_toks"), F.col("_start") + 1, chunk_size)
    return out.select(
        id_col,
        "chunk_idx",
        F.size(piece).alias("chunk_tokens"),
        h64(F.concat_ws(" ", piece)).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# BM25 keyword retrieval
# ---------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """BM25 top-k documents for a fixed term set.

    Uses the Robertson–Spärck Jones weight WITHOUT the log —
    w_t = (N - df_t + 0.5) / (df_t + 0.5) — because every operation is then
    an exactly-rounded IEEE op (integer+0.5 sums, one division) that DuckDB
    and the JVM compute bit-identically; ln() is not guaranteed identical
    across libm implementations and would poison the value-hash gate. The
    ranking is the standard BM25 shape: per-term saturation tf·(k1+1) /
    (tf + k1·(1-b+b·dl/avgdl)) with avgdl = Σdl/N (exact integer sum, one
    division). Per-term scores are added left-to-right in declared term
    order in both engines.

    Plan: one 1-row corpus-stats aggregate broadcast back onto a single
    per-doc projection; final top-k is a rank window (at 100 TB swap for a
    per-partition top-k + merge — the orderBy is bounded by k either way).
    Returns (id, rank, score).
    """
    toks = tokens(text_col)
    tf_cols = [
        F.size(F.filter(toks, lambda t: t == F.lit(term))).alias(f"_tf{i}")
        for i, term in enumerate(terms)
    ]
    base = df.select(F.col(id_col), F.size(toks).alias("_dl"), *tf_cols)
    stats = base.agg(
        F.count("*").alias("_n"),
        F.sum("_dl").alias("_sumdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("long")).alias(f"_df{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("_sumdl").cast("double") / F.col("_n")
    score = None
    for i in range(len(terms)):
        w = (F.col("_n") - F.col(f"_df{i}") + F.lit(0.5)) / (
            F.col(f"_df{i}") + F.lit(0.5)
        )
        tf = F.col(f"_tf{i}").cast("double")
        s = w * (
            tf
            * F.lit(BM25_K1 + 1)
            / (
                tf
                + F.lit(BM25_K1)
                * (F.lit(1 - BM25_B) + F.lit(BM25_B) * (F.col("_dl") / avgdl))
            )
        )
        score = s if score is None else score + s
    scored = scored.select(F.col(id_col), score.alias("score"))
    w_rank = Window.orderBy(F.desc("score"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank).cast("int"))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "score")
    )


# ---------------------------------------------------------------------------
# intra-document repetition scrub (C4-style duplicate-passage removal)
# ---------------------------------------------------------------------------


def scrub_repeated_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 20,
) -> DataFrame:
    """Remove repeated passages WITHIN each document: the text is split into
    fixed `chunk_tokens`-token chunks (the pseudo-paragraph unit — the C4
    line-dedup rule applied to unstructured single-line text) and every
    chunk that already occurred earlier in the same document is dropped;
    the survivors re-join in order.

    Entirely per-row array expressions — shuffle-free, pipelines into the
    scan at any corpus size. The first-occurrence filter is SORT-based
    (O(chunks·log chunks) per doc): sort (chunk, idx) pairs, keep each
    group's first (adjacent-distinct — O(1) element_at, not an O(n)
    array_position per element, which made a single 40k-token document an
    11-second straggler), then re-sort the survivors by original index.

    Returns (id, n_chunks, n_kept, clean_text).
    """
    # stage the token array as a BOUND column: a free tokens() inside the
    # chunking lambda re-splits the whole text once per chunk (O(doc²))
    st = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    tcol = F.col("_t")
    n_chunks = F.ceil(F.size(tcol) / F.lit(chunk_tokens)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(tcol, i * chunk_tokens + 1, chunk_tokens)
        ),
    )
    chunks = F.when(F.size(tcol) == 0, F.array().cast("array<string>")).otherwise(chunks)
    s0 = st.select(F.col(id_col), chunks.alias("_ch"))
    # (chunk, idx) sorted by chunk then idx → a chunk's first occurrence is
    # the group head (previous element has a different chunk). For an EMPTY
    # chunk array, sequence(0,-1) descends and arrays_zip null-pads — drop
    # the padding (a real chunk is never NULL: concat_ws can't return null)
    zipped = F.filter(
        F.arrays_zip(
            F.col("_ch"), F.sequence(F.lit(0), F.size("_ch") - 1).alias("_ix")
        ),
        lambda x: x["_ch"].isNotNull(),
    )
    s1 = s0.select(
        id_col,
        F.size("_ch").alias("n_chunks"),
        F.array_sort(zipped).alias("_sz"),
    )
    # F.get is 0-based and NULL-safe: for i=0 the "previous" lookup returns
    # NULL and the inequality short-circuits true via the i==0 branch
    # (element_at would throw on index 0)
    firsts = F.filter(
        F.col("_sz"),
        lambda x, i: (i == 0) | (x["_ch"] != F.get(F.col("_sz"), i - 1)["_ch"]),
    )
    s2 = s1.select(
        id_col,
        "n_chunks",
        # back to document order: sort survivors by original index
        F.transform(
            F.array_sort(F.transform(firsts, lambda x: F.struct(x["_ix"], x["_ch"]))),
            lambda x: x["_ch"],
        ).alias("_kept"),
    )
    return s2.select(
        id_col,
        "n_chunks",
        F.size("_kept").alias("n_kept"),
        F.array_join("_kept", " ").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# patterns chosen for identical semantics in Java regex (Spark) and RE2
# (DuckDB): no backrefs, no lookaround
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4}"


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Scrub emails and phone numbers from a text column, counting what was
    removed: (id, n_emails, n_phones, clean_text). Pure regexp expressions
    (JVM codegen) — a per-row scan-pipelined pass; the pattern set is the
    standard pre-training PII baseline (extend with locale-specific rules
    at the call site)."""
    c = F.col(text_col)
    s0 = df.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace(c, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("clean_text"),
    )
    return s0


# ---------------------------------------------------------------------------
# incremental corpus cleaning (new batch vs maintained state)
# ---------------------------------------------------------------------------


def incremental_clean(
    state_hashes: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.8,
    min_tokens: int = 20,
    state_bloom: DataFrame | None = None,
    bloom_k: int = 4,
    bloom_m: int = 1 << 20,
) -> tuple[DataFrame, DataFrame]:
    """Clean ONE new crawl batch against maintained corpus state — the
    ingestion-time counterpart of the one-shot pipeline: per-row features
    and exact-dedup run over the NEW batch only; the accepted corpus is
    represented by its content-hash table (8 bytes/doc, stored bucketed by
    hash at scale so the anti-join prunes), never re-read or re-featurized.

    Returns (accepted, new_hashes):
    - accepted: new-batch docs that are their batch's keeper (min id per
      content hash), unseen in the state, AND pass the quality/length
      floors — with their features attached;
    - new_hashes: content hashes to APPEND to the state table. Deliberately
      includes floor-FAILING fresh keepers: the one-shot pipeline picks the
      global min-id keeper per hash and drops its whole group if that keeper
      fails the floors, so later re-crawls of the same content must not get
      a second chance. With batch ids monotone, incremental ≡ one-shot on
      the union (pinned by test).

    `state_bloom` (optional): a Bloom filter over the state's content hashes
    (sketch.py:bloom_build on the hash column, maintained batch-over-batch
    with bloom_merge). At 100 TB the state table dwarfs every batch and the
    exact anti-join reads/shuffles it; the filter has NO false negatives, so
    rows probing maybe=0 are DEFINITELY new and bypass the anti-join — only
    the maybe=1 sliver (true repeats + the fp rate) touches the state table.
    Result-identical to the exact path (pinned by test).
    """
    from peerdb_spark.functions.dedup import content_hash
    from peerdb_spark.functions.text import lang_id, quality_score, token_count

    c = F.col(text_col)
    per = new_docs.select(
        F.col(id_col),
        content_hash(text_col).alias("content_hash"),
        lang_id(c).alias("lang_pred"),
        quality_score(c).cast("double").alias("quality"),
        token_count(c).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("content_hash")
    keeper = (
        per.withColumn("_m", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("_m"))
        .drop("_m")
    )
    if state_bloom is not None:
        from peerdb_spark.functions.sketch import bloom_probe

        probed = bloom_probe(
            state_bloom,
            keeper.select("content_hash"),
            "content_hash",
            k=bloom_k,
            m_bits=bloom_m,
        )
        keeper = keeper.join(probed, "content_hash")
        definite_new = keeper.where(F.col("maybe") == 0).drop("maybe")
        suspects = keeper.where(F.col("maybe") == 1).drop("maybe")
        fresh = definite_new.unionByName(
            suspects.join(
                state_hashes.select("content_hash"), "content_hash", "left_anti"
            )
        )
    else:
        fresh = keeper.join(
            state_hashes.select("content_hash"), "content_hash", "left_anti"
        )
    accepted = fresh.where(
        (F.col("quality") >= min_quality) & (F.col("n_tokens") >= min_tokens)
    )
    return accepted, fresh.select("content_hash")


# ---------------------------------------------------------------------------
# cross-document passage dedup (CCNet-style corpus boilerplate removal)
# ---------------------------------------------------------------------------


def cross_doc_passage_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window_words: int = 10,
    min_docs: int = 2,
    materialize: bool = True,
) -> DataFrame:
    """Remove passages repeated ACROSS documents (the CCNet/RefinedWeb
    paragraph-dedup rule, adapted to word windows since the corpus carries
    no paragraph breaks): docs split into non-overlapping `window_words`
    passages; a passage whose text occurs in >= `min_docs` DISTINCT docs is
    corpus-level boilerplate and is dropped from every doc except its
    lowest-id occurrence (the exact_dedup keeper rule). Distinct from
    scrub_repeated_chunks, which is INTRA-document.

    Returns (id, kept_text, n_passages, n_dropped); docs with no tokens
    produce no row (nothing to scrub).

    Scale: the passage relation shuffled for the count and the keep-list is
    (id, pidx, hash) — three longs; passage TEXT never crosses a shuffle.
    The rebuild re-slices the original token array by the kept passage
    indexes (collected per doc as a sorted int array — bounded by
    len(doc)/window_words). Duplicate-hash counts collapse with map-side
    partials; the dup set is naturally small (boilerplate), and a
    pathological corpus-wide passage still costs one counter, not a join
    blow-up. `materialize` eager-checkpoints the token arrays (consumed by
    the passage branch AND the rebuild) and the hashed passage relation
    (consumed by the count aggregate AND the flag join) — without it the
    corpus text is re-tokenized/re-hashed per branch (two AQE stages race
    a lazy checkpoint, so eager; at 100 TB write both to parquet instead).
    """
    tk = df.select(F.col(id_col), tokens(text_col).alias("_t")).where(F.size("_t") > 0)
    if materialize:
        tk = tk.localCheckpoint(eager=True)
    npass = F.ceil(F.size("_t") / F.lit(window_words)).cast("int")
    passages = tk.select(
        id_col,
        F.explode(F.sequence(F.lit(0), npass - 1)).alias("pidx"),
        "_t",
    ).select(
        id_col,
        "pidx",
        h64(
            F.array_join(
                F.slice(F.col("_t"), F.col("pidx") * window_words + 1, window_words),
                " ",
            )
        ).alias("_h"),
    )
    if materialize:
        passages = passages.localCheckpoint(eager=True)
    stats = passages.groupBy("_h").agg(
        F.count_distinct(F.col(id_col)).alias("_nd"),
        F.min(id_col).alias("_keeper"),
    )
    flagged = passages.join(stats, "_h").select(
        id_col,
        "pidx",
        (
            (F.col("_nd") >= min_docs) & (F.col(id_col) != F.col("_keeper"))
        ).alias("_drop"),
    )
    keep = flagged.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(F.when(~F.col("_drop"), F.col("pidx")))
        ).alias("_keep"),
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.col("_drop").cast("long")).alias("n_dropped"),
    )
    rebuilt = tk.join(keep, id_col).select(
        id_col,
        F.array_join(
            F.flatten(
                F.transform(
                    F.col("_keep"),
                    lambda i: F.slice(F.col("_t"), i * window_words + 1, window_words),
                )
            ),
            " ",
        ).alias("kept_text"),
        "n_passages",
        "n_dropped",
    )
    return rebuilt


# ---------------------------------------------------------------------------
# duplicated-span coverage (Lee et al. 2022 exact-substring dedup measure)
# ---------------------------------------------------------------------------


def dup_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 12,
    min_count: int = 2,
    materialize: bool = True,
) -> DataFrame:
    """Per-document duplicated-span coverage, the exact-substring dedup
    measure of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"): every OVERLAPPING `window`-token span is hashed across
    the whole corpus; a span whose text occurs >= `min_count` times anywhere
    (any alignment, any document, including elsewhere in the same document)
    is duplicated. Returns (id, n_tokens, dup_windows, covered_tokens) where
    covered_tokens is the length of the UNION of flagged [p, p+window)
    intervals — the token count an exact-substring deduper would cut.

    Distinct from cross_doc_passage_dedup (non-overlapping passages): the
    rolling window catches duplication at ANY alignment, which is why the
    suffix-array formulation is the published gold standard; the rolling
    window is its bounded-length approximation.

    Scale shape: the span relation is (id, p, h) — three longs, text never
    shuffles; the count collapses with map-side partials; interval union is
    one lead() window per doc over only the FLAGGED spans. Cost is O(T·W)
    character hashing for corpus token count T (each token enters W window
    hashes); at extreme scale swap h64 for a Rabin–Karp rolling hash inside
    one pass per document — kept md5 here for cross-engine oracle parity.
    Docs shorter than `window` carry no spans and report zero coverage.
    `materialize` pins the token arrays (consumed by the span branch and the
    base row) and the hashed span relation (consumed by the duplicate count
    AND the flag join); see cross_doc_passage_dedup for the AQE rationale.
    """
    tk = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    if materialize:
        tk = tk.localCheckpoint(eager=True)
    base = tk.select(id_col, F.size("_t").cast("long").alias("n_tokens"), "_t")
    wins = (
        base.where(F.col("n_tokens") >= window)
        .select(
            id_col,
            F.explode(F.sequence(F.lit(0), (F.col("n_tokens") - window).cast("int"))).alias("p"),
            "_t",
        )
        .select(
            id_col,
            "p",
            h64(F.array_join(F.slice(F.col("_t"), F.col("p") + 1, window), " ")).alias("_h"),
        )
    )
    if materialize:
        wins = wins.localCheckpoint(eager=True)
    dups = (
        wins.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .where(F.col("_c") >= min_count)
        .select("_h")
    )
    w = Window.partitionBy(id_col).orderBy("p")
    cover = (
        wins.join(dups, "_h")
        .select(id_col, "p", F.lead("p").over(w).alias("_np"))
        .select(
            id_col,
            F.least(
                F.coalesce(F.col("_np") - F.col("p"), F.lit(window)), F.lit(window)
            ).cast("long").alias("_cov"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("dup_windows"),
            F.sum("_cov").alias("covered_tokens"),
        )
    )
    return (
        base.drop("_t")
        .join(cover, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_windows", F.lit(0).cast("long")).alias("dup_windows"),
            F.coalesce("covered_tokens", F.lit(0).cast("long")).alias("covered_tokens"),
        )
    )


def incremental_span_coverage(
    state_counts: DataFrame | None,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 12,
    min_count: int = 2,
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Ingestion-time dup_span_coverage: score ONE new crawl batch against
    the accumulated corpus without ever re-hashing it — the same maintained-
    state pattern as incremental_clean (content hashes) and the incremental
    LSH count log (band buckets). State is a (h, cnt) span-count table
    (two longs per distinct span; bucket it by h at scale so the join
    prunes).

    A new-batch span is duplicated when state_cnt + batch_cnt >= min_count —
    EXACTLY the union-corpus occurrence count, so the returned coverage rows
    equal a full dup_span_coverage over (corpus ∪ batch) restricted to the
    batch's ids (pinned by test). Returns (coverage, delta):
    - coverage: (id, n_tokens, dup_windows, covered_tokens) for the batch;
    - delta: the batch's (h, cnt) rows — APPEND to the state table (counts
      merge by sum; re-aggregate lazily or at read, like the LSH count log).

    Retro-flagging is deliberately out of scope: a span that becomes
    duplicated only when a LATER batch re-crawls it flags in that later
    batch; already-ingested docs keep their at-ingest score (re-run the
    one-shot operator for a retroactive sweep) — the incremental_clean
    one-shot-keeper rule applied to spans.
    """
    tk = new_docs.select(F.col(id_col), tokens(text_col).alias("_t"))
    if materialize:
        tk = tk.localCheckpoint(eager=True)
    base = tk.select(id_col, F.size("_t").cast("long").alias("n_tokens"), "_t")
    wins = (
        base.where(F.col("n_tokens") >= window)
        .select(
            id_col,
            F.explode(
                F.sequence(F.lit(0), (F.col("n_tokens") - window).cast("int"))
            ).alias("p"),
            "_t",
        )
        .select(
            id_col,
            "p",
            h64(F.array_join(F.slice(F.col("_t"), F.col("p") + 1, window), " ")).alias("_h"),
        )
    )
    if materialize:
        wins = wins.localCheckpoint(eager=True)
    delta = wins.groupBy(F.col("_h").alias("h")).agg(F.count(F.lit(1)).alias("cnt"))
    if materialize:
        delta = delta.localCheckpoint(eager=True)
    if state_counts is not None:
        prior = state_counts.groupBy("h").agg(F.sum("cnt").alias("_prior"))
        total = delta.join(prior, "h", "left").select(
            "h",
            (F.col("cnt") + F.coalesce("_prior", F.lit(0))).alias("_total"),
        )
    else:
        total = delta.select("h", F.col("cnt").alias("_total"))
    dups = total.where(F.col("_total") >= min_count).select(F.col("h").alias("_h"))
    w = Window.partitionBy(id_col).orderBy("p")
    cover = (
        wins.join(dups, "_h")
        .select(id_col, "p", F.lead("p").over(w).alias("_np"))
        .select(
            id_col,
            F.least(
                F.coalesce(F.col("_np") - F.col("p"), F.lit(window)), F.lit(window)
            ).cast("long").alias("_cov"),
        )
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("dup_windows"),
            F.sum("_cov").alias("covered_tokens"),
        )
    )
    coverage = (
        base.drop("_t")
        .join(cover, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("dup_windows", F.lit(0).cast("long")).alias("dup_windows"),
            F.coalesce("covered_tokens", F.lit(0).cast("long")).alias("covered_tokens"),
        )
    )
    return coverage, delta


# ---------------------------------------------------------------------------
# CDC-maintained corpus state (replication feeding the cleaning pipeline)
# ---------------------------------------------------------------------------


class CorpusStateView:
    """Incremental corpus-cleaning + near-dup-LSH state maintained FROM a
    CDC mirror's merge images (plug into cdc.CdcPipeline.attach_view) —
    the production story the two halves gate separately elsewhere:
    replication keeps a documents table live; the training-data pipeline
    needs the cleaned/keeper view of that live table WITHOUT re-reading or
    re-featurizing the corpus on every change batch.

    State relation (narrow — the text column is never stored):
      (doc_id, content_hash, simhash, lang_pred, quality, n_tokens)
    one row per LIVE mirror row. `simhash` is the incremental near-dup
    state in exactly the (id, hash) shape
    dedup.hash64_hamming_pairs_incremental consumes; `content_hash` is the
    incremental_clean state-hash table, here keyed by id so updates and
    deletes (which append-only ingestion never sees) retract correctly.

    fold(pre, post, batch_id): featurizes ONLY the post-image rows
    (O(touched) text work — per-row features plus one explode+groupBy over
    the touched slice for simhash), drops every touched id's old state
    row, and publishes the next version with mview.ViewTable's
    atomic-pointer crash contract (redelivered batch ids no-op via the
    applied watermark; a crash mid-fold leaves an orphan version the next
    fold overwrites). Images are state-based, so a replayed merge range
    folds pre==post and nets to zero.

    accepted(): the cleaned live corpus — the min-id keeper per
    content_hash that passes the quality/token floors — derived from the
    narrow state only (incremental_clean's accept rule over live rows; at
    100 TB this is a window over ~40 B/doc, not a corpus scan).

    Reference: PeerDB stops at the mirror (flow/activities/flowable.go
    sync→normalize); the maintained-state layer is this engine's
    LLM-pipeline surface, same fold contract as mview.ViewTable:272."""

    def __init__(self, spark, path: str, text_col: str = "text",
                 id_col: str = "doc_id", min_quality: float = 0.8,
                 min_tokens: int = 20):
        import os

        self.spark = spark
        self.path = path
        self.text_col = text_col
        self.id_col = id_col
        self.min_quality = min_quality
        self.min_tokens = min_tokens
        os.makedirs(path, exist_ok=True)

    def read(self) -> DataFrame | None:
        from peerdb_spark.rollup import read_version

        return read_version(self.spark, self.path)

    def _featurize(self, rows: DataFrame) -> DataFrame:
        from peerdb_spark.functions.dedup import content_hash, simhash
        from peerdb_spark.functions.text import lang_id, quality_score, token_count

        c = F.col(self.text_col)
        per = rows.select(
            F.col(self.id_col),
            content_hash(self.text_col).alias("content_hash"),
            lang_id(c).alias("lang_pred"),
            quality_score(c).cast("double").alias("quality"),
            token_count(c).cast("long").alias("n_tokens"),
        )
        # empty-text rows produce no tokens → absent from the simhash agg;
        # left-join + 0 keeps them in the state (their features still gate)
        fp = simhash(rows, self.text_col, self.id_col, bits=32)
        return per.join(fp, self.id_col, "left").select(
            self.id_col, "content_hash",
            F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash"),
            "lang_pred", "quality", "n_tokens",
        )

    def backfill(self, live_rows: DataFrame) -> bool:
        """Seed from EXISTING mirror state when attaching mid-life (the
        ViewTable.backfill contract: consumes no batch id, no-op once a
        version exists; replayed merges self-correct via state images)."""
        from peerdb_spark.rollup import publish_version, read_pointer

        m = read_pointer(self.path)
        if m["version"] > 0:
            return False
        publish_version(self.path, m, self._featurize(live_rows))
        return True

    def fold(self, pre_image: DataFrame, post_image: DataFrame,
             batch_id: int) -> bool:
        from peerdb_spark.rollup import is_applied, publish_epoch, read_pointer

        m = read_pointer(self.path)
        if is_applied(m, batch_id):
            return False
        # the images are lazy semi-join slices over the just-merged table;
        # _featurize reads its input twice (per-row features + the simhash
        # explode-agg) and `touched` adds a third pass — checkpoint the
        # batch-sized slices once instead of re-running the join per pass
        # (bounded: touched rows only — backfill deliberately does NOT
        # checkpoint, its input is the whole corpus)
        pre_image = pre_image.select(self.id_col).localCheckpoint()
        post_image = post_image.localCheckpoint()
        touched = (
            pre_image.select(self.id_col)
            .unionByName(post_image.select(self.id_col))
            .distinct()
        )
        feats = self._featurize(post_image)
        cur = self.read()
        if cur is None:
            new_state = feats
        else:
            new_state = cur.join(
                F.broadcast(touched), self.id_col, "left_anti"
            ).unionByName(feats)
        publish_epoch(self.path, m, new_state, batch_id)
        return True

    def accepted(self) -> DataFrame:
        """Cleaned live corpus from the narrow state: min-id keeper per
        content hash, then the quality/token floors (incremental_clean's
        accept rule applied to mirror-live rows)."""
        st = self.read()
        if st is None:
            raise ValueError("CorpusStateView has no state yet")
        w = Window.partitionBy("content_hash")
        keeper = (
            st.withColumn("_m", F.min(self.id_col).over(w))
            .where(F.col(self.id_col) == F.col("_m"))
            .drop("_m")
        )
        return keeper.where(
            (F.col("quality") >= self.min_quality)
            & (F.col("n_tokens") >= self.min_tokens)
        )
