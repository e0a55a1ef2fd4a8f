"""Corpus and text queries: dedup, text features, tokenizers, sketches, sampling, cleaning."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from peerdb_spark.functions import ensure_parallelism
from peerdb_spark.functions import dedup as DD
from peerdb_spark.functions import text as TX
from peerdb_spark.functions.hashing import h64, h64_sql
from peerdb_spark.queries._common import (
    _BM25_TERMS,
    _TOKS_SQL,
    _bm25_sql,
    _lang_id_sql,
    _quality_sql,
    _simhash_sql,
    _t,
    _tokens_sql,
)


# ---------------------------------------------------------------------------
# LLM-pipeline: dedup
# ---------------------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    return DD.exact_dedup(docs, "text", "doc_id")


SQL_DEDUP_EXACT = f"""
WITH h AS (SELECT doc_id, {h64_sql("trim(text)")} AS content_hash FROM documents),
g AS (SELECT content_hash, min(doc_id) keeper_id, count(*) group_size
      FROM h GROUP BY content_hash)
SELECT h.doc_id, h.content_hash, g.group_size, h.doc_id = g.keeper_id AS is_kept
FROM h JOIN g USING (content_hash)
"""


_N = DD.DEFAULT_SHINGLE_N


_P = DD.MINHASH_P


# word-trigram shingle CTE: toks → windows → distinct, base hash mod P
_GRAMS_SQL = f"""
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
  FROM documents WHERE len(trim(text)) > 0
),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(tk) - {_N} + 2),
                               i -> array_to_string(tk[i:i+{_N - 1}], ' '))) AS g
  FROM toks WHERE len(tk) >= {_N}
)"""


def _minhash_sig_sql() -> str:
    """CTE producing sigs(doc_id, j, mh) — universal-hash MinHash:
    mh_j = min over shingles of (h(g)·a_j + b_j) mod P, h = h64(g) mod P."""
    params = DD.minhash_params()
    rows = ", ".join(f"({j}, {a}::BIGINT, {b}::BIGINT)" for j, (a, b) in enumerate(params))
    return f"""{_GRAMS_SQL},
hg AS (SELECT doc_id, {h64_sql("g")} % {_P} AS h FROM grams),
coef(j, a, b) AS (VALUES {rows}),
sigs AS (
  SELECT doc_id, j, min((h * a + b) % {_P}) AS mh
  FROM hg, coef GROUP BY doc_id, j
)"""


def q_dedup_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures, unnested to (doc_id, seed, minhash) rows."""
    (docs,) = _t(spark, sf_dir, "documents")
    sig = DD.minhash_df(docs, "text", "doc_id")
    return sig.select(
        "doc_id", F.posexplode("minhash")
    ).select(
        "doc_id", F.col("pos").cast("int").alias("seed"), F.col("col").alias("minhash")
    )


SQL_DEDUP_MINHASH_SIG = f"""
WITH {_minhash_sig_sql()}
SELECT doc_id, CAST(j AS INT) AS seed, mh AS minhash FROM sigs
"""


def q_dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    return DD.minhash_lsh_pairs(docs, "text", "doc_id")


_R = DD.DEFAULT_NUM_HASHES // DD.DEFAULT_BANDS


_MAXB = DD.DEFAULT_MAX_BUCKET_SIZE


# the QUALIFY mirrors the Spark-side max_bucket_size skew guard: both engines
# drop the same oversized (band, band_hash) buckets, so the declared relation
# is identical even on a fixture with a degenerate bucket (round-3 advice)
SQL_DEDUP_MINHASH_LSH_PAIRS = f"""
WITH {_minhash_sig_sql()},
bands0 AS (
  SELECT doc_id, j // {_R} AS band,
         {h64_sql(f"concat(j // {_R}, ',', string_agg(mh::VARCHAR, ',' ORDER BY j))")} AS band_hash
  FROM sigs GROUP BY doc_id, j // {_R}
),
bands AS (
  SELECT * FROM bands0
  QUALIFY count(*) OVER (PARTITION BY band, band_hash) <= {_MAXB}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       (SELECT count(*) FROM sigs x JOIN sigs y ON x.j = y.j AND x.mh = y.mh
        WHERE x.doc_id = c.id_a AND y.doc_id = c.id_b) / {DD.DEFAULT_NUM_HASHES}.0
        AS est_jaccard
FROM cand c
"""


def q_dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup (the 100 TB ingestion pattern): docs with
    doc_id % 10 == 0 play the newly-crawled batch; the rest stand in for the
    maintained corpus signature table (minhash_df output — in production a
    parquet table appended per batch, never re-hashed). Candidates must equal
    the full-corpus LSH pairs restricted to pairs touching a new id — which
    is exactly what the oracle states."""
    (docs,) = _t(spark, sf_dir, "documents")
    # ONE signature pass over the fixture, flagged by the batch predicate —
    # standing in for the maintained signature/banded/count parquet tables
    # plus the new batch's own hash (in production: incremental_lsh_ingest
    # against tables on disk; per-batch cost is O(new) — SCALING.md probe)
    all_sigs = DD.minhash_df(docs, "text", "doc_id").withColumn(
        "_new", F.col("doc_id") % 10 == 0
    )
    _ns, pairs = DD.incremental_lsh_from_flagged(all_sigs, "doc_id")
    return pairs


SQL_DEDUP_INCREMENTAL_LSH = f"""
SELECT * FROM ({SQL_DEDUP_MINHASH_LSH_PAIRS})
WHERE id_a % 10 = 0 OR id_b % 10 = 0
"""


def q_dedup_cc_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUPS from near-dup pairs: MinHash-LSH candidate pairs →
    distributed connected components (alternating large-star/small-star,
    functions/dedup.py:connected_components) → one row per component with
    its keeper (min doc_id) and member stats. This is the stage that turns
    pairwise similarity into an actionable keep/drop list — transitive: A~B,
    B~C groups {A,B,C} even when A~C was never a candidate pair. The oracle
    states the same fixpoint as a recursive transitive closure (fine at
    oracle scale; the Spark path is the O(log n)-round scale algorithm)."""
    (docs,) = _t(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_pairs(docs, "text", "doc_id")
    cc = DD.connected_components(pairs, "id_a", "id_b")
    return cc.groupBy(F.col("rep").alias("keep_doc_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("node").alias("max_doc_id"),
        F.sum("node").alias("sum_doc_ids"),
    )


SQL_DEDUP_CC_GROUPS = f"""
WITH RECURSIVE pairs AS (
  SELECT id_a, id_b FROM ({SQL_DEDUP_MINHASH_LSH_PAIRS})
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
  UNION SELECT id_a, id_a FROM pairs
  UNION SELECT id_b, id_b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
comp AS (SELECT a AS node, min(b) AS rep FROM reach GROUP BY a)
SELECT rep AS keep_doc_id, count(*) AS n_docs,
       max(node) AS max_doc_id, CAST(sum(node) AS BIGINT) AS sum_doc_ids
FROM comp GROUP BY rep
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    (docs,) = _t(spark, sf_dir, "documents")
    return DD.simhash(docs, "text", "doc_id")


SQL_DEDUP_SIMHASH = _simhash_sql()


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-LSH over SimHash fingerprints: banded bucket join (pigeonhole:
    hamming <= 3 over 4 bands forces >= 1 identical band) then exact
    bit_count(xor) verify — pairs, never all-pairs."""
    (docs,) = _t(spark, sf_dir, "documents")
    return DD.simhash_pairs(docs, "text", "doc_id", max_hamming=3)


SQL_DEDUP_SIMHASH_PAIRS = f"""
WITH sims AS ({_simhash_sql()}),
banded0 AS (
  SELECT doc_id, simhash, j AS band, (simhash >> (8 * j)) & 255 AS bval
  FROM sims, unnest(range(0, 4)) u(j)
),
banded AS (
  SELECT * FROM banded0
  QUALIFY count(*) OVER (PARTITION BY band, bval) <= {_MAXB}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.bval = b.bval
  WHERE a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed scale-safe pipeline: MinHash-LSH candidates → exact n-gram
    Jaccard verify of candidates only (the standalone shared-shingle self-join
    squares on common shingles at corpus scale; dedup.ngram_jaccard_pairs
    remains available as the raw exact-verify primitive)."""
    (docs,) = _t(spark, sf_dir, "documents")
    return DD.lsh_verified_pairs(docs, "text", "doc_id", min_jaccard=0.05)


SQL_DEDUP_NGRAM_JACCARD = f"""
WITH {_minhash_sig_sql()},
bands0 AS (
  SELECT doc_id, j // {_R} AS band,
         {h64_sql(f"concat(j // {_R}, ',', string_agg(mh::VARCHAR, ',' ORDER BY j))")} AS band_hash
  FROM sigs GROUP BY doc_id, j // {_R}
),
bands AS (
  SELECT * FROM bands0
  QUALIFY count(*) OVER (PARTITION BY band, band_hash) <= {_MAXB}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
  WHERE a.doc_id < b.doc_id
),
est AS (
  SELECT c.id_a, c.id_b,
         (SELECT count(*) FROM sigs x JOIN sigs y ON x.j = y.j AND x.mh = y.mh
          WHERE x.doc_id = c.id_a AND y.doc_id = c.id_b) / {DD.DEFAULT_NUM_HASHES}.0
          AS est_jaccard
  FROM cand c
),
gh AS (SELECT DISTINCT doc_id AS did, h AS shh FROM hg),
sizes AS (SELECT did, count(*) set_size FROM gh GROUP BY did),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS common
  FROM cand c
  JOIN gh a ON a.did = c.id_a
  JOIN gh b ON b.did = c.id_b AND b.shh = a.shh
  GROUP BY c.id_a, c.id_b
)
SELECT cm.id_a, cm.id_b, e.est_jaccard,
       cm.common / (sa.set_size + sb.set_size - cm.common) AS jaccard
FROM common cm
JOIN est e ON e.id_a = cm.id_a AND e.id_b = cm.id_b
JOIN sizes sa ON sa.did = cm.id_a
JOIN sizes sb ON sb.did = cm.id_b
WHERE cm.common / (sa.set_size + sb.set_size - cm.common) >= 0.05
"""


# ---------------------------------------------------------------------------
# LLM-pipeline: text analysis
# ---------------------------------------------------------------------------


def q_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from peerdb_spark.functions import ensure_parallelism

    (docs,) = _t(spark, sf_dir, "documents")
    c = F.col("text")
    feats = ensure_parallelism(docs.select("doc_id", "text")).select(
        "doc_id",
        "text",
        TX.token_count(c).alias("n_tokens"),
        TX.bpe_unit_count(c).alias("n_units"),
        TX.lang_id(c).alias("lang_pred"),
        TX.quality_score(c).alias("quality"),
    )
    return TX.fingerprint_df(feats, "text").select(
        "doc_id", "n_tokens", "n_units", "fingerprint", "lang_pred", "quality"
    )


_FP_TERMS = " + ".join(
    f"codes[i+{j}] * {pow(TX.FP_BASE, j, TX.FP_P)}::BIGINT" for j in range(8)
)


SQL_TEXT_FEATURES = f"""
WITH docs_c AS (
  SELECT *, list_transform(range(1, len(text) + 1),
                           p -> CAST(ascii(substr(text, p, 1)) AS BIGINT)) AS codes
  FROM documents
)
SELECT doc_id,
       {_tokens_sql("text")} AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_units,
       CASE WHEN len(text) < 8 THEN NULL ELSE
         list_min(list_transform(range(1, len(text) - 8 + 2),
                                 i -> ({_FP_TERMS}) % {TX.FP_P}))
       END AS fingerprint,
       {_lang_id_sql("text")} AS lang_pred,
       {_quality_sql("text")} AS quality
FROM docs_c
"""


def q_text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level token statistics by predicted language."""
    (docs,) = _t(spark, sf_dir, "documents")
    feat = docs.select(
        TX.lang_id(F.col("text")).alias("lang_pred"),
        TX.token_count(F.col("text")).alias("n_tokens"),
    )
    return feat.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").cast("long").alias("total_tokens")
    )


SQL_TEXT_LANG_STATS = f"""
SELECT {_lang_id_sql("text")} AS lang_pred,
       count(*) AS n_docs,
       CAST(sum({_tokens_sql("text")}) AS BIGINT) AS total_tokens
FROM documents GROUP BY 1
"""


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline: exact-dedup keep list →
    language ID → quality score → token-length floor, in ONE pass shape.

    At 100 TB this is the nightly corpus job: the keep list is a narrow
    (doc_id, 60-bit hash) hash-aggregate — the text never shuffles — and
    every feature is a codegen'd per-row expression, so the whole pipeline
    is one scan + one pk join. Near-dup removal chains in front via
    dedup.lsh_verified_pairs when needed (kept out of the declared entry so
    the oracle stays single-threshold deterministic).

    The input is documents ∪ an id-offset copy — the re-crawled-corpus
    scenario — so the dedup keep-list genuinely rejects half the input
    (the testdata documents have no exact duplicates of their own); the
    quality and length floors each reject a further few-percent band.
    Every stage of the gate does real work on both engines."""
    # fan out + materialize once: both crawl halves share IDENTICAL text, so
    # per-row features compute on the base and the copy unions feature ROWS
    # (same restructure as corpus_clean_full — halves the text CPU and stops
    # AQE's local shuffle read serializing broadcast-side builds)
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0]).localCheckpoint()
    c = F.col("text")
    per = docs.select(
        "doc_id",
        DD.content_hash("text").alias("_chash"),
        TX.lang_id(c).alias("lang_pred"),
        TX.quality_score(c).cast("double").alias("quality"),
        TX.token_count(c).cast("long").alias("n_tokens"),
    )
    crawlf = per.unionAll(per.withColumn("doc_id", F.col("doc_id") + 1_000_000))
    w = Window.partitionBy("_chash")
    return (
        crawlf.withColumn("_keeper", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("_keeper"))
        .where((F.col("quality") >= 0.8) & (F.col("n_tokens") >= 20))
        .select("doc_id", "lang_pred", "quality", "n_tokens")
    )


SQL_CORPUS_CLEAN = f"""
WITH crawl AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
h AS (SELECT doc_id, {h64_sql("trim(text)")} AS content_hash FROM crawl),
g AS (SELECT content_hash, min(doc_id) AS keeper_id FROM h GROUP BY content_hash),
keep AS (SELECT h.doc_id FROM h JOIN g USING (content_hash) WHERE h.doc_id = g.keeper_id),
feat AS (
  SELECT doc_id,
         {_lang_id_sql("text")} AS lang_pred,
         CAST({_quality_sql("text")} AS DOUBLE) AS quality,
         CAST({_tokens_sql("text")} AS BIGINT) AS n_tokens
  FROM crawl
)
SELECT f.doc_id, f.lang_pred, f.quality, f.n_tokens
FROM feat f JOIN keep USING (doc_id)
WHERE f.quality >= 0.8 AND f.n_tokens >= 20
"""


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source document-length quantiles (functions/stats.py:
    group_quantiles — type-1 inverse-ECDF, value at rank ceil(q·n)). The
    engine-portable alternative to percentile_approx for documented corpus
    length cutoffs; |sources| × |levels| output rows."""
    from peerdb_spark.functions.stats import group_quantiles

    (docs,) = _t(spark, sf_dir, "documents")
    out = group_quantiles(
        docs, "source", "n_chars", [0.25, 0.5, 0.75, 0.9, 1.0], "doc_id"
    )
    return out.select("source", "q", F.col("value").cast("long").alias("value"))


SQL_LENGTH_QUANTILES = """
WITH r AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, CAST(q AS DOUBLE) AS q, CAST(n_chars AS BIGINT) AS value
FROM r, (VALUES (0.25), (0.5), (0.75), (0.9), (1.0)) qs(q)
WHERE ceil(q * n) = rk
"""


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary top-k: 100 most frequent tokens with deterministic
    (count DESC, token) ordering — explode → hash agg → rank."""
    (docs,) = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(TX.tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy(F.desc("cnt"), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 100)
        .select(F.col("rank").cast("int").alias("rank"), "token", "cnt")
    )


SQL_VOCAB_TOPK = """
SELECT CAST(rank AS INT) AS rank, token, cnt FROM (
  SELECT token, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, token) AS rank
  FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token
    FROM documents WHERE len(trim(text)) > 0
  )
  GROUP BY token
) WHERE rank <= 100
"""


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer-training prep: corpus-wide adjacent character-pair
    counts, the statistic behind the first BPE merge. Production shape: the
    corpus first collapses to a (word, frequency) table — a hash agg with
    map-side partials whose output is VOCABULARY-sized, not corpus-sized —
    then pairs are counted over the vocab weighted by frequency. At 100 TB
    the expensive relation (corpus words) crosses the wire once, as counts."""
    (docs,) = _t(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("w") - 1, F.lit(0))),
                lambda i: F.substring(F.col("w"), i, 2),
            )
        ).alias("pair"),
        "c",
    ).where(F.length("pair") == 2)
    counts = pairs.groupBy("pair").agg(F.sum("c").alias("n"))
    w = Window.orderBy(F.desc("n"), F.col("pair"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 30)
        .select(F.col("rank").cast("int").alias("rank"), "pair", "n")
    )


# NOTE: sequence(1, 0) is DESCENDING in Spark, hence the greatest() guard and
# the len-2 filter (1-char words emit a truncated 1-char "pair" both ways).
SQL_BPE_PAIR_COUNTS = """
WITH wf AS (
  SELECT w, count(*) AS c FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents WHERE len(trim(text)) > 0
  ) GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(range(1, greatest(len(w), 1)), i -> substr(w, i, 2))) AS pair, c
  FROM wf
)
SELECT CAST(rank AS INT) AS rank, pair, n FROM (
  SELECT pair, CAST(sum(c) AS BIGINT) AS n,
         row_number() OVER (ORDER BY sum(c) DESC, pair) AS rank
  FROM pairs WHERE len(pair) = 2 GROUP BY pair
) WHERE rank <= 30
"""


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL iterative BPE training loop (functions/bpe.py:bpe_train) under
    the gate: 4 greedy merge rounds over the corpus word-frequency table;
    output = the learned merge table (step, left, right, pair count). The
    oracle UNROLLS the same 4 rounds in SQL (list_reduce merge application,
    argmax winner per round), so the iterative algorithm — normally the
    documented rows-only exception — is value-verified end-to-end."""
    from peerdb_spark.functions.bpe import bpe_train

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    merges, _ = bpe_train(docs, "text", k=4)
    rows = [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)]
    return spark.createDataFrame(rows, "step int, a string, b string, n long")


def _bpe_train_sql(k: int = 4) -> str:
    rounds = []
    for i in range(1, k + 1):
        prev = "v0" if i == 1 else f"v{i-1}"
        rounds.append(f"""
p{i} AS (
  SELECT sym[j] AS a, sym[j + 1] AS b, CAST(sum(freq) AS BIGINT) AS n
  FROM {prev}, unnest(range(1, len(sym))) t(j)
  GROUP BY 1, 2
),
w{i} AS (SELECT a, b, n FROM p{i} ORDER BY n DESC, a, b LIMIT 1),
v{i} AS (
  SELECT w, freq,
    list_reduce(list_transform(sym, s -> [s]),
      (acc, x) -> CASE WHEN acc[-1] = w{i}.a AND x[1] = w{i}.b
                  THEN list_append(acc[1:len(acc)-1], w{i}.a || w{i}.b)
                  ELSE list_concat(acc, x) END) AS sym
  FROM {prev}, w{i}
)""")
    finals = " UNION ALL ".join(
        f"SELECT {i} AS step, a, b, n FROM w{i}" for i in range(1, k + 1)
    )
    return f"""
WITH wf AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents WHERE len(trim(text)) > 0
  ) GROUP BY w
),
v0 AS (SELECT w, freq, string_split(w, '') AS sym FROM wf),
{",".join(rounds)}
SELECT CAST(step AS INT) AS step, a, b, n FROM ({finals})
"""


SQL_BPE_TRAIN_MERGES = _bpe_train_sql()


def q_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BATCHED-greedy BPE trainer (functions/bpe.py:bpe_train_batched)
    under the gate: 3 count rounds, up to 2 pairwise-DISJOINT merges per
    round (a candidate is skipped if its symbols or fused token collide
    with the round's earlier pick). Output = (round, pick, left, right,
    snapshot count). The oracle unrolls the same 3 rounds in SQL — per
    round: rank pairs, take #1, take the best rank ≤ 24 candidate passing
    the nine disjointness inequalities (the same 4·m+16 candidate window
    the Spark trainer scans), apply both merges (the second via a
    null-safe LEFT JOIN so a round that yields one merge still mirrors) —
    so the batched selection rule itself is value-verified end-to-end."""
    from peerdb_spark.functions.bpe import bpe_train_batched

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    stats: dict = {}
    merges, _ = bpe_train_batched(docs, "text", batch=2, rounds=3,
                                  stats=stats)
    rows, per_round = [], {}
    for (a, b, n), r in zip(merges, stats["round_of"]):
        per_round[r] = per_round.get(r, 0) + 1
        rows.append((r, per_round[r], a, b, int(n)))
    return spark.createDataFrame(
        rows, "round int, pick int, a string, b string, n long"
    )


def _bpe_train_batched_sql(rounds: int = 3, window: int = 24) -> str:
    rs = []
    for i in range(1, rounds + 1):
        prev = "v0" if i == 1 else f"v{i-1}"
        rs.append(f"""
p{i} AS (
  SELECT sym[j] AS a, sym[j + 1] AS b, CAST(sum(freq) AS BIGINT) AS n
  FROM {prev}, unnest(range(1, len(sym))) t(j)
  GROUP BY 1, 2
),
r{i} AS (SELECT a, b, n, row_number() OVER (ORDER BY n DESC, a, b) AS rk FROM p{i}),
sa{i} AS (SELECT a, b, n FROM r{i} WHERE rk = 1),
sb{i} AS (
  SELECT r.a, r.b, r.n FROM r{i} r, sa{i} f
  WHERE r.rk > 1 AND r.rk <= {window}
    AND r.a <> f.a AND r.a <> f.b AND r.a <> f.a || f.b
    AND r.b <> f.a AND r.b <> f.b AND r.b <> f.a || f.b
    AND r.a || r.b <> f.a AND r.a || r.b <> f.b AND r.a || r.b <> f.a || f.b
  ORDER BY r.n DESC, r.a, r.b LIMIT 1
),
m{i} AS (
  SELECT v.w, v.freq,
    list_reduce(list_transform(v.sym, s -> [s]),
      (acc, x) -> CASE WHEN acc[-1] = f.a AND x[1] = f.b
                  THEN list_append(acc[1:len(acc)-1], f.a || f.b)
                  ELSE list_concat(acc, x) END) AS sym
  FROM {prev} v, sa{i} f
),
v{i} AS (
  SELECT m.w, m.freq,
    CASE WHEN g.a IS NULL THEN m.sym
    ELSE list_reduce(list_transform(m.sym, s -> [s]),
      (acc, x) -> CASE WHEN acc[-1] = g.a AND x[1] = g.b
                  THEN list_append(acc[1:len(acc)-1], g.a || g.b)
                  ELSE list_concat(acc, x) END)
    END AS sym
  FROM m{i} m LEFT JOIN sb{i} g ON TRUE
)""")
    finals = " UNION ALL ".join(
        f"SELECT {i} AS round, 1 AS pick, a, b, n FROM sa{i} UNION ALL "
        f"SELECT {i} AS round, 2 AS pick, a, b, n FROM sb{i}"
        for i in range(1, rounds + 1)
    )
    return f"""
WITH wf AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
    FROM documents WHERE len(trim(text)) > 0
  ) GROUP BY w
),
v0 AS (SELECT w, freq, string_split(w, '') AS sym FROM wf),
{",".join(rs)}
SELECT CAST(round AS INT) AS round, CAST(pick AS INT) AS pick, a, b, n
FROM ({finals})
"""


SQL_BPE_TRAIN_BATCHED = _bpe_train_batched_sql()


def _bpe_encode_global(spark: SparkSession, sf_dir: str, strategy: str) -> DataFrame:
    """Train 4 merges on the documents, encode the corpus with `strategy`
    and rank the global token counts (top 40, deterministic order)."""
    from peerdb_spark.functions.bpe import bpe_train, token_counts
    from peerdb_spark.functions.text import tokens as _tokens

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    # tokenize the corpus ONCE: the per-doc word counts feed the encode
    # join directly and collapse to the trainer's (w, freq) relation
    wc = (
        docs.select("doc_id", F.explode(_tokens("text")).alias("w"))
        # pin real partitions with the SAME exchange the aggregate needs:
        # repartition(cores, keys) feeds groupBy(keys) without a second
        # exchange (AQE would otherwise coalesce the small-bytes aggregate
        # to 1 partition and serialize every downstream consumer; the old
        # groupBy → repartition paid that second full exchange —
        # r12 §2.4 exchange reuse, measured 0.75 → 0.53 s). Sized from the
        # session's parallelism so the driver's lower-core bench scales.
        .repartition(spark.sparkContext.defaultParallelism, "doc_id", "w")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .localCheckpoint(eager=True)
    )
    wf = wc.groupBy("w").agg(F.sum("n_w").alias("freq"))
    merges, _ = bpe_train(None, "text", k=4, word_freqs=wf)
    # the GLOBAL counts come straight off the per-doc word counts: sum over
    # docs of per-doc counts == sum of n_w per token occurrence, so the
    # (doc_id, token) exchange the per-doc bpe_encode pays is pure
    # overhead for this global top-40 (§2.3 aggregate before you shuffle;
    # r13 A/B, oracle hash-identical). The per-doc surface stays gated
    # through tests/test_bpe.py.
    glob = token_counts(wc, merges, [], strategy=strategy)
    w = Window.orderBy(F.desc("n"), "token")
    return (
        glob.select("token", F.col("n").cast("long").alias("n"),
                    F.row_number().over(w).cast("int").alias("rank"))
        .where(F.col("rank") <= 40)
    )


def q_bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TOKENIZATION with a trained merge table (functions/bpe.py:
    bpe_encode): train 4 merges, encode every document, output the global
    token frequency table (top 40, deterministic order). Two independent
    formulations certify each other: Spark encodes the distinct-word vocab
    and joins docs to it (the 100 TB shape — text never re-crosses a
    shuffle); the oracle unrolls the 4 training rounds and explodes the
    final vocab's symbol stream weighted by word frequency."""
    return _bpe_encode_global(spark, sf_dir, "auto")


def q_bpe_encode_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-PATH tokenizer under the gate: identical pipeline to
    bpe_encode_tokens but the vocab encode is forced through the RANKED
    strategy — the O(1)-plan-size Arrow mapInPandas kernel that carries
    real 32k-merge tables (functions/bpe.py _ranked_encoder). Shares
    bpe_encode_tokens' oracle, so the gate value-verifies the Python
    kernel against the unrolled SQL training rounds, not just against the
    fold path (which tests/test_bpe.py already pins it to)."""
    return _bpe_encode_global(spark, sf_dir, "ranked")


def _bpe_encode_sql(k: int = 4, topn: int = 40) -> str:
    # reuse the trainer's unrolled rounds; final vocab v{k} then explodes
    # its symbol stream weighted by freq
    train = _bpe_train_sql(k)
    body = train[train.index("WITH") : train.rindex("SELECT CAST(step")]
    return f"""
{body.rstrip()},
tok AS (
  SELECT u.s AS token, CAST(sum(freq) AS BIGINT) AS n
  FROM v{k}, unnest(sym) u(s) GROUP BY 1
)
SELECT token, n, CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank
FROM tok QUALIFY rank <= {topn}
"""


SQL_BPE_ENCODE_TOKENS = _bpe_encode_sql()


def q_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy (rare-token density): per-document mean
    inverse unigram probability, Σ(total_tokens // count(w)) / n_tokens.
    Documents dominated by rare tokens score high — the cheap stand-in for
    perplexity filtering when no LM is at hand.

    Integer surprisal per token (total // c_w, exact integer division) makes
    the per-doc sum ASSOCIATIVE — no floating-sum order dependence between
    engines — with one final double division. Plan: corpus → vocab-sized
    frequency table → hash join on token → per-doc sum; the text column
    never shuffles, tokens cross the wire once."""
    from peerdb_spark.functions import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("w"))
    wf = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = wf.agg(F.sum("c").alias("total"))
    scored = (
        tok.join(wf, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.floor(F.col("total") / F.col("c")).cast("long")).alias("surprisal_sum"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        "surprisal_sum",
        (F.col("surprisal_sum") / F.col("n_tokens")).alias("mean_surprisal"),
    )


SQL_UNIGRAM_SURPRISAL = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents WHERE len(trim(text)) > 0
),
wf AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
total AS (SELECT sum(c) AS total FROM wf)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(total // c) AS BIGINT) AS surprisal_sum,
       CAST(sum(total // c) AS BIGINT) / count(*) AS mean_surprisal
FROM tok JOIN wf USING (w) CROSS JOIN total
GROUP BY doc_id
"""


_CMS_D, _CMS_W = 4, 256


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (functions/sketch.py): build a d×w sketch over all
    corpus tokens — the corpus collapses to ≤ d·w cells with map-side
    partials — then probe the true top-20 tokens. Output certifies the
    estimate-vs-truth relation exactly (md5 hashing is cross-engine
    deterministic): est >= true always, equal when no collision."""
    from peerdb_spark.functions import ensure_parallelism
    from peerdb_spark.functions import sketch as SK

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    tok = docs.select(F.explode(TX.tokens(F.col("text"))).alias("w"))
    sk = SK.cms_build(tok, "w", d=_CMS_D, width=_CMS_W)
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("true_cnt"))
    win = Window.orderBy(F.desc("true_cnt"), F.col("w"))
    top = (
        counts.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= 20)
        .select("w", "true_cnt")
    )
    est = SK.cms_estimate(sk, top.select("w"), "w", d=_CMS_D, width=_CMS_W)
    return top.join(est, "w").select(
        F.col("w").alias("token"), "true_cnt", "est"
    )


def _cms_sql() -> str:
    from peerdb_spark.functions.sketch import cms_slot_sql

    cell_selects = " UNION ALL ".join(
        f"SELECT {i} AS row, {cms_slot_sql('w', i, _CMS_W)} AS slot FROM tok"
        for i in range(_CMS_D)
    )
    probe_selects = " UNION ALL ".join(
        f"SELECT w, {i} AS row, {cms_slot_sql('w', i, _CMS_W)} AS slot FROM top"
        for i in range(_CMS_D)
    )
    return f"""
WITH tok AS (
  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w
  FROM documents WHERE len(trim(text)) > 0
),
cells AS (
  SELECT row, slot, count(*) AS cnt FROM ({cell_selects}) GROUP BY row, slot
),
top AS (
  SELECT w, count(*) AS true_cnt,
         row_number() OVER (ORDER BY count(*) DESC, w) AS rank
  FROM tok GROUP BY w QUALIFY rank <= 20
),
probes AS ({probe_selects}),
est AS (
  SELECT p.w, min(c.cnt) AS est
  FROM probes p JOIN cells c USING (row, slot) GROUP BY p.w
)
SELECT t.w AS token, t.true_cnt, CAST(e.est AS BIGINT) AS est
FROM top t JOIN est e USING (w)
"""


SQL_CMS_HEAVY_HITTERS = _cms_sql()


def q_hll_vocab_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table over the corpus token stream
    (functions/sketch.py:hll_registers): ≤ 2^p rows via hash agg, mergeable
    by max — the bounded-memory distinct-count sketch. The gate certifies
    the registers bit-for-bit; the scalar estimate (float harmonic mean)
    stays caller-side — see test_sketch.py for the accuracy check."""
    from peerdb_spark.functions import sketch as SK

    (docs,) = _t(spark, sf_dir, "documents")
    tok = docs.select(F.explode(TX.tokens(F.col("text"))).alias("w"))
    return SK.hll_registers(tok, "w", p=8)


def _hll_sql() -> str:
    from peerdb_spark.functions.sketch import hll_registers_sql

    tok = ("(SELECT unnest(string_split_regex(trim(text), '\\s+')) AS w "
           "FROM documents WHERE len(trim(text)) > 0)")
    return hll_registers_sql(tok, "w", p=8)


SQL_HLL_VOCAB_REGISTERS = _hll_sql()


_BLOOM_K, _BLOOM_M = 4, 8192


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (functions/sketch.py:bloom_build/bloom_probe):
    insert the even-doc_id half of the corpus (by text), probe EVERY
    document. Output (doc_id, truth, maybe) certifies the whole filter
    bit-for-bit through the probe: maybe=1 for every inserted text (no
    false negatives — the property incremental ingestion relies on), and
    any maybe>truth rows are the filter's false positives, reproduced
    exactly by the oracle because the k seeded hashes share the md5 core.

    Scale shape: build is one explode (k cells/row) + one bit_or hash agg
    into ≤ m/32 words; the probe broadcasts those words. Per-text dedup
    happens BEFORE probing so a text is hashed once however many docs
    carry it."""
    from peerdb_spark.functions import sketch as SK

    (docs,) = _t(spark, sf_dir, "documents")
    docs = ensure_parallelism(docs)
    ins = docs.where(F.col("doc_id") % 2 == 0).select("text")
    bloom = SK.bloom_build(ins, "text", k=_BLOOM_K, m_bits=_BLOOM_M)
    texts = docs.groupBy("text").agg(
        F.max(F.when(F.col("doc_id") % 2 == 0, F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("truth")
    )
    probed = SK.bloom_probe(bloom, texts, "text", k=_BLOOM_K, m_bits=_BLOOM_M)
    return (
        docs.select("doc_id", "text")
        .join(texts, "text")
        .join(probed, "text")
        .select("doc_id", "truth", "maybe")
    )


def _bloom_sql() -> str:
    from peerdb_spark.functions.sketch import bloom_pos_sql

    ins_pos = " UNION ALL ".join(
        f"SELECT {bloom_pos_sql('text', i, _BLOOM_M)} AS pos FROM ins"
        for i in range(_BLOOM_K)
    )
    probe_pos = " UNION ALL ".join(
        f"SELECT text, {bloom_pos_sql('text', i, _BLOOM_M)} AS pos FROM texts"
        for i in range(_BLOOM_K)
    )
    return f"""
WITH ins AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
words AS (
  SELECT pos // 32 AS word, bit_or(CAST(1 AS BIGINT) << (pos % 32)) AS bits
  FROM ({ins_pos}) GROUP BY 1
),
texts AS (
  SELECT text,
         CAST(max(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS truth
  FROM documents GROUP BY text
),
hits AS (
  SELECT p.text,
         CAST(min((coalesce(w.bits, 0) >> (p.pos % 32)) & 1) AS BIGINT) AS maybe
  FROM ({probe_pos}) p
  LEFT JOIN words w ON w.word = p.pos // 32
  GROUP BY p.text
)
SELECT d.doc_id, t.truth, h.maybe
FROM documents d JOIN texts t USING (text) JOIN hits h ON h.text = d.text
"""


SQL_BLOOM_MEMBERSHIP = _bloom_sql()


_SPAN_W = 12


def q_dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicated-span coverage (functions/corpus.py:
    dup_span_coverage — Lee et al. 2022): overlapping 12-token rolling
    windows hashed corpus-wide; covered_tokens = interval-union length of
    flagged spans per doc, i.e. exactly how many tokens an exact-substring
    deduper would cut. Distinct from the non-overlapping passage dedup —
    the rolling window catches duplication at any alignment."""
    from peerdb_spark.functions.corpus import dup_span_coverage

    (docs,) = _t(spark, sf_dir, "documents")
    return dup_span_coverage(
        ensure_parallelism(docs), window=_SPAN_W, min_count=2
    )


def _dup_span_sql() -> str:
    from peerdb_spark.functions.hashing import h64_sql

    w = _SPAN_W
    h = h64_sql(f"array_to_string(t[p+1:p+{w}], ' ')")
    return f"""
WITH tk AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
              ELSE string_split_regex(trim(text), '\\s+') END AS t
  FROM documents
),
base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens, t FROM tk),
wins AS (
  SELECT doc_id, p, {h} AS h
  FROM (SELECT doc_id, t, unnest(range(0, len(t) - {w} + 1)) AS p
        FROM base WHERE n_tokens >= {w})
),
dups AS (SELECT h FROM wins GROUP BY h HAVING count(*) >= 2),
cover AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS dup_windows,
         CAST(sum(least(coalesce(np - p, {w}), {w})) AS BIGINT) AS covered_tokens
  FROM (
    SELECT doc_id, p, lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS np
    FROM wins JOIN dups USING (h)
  ) GROUP BY doc_id
)
SELECT b.doc_id, b.n_tokens,
       coalesce(c.dup_windows, 0) AS dup_windows,
       coalesce(c.covered_tokens, 0) AS covered_tokens
FROM base b LEFT JOIN cover c USING (doc_id)
"""


SQL_DUP_SPAN_COVERAGE = _dup_span_sql()


_HQ_BP = [100, 2500, 5000, 7500, 9900]


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram quantile estimation (functions/stats.py:histogram_quantiles)
    — the at-scale companion to the exact windowed-rank length_quantiles: a
    1-row stats agg + a 256-cell mergeable histogram agg, NO sort anywhere;
    all-integer bin math so the bracket [est_lo, est_hi] (guaranteed to
    contain the exact quantile) is bit-identical across engines."""
    from peerdb_spark.functions.stats import histogram_quantiles

    (docs,) = _t(spark, sf_dir, "documents")
    return histogram_quantiles(docs, "n_chars", _HQ_BP, nbins=256)


def _hist_q_sql() -> str:
    from peerdb_spark.functions.stats import histogram_quantiles_sql

    return histogram_quantiles_sql("documents", "n_chars", _HQ_BP, nbins=256)


SQL_HIST_QUANTILES = _hist_q_sql()


# ---------------------------------------------------------------------------
# LLM-pipeline: document fingerprint dedup groups
# ---------------------------------------------------------------------------


def q_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-fingerprint near-dup groups: documents sharing the rolling-
    hash (Rabin-Karp min-over-char-8-grams) fingerprint from functions.text —
    the winnowing family's cheapest variant as a standalone dedup signal.
    One narrow (fingerprint) shuffle of per-doc longs; text never moves."""
    from peerdb_spark.functions import ensure_parallelism

    (docs,) = _t(spark, sf_dir, "documents")
    fp = TX.fingerprint_df(
        ensure_parallelism(docs.select("doc_id", "text")), "text"
    ).select("doc_id", "fingerprint")
    # lazy-checkpoint barrier (r13, same class as ivf_topk): the isNotNull
    # filter below is alias-substituted under this projection, evaluating
    # the rolling-hash min-over-8-grams twice per doc (plans/r12:
    # array_min(transform( x2). 16 B/row snapshot; A/B 1.03 -> 0.96 s.
    fp = fp.localCheckpoint(eager=False)
    return (
        fp.where(F.col("fingerprint").isNotNull())
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


SQL_FINGERPRINT_DUPS = f"""
WITH docs_c AS (
  SELECT doc_id, text, list_transform(range(1, len(text) + 1),
                           p -> CAST(ascii(substr(text, p, 1)) AS BIGINT)) AS codes
  FROM documents
), fp AS (
  SELECT doc_id,
         CASE WHEN len(text) < 8 THEN NULL ELSE
           list_min(list_transform(range(1, len(text) - 8 + 2),
                                   i -> ({_FP_TERMS}) % {TX.FP_P}))
         END AS fingerprint
  FROM docs_c
)
SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM fp WHERE fingerprint IS NOT NULL
GROUP BY fingerprint HAVING count(*) > 1
"""


# ---------------------------------------------------------------------------
# LLM-pipeline: sequence packing + stratified sampling
# ---------------------------------------------------------------------------


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing plan (functions/sampling.py:pack_plan): documents
    concatenated per deterministic shard and chunked every 512 tokens —
    per-pack summary. The prefix sum runs per shard (the window PARTITION
    key), never globally, so packing parallelizes like production
    multi-worker data loaders."""
    from peerdb_spark.functions import sampling as S

    (docs,) = _t(spark, sf_dir, "documents")
    packed = S.pack_plan(docs, "text", "doc_id", window=512, n_shards=8)
    return packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


SQL_PACK_SEQUENCES = f"""
WITH tok AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         CAST({_tokens_sql("text")} AS BIGINT) AS n_tokens
  FROM documents
),
cum AS (
  SELECT shard, doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM tok
)
SELECT shard, CAST(cum_before // 512 AS BIGINT) AS pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM cum GROUP BY 1, 2
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sample (training-mix construction):
    the 25 docs per language with the smallest seeded 60-bit hash win —
    reproducible on any engine/cluster layout, no RNG state."""
    from peerdb_spark.functions import sampling as S

    (docs,) = _t(spark, sf_dir, "documents")
    return S.stratified_sample(
        docs.select("doc_id", "lang", "n_chars"), "lang", "doc_id", quota=25
    )


SQL_STRATIFIED_SAMPLE = f"""
WITH r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {h64_sql("concat('samp:', CAST(doc_id AS VARCHAR))")}, doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, lang, n_chars FROM r WHERE rk <= 25
"""


# ---------------------------------------------------------------------------
# LLM-pipeline: corpus operators (decontamination / quality / chunking / BM25
# / semantic dedup) — functions/corpus.py, functions/similarity.py
# ---------------------------------------------------------------------------

_DECON_N, _DECON_MIN = 3, 2


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (corpus.py:decontaminate): flag training
    documents sharing >= 2 distinct word 3-grams with the benchmark split
    (doc_id % 97 == 0 plays the eval suite). The benchmark n-gram set is
    broadcast, so the corpus side never shuffles — only matched pairs reach
    the count aggregate."""
    from peerdb_spark.functions import corpus as CP

    from peerdb_spark.functions import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return CP.decontaminate(
        train, bench, "text", "doc_id", n=_DECON_N, min_shared=_DECON_MIN
    )


_NGRAM3_SQL = """
SELECT DISTINCT doc_id,
       {h} AS gram_hash
FROM (SELECT doc_id,
             CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(text), '\\s+') END AS t
      FROM documents) toks,
     UNNEST(range(1, len(t) - 1)) AS u(j)
""".format(h=h64_sql("array_to_string(t[j:j+2], ' ')"))


SQL_DECONTAMINATE = f"""
WITH ngr AS ({_NGRAM3_SQL}),
bench AS (SELECT doc_id AS bench_id, gram_hash FROM ngr WHERE doc_id % 97 = 0),
train AS (SELECT doc_id, gram_hash FROM ngr WHERE doc_id % 97 != 0)
SELECT t.doc_id, b.bench_id, count(*) AS shared_ngrams
FROM train t JOIN bench b USING (gram_hash)
GROUP BY t.doc_id, b.bench_id
HAVING count(*) >= {_DECON_MIN}
"""


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText repetition rules (corpus.py:gopher_quality):
    doc-length bound, duplicate-word fraction, most-common-bigram fraction,
    composite keep flag. Pure per-row array expressions — the mode
    multiplicity is the longest run of the sorted bigram array, so the whole
    pass is shuffle-free codegen."""
    from peerdb_spark.functions import corpus as CP
    from peerdb_spark.functions import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    return CP.gopher_quality(docs, "text", "doc_id")


SQL_GOPHER_QUALITY = """
WITH toks AS (SELECT doc_id, {toks} AS t FROM documents),
bg AS (
  SELECT doc_id, t,
         list_sort(list_transform(range(1, len(t)), j -> array_to_string(t[j:j+1], ' '))) AS b
  FROM toks
),
runs AS (
  SELECT doc_id, t, b,
         list_concat(
           list_filter(range(1, len(b) + 1), i -> i = 1 OR b[i] != b[i-1]),
           [len(b) + 1]) AS bounds
  FROM bg
),
m AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE (len(t) - len(list_distinct(t))) / len(t) END AS dup_word_frac,
         CASE WHEN len(b) = 0 THEN 0.0
              ELSE list_aggregate(
                     list_transform(range(1, len(bounds)), k -> bounds[k+1] - bounds[k]),
                     'max') / len(b) END AS top_bigram_frac
  FROM runs
)
SELECT doc_id, n_tokens, dup_word_frac, top_bigram_frac,
       CAST(CASE WHEN n_tokens >= 25 AND dup_word_frac <= 0.6
                  AND top_bigram_frac <= 0.09 THEN 1 ELSE 0 END AS INT) AS keep
FROM m
""".format(toks=_TOKS_SQL)


_CHUNK, _STRIDE = 40, 30


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window training-sample chunking (corpus.py:chunk_documents):
    40-token windows, stride 30 (10-token overlap); chunks transported as
    (token count, content hash) scalars. Per-row posexplode — narrow."""
    from peerdb_spark.functions import corpus as CP

    (docs,) = _t(spark, sf_dir, "documents")
    return CP.chunk_documents(
        docs, "text", "doc_id", chunk_size=_CHUNK, stride=_STRIDE
    )


SQL_DOC_CHUNKS = f"""
WITH toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
n AS (
  SELECT doc_id, t,
         1 + CAST(floor((greatest(len(t) - {_CHUNK}, 0) + {_STRIDE - 1}) / {_STRIDE}.0) AS BIGINT) AS nch
  FROM toks
)
SELECT doc_id, CAST(u.j AS INT) AS chunk_idx,
       len(t[u.j * {_STRIDE} + 1 : u.j * {_STRIDE} + {_CHUNK}]) AS chunk_tokens,
       {h64_sql(f"array_to_string(t[u.j * {_STRIDE} + 1 : u.j * {_STRIDE} + {_CHUNK}], ' ')")} AS chunk_hash
FROM n, UNNEST(range(0, nch)) AS u(j)
"""


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for a fixed keyword set (corpus.py:bm25_topk). Uses the
    pre-log Robertson idf so every arithmetic step is an exactly-rounded
    IEEE op both engines compute bit-identically (ln is libm-dependent)."""
    from peerdb_spark.functions import corpus as CP
    from peerdb_spark.functions import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    return CP.bm25_topk(docs, _BM25_TERMS, "text", "doc_id", k=10)


SQL_BM25_TOPK = _bm25_sql()


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix construction (sampling.py:mixture_sample): every source
    domain keeps an independent deterministic fraction of its documents via
    a hash threshold (rates 0/25/50/75/100% by source index — the 0% and
    100% edges are exercised). Monotone in the rate (raising a rate only
    adds docs) and shuffle-free; aggregated per source for a bounded
    output."""
    from peerdb_spark.functions import sampling as S

    (docs,) = _t(spark, sf_dir, "documents")
    rates = {f"src{i}": (i % 5) * 0.25 for i in range(40)}
    kept = S.mixture_sample(docs, rates, "source", "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )


SQL_MIXTURE_SAMPLE = f"""
WITH k AS (
  SELECT source, doc_id, n_chars,
         (CAST(substr(source, 4) AS INT) % 5) * 2500 AS rate_bp,
         {h64_sql("concat('mix:', CAST(doc_id AS VARCHAR))")} % 10000 AS ticket
  FROM documents
)
SELECT source, count(*) AS n_kept, CAST(sum(n_chars) AS BIGINT) AS chars_kept
FROM k WHERE ticket < rate_bp
GROUP BY source
"""


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted training mix (sampling.py:token_budget_sample): each
    source keeps hash-ordered documents until its TOKEN budget is crossed
    (budgets cut between docs; the crossing doc is the last kept). Budgets
    (i%4+1)·500 tokens by source index; unbudgeted sources drop. Aggregated
    per source; the oracle replicates the hash-ordered cumulative sum."""
    from peerdb_spark.functions import sampling as S

    (docs,) = _t(spark, sf_dir, "documents")
    budgets = {f"src{i}": (i % 4 + 1) * 500 for i in range(40)}
    kept = S.token_budget_sample(docs, budgets, "source", "doc_id")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tokens").alias("tokens_kept"),
    )


SQL_TOKEN_BUDGET_SAMPLE = f"""
WITH d AS (
  SELECT source, doc_id, CAST({_tokens_sql("text")} AS BIGINT) AS n_tokens,
         (CAST(substr(source, 4) AS INT) % 4 + 1) * 500 AS budget,
         {h64_sql("concat('budget:', CAST(doc_id AS VARCHAR))")} AS ord
  FROM documents
),
c AS (
  SELECT source, doc_id, n_tokens, budget,
         COALESCE(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY ord, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT source, count(*) AS n_kept, CAST(sum(n_tokens) AS BIGINT) AS tokens_kept
FROM c WHERE cum_before < budget
GROUP BY source
"""


def q_length_batch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batching (sampling.py:length_batch_plan):
    per-shard length sort into fixed-size batches so each batch pads to its
    own max (dynamic padding). Output certifies batch membership AND the
    padding economics (sum of pad_waste per batch) cross-engine."""
    from peerdb_spark.functions import sampling as S

    (docs,) = _t(spark, sf_dir, "documents")
    plan = S.length_batch_plan(docs, batch_size=16, n_shards=8)
    return plan.groupBy("shard", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("batch_max_tokens").alias("batch_max_tokens"),
        F.sum("pad_waste").alias("total_pad_waste"),
        F.min("doc_id").alias("min_doc"),
    )


SQL_LENGTH_BATCH_PLAN = f"""
WITH d AS (
  SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
         CAST({_tokens_sql("text")} AS BIGINT) AS n_tokens
  FROM documents
),
r AS (
  SELECT *, CAST((row_number() OVER (PARTITION BY shard ORDER BY n_tokens, doc_id) - 1) // 16 AS BIGINT) AS batch_id
  FROM d
),
b AS (
  SELECT *, max(n_tokens) OVER (PARTITION BY shard, batch_id) AS bmax FROM r
)
SELECT shard, batch_id, count(*) AS n_docs,
       CAST(max(bmax) AS BIGINT) AS batch_max_tokens,
       CAST(sum(bmax - n_tokens) AS BIGINT) AS total_pad_waste,
       min(doc_id) AS min_doc
FROM b GROUP BY 1, 2
"""


def q_repetition_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition removal (corpus.py:scrub_repeated_chunks —
    the C4 duplicate-passage rule on 20-token pseudo-paragraphs): repeated
    chunks inside one document are dropped, survivors re-join in order.
    Every 11th document is REWRITTEN as its own first 20-token chunk
    repeated 3× (aligned planting), so the scrub provably removes passages
    (n_kept < n_chunks) and the cleaned text round-trips through the h64
    content hash on both engines."""
    from peerdb_spark.functions import corpus as CP

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    toks = TX.tokens(F.col("text"))
    unit = F.concat_ws(" ", F.slice(toks, 1, 20))
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat_ws(" ", unit, unit, unit)
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = CP.scrub_repeated_chunks(planted, "text", "doc_id", chunk_tokens=20)
    return out.select(
        "doc_id",
        "n_chunks",
        "n_kept",
        F.length("clean_text").cast("long").alias("clean_len"),
        h64(F.col("clean_text")).alias("clean_hash"),
    )


SQL_REPETITION_SCRUB = f"""
WITH t0 AS (
  SELECT doc_id, {_TOKS_SQL} AS t FROM documents
),
p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0
              THEN flatten([t[1:20], t[1:20], t[1:20]])
              ELSE t END AS t2
  FROM t0
),
ch AS (
  SELECT doc_id,
         list_transform(range(0, CAST(ceil(len(t2) / 20.0) AS INT)),
                        i -> array_to_string(t2[i*20+1 : i*20+20], ' ')) AS chunks
  FROM p
),
k AS (
  SELECT doc_id, chunks,
         list_filter(chunks, (c, i) -> list_position(chunks, c) = i) AS kept
  FROM ch
)
SELECT doc_id,
       CAST(len(chunks) AS INT) AS n_chunks,
       CAST(len(kept) AS INT) AS n_kept,
       CAST(len(array_to_string(kept, ' ')) AS BIGINT) AS clean_len,
       {h64_sql("array_to_string(kept, ' ')")} AS clean_hash
FROM k
"""


def q_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage dedup (corpus.py:cross_doc_passage_dedup — the
    CCNet/RefinedWeb boilerplate rule over 10-word windows): every 5th doc
    is planted with a shared 10-word boilerplate prefix, which must survive
    only in its lowest-id occurrence; rebuilt text is value-verified. The
    Spark side shuffles only (id, pidx, hash) longs and re-slices the
    original token arrays for the rebuild; the oracle restates the full
    slice/hash/keeper arithmetic."""
    from peerdb_spark.functions.corpus import cross_doc_passage_dedup

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("terms of service apply to all content shown here today "), F.col("text")),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = cross_doc_passage_dedup(planted, "text", "doc_id", window_words=10, min_docs=2)
    return out.select(
        "doc_id", "kept_text",
        F.col("n_passages").cast("long").alias("n_passages"),
        F.col("n_dropped").cast("long").alias("n_dropped"),
    )


def _passage_dedup_sql(w: int = 10, min_docs: int = 2) -> str:
    ptext = f"array_to_string(list_slice(t, u.i*{w} + 1, u.i*{w} + {w}), ' ')"
    h = h64_sql(ptext)
    return f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN 'terms of service apply to all content shown here today ' || text ELSE text END AS text
  FROM documents
),
tk AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM base WHERE len(trim(text)) > 0
),
p AS (
  SELECT doc_id, u.i AS pidx, {h} AS h
  FROM tk, unnest(range(0, CAST(ceil(len(t) / {w}.0) AS BIGINT))) u(i)
),
s AS (SELECT h, count(DISTINCT doc_id) AS nd, min(doc_id) AS keeper FROM p GROUP BY h),
f AS (
  SELECT p.doc_id, p.pidx, (s.nd >= {min_docs} AND p.doc_id <> s.keeper) AS dropd
  FROM p JOIN s USING (h)
),
k AS (
  SELECT doc_id, count(*) AS n_passages,
         CAST(sum(CASE WHEN dropd THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
  FROM f GROUP BY doc_id
),
r AS (
  SELECT f.doc_id,
         string_agg(array_to_string(list_slice(tk.t, f.pidx*{w} + 1, f.pidx*{w} + {w}), ' '),
                    ' ' ORDER BY f.pidx) AS kept_text
  FROM f JOIN tk USING (doc_id) WHERE NOT dropd GROUP BY f.doc_id
)
SELECT k.doc_id, COALESCE(r.kept_text, '') AS kept_text,
       CAST(k.n_passages AS BIGINT) AS n_passages, k.n_dropped
FROM k LEFT JOIN r USING (doc_id)
"""


SQL_PASSAGE_DEDUP = _passage_dedup_sql()


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (corpus.py:redact_pii): emails and phone numbers are
    replaced by placeholder tags with per-doc removal counts. Every doc is
    planted with one synthetic email and one phone (derived from doc_id),
    so both pattern families fire on every row; the redacted text is
    value-verified via h64 — i.e. the exact regexp replacement semantics
    match across Java regex (Spark) and RE2 (DuckDB) for these patterns."""
    from peerdb_spark.functions import corpus as CP

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    out = CP.redact_pii(planted, "text", "doc_id")
    return out.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.length("clean_text").cast("long").alias("clean_len"),
        h64(F.col("clean_text")).alias("clean_hash"),
    )


def _pii_sql() -> str:
    from peerdb_spark.functions.corpus import EMAIL_RE, PHONE_RE

    return f"""
WITH p AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
),
r AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
         regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                        '{PHONE_RE}', '<PHONE>', 'g') AS clean
  FROM p
)
SELECT doc_id, CAST(n_emails AS INT) AS n_emails, CAST(n_phones AS INT) AS n_phones,
       CAST(len(clean) AS BIGINT) AS clean_len,
       {h64_sql("clean")} AS clean_hash
FROM r
"""


SQL_PII_REDACT = _pii_sql()


def q_corpus_incremental_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INGESTION-TIME corpus cleaning (corpus.py:incremental_clean): a
    re-crawl batch (every doc again, with genuinely new content for every
    7th) cleaned against the maintained content-hash state of the accepted
    corpus — per-row features and dedup run over the NEW batch only, the
    old corpus is represented by 8-byte hashes and never re-featurized.
    Equivalence to the one-shot pipeline on the union is pinned by
    test_corpus.py; this gate row value-verifies the accepted batch."""
    from peerdb_spark.functions import corpus as CP

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0]).localCheckpoint()
    b2 = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit(" fresh crawl extra words here")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    state = docs.select(DD.content_hash("text").alias("content_hash"))
    accepted, _ = CP.incremental_clean(state, b2)
    return accepted.select("doc_id", "lang_pred", "quality", "n_tokens")


SQL_CORPUS_INCREMENTAL_CLEAN = f"""
WITH b2 AS (
  SELECT doc_id + 1000000 AS doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' fresh crawl extra words here'
              ELSE text END AS text
  FROM documents
),
state AS (SELECT {h64_sql("trim(text)")} AS h FROM documents),
per AS (
  SELECT doc_id, {h64_sql("trim(text)")} AS h,
         {_lang_id_sql("text")} AS lang_pred,
         CAST({_quality_sql("text")} AS DOUBLE) AS quality,
         CAST({_tokens_sql("text")} AS BIGINT) AS n_tokens
  FROM b2
),
keeper AS (
  SELECT * FROM (
    SELECT *, min(doc_id) OVER (PARTITION BY h) AS m FROM per
  ) WHERE doc_id = m
)
SELECT doc_id, lang_pred, quality, CAST(n_tokens AS BIGINT) AS n_tokens
FROM keeper
WHERE h NOT IN (SELECT h FROM state)
  AND quality >= 0.8 AND n_tokens >= 20
"""


def q_corpus_clean_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END cleaning pipeline — every stage a real production
    filter, chained: exact-dedup keep list → quality/length floors →
    Gopher repetition rules → benchmark decontamination (eval docs AND
    anything sharing >= 2 word-3-grams with them are removed, copies
    included via base-id normalization).

    Plan shape at 100 TB: one scan feeds all per-row features (codegen), the
    keep list is a narrow hash agg, the contaminated-id set is tiny (eval
    overlap) and broadcast for the anti-join — the text column itself never
    shuffles anywhere in the pipeline."""
    from peerdb_spark.functions import corpus as CP
    from peerdb_spark.functions import ensure_parallelism

    # Materialize the fanned-out base once: every downstream reference (crawl
    # halves, bench, train) reads real partitions instead of replaying the
    # scan+repartition — without this, AQE's local shuffle read collapses the
    # broadcast-side builds to ONE task and serializes ~4s of text compute.
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0]).localCheckpoint()
    c = F.col("text")
    # ONE per-row feature pass over the 'documents' base. The crawl doubles
    # every doc under a shifted id with IDENTICAL text, so per-row features
    # (hash, language, quality, token/gopher stats) are computed on the base
    # and the duplicate half unions the *feature rows*, not the text —
    # halving all per-row CPU vs computing over the doubled corpus.
    per = CP.gopher_quality(
        docs,
        "text",
        "doc_id",
        extra={
            "content_hash": DD.content_hash("text"),
            "lang_pred": TX.lang_id(c),
            "quality": TX.quality_score(c).cast("double"),
        },
    )
    crawlf = per.unionAll(
        per.withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    bench = docs.where(F.col("doc_id") % 97 == 0)
    contam = (
        CP.decontaminate(
            docs.where(F.col("doc_id") % 97 != 0), bench, n=3, min_shared=2
        )
        .select("doc_id")
        .distinct()
    )
    # eval docs and contaminated docs leave the corpus, copies included
    bad = bench.select("doc_id").unionAll(contam)
    # exact-dedup keep rule as a window (keeper = min id per content hash
    # across the doubled corpus) — one hash exchange, no keep-list join
    w = Window.partitionBy("content_hash")
    out = (
        crawlf.withColumn("_keeper", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("_keeper"))
        .where(
            (F.col("quality") >= 0.8)
            & (F.col("n_tokens") >= 20)
            & (F.col("keep") == 1)
        )
        .withColumn("base_id", F.col("doc_id") % 1_000_000)
        .join(
            F.broadcast(bad.withColumnRenamed("doc_id", "base_id")),
            "base_id",
            "left_anti",
        )
    )
    return out.select(
        "doc_id", "lang_pred", "quality",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "dup_word_frac", "top_bigram_frac",
    )


SQL_CORPUS_CLEAN_FULL = f"""
WITH crawl AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
h AS (SELECT doc_id, {h64_sql("trim(text)")} AS content_hash FROM crawl),
g AS (SELECT content_hash, min(doc_id) AS keeper_id FROM h GROUP BY content_hash),
keep AS (SELECT h.doc_id FROM h JOIN g USING (content_hash) WHERE h.doc_id = g.keeper_id),
toks AS (SELECT doc_id, {_TOKS_SQL} AS t FROM crawl),
bg AS (
  SELECT doc_id, t,
         list_sort(list_transform(range(1, len(t)), j -> array_to_string(t[j:j+1], ' '))) AS b
  FROM toks
),
runs AS (
  SELECT doc_id, t, b,
         list_concat(
           list_filter(range(1, len(b) + 1), i -> i = 1 OR b[i] != b[i-1]),
           [len(b) + 1]) AS bounds
  FROM bg
),
gq AS (
  SELECT doc_id,
         CASE WHEN len(t) = 0 THEN 0.0
              ELSE (len(t) - len(list_distinct(t))) / len(t) END AS dup_word_frac,
         CASE WHEN len(b) = 0 THEN 0.0
              ELSE list_aggregate(
                     list_transform(range(1, len(bounds)), k -> bounds[k+1] - bounds[k]),
                     'max') / len(b) END AS top_bigram_frac,
         len(t) AS gn
  FROM runs
),
gkeep AS (
  SELECT doc_id, dup_word_frac, top_bigram_frac FROM gq
  WHERE gn >= 25 AND dup_word_frac <= 0.6 AND top_bigram_frac <= 0.09
),
ngr AS ({_NGRAM3_SQL}),
benchg AS (SELECT doc_id AS bench_id, gram_hash FROM ngr WHERE doc_id % 97 = 0),
traing AS (SELECT doc_id, gram_hash FROM ngr WHERE doc_id % 97 != 0),
contam AS (
  SELECT DISTINCT doc_id FROM (
    SELECT t.doc_id FROM traing t JOIN benchg b USING (gram_hash)
    GROUP BY t.doc_id, b.bench_id HAVING count(*) >= {_DECON_MIN})
),
bad AS (
  SELECT doc_id FROM documents WHERE doc_id % 97 = 0
  UNION ALL SELECT doc_id FROM contam
),
feat AS (
  SELECT doc_id,
         {_lang_id_sql("text")} AS lang_pred,
         CAST({_quality_sql("text")} AS DOUBLE) AS quality,
         CAST({_tokens_sql("text")} AS BIGINT) AS n_tokens
  FROM crawl
)
SELECT f.doc_id, f.lang_pred, f.quality, f.n_tokens,
       gk.dup_word_frac, gk.top_bigram_frac
FROM feat f
JOIN keep USING (doc_id)
JOIN gkeep gk USING (doc_id)
WHERE f.quality >= 0.8 AND f.n_tokens >= 20
  AND f.doc_id % 1000000 NOT IN (SELECT doc_id FROM bad)
"""


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF top-5 terms — keyword extraction for corpus
    topic inspection. Integer-exact ranking: score = tf * N / df computed as
    one IEEE double division (bit-identical across engines; ln-idf is
    monotone in 1/df at fixed tf so the raw-ratio variant ranks per-term
    identically — documented deliberately, the unigram_surprisal precedent
    for avoiding cross-engine libm). Shape at 100 TB: two hash aggs
    (doc-term, then term) + a broadcast of the 1-row corpus count; the
    doc-frequency join keys on term, never on text."""
    (docs,) = _t(spark, sf_dir, "documents")
    docs = ensure_parallelism(docs)
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            "doc_id", F.col("rank").cast("int").alias("rank"), "token", "tf", "df",
            "score",
        )
    )


SQL_TFIDF_TOPK = """
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE len(trim(text)) > 0
),
tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2
),
dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT doc_id, CAST(rank AS INT) AS rank, token, tf, df, score FROM (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df AS score,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / dfreq.df DESC,
                                     tf.token) AS rank
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
) WHERE rank <= 5
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier (the fastText-style filter used by
    CCNet/GPT-3-era corpus pipelines, reduced to its Spark-native core):
    each token hashes to a signed weight w = H_7(token) % 1001 - 500, the
    document score is mean(w)/1000 and a threshold yields keep/drop. The
    weight table is IMPLICIT in the hash (no model file needed for the
    plumbing; swapping in trained weights = joining a broadcast weight
    relation on the same hash key). Integer-exact: the weight sum is a
    bigint agg (order-free), one double division at the end. At 100 TB this
    is a single map-side-combinable aggregation — no shuffle of text."""
    (docs,) = _t(spark, sf_dir, "documents")
    docs = ensure_parallelism(docs)
    tok = docs.select("doc_id", F.explode(TX.tokens(F.col("text"))).alias("token"))
    from peerdb_spark.functions.hashing import h64_seeded

    agg = tok.groupBy("doc_id").agg(
        F.sum(h64_seeded(F.col("token"), 7) % 1001 - 500).alias("w_sum"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    score = F.col("w_sum").cast("double") / (F.col("n_tokens").cast("double") * 1000.0)
    return agg.select(
        "doc_id",
        "n_tokens",
        score.alias("score"),
        F.when(score >= 0.0, F.lit("keep")).otherwise(F.lit("drop")).alias("label"),
    )


SQL_QUALITY_CLASSIFIER = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
  FROM documents WHERE len(trim(text)) > 0
),
agg AS (
  SELECT doc_id,
         CAST(sum({h64_sql("concat('7:', token)")} % 1001 - 500) AS BIGINT) AS w_sum,
         CAST(count(*) AS BIGINT) AS n_tokens
  FROM tok GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(w_sum AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000.0) AS score,
       CASE WHEN CAST(w_sum AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1000.0) >= 0.0
            THEN 'keep' ELSE 'drop' END AS label
FROM agg
"""


def q_corpus_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle + shard assignment — the
    training-order randomization step every LLM data pipeline runs before
    writing shards (breaks source/crawl locality so batches are i.i.d.-ish).
    Seeded-hash ordering is reproducible across runs/engines (no RNG) and
    hash sharding balances counts without the sequential greedy pass.
    Scale shape: shard = pmod(hash, n) is per-row codegen; pos_in_shard is
    a window per SHARD (n_shards partitions each ~corpus/n — at 100 TB
    use repartition(shard) + sortWithinPartitions and write directly, one
    file per shard in shuffle order, no global sort ever)."""
    (docs,) = _t(spark, sf_dir, "documents")
    docs = ensure_parallelism(docs)
    h = h64(F.concat(F.lit("shuffle:"), F.col("doc_id")))
    shard = F.pmod(h, F.lit(8)).cast("int")
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        docs.select(F.col("doc_id"), h.alias("h"), shard.alias("shard"),
                    TX.token_count(F.col("text")).cast("long").alias("n_tokens"))
        .withColumn("pos_in_shard", F.row_number().over(w).cast("int"))
        .select("doc_id", "shard", "pos_in_shard", "n_tokens")
    )


SQL_CORPUS_SHUFFLE_SHARDS = f"""
WITH h AS (
  SELECT doc_id,
         {h64_sql("concat('shuffle:', doc_id)")} AS h,
         {_tokens_sql("text")} AS n_tokens
  FROM documents
)
SELECT doc_id, CAST(h % 8 AS INT) AS shard,
       CAST(row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS INT)
         AS pos_in_shard,
       CAST(n_tokens AS BIGINT) AS n_tokens
FROM h
"""
