"""Vector queries: top-k search, ANN indexes, kNN graphs, clustering and projections."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from peerdb_spark.functions import ensure_parallelism
from peerdb_spark.queries._common import _BM25_TERMS, _bm25_sql, _t


# ---------------------------------------------------------------------------
# LLM-pipeline: similarity search (integer-quantized for cross-engine parity)
# ---------------------------------------------------------------------------

_QSCALE = 1000


def _quantize(vec):
    return F.transform(vec, lambda x: F.round(x.cast("double") * _QSCALE).cast("long"))


def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-5 by quantized-int dot product (exact in both engines);
    queries = vec_id < 5. Demonstrates broadcast-NL + window rank pattern."""
    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    c = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))
    q = c.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("qq"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot_q"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "vec_id", "dot_q")
    )


SQL_SIM_TOPK = f"""
WITH qv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
q AS (SELECT vec_id AS query_id, qv AS qq FROM qv WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         CAST(list_sum(list_transform(range(1, len(c.qv) + 1), i -> c.qv[i] * q.qq[i])) AS BIGINT) AS dot_q
  FROM qv c CROSS JOIN q
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dot_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


def _int_srp_sig(qv, bits: int):
    """Integer SRP bucket id over a quantized vector column — exact ±1
    projections, reproducible bit-for-bit in the DuckDB oracle."""
    from peerdb_spark.functions.similarity import srp_hyperplane

    sig = F.lit(0)
    for i in range(bits):
        plane = srp_hyperplane(64, i)
        proj = F.aggregate(
            F.zip_with(qv, F.array(*[F.lit(p) for p in plane]),
                       lambda x, h: x * h.cast("long")),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj >= 0, F.lit(2**i)).otherwise(F.lit(0))
    return sig.cast("int")


def _int_srp_sig_sql(bits: int, var: str = "qv") -> str:
    from peerdb_spark.functions.similarity import srp_hyperplane

    terms = []
    for i in range(bits):
        plane = srp_hyperplane(64, i)
        arr = "[" + ", ".join(str(p) for p in plane) + "]"
        proj = f"list_sum(list_transform(range(1, 65), j -> {var}[j] * ({arr})[j]))"
        terms.append(f"CASE WHEN {proj} >= 0 THEN {2**i} ELSE 0 END")
    return f"CAST({' + '.join(terms)} AS INT)"


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k, the scale path: SRP bucket equi-join (4-bit buckets) then
    exact re-rank by quantized-int dot product within the probed bucket only.
    Unlike sim_topk's broadcast-NL baseline, cost is shuffle ∝ corpus +
    probe ∝ bucket occupancy — never |corpus|·|queries|."""
    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    c = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))
    c = c.select("vec_id", "qv", _int_srp_sig(F.col("qv"), 4).alias("bkt"))
    q = c.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("qv").alias("qq"), "bkt"
    )
    scored = c.join(F.broadcast(q), "bkt").select(
        "query_id",
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("qq"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot_q"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "vec_id", "dot_q")
    )


SQL_ANN_LSH_TOPK = f"""
WITH qvs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
sigged AS (SELECT vec_id, qv, {_int_srp_sig_sql(4)} AS bkt FROM qvs),
q AS (SELECT vec_id AS query_id, qv AS qq, bkt FROM sigged WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         CAST(list_sum(list_transform(range(1, 65), j -> c.qv[j] * q.qq[j])) AS BIGINT) AS dot_q
  FROM sigged c JOIN q ON c.bkt = q.bkt
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dot_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


_IVF_K, _IVF_NPROBE, _IVF_DIM = 8, 2, 64


def _ivf_codebook_int(k: int = _IVF_K, dim: int = _IVF_DIM) -> list[list[int]]:
    """Deterministic integer codebook on the quantized-vector scale
    (driver-side constants shared verbatim with the oracle SQL). The
    kmeans-trained float path is ivf_train_centroids (similarity.py),
    exercised by the recall-sweep test; this fixed codebook lets the
    CORRECTNESS gate certify the assign/probe/re-rank machinery exactly."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"ivf:{i}:{j}".encode()).hexdigest()[:15], 16) % 2001 - 1000
            for j in range(dim)
        ]
        for i in range(k)
    ]


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k (ref pattern: similarity.py:ivf_topk): assign corpus
    vectors to their nearest codebook cell, probe the nprobe nearest cells
    per query, exact integer-dot re-rank within probed cells only. The join
    is a cell equi-join — per-query cost ∝ nprobe/k of the corpus."""
    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    cents = _ivf_codebook_int()
    c = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))

    def dists(qv):
        return F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(qv, F.array(*[F.lit(x) for x in cent]),
                                   lambda a, b: (a - b.cast("long")) * (a - b.cast("long"))),
                        F.lit(0).cast("long"), lambda acc, x: acc + x,
                    ).alias("d"),
                    F.lit(i).alias("cell"),
                )
                for i, cent in enumerate(cents)
            ]
        )

    sorted_cells = F.array_sort(dists(F.col("qv")))
    corpus = c.select(
        "vec_id", "qv", F.element_at(sorted_cells, 1)["cell"].alias("cell")
    # lazy-checkpoint BARRIER (r13): the cell equi-join infers
    # isnotnull(cell) and alias-substitution pushes it below this
    # projection, re-evaluating the full 8-centroid distance array PER
    # CORPUS ROW a second time (plans/r12: 25 aggregate(zip_with
    # occurrences; the Filter condition alone was 6.7 KB). The barrier
    # materializes the assignment once — the same corpus-sized in-memory
    # posture as pq's sv snapshot; at 100 TB the IVF assignment is
    # precomputed/stored state anyway. A/B interleaved: 2.70 -> 1.28 s
    # min, results identical.
    ).localCheckpoint(eager=False)
    q = c.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("qv").alias("qq"),
        F.explode(
            F.transform(F.slice(sorted_cells, 1, _IVF_NPROBE), lambda s: s["cell"])
        ).alias("cell"),
    )
    scored = corpus.join(F.broadcast(q), "cell").select(
        "query_id",
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("qv"), F.col("qq"), lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot_q"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot_q"), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "vec_id", "dot_q")
    )


def _ivf_sql() -> str:
    cents = _ivf_codebook_int()
    dist_structs = ", ".join(
        "struct_pack(d := list_sum(list_transform(range(1, 65), "
        f"j -> (qv[j] - ([{', '.join(str(x) for x in c)}])[j]) "
        f"* (qv[j] - ([{', '.join(str(x) for x in c)}])[j]))), cell := {i})"
        for i, c in enumerate(cents)
    )
    return f"""
WITH qvs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
celled AS (
  SELECT vec_id, qv, list_sort([{dist_structs}]) AS cells FROM qvs
),
corpus AS (SELECT vec_id, qv, cells[1].cell AS cell FROM celled),
q AS (
  SELECT vec_id AS query_id, qv AS qq, unnest(list_transform(cells[1:{_IVF_NPROBE}], s -> s.cell)) AS cell
  FROM celled WHERE vec_id < 5
),
scored AS (
  SELECT q.query_id, c.vec_id,
         CAST(list_sum(list_transform(range(1, 65), j -> c.qv[j] * q.qq[j])) AS BIGINT) AS dot_q
  FROM corpus c JOIN q ON c.cell = q.cell
)
SELECT query_id, CAST(rank AS INT) AS rank, vec_id, dot_q FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot_q DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


SQL_IVF_TOPK = _ivf_sql()


def q_ann_srp_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP/LSH bucket assignment on quantized vectors (sign of exact int
    projections — deterministic across engines). The ANN scale path's
    partitioning key."""
    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    from peerdb_spark.functions.similarity import srp_hyperplane

    c = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))
    sig = F.lit(0)
    for i in range(8):
        plane = srp_hyperplane(64, i)
        proj = F.aggregate(
            F.zip_with(
                F.col("qv"),
                F.array(*[F.lit(p) for p in plane]),
                lambda x, h: x * h.cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj >= 0, F.lit(2**i)).otherwise(F.lit(0))
    buckets = c.select("vec_id", sig.cast("int").alias("bucket"))
    return buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id")
    )


def _srp_buckets_sql() -> str:
    from peerdb_spark.functions.similarity import srp_hyperplane

    terms = []
    for i in range(8):
        plane = srp_hyperplane(64, i)
        arr = "[" + ", ".join(str(p) for p in plane) + "]"
        proj = f"list_sum(list_transform(range(1, 65), j -> qv[j] * ({arr})[j]))"
        terms.append(f"CASE WHEN {proj} >= 0 THEN {2**i} ELSE 0 END")
    sig = " + ".join(terms)
    return f"""
WITH qvs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
)
SELECT CAST({sig} AS INT) AS bucket, count(*) AS n_vecs, min(vec_id) AS min_vec_id
FROM qvs GROUP BY 1
"""


SQL_ANN_SRP_BUCKETS = _srp_buckets_sql()


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph (similarity.py:knn_graph): every vector ranks its
    same-SRP-bucket neighbours by exact integer dot product, edges survive
    only when BOTH endpoints rank each other top-3 (the hub-killing mutual
    filter of graph-based dedup/clustering). Never all-pairs: candidates
    are bucket-bounded, the mutual join is k-bounded."""
    from peerdb_spark.functions.similarity import knn_graph

    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    c = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))
    return knn_graph(c, "vec_id", "qv", dim=64, bits=8, k=3)


def _knn_graph_sql(k: int = 3) -> str:
    from peerdb_spark.functions.similarity import srp_hyperplane

    terms = []
    for i in range(8):
        plane = srp_hyperplane(64, i)
        arr = "[" + ", ".join(str(p) for p in plane) + "]"
        proj = f"list_sum(list_transform(range(1, 65), j -> qv[j] * ({arr})[j]))"
        terms.append(f"CASE WHEN {proj} >= 0 THEN {2**i} ELSE 0 END")
    sig = " + ".join(terms)
    return f"""
WITH qvs AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
c AS (SELECT vec_id, qv, CAST({sig} AS INT) AS bkt FROM qvs),
scored AS (
  SELECT a.vec_id AS ida, b.vec_id AS idb,
         CAST(list_sum(list_transform(range(1, 65), j -> a.qv[j] * b.qv[j])) AS BIGINT) AS score
  FROM c a JOIN c b ON a.bkt = b.bkt AND a.vec_id != b.vec_id
),
topk AS (
  SELECT ida, idb, score,
         row_number() OVER (PARTITION BY ida ORDER BY score DESC, idb) AS rk
  FROM scored QUALIFY rk <= {k}
)
SELECT t.ida AS id_a, t.idb AS id_b, t.score
FROM topk t JOIN topk r ON t.ida = r.idb AND t.idb = r.ida
WHERE t.ida < t.idb
"""


SQL_KNN_GRAPH = _knn_graph_sql()


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (functions/graph.py) over the mutual-kNN
    similarity graph — graph centrality for corpus curation (canonical-page
    surfacing, spam down-weighting). 3 integer rounds, each one equi-join +
    one hash agg; the oracle embeds the knn-graph SQL as the edge relation
    and unrolls the same rounds (fourth independently-certified iterative
    algorithm after BPE, k-means, PCA)."""
    from peerdb_spark.functions.graph import pagerank
    from peerdb_spark.functions.similarity import knn_graph

    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    c = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))
    knn = knn_graph(c, "vec_id", "qv", dim=64, bits=8, k=3)
    edges = knn.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(knn.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    return pagerank(edges, iters=3)


def _pagerank_sql() -> str:
    from peerdb_spark.functions.graph import pagerank_sql

    edges = (
        f"(WITH knn AS ({SQL_KNN_GRAPH}) "
        "SELECT id_a AS src, id_b AS dst FROM knn "
        "UNION ALL SELECT id_b AS src, id_a AS dst FROM knn)"
    )
    return pagerank_sql(edges, iters=3)


SQL_GRAPH_PAGERANK = _pagerank_sql()


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard negatives (similarity.py:
    hard_negative_mining): for each anchor, the 3 most similar same-SRP-
    bucket vectors with a DIFFERENT label (close in embedding space, wrong
    class — the pairs contrastive losses learn the most from). Bucketed
    candidates + integer dot ranking; never all-pairs."""
    from peerdb_spark.functions.similarity import hard_negative_mining

    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    c = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"), "label")
    out = hard_negative_mining(c, "vec_id", "qv", "label", dim=64, bits=8, k=3)
    return out.select(
        "anchor_id", "negative_id", "score", F.col("rank").cast("long").alias("rnk")
    )


def _label_sig_cte() -> str:
    from peerdb_spark.functions.similarity import srp_hyperplane

    terms = []
    for i in range(8):
        plane = srp_hyperplane(64, i)
        arr = "[" + ", ".join(str(p) for p in plane) + "]"
        proj = f"list_sum(list_transform(range(1, 65), j -> qv[j] * ({arr})[j]))"
        terms.append(f"CASE WHEN {proj} >= 0 THEN {2**i} ELSE 0 END")
    sig = " + ".join(terms)
    return f"""
qvs AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
c AS (SELECT vec_id, label, qv, CAST({sig} AS INT) AS bkt FROM qvs)"""


SQL_HARD_NEGATIVES = f"""
WITH {_label_sig_cte()},
scored AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
         CAST(list_sum(list_transform(range(1, 65), j -> a.qv[j] * b.qv[j])) AS BIGINT) AS score
  FROM c a JOIN c b ON a.bkt = b.bkt AND a.vec_id != b.vec_id AND a.label != b.label
)
SELECT anchor_id, negative_id, score, CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id ORDER BY score DESC, negative_id) AS rnk
      FROM scored)
WHERE rnk <= 3
"""


def q_knn_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality probe (similarity.py:knn_label_consistency): per
    label, the fraction of each vector's 5 nearest same-bucket neighbours
    sharing its label — the standard kNN-consistency eval for embedding
    spaces, no model needed. |labels| output rows."""
    from peerdb_spark.functions.similarity import knn_label_consistency

    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    c = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"), "label")
    return knn_label_consistency(c, "vec_id", "qv", "label", dim=64, bits=8, k=5)


SQL_KNN_LABEL_CONSISTENCY = f"""
WITH {_label_sig_cte()},
scored AS (
  SELECT a.vec_id AS ida, a.label AS la, b.vec_id AS idb, b.label AS lb,
         list_sum(list_transform(range(1, 65), j -> a.qv[j] * b.qv[j])) AS s
  FROM c a JOIN c b ON a.bkt = b.bkt AND a.vec_id != b.vec_id
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY ida ORDER BY s DESC, idb) AS rk
    FROM scored
  ) WHERE rk <= 5
),
per_vec AS (
  SELECT ida, la, count(*) AS n, sum(CASE WHEN lb = la THEN 1 ELSE 0 END) AS m
  FROM topk GROUP BY 1, 2
)
SELECT la AS label, count(*) AS n_vecs,
       CAST(sum(n) AS BIGINT) AS n_neighbors,
       CAST(sum(m) AS BIGINT) AS n_matching
FROM per_vec GROUP BY la
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, scale path: SRP-bucket join then
    exact check within buckets. Quantized-integer scoring for oracle parity:
    near-dup iff dot_q^2 >= (0.95)^2 * |a|^2 * |b|^2 (cosine >= 0.95 without
    sqrt — all-integer arithmetic).

    The synthetic corpus has no organic near-dups at this threshold, so the
    declared query PLANTS exact duplicates: integer-doubled copies of the
    first 16 quantized vectors (2·v has cosine exactly 1 with v in integer
    arithmetic — no float rounding on either engine), proving the bucket
    join + exact check find them."""
    from peerdb_spark.functions.similarity import srp_hyperplane

    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    c = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))
    planted = c.where(F.col("vec_id") < 16).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform("qv", lambda x: x * F.lit(2).cast("long")).alias("qv"),
    )
    c = c.unionByName(planted)
    sig = F.lit(0)
    for i in range(8):
        plane = srp_hyperplane(64, i)
        proj = F.aggregate(
            F.zip_with(F.col("qv"), F.array(*[F.lit(p) for p in plane]),
                       lambda x, h: x * h.cast("long")),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        )
        sig = sig + F.when(proj >= 0, F.lit(2**i)).otherwise(F.lit(0))
    norm2 = F.aggregate(
        F.transform(F.col("qv"), lambda x: x * x), F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    c = c.select("vec_id", "qv", sig.cast("int").alias("bkt"), norm2.alias("n2"))
    # lazy-checkpoint barrier (r13, same class as ivf_topk): the bucket
    # self-join infers isnotnull(bkt) on both sides and alias-substitution
    # would re-evaluate the 8-plane SRP signature per row per side
    c = c.localCheckpoint(eager=False)
    a = c.select(F.col("vec_id").alias("id_a"), F.col("qv").alias("va"),
                 F.col("n2").alias("na"), "bkt")
    b = c.select(F.col("vec_id").alias("id_b"), F.col("qv").alias("vb"),
                 F.col("n2").alias("nb"), "bkt")
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0).cast("long"), lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, "bkt")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dot.alias("dot_q"), "na", "nb")
    )
    # cosine >= 0.95  ⟺  dot >= 0 and 400·dot² >= 361·na·nb  (0.95² = 361/400)
    return pairs.where(
        (F.col("dot_q") > 0)
        & (400 * F.col("dot_q") * F.col("dot_q") >= 361 * F.col("na") * F.col("nb"))
    ).select("id_a", "id_b", "dot_q")


def _near_dup_sql() -> str:
    from peerdb_spark.functions.similarity import srp_hyperplane

    terms = []
    for i in range(8):
        plane = srp_hyperplane(64, i)
        arr = "[" + ", ".join(str(p) for p in plane) + "]"
        proj = f"list_sum(list_transform(range(1, 65), j -> qv[j] * ({arr})[j]))"
        terms.append(f"CASE WHEN {proj} >= 0 THEN {2**i} ELSE 0 END")
    sig = " + ".join(terms)
    return f"""
WITH qvs0 AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
qvs AS (
  SELECT * FROM qvs0
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, list_transform(qv, x -> x * 2) AS qv
  FROM qvs0 WHERE vec_id < 16
),
sigged AS (
  SELECT vec_id, qv, CAST({sig} AS INT) AS bkt,
         list_sum(list_transform(qv, x -> x * x)) AS n2
  FROM qvs
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(list_sum(list_transform(range(1, 65), j -> a.qv[j] * b.qv[j])) AS BIGINT) AS dot_q
FROM sigged a JOIN sigged b ON a.bkt = b.bkt AND a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, 65), j -> a.qv[j] * b.qv[j])) > 0
  AND 400 * list_sum(list_transform(range(1, 65), j -> a.qv[j] * b.qv[j]))
          * list_sum(list_transform(range(1, 65), j -> a.qv[j] * b.qv[j]))
      >= 361 * a.n2 * b.n2
"""


SQL_EMBEDDING_NEAR_DUP = _near_dup_sql()


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (round 9): per-subspace fixed-point
    Lloyd codebooks (functions/pq.py — all m subspaces train in the same
    rounds: one broadcast E-step join + ONE (sub, cell, pos) hash
    aggregation per round) encode every embedding as m=4 cell ids. The
    oracle unrolls the SAME rounds as DuckDB CTEs — the fourth iterative
    algorithm certified by an independent single-node unroll (after BPE,
    k-means, PCA)."""
    from peerdb_spark.functions.pq import pq_train_encode

    (emb,) = _t(spark, sf_dir, "embeddings")
    emb = ensure_parallelism(emb.select("vec_id", "embedding"))
    codes, _books = pq_train_encode(emb, dim=64, m=4, k=8, iters=2)
    return codes.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("codes"), lambda x: x.cast("string")), "-"
        ).alias("codes_str"),
    )


def _pq_encode_sql() -> str:
    from peerdb_spark.functions.pq import pq_train_encode_sql

    inner = pq_train_encode_sql("embeddings", dim=64, m=4, k=8, iters=2)
    return (
        "SELECT vec_id, array_to_string(codes, '-') AS codes_str FROM ("
        + inner + ")"
    )


SQL_PQ_ENCODE = _pq_encode_sql()


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (round 9): the first 5 embeddings
    query the PQ-coded corpus — per-query distance tables (m·k integer
    entries, broadcast) + table-lookup sums over exploded codes; the
    corpus side does NO vector math, which is what makes PQ the
    billion-scale ANN representation (pair with IVF cell pruning for
    IVF-PQ). Exact integers end-to-end; the oracle replays train + encode
    + score in one unrolled query."""
    from peerdb_spark.functions.pq import pq_adc_topk, pq_train_encode

    (emb,) = _t(spark, sf_dir, "embeddings")
    emb = ensure_parallelism(emb.select("vec_id", "embedding"))
    codes, books = pq_train_encode(emb, dim=64, m=4, k=8, iters=2)
    q = (
        emb.orderBy("vec_id").limit(5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return pq_adc_topk(codes, q, books, dim=64, m=4, k=5).select(
        "query_id", "vec_id", "dist", F.col("rank").cast("int").alias("rank")
    )


def _pq_adc_sql() -> str:
    from peerdb_spark.functions.pq import pq_adc_topk_sql

    return pq_adc_topk_sql("embeddings", dim=64, m=4, k=8, iters=2,
                           topk=5, n_queries=5)


SQL_PQ_ADC_TOPK = _pq_adc_sql()


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the RAG-curation composition: BM25 retrieves the
    top-20 LEXICAL candidates for a fixed keyword query, then the
    embedding stack re-ranks them SEMANTICALLY against a reference query
    vector (vec_id 0, embeddings align with doc_ids) by quantized-integer
    dot product (exact in both engines, the sim_topk rule). Scale shape:
    the candidate set is k-bounded, so the re-rank stage joins 20 rows
    against the embedding table (broadcast candidates, never a corpus
    shuffle) — lexical recall at corpus scale, vector precision at
    candidate scale."""
    from peerdb_spark.functions import corpus as CP

    docs, emb = _t(spark, sf_dir, "documents", "embeddings")
    docs = ensure_parallelism(docs)
    cands = CP.bm25_topk(docs, _BM25_TERMS, "text", "doc_id", k=20).select(
        "doc_id", F.col("rank").alias("bm25_rank"), F.col("score").alias("bm25_score")
    )
    qv = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))
    qvec = qv.where(F.col("vec_id") == 0).select(F.col("qv").alias("qq"))
    scored = (
        qv.join(F.broadcast(cands), qv.vec_id == cands.doc_id)
        .crossJoin(F.broadcast(qvec))
        .select(
            "doc_id", "bm25_rank", "bm25_score",
            F.aggregate(
                F.zip_with(F.col("qv"), F.col("qq"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dot_q"),
        )
    )
    w = Window.orderBy(F.desc("dot_q"), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 5)
        .select("doc_id", "rank", "bm25_rank", "bm25_score", "dot_q")
    )


def _hybrid_retrieval_sql() -> str:
    bm25 = _bm25_sql(k=20)
    body = bm25[bm25.index("WITH") : bm25.rindex("SELECT doc_id")]
    return f"""
{body.rstrip().rstrip(',')},
cands AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS bm25_rank,
         score AS bm25_score
  FROM scored QUALIFY bm25_rank <= 20
),
qvt AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
qref AS (SELECT qv AS qq FROM qvt WHERE vec_id = 0),
rescored AS (
  SELECT c.doc_id, c.bm25_rank, c.bm25_score,
         CAST(list_sum(list_transform(range(1, len(v.qv) + 1), i -> v.qv[i] * qref.qq[i])) AS BIGINT) AS dot_q
  FROM cands c JOIN qvt v ON v.vec_id = c.doc_id CROSS JOIN qref
)
SELECT doc_id, CAST(row_number() OVER (ORDER BY dot_q DESC, doc_id) AS INT) AS rank,
       bm25_rank, bm25_score, dot_q
FROM rescored QUALIFY rank <= 5
"""


SQL_HYBRID_RETRIEVAL = _hybrid_retrieval_sql()


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (similarity.py:semantic_dedup): cluster
    by max-inner-product cell against the fixed integer codebook, then
    within each cell reject every vector with a cosine >= 0.95 neighbor of
    smaller id (exact integer rule — no floats). Scaled duplicates of the
    first 16 vectors are planted (2·v; cosine exactly 1, same cell because
    inner-product assignment is scale-covariant), proving the reject path
    end-to-end on a corpus with no organic near-dups at this threshold."""
    from peerdb_spark.functions.similarity import semantic_dedup

    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    c = emb.select("vec_id", _quantize(F.col("embedding")).alias("qv"))
    planted = c.where(F.col("vec_id") < 16).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform("qv", lambda x: x * F.lit(2).cast("long")).alias("qv"),
    )
    return semantic_dedup(
        c.unionByName(planted), _ivf_codebook_int(), "qv", "vec_id",
        max_cell_size=_SEMDEDUP_MAX_CELL,
    )


# shared by the declared Spark query and its oracle — the guard must be
# identical on both engines (oracle-symmetry rule, round-3 advice)
_SEMDEDUP_MAX_CELL = 10_000


def _semantic_dedup_sql() -> str:
    cents = _ivf_codebook_int()
    cell_structs = ", ".join(
        "struct_pack(negdot := -list_sum(list_transform(range(1, 65), "
        f"j -> qv[j] * ([{', '.join(str(x) for x in c)}])[j])), cell := {i})"
        for i, c in enumerate(cents)
    )
    return f"""
WITH qvs0 AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_QSCALE}) AS BIGINT)) AS qv
  FROM embeddings
),
qvs AS (
  SELECT * FROM qvs0
  UNION ALL
  SELECT vec_id + 10000000 AS vec_id, list_transform(qv, x -> x * 2) AS qv
  FROM qvs0 WHERE vec_id < 16
),
celled AS (
  SELECT vec_id, qv,
         CAST(list_sort([{cell_structs}])[1].cell AS INT) AS cell,
         list_sum(list_transform(qv, x -> x * x)) AS n2
  FROM qvs
),
sized AS (
  -- max_cell_size guard mirrored from similarity.semantic_dedup: a
  -- degenerate cell is dropped from the pair join on BOTH engines
  SELECT * FROM celled
  QUALIFY count(*) OVER (PARTITION BY cell) <= {_SEMDEDUP_MAX_CELL}
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sized a JOIN sized b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, 65), j -> a.qv[j] * b.qv[j])) > 0
    AND 400 * list_sum(list_transform(range(1, 65), j -> a.qv[j] * b.qv[j]))
            * list_sum(list_transform(range(1, 65), j -> a.qv[j] * b.qv[j]))
        >= 361 * a.n2 * b.n2
),
dup AS (SELECT id_b, min(id_a) AS dup_of FROM pairs GROUP BY id_b)
SELECT c.vec_id, c.cell, d.dup_of,
       CAST(CASE WHEN d.dup_of IS NULL THEN 1 ELSE 0 END AS INT) AS kept
FROM celled c LEFT JOIN dup d ON c.vec_id = d.id_b
"""


SQL_SEMANTIC_DEDUP = _semantic_dedup_sql()


def q_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 symmetric scalar quantization + quantized top-k (similarity.py:
    sq8_*): the corpus embedding column is compressed 4× to int8-range codes
    with one global scale (one partial-agg scan, stats broadcast — never
    collected), then the first 5 vectors query the code table by integer
    code dot product (rank-faithful: symmetric codes scale the true inner
    product by one positive constant). Every code and every score is
    integer/bit-exact in the DuckDB oracle — the full quantize→search path
    is value-verified; test_similarity.py additionally pins ≥50% mean
    top-10 recall vs the exact float ranking."""
    from peerdb_spark.functions.similarity import sq8_encode, sq8_stats, sq8_topk

    emb = ensure_parallelism(_t(spark, sf_dir, "embeddings")[0])
    stats = sq8_stats(emb, "embedding")
    codes = sq8_encode(emb, stats, "embedding", "vec_id")
    q = codes.where(F.col("vec_id") < 5)
    out = sq8_topk(codes, q, k=5)
    return out.select(
        "query_id", "vec_id", "score", F.col("rank").cast("long").alias("rnk")
    )


SQL_SQ8_TOPK = """
WITH stats AS (
  SELECT max(m) AS maxabs
  FROM (SELECT list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS m
        FROM embeddings)
),
codes AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CASE WHEN maxabs = 0 THEN 0
                ELSE least(127, greatest(-127,
                  CAST(round(CAST(x AS DOUBLE) * 127.0 / maxabs) AS BIGINT)))
           END) AS codes
  FROM embeddings, stats
),
q AS (SELECT vec_id AS query_id, codes AS qcodes FROM codes WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id,
         list_sum(list_transform(range(1, 65), j -> c.codes[j] * q.qcodes[j])) AS score
  FROM codes c, q
)
SELECT query_id, vec_id, CAST(score AS BIGINT) AS score, CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
      FROM scored)
WHERE rnk <= 5
"""


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus distributed k-means (functions/cluster.py:kmeans_assign):
    3 fixed-point Lloyd rounds over every embedding, k=8 deterministic seeds.
    The oracle UNROLLS the same rounds in DuckDB SQL — two independent
    implementations of an iterative distributed algorithm certifying each
    other (the bpe_train_merges pattern). Corpus-curation use: topic
    balancing / SemDeDup codebooks over training-data embeddings."""
    from peerdb_spark.functions.cluster import kmeans_assign

    (emb,) = _t(spark, sf_dir, "embeddings")
    # iters+1 jobs consume the quantized corpus -> eager checkpoint upstream
    emb = ensure_parallelism(emb.select("vec_id", "embedding")).localCheckpoint(
        eager=True
    )
    return kmeans_assign(emb, k=8, iters=3)


def _kmeans_sql() -> str:
    from peerdb_spark.functions.cluster import kmeans_assign_sql

    return kmeans_assign_sql("embeddings", k=8, iters=3)


SQL_KMEANS_CLUSTERS = _kmeans_sql()


def q_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA, top component (functions/cluster.py:pca_project):
    exact integer Gram matrix + column sums in ONE doubly-exploded hash agg
    (d² cells, 100-TB-safe bounds in the module docstring), centering and 4
    fixed-point power-iteration rounds driver-side over unbounded ints, then
    a per-row integer projection. The oracle unrolls the SAME rounds as
    HUGEINT CTEs — the third iterative algorithm certified by an independent
    single-node unroll (after BPE training and k-means). Corpus-curation
    use: whitening/decorrelating embeddings before SemDeDup & ANN."""
    from peerdb_spark.functions.cluster import pca_project

    (emb,) = _t(spark, sf_dir, "embeddings")
    # two scans (Gram agg, projection) -> eager checkpoint upstream
    emb = ensure_parallelism(emb.select("vec_id", "embedding")).localCheckpoint(
        eager=True
    )
    return pca_project(emb, dim=64, iters=4)


def _pca_sql() -> str:
    from peerdb_spark.functions.cluster import pca_project_sql

    return pca_project_sql("embeddings", dim=64, iters=4)


SQL_PCA_PROJECTION = _pca_sql()


def q_pca_projection2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TWO principal components (functions/cluster.py:pca_project2):
    pca_projection plus one EXACT integer deflation (Rayleigh-quotient
    scaled through — eigenvectors invariant under matrix scaling, so no
    rational arithmetic) and a second unrolled iteration chain. The 2-D
    embedding-cloud map; the second component costs no extra corpus scan."""
    from peerdb_spark.functions.cluster import pca_project2

    (emb,) = _t(spark, sf_dir, "embeddings")
    emb = ensure_parallelism(emb.select("vec_id", "embedding")).localCheckpoint(
        eager=True
    )
    return pca_project2(emb, dim=64, iters=4)


def _pca2_sql() -> str:
    from peerdb_spark.functions.cluster import pca_project2_sql

    return pca_project2_sql("embeddings", dim=64, iters=4)


SQL_PCA_PROJECTION2 = _pca2_sql()
