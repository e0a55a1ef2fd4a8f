"""Empirical scaling probe: grow the sf0.1 tables N× and re-run the heavy
operators, reporting per-row throughput vs the base run. Linear operators
hold throughput; anything super-linear (all-pairs leakage, driver collects,
skewed buckets) shows up as a collapsing ratio.

Two growth modes:
- default (replication): union N shifted-id copies. Scales VOLUME but not
  cardinality — value distributions, vocab, buckets, and watermark ranges
  repeat N×, which flatters operators keyed on distinct values.
- --cardinality: SYNTHESIZE genuinely-new keys — documents get new doc_ids
  over a vocabulary that grows with N (hash-derived words, ~10% planted
  near-dups so dedup still finds structure), embeddings get new
  hash-derived directions. Dedup/ANN/encode ratios here reflect real
  distinct-key growth, not replicated structure. Both ×1 and ×N are
  synthesized by the same generator so the ratio is generator-vs-generator.

The `hamming_pairs_parquet` row exercises the 100 TB hamming-LSH posture:
hash64_hamming_pairs(materialize=False) straight off a parquet-backed
fingerprint relation (500k·N rows, synthesized in either mode). It fails
the run unless the plan has no Python node and no in-memory checkpoint
scan, and every planted near-dup pair is found.

Usage: python tools/scale_probe.py [N] [--keep] [--cardinality] [--only=a,b]
Writes a markdown table to stdout; SCALING.md records a vetted run.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen_plans import plan_string  # noqa: E402 — tools/ is this script's own directory

BASE = "/root/testdata/sf0.1"
WORK = "/tmp/peerdb_scale"


def replicate(spark, table: str, factor: int, id_cols: dict[str, int]) -> str:
    """Union `factor` copies with shifted ids; write parquet once."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    out = f"{WORK}/{table}.parquet"
    if os.path.exists(out):
        return out
    df = spark.read.parquet(f"{BASE}/{table}.parquet")
    copies = []
    for i in range(factor):
        c = df
        for col, stride in id_cols.items():
            c = c.withColumn(col, F.col(col) + F.lit(i * stride))
        copies.append(c)
    reduce(DataFrame.unionByName, copies).write.mode("overwrite").parquet(out)
    return out


def synthesize_documents(spark, factor: int, out_dir: str) -> str:
    """5k·N docs over a 200·N-word hash vocabulary. Word j of doc d is
    vocab[xxhash64(d, j) % V] — every factor step adds genuinely-new words
    (new shingles, new minhash bands, new BPE pairs). Docs with
    doc_id % 10 == 9 repeat doc_id-1's word stream plus a suffix word, so
    near-dup operators still have planted structure to find."""
    from pyspark.sql import functions as F

    out = f"{out_dir}/documents.parquet"
    if os.path.exists(out):
        return out
    n = 5_000 * factor
    vocab = 200 * factor
    base = spark.range(n).select(F.col("id").alias("doc_id"))
    seed = F.when(F.col("doc_id") % 10 == 9, F.col("doc_id") - 1).otherwise(
        F.col("doc_id")
    )
    word = lambda j: F.substring(  # noqa: E731 — tight generator lambda
        F.md5(
            F.pmod(F.xxhash64(seed, j), F.lit(vocab)).cast("string")
        ), 1, (F.pmod(F.xxhash64(seed, j, F.lit(1)), F.lit(6)) + 3).cast("int"),
    )
    text = F.array_join(
        F.transform(F.sequence(F.lit(1), F.lit(54)), word), " "
    )
    text = F.when(
        F.col("doc_id") % 10 == 9, F.concat(text, F.lit(" zq"),
                                            (F.col("doc_id") % 97).cast("string"))
    ).otherwise(text)
    df = base.select(
        "doc_id", text.alias("text"),
        F.pmod(F.xxhash64("doc_id"), F.lit(5)).cast("int").alias("lang_id"),
    )
    df.write.mode("overwrite").parquet(out)
    return out


def synthesize_embeddings(spark, factor: int, out_dir: str) -> str:
    """2k·N vectors, 64 hash-derived dims in [-1, 1] — every id is a NEW
    direction, so SRP buckets, IVF cells, and near-dup cosine structure
    grow with N instead of repeating."""
    from pyspark.sql import functions as F

    out = f"{out_dir}/embeddings.parquet"
    if os.path.exists(out):
        return out
    n = 2_000 * factor
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: ((F.pmod(F.xxhash64(F.col("vec_id"), d), F.lit(2001))
                    - 1000) / 1000.0).cast("float"),
    )
    df = spark.range(n).select(F.col("id").alias("vec_id")).select(
        "vec_id", vec.alias("embedding"),
        F.pmod(F.xxhash64("vec_id"), F.lit(7)).cast("int").alias("label"),
    )
    df.write.mode("overwrite").parquet(out)
    return out


def synthesize_fingerprints(spark, factor: int) -> str:
    """500k·N rows of (media_id, vhash) with xxhash64-derived hashes; ids
    with id % 10 == 9 repeat id-1's hash with one bit flipped — planted
    hamming-1 near-dups (well inside max_hamming=3) so the banding has
    real structure to find."""
    from pyspark.sql import functions as F

    out = f"{WORK}/fp_x{factor}.parquet"
    if os.path.exists(out):
        return out
    ninth = F.col("media_id") % 10 == 9
    seed = F.when(ninth, F.col("media_id") - 1).otherwise(F.col("media_id"))
    flip = F.when(
        ninth, F.expr("CAST(1 AS BIGINT) << CAST(media_id % 64 AS INT)")
    ).otherwise(F.lit(0))
    spark.range(500_000 * factor).select(F.col("id").alias("media_id")).select(
        "media_id", F.xxhash64(seed.cast("string")).bitwiseXOR(flip).alias("vhash")
    ).write.mode("overwrite").parquet(out)
    return out


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 10
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from peerdb_spark import get_spark
    from peerdb_spark.functions import corpus as CP
    from peerdb_spark.functions import dedup as DD
    from peerdb_spark.functions import ensure_parallelism
    from peerdb_spark.functions import similarity as SIM

    spark = get_spark("scale_probe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(WORK, exist_ok=True)

    cardinality = "--cardinality" in sys.argv
    if cardinality:
        base_dir, big_dir = f"{WORK}/card1", f"{WORK}/card{factor}"
        for d, f_ in ((base_dir, 1), (big_dir, factor)):
            os.makedirs(d, exist_ok=True)
            synthesize_documents(spark, f_, d)
            synthesize_embeddings(spark, f_, d)
    else:
        base_dir, big_dir = BASE, WORK
        replicate(spark, "documents", factor, {"doc_id": 10_000_000})
        replicate(spark, "embeddings", factor, {"vec_id": 10_000_000})
        replicate(spark, "lineitem", factor, {"l_orderkey": 100_000_000})

    def t(fn) -> float:
        t0 = time.time()
        fn().write.mode("overwrite").format("noop").save()
        return time.time() - t0

    def docs(path):
        return ensure_parallelism(spark.read.parquet(f"{path}/documents.parquet"))

    def emb(path):
        return ensure_parallelism(spark.read.parquet(f"{path}/embeddings.parquet"))

    Q = {
        "minhash_lsh_pairs": lambda p: DD.minhash_lsh_pairs(docs(p), "text", "doc_id"),
        "exact_dedup": lambda p: DD.exact_dedup(docs(p), "text", "doc_id"),
        "gopher_quality": lambda p: CP.gopher_quality(docs(p), "text", "doc_id"),
        "scrub_repeated_chunks": lambda p: CP.scrub_repeated_chunks(docs(p)),
        "simhash_pairs": lambda p: DD.simhash_pairs(docs(p), "text", "doc_id"),
        "knn_graph": lambda p: SIM.knn_graph(
            emb(p).select(
                "vec_id",
                F.transform(
                    "embedding", lambda x: F.round(x.cast("double") * 400).cast("long")
                ).alias("qv"),
            ),
            "vec_id",
            "qv",
        ),
        "sq8_encode": lambda p: SIM.sq8_encode(
            emb(p), SIM.sq8_stats(emb(p), "embedding"), "embedding", "vec_id"
        ),
        # round-5 operators
        "passage_dedup": lambda p: CP.cross_doc_passage_dedup(
            docs(p), "text", "doc_id"
        ),
        "rollup_fold3": lambda p: _rollup3(p),
        "bpe_encode_fixed": lambda p: BP.bpe_encode(
            docs(p), [("e", "r"), ("t", "h"), ("i", "n"), ("a", "n")],
            "text", "doc_id",
        ),
        # the scale path: 1,000-merge table through the ranked mapInPandas
        # encoder (plan O(1) in |merges|); perf-only probe, so a synthetic
        # deterministic table is fine
        "bpe_encode_ranked1k": lambda p: BP.bpe_encode(
            docs(p),
            [(chr(97 + i % 26), chr(97 + (i // 26) % 26)) for i in range(1000)],
            "text", "doc_id", strategy="ranked",
        ),
        # r6 image codecs: PNG encode→decode roundtrip over the analytic
        # fixture (per-image Python, embarrassingly parallel — the probe
        # pins that the Arrow batching keeps it linear, no driver funnel)
        "media_decode_png": lambda p: _media_png_roundtrip(p),
        "kmeans_assign": lambda p: CL.kmeans_assign(
            emb(p).localCheckpoint(eager=True), k=8, iters=3
        ),
        "quality_classifier": lambda p: (
            docs(p)
            .select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("tk"))
            .groupBy("doc_id")
            .agg(F.sum(HS.h64_seeded(F.col("tk"), 7) % 1001 - 500).alias("w"),
                 F.count(F.lit(1)).alias("n"))
        ),
        # round-5 session-3 operators
        "bloom_member": lambda p: SK.bloom_probe(
            SK.bloom_build(
                docs(p).where(F.col("doc_id") % 2 == 0).select("text"), "text"
            ),
            docs(p).select("text"),
            "text",
        ),
        "pca_project": lambda p: CL.pca_project(
            emb(p).select("vec_id", "embedding").localCheckpoint(eager=True),
            dim=64,
            iters=4,
        ),
        "dup_span_coverage": lambda p: CP.dup_span_coverage(docs(p)),
        "pagerank_knn": lambda p: GR.pagerank(_knn_edges(p), iters=3),
        "hist_quantiles": lambda p: ST.histogram_quantiles(
            docs(p).select(F.length("text").alias("n")), "n",
            [100, 2500, 5000, 7500, 9900],
        ),
        "hamming_pairs_parquet": lambda p: _hamming_pairs(1 if p == base_dir else factor),
    }

    # pair count of the latest hamming_pairs_parquet run per factor,
    # checked against the planted near-dups after the table
    hamming_runs: dict[int, Observation] = {}

    def _hamming_pairs(f):
        # parquet-backed state, NO checkpoint: the banding re-scans the
        # cheap columnar state in its three branches (bucket-size guard +
        # both join sides) instead of holding (id, hash) in executor memory
        fp = spark.read.parquet(synthesize_fingerprints(spark, f))
        pairs = DD.hash64_hamming_pairs(
            fp, "vhash", "media_id", bands=4, max_hamming=3, materialize=False
        )
        plan = plan_string(pairs, formatted=True)
        n_py = sum(plan.count(k) for k in (
            "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow"))
        n_rdd = plan.count("Scan ExistingRDD")
        if n_py or n_rdd:
            raise SystemExit(
                f"hamming_pairs_parquet x{f}: {n_py} python nodes, {n_rdd} "
                "ExistingRDD scans (want 0 and 0): materialize=False must not checkpoint"
            )
        hamming_runs[f] = obs = Observation()
        return pairs.observe(obs, F.count(F.lit(1)).alias("pairs"))

    from peerdb_spark.functions import graph as GR
    from peerdb_spark.functions import stats as ST
    from peerdb_spark.functions.similarity import knn_graph

    def _knn_edges(p):
        c = emb(p).select(
            "vec_id",
            F.transform(
                "embedding", lambda x: F.round(x.cast("double") * 400).cast("long")
            ).alias("qv"),
        )
        knn = knn_graph(c, "vec_id", "qv", dim=64, bits=8, k=3)
        return knn.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ).unionByName(
            knn.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )

    def _media_png_roundtrip(p):
        from peerdb_spark.functions import multimodal as MM
        from peerdb_spark.queries import synthetic_media

        imgs = synthetic_media(docs(p)).where(
            F.col("meta.mime") == "image/raw-rgb"
        )
        return MM.decode_images(MM.encode_images_png(imgs)).select(
            "media_id", F.length("content").alias("n")
        )

    from peerdb_spark.functions import bpe as BP
    from peerdb_spark.functions import sketch as SK
    from peerdb_spark.functions import cluster as CL
    from peerdb_spark.functions import hashing as HS
    from peerdb_spark.rollup import rollup_delta, rollup_merge

    def _rollup3(p):
        ev = spark.read.parquet(f"{BASE}/events.parquet") if p == BASE else None
        if ev is None:
            # events not replicated by id; replicate on the fly by ts shift
            base_ev = spark.read.parquet(f"{BASE}/events.parquet")
            copies = [
                base_ev.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
                for i in range(factor)
            ]
            from functools import reduce

            from pyspark.sql import DataFrame

            ev = reduce(DataFrame.unionByName, copies)
        ev = ensure_parallelism(
            ev.select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                      "event_type",
                      F.round(F.col("value") * 1000).cast("long").alias("v_i"))
        )
        state = None
        for k in range(3):
            b = ev.where(F.col("event_id") % 3 == k)
            state = rollup_merge(
                state, rollup_delta(b, "ts", 3600, ["event_type"], "v_i"),
                ["event_type"],
                materialize_state=True,
            )
        return state

    mode = "cardinality" if cardinality else "replication"
    base_label = "card ×1" if cardinality else "sf0.1"
    print(f"| operator ({mode}) | {base_label} (s) | x{factor} (s) | ratio (ideal {factor}) |")
    print("|---|---|---|---|")
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
    for name, fn in Q.items():
        if only and name not in only:
            continue
        if cardinality and name == "rollup_fold3":
            continue  # events are not synthesized in cardinality mode
        fn(base_dir).write.mode("overwrite").format("noop").save()  # warm
        tb = t(lambda: fn(base_dir))
        ts = t(lambda: fn(big_dir))
        ratio = ts / tb if tb > 0 else float("inf")
        flag = "" if ratio <= factor * 1.6 else "  ⚠ SUPER-LINEAR"
        print(f"| {name} | {tb:.2f} | {ts:.2f} | {ratio:.1f}{flag} |")

    for f, obs in sorted(hamming_runs.items()):
        n_pairs, planted = obs.get["pairs"], 500_000 * f // 10
        print(f"hamming_pairs_parquet x{f}: pairs={n_pairs} planted={planted} "
              "python_nodes=0 existing_rdd_scans=0")
        if n_pairs < planted:
            raise SystemExit("hamming_pairs_parquet: planted near-dups must all be found")

    if "--keep" not in sys.argv:
        shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
