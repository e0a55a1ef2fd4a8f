"""Physical-plan audit: asserts the scale-critical plan properties of the
query inventory — predicate pushdown reaches parquet, small dims broadcast,
merge joins reuse the dedup window's hash partitioning, aggregates have
map-side partials, and no Python UDF appears in any hot path.

Usage: python tools/audit_plans.py [--sf DIR]
Exits nonzero if any property regresses (useful as a perf gate next to the
correctness gate in tools/check_oracle.py).
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gen_plans import plan_string  # noqa: E402 — tools/ is this script's own directory

CHECKS: list[tuple[str, list[tuple[str, str, bool]]]] = [
    ("qrep_watermark_range", [
        ("range filter pushed to parquet", r"PushedFilters: \[.*GreaterThanOrEqual\(l_orderkey", True),
    ]),
    ("passthrough_join", [
        ("dims broadcast", r"BroadcastHashJoin", True),
        ("no sort-merge join of small dims", r"SortMergeJoin", False),
    ]),
    ("cdc_normalize_merge", [
        ("window dedup present", r"Window", True),
        ("pk merge join", r"(SortMergeJoin|ShuffledHashJoin)", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("dedup_exact", [("map-side partial agg", r"HashAggregate", True)]),
    ("passthrough_agg", [("map-side partial agg", r"HashAggregate", True)]),
    ("json_extract", [("no python udf", r"BatchEvalPython", False)]),
    ("text_features", [("no python udf", r"BatchEvalPython", False)]),
    ("dedup_minhash_lsh_pairs", [("no python udf", r"BatchEvalPython", False)]),
    ("dedup_ngram_jaccard", [
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("corpus_clean", [
        # keep rule = min-over-content-hash window on FEATURE rows (the text
        # itself never shuffles; features computed once over the base corpus)
        ("keep rule via hash window (text never shuffles)", r"Window", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("sim_topk", [("broadcast queries against corpus", r"BroadcastNestedLoopJoin", True)]),
    ("ann_lsh_topk", [
        ("bucket equi-join (scale path)", r"BroadcastHashJoin", True),
        ("no all-pairs nested loop", r"BroadcastNestedLoopJoin", False),
    ]),
    ("ivf_topk", [
        ("cell equi-join (probe path)", r"BroadcastHashJoin", True),
        ("no all-pairs nested loop", r"BroadcastNestedLoopJoin", False),
    ]),
    ("fingerprint_dups", [
        ("hash agg on fingerprint (text never shuffles)", r"HashAggregate", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("media_stats", [
        # metadata-only: the binary content expression must be pruned out of
        # the projection (on a real media table this is column pruning of the
        # binary pages; here it shows as the encode() never being computed)
        ("binary content pruned from metadata aggregate", r"encode\(", False),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("media_frame_plan", [
        ("JVM-side explode of frame timestamps", r"Generate explode", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("media_features", [
        # the ONE deliberate Python path in the inventory: Arrow-batched
        # mapInPandas, never row-at-a-time BatchEvalPython
        ("Arrow-batched mapInPandas decode", r"MapInPandas", True),
        ("no row-at-a-time python udf", r"BatchEvalPython", False),
    ]),
    ("media_decode_png", [
        # encode→decode are Arrow-batched stages, never row-at-a-time
        ("Arrow-batched codec stages", r"MapInPandas", True),
        ("no row-at-a-time python udf", r"BatchEvalPython", False),
    ]),
    ("media_decode_jpeg", [
        ("Arrow-batched codec stages", r"MapInPandas", True),
        ("no row-at-a-time python udf", r"BatchEvalPython", False),
    ]),
    ("media_frame_sample_mjpeg", [
        # encode / split+decode are Arrow-batched; the per-media frame
        # assembly is ONE hash aggregate (ordered binary fold), no sort
        ("Arrow-batched codec stages", r"MapInPandas", True),
        ("no row-at-a-time python udf", r"BatchEvalPython", False),
        ("fold assembly is a hash agg, not a global sort", r"Sort \[", False),
    ]),
    ("qrep_null_partition", [
        ("single aggregate over tagged rows", r"HashAggregate", True),
    ]),
    ("dedup_incremental_lsh", [
        # O(new) maintained-state path: join sides are selected by a
        # broadcast SEMI join against the live (touched, non-oversized)
        # bucket set derived from the count log — no full-relation anti
        ("banded bucket join gated on live buckets", r"LeftSemi", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("dedup_simhash_pairs", [
        ("hamming-LSH banding with skew guard", r"LeftAnti", True),
        ("bucket equi-join, no all-pairs", r"BroadcastNestedLoopJoin", False),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("dedup_cc_groups", [
        # the iterative star rounds run before this plan (localCheckpointed);
        # the declared plan is the group agg over the converged assignment
        ("component group-by is a hash agg", r"HashAggregate", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("pack_sequences", [
        ("per-shard window (no global sort)", r"Window", True),
        ("no single-partition exchange", r"Exchange SinglePartition", False),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("stratified_sample", [
        ("per-stratum rank + filter", r"Window", True),
        ("no single-partition exchange", r"Exchange SinglePartition", False),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("decontaminate", [
        ("bench gram set broadcast (corpus never shuffles for the join)",
         r"BroadcastHashJoin", True),
        ("no relational distinct of corpus grams (array_distinct per row)",
         r"HashAggregate\(keys=\[doc_id.*gram_hash", False),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("gopher_quality", [
        # the whole quality pass must pipeline into the scan: per-row array
        # expressions only, zero exchanges (asserted via MAX_EXCHANGES below)
        ("no python udf", r"BatchEvalPython", False),
        ("no window (longest-run replaces per-doc mode agg)", r"\bWindow\b", False),
    ]),
    ("doc_chunks", [
        ("per-row explode of start offsets", r"Generate", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("bm25_topk", [
        ("1-row corpus stats broadcast back", r"BroadcastNestedLoopJoin|BroadcastExchange", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("semantic_dedup", [
        ("cell equi-join, never all-pairs", r"BroadcastNestedLoopJoin", False),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("events_sliding_agg", [
        ("native hopping-window expand + hash agg", r"HashAggregate", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("corpus_clean_full", [
        ("keep-list hash agg (text never shuffles)", r"HashAggregate", True),
        ("contaminated-id set broadcast for the anti-join", r"BroadcastHashJoin.*LeftAnti|LeftAnti, BuildRight", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("bpe_pair_counts", [
        ("vocab collapse before pair expansion (map-side partials)", r"HashAggregate", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("unigram_surprisal", [
        ("token-frequency hash join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("cms_heavy_hitters", [
        ("sketch cells hash-aggregated (bounded d*w output)", r"HashAggregate", True),
        ("sketch broadcast for the probe join", r"BroadcastHashJoin", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("events_asof_join", [
        # union+window formulation: no join operator at all, never a range join
        ("as-of via window, no nested loop", r"BroadcastNestedLoopJoin", False),
        ("single sort-window per key", r"Window", True),
    ]),
    ("events_interval_join", [
        # bucketed containment: equi-join on (key, slot), never inequality-only
        ("slot equi-join", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", True),
        ("no inequality nested loop", r"BroadcastNestedLoopJoin", False),
    ]),
    ("sq8_topk", [
        # stats agg must be partial (map-side combine), queries broadcast
        ("stats via hash agg", r"HashAggregate", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("knn_graph", [
        # bucket equi-join candidates, k-bounded mutual join — never all-pairs
        ("no all-pairs nested loop", r"BroadcastNestedLoopJoin", False),
        ("bucket/mutual equi-joins", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", True),
    ]),
    ("repetition_scrub", [
        # per-row array expressions only — no exchange before the output
        ("no python udf", r"BatchEvalPython", False),
        ("no join anywhere", r"Join", False),
    ]),
    ("pii_redact", [("no python udf", r"BatchEvalPython", False)]),
    ("length_quantiles", [
        ("per-group window rank", r"Window", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("kmeans_clusters", [
        # E-step is per-row codegen against literal centroids — no join, no
        # python; the declared plan is the final assignment pass
        ("no join in the assignment pass", r"Join", False),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("tfidf_topk", [
        ("tf/df hash aggs (map-side partials)", r"HashAggregate", True),
        ("1-row corpus count broadcast", r"BroadcastNestedLoopJoin|BroadcastExchange", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("quality_classifier", [
        ("single weight-sum hash agg", r"HashAggregate", True),
        ("no join (weights implicit in the hash)", r"Join", False),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("cdc_mirror_mview", [
        # every fold round is a materialized checkpoint, so the declared
        # plan is a projection over the final one — the cold/hot broadcast
        # join shape inside a round is asserted by check_mview_round_plan
        ("rounds materialized (final plan is checkpoint scan)", r"Scan ExistingRDD", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("cdc_enriched_mview", [
        ("rounds materialized (final plan is checkpoint scan)", r"Scan ExistingRDD", True),
        ("no python udf", r"BatchEvalPython", False),
    ]),
    ("corpus_shuffle_shards", [
        ("per-shard window rank (no global sort)", r"Window", True),
        ("no single-partition exchange", r"Exchange SinglePartition", False),
        ("no python udf", r"BatchEvalPython", False),
    ]),
]

# ceilings on shuffle counts: a regression that adds an exchange to these
# plans would silently multiply cost at 100 TB
MAX_EXCHANGES = {
    "qrep_watermark_range": 0,
    "passthrough_agg": 1,
    "cdc_normalize_merge": 2,  # one per join side; window partitioning reused
    "dedup_exact": 2,
    "json_extract": 1,
    # the quality pass itself is exchange-free; the 1 is the deliberate
    # ensure_parallelism round-robin fan-out of the under-split local input
    # (a no-op on well-split 100 TB sources)
    "gopher_quality": 1,
}


def check_lsh_verify_composition(spark, sf_dir: str) -> list[str]:
    """The declared ngram-jaccard query must be the composed LSH→verify
    pipeline. The declared query's localCheckpoints hide the candidate
    subtree from the executed plan, so audit the UNmaterialized pipeline:
    the banded-LSH skew guard (broadcast anti-join) proves candidates come
    from the bucketed path, not the quadratic shared-shingle self-join, and
    the candidate list is broadcast into the verify joins."""
    from peerdb_spark.functions import dedup as DD
    from peerdb_spark.session import load_tables

    docs = load_tables(spark, sf_dir, ("documents",))["documents"]
    plan = plan_string(
        DD.lsh_verified_pairs(docs, "text", "doc_id", min_jaccard=0.05, materialize=False)
    )
    msgs = []
    for label, pat, want in [
        ("LSH banded candidates (skew-guard anti-join present)", r"LeftAnti", True),
        ("candidates broadcast into verify joins", r"BroadcastHashJoin", True),
        ("no python udf", r"BatchEvalPython", False),
    ]:
        ok = bool(re.search(pat, plan)) == want
        msgs.append(f"{'ok' if ok else 'FAIL'}: {label}")
    return msgs


def check_bpe_ranked_plan_flat(spark) -> list[str]:
    """The ranked BPE encoder's plan must be O(1) in the merge-table size
    (the table ships in the task closure, never the plan) and Arrow-batched
    — the property that lets a real 32k-merge vocab tokenize at all."""
    from peerdb_spark.functions.bpe import bpe_encode_words

    wdf = spark.createDataFrame([("abcd",), ("bcda",)], "w string")

    def plan(n):
        merges = [
            (chr(97 + i % 26), chr(97 + (i // 26) % 26)) for i in range(n)
        ]
        return plan_string(bpe_encode_words(wdf, merges, strategy="ranked"))

    small, big = plan(16), plan(4096)
    msgs = []
    msgs.append(
        ("ok" if len(big) <= len(small) * 1.1 else "FAIL")
        + f": plan size flat in |merges| ({len(small)} B @16 vs {len(big)} B @4096)"
    )
    msgs.append(
        ("ok" if "MapInPandas" in big else "FAIL")
        + ": Arrow-batched mapInPandas encode"
    )
    msgs.append(
        ("ok" if "BatchEvalPython" not in big else "FAIL")
        + ": no row-at-a-time python udf"
    )
    return msgs


def check_mview_round_plan(spark) -> list[str]:
    """One UNmaterialized mview fold round must show the O(touched) shape:
    the touched-key probes into mirror and view are broadcast joins (never
    a shuffle of the maintained state) and the whole round is Python-free."""
    from pyspark.sql import functions as F

    from peerdb_spark.mview import lww_merge_touched, mview_fold

    schema = "pk long, ck long, kind string, grp string, v long"
    mirror = spark.createDataFrame(
        [(i, 1, "insert", "a", i) for i in range(100)], schema
    ).localCheckpoint(eager=True)
    view = spark.createDataFrame([("a", 100, 4950)], "grp string, cnt long, sum_v long")
    batch = spark.createDataFrame([(1, 2, "update", "b", 9)], schema)
    pre, post, _m = lww_merge_touched(mirror, batch, "pk", "ck")
    live = F.col("kind") != "delete"
    plan = plan_string(mview_fold(view, pre.where(live), post.where(live), ["grp"], "v"))
    msgs = []
    for label, pat, want in [
        ("touched-key probes are broadcast joins", r"BroadcastHashJoin", True),
        ("cold rows pass via anti-join", r"LeftAnti", True),
        ("no sort-merge shuffle of maintained state", r"SortMergeJoin", False),
        ("no python udf", r"BatchEvalPython", False),
    ]:
        ok = bool(re.search(pat, plan)) == want
        msgs.append(f"{'ok' if ok else 'FAIL'}: {label}")
    return msgs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    args = ap.parse_args()

    from peerdb_spark import get_spark
    from peerdb_spark.queries import QUERIES

    spark = get_spark("audit_plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    print("lsh_verified_pairs (unmaterialized composition):")
    for m in check_lsh_verify_composition(spark, args.sf):
        if m.startswith("FAIL"):
            failures += 1
        print(f"  {m}")
    print("mview fold round (unmaterialized):")
    for m in check_mview_round_plan(spark):
        if m.startswith("FAIL"):
            failures += 1
        print(f"  {m}")
    print("bpe_encode_words (ranked strategy):")
    for m in check_bpe_ranked_plan_flat(spark):
        if m.startswith("FAIL"):
            failures += 1
        print(f"  {m}")
    for name, checks in CHECKS:
        plan = plan_string(QUERIES[name](spark, args.sf))
        nexch = plan.count("Exchange")
        msgs = []
        for label, pat, want in checks:
            ok = bool(re.search(pat, plan)) == want
            if not ok:
                failures += 1
            msgs.append(f"{'ok' if ok else 'FAIL'}: {label}")
        cap = MAX_EXCHANGES.get(name)
        if cap is not None:
            ok = nexch <= cap
            if not ok:
                failures += 1
            msgs.append(f"{'ok' if ok else 'FAIL'}: exchanges {nexch} <= {cap}")
        print(f"{name}:")
        for m in msgs:
            print(f"  {m}")
    print(f"\n{'PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
