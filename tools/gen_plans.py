"""Physical-plan capture for the declared queries.

With no output directory, regenerate PLANS.md: plan evidence for the
scale-critical operators, with commentary. Companion to
tools/audit_plans.py, which asserts the same properties as a gate and reads
plans through `plan_string` below.

With --out, capture mode: write each query's `explain("formatted")` plan to
<out>/<name><suffix>.txt, for plan diffs before/after a change. Fixture-
building side effects run as usual (the plan of the RETURNED frame is what
the driver executes).

Usage: python tools/gen_plans.py [--sf DIR]
       python tools/gen_plans.py --out plans/rN [--suffix _before] [--only a,b] [--sf DIR]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

COMMENT = {
    "qrep_watermark_range": (
        "The QRep partition pull. The range predicate reaches the parquet scan "
        "as PushedFilters — a partition pull reads only row-groups whose min/max "
        "stats overlap the watermark range. Zero exchanges."
    ),
    "passthrough_join": (
        "Orders⋈customer⋈nation. Both dimension tables broadcast "
        "(BroadcastHashJoin); the fact table never shuffles for the joins — "
        "only the final group-by aggregates exchange."
    ),
    "cdc_normalize_merge": (
        "The flagship merge. The LWW dedup window and the "
        "full-outer merge join hash-partition on the same pk, so Spark reuses "
        "the exchange: one shuffle per side, total 2."
    ),
    "dedup_minhash_lsh_pairs": (
        "MinHash-LSH. Signatures come from an explode + HashAggregate with "
        "map-side combine (fixed-width long buffers), then materialize once "
        "via lazy localCheckpoint (Scan ExistingRDD below) — the three "
        "consuming branches (bucket-size guard + both self-join sides) push "
        "different not-null filters, which defeats exchange canonicalization, "
        "so without it the md5-heavy explode runs 3×. The skew guard is a "
        "broadcast anti-join (no sort of the banded relation); candidate pairs "
        "join only within band buckets."
    ),
    "sim_topk": (
        "Brute-force ANN baseline: the small query set broadcasts against the "
        "corpus scan (BroadcastNestedLoopJoin); per-row scoring is JVM codegen; "
        "the rank window partitions by query id only."
    ),
    "ann_lsh_topk": (
        "The ANN scale path: SRP bucket signatures computed per-row, then a "
        "bucket EQUI-join (BroadcastHashJoin on bkt — no nested loop anywhere); "
        "probe cost scales with bucket occupancy, never |corpus|·|queries|."
    ),
    "ivf_topk": (
        "IVF probing: corpus assigned to its nearest codebook cell per-row "
        "(codegen'd integer distance argmin), queries explode to nprobe cells, "
        "and the join is a cell equi-join — per-query cost ∝ nprobe/k of the "
        "corpus. At 100 TB the corpus would be written partitioned by cell so "
        "probes also prune at the file level."
    ),
    "dedup_ngram_jaccard": (
        "The composed near-dup pipeline: ONE distinct (doc, shingle-hash) "
        "relation, materialized via lazy localCheckpoint (Scan ExistingRDD "
        "below), feeds signatures, set sizes, and the exact verify — computed "
        "once, read four times (at 100 TB pass a parquet-backed relation via "
        "shingle_hashes instead; localCheckpoint blocks die with executors). "
        "Candidates come from the banded LSH self-join with the broadcast "
        "anti-join skew guard (LeftAnti in the plan — audited), and the exact "
        "Jaccard runs over candidates only."
    ),
    "exotic_types": (
        "Exotic-type parsing (interval/hstore/timetz/inet/WKB): a single "
        "narrow projection over the scan — every parser is a built-in "
        "expression inside WholeStageCodegen; zero exchanges, zero Python."
    ),
    "media_stats": (
        "Metadata-only media aggregate: the binary content expression is "
        "pruned out of the projection entirely (no encode() in the plan). On "
        "a real media table this is column pruning of the binary pages — the "
        "query reads kilobytes of metadata, not terabytes of media."
    ),
    "media_features": (
        "The one deliberate Python path in the inventory: Arrow-batched "
        "MapInPandas over (id, content) only — metadata columns pruned before "
        "the UDF boundary, no row-at-a-time BatchEvalPython anywhere. The "
        "fake decode kernel is md5-hex-chained so the DuckDB oracle "
        "value-hash-verifies the whole Python plumbing."
    ),
    "fingerprint_dups": (
        "Rolling-hash fingerprint dedup groups: per-doc Rabin-Karp min over "
        "char 8-grams computed in WholeStageCodegen, then ONE narrow shuffle "
        "of (fingerprint, doc_id) longs — the text never moves."
    ),
    "dedup_incremental_lsh": (
        "Incremental ingestion dedup: only the NEW batch's text is shingled "
        "and hashed (the corpus side enters as a precomputed signature "
        "relation); the banded bucket join with the broadcast anti-join skew "
        "guard finds candidates touching new docs. Per-batch cost is O(new), "
        "never a corpus re-hash."
    ),
    "dedup_simhash_pairs": (
        "Hamming-LSH over SimHash fingerprints: byte-band bucket equi-join "
        "(pigeonhole guarantees hamming<=3 pairs share a band), oversized-"
        "bucket anti-join guard, exact bit_count(xor) verify — all JVM "
        "integer ops, no all-pairs join anywhere."
    ),
    "dedup_cc_groups": (
        "Connected components over the LSH pair graph (alternating "
        "large-star/small-star, O(log n) rounds). The iterative rounds are "
        "localCheckpointed before this plan, so the declared plan is the "
        "final hash aggregate over the converged (node, rep) assignment — "
        "each round itself is two hash aggs + two equi-joins over the "
        "CURRENT edge list, no global sort, no driver residency; at 100 TB "
        "the per-round materialization becomes a parquet round-trip."
    ),
    "pack_sequences": (
        "Sequence packing: per-shard prefix sum. The window function "
        "partitions by the deterministic shard key — no Exchange "
        "SinglePartition anywhere (asserted), so packing parallelism equals "
        "shard count exactly like multi-worker data-loader packing."
    ),
    "stratified_sample": (
        "Per-stratum top-k by seeded deterministic hash: rank window "
        "partitioned by stratum, rank filter applied before any further "
        "consumer — never a global sort, reproducible on any layout."
    ),
    "decontaminate": (
        "Benchmark decontamination. Per-row array_distinct dedups grams "
        "BEFORE the explode (no relational distinct — the corpus gram "
        "relation never shuffles); the benchmark gram set broadcasts "
        "(BroadcastHashJoin), so the only exchange is the matched-pair "
        "count aggregate, bounded by actual overlap."
    ),
    "gopher_quality": (
        "Repetition quality rules. The most-common-bigram multiplicity is "
        "the longest run of the sorted bigram array — a per-row array "
        "expression, not an explode + per-doc group-by — so the entire "
        "quality pass has ZERO exchanges and pipelines into the scan "
        "(exchange ceiling asserted at 0)."
    ),
    "doc_chunks": (
        "Fixed-window chunking: posexplode of a per-row start-offset "
        "sequence; chunks leave as (count, hash) scalars. Narrow — chunking "
        "a 100 TB corpus is a map-only job."
    ),
    "bm25_topk": (
        "BM25. One 1-row corpus-stats aggregate broadcast back onto a "
        "single per-doc projection; the final top-k is a rank over score. "
        "At production query volume the per-query work is the same single "
        "pass — df/idf stats are corpus constants amortized across queries."
    ),
    "semantic_dedup": (
        "SemDeDup. Cell assignment (max inner product against the codebook) "
        "is materialized once (localCheckpoint) and feeds both pair-join "
        "sides + the final flag join; candidate pairs exist only inside a "
        "cell — a cell equi-join, never BroadcastNestedLoop (asserted)."
    ),
    "events_sliding_agg": (
        "Hopping windows: the native window(size, slide) expands each event "
        "to its window/slide buckets JVM-side, then a hash aggregate with "
        "map-side partials — same shape as tumbling, state ×(window/slide)."
    ),
    "corpus_clean_full": (
        "The full cleaning pipeline: every per-row text feature (hash, "
        "language, quality, Gopher stats) computed in ONE projection over "
        "the base corpus (the doubled crawl unions feature ROWS, not text), "
        "keep rule as a min-over-content-hash window, and the contaminated/"
        "eval id set broadcast for a left-anti join. The text column never "
        "shuffles in any stage."
    ),
    "events_asof_join": (
        "Backward AS-OF join via union+window: both inputs tag a side "
        "column, union, and a single per-key window sorted on (ts, side) "
        "carries the most recent right payload forward with "
        "last(ignorenulls). ONE hash exchange per input, no join operator "
        "at all — the plan a range join would hand to BroadcastNestedLoop "
        "is a Window over a union instead."
    ),
    "events_interval_join": (
        "Point-in-interval join: intervals explode to fixed-width time "
        "slots, points map to exactly one slot, and the match is an "
        "EQUI-join on (key, slot) plus an exact containment filter — "
        "shuffled-hash/broadcast under Catalyst, never an inequality-only "
        "nested loop."
    ),
    "sq8_topk": (
        "SQ8 quantized search: the global-scale stats aggregate has "
        "map-side partials (one row out per partition), broadcasts into "
        "the encoder, and the query codes broadcast against the corpus "
        "code table; scoring is an integer zip_with/aggregate in codegen."
    ),
    "repetition_scrub": (
        "Intra-doc repetition scrub: chunking, first-occurrence filter "
        "(array_position) and re-join are all per-row array expressions in "
        "one codegen span — ZERO exchanges; the pass pipelines into the "
        "scan at any corpus size."
    ),
    "mixture_sample": (
        "Mixture sampling: literal-map rate lookup + hash threshold as a "
        "scan-pipelined filter (zero exchanges before the bounded "
        "per-source aggregate)."
    ),
    "kmeans_clusters": (
        "Distributed fixed-point k-means, final E-step plan: per-row integer "
        "distance codegen against the k×dim literal centroid arrays — no join, "
        "no shuffle, no Python; the corpus streams through once. Each training "
        "round's M-step (not shown: a groupBy(cell,dim) HashAggregate with "
        "map-side partials) collects only k×dim rows to the driver."
    ),
    "tfidf_topk": (
        "TF-IDF keyword extraction: doc-term and term hash aggregates with "
        "map-side partials, the 1-row corpus count broadcast back, and a "
        "per-doc window rank. Text leaves the scan only as (doc_id, token) "
        "pairs — the heavy relation shuffles once for the tf aggregate and "
        "the df join keys on the term."
    ),
    "quality_classifier": (
        "Hashed linear scorer: ONE map-side-combinable HashAggregate per "
        "document over per-token signed hash weights; no join (the weight "
        "table is implicit in the hash), no Python, one exchange. The "
        "cheapest possible shape for a corpus-wide model-scoring pass."
    ),
    "hybrid_retrieval": (
        "BM25 → embedding re-rank composition: the corpus-scale stage is the "
        "single-projection BM25 pass (1-row stats broadcast back); the "
        "20-row candidate set then broadcasts into the embedding table for "
        "the quantized-int dot re-rank — lexical recall at corpus scale, "
        "vector precision at candidate scale, no corpus shuffle anywhere."
    ),
    "cdc_mirror_mview": (
        "Incrementally maintained aggregate view over a CDC mirror. Every "
        "fold round materializes (localCheckpoint), so the declared plan is "
        "a projection over the final checkpoint — the interesting shape is "
        "INSIDE a round, asserted by audit_plans.check_mview_round_plan: "
        "touched-key probes into mirror and view are BroadcastHashJoins of "
        "the batch's key set (the maintained state is scanned, never "
        "shuffled), cold groups pass via anti-join, retraction deltas are "
        "batch-sized hash aggs. Measured flat per-batch cost across 10x "
        "state growth (SCALING.md)."
    ),
    "bloom_membership": (
        "Bloom build+probe. The build is one explode + a bit_or HashAggregate "
        "with map-side partials (output bounded by m/32 words regardless of "
        "corpus size); the probe joins those words as a BroadcastHashJoin — "
        "the corpus-sized probe side never shuffles for the filter."
    ),
    "pca_projection": (
        "Distributed PCA. The Gram matrix is a doubly-exploded HashAggregate "
        "with map-side combine (d² bounded output); the projection is per-row "
        "codegen against d literal eigenvector entries — no join, no shuffle "
        "beyond the two bounded aggs. Power iteration is driver-side over "
        "4 160 collected integers."
    ),
    "dup_span_coverage": (
        "Exact-substring span coverage. Only (id, p, hash) longs cross the "
        "shuffle (text stays columnar at the scan); duplicate detection is a "
        "map-side-combinable count; the interval union is one lead() window "
        "over FLAGGED spans only (duplicated spans, a small fraction of the "
        "corpus)."
    ),
    "hist_quantiles": (
        "Histogram quantiles. Two bounded HashAggregates (1-row stats, "
        "256-cell histogram) — NO sort at any scale, unlike the exact "
        "windowed-rank path; the stats row broadcasts back for bin math."
    ),
    "graph_pagerank": (
        "Fixed-point PageRank (3 rounds over the mutual-kNN edges). Each "
        "round is one equi-join of ranks to edges plus one hash agg by dst; "
        "per-round localCheckpoint keeps lineage flat so round k's plan is "
        "independent of k."
    ),
}


def plan_string(df, formatted: bool = False) -> str:
    """The physical plan Spark executes for `df`: the executed-plan tree, or
    with `formatted` the text of `df.explain("formatted")`."""
    qe = df._jdf.queryExecution()
    if not formatted:
        return qe.executedPlan().toString()
    jvm = df.sparkSession._jvm
    return qe.explainString(jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


def write_plans_md(spark, queries, sf: str) -> None:
    out = [
        "# PLANS — physical-plan evidence for the scale-critical operators",
        "",
        "Captured from `.explain` at sf0.01 (plans are scale-invariant; only statistics change).",
        "Regenerate: `python tools/gen_plans.py`. Asserted continuously by `tools/audit_plans.py`.",
        "",
    ]
    for name, comment in COMMENT.items():
        lines = [ln.rstrip() for ln in plan_string(queries[name](spark, sf)).splitlines()]
        lines = [ln if len(ln) <= 150 else ln[:147] + "..." for ln in lines]
        out += [f"## {name}", "", comment, "", "```", *lines[:40]]
        if len(lines) > 40:
            out.append(f"... ({len(lines) - 40} more lines)")
        out += ["```", ""]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md regenerated")


def capture(spark, queries, names: list[str], sf: str, out_dir: str, suffix: str) -> int:
    os.makedirs(out_dir, exist_ok=True)
    failures = 0
    for name in names:
        try:
            plan = plan_string(queries[name](spark, sf), formatted=True)
        except Exception as e:  # noqa: BLE001 — record the failure, keep going
            plan = f"PLAN CAPTURE FAILED: {type(e).__name__}: {e}"
            failures += 1
        with open(os.path.join(out_dir, f"{name}{suffix}.txt"), "w") as fh:
            fh.write(plan)
        print(f"captured {name}")
    return 1 if failures else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Capture physical plans of the declared queries.")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", help="capture mode: directory for <name><suffix>.txt plans")
    ap.add_argument("--suffix", default="", help="capture mode: file-name suffix, e.g. _before")
    ap.add_argument("--only", help="capture mode: comma-separated names (default: every query)")
    args = ap.parse_args(argv)
    if args.out is None and (args.only or args.suffix):
        ap.error("--only and --suffix need --out")

    from peerdb_spark import get_spark
    from peerdb_spark.queries import QUERIES

    spark = get_spark("gen_plans", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    if args.out is None:
        write_plans_md(spark, QUERIES, args.sf)
        return 0
    names = args.only.split(",") if args.only else list(QUERIES)
    return capture(spark, QUERIES, names, args.sf, args.out, args.suffix)


if __name__ == "__main__":
    sys.exit(main())
