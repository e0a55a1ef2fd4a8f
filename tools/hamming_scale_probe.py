"""Exercise the 100 TB hamming-LSH posture (r12 verdict Next #5): run
hash64_hamming_pairs(materialize=False) over a PARQUET-BACKED fingerprint
relation at ×N replication — the configuration the in-memory localCheckpoint
default is documented to hand over to at scale — and show:

- the pair surface computes correctly at volume (row counts, no skew guard
  trips beyond the expected oversized buckets), and
- the physical plan reads the fingerprint state as plain parquet FileScans
  (three branches: bucket-size guard + both join sides) with NO Python
  kernel nodes and NO in-memory checkpoint scan — re-scanning cheap
  columnar state replaces holding (id, hash) in executor memory.

Usage: python tools/hamming_scale_probe.py [N] [--plan-out plans/r13/...]
The fingerprint relation is synthesized deterministically: 500k·N rows of
(media_id, vhash) where each id's hash is xxhash64-derived, and ids with
id % 10 == 9 repeat id-1's hash with one flipped bit — planted near-dups
(hamming 1) so the banding has real structure to find.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORK = "/tmp/peerdb_hamming_scale"


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 10
    plan_out = None
    if "--plan-out" in sys.argv:
        plan_out = sys.argv[sys.argv.index("--plan-out") + 1]

    from pyspark.sql import functions as F

    from peerdb_spark import get_spark
    from peerdb_spark.functions.dedup import hash64_hamming_pairs

    spark = get_spark(
        "hamming_scale_probe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    spark.sparkContext.setLogLevel("ERROR")

    n = 500_000 * factor
    path = f"{WORK}/fp_x{factor}.parquet"
    if not os.path.exists(path):
        # deterministic fingerprints; ids ending in 9 are near-dups of id-1
        # (one bit flipped -> hamming 1, well inside max_hamming=3)
        base = spark.range(n).select(F.col("id").alias("media_id"))
        seed = F.when(F.col("media_id") % 10 == 9, F.col("media_id") - 1).otherwise(
            F.col("media_id")
        )
        h = F.xxhash64(seed.cast("string"))
        flip = F.when(
            F.col("media_id") % 10 == 9,
            F.expr("CAST(1 AS BIGINT) << CAST(media_id % 64 AS INT)"),
        ).otherwise(F.lit(0))
        base.select(
            "media_id", h.bitwiseXOR(flip).alias("vhash")
        ).write.mode("overwrite").parquet(path)

    fp = spark.read.parquet(path)  # parquet-backed state: NO checkpoint
    pairs = hash64_hamming_pairs(
        fp, "vhash", "media_id", bands=4, max_hamming=3, materialize=False
    )

    plan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    n_scans = plan.count("Scan parquet")
    n_py = sum(plan.count(k) for k in ("BatchEvalPython", "ArrowEvalPython",
                                       "MapInPandas", "MapInArrow"))
    n_rdd = plan.count("Scan ExistingRDD")
    if plan_out:
        with open(plan_out, "w") as fh:
            fh.write(plan)

    t0 = time.time()
    n_pairs = pairs.count()
    dt = time.time() - t0
    print(
        f"factor={factor} rows={n} pairs={n_pairs} planted={n // 10} "
        f"wall={dt:.2f}s rows_per_sec={int(n / dt)}"
    )
    print(
        f"plan: parquet_scans={n_scans} python_nodes={n_py} "
        f"existing_rdd_scans={n_rdd} (want: 3 parquet branches, 0 python, 0 rdd)"
    )
    assert n_py == 0 and n_rdd == 0, "materialize=False must not checkpoint"
    assert n_pairs >= n // 10, "planted near-dups must all be found"


if __name__ == "__main__":
    main()
