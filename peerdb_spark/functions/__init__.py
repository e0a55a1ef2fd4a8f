"""Large-scale training-data-pipeline operators (beyond the reference's own
surface): dedup family, similarity search, text analysis, multimodal columns.

Every operator here is (a) pure DataFrame/built-in-function Spark — JVM-side,
codegen-friendly, no Python in the hot path (multimodal decode stubs are the
sole, explicitly-gated exception), and (b) paired with an ANSI-SQL oracle in
__spark_entry__.oracle_sql() via the shared deterministic hash in hashing.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition CPU-bound inputs that arrive under-split.

    Spark sizes file splits by bytes (maxPartitionBytes); a small-but-
    compute-heavy input (e.g. one 2 MB parquet of documents feeding per-row
    hashing) lands in one task and serializes the work. When the incoming
    partition count is well below the cluster's parallelism, pay one narrow
    round-robin shuffle to fan out. No-op for already-well-split inputs, so
    it's safe on 100 TB sources (which arrive with thousands of splits).

    Its callers are CPU-bound operators (shingling, hashing, featurizing).
    The CDC product path does not use it: the raw append
    (`cdc.RawTable.append`) is an I/O-bound projection and writes each batch
    at the partitioning it arrives with.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        # repartition alone is NOT enough: AQE's coalescing/local shuffle
        # read sees tiny post-shuffle bytes and folds the downstream
        # CPU-heavy pipeline back onto 1-2 tasks (measured: a 0.4s
        # fingerprint pass became 2.5s when its aggregate re-planned the
        # exchange). A lazy localCheckpoint pins 32 real partitions that
        # every consumer — including broadcast-side builds — reads in
        # parallel. Only small inputs reach this branch (an under-split
        # input IS small), so the materialization is a few MB of executor
        # storage; well-split 100 TB inputs return above untouched.
        return df.repartition(target).localCheckpoint(eager=False)
    return df
