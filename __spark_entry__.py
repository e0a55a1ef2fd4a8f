"""Driver contract for the spark-graft builder (PySpark target).

- entry(spark): flagship query on sf0.001 — the CDC normalize-merge (the
  heart of the engine: LWW dedup + I/U/D merge over a deterministic
  changelog derived from lineitem).
- queries(): one entry per implemented operator from SURVEY.md §2 plus the
  LLM-data-pipeline operator set. Implementations live in the family
  modules of peerdb_spark/queries/ and call the engine's operator modules;
  peerdb_spark/queries/__init__.py names each one with its oracle in TABLE.
- oracle_sql(): DuckDB-equivalent SQL for every query (all are
  SQL-expressible; hash parity relies on the shared md5-based hashing in
  peerdb_spark/functions/hashing.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from peerdb_spark.queries import ORACLES, QUERIES


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: CDC normalize merge at sf0.001 (driver checks rows>0)."""
    return QUERIES["cdc_normalize_merge"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
