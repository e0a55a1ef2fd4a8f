"""End-to-end convergence: the streaming CDC pipeline, fed the deterministic
lineitem changelog in multiple waves, must land exactly the state that the
oracle-checked cdc_normalize_merge query computes (the reference's
EnvWaitForEqualTables pattern, flow/e2e/test_utils.go, minus the waiting)."""

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark import cdc
from peerdb_spark.queries import QUERIES
from peerdb_spark.queries._common import lineitem_base, lineitem_changes
from peerdb_spark.storage import ParquetTable
from peerdb_spark.streaming import CdcStreamRunner

from tests.conftest import SF_DIR

VAL = T.StructType(
    [
        T.StructField("pk", T.LongType()),
        T.StructField("qty", T.DoubleType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("flag", T.StringType()),
    ]
)


def test_streaming_pipeline_converges_to_oracle_state(spark, tables, tmp_path):
    li = tables["lineitem"]
    dest = str(tmp_path / "dst")
    chg_dir = str(tmp_path / "chg")
    os.makedirs(chg_dir)

    payload = F.to_json(F.struct("pk", "qty", "price", "flag"))

    def to_feed(df):
        return df.select(
            F.col("kind").alias("_kind"),
            F.col("ck").alias("_checkpoint_id"),
            F.col("cts").cast("timestamp").alias("_commit_ts"),
            F.col("ck").alias("_txid"),
            F.lit("lineitem").alias("_src_table"),
            F.lit("lineitem").alias("_dst_table"),
            F.when(F.col("kind") != "delete", payload).alias("_data"),
            F.when(F.col("kind") == "delete", payload).alias("_old_data"),
            F.lit(None).cast("array<string>").alias("_unchanged_cols"),
        )

    # wave 1: the base state as inserts with a commit time earlier than every
    # change (ck=0) — LWW then makes merge(base, changes) ≡ replaying all
    base_feed = to_feed(
        lineitem_base(li)
        .withColumn("kind", F.lit("insert"))
        .withColumn("ck", F.lit(0).cast("long"))
        .withColumn("cts", F.to_timestamp(F.lit("1990-01-01")))
    )
    base_feed.coalesce(1).write.mode("append").parquet(chg_dir)

    # waves 2-3: the change stream split in COMMIT ORDER — CDC batches must
    # respect source commit ordering (a hash split would replay old updates
    # after newer deletes and resurrect rows; that is the LSN-ordering
    # invariant the reference's replication cursor guarantees)
    changes = lineitem_changes(li)
    median_us = changes.selectExpr(
        "percentile_approx(unix_micros(CAST(cts AS TIMESTAMP)), 0.5) AS m"
    ).collect()[0]["m"]
    cts_us = F.unix_micros(F.col("cts").cast("timestamp"))
    early = changes.where(cts_us <= median_us)
    late = changes.where(cts_us > median_us)
    to_feed(early).coalesce(1).write.mode("append").parquet(chg_dir)
    runner = CdcStreamRunner(
        spark, chg_dir, str(tmp_path / "ck"),
        [cdc.CdcTableConfig("lineitem", ["pk"], VAL, dest, n_buckets=8)],
        str(tmp_path / "raw"),
    )
    runner.run_available()
    to_feed(late).coalesce(1).write.mode("append").parquet(chg_dir)
    runner2 = CdcStreamRunner(
        spark, chg_dir, str(tmp_path / "ck"),
        [cdc.CdcTableConfig("lineitem", ["pk"], VAL, dest, n_buckets=8)],
        str(tmp_path / "raw"),
    )
    runner2.run_available()

    got = ParquetTable(spark, dest, ["pk"], 8).read()
    expected = QUERIES["cdc_normalize_merge"](spark, SF_DIR)
    sym_diff = got.exceptAll(expected).count() + expected.exceptAll(got).count()
    assert got.count() == expected.count()
    assert sym_diff == 0
