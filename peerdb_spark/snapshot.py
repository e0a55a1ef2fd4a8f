"""Initial snapshot (consistent clone) and resync (full refresh + swap).

Reference semantics (studied, not copied):
- snapshot: a consistent source version is exported, every table cloned in
  parallel partitions under that version, then CDC starts from the recorded
  offset (flow/workflows/snapshot_flow.go:103-434). Spark: read the source at
  a fixed state, QRep-style partitioned write, record the changelog offset
  watermark before the snapshot began.
- resync: clone to `<table>_resync` staging, then atomic rename swap; the
  soft-delete-aware path carries deleted rows forward
  (flow/workflows/cdc_flow.go:638-829, flow/activities/flowable.go:1653-1760
  RenameTables).

Over parquet directories the swap is the destination's own overwrite: the
fresh clone is staged, then one manifest publish makes it the table
(storage.py module doc; one writer per table, like the reference's
one-orchestrator model).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from peerdb_spark.registry import MirrorConfig
from peerdb_spark.qrep import QRepEngine
from peerdb_spark.storage import ParquetTable


def snapshot_table(
    engine: QRepEngine,
    cfg: MirrorConfig,
    source: DataFrame,
    dest_path: str,
    changelog_offset: int | None = None,
) -> dict:
    """Consistent initial load: partitioned parallel clone of `source`, then
    record the CDC start offset so the stream resumes where the snapshot's
    view of the world ended (slot-created-before-snapshot semantics)."""
    stats = engine.run(cfg, source, dest_path)
    if changelog_offset is not None:
        engine.catalog.set_batch_id(cfg.name, changelog_offset)
    return stats


def resync_table(
    source: DataFrame,
    table: ParquetTable,
    soft_delete_col: str | None = None,
) -> None:
    """Full refresh with atomic swap: `table.overwrite` of the fresh clone,
    which commits in one manifest publish (a crash leaves the old table or
    the new one). In soft-delete mode, tombstones present only in the old
    table are carried forward (RenameTables soft-delete branch)."""
    fresh = source
    if soft_delete_col and table.exists:
        old = table.read()
        if soft_delete_col in old.columns:
            live_keys = fresh.select(*table.pk_cols)
            tombstones = (
                old.where(F.col(soft_delete_col))
                .join(live_keys, table.pk_cols, "left_anti")
            )
            fresh = fresh.withColumn(soft_delete_col, F.lit(False)).unionByName(tombstones)
        else:
            fresh = fresh.withColumn(soft_delete_col, F.lit(False))
    elif soft_delete_col:
        fresh = fresh.withColumn(soft_delete_col, F.lit(False))
    table.overwrite(fresh)
