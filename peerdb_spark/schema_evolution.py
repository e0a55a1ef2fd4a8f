"""Schema evolution: RelationRecord-style deltas applied to destinations.

Reference semantics (studied, not copied):
- schema changes arrive as data: RelationRecord carrying TableSchemaDelta
  (flow/model/record.go:150-153); applied via ReplayTableSchemaDeltas
  (flow/connectors/core.go:193-198) — add-column-only evolution.
- repeated deltas are deduplicated; an audit trail is kept
  (flow/connectors/utils/monitoring/monitoring.go:515+).
- old rows read NULL for new columns; newly-synced rows carry values
  (default backfill, flow/connectors/postgres/cdc.go:1490-1560).

Spark realization: destination parquet tables evolve by unioning the new
column into the stored schema sidecar; every read requests the sidecar
schema (storage.ParquetTable.read_raw), so historical files surface NULLs
and upcast to widened types. No data rewrite — O(1) DDL, same as a
warehouse ALTER TABLE ADD COLUMN.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark.storage import ParquetTable, save_schema


@dataclass
class SchemaDelta:
    """One table's schema changes (ref: protos/flow.proto TableSchemaDelta —
    the reference carries added columns; widenings extend that for sources
    whose relation messages report retyped columns)."""

    dst_table: str
    added_columns: list[tuple[str, str]] = field(default_factory=list)  # (name, spark ddl type)
    widened_columns: list[tuple[str, str]] = field(default_factory=list)  # (name, new ddl type)


def delta_from_relation_record(data_json: str, dst_table: str) -> SchemaDelta:
    """Parse a RelationRecord payload:
    {"added": [{"name":..., "type":...}], "widened": [{"name":..., "type":...}]}"""
    d = json.loads(data_json or "{}")
    return SchemaDelta(
        dst_table,
        [(c["name"], c.get("type", "string")) for c in d.get("added", [])],
        [(c["name"], c.get("type", "string")) for c in d.get("widened", [])],
    )


# lossless type-widening lattice: every hop preserves all existing values
# (the casts a sidecar-schema read applies to pre-widening files are exact)
_WIDENINGS: dict[str, set[str]] = {
    "tinyint": {"smallint", "int", "bigint", "double", "string"},
    "smallint": {"int", "bigint", "double", "string"},
    "int": {"bigint", "double", "string"},
    "bigint": {"string"},  # bigint→double loses precision past 2^53: refused
    "float": {"double", "string"},
    "double": {"string"},
    "date": {"timestamp", "timestamp_ntz", "string"},
    "boolean": {"string"},
}


def is_safe_widening(old_ddl: str, new_ddl: str) -> bool:
    o, n = old_ddl.strip().lower(), new_ddl.strip().lower()
    return o == n or n in _WIDENINGS.get(o, set())


def apply_delta(table: ParquetTable, delta: SchemaDelta) -> list[str]:
    """Apply add-column and type-widening deltas to the table's schema
    sidecar; returns the column names actually changed (repeat deltas dedup
    to no-ops). Widening never rewrites data files: reads request the
    sidecar schema and the parquet reader casts pre-widening files to it
    (mergeSchema would refuse int/bigint footers), which is exact because
    only LOSSLESS widenings are accepted (is_safe_widening — e.g. int→
    bigint yes, bigint→int or bigint→double refused)."""
    schema = table._load_schema()
    if schema is None:
        raise ValueError(f"cannot evolve non-existent table at {table.path}")
    existing = {f.name for f in schema.fields}
    added = []
    new_fields = list(schema.fields)
    for name, ddl in delta.added_columns:
        if name in existing:
            continue  # dedup of repeated deltas
        new_fields.append(T.StructField(name, _parse_ddl(ddl), True))
        added.append(name)
    for name, ddl in delta.widened_columns:
        if name not in existing:
            raise ValueError(f"cannot widen unknown column {name!r}")
        idx = next(i for i, f in enumerate(new_fields) if f.name == name)
        old_ddl = new_fields[idx].dataType.simpleString()
        if old_ddl == _parse_ddl(ddl).simpleString():
            continue  # dedup of repeated deltas
        if not is_safe_widening(old_ddl, ddl):
            raise ValueError(
                f"refusing lossy type change {name}: {old_ddl} -> {ddl}"
            )
        new_fields[idx] = T.StructField(name, _parse_ddl(ddl), True)
        added.append(name)
    if added:
        save_schema(table.path, T.StructType(new_fields))
    return added


def replay_deltas(catalog, mirror: str, table: ParquetTable, deltas, batch_id=None) -> list[str]:
    """ReplayTableSchemaDeltas with an audit trail and cross-run dedup
    (ref: flow/connectors/core.go:193-198 + monitoring.go:515+ and
    flowable_core.go:65-119): columns already recorded as applied for this
    mirror/table are skipped even when the destination sidecar was rebuilt,
    and every actually-applied delta appends an audit row (seq, table,
    columns, batch). Returns the column names applied across all deltas."""
    applied_all: list[str] = []
    for delta in deltas:
        seen = catalog.applied_delta_columns(mirror, delta.dst_table)
        fresh = [(n, t) for (n, t) in delta.added_columns if n not in seen]
        fresh_w = [
            (n, t) for (n, t) in delta.widened_columns if f"{n}->{t}" not in seen
        ]
        if not fresh and not fresh_w:
            continue
        added = apply_delta(table, SchemaDelta(delta.dst_table, fresh, fresh_w))
        recorded = [(n, t) for (n, t) in fresh if n in added] + [
            (f"{n}->{t}", t) for (n, t) in fresh_w if n in added
        ]
        if recorded:
            catalog.record_schema_delta(mirror, delta.dst_table, recorded, batch_id)
            applied_all.extend(added)
    return applied_all


def _parse_ddl(ddl: str) -> T.DataType:
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(ddl)


def detect_payload_drift(
    raw: DataFrame,
    value_schema,
    dst_table: str,
    data_col: str = "_peerdb_data",
    sample_values: int = 1,
) -> SchemaDelta:
    """Schema-DRIFT detection for sources that emit no RelationRecords
    (Mongo change streams, queue feeds, generic JSON ingest): scan the batch
    payloads for top-level JSON keys absent from the configured value
    schema and propose them as an add-column delta, with a type guessed
    from schema_of_json over a sampled value per new key.

    The reference only evolves on explicit RelationRecords (pgoutput 'R' /
    binlog TABLE_MAP); schemaless sources silently DROP unknown fields at
    from_json time. This closes that gap as data: feed the returned delta
    to replay_deltas/apply_delta (audited, deduped) exactly as if the
    source had declared it.

    One scan: key explode → anti-filter against the known set → first
    sampled raw value per key (bounded collect: one row per NEW column).
    """
    known = {f.name for f in value_schema.fields}
    keys = raw.select(
        F.explode(F.json_object_keys(F.col(data_col))).alias("k"),
        F.col(data_col).alias("_d"),
    ).where(~F.col("k").isin(*known) if known else F.lit(True))
    sample = (
        keys.groupBy("k")
        .agg(F.first("_d").alias("_d"))
        .collect()
    )
    added: list[tuple[str, str]] = []
    ordered = sorted(sample, key=lambda r: r["k"])
    if ordered:
        # ONE probe job for all new keys: schema_of_json needs a foldable
        # literal per document, so stack them as columns of a 1-row select
        probe = raw.sparkSession.range(1).select(
            *[
                F.schema_of_json(F.lit(r["_d"])).alias(f"s{i}")
                for i, r in enumerate(ordered)
            ]
        ).collect()[0]
        for i, r in enumerate(ordered):
            # parse the inferred DDL properly and look the field up by EXACT
            # top-level name (a regex over the DDL text matched substring
            # keys — 'a' inside 'aa: BIGINT' — yielding a type that nulls
            # every value after auto-evolve)
            ddl = "string"
            try:
                dt = T._parse_datatype_string(probe[f"s{i}"])
                if isinstance(dt, T.StructType):
                    fld = next((f for f in dt.fields if f.name == r["k"]), None)
                    if fld is not None:
                        ddl = {
                            "bigint": "bigint",
                            "double": "double",
                            "boolean": "boolean",
                        }.get(fld.dataType.simpleString(), "string")
            except Exception:
                pass
            added.append((r["k"], ddl))
    return SchemaDelta(dst_table, added)
