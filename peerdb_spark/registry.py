"""Peers / mirrors metadata registry.

The reference stores peer connection configs and mirror (flow) configs as
serialized protobuf in a Postgres catalog (nexus/catalog/src/lib.rs,
flow/connectors/core.go:372-560 LoadPeer*). Here a peer is a named data
location (parquet/delta/jdbc path + options) and a mirror is a named job
config; both persist as JSON under a catalog directory so runs are resumable.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import asdict, dataclass, field
from typing import Any


def atomic_write(path: str, text: str) -> None:
    """Publish `text` at `path` with one rename: a reader sees the old file or
    the new one, never a torn write."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


@dataclass
class Peer:
    """A named data endpoint. kind: 'parquet' | 'delta' | 'jdbc' | 'memory'."""

    name: str
    kind: str = "parquet"
    path: str = ""
    options: dict[str, str] = field(default_factory=dict)


@dataclass
class TableMapping:
    """Source→destination table mapping with per-column settings.

    Mirrors TableMapping/ColumnSetting in the reference proto
    (protos/flow.proto: exclude / ColumnSetting{SourceName, DestinationName,
    DestinationType, NullableEnabled}).
    """

    source_table: str
    destination_table: str
    exclude: list[str] = field(default_factory=list)
    renames: dict[str, str] = field(default_factory=dict)  # src col -> dst col
    type_overrides: dict[str, str] = field(default_factory=dict)  # dst col -> spark ddl type
    primary_keys: list[str] = field(default_factory=list)
    # snapshot partitioning column (ref: ast_peerdb.rs:53 `key:` in the v2
    # table-mapping DDL; used by the initial-copy partitioner)
    partition_key: str = ""


@dataclass
class MirrorConfig:
    """A replication job: CDC or QRep (ref: FlowConnectionConfigs / QRepConfig)."""

    name: str
    kind: str  # 'cdc' | 'qrep'
    source_peer: str = ""
    destination_peer: str = ""
    table_mappings: list[TableMapping] = field(default_factory=list)
    # QRep options (ref: protos/flow.proto QRepConfig)
    query: str = ""
    watermark_table: str = ""
    watermark_column: str = ""
    write_mode: str = "append"  # append | upsert | overwrite
    upsert_key_columns: list[str] = field(default_factory=list)
    num_rows_per_partition: int = 250_000  # ref default, deep-dive-design-document.md:944
    max_parallel_workers: int = 8  # ref default, deep-dive-design-document.md:945
    partition_strategy: str = "minmax"  # minmax | ntile | full
    # CDC options
    max_batch_size: int = 250_000  # ref default, deep-dive-design-document.md:942
    idle_timeout_seconds: int = 60  # ref default, deep-dive-design-document.md:943
    soft_delete_col_name: str = ""
    synced_at_col_name: str = ""
    # CREATE MIRROR WITH options (ref: nexus/analyzer/src/lib.rs:205-260)
    do_initial_copy: bool = False
    resync: bool = False
    publication_name: str = ""
    replication_slot_name: str = ""
    snapshot_num_rows_per_partition: int = 0  # 0 = engine default


class Catalog:
    """Tiny JSON-file catalog of peers, mirrors, partition state and offsets.

    Single-driver semantics (like the reference's single catalog Postgres);
    state volume is O(mirrors + partitions), never O(data), so a driver-side
    store is correct at any data scale.
    """

    def __init__(self, root: str | None = None):
        self.root = root or os.path.join(tempfile.gettempdir(), "peerdb_spark_catalog")
        os.makedirs(self.root, exist_ok=True)

    def _path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def _write(self, rel: str, obj: Any) -> None:
        p = self._path(rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        atomic_write(p, json.dumps(obj, default=str))

    def _read(self, rel: str, default: Any = None) -> Any:
        p = self._path(rel)
        if not os.path.exists(p):
            return default
        with open(p) as f:
            return json.load(f)

    # ---- peers ----
    def create_peer(self, peer: Peer) -> None:
        self._write(f"peers/{peer.name}.json", asdict(peer))

    def get_peer(self, name: str) -> Peer:
        d = self._read(f"peers/{name}.json")
        if d is None:
            raise KeyError(f"no such peer: {name}")
        return Peer(**d)

    def drop_peer(self, name: str) -> None:
        p = self._path(f"peers/{name}.json")
        if os.path.exists(p):
            os.remove(p)

    def list_peers(self) -> list[str]:
        d = self._path("peers")
        if not os.path.isdir(d):
            return []
        return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))

    # ---- mirrors ----
    def list_mirrors(self) -> list[str]:
        d = self._path("mirrors")
        if not os.path.isdir(d):
            return []
        return sorted(f[:-5] for f in os.listdir(d) if f.endswith(".json"))

    def create_mirror(self, cfg: MirrorConfig) -> None:
        self._write(f"mirrors/{cfg.name}.json", asdict(cfg))

    def get_mirror(self, name: str) -> MirrorConfig:
        d = self._read(f"mirrors/{name}.json")
        if d is None:
            raise KeyError(f"no such mirror: {name}")
        d["table_mappings"] = [TableMapping(**tm) for tm in d.get("table_mappings", [])]
        return MirrorConfig(**d)

    def drop_mirror(self, name: str) -> None:
        p = self._path(f"mirrors/{name}.json")
        if os.path.exists(p):
            os.remove(p)

    # ---- QRep partition bookkeeping (idempotent re-runs) ----
    # Ref: IsQRepPartitionSynced, flow/connectors/core.go:255-257.
    def mark_partition_done(self, mirror: str, partition_id: str) -> None:
        done = set(self._read(f"state/{mirror}/partitions.json", []))
        done.add(partition_id)
        self._write(f"state/{mirror}/partitions.json", sorted(done))

    def is_partition_done(self, mirror: str, partition_id: str) -> bool:
        return partition_id in set(self._read(f"state/{mirror}/partitions.json", []))

    def done_partitions(self, mirror: str) -> set[str]:
        return set(self._read(f"state/{mirror}/partitions.json", []))

    # ---- watermark / offset state ----
    def set_last_watermark(self, mirror: str, value: Any) -> None:
        self._write(f"state/{mirror}/watermark.json", {"value": value})

    def get_last_watermark(self, mirror: str) -> Any:
        d = self._read(f"state/{mirror}/watermark.json")
        return None if d is None else d["value"]

    # ---- schema-delta audit trail ----
    # Ref: monitoring.go:515+ AuditSchemaDelta — every applied delta is
    # recorded; replayed deltas dedup against the audit, not just the current
    # sidecar (a rebuilt destination must not re-apply historical deltas out
    # of order or double-log them).
    def record_schema_delta(
        self, mirror: str, dst_table: str, added: list, batch_id: int | None = None
    ) -> None:
        audit = self._read(f"state/{mirror}/schema_deltas.json", [])
        audit.append(
            {
                "seq": len(audit),
                "dst_table": dst_table,
                "added": [list(a) for a in added],
                "batch_id": batch_id,
            }
        )
        self._write(f"state/{mirror}/schema_deltas.json", audit)

    def schema_delta_audit(self, mirror: str) -> list[dict]:
        return self._read(f"state/{mirror}/schema_deltas.json", [])

    def applied_delta_columns(self, mirror: str, dst_table: str) -> set[str]:
        return {
            a[0]
            for entry in self.schema_delta_audit(mirror)
            if entry["dst_table"] == dst_table
            for a in entry["added"]
        }

    def record_batch_metrics(
        self,
        mirror: str,
        batch_id: int,
        n_rows: int,
        start_checkpoint=None,
        end_checkpoint=None,
    ) -> None:
        """Per-batch CDC monitoring row: rows synced + checkpoint range.
        Mirrors the reference's catalog monitoring tables (flow/connectors/
        utils/monitoring/monitoring.go AddCDCBatchForFlow /
        UpdateEndBatchEndTimeForFlow — one row per sync batch, queryable for
        lag/throughput). Bounded driver-side metadata: one JSON entry per
        batch."""
        rows = self._read(f"state/{mirror}/batch_metrics.json", [])
        rows.append(
            {
                "batch_id": batch_id,
                "n_rows": n_rows,
                "start_checkpoint": start_checkpoint,
                "end_checkpoint": end_checkpoint,
            }
        )
        self._write(f"state/{mirror}/batch_metrics.json", rows)

    def batch_metrics(self, mirror: str) -> list[dict]:
        return self._read(f"state/{mirror}/batch_metrics.json", [])

    # ---- alerting / lag monitoring ----
    # Ref: flow/alerting/alerting.go:293-340 (alerts persist in the catalog,
    # peerdb_stats.alerts_v1) and flow/connectors/utils/monitoring/
    # monitoring.go AppendSlotSizeInfo (peerdb_stats.peer_slot_size gauges).
    def record_alert(
        self, mirror: str, alert_key: str, message: str, rule_id: str, ts: float
    ) -> None:
        rows = self._read(f"state/{mirror}/alerts.json", [])
        rows.append(
            {"alert_key": alert_key, "message": message, "rule_id": rule_id, "ts": ts}
        )
        self._write(f"state/{mirror}/alerts.json", rows)

    def alerts(self, mirror: str) -> list[dict]:
        return self._read(f"state/{mirror}/alerts.json", [])

    def last_alert_ts(self, mirror: str, alert_key: str, rule_id: str) -> float | None:
        ts = [
            a["ts"]
            for a in self.alerts(mirror)
            if a["alert_key"] == alert_key and a["rule_id"] == rule_id
        ]
        return max(ts) if ts else None

    def record_slot_metrics(self, mirror: str, slot: dict, ts: float) -> None:
        rows = self._read(f"state/{mirror}/slot_metrics.json", [])
        rows.append({**slot, "ts": ts})
        self._write(f"state/{mirror}/slot_metrics.json", rows)

    def slot_metrics(self, mirror: str) -> list[dict]:
        return self._read(f"state/{mirror}/slot_metrics.json", [])

    def set_last_normalize_ts(self, mirror: str, ts: float) -> None:
        self._write(f"state/{mirror}/last_normalize.json", {"ts": ts})

    def get_last_normalize_ts(self, mirror: str) -> float | None:
        d = self._read(f"state/{mirror}/last_normalize.json")
        return None if d is None else float(d["ts"])

    def set_batch_id(self, mirror: str, batch_id: int) -> None:
        self._write(f"state/{mirror}/batch.json", {"batch_id": batch_id})

    def get_batch_id(self, mirror: str) -> int:
        d = self._read(f"state/{mirror}/batch.json")
        return 0 if d is None else int(d["batch_id"])
