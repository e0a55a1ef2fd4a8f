"""SQL surface: PeerDB-style management DDL + pass-through SQL + cursors.

Reference semantics (studied, not copied):
- nexus intercepts CREATE/DROP PEER and CREATE/DROP/PAUSE/RESUME/EXECUTE
  MIRROR before standard SQL parsing (nexus/parser/src/lib.rs:24-61,
  parser_peerdb.rs); everything else routes to the peer engine with dialect
  rewriting (nexus/peer-bigquery/src/ast.rs, peer-mysql/src/ast.rs).
- cursors: DECLARE/FETCH n/CLOSE over result streams
  (nexus/peer-cursor/src/lib.rs, manager.rs).

Spark realization: a small regex statement interceptor over a single engine —
pass-through statements go straight to spark.sql (Catalyst is the one
dialect, so the rewrite layer collapses to nothing); mirror DDL mutates the
catalog/engines; cursors page a DataFrame via toLocalIterator.
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from peerdb_spark.registry import Catalog, MirrorConfig, Peer, TableMapping

_CREATE_PEER = re.compile(
    r"^\s*CREATE\s+PEER\s+(\w+)\s+FROM\s+(\w+)\s+WITH\s*\((.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_PEER = re.compile(r"^\s*DROP\s+PEER\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", re.IGNORECASE)
_CREATE_MIRROR_CDC = re.compile(
    r"^\s*CREATE\s+MIRROR\s+(\w+)\s+FROM\s+(\w+)\s+TO\s+(\w+)\s+"
    r"WITH\s+TABLE\s+MAPPING\s*\((.*?)\)(?:\s+WITH\s*\((.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_MIRROR_QREP = re.compile(
    r"^\s*CREATE\s+MIRROR\s+(\w+)\s+FROM\s+(\w+)\s+TO\s+(\w+)\s+"
    r"FOR\s+\$\$(.*?)\$\$(?:\s+WITH\s*\((.*)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_MIRROR = re.compile(r"^\s*DROP\s+MIRROR\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", re.IGNORECASE)
_RESYNC_MIRROR = re.compile(
    r"^\s*RESYNC\s+MIRROR\s+(?:IF\s+EXISTS\s+)?(\w+)\s*;?\s*$", re.IGNORECASE
)
_MIRROR_SIGNAL = re.compile(
    r"^\s*(PAUSE|RESUME|EXECUTE)\s+MIRROR\s+(\w+)\s*;?\s*$", re.IGNORECASE
)
_SHOW = re.compile(r"^\s*SHOW\s+(MIRRORS|PEERS)\s*;?\s*$", re.IGNORECASE)
_DECLARE_CURSOR = re.compile(
    r"^\s*DECLARE\s+(\w+)\s+CURSOR\s+FOR\s+(.*?)\s*;?\s*$", re.IGNORECASE | re.DOTALL
)
_FETCH = re.compile(r"^\s*FETCH\s+(\d+)\s+FROM\s+(\w+)\s*;?\s*$", re.IGNORECASE)
_CLOSE = re.compile(r"^\s*CLOSE\s+(\w+)\s*;?\s*$", re.IGNORECASE)


def _parse_with_options(raw: str | None) -> dict[str, Any]:
    out: dict[str, Any] = {}
    if not raw:
        return out
    for part in re.split(r",(?=(?:[^']*'[^']*')*[^']*$)", raw):
        if "=" not in part:
            continue
        k, v = part.split("=", 1)
        v = v.strip().strip("'\"")
        k = k.strip().lower()
        if v.isdigit():
            out[k] = int(v)
        elif v.lower() in ("true", "false"):
            # boolean WITH options (ref: analyzer accepts bare and quoted
            # booleans for do_initial_copy/resync, lib.rs:208-236)
            out[k] = v.lower() == "true"
        else:
            out[k] = v
    return out


def _split_mappings(raw: str) -> list[str]:
    """Split table-mapping entries on top-level commas only (v2 entries
    contain commas inside {...} and [...])."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in raw:
        if ch in "{[(":
            depth += 1
        elif ch in "}])":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return [p.strip() for p in parts if p.strip()]


def _parse_mapping_entry(part: str) -> TableMapping:
    """One TABLE MAPPING entry. Two forms (ref: nexus/parser/src/parser_peerdb.rs:246-316;
    per-column settings mirror protos/flow.proto ColumnSetting):
    - v1: `src` or `src:dst`
    - v2: `{from: src, to: dst, key: part_key, exclude: [c1, c2],
            pk: [id], rename: {old: new}, types: {col: 'decimal(10,2)'}}`
    Nested values split depth-aware — type DDL strings may contain commas
    inside parentheses."""
    part = part.strip()
    if part.startswith("{") and part.endswith("}"):
        kv: dict[str, str] = {}
        for p in _split_mappings(part[1:-1]):
            if ":" in p:
                k, v = p.split(":", 1)
                kv[k.strip().lower()] = v.strip()

        def _scalar(v: str) -> str:
            return v.strip().strip("'\"")

        def _list(v: str) -> list[str]:
            v = v.strip()
            if v.startswith("[") and v.endswith("]"):
                v = v[1:-1]
            return [_scalar(c) for c in _split_mappings(v)]

        def _dict(v: str) -> dict[str, str]:
            v = v.strip()
            if v.startswith("{") and v.endswith("}"):
                v = v[1:-1]
            out: dict[str, str] = {}
            for item in _split_mappings(v):
                if ":" in item:
                    a, b = item.split(":", 1)
                    out[_scalar(a)] = _scalar(b)
            return out

        src = _scalar(kv.get("from", ""))
        if not src:
            raise ValueError(f"table mapping entry missing 'from': {part!r}")
        return TableMapping(
            source_table=src,
            destination_table=_scalar(kv.get("to", src)),
            exclude=_list(kv["exclude"]) if "exclude" in kv else [],
            renames=_dict(kv["rename"]) if "rename" in kv else {},
            type_overrides=_dict(kv["types"]) if "types" in kv else {},
            primary_keys=_list(kv["pk"]) if "pk" in kv else [],
            partition_key=_scalar(kv.get("key", "")),
        )
    if ":" in part:
        s, d = part.split(":", 1)
    else:
        s = d = part
    return TableMapping(source_table=s.strip(), destination_table=d.strip())


@dataclass
class Cursor:
    name: str
    iterator: Any
    columns: list[str]
    schema: Any = None  # StructType of the declared query


@dataclass
class MirrorState:
    status: str = "running"  # running | paused


class SqlSurface:
    """The psql-facing layer: execute() takes one statement, returns a
    DataFrame (queries/FETCH) or a status dict (DDL/signals)."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        read_only: bool = False,
        allow_control: bool = False,
    ):
        self.spark = spark
        self.catalog = catalog
        self.cursors: dict[str, Cursor] = {}
        self.mirror_state: dict[str, MirrorState] = {}
        self.executors: dict[str, Any] = {}  # mirror name → callable
        # Switchboard operator mode (flow/switchboard/): a read-only surface
        # gates every PASSTHROUGH statement through the first-keyword
        # allowlist + bypass detection, AND refuses the engine's own
        # destructive control-plane statements (CREATE/DROP PEER,
        # CREATE/DROP/RESYNC MIRROR) — the reference's CheckQuery rejects
        # everything outside its allowlist, and "DROP MIRROR by accident" is
        # exactly the fat-finger class this mode exists for. Introspection
        # (SHOW, DECLARE/FETCH/CLOSE) and PAUSE/RESUME signals stay
        # available; pass allow_control=True for an operator console that
        # should keep mutating powers while queries stay read-only.
        self.read_only = read_only
        self.allow_control = allow_control

    # -- statement router (ref: nexus/query-router/src/lib.rs Route) ------
    def execute(self, stmt: str):
        destructive = {
            self._create_peer, self._drop_peer, self._create_mirror_qrep,
            self._create_mirror_cdc, self._drop_mirror, self._resync_mirror,
        }
        for pat, fn in [
            (_CREATE_PEER, self._create_peer),
            (_DROP_PEER, self._drop_peer),
            (_CREATE_MIRROR_QREP, self._create_mirror_qrep),
            (_CREATE_MIRROR_CDC, self._create_mirror_cdc),
            (_DROP_MIRROR, self._drop_mirror),
            (_RESYNC_MIRROR, self._resync_mirror),
            (_MIRROR_SIGNAL, self._mirror_signal),
            (_SHOW, self._show),
            (_DECLARE_CURSOR, self._declare_cursor),
            (_FETCH, self._fetch),
            (_CLOSE, self._close),
        ]:
            m = pat.match(stmt)
            if m:
                if self.read_only and not self.allow_control and fn in destructive:
                    from peerdb_spark.switchboard import GuardrailError

                    raise GuardrailError(
                        "destructive control-plane statement not allowed in "
                        "read-only mode (pass allow_control=True to permit)"
                    )
                return fn(m)
        # pass-through: Catalyst handles standard SQL (ref: §3.2 — our "peer"
        # is the Spark catalog itself, so no dialect rewrite is needed)
        if self.read_only:
            from peerdb_spark.switchboard import check_query

            check_query(stmt, read_only=True)
        return self.spark.sql(stmt)

    # -- peers ------------------------------------------------------------
    def _create_peer(self, m) -> dict:
        name, kind, opts = m.group(1), m.group(2).lower(), _parse_with_options(m.group(3))
        self.catalog.create_peer(
            Peer(name=name, kind=kind, path=str(opts.pop("path", "")), options={k: str(v) for k, v in opts.items()})
        )
        return {"ok": True, "peer": name}

    def _drop_peer(self, m) -> dict:
        self.catalog.drop_peer(m.group(1))
        return {"ok": True}

    # -- mirrors ----------------------------------------------------------
    def _create_mirror_qrep(self, m) -> dict:
        name, src, dst, query, opts = (
            m.group(1), m.group(2), m.group(3), m.group(4), _parse_with_options(m.group(5)),
        )
        cfg = MirrorConfig(
            name=name, kind="qrep", source_peer=src, destination_peer=dst, query=query,
            watermark_column=str(opts.get("watermark_column", "")),
            write_mode=str(opts.get("mode", "append")),
            upsert_key_columns=[
                c.strip() for c in str(opts.get("unique_key_columns", "")).split(",") if c.strip()
            ],
            num_rows_per_partition=int(opts.get("num_rows_per_partition", 250_000)),
        )
        self.catalog.create_mirror(cfg)
        self.mirror_state[name] = MirrorState()
        return {"ok": True, "mirror": name, "kind": "qrep"}

    def _create_mirror_cdc(self, m) -> dict:
        name, src, dst, mapping_raw, opts_raw = (
            m.group(1), m.group(2), m.group(3), m.group(4), m.group(5),
        )
        opts = _parse_with_options(opts_raw)
        mappings = [_parse_mapping_entry(part) for part in _split_mappings(mapping_raw)]
        cfg = MirrorConfig(
            name=name, kind="cdc", source_peer=src, destination_peer=dst,
            table_mappings=mappings,
            max_batch_size=int(opts.get("max_batch_size", 250_000)),
            idle_timeout_seconds=int(opts.get("idle_timeout_seconds", 60)),
            soft_delete_col_name=str(opts.get("soft_delete_col_name", "")),
            synced_at_col_name=str(opts.get("synced_at_col_name", "")),
            do_initial_copy=bool(opts.get("do_initial_copy", False)),
            resync=bool(opts.get("resync", False)),
            publication_name=str(opts.get("publication_name", "")),
            replication_slot_name=str(opts.get("replication_slot_name", "")),
            snapshot_num_rows_per_partition=int(
                opts.get("snapshot_num_rows_per_partition", 0)
            ),
        )
        self.catalog.create_mirror(cfg)
        self.mirror_state[name] = MirrorState()
        return {"ok": True, "mirror": name, "kind": "cdc"}

    def _drop_mirror(self, m) -> dict:
        name = m.group(1)
        self.catalog.drop_mirror(name)
        self.mirror_state.pop(name, None)
        return {"ok": True}

    def _resync_mirror(self, m) -> dict:
        """RESYNC MIRROR <name> (ref: nexus/analyzer/src/lib.rs:485-490
        ResyncMirror → the reference drops and recreates the mirror with
        resync=true): arm the resync flag and clear the initial-copy marker
        so the NEXT EXECUTE re-clones every destination through the atomic
        staging swap (tombstones carried), then proceeds incrementally."""
        name = m.group(1)
        cfg = self.catalog.get_mirror(name)
        cfg.resync = True
        self.catalog.create_mirror(cfg)
        self.catalog.set_batch_id(f"{name}/initial_copy", 0)
        return {"ok": True, "mirror": name, "resync": True}

    def _show(self, m) -> DataFrame:
        """SHOW MIRRORS / SHOW PEERS — the operational introspection the
        reference serves from its catalog tables (nexus routes catalog
        queries to the Postgres catalog; one engine here, so these are
        first-class statements). Returns a DataFrame like any query."""
        what = m.group(1).lower()
        if what == "peers":
            rows = []
            for name in self.catalog.list_peers():
                p = self.catalog.get_peer(name)
                rows.append((p.name, p.kind, p.path))
            return self.spark.createDataFrame(
                rows, "peer string, kind string, path string"
            )
        rows = []
        for name in self.catalog.list_mirrors():
            cfg = self.catalog.get_mirror(name)
            st = self.mirror_state.get(name)
            last_wm = self.catalog.get_last_watermark(name)
            rows.append(
                (
                    cfg.name,
                    cfg.kind,
                    cfg.source_peer,
                    cfg.destination_peer,
                    st.status if st else "unknown",
                    str(last_wm) if last_wm is not None else None,
                    len(cfg.table_mappings or []),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "mirror string, kind string, source_peer string, "
            "destination_peer string, status string, last_watermark string, "
            "n_tables int",
        )

    def _mirror_signal(self, m) -> dict:
        action, name = m.group(1).lower(), m.group(2)
        st = self.mirror_state.setdefault(name, MirrorState())
        if action == "pause":
            st.status = "paused"
        elif action == "resume":
            st.status = "running"
        elif action == "execute":
            runner = self.executors.get(name)
            if runner is not None and st.status == "running":
                result = runner()
                return {"ok": True, "mirror": name, "status": st.status, "result": result}
        return {"ok": True, "mirror": name, "status": st.status}

    def register_destination(self, view_name: str, table) -> None:
        """Expose a mirrored destination table to pass-through SQL (the nexus
        behavior: interactive SELECTs against replicated data). `table` is a
        ParquetTable; the view re-reads on each query so it always reflects
        the latest normalize."""
        table.read().createOrReplaceTempView(view_name)

    def refresh_destination(self, view_name: str, table) -> None:
        """Re-register after a merge swapped files (Spark caches file listings
        per view)."""
        self.register_destination(view_name, table)

    def bind_qrep(self, mirror_name: str, source: DataFrame, dest_path: str) -> None:
        """Wire EXECUTE MIRROR to the QRep engine for a created mirror: each
        EXECUTE runs one incremental sync pass against `source` (the analogue
        of the reference's run-now signal on a QRep workflow)."""
        from peerdb_spark.qrep import QRepEngine

        engine = QRepEngine(self.spark, self.catalog)
        cfg = self.catalog.get_mirror(mirror_name)

        def run():
            return engine.run(cfg, source, dest_path)

        self.executors[mirror_name] = run

    def bind_cdc(
        self,
        mirror_name: str,
        pipeline,
        changelog: DataFrame,
        initial_sources: dict[str, DataFrame] | None = None,
    ) -> None:
        """Wire EXECUTE MIRROR to a CdcPipeline: each EXECUTE pulls the
        changelog rows past the recorded checkpoint, cuts them into
        transaction-atomic batches (cut_batches), runs each through
        pipeline.process_batch (sync, then normalize on the pipeline's
        cadence), and advances the catalog batch id and checkpoint
        watermark — the run-now signal on a CDC flow (ref: cdc_flow.go
        signal handling).

        The checkpoint watermark is read back from the RAW table written by
        the sync (stable data), never from a re-scan of the live changelog —
        the same planning-race rule as QRepEngine.run.

        `changelog` may be a DataFrame or a zero-arg callable returning one
        (pass a callable when the source grows between EXECUTEs — Spark pins
        a DataFrame's file listing at creation).

        `initial_sources` maps dst_table → source DataFrame. With the
        mirror's do_initial_copy option (ref: analyzer lib.rs:208), the first
        EXECUTE snapshots each mapped destination before consuming changes;
        with resync, the next EXECUTE re-clones with the atomic staging swap
        (tombstones carried forward) and clears the flag, like the
        reference's resync-once workflow restart."""
        from pyspark.sql import functions as F

        from peerdb_spark import cdc as C
        from peerdb_spark.snapshot import resync_table

        def _initial_copy():
            # re-read per run: a RESYNC MIRROR statement may have armed the
            # resync flag and reset the marker since bind time
            cfg = self.catalog.get_mirror(mirror_name)
            done_key = f"{mirror_name}/initial_copy"
            if not initial_sources or self.catalog.get_batch_id(done_key) != 0:
                return 0
            copied = 0
            for dst, src in initial_sources.items():
                tcfg = pipeline.tables.get(dst)
                if tcfg is None:
                    continue
                if cfg.resync:
                    resync_table(src, pipeline._table(tcfg),
                                 soft_delete_col=tcfg.soft_delete_col)
                else:
                    pipeline.add_table(tcfg, backfill=src)
                copied += 1
            self.catalog.set_batch_id(done_key, 1)  # once, like the reference
            return copied

        def run():
            cfg = self.catalog.get_mirror(mirror_name)
            snapshots = _initial_copy() if (cfg.do_initial_copy or cfg.resync) else 0
            last = self.catalog.get_last_watermark(mirror_name)
            src = changelog() if callable(changelog) else changelog
            chg = (
                src.where(F.col("_checkpoint_id") > F.lit(last))
                if last is not None
                else src
            )
            batched = C.cut_batches(chg, cfg.max_batch_size)
            # one bounded collect (a row per batch) drives the loop, the
            # watermark, AND the monitoring rows — replaces the old
            # distinct-collect + post-hoc raw re-scan (one less full pass)
            stats = {
                r["_batch_no"]: r
                for r in batched.groupBy("_batch_no")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.min("_checkpoint_id").alias("lo"),
                    F.max("_checkpoint_id").alias("hi"),
                )
                .collect()
            }
            nums = sorted(stats)
            if not nums:
                return {"mirror": mirror_name, "batches": 0, "rows": 0,
                        "snapshots": snapshots}
            base = self.catalog.get_batch_id(mirror_name)
            for i, bn in enumerate(nums):
                bid = base + i + 1
                merged = pipeline.process_batch(
                    batched.where(F.col("_batch_no") == bn).drop("_batch_no"), bid
                )
                s = stats[bn]
                self.catalog.record_batch_metrics(
                    mirror_name, bid, s["n"], s["lo"], s["hi"]
                )
                if merged:
                    # normalize-staleness gauge for AlertIfTooLongSinceLastNormalize
                    # (ref: flow/alerting/alerting.go:243-283)
                    self.catalog.set_last_normalize_ts(mirror_name, time.time())
            self.catalog.set_batch_id(mirror_name, base + len(nums))
            # watermark = max end of the batches actually pulled (never a
            # live re-scan — same rule as qrep.run, see ADVICE round 1)
            his = [s["hi"] for s in stats.values() if s["hi"] is not None]
            if his:
                self.catalog.set_last_watermark(mirror_name, max(his))
            return {"mirror": mirror_name, "batches": len(nums),
                    "rows": int(sum(s["n"] for s in stats.values())),
                    "snapshots": snapshots}

        self.executors[mirror_name] = run

    # -- cursors (ref: nexus/peer-cursor) ---------------------------------
    def _declare_cursor(self, m) -> dict:
        name, query = m.group(1), m.group(2)
        df = self.spark.sql(query)
        self.cursors[name] = Cursor(name, df.toLocalIterator(), df.columns, df.schema)
        return {"ok": True, "cursor": name}

    def _fetch(self, m):
        n, name = int(m.group(1)), m.group(2)
        cur = self.cursors[name]
        rows = []
        for _ in range(n):
            try:
                rows.append(next(cur.iterator))
            except StopIteration:
                break
        # always use the declared schema: an exhausted cursor still returns a
        # correctly-typed empty relation
        return self.spark.createDataFrame(rows, schema=cur.schema)

    def _close(self, m) -> dict:
        self.cursors.pop(m.group(1), None)
        return {"ok": True}
