"""pgoutput logical-replication decoder: Postgres WAL binary messages →
canonical changelog rows.

The wire grammar is the PUBLIC pgoutput protocol (PostgreSQL docs,
"Logical Streaming Replication Protocol" / protocol message formats):
  'B' Begin    : final_lsn u64, commit_ts i64 (µs since 2000-01-01), xid u32
  'C' Commit   : flags u8, commit_lsn u64, end_lsn u64, commit_ts i64
  'R' Relation : oid u32, namespace cstr, relname cstr, replident u8,
                 ncols u16, [flags u8, colname cstr, type_oid u32, typmod i32]
  'I' Insert   : oid u32, 'N', TupleData
  'U' Update   : oid u32, ['K'|'O' TupleData], 'N', TupleData
  'D' Delete   : oid u32, 'K'|'O', TupleData
  'M' Message  : flags u8, lsn u64, prefix cstr, len u32 + content
                 → _kind='message' rows (reference: MessageRecord)
  'T' Truncate : nrels u32, options u8, oids — parsed, skipped (reference
                 leaves truncate unhandled); 'Y'/'O' (type/origin): skipped
  TupleData    : ncols u16, per column 'n' (null) | 'u' (unchanged TOAST)
                 | 't' len u32 + text bytes | 'b' len u32 + binary bytes

Reference parity (studied, not copied): flow/connectors/postgres/cdc.go
processes the same message kinds via pglogrepl (cdc.go:1029-1060), tracks
the relation-message mapping (cdc.go:52), maps 'u' tuple columns to
unchanged-TOAST columns and 'K'/'O' old tuples to match data
(cdc.go:247-356), and stamps records with commit timestamp and LSN
checkpoint. Delete old-tuples become the row image (_old_data), exactly as
raw_to_changelog expects.

Execution model: a replication slot is a SEQUENTIAL stream — relation
schemas and the open transaction are running state, so decode order is the
WAL order. The reference decodes on one replication connection per slot;
here `decode_pgoutput` runs the same sequential kernel per slot via
applyInPandas grouped on slot id (parallelism across slots/mirrors, exactly
the reference's model). The pure-Python kernel (`PgOutputDecoder`) is
independently testable without Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import struct
from dataclasses import dataclass, field

from peerdb_spark.registry import atomic_write

# pgoutput timestamps: microseconds since 2000-01-01 UTC
_PG_EPOCH = dt.datetime(2000, 1, 1)


@dataclass
class _Relation:
    oid: int
    namespace: str
    name: str
    columns: list[str] = field(default_factory=list)
    key_flags: list[bool] = field(default_factory=list)  # part of replica identity
    type_oids: list[int] = field(default_factory=list)
    typmods: list[int] = field(default_factory=list)

    @property
    def qualified(self) -> str:
        return f"{self.namespace}.{self.name}" if self.namespace else self.name


# PG catalog type OID → Spark DDL type. The reference's equivalent map is
# PostgresOIDToQValueKind (flow/connectors/postgres/type_conversion.go:13-90);
# values the engine treats as opaque/exotic strings (uuid/json/inet/interval/
# time/hstore — see functions/exotic.py) map to string here, exactly like the
# reference's QValueKind→warehouse-string fallbacks.
_PG_OID_DDL: dict[int, str] = {
    16: "boolean",        # bool
    21: "smallint",       # int2
    23: "int",            # int4
    20: "bigint",         # int8
    700: "float",         # float4
    701: "double",        # float8
    18: "string", 19: "string",            # "char", name
    25: "string", 1042: "string", 1043: "string",  # text, bpchar, varchar
    17: "binary",         # bytea (wire-decoded to hex text, typed binary dst)
    114: "string", 3802: "string",  # json, jsonb
    2950: "string",       # uuid
    1082: "date",
    1083: "string", 1266: "string",  # time, timetz (no Spark TIME type)
    1114: "timestamp_ntz",  # timestamp (no tz)
    1184: "timestamp",      # timestamptz
    790: "string",        # money (exotic.py parses)
    869: "string", 650: "string",   # inet, cidr
    829: "string",        # macaddr
    1186: "string",       # interval (exotic.py parses ISO8601)
    1560: "string", 1562: "string",  # bit, varbit
}

VARHDRSZ = 4


def pg_oid_to_spark_ddl(type_oid: int, typmod: int = -1) -> str:
    """Map a pgoutput Relation column type to a Spark DDL type string.

    numeric (1700) honors the typmod precision/scale exactly like the
    reference (flow/pkg/common/numeric.go ParseNumericTypmod: subtract
    VARHDRSZ, high 15 bits precision, low 15 bits scale) with the same
    (38, 20) default for typmod -1 (flow/shared/datatypes/numeric.go
    DefaultPrecisionAndScale). Unknown OIDs fall back to string — the
    reference's warn-once-and-treat-as-text path."""
    if type_oid == 1700:  # numeric
        if typmod == -1:
            return "decimal(38,20)"
        off = typmod - VARHDRSZ
        precision = (off >> 16) & 0x7FFF
        scale = off & 0x7FFF
        if precision == 0:
            return "decimal(38,20)"
        return f"decimal({min(precision, 38)},{min(scale, 37)})"
    return _PG_OID_DDL.get(type_oid, "string")


def relation_value_schema(rel: _Relation):
    """StructType for a relation's row images, derived from the WIRE (the
    Relation message's type OIDs) — the driver can bootstrap a
    CdcTableConfig.value_schema from the first WAL chunk instead of hand-
    writing one. Mirrors the reference building its TableSchema from the
    relation metadata (flow/connectors/postgres/cdc.go relation handling)."""
    from pyspark.sql import types as T

    fields = []
    for i, name in enumerate(rel.columns):
        oid = rel.type_oids[i] if i < len(rel.type_oids) else 25
        mod = rel.typmods[i] if i < len(rel.typmods) else -1
        ddl = pg_oid_to_spark_ddl(oid, mod)
        fields.append(T.StructField(name, _parse_ddl_type(ddl), True))
    return T.StructType(fields)


def _parse_ddl_type(ddl: str):
    from pyspark.sql import types as T

    return T._parse_datatype_string(ddl)


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def u8(self) -> int:
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def u16(self) -> int:
        (v,) = struct.unpack_from(">H", self.buf, self.pos)
        self.pos += 2
        return v

    def u32(self) -> int:
        (v,) = struct.unpack_from(">I", self.buf, self.pos)
        self.pos += 4
        return v

    def i32(self) -> int:
        (v,) = struct.unpack_from(">i", self.buf, self.pos)
        self.pos += 4
        return v

    def u64(self) -> int:
        (v,) = struct.unpack_from(">Q", self.buf, self.pos)
        self.pos += 8
        return v

    def i64(self) -> int:
        (v,) = struct.unpack_from(">q", self.buf, self.pos)
        self.pos += 8
        return v

    def cstr(self) -> str:
        end = self.buf.index(b"\x00", self.pos)
        s = self.buf[self.pos:end].decode("utf-8")
        self.pos = end + 1
        return s

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos:self.pos + n]
        self.pos += n
        return b


def _read_tuple(r: _Reader) -> list[tuple[str, bytes | None]]:
    """TupleData → [(kind, value_bytes)]; kind ∈ n/u/t/b."""
    ncols = r.u16()
    out = []
    for _ in range(ncols):
        kind = chr(r.u8())
        if kind in ("n", "u"):
            out.append((kind, None))
        elif kind in ("t", "b"):
            ln = r.u32()
            out.append((kind, r.take(ln)))
        else:
            raise ValueError(f"bad TupleData column kind: {kind!r}")
    return out


_U32 = struct.Struct(">I").unpack_from


def _tuple_row(buf: bytes, pos: int, cols: list[str]):
    """Flat TupleData scan fused with row-dict construction (the decode_all
    hot path): returns ({col: value}, [unchanged cols], new pos). Matches
    _read_tuple + _row_json/_unchanged exactly — 'u' columns are absent
    from the dict, 'b' values hex-encode, columns beyond the Relation's
    width are consumed but dropped (zip semantics)."""
    ncols = (buf[pos] << 8) | buf[pos + 1]
    pos += 2
    vals: dict = {}
    unchanged: list[str] = []
    ncol_known = len(cols)
    for i in range(ncols):
        k = buf[pos]
        pos += 1
        if k == 116:  # 't' text
            (ln,) = _U32(buf, pos)
            pos += 4
            if i < ncol_known:
                vals[cols[i]] = buf[pos:pos + ln].decode("utf-8")
            pos += ln
        elif k == 110:  # 'n' null
            if i < ncol_known:
                vals[cols[i]] = None
        elif k == 117:  # 'u' unchanged TOAST
            if i < ncol_known:
                unchanged.append(cols[i])
        elif k == 98:  # 'b' binary → hex text
            (ln,) = _U32(buf, pos)
            pos += 4
            if i < ncol_known:
                vals[cols[i]] = buf[pos:pos + ln].hex()
            pos += ln
        else:
            raise ValueError(f"bad TupleData column kind: {chr(k)!r}")
    return vals, unchanged, pos


class PgOutputDecoder:
    """Sequential pgoutput stream decoder (one replication slot's order).

    feed(lsn, payload) yields zero or more change dicts in CHANGELOG_SCHEMA
    shape. Relation messages mutate the schema mapping; Begin/Commit bracket
    transactions (records are stamped with the Begin's xid + commit_ts, like
    the reference stamps from the stream state)."""

    def __init__(self, child_to_parent: dict[str, str] | None = None):
        self.relations: dict[int, _Relation] = {}
        # latest raw 'R' payload per oid — the preamble for resumed decode
        # (see decode_pgoutput.relation_preamble)
        self.relation_messages: dict[int, bytes] = {}
        self.xid: int | None = None
        self.commit_ts: dt.datetime | None = None
        # protocol v2 streamed in-progress transactions (round 10 —
        # BEYOND the reference, which pins proto_version '1'
        # (flow/connectors/postgres/postgres_source.go:237) and therefore
        # only ever sees a large transaction after its commit): changes
        # arriving between StreamStart/StreamStop buffer per xid and emit
        # on StreamCommit in arrival order, stamped with the commit
        # timestamp; StreamAbort discards. Buffering is inherent to
        # consuming v2 under at-least-once semantics (uncommitted rows
        # must not reach the changelog); at 100 TB a giant transaction
        # buffers HERE instead of spiking walsender memory/latency on the
        # SOURCE at commit time, and the per-slot decode task can spill
        # it (the buffer is a plain list of row dicts).
        self._stream_xid: int | None = None
        self._pending: dict[int, list] = {}
        # Partitioned-table support (deep-dive §1.6, cdc.go
        # childToParentRelIDMapping): leaf partitions stream under their OWN
        # relation ids; with a qualified child→parent name mapping their
        # events are ATTRIBUTED to the parent destination (the reference
        # resolves the mapping from pg_inherits; engine-side it arrives with
        # the mirror's table config). Row JSON is keyed by column NAME, so
        # children whose column ORDER differs from the parent merge
        # correctly. Without a mapping (or with publish_via_partition_root,
        # where the stream already carries the parent) behavior is
        # unchanged.
        self.child_to_parent = dict(child_to_parent or {})

    def _row_json(self, rel: _Relation, tup) -> str:
        vals = {}
        for (kind, raw), col in zip(tup, rel.columns):
            if kind == "n":
                vals[col] = None
            elif kind == "u":
                continue  # unchanged TOAST: absent from the row image
            elif kind == "t":
                vals[col] = raw.decode("utf-8")
            else:  # 'b' binary → hex text (opaque, like bytea hex form)
                vals[col] = raw.hex()
        return json.dumps(vals)

    def _unchanged(self, rel: _Relation, tup) -> list[str]:
        return [c for (k, _), c in zip(tup, rel.columns) if k == "u"]

    def feed(self, lsn: int, payload: bytes):
        """Decode one WAL message. Malformed payloads (torn reads, replays
        of half-written segments) reject as ValueError with the LSN — the
        low-level escapes corruption triggers convert at this boundary so
        a Spark task sees a clean per-message error, not a raw
        struct/index fault."""
        try:
            # _feed is a generator: drain it HERE so decode errors surface
            # inside this try, not lazily at the caller's iteration
            out = self._feed(lsn, payload)
            return list(out) if out is not None else None
        except (struct.error, IndexError, OverflowError,
                UnicodeDecodeError) as e:
            raise ValueError(
                f"corrupt pgoutput message at lsn={lsn} "
                f"({type(e).__name__})"
            ) from e

    def _feed(self, lsn: int, payload: bytes):
        r = _Reader(payload)
        tag = chr(r.u8())
        if tag == "S":  # v2 StreamStart: xid, first_segment flag
            xid = r.u32()
            r.u8()
            self._stream_xid = xid
            self._pending.setdefault(xid, [])
            return
        if tag == "E":  # v2 StreamStop: segment ends (others may interleave)
            self._stream_xid = None
            return
        if tag == "c":  # v2 StreamCommit: emit the buffered transaction
            xid = r.u32()
            r.u8()   # flags
            r.u64()  # commit lsn
            r.u64()  # end lsn
            ts = _PG_EPOCH + dt.timedelta(microseconds=r.i64())
            for row in self._pending.pop(xid, []):
                row["_commit_ts"] = ts
                yield row
            return
        if tag == "A":  # v2 StreamAbort: xid, subtransaction xid
            xid = r.u32()
            subxid = r.u32()
            if subxid != xid:
                # rolling back a SUBtransaction requires subxact-boundary
                # tracking the pgoutput stream does not carry per row —
                # reject loudly rather than emit rows a subxact rollback
                # removed (full-transaction aborts are the common case)
                raise NotImplementedError(
                    "streamed SUBtransaction abort (savepoint rollback "
                    "inside a streamed transaction) is not supported")
            self._pending.pop(xid, None)
            return
        # inside a streamed segment, v2 prefixes R/I/U/D/T/M with the xid
        buffer_xid: int | None = None
        if self._stream_xid is not None and tag in "RIUDTM":
            buffer_xid = r.u32()
        if tag == "B":
            r.u64()  # final lsn
            self.commit_ts = _PG_EPOCH + dt.timedelta(microseconds=r.i64())
            self.xid = r.u32()
            return
        if tag == "C":
            self.xid = None
            return
        if tag == "R":
            oid = r.u32()
            rel = _Relation(oid, r.cstr(), r.cstr())
            r.u8()  # replica identity
            ncols = r.u16()
            for _ in range(ncols):
                flags = r.u8()
                rel.columns.append(r.cstr())
                rel.key_flags.append(bool(flags & 1))
                rel.type_oids.append(r.u32())
                rel.typmods.append(r.i32())
            self.relations[oid] = rel
            self.relation_messages[oid] = bytes(payload)
            return
        if tag == "M":
            # Logical-decoding message: flags u8 (1 = transactional), lsn u64,
            # prefix cstr, content len u32 + bytes. The reference surfaces
            # these as MessageRecord{Prefix, Content} and advances the
            # checkpoint for non-transactional ones
            # (flow/connectors/postgres/cdc.go:1074-1086); here they become
            # _kind='message' changelog rows (record type 4, normalize.py
            # KIND_MESSAGE) with the payload under _data. Content is utf-8
            # text when valid (pg_logical_emit_message text payloads), hex
            # otherwise — deterministic either way.
            flags = r.u8()
            msg_lsn = r.u64()
            prefix = r.cstr()
            content = r.take(r.u32())
            try:
                body = {"prefix": prefix, "content": content.decode("utf-8"),
                        "encoding": "utf8"}
            except UnicodeDecodeError:
                body = {"prefix": prefix, "content": content.hex(),
                        "encoding": "hex"}
            transactional = bool(flags & 1)
            # a NON-transactional message inside a streamed segment is
            # yielded immediately and carries NO txid (it is not part of
            # the streamed transaction — v1 path semantics); transactional
            # ones buffer under the stream xid and get the commit ts
            # stamped at StreamCommit
            row = {
                "_kind": "message",
                "_checkpoint_id": msg_lsn if msg_lsn else lsn,
                "_commit_ts": (None if buffer_xid is not None
                               else (self.commit_ts if transactional else None)),
                "_txid": ((buffer_xid if buffer_xid is not None else self.xid)
                          if transactional else None),
                "_src_table": None,
                "_dst_table": None,
                "_data": json.dumps(body),
                "_old_data": None,
                "_unchanged_cols": None,
            }
            if buffer_xid is not None and transactional:
                self._pending.setdefault(buffer_xid, []).append(row)
            else:
                yield row
            return
        if tag == "T":
            # Truncate: nrels u32, options u8 (1=CASCADE, 2=RESTART IDENTITY),
            # relation oids. The reference leaves truncate unhandled (the
            # pglogrepl default warn-once branch, cdc.go:1087-1092); we parse
            # the structure so a corrupt stream fails loudly, then skip —
            # matching reference semantics (no truncate propagation).
            nrels = r.u32()
            r.u8()
            for _ in range(nrels):
                r.u32()
            return
        if tag in ("Y", "O"):
            return
        if tag not in ("I", "U", "D"):
            raise ValueError(f"unknown pgoutput message tag: {tag!r}")

        oid = r.u32()
        rel = self.relations.get(oid)
        if rel is None:
            raise ValueError(f"{tag} message for unknown relation oid {oid}")
        old_tup = None
        new_tup = None
        if tag == "I":
            marker = chr(r.u8())
            if marker != "N":
                raise ValueError(f"insert without N tuple: {marker!r}")
            new_tup = _read_tuple(r)
            kind = "insert"
        elif tag == "U":
            marker = chr(r.u8())
            if marker in ("K", "O"):
                old_tup = _read_tuple(r)
                marker = chr(r.u8())
            if marker != "N":
                raise ValueError(f"update without N tuple: {marker!r}")
            new_tup = _read_tuple(r)
            kind = "update"
        else:
            marker = chr(r.u8())
            if marker not in ("K", "O"):
                raise ValueError(f"delete without K/O tuple: {marker!r}")
            old_tup = _read_tuple(r)
            kind = "delete"

        row = {
            "_kind": kind,
            "_checkpoint_id": lsn,
            "_commit_ts": None if buffer_xid is not None else self.commit_ts,
            "_txid": buffer_xid if buffer_xid is not None else self.xid,
            # provenance keeps the leaf partition; attribution (what
            # normalize groups by) maps leaf → parent when configured
            "_src_table": rel.qualified,
            "_dst_table": self.child_to_parent.get(rel.qualified, rel.qualified),
            "_data": self._row_json(rel, new_tup) if new_tup is not None else None,
            "_old_data": self._row_json(rel, old_tup) if old_tup is not None else None,
            "_unchanged_cols": self._unchanged(rel, new_tup) if new_tup is not None else None,
        }
        if buffer_xid is not None:
            self._pending.setdefault(buffer_xid, []).append(row)
        else:
            yield row

    def replay(self, payload: bytes) -> None:
        """Eagerly execute feed() for a control/preamble message. feed is a
        GENERATOR — calling it without iterating runs nothing — so state
        mutations (Relation registration) need this driver."""
        for _ in self.feed(0, payload) or ():
            pass

    def value_schema(self, qualified: str):
        """Typed value schema for a decoded relation (None if the stream has
        not carried its Relation message yet). Driver-side bootstrap: feed
        the first WAL chunk, then build CdcTableConfig from the wire."""
        for rel in self.relations.values():
            if rel.qualified == qualified:
                return relation_value_schema(rel)
        return None

    def key_columns(self, qualified: str) -> list[str] | None:
        """Replica-identity (primary key) columns from the Relation flags."""
        for rel in self.relations.values():
            if rel.qualified == qualified:
                return [c for c, k in zip(rel.columns, rel.key_flags) if k]
        return None

    def stream_state(self) -> dict | None:
        """JSON-serializable snapshot of the protocol-v2 streamed-transaction
        state: the open segment's xid (if the input ended mid-segment) and
        every xid's buffered-but-uncommitted rows. None when no streamed
        transaction is in flight — the common case, so carriers store
        nothing between batches that end on commit boundaries.

        Buffered rows are plain dicts whose only non-JSON field
        (_commit_ts) is always None until StreamCommit stamps it, so
        json.dumps(state) round-trips exactly. This is the v2 analogue of
        decode_pgoutput's relation_preamble: serialize it after a batch,
        replay via load_stream_state before the next, and a streamed
        transaction spanning micro-batches emits complete at its
        StreamCommit instead of silently dropping the earlier batch's rows
        (and a batch that starts mid-segment strips xid prefixes instead
        of misreading them as relation oids)."""
        if self._stream_xid is None and not self._pending:
            return None
        return {
            "stream_xid": self._stream_xid,
            "pending": {str(x): rows for x, rows in self._pending.items()},
        }

    def load_stream_state(self, state: dict | None) -> None:
        """Restore a stream_state() snapshot (dict or its json.loads)."""
        if not state:
            return
        self._stream_xid = state.get("stream_xid")
        self._pending = {
            int(x): [dict(r) for r in rows]
            for x, rows in (state.get("pending") or {}).items()
        }

    def _decode_dml(self, lsn: int, payload: bytes) -> dict | None:
        """Flat decode of one I/U/D message — the decode_all hot path.
        Behavior-identical to _feed's DML branch (same row dicts, same
        error messages, same v2 buffering) with the _Reader method calls,
        generator machinery, and intermediate (kind, bytes) tuple list
        flattened out (~2.5x on insert-heavy WAL: SCALING.md section
        "Round-12: WAL streaming decode").
        Returns the row, or None when it buffered under a streamed xid."""
        buf = payload
        tag = buf[0]
        pos = 1
        buffer_xid = None
        if self._stream_xid is not None:
            (buffer_xid,) = _U32(buf, 1)
            pos = 5
        (oid,) = _U32(buf, pos)
        pos += 4
        rel = self.relations.get(oid)
        if rel is None:
            raise ValueError(
                f"{chr(tag)} message for unknown relation oid {oid}")
        cols = rel.columns
        old_vals = new_vals = None
        old_unchanged = new_unchanged = None  # noqa: F841 — symmetry
        if tag == 73:  # 'I'
            if buf[pos] != 78:
                raise ValueError(
                    f"insert without N tuple: {chr(buf[pos])!r}")
            new_vals, new_unchanged, pos = _tuple_row(buf, pos + 1, cols)
            kind = "insert"
        elif tag == 85:  # 'U'
            m = buf[pos]
            if m in (75, 79):  # 'K' / 'O'
                old_vals, old_unchanged, pos = _tuple_row(buf, pos + 1, cols)
                m = buf[pos]
            if m != 78:
                raise ValueError(f"update without N tuple: {chr(m)!r}")
            new_vals, new_unchanged, pos = _tuple_row(buf, pos + 1, cols)
            kind = "update"
        else:  # 'D'
            m = buf[pos]
            if m not in (75, 79):
                raise ValueError(f"delete without K/O tuple: {chr(m)!r}")
            old_vals, old_unchanged, pos = _tuple_row(buf, pos + 1, cols)
            kind = "delete"
        qualified = rel.qualified
        row = {
            "_kind": kind,
            "_checkpoint_id": lsn,
            "_commit_ts": None if buffer_xid is not None else self.commit_ts,
            "_txid": buffer_xid if buffer_xid is not None else self.xid,
            "_src_table": qualified,
            "_dst_table": self.child_to_parent.get(qualified, qualified),
            "_data": json.dumps(new_vals) if new_vals is not None else None,
            "_old_data": json.dumps(old_vals) if old_vals is not None else None,
            "_unchanged_cols": (new_unchanged if new_vals is not None
                                else None),
        }
        if buffer_xid is not None:
            self._pending.setdefault(buffer_xid, []).append(row)
            return None
        return row

    def decode_all(self, messages, carry: bool = False) -> list[dict]:
        """messages: iterable of (lsn, payload) in WAL order.

        By default an input that ends with protocol-v2 streamed-transaction
        state still in flight (an open StreamStart segment, or buffered
        rows whose StreamCommit has not arrived) REJECTS: finishing a
        decode there and discarding the buffers would silently drop
        committed data when the commit arrives in a later chunk. Callers
        that decode a continuing stream in chunks pass carry=True and
        persist stream_state() into the next chunk's decoder.

        DML messages (I/U/D — the volume) take _decode_dml's flat path;
        everything else (transaction control, Relation, stream segments,
        messages, truncate) routes through feed()."""
        out: list[dict] = []
        append = out.append
        extend = out.extend
        feed = self.feed
        decode_dml = self._decode_dml
        for lsn, payload in messages:
            if payload and payload[0] in (73, 85, 68):  # I / U / D
                try:
                    row = decode_dml(lsn, payload)
                except (struct.error, IndexError, OverflowError,
                        UnicodeDecodeError) as e:
                    raise ValueError(
                        f"corrupt pgoutput message at lsn={lsn} "
                        f"({type(e).__name__})"
                    ) from e
                if row is not None:
                    append(row)
            else:
                extend(feed(lsn, payload) or [])
        if not carry and (self._stream_xid is not None or self._pending):
            n = sum(len(v) for v in self._pending.values())
            raise ValueError(
                "pgoutput input ended inside streamed transaction(s) "
                f"xids={sorted(self._pending) or [self._stream_xid]} with "
                f"{n} buffered uncommitted rows — decode through the "
                "StreamCommit, or pass carry=True and persist "
                "stream_state() for the next chunk")
        return out


STREAM_STATE_KIND = "stream_state"


def decode_pgoutput(messages_df, slot_col: str = "slot", lsn_col: str = "lsn",
                    payload_col: str = "payload",
                    relation_preamble: list[bytes] | None = None,
                    child_to_parent: dict[str, str] | None = None,
                    stream_state: dict | None = None,
                    on_incomplete: str = "error",
                    state_dir: str | None = None):
    """Distributed decode: DataFrame(slot, lsn, payload binary) → changelog
    rows (CHANGELOG_SCHEMA columns). Each slot's messages decode sequentially
    in WAL (lsn) order inside one applyInPandas group — the slot IS the unit
    of parallelism, matching one-replication-connection-per-slot. The Python
    kernel is the honest choice here: this is binary wire decode, not
    relational work, and it runs Arrow-batched off the hot merge path.

    `relation_preamble`: raw Relation ('R') messages replayed into each
    group's decoder BEFORE its stream. Needed when decode runs per
    micro-batch (streaming foreachBatch): a fresh decoder per batch would
    lose Relation state carried in earlier batches. Postgres re-sends
    Relation messages per replication session (pglogrepl behavior the
    reference relies on — flow/connectors/postgres/cdc.go relation cache);
    the preamble is the engine-side equivalent for resumed decode. Collect
    it from `PgOutputDecoder.relation_messages` after any prior decode.

    `stream_state`: per-slot protocol-v2 carry — {slot value: state dict
    from PgOutputDecoder.stream_state()} harvested from the PREVIOUS
    micro-batch, restoring open streamed segments and buffered
    uncommitted rows so a streamed transaction spanning batches emits
    complete at its StreamCommit.

    `on_incomplete` decides what happens when a slot's batch ENDS with
    streamed state still in flight:
      - "error" (default): raise — a one-shot decode must cover whole
        transactions or it silently loses the buffered rows.
      - "carry": emit ONE synthetic `_kind='stream_state'` row per such
        slot — `_src_table` = the slot, `_data` = the JSON state,
        `_checkpoint_id` = the earliest buffered row's checkpoint (the
        replay anchor). The caller filters these out of the changelog
        (they are decoder state, not change data), harvests them
        (bounded: ≤1 per slot) and passes them back as `stream_state`
        for the next batch. streaming.WalStreamRunner observes them as a
        metric of the job that materializes the decode, with no collect.

    `state_dir` (carry mode): when set, the state BODY is written by the
    EXECUTOR to a uniquely-named JSON file under this directory (shared
    storage — the raw dir in the runner) and the emitted row's `_data`
    is just a {"state_file": path} pointer; `stream_state` values may be
    pointers too (the kernel loads the file). This keeps the driver's
    per-batch traffic O(#slots) POINTERS even when an open streamed
    transaction has buffered gigabytes — the rows themselves never leave
    executor-side storage. Without state_dir the state travels inline
    (fine for tests and modest transactions).

    OWNERSHIP: each batch writes a NEW uuid-named file per carrying slot
    and never deletes superseded ones — deletion timing is a caller
    policy (a crashed batch may be replayed against the previous file).
    WalStreamRunner sweeps unreferenced files with every decoder-state
    record it persists; direct callers of this function with state_dir
    must do the same — call `sweep_stream_state_files(state_dir,
    keep=<the pointer states still replayable>)` once the batch's states
    are durably handed to the next batch, or the directory accumulates
    one orphaned stream_*.json per carrying slot per batch."""
    from peerdb_spark.cdc import CHANGELOG_SCHEMA

    if on_incomplete not in ("error", "carry"):
        raise ValueError("on_incomplete must be 'error' or 'carry'")
    out_schema = CHANGELOG_SCHEMA
    preamble = [bytes(p) for p in (relation_preamble or [])]
    c2p = dict(child_to_parent or {})
    carry_in = dict(stream_state or {})
    carry_mode = on_incomplete == "carry"
    sdir = state_dir

    def _decode(pdf):
        import os
        import uuid as _uuid

        import pandas as pd

        pdf = pdf.sort_values(lsn_col)
        slot = pdf[slot_col].iloc[0] if len(pdf) else None
        dec = PgOutputDecoder(child_to_parent=c2p)
        for p in preamble:
            dec.replay(p)
        incoming = carry_in.get(slot)
        if incoming and "state_file" in incoming:
            with open(incoming["state_file"]) as fh:
                incoming = json.load(fh)
        dec.load_stream_state(incoming)
        rows = dec.decode_all(zip(pdf[lsn_col], pdf[payload_col]),
                              carry=carry_mode)
        state = dec.stream_state()
        if state is not None:  # carry mode, else decode_all raised
            anchors = [r["_checkpoint_id"]
                       for rs in state["pending"].values() for r in rs]
            if sdir is not None:
                os.makedirs(sdir, exist_ok=True)
                path = os.path.join(
                    sdir, f"stream_{slot}_{_uuid.uuid4().hex}.json")
                atomic_write(path, json.dumps(state))
                body = json.dumps({"state_file": path})
            else:
                body = json.dumps(state)
            rows.append({
                "_kind": STREAM_STATE_KIND,
                "_checkpoint_id": min(anchors) if anchors else None,
                "_commit_ts": None,
                "_txid": state["stream_xid"],
                "_src_table": slot,
                "_dst_table": None,
                "_data": body,
                "_old_data": None,
                "_unchanged_cols": None,
            })
        cols = [f.name for f in out_schema.fields]
        if not rows:
            return pd.DataFrame({c: pd.Series(dtype="object") for c in cols})
        return pd.DataFrame(rows, columns=cols)

    return (
        messages_df.select(slot_col, lsn_col, payload_col)
        .groupBy(slot_col)
        .applyInPandas(_decode, schema=out_schema)
    )


def sweep_stream_state_files(state_dir: str, keep=()) -> list[str]:
    """Delete executor-written stream-state bodies (stream_*.json) under
    `state_dir` that are NOT referenced by `keep`, returning the paths
    removed. `keep` is an iterable of still-replayable states: pointer
    dicts ({"state_file": path}), inline state dicts (ignored — they own
    no file), or bare paths. The cleanup counterpart of decode_pgoutput's
    state_dir mode (WalStreamRunner._save_decoder_state keeps the streams
    of its two surviving records); call it after each batch with the
    states you will pass to the NEXT batch — anything a future decode
    could still replay must be in `keep`."""
    import os

    referenced = set()
    for st in keep:
        if isinstance(st, str):
            referenced.add(os.path.basename(st))
        elif isinstance(st, dict) and "state_file" in st:
            referenced.add(os.path.basename(st["state_file"]))
    removed: list[str] = []
    try:
        names = os.listdir(state_dir)
    except OSError:
        return removed
    for fn in names:
        if (fn.startswith("stream_") and fn.endswith(".json")
                and fn not in referenced):
            p = os.path.join(state_dir, fn)
            try:
                os.remove(p)
                removed.append(p)
            except OSError:
                pass
    return removed
