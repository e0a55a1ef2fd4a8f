"""Deterministic benchmark inputs, generated from a seed and cached by seed.

Two input families:

- A changelog feed (`cdc_trickle`, `cdc_lazy_rw`): a seed snapshot of
  `seed_rows` rows plus `max_batches` change batches of `batch_events`
  events each, one parquet file per batch in the engine's changelog schema.
- A pgoutput WAL backlog (`cdc_bulk_wal`): binary pgoutput messages spread
  over `slots` replication slots and `chunks` trigger-sized file groups.

Both families also write a flat `events.parquet` (one row per change event,
no JSON) and, for the feed, `seed.parquet`; the DuckDB reference in
`reference.py` reads only those flat files, never the engine's input format.

Generator rules that keep the reference well defined (they mirror what a
Postgres source emits):

- updates and deletes target live keys only; inserts use fresh keys, so no
  key is re-inserted after its delete;
- `note` is the TOAST-able column. Its value is fixed per key, so an update
  that marks it unchanged ('u') and one that carries it agree. An unchanged
  marker is only emitted for keys that are already in the destination when
  the batch is applied: seed keys for the feed, keys inserted in an earlier
  chunk for the WAL;
- commit timestamps rise with the checkpoint, so last-writer-wins by commit
  time and by checkpoint agree.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import struct

import pyarrow as pa
import pyarrow.parquet as pq

FLAGS = ("A", "B", "C", "D")
DST = "bench.items"
PG_EPOCH = dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc)
BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# event mix of both families: ~60% updates, ~15% deletes, ~25% inserts
P_UPDATE, P_DELETE = 0.60, 0.15
# share of updates that leave `note` TOAST-unchanged (when allowed)
P_UNCHANGED = 0.5

EVENT_SCHEMA = pa.schema([
    ("batch", pa.int64()),   # feed batch id / WAL chunk index
    ("slot", pa.int64()),
    ("ck", pa.int64()),      # checkpoint: global order in the feed, LSN in a WAL slot
    ("kind", pa.string()),
    ("pk", pa.int64()),
    ("qty", pa.int64()),
    ("flag", pa.string()),
    ("note", pa.string()),
    ("note_unchanged", pa.bool_()),
])

CHANGELOG_ARROW = pa.schema([
    ("_kind", pa.string()),
    ("_checkpoint_id", pa.int64()),
    ("_commit_ts", pa.timestamp("us", tz="UTC")),
    ("_txid", pa.int64()),
    ("_src_table", pa.string()),
    ("_dst_table", pa.string()),
    ("_data", pa.string()),
    ("_old_data", pa.string()),
    ("_unchanged_cols", pa.list_(pa.string())),
])

WAL_ARROW = pa.schema([("slot", pa.string()), ("lsn", pa.int64()), ("payload", pa.binary())])


def note_of(pk: int) -> str:
    return f"note-{pk:09d}-" + "t" * 48


def _ready(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_READY"))


CACHE_ENTRIES = 24


def _publish(tmp: str, path: str) -> str:
    """Atomically publish a finished cache entry (a crashed generation leaves
    only a tmp dir, which the next run discards), keeping the cache to the
    CACHE_ENTRIES most recent entries."""
    with open(os.path.join(tmp, "_READY"), "w") as fh:
        fh.write("ok")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    cache = os.path.dirname(path)
    entries = sorted((os.path.join(cache, e) for e in os.listdir(cache)),
                     key=os.path.getmtime)
    for old in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)
    return path


def _events_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in EVENT_SCHEMA]
    return pa.table([pa.array(c, type=f.type) for c, f in zip(cols, EVENT_SCHEMA)],
                    schema=EVENT_SCHEMA)


# -- changelog feed ----------------------------------------------------------


def feed(cache_dir: str, seed: int, seed_rows: int, batch_events: int,
         max_batches: int) -> str:
    """Generate (or reuse) the changelog feed for `seed`; returns its dir:
    seed.parquet, batches/b<k>.parquet for k in 1..max_batches,
    events.parquet and lookups.json (the just-written key each reader step
    looks up)."""
    key = f"feed-s{seed}-r{seed_rows}-e{batch_events}-b{max_batches}"
    path = os.path.join(cache_dir, key)
    if _ready(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "batches"))
    rng = random.Random(seed)

    seed_pk = list(range(seed_rows))
    seed_qty = [rng.randrange(1000) for _ in seed_pk]
    seed_flag = [FLAGS[rng.randrange(len(FLAGS))] for _ in seed_pk]
    pq.write_table(pa.table({
        "pk": pa.array(seed_pk, pa.int64()),
        "qty": pa.array(seed_qty, pa.int64()),
        "flag": pa.array(seed_flag, pa.string()),
        "note": pa.array([note_of(p) for p in seed_pk], pa.string()),
    }), os.path.join(tmp, "seed.parquet"))

    # live keys as a list plus index map: O(1) uniform pick and removal
    live = list(seed_pk)
    pos = {p: i for i, p in enumerate(live)}
    next_pk = seed_rows
    ck = 0
    events: list[tuple] = []
    lookups: dict[int, int] = {}

    def remove(p: int) -> None:
        i = pos.pop(p)
        last = live.pop()
        if last != p:
            live[i] = last
            pos[last] = i

    for b in range(1, max_batches + 1):
        kinds, cks, tss, datas, olds, uncs = [], [], [], [], [], []
        for _ in range(batch_events):
            ck += 1
            r = rng.random()
            if r < P_UPDATE and live:
                pk = live[rng.randrange(len(live))]
                qty, flag = rng.randrange(1000), FLAGS[rng.randrange(len(FLAGS))]
                unchanged = pk < seed_rows and rng.random() < P_UNCHANGED
                row = {"pk": pk, "qty": qty, "flag": flag}
                if not unchanged:
                    row["note"] = note_of(pk)
                kinds.append("update")
                datas.append(json.dumps(row))
                olds.append(None)
                uncs.append(["note"] if unchanged else None)
                events.append((b, 0, ck, "update", pk, qty, flag,
                               None if unchanged else note_of(pk), unchanged))
                lookups[b] = pk
            elif r < P_UPDATE + P_DELETE and len(live) > 1:
                pk = live[rng.randrange(len(live))]
                remove(pk)
                kinds.append("delete")
                datas.append(None)
                olds.append(json.dumps({"pk": pk}))
                uncs.append(None)
                events.append((b, 0, ck, "delete", pk, None, None, None, False))
            else:
                pk = next_pk
                next_pk += 1
                pos[pk] = len(live)
                live.append(pk)
                qty, flag = rng.randrange(1000), FLAGS[rng.randrange(len(FLAGS))]
                kinds.append("insert")
                datas.append(json.dumps(
                    {"pk": pk, "qty": qty, "flag": flag, "note": note_of(pk)}))
                olds.append(None)
                uncs.append(None)
                events.append((b, 0, ck, "insert", pk, qty, flag, note_of(pk), False))
                lookups[b] = pk
            cks.append(ck)
            tss.append(BASE_TS + dt.timedelta(milliseconds=ck))
        n = len(kinds)
        pq.write_table(pa.table([
            pa.array(kinds, pa.string()),
            pa.array(cks, pa.int64()),
            pa.array(tss, pa.timestamp("us", tz="UTC")),
            pa.array(cks, pa.int64()),
            pa.array([DST] * n, pa.string()),
            pa.array([DST] * n, pa.string()),
            pa.array(datas, pa.string()),
            pa.array(olds, pa.string()),
            pa.array(uncs, pa.list_(pa.string())),
        ], schema=CHANGELOG_ARROW), os.path.join(tmp, "batches", f"b{b}.parquet"))
    pq.write_table(_events_table(events), os.path.join(tmp, "events.parquet"))
    with open(os.path.join(tmp, "lookups.json"), "w") as fh:
        json.dump({str(k): v for k, v in lookups.items()}, fh)
    return _publish(tmp, path)


def feed_batch_path(feed_dir: str, batch: int) -> str:
    return os.path.join(feed_dir, "batches", f"b{batch}.parquet")


def feed_lookups(feed_dir: str) -> dict[int, int]:
    with open(os.path.join(feed_dir, "lookups.json")) as fh:
        return {int(k): v for k, v in json.load(fh).items()}


# -- pgoutput WAL backlog ------------------------------------------------------

REL_OID = 16400
WAL_COLS = ["pk", "qty", "flag", "note"]
TEXT_OID = 25


def _pg_us(ts: dt.datetime) -> int:
    return int((ts - PG_EPOCH).total_seconds() * 1_000_000)


def _enc_tuple(vals) -> bytes:
    b = struct.pack(">H", len(vals))
    for v in vals:
        if v is None:
            b += b"n"
        elif v == "u":
            b += b"u"
        else:
            raw = str(v).encode()
            b += b"t" + struct.pack(">I", len(raw)) + raw
    return b


def _enc_relation() -> bytes:
    b = b"R" + struct.pack(">I", REL_OID) + b"bench\x00items\x00"
    b += struct.pack(">BH", ord("d"), len(WAL_COLS))
    for c in WAL_COLS:
        b += struct.pack(">B", 1 if c == "pk" else 0) + c.encode() + b"\x00"
        b += struct.pack(">Ii", TEXT_OID, -1)
    return b


def _enc_insert(vals, xid=None) -> bytes:
    # inside a protocol-v2 streamed segment the message carries the xid
    prefix = b"" if xid is None else struct.pack(">I", xid)
    return b"I" + prefix + struct.pack(">I", REL_OID) + b"N" + _enc_tuple(vals)


def _enc_update(vals, old_key) -> bytes:
    # old-key image ('K'): key column set, the rest null
    return (b"U" + struct.pack(">I", REL_OID)
            + b"K" + _enc_tuple([old_key, None, None, None]) + b"N" + _enc_tuple(vals))


def _enc_delete(old_key) -> bytes:
    return (b"D" + struct.pack(">I", REL_OID)
            + b"K" + _enc_tuple([old_key, None, None, None]))


def wal(cache_dir: str, seed: int, slots: int, chunks: int, chunk_events: int,
        txn_events: int = 20) -> str:
    """Generate (or reuse) a pgoutput WAL backlog for `seed`; returns its dir:
    wal/c<chunk>_s<slot>.parquet (slot, lsn, payload) files whose mtimes
    order the chunks, so a file stream reading `slots` files per trigger
    applies exactly one chunk per trigger; plus events.parquet.

    Each slot owns a disjoint key range and draws updates and deletes from
    its live keys, which stay few, so a key repeats several times per chunk.
    Slot 0 carries one protocol-v2 streamed transaction that opens at the
    end of chunk 0 and commits at the start of chunk 1."""
    key = f"wal-s{seed}-l{slots}-c{chunks}-e{chunk_events}"
    path = os.path.join(cache_dir, key)
    if _ready(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "wal"))
    rng = random.Random(seed * 7919 + 17)
    events: list[tuple] = []
    streamed = chunks > 1
    per_chunk = max(chunk_events // slots, 1)
    for s in range(slots):
        base = (s + 1) * 100_000_000
        stream_base = base + 90_000_000
        live: list[int] = []
        pos: dict[int, int] = {}
        inserted_chunk: dict[int, int] = {}
        next_pk = base
        lsn = 0
        ts = BASE_TS + dt.timedelta(seconds=s)
        xid = 1000 + s * 1_000_000
        stream_xid = 999_000 + s
        stream_pks: list[int] = []
        for c in range(chunks):
            msgs: list[tuple[int, bytes]] = []

            def emit(payload: bytes) -> int:
                nonlocal lsn
                lsn += 1
                msgs.append((lsn, payload))
                return lsn

            if c == 0:
                emit(_enc_relation())
            if streamed and s == 0 and c == 1:
                # second segment and commit of the streamed transaction
                emit(b"S" + struct.pack(">IB", stream_xid, 0))
                for _ in range(max(per_chunk // 20, 1)):
                    pk = stream_base + len(stream_pks)
                    stream_pks.append(pk)
                    qty, flag = rng.randrange(1000), FLAGS[rng.randrange(len(FLAGS))]
                    events.append((c, s, emit(_enc_insert(
                        [pk, qty, flag, note_of(pk)], stream_xid)),
                        "insert", pk, qty, flag, note_of(pk), False))
                emit(b"E")
                ts += dt.timedelta(milliseconds=1)
                emit(b"c" + struct.pack(">IBQQq", stream_xid, 0, lsn, lsn, _pg_us(ts)))
            done = 0
            while done < per_chunk:
                xid += 1
                ts += dt.timedelta(milliseconds=1)
                emit(b"B" + struct.pack(">QqI", 0, _pg_us(ts), xid))
                for _ in range(min(txn_events, per_chunk - done)):
                    r = rng.random()
                    if r < P_UPDATE and live:
                        pk = live[rng.randrange(len(live))]
                        qty, flag = rng.randrange(1000), FLAGS[rng.randrange(len(FLAGS))]
                        unchanged = inserted_chunk[pk] < c and rng.random() < P_UNCHANGED
                        note = "u" if unchanged else note_of(pk)
                        events.append((c, s, emit(_enc_update([pk, qty, flag, note], pk)),
                                       "update", pk, qty, flag,
                                       None if unchanged else note, unchanged))
                    elif r < P_UPDATE + P_DELETE and len(live) > 1:
                        pk = live[rng.randrange(len(live))]
                        i = pos.pop(pk)
                        last = live.pop()
                        if last != pk:
                            live[i] = last
                            pos[last] = i
                        events.append((c, s, emit(_enc_delete(pk)),
                                       "delete", pk, None, None, None, False))
                    else:
                        pk = next_pk
                        next_pk += 1
                        pos[pk] = len(live)
                        live.append(pk)
                        inserted_chunk[pk] = c
                        qty, flag = rng.randrange(1000), FLAGS[rng.randrange(len(FLAGS))]
                        events.append((c, s, emit(_enc_insert([pk, qty, flag, note_of(pk)])),
                                       "insert", pk, qty, flag, note_of(pk), False))
                    done += 1
                emit(b"C" + struct.pack(">BQQq", 0, lsn, lsn, _pg_us(ts)))
            if streamed and s == 0 and c == 0:
                # first segment of the streamed transaction: still open when
                # the chunk (and so the trigger) ends
                emit(b"S" + struct.pack(">IB", stream_xid, 1))
                for _ in range(max(per_chunk // 20, 1)):
                    pk = stream_base + len(stream_pks)
                    stream_pks.append(pk)
                    qty, flag = rng.randrange(1000), FLAGS[rng.randrange(len(FLAGS))]
                    events.append((c, s, emit(_enc_insert(
                        [pk, qty, flag, note_of(pk)], stream_xid)),
                        "insert", pk, qty, flag, note_of(pk), False))
                emit(b"E")
            f = os.path.join(tmp, "wal", f"c{c}_s{s}.parquet")
            pq.write_table(pa.table([
                pa.array([f"slot{s}"] * len(msgs), pa.string()),
                pa.array([m[0] for m in msgs], pa.int64()),
                pa.array([m[1] for m in msgs], pa.binary()),
            ], schema=WAL_ARROW), f)
            # chunk order = file age order for the stream source
            t = 1_700_000_000 + c * 10
            os.utime(f, (t, t))
    pq.write_table(_events_table(events), os.path.join(tmp, "events.parquet"))
    return _publish(tmp, path)


def wal_event_count(wal_dir: str) -> int:
    return pq.read_metadata(os.path.join(wal_dir, "events.parquet")).num_rows
