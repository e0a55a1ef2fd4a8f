"""Streaming CDC end-to-end: file changelog → raw → normalized destinations,
with checkpoint restart and replay idempotency."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import types as T

from peerdb_spark import cdc
from peerdb_spark.storage import ParquetTable
from peerdb_spark.streaming import CdcStreamRunner

TS = dt.datetime(2024, 1, 1)

VAL = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)


def _write_changelog(spark, path, rows, fname):
    data = [
        {
            "_kind": k,
            "_checkpoint_id": c,
            "_commit_ts": TS + dt.timedelta(seconds=c),
            "_txid": c,
            "_src_table": "t",
            "_dst_table": "t",
            "_data": json.dumps(d) if d else None,
            "_old_data": json.dumps(o) if o else None,
            "_unchanged_cols": None,
        }
        for (k, c, d, o) in rows
    ]
    df = spark.createDataFrame(data, cdc.CHANGELOG_SCHEMA)
    df.coalesce(1).write.mode("append").parquet(path)


def test_stream_end_to_end_with_restart(spark, tmp_path):
    chg_dir = str(tmp_path / "chg")
    os.makedirs(chg_dir)
    dest = str(tmp_path / "t")
    runner = CdcStreamRunner(
        spark,
        changelog_dir=chg_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tables=[cdc.CdcTableConfig("t", ["id"], VAL, dest, n_buckets=4)],
        raw_path=str(tmp_path / "raw"),
    )

    # wave 1: inserts
    _write_changelog(
        spark, chg_dir, [("insert", i, {"id": i, "v": f"v{i}"}, None) for i in range(10)], "w1"
    )
    runner.run_available()
    t = ParquetTable(spark, dest, ["id"], 4)
    assert t.read().count() == 10

    # wave 2: update + delete, new runner instance (restart from checkpoint)
    _write_changelog(
        spark, chg_dir,
        [("update", 100, {"id": 3, "v": "V3"}, None), ("delete", 101, None, {"id": 7, "v": "v7"})],
        "w2",
    )
    runner2 = CdcStreamRunner(
        spark,
        changelog_dir=chg_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tables=[cdc.CdcTableConfig("t", ["id"], VAL, dest, n_buckets=4)],
        raw_path=str(tmp_path / "raw"),
    )
    runner2.run_available()
    state = {r["id"]: r["v"] for r in t.read().collect()}
    assert set(state) == set(range(10)) - {7}
    assert state[3] == "V3"

    # wave 3 replayed runner: no new files → no changes (offsets committed)
    runner3 = CdcStreamRunner(
        spark,
        changelog_dir=chg_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tables=[cdc.CdcTableConfig("t", ["id"], VAL, dest, n_buckets=4)],
        raw_path=str(tmp_path / "raw"),
    )
    runner3.run_available()
    assert t.read().count() == 9


def test_stream_batch_replay_idempotent(spark, tmp_path):
    """Simulate a crash between sink write and checkpoint commit: re-running
    the same foreachBatch(batch_id) must not duplicate rows."""
    chg_dir = str(tmp_path / "chg")
    os.makedirs(chg_dir)
    dest = str(tmp_path / "t")
    runner = CdcStreamRunner(
        spark,
        changelog_dir=chg_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tables=[cdc.CdcTableConfig("t", ["id"], VAL, dest, n_buckets=4)],
        raw_path=str(tmp_path / "raw"),
    )
    _write_changelog(
        spark, chg_dir, [("insert", i, {"id": i, "v": f"v{i}"}, None) for i in range(5)], "w1"
    )
    runner.run_available()
    t = ParquetTable(spark, dest, ["id"], 4)
    assert t.read().count() == 5

    # manual replay of batch 0 with identical content
    batch_df = spark.createDataFrame(
        [
            {
                "_kind": "insert", "_checkpoint_id": i,
                "_commit_ts": TS + dt.timedelta(seconds=i), "_txid": i,
                "_src_table": "t", "_dst_table": "t",
                "_data": json.dumps({"id": i, "v": f"v{i}"}), "_old_data": None,
                "_unchanged_cols": None,
            }
            for i in range(5)
        ],
        cdc.CHANGELOG_SCHEMA,
    )
    runner._foreach_batch(batch_df, 0)
    assert t.read().count() == 5  # no duplicates


def test_stream_string_checkpoint_offsets(spark, tmp_path):
    """GTID / resume-token shaped offsets (ref: flow/model/cdc_stream.go:56-58):
    lexicographic STRING checkpoints flow end-to-end — LWW tiebreak, batch
    ordering, and the replay guard must not assume integer offsets. All
    updates share one commit_ts so the checkpoint string alone decides."""
    schema = cdc.changelog_schema_with_checkpoint(T.StringType())
    chg_dir = str(tmp_path / "chg")
    os.makedirs(chg_dir)
    dest = str(tmp_path / "t")
    runner = CdcStreamRunner(
        spark,
        changelog_dir=chg_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tables=[cdc.CdcTableConfig("t", ["id"], VAL, dest, n_buckets=4)],
        raw_path=str(tmp_path / "raw"),
        changelog_schema=schema,
    )
    rows = [
        {
            "_kind": k, "_checkpoint_id": ck, "_commit_ts": TS, "_txid": tx,
            "_src_table": "t", "_dst_table": "t",
            "_data": json.dumps(d) if d else None, "_old_data": None,
            "_unchanged_cols": None,
        }
        for (k, ck, tx, d) in [
            ("insert", "0-1-000010", 1, {"id": 1, "v": "first"}),
            ("update", "0-1-000100", 2, {"id": 1, "v": "middle"}),
            ("update", "0-1-000099", 3, {"id": 1, "v": "loser"}),
            ("insert", "0-1-000050", 4, {"id": 2, "v": "two"}),
        ]
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(chg_dir)
    runner.run_available()
    t = ParquetTable(spark, dest, ["id"], 4)
    state = {r["id"]: r["v"] for r in t.read().collect()}
    assert state == {1: "middle", 2: "two"}  # '0-1-000100' > '0-1-000099' lexicographically

    # replay of the same batch id: guard must work with string offsets too
    batch_df = spark.createDataFrame(rows, schema)
    runner._foreach_batch(batch_df, 0)
    state = {r["id"]: r["v"] for r in t.read().collect()}
    assert state == {1: "middle", 2: "two"}


def test_replay_with_partial_raw_partition_recovers(spark, tmp_path):
    """Crash during raw-append job commit leaves a partition directory with
    partial data and NO completion marker. A replayed batch must detect the
    missing marker, clear the partial, and re-append — skipping on bare
    directory existence would permanently lose rows."""
    import glob

    chg_dir = str(tmp_path / "chg")
    os.makedirs(chg_dir)
    dest = str(tmp_path / "t")
    runner = CdcStreamRunner(
        spark,
        changelog_dir=chg_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tables=[cdc.CdcTableConfig("t", ["id"], VAL, dest, n_buckets=4)],
        raw_path=str(tmp_path / "raw"),
    )
    rows = [
        {
            "_kind": "insert", "_checkpoint_id": i,
            "_commit_ts": TS + dt.timedelta(seconds=i), "_txid": i,
            "_src_table": "t", "_dst_table": "t",
            "_data": json.dumps({"id": i, "v": f"v{i}"}), "_old_data": None,
            "_unchanged_cols": None,
        }
        for i in range(5)
    ]
    batch_df = spark.createDataFrame(rows, cdc.CHANGELOG_SCHEMA)
    runner._foreach_batch(batch_df, 0)
    raw = runner.pipeline.raw
    assert raw.is_batch_committed(0)
    t = ParquetTable(spark, dest, ["id"], 4)
    assert t.read().count() == 5

    # simulate the crash: drop the marker and part of the data
    part = raw.batch_dir(0)
    os.remove(os.path.join(part, raw.MARKER))
    data_files = [f for f in glob.glob(os.path.join(part, "*")) if "part-" in f]
    assert data_files
    os.remove(data_files[0])

    runner._foreach_batch(batch_df, 0)  # replay
    assert raw.is_batch_committed(0)
    assert raw.read_batches(0, 0).count() == 5  # fully rewritten, no dupes
    assert t.read().count() == 5


def test_replayed_trigger_does_not_merge_again(spark, tmp_path):
    """Structured Streaming redelivers the last trigger after a restart.
    When that trigger's batch is already synced AND merged, the replay
    must submit no Spark job and leave the destination's files alone —
    the pipeline's merge watermark, not the trigger, decides."""
    from tests.test_cdc import _jobs_while

    dest = str(tmp_path / "t")
    runner = CdcStreamRunner(
        spark,
        changelog_dir=str(tmp_path / "chg"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        tables=[cdc.CdcTableConfig("t", ["id"], VAL, dest, n_buckets=4)],
        raw_path=str(tmp_path / "raw"),
    )
    batch_df = spark.createDataFrame(
        [("insert", i, TS, i, "t", "t", json.dumps({"id": i, "v": f"v{i}"}), None, None)
         for i in range(5)],
        cdc.CHANGELOG_SCHEMA,
    )

    def files():
        return {os.path.join(r, f): os.stat(os.path.join(r, f)).st_mtime_ns
                for r, _d, fs in os.walk(dest) for f in fs}

    runner._foreach_batch(batch_df, 3)
    before = files()
    assert before
    _, jobs = _jobs_while(spark.sparkContext, lambda: runner._foreach_batch(batch_df, 3))
    assert jobs == 0
    assert files() == before
    assert ParquetTable(spark, dest, ["id"], 4).read().count() == 5


def test_stream_raw_retention(spark, tmp_path):
    """retain_batches drops normalized raw partitions as the stream advances;
    destination state is unaffected (it lives in the bucketed table)."""
    chg_dir = str(tmp_path / "chg")
    os.makedirs(chg_dir)
    dest = str(tmp_path / "t")
    mk = lambda: CdcStreamRunner(
        spark,
        changelog_dir=chg_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        tables=[cdc.CdcTableConfig("t", ["id"], VAL, dest, n_buckets=2)],
        raw_path=str(tmp_path / "raw"),
        max_files_per_trigger=1,
        retain_batches=2,
    )
    with pytest.raises(ValueError):
        CdcStreamRunner(
            spark, changelog_dir=chg_dir, checkpoint_dir=str(tmp_path / "c2"),
            tables=[cdc.CdcTableConfig("t", ["id"], VAL, dest, n_buckets=2)],
            raw_path=str(tmp_path / "raw2"), normalize_lag=2, retain_batches=2,
        )
    for w in range(4):
        _write_changelog(
            spark, chg_dir,
            [("insert", w * 10 + i, {"id": w * 10 + i, "v": f"v{w}"}, None) for i in range(3)],
            f"w{w}",
        )
    runner = mk()
    runner.run_available()
    raw_root = runner.pipeline.raw.path
    kept = sorted(d for d in os.listdir(raw_root) if d.startswith("_peerdb_batch_id="))
    assert len(kept) == 2, kept  # 4 file-batches, retain 2
    t = ParquetTable(spark, dest, ["id"], 2)
    assert t.read().count() == 12  # destination unaffected by raw retention


def test_wal_stream_relation_state_across_batches(spark, tmp_path):
    """Raw pgoutput WAL bytes streamed end-to-end: the Relation message
    arrives ONLY in the first micro-batch; later batches decode through the
    driver-harvested relation preamble (the engine-side equivalent of the
    replication session's relation cache)."""
    from pyspark.sql import types as TT

    from peerdb_spark.storage import ParquetTable
    from peerdb_spark.streaming import WalStreamRunner
    from tests.test_pgoutput import (
        TS1,
        TS2,
        enc_begin,
        enc_commit,
        enc_insert,
        enc_relation,
        enc_update,
    )

    wal_dir = str(tmp_path / "wal")
    dest = str(tmp_path / "items")
    val = TT.StructType([TT.StructField("id", TT.StringType()),
                         TT.StructField("v", TT.StringType())])

    def write_chunk(msgs):
        rows = [("slot0", lsn, bytes(p)) for lsn, p in msgs]
        spark.createDataFrame(rows, WalStreamRunner.WAL_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(wal_dir)

    # chunk 1: relation + first txn
    write_chunk([
        (10, enc_relation(42, "public", "items", ["id", "v"], key_cols=("id",))),
        (11, enc_begin(1, TS1)),
        (12, enc_insert(42, ["1", "a"])),
        (13, enc_insert(42, ["2", "b"])),
        (14, enc_commit(TS1)),
    ])

    def mk():
        return WalStreamRunner(
            spark, wal_dir, str(tmp_path / "ckpt"),
            [cdc.CdcTableConfig("public.items", ["id"], val, dest, n_buckets=2)],
            str(tmp_path / "raw"),
            max_files_per_trigger=1,
        )

    runner = mk()
    runner.run_available()
    t = ParquetTable(spark, dest, ["id"], 2)
    assert sorted((r["id"], r["v"]) for r in t.read().collect()) == [("1", "a"), ("2", "b")]

    # chunk 2: NO relation message — only decodable via the preamble. A
    # fresh runner (restart) must fail-safe: its cache is empty, so the
    # relation must be re-learned... the resumed runner keeps the cache.
    write_chunk([
        (15, enc_begin(2, TS2)),
        (16, enc_update(42, ["1", "A2"])),
        (17, enc_insert(42, ["3", "c"])),
        (18, enc_commit(TS2)),
    ])
    runner.run_available()
    got = sorted((r["id"], r["v"]) for r in t.read().collect())
    assert got == [("1", "A2"), ("2", "b"), ("3", "c")]


def test_wal_stream_v2_transaction_spans_micro_batches(spark, tmp_path):
    """r11 (ADVICE r10 high): a protocol-v2 streamed transaction whose
    StreamStart and StreamCommit land in DIFFERENT micro-batches must emit
    complete at the commit — the carried stream state (buffered rows +
    open-segment xid) survives the batch boundary AND a runner restart
    (state is persisted per batch id under the raw directory)."""
    from pyspark.sql import types as TT

    from peerdb_spark.storage import ParquetTable
    from peerdb_spark.streaming import WalStreamRunner
    from tests.test_pgoutput import (
        TS1,
        enc_begin,
        enc_commit,
        enc_insert,
        enc_relation,
        enc_stream_commit,
        enc_stream_start,
        enc_stream_stop,
        v2,
    )

    wal_dir = str(tmp_path / "wal")
    dest = str(tmp_path / "items")
    val = TT.StructType([TT.StructField("id", TT.StringType()),
                         TT.StructField("v", TT.StringType())])

    def write_chunk(msgs):
        rows = [("slot0", lsn, bytes(p)) for lsn, p in msgs]
        spark.createDataFrame(rows, WalStreamRunner.WAL_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(wal_dir)

    def mk():
        return WalStreamRunner(
            spark, wal_dir, str(tmp_path / "ckpt"),
            [cdc.CdcTableConfig("public.items", ["id"], val, dest, n_buckets=2)],
            str(tmp_path / "raw"),
            max_files_per_trigger=1,
        )

    # chunk 1: relation + the stream OPENS mid-chunk (no commit yet); the
    # chunk ends inside the segment (no StreamStop) to also exercise the
    # mid-segment xid-prefix handoff
    write_chunk([
        (10, enc_relation(42, "public", "items", ["id", "v"], key_cols=("id",))),
        (11, enc_stream_start(900)),
        (12, v2(enc_insert(42, ["1", "streamed-a"]), 900)),
    ])
    runner = mk()
    runner.run_available()
    runner.stop()
    # nothing committed yet → destination must not exist / hold no rows
    t = ParquetTable(spark, dest, ["id"], 2)
    assert not t.exists or t.read().count() == 0

    # chunk 2 arrives AFTER a runner restart (fresh instance = crash
    # recovery path: stream state must come from the persisted file, not
    # driver memory): rest of the streamed txn + its commit, plus an
    # ordinary v1 transaction after it
    write_chunk([
        (13, v2(enc_insert(42, ["2", "streamed-b"]), 900)),
        (14, enc_stream_stop()),
        (15, enc_stream_commit(900, 86400 * 365 * 20 * 10**6)),
        (16, enc_begin(7, TS1)),
        (17, enc_insert(42, ["3", "plain-c"])),
        (18, enc_commit(TS1)),
    ])
    runner2 = mk()
    runner2.run_available()
    runner2.stop()
    got = sorted((r["id"], r["v"]) for r in t.read().collect())
    assert got == [("1", "streamed-a"), ("2", "streamed-b"), ("3", "plain-c")]


def test_wal_stream_state_survives_batches_without_the_slot(spark, tmp_path):
    """A slot whose streamed transaction is open must keep its carried
    state across micro-batches that contain NO messages for it (the
    harvest is authoritative only for slots that appeared in the batch):
    slot A opens a stream in batch 1, batch 2 is slot B traffic only,
    batch 3 commits slot A's stream — all rows must land."""
    from pyspark.sql import types as TT

    from peerdb_spark.storage import ParquetTable
    from peerdb_spark.streaming import WalStreamRunner
    from tests.test_pgoutput import (
        TS1,
        enc_begin,
        enc_commit,
        enc_insert,
        enc_relation,
        enc_stream_commit,
        enc_stream_start,
        enc_stream_stop,
        v2,
    )

    wal_dir = str(tmp_path / "wal")
    dest = str(tmp_path / "items")
    val = TT.StructType([TT.StructField("id", TT.StringType()),
                         TT.StructField("v", TT.StringType())])

    def write_chunk(rows):
        spark.createDataFrame(rows, WalStreamRunner.WAL_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(wal_dir)

    rel = enc_relation(42, "public", "items", ["id", "v"], key_cols=("id",))
    # batch 1: slot A relation + open stream with one buffered row
    write_chunk([("A", 10, bytes(rel)),
                 ("A", 11, bytes(enc_stream_start(700))),
                 ("A", 12, bytes(v2(enc_insert(42, ["1", "a-str"]), 700)))])
    runner = WalStreamRunner(
        spark, wal_dir, str(tmp_path / "ckpt"),
        [cdc.CdcTableConfig("public.items", ["id"], val, dest, n_buckets=2)],
        str(tmp_path / "raw"), max_files_per_trigger=1,
    )
    runner.run_available()
    # batch 2: ONLY slot B (plain v1 transaction)
    write_chunk([("B", 20, bytes(rel)),
                 ("B", 21, bytes(enc_begin(9, TS1))),
                 ("B", 22, bytes(enc_insert(42, ["2", "b-plain"]))),
                 ("B", 23, bytes(enc_commit(TS1)))])
    runner.run_available()
    # batch 3: slot A's stream commits
    write_chunk([("A", 13, bytes(enc_stream_stop())),
                 ("A", 14, bytes(enc_stream_commit(700, 10**15)))])
    runner.run_available()
    runner.stop()
    t = ParquetTable(spark, dest, ["id"], 2)
    got = sorted((r["id"], r["v"]) for r in t.read().collect())
    assert got == [("1", "a-str"), ("2", "b-plain")]


def test_wal_trigger_harvest_rides_the_decode_job(spark, tmp_path, monkeypatch):
    """One WAL trigger submits at most 2 jobs of its own before the sync:
    the decode's eager checkpoint (slot shuffle map, then the checkpoint).
    The slots present, the Relation payloads and the carried stream state
    are observed metrics of that job, not collects of their own."""
    import uuid

    from pyspark.sql import types as TT

    from peerdb_spark.streaming import WalStreamRunner
    from tests.test_pgoutput import (
        TS1,
        enc_begin,
        enc_commit,
        enc_insert,
        enc_relation,
        enc_stream_start,
        v2,
    )

    val = TT.StructType([TT.StructField("id", TT.StringType()),
                         TT.StructField("v", TT.StringType())])
    rel = enc_relation(42, "public", "items", ["id", "v"], key_cols=("id",))
    # slot A: an empty v1 transaction; slot B: the Relation, then a v2
    # stream left open with one buffered row
    wal = spark.createDataFrame([
        ("A", 10, bytes(enc_begin(5, TS1))),
        ("A", 11, bytes(enc_commit(TS1))),
        ("B", 20, bytes(rel)),
        ("B", 21, bytes(enc_stream_start(900))),
        ("B", 22, bytes(v2(enc_insert(42, ["1", "open"]), 900))),
    ], WalStreamRunner.WAL_SCHEMA)
    runner = WalStreamRunner(
        spark, str(tmp_path / "wal"), str(tmp_path / "ckpt"),
        [cdc.CdcTableConfig("public.items", ["id"], val,
                            str(tmp_path / "items"), n_buckets=2)],
        str(tmp_path / "raw"), max_files_per_trigger=1,
    )
    # A was carrying (present now, ends clean: its carry is consumed);
    # C is absent from the batch, so its carry survives untouched
    runner._stream_states = {"A": {"stream_xid": None, "pending": {}},
                             "C": {"stream_xid": 7, "pending": {}}}

    sc = spark.sparkContext
    group = f"wal-trigger-{uuid.uuid4().hex}"
    seen = {}

    class Stop(Exception):
        pass

    def sync_batch(self, df, batch_id):
        seen["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
        seen["rows"] = df.collect()
        raise Stop

    monkeypatch.setattr(cdc.CdcPipeline, "sync_batch", sync_batch)
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        with pytest.raises(Stop):
            runner._foreach_batch(wal, 1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)

    assert seen["jobs"] <= 2, seen["jobs"]
    assert seen["rows"] == []  # nothing committed; the carry row is filtered
    assert runner._relation_cache.relation_messages == {42: bytes(rel)}
    assert set(runner._stream_states) == {"B", "C"}
    assert runner._stream_states["C"] == {"stream_xid": 7, "pending": {}}
    with open(runner._stream_states["B"]["state_file"]) as fh:
        body = json.load(fh)
    assert body["stream_xid"] == 900
    assert [json.loads(r["_data"]) for r in body["pending"]["900"]] == [
        {"id": "1", "v": "open"}]
    # the harvest is persisted before the sync
    with open(runner._state_path(1)) as fh:
        record = json.load(fh)
    assert record["relations"] == {"42": bytes(rel).hex()}
    assert record["streams"] == runner._stream_states


def test_wal_stream_crash_between_harvest_and_sync(spark, tmp_path, monkeypatch):
    """A crash inside the sync of trigger 2, after its decoder state is
    persisted, replays to the destination of an uninterrupted drain. The
    Relation arrives only in trigger 0 and a v2 transaction is open at both
    boundaries, so the replay must decode against state_1, not the state_2
    the crashed attempt wrote. Afterwards no stream-state body is left that
    neither surviving record references."""
    from pyspark.sql import types as TT

    from peerdb_spark.storage import ParquetTable
    from peerdb_spark.streaming import WalStreamRunner
    from tests.test_pgoutput import (
        TS1,
        TS2,
        enc_begin,
        enc_commit,
        enc_insert,
        enc_relation,
        enc_stream_commit,
        enc_stream_start,
        enc_stream_stop,
        enc_update,
        v2,
    )

    wal_dir = str(tmp_path / "wal")
    val = TT.StructType([TT.StructField("id", TT.StringType()),
                         TT.StructField("v", TT.StringType())])
    chunks = [
        [(10, enc_relation(42, "public", "items", ["id", "v"],
                           key_cols=("id",))),
         (11, enc_begin(1, TS1)),
         (12, enc_insert(42, ["1", "a"])),
         (13, enc_commit(TS1)),
         (14, enc_stream_start(900)),
         (15, v2(enc_insert(42, ["2", "s900-a"]), 900))],
        [(16, v2(enc_insert(42, ["3", "s900-b"]), 900)),
         (17, enc_stream_stop()),
         (18, enc_begin(2, TS2)),
         (19, enc_update(42, ["1", "A2"])),
         (20, enc_insert(42, ["4", "d"])),
         (21, enc_commit(TS2))],
        [(22, enc_stream_commit(900, 10**15)),
         (23, enc_stream_start(901)),
         (24, v2(enc_insert(42, ["5", "open"]), 901))],
    ]
    for msgs in chunks:
        spark.createDataFrame([("slot0", lsn, bytes(p)) for lsn, p in msgs],
                              WalStreamRunner.WAL_SCHEMA) \
            .coalesce(1).write.mode("append").parquet(wal_dir)

    def drain(name):
        dest = str(tmp_path / name / "items")
        runner = WalStreamRunner(
            spark, wal_dir, str(tmp_path / name / "ckpt"),
            [cdc.CdcTableConfig("public.items", ["id"], val, dest,
                                n_buckets=2)],
            str(tmp_path / name / "raw"), max_files_per_trigger=1,
        )
        try:
            runner.run_available()
        finally:
            runner.stop()
        return runner, dest

    def rows(dest):
        t = ParquetTable(spark, dest, ["id"], 2)
        return sorted((r["id"], r["v"]) for r in t.read().collect())

    _, want_dest = drain("clean")
    want = rows(want_dest)
    assert want == [("1", "A2"), ("2", "s900-a"), ("3", "s900-b"), ("4", "d")]

    sync = cdc.CdcPipeline.sync_batch
    crash = {}

    def crashing_sync(self, df, batch_id):
        if batch_id == 2 and not crash:
            sdir = os.path.join(self.raw.path, "_PG_DECODER_STATE")
            crash["state_2"] = os.path.exists(
                os.path.join(sdir, "state_2.json"))
            raise RuntimeError("injected crash before the sync")
        return sync(self, df, batch_id)

    monkeypatch.setattr(cdc.CdcPipeline, "sync_batch", crashing_sync)
    with pytest.raises(Exception, match="injected crash"):
        drain("crashed")
    assert crash == {"state_2": True}
    monkeypatch.setattr(cdc.CdcPipeline, "sync_batch", sync)
    runner, dest = drain("crashed")
    assert rows(dest) == want

    sdir = runner._state_dir()
    referenced = set()
    for b in (1, 2):
        with open(runner._state_path(b)) as fh:
            for st in json.load(fh)["streams"].values():
                referenced.add(os.path.basename(st["state_file"]))
    bodies = {f for f in os.listdir(sdir) if f.startswith("stream_")}
    assert bodies == referenced and len(bodies) == 2, (bodies, referenced)


def test_dedup_within_watermark_streaming(spark, tmp_path):
    """Native redelivery filter: duplicate event ids delivered twice in the
    stream collapse to one row; distinct ids all survive."""
    from peerdb_spark.streaming import dedup_stream_within_watermark

    src_dir = str(tmp_path / "src")
    base = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = []
    for i in range(200):
        rows.append((i, base + dt.timedelta(seconds=i), f"v{i}"))
    # redeliver the first 50 (same id + ts — an at-least-once replay)
    rows += rows[:50]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, payload string")
    df.coalesce(2).write.parquet(src_dir)

    stream = spark.readStream.schema(df.schema).parquet(src_dir)
    deduped = dedup_stream_within_watermark(
        stream, ["event_id"], ts_col="ts", watermark="1 hour"
    )
    out_dir, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.read.parquet(out_dir)
    assert got.count() == 200
    assert got.select("event_id").distinct().count() == 200


def test_dedup_within_watermark_batch_degrades(spark):
    from peerdb_spark.streaming import dedup_stream_within_watermark

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), "a"), (1, dt.datetime(2024, 1, 1), "a"),
         (2, dt.datetime(2024, 1, 1), "b")],
        "event_id long, ts timestamp, payload string",
    )
    out = dedup_stream_within_watermark(df, ["event_id"], ts_col="ts")
    assert out.count() == 2


def test_stream_stream_attribution_join(spark, tmp_path):
    """Native stream-stream interval join with watermarks: clicks within the
    30-minute window before a purchase match; results equal the batch
    interval join on the same data."""
    import datetime as dt

    from pyspark.sql import functions as F

    from peerdb_spark.streaming import stream_attribution_join

    def ts(m):
        return dt.datetime(2024, 1, 1, 10, m)

    clicks = [(1, ts(0), 100), (1, ts(20), 101), (1, ts(50), 102), (2, ts(5), 103)]
    purchases = [(1, ts(30), 900), (2, ts(45), 901)]
    cdir, pdir = str(tmp_path / "c"), str(tmp_path / "p")
    spark.createDataFrame(clicks, "user_id long, ts timestamp, click_id long").write.parquet(cdir)
    spark.createDataFrame(purchases, "user_id long, ts timestamp, purchase_id long").write.parquet(pdir)

    cs = spark.readStream.schema("user_id long, ts timestamp, click_id long").parquet(cdir)
    ps = spark.readStream.schema("user_id long, ts timestamp, purchase_id long").parquet(pdir)
    out = stream_attribution_join(cs, ps, window="30 minutes")
    q = (
        out.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["p_click_id"], r["e_purchase_id"])
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # purchase@10:30 by user 1 matches clicks at 10:00 and 10:20 (not 10:50);
    # purchase@10:45 by user 2 has no click in [10:15, 10:45]
    assert got == {(1, 100, 900), (1, 101, 900)}


def test_stream_with_attached_view(spark, tmp_path):
    """Full streaming stack with a maintained view: file changelog →
    CdcStreamRunner → normalize → ViewTable fold per micro-batch, across a
    checkpoint restart. The durable view always equals the one-shot
    aggregate over the destination's live state."""
    from pyspark.sql import functions as F

    from peerdb_spark.mview import ViewTable

    val = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("amt", T.LongType()),
    ])
    chg_dir = str(tmp_path / "chg")
    os.makedirs(chg_dir)
    dest = str(tmp_path / "t")

    def runner():
        r = CdcStreamRunner(
            spark,
            changelog_dir=chg_dir,
            checkpoint_dir=str(tmp_path / "ckpt"),
            tables=[cdc.CdcTableConfig("t", ["id"], val, dest, n_buckets=4)],
            raw_path=str(tmp_path / "raw"),
        )
        r.pipeline.attach_view("t", ViewTable(spark, str(tmp_path / "view"), ["grp"], "amt"))
        return r

    _write_changelog(
        spark, chg_dir,
        [("insert", 1, {"id": 1, "grp": "a", "amt": 5}, None),
         ("insert", 2, {"id": 2, "grp": "b", "amt": 7}, None)],
        "w1",
    )
    runner().run_available()

    _write_changelog(
        spark, chg_dir,
        [("update", 10, {"id": 1, "grp": "b", "amt": 9}, None),
         ("delete", 11, None, {"id": 2, "grp": "b", "amt": 7})],
        "w2",
    )
    runner().run_available()  # restart from checkpoint

    view = ViewTable(spark, str(tmp_path / "view"), ["grp"], "amt")
    got = {r["grp"]: (r["cnt"], r["sum_v"]) for r in view.read().collect()}
    t = ParquetTable(spark, dest, ["id"], 4).read()
    want = {
        r["grp"]: (r["cnt"], r["sum_v"])
        for r in t.groupBy("grp").agg(
            F.count(F.lit(1)).alias("cnt"), F.sum("amt").alias("sum_v")
        ).collect()
    }
    assert got == want == {"b": (1, 9)}


def test_wal_runner_rejects_non_posix_raw_path(spark, tmp_path):
    """r12 (ADVICE low): decoder-state persistence needs a POSIX raw path
    shared by driver and executors — a URI-schemed raw path fails FAST at
    construction (not mid-stream), and a plain path gets a probe-write."""
    import os

    import pytest

    from peerdb_spark import cdc
    from peerdb_spark.streaming import WalStreamRunner

    val = T.StructType([T.StructField("id", T.LongType()),
                        T.StructField("v", T.StringType())])
    cfgs = [cdc.CdcTableConfig("public.items", ["id"], val,
                               str(tmp_path / "dst"), n_buckets=2)]
    for bad in ("s3a://bucket/raw", "gs://bucket/raw", "hdfs://nn/raw",
                "file:///tmp/raw"):
        with pytest.raises(ValueError, match="POSIX raw path"):
            WalStreamRunner(spark, str(tmp_path / "wal"),
                            str(tmp_path / "ckpt"), cfgs, bad,
                            max_files_per_trigger=1)
    # plain path: constructor probe-writes (and cleans up) the state dir
    r = WalStreamRunner(spark, str(tmp_path / "wal"), str(tmp_path / "ckpt"),
                        cfgs, str(tmp_path / "raw"), max_files_per_trigger=1)
    sdir = r._state_dir()
    assert os.path.isdir(sdir) and not os.listdir(sdir)
