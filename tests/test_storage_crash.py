"""Crash safety of the destination commit protocol (storage.py).

Every ParquetTable write stages its rows beside the table, moves the staged
files in, publishes the manifest (the commit) and deletes what the new
manifest dropped. These tests crash writes at their filesystem calls and
assert that readers see exactly the pre-write or the post-write table, that
reads never change the directory, and that the next write sweeps a crashed
write's debris."""

import contextlib
import json
import os
import shutil
from unittest import mock

import pytest

from peerdb_spark.storage import BUCKET_COL, MANIFEST_FILE, SCHEMA_FILE, STAGING_INFIX, ParquetTable


def _mk_table(spark, path, rows, n_buckets=4):
    t = ParquetTable(spark, path, ["id"], n_buckets=n_buckets)
    t.overwrite(spark.createDataFrame(rows, "id long, v string"))
    return t


def _rows(df):
    return sorted((r["id"], r["v"]) for r in df.collect())


CALLS = ((os, "rename"), (os, "replace"), (shutil, "move"), (os, "remove"), (shutil, "rmtree"))


@contextlib.contextmanager
def _crash_at(step, root, only="", calls=CALLS):
    """Raise OSError at the `step`-th filesystem mutation (os.rename,
    os.replace, shutil.move, os.remove, shutil.rmtree, or just `calls`)
    whose first path lies under `root` and contains `only`; every other
    call passes through."""
    seen = {"n": 0}

    def hook(fn):
        def wrapped(path, *args, **kwargs):
            if str(path).startswith(root) and only in str(path):
                if seen["n"] == step:
                    raise OSError("injected crash")
                seen["n"] += 1
            return fn(path, *args, **kwargs)
        return wrapped

    with contextlib.ExitStack() as stack:
        for mod, name in calls:
            stack.enter_context(mock.patch.object(mod, name, hook(getattr(mod, name))))
        yield


def _assert_clean(t):
    """After a completed write the table dir holds exactly its manifest, its
    schema and the files the manifest names, and no staging dir is left."""
    parent, base = os.path.split(t.path)
    assert not [n for n in os.listdir(parent) if n.startswith(base + STAGING_INFIX)]
    named = {os.path.relpath(os.path.join(t._dir(b), f), t.path)
             for b, fs in t._files().items() for f in fs}
    on_disk = {os.path.relpath(os.path.join(r, f), t.path)
               for r, _d, fs in os.walk(t.path) for f in fs}
    assert on_disk == named | {MANIFEST_FILE, SCHEMA_FILE}, on_disk ^ (named | {MANIFEST_FILE, SCHEMA_FILE})


def _arrow_rows(t):
    """The table's rows from the manifest's files, without Spark."""
    import pyarrow.parquet as pq

    out = []
    for b, fs in t._files().items():
        for f in fs:
            out += [(r["id"], r["v"]) for r in pq.read_table(os.path.join(t._dir(b), f)).to_pylist()]
    return sorted(out)


OLD = [(i, f"old{i}") for i in range(20)]
NEW = [(i, f"new{i}") for i in range(20)]
ADDED = [(i, f"add{i}") for i in range(20, 30)]
# replace_partitions rewrites both buckets of a 2-bucket table: every id
# updated, every third one deleted
REPLACED = [(i, f"new{i}") for i in range(20) if i % 3]


# each write's post-write rows and leaves, on a 2-bucket table holding OLD
POST = {
    "overwrite": (sorted(NEW), [0, 1]),
    "append": (sorted(OLD + ADDED), [0, 1]),
    "replace_partitions": (sorted(REPLACED), [0, 1]),
    "split_bucket": (sorted(OLD), [1, 4, 6]),
    "resync_table": (sorted(NEW), [0, 1]),
}


def _op(spark, t, op):
    from peerdb_spark.snapshot import resync_table

    schema = "id long, v string"
    if op == "overwrite":
        t.overwrite(spark.createDataFrame(NEW, schema))
    elif op == "append":
        t.append(spark.createDataFrame(ADDED, schema))
    elif op == "replace_partitions":
        # one task, so one staged file per bucket, as a merge writes
        df = spark.createDataFrame(REPLACED, schema).repartition(1)
        t.replace_partitions(df.withColumn(BUCKET_COL, t.assign_bucket_expr()), [0, 1])
    elif op == "split_bucket":
        t.split_bucket(0)
    else:
        resync_table(spark.createDataFrame(NEW, schema), t)


def _sweep_crashes(spark, tmp_path, op):
    """Crash `op` at each of its filesystem calls in turn. After every crash
    a fresh table exists and reads exactly the pre-write or the post-write
    rows, each row in the bucket the manifest's leaves assign it (one Spark
    read per injection point). The next write — `op` again if its commit did
    not happen, else an empty append — converges to the post-write state and
    leaves no staging dir and no unnamed file."""
    base = str(tmp_path / "base")
    _mk_table(spark, base, OLD, n_buckets=2)
    empty = spark.createDataFrame([], "id long, v string")
    post, post_leaves = POST[op]
    step = 0
    while True:
        path = str(tmp_path / f"s{step}")
        shutil.copytree(base, path)
        t = ParquetTable(spark, path, ["id"], n_buckets=2)
        crashed = False
        with _crash_at(step, str(tmp_path)):
            try:
                _op(spark, t, op)
            except OSError:
                crashed = True
        fresh = ParquetTable(spark, path, ["id"], n_buckets=2)
        assert fresh.exists
        got = fresh.read_raw().withColumn("_assigned", fresh.assign_bucket_expr()).collect()
        rows = sorted((r["id"], r["v"]) for r in got)
        committed = fresh.leaf_buckets() == post_leaves and rows == post
        assert committed or (rows == sorted(OLD) and fresh.leaf_buckets() == [0, 1]), (step, rows)
        assert all(r[BUCKET_COL] == r["_assigned"] for r in got), step
        if committed:
            t.append(empty)
        else:
            _op(spark, t, op)
        assert _arrow_rows(t) == post and t.leaf_buckets() == post_leaves, step
        _assert_clean(t)
        if not crashed:
            break
        step += 1
    assert step >= 4  # the sweep crashed several distinct calls


@pytest.mark.parametrize("op", [op for op in POST if op != "overwrite"])
def test_fault_injection_sweep_every_write(spark, tmp_path, op):
    _sweep_crashes(spark, tmp_path, op)


def test_fault_injection_sweep_overwrite_path(spark, tmp_path):
    """The same sweep over a full overwrite: a crash at any call leaves the
    old table or the new one, never a lost or mixed one."""
    _sweep_crashes(spark, tmp_path, "overwrite")


def _replace_two_buckets(spark, t):
    """replace_partitions of buckets 0 and 1 with NEW's rows for them."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(NEW, "id long, v string").withColumn(BUCKET_COL, t.assign_bucket_expr())
    t.replace_partitions(df.where(F.col(BUCKET_COL).isin(0, 1)), [0, 1])


def _replaced_rows(t):
    """OLD with the rows of buckets 0 and 1 taken from NEW."""
    owner = dict(
        (r["id"], r[BUCKET_COL]) for r in t.read_raw().select("id", BUCKET_COL).collect()
    )
    return sorted(n if owner[n[0]] in (0, 1) else o for o, n in zip(OLD, NEW))


def test_repair_restores_parked_bucket(spark, tmp_path):
    """A multi-bucket replace that crashes at its commit leaves every bucket
    as it was before the write: a fresh reader sees all the old rows and
    each bucket's old files; the replay converges."""
    path = str(tmp_path / "t")
    t = _mk_table(spark, path, OLD)
    want = _replaced_rows(t)
    files = t.files_per_bucket()
    with _crash_at(0, path, only=MANIFEST_FILE), pytest.raises(OSError):
        _replace_two_buckets(spark, t)
    fresh = ParquetTable(spark, path, ["id"], 4)
    assert _rows(fresh.read()) == sorted(OLD)
    assert fresh.files_per_bucket() == files
    _replace_two_buckets(spark, t)
    assert _rows(t.read()) == want
    _assert_clean(t)


def test_repair_drops_leftover_after_completed_swap(spark, tmp_path):
    """A multi-bucket replace that crashes after its commit, while it
    deletes the old files, reads the new rows with no duplicate from the
    old files still on disk; the next write deletes them."""
    path = str(tmp_path / "t")
    t = _mk_table(spark, path, OLD)
    want = _replaced_rows(t)
    with _crash_at(0, path, calls=[(os, "remove")]), pytest.raises(OSError):
        _replace_two_buckets(spark, t)
    assert _rows(ParquetTable(spark, path, ["id"], 4).read()) == want
    assert spark.read.parquet(path).count() > len(OLD)  # the old files are still there
    t.append(spark.createDataFrame([], "id long, v string"))
    _assert_clean(t)
    assert spark.read.parquet(path).count() == len(OLD)


def test_exists_sees_crash_parked_table(spark, tmp_path):
    """An overwrite that crashes before or after its commit never makes the
    table look absent: a fresh instance still exists, so the next merge does
    not bootstrap over it."""
    for name, step, only, calls in (
        ("moving", 0, "", [(os, "rename")]),
        ("commit", 0, MANIFEST_FILE, CALLS),
        ("dropping", 0, "", [(os, "remove")]),
    ):
        path = str(tmp_path / name)
        t = _mk_table(spark, path, OLD)
        with _crash_at(step, path, only=only, calls=calls), pytest.raises(OSError):
            t.overwrite(spark.createDataFrame(NEW, "id long, v string"))
        assert ParquetTable(spark, path, ["id"], 4).exists, name


def test_reads_never_write(spark, tmp_path):
    """A crashed write leaves a staging dir and a data file no manifest
    names. Reads skip both and change nothing on disk: no name, size or
    mtime under the table's parent moves."""
    path = str(tmp_path / "t")
    t = _mk_table(spark, path, OLD, n_buckets=2)
    staging = path + STAGING_INFIX + "deadbeef"
    shutil.copytree(t._dir(0), os.path.join(staging, f"{BUCKET_COL}=0"))
    live = t._files()[0][0]
    shutil.copy(os.path.join(t._dir(0), live), os.path.join(t._dir(0), "part-orphan.parquet"))

    def tree():
        return {
            os.path.join(r, n): (os.stat(os.path.join(r, n)).st_size,
                                 os.stat(os.path.join(r, n)).st_mtime_ns)
            for r, ds, fs in os.walk(str(tmp_path)) for n in ds + fs
        }

    before = tree()
    reader = ParquetTable(spark, path, ["id"], n_buckets=2)
    assert reader.exists
    assert _rows(reader.read()) == sorted(OLD)
    counts = reader.rows_per_bucket()
    assert sum(counts.values()) == len(OLD)
    assert reader.read_buckets([0]).count() == counts[0]
    assert tree() == before


def test_reader_skips_repair_while_writer_alive(spark, tmp_path):
    """Reads made while a writer is between moving its files in and its
    commit see the old rows and leave the writer's staging dir and moved
    files alone; the writer then commits as if no one had read."""
    from peerdb_spark import storage as S

    path = str(tmp_path / "t")
    t = _mk_table(spark, path, OLD)
    parent, base = os.path.split(path)
    seen = {}

    def publish(p, text):
        if p.endswith(MANIFEST_FILE):
            staged = sorted(n for n in os.listdir(parent) if n.startswith(base + STAGING_INFIX))
            on_disk = sorted(os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs)
            reader = ParquetTable(spark, path, ["id"], 4)
            seen["exists"] = reader.exists
            seen["rows"] = _rows(reader.read())
            assert sorted(n for n in os.listdir(parent) if n.startswith(base + STAGING_INFIX)) == staged
            assert sorted(os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs) == on_disk
            seen["staged"] = staged
        real(p, text)

    real = S.atomic_write
    with mock.patch.object(S, "atomic_write", publish):
        t.overwrite(spark.createDataFrame(NEW, "id long, v string"))
    assert seen["exists"] and seen["rows"] == sorted(OLD) and seen["staged"]
    assert _rows(ParquetTable(spark, path, ["id"], 4).read()) == sorted(NEW)
    _assert_clean(t)


def test_stale_lease_does_not_block_repair(spark, tmp_path):
    """Nothing waits on a writer's liveness: with a crashed writer's debris
    in the table and a lease file beside it (as older versions left, here
    naming a live pid), reads answer and a new writer commits and sweeps the
    debris at once."""
    import time

    path = str(tmp_path / "t")
    t = _mk_table(spark, path, OLD)
    want = _replaced_rows(t)
    with _crash_at(0, path, only=MANIFEST_FILE), pytest.raises(OSError):
        _replace_two_buckets(spark, t)
    with open(path + ".writer-lease", "w") as f:
        f.write(f"{os.getpid()} {time.time()}")
    restarted = ParquetTable(spark, path, ["id"], 4)
    assert restarted.exists and _rows(restarted.read()) == sorted(OLD)
    _replace_two_buckets(spark, restarted)
    assert _rows(ParquetTable(spark, path, ["id"], 4).read()) == want
    _assert_clean(restarted)


def test_emptied_table_reads_with_stored_schema(spark, tmp_path):
    """A table whose every bucket was replaced by nothing no longer exists
    for the merge's bootstrap check, but still reads as empty with its last
    schema, bucket column included."""
    path = str(tmp_path / "t")
    t = _mk_table(spark, path, OLD, n_buckets=2)
    empty = spark.createDataFrame([], "id long, v string").withColumn(BUCKET_COL, t.assign_bucket_expr())
    t.replace_partitions(empty, [0, 1])
    reader = ParquetTable(spark, path, ["id"], n_buckets=2)
    assert not reader.exists
    df = reader.read_raw()
    assert df.columns == ["id", "v", BUCKET_COL] and df.count() == 0
    _assert_clean(t)


def test_orphan_staging_cleaned(spark, tmp_path):
    """The next write sweeps a crashed write's staging dir and the data
    files it moved in but never committed."""
    path = str(tmp_path / "t")
    t = _mk_table(spark, path, [(1, "a")])
    orphan = f"{path}{STAGING_INFIX}deadbeef"
    os.makedirs(orphan)
    b = next(b for b, fs in t._files().items() if fs)
    shutil.copy(os.path.join(t._dir(b), t._files()[b][0]), os.path.join(t._dir(b), "part-x.parquet"))
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    assert not os.path.isdir(orphan)
    _assert_clean(t)
    assert _rows(t.read()) == [(1, "a"), (2, "b")]


def test_merge_after_simulated_crash_converges(spark, tmp_path):
    """A merge that crashes at its commit leaves the pre-batch table; the
    normalize re-run of the same batch converges to the no-crash outcome."""
    from peerdb_spark import normalize as N

    path = str(tmp_path / "t")
    t = _mk_table(spark, path, [(i, f"old{i}") for i in range(40)])
    rows = [(i, f"new{i}", "update", i, None) for i in range(0, 40, 5)]
    schema = "id long, v string, _kind string, _checkpoint_id long, _commit_ts timestamp"
    expected = sorted((i, f"new{i}" if i % 5 == 0 else f"old{i}") for i in range(40))
    with _crash_at(0, path, only=MANIFEST_FILE), pytest.raises(OSError):
        N.merge_into_table(t, spark.createDataFrame(rows, schema))
    assert _rows(t.read()) == sorted((i, f"old{i}") for i in range(40))
    N.merge_into_table(t, spark.createDataFrame(rows, schema))
    assert _rows(t.read()) == expected
    _assert_clean(t)


def test_overwrite_crash_rolls_forward_to_complete_staging(spark, tmp_path):
    """A crash after the manifest publish (while old files are deleted)
    leaves the new rows committed; the old files are debris the next write
    removes."""
    path = str(tmp_path / "t")
    t = _mk_table(spark, path, OLD)
    with _crash_at(0, path, calls=[(os, "remove")]), pytest.raises(OSError):
        t.overwrite(spark.createDataFrame(NEW, "id long, v string"))
    assert _rows(ParquetTable(spark, path, ["id"], 4).read()) == sorted(NEW)
    assert _rows(spark.read.parquet(path).select("id", "v")) != sorted(NEW)  # debris still there
    t.append(spark.createDataFrame([], "id long, v string"))
    _assert_clean(t)
    assert _rows(spark.read.parquet(path).select("id", "v")) == sorted(NEW)


def test_overwrite_crash_rolls_back_without_staging(spark, tmp_path):
    """A crash while staged files move in (before the commit) leaves the old
    rows; the staging dir and the files already moved are debris the next
    write removes."""
    path = str(tmp_path / "t")
    t = _mk_table(spark, path, OLD)
    with _crash_at(1, path), pytest.raises(OSError):
        t.overwrite(spark.createDataFrame(NEW, "id long, v string"))
    assert _rows(ParquetTable(spark, path, ["id"], 4).read()) == sorted(OLD)
    parent, base = os.path.split(path)
    assert [n for n in os.listdir(parent) if n.startswith(base + STAGING_INFIX)]
    t.overwrite(spark.createDataFrame(NEW, "id long, v string"))
    assert _rows(t.read()) == sorted(NEW)
    _assert_clean(t)


def test_resync_crash_window_promotes_fresh_clone(spark, tmp_path):
    """Resync is the destination's overwrite: a crash after its commit reads
    the fresh clone, a crash before it the old table, and either way the
    next resync converges to the clone."""
    from peerdb_spark.snapshot import resync_table

    fresh = spark.createDataFrame([(i, f"fresh{i}") for i in range(8)], "id long, v string")
    want = sorted((i, f"fresh{i}") for i in range(8))
    for name, calls, seen in (("after", [(os, "remove")], want),
                              ("before", [(os, "replace")], sorted(OLD[:8]))):
        path = str(tmp_path / name)
        t = _mk_table(spark, path, OLD[:8])
        with _crash_at(0, path, only=MANIFEST_FILE if name == "before" else "",
                       calls=calls), pytest.raises(OSError):
            resync_table(fresh, t)
        assert _rows(ParquetTable(spark, path, ["id"], 4).read()) == seen, name
        resync_table(fresh, t)
        assert _rows(t.read()) == want, name
        _assert_clean(t)


def test_compact_merges_small_files(spark, tmp_path):
    from pyspark.sql import functions as F

    from peerdb_spark.storage import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"), ["pk"], n_buckets=4)
    for i in range(4):
        t.append(
            spark.range(i * 50, (i + 1) * 50).select(
                F.col("id").alias("pk"), (F.col("id") * 2).alias("v")
            )
        )
    before = t.files_per_bucket()
    assert max(before.values()) > 1  # appends accumulated files
    rows_before = sorted((r["pk"], r["v"]) for r in t.read().collect())

    stats = t.compact()
    assert stats["buckets_compacted"] == len([b for b, n in before.items() if n > 1])
    after = t.files_per_bucket()
    assert set(after) == set(before)  # no bucket lost (incl. empty-ish ones)
    assert all(n == 1 for n in after.values())
    rows_after = sorted((r["pk"], r["v"]) for r in t.read().collect())
    assert rows_after == rows_before  # data bit-identical

    # idempotent: second compact is a no-op
    assert t.compact()["buckets_compacted"] == 0


def test_time_travel_stable_across_compaction_and_crash(spark, tmp_path):
    """r4 verdict item #7: state_as_of reconstructs from the raw log while
    compact() rewrites destination bucket files — time-travel answers (and
    the current read) must be identical before compaction, after it, and
    after a crash mid-compaction followed by the next compaction."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from peerdb_spark import cdc
    from peerdb_spark.storage import ParquetTable

    schema = T.StructType(
        [T.StructField("pk", T.LongType()), T.StructField("v", T.StringType())]
    )
    dst_path = str(tmp_path / "dst")
    pipe = cdc.CdcPipeline(
        spark,
        str(tmp_path / "raw"),
        [cdc.CdcTableConfig("t", ["pk"], schema, dst_path, n_buckets=4)],
    )

    def feed(batch, rows):
        df = spark.createDataFrame(
            rows, "_kind string, _checkpoint_id long, pk long, v string"
        ).select(
            "_kind",
            "_checkpoint_id",
            F.timestamp_seconds(F.col("_checkpoint_id") + 1_700_000_000).alias("_commit_ts"),
            F.col("_checkpoint_id").alias("_txid"),
            F.lit("t").alias("_src_table"),
            F.lit("t").alias("_dst_table"),
            F.when(F.col("_kind") != "delete", F.to_json(F.struct("pk", "v"))).alias("_data"),
            F.when(F.col("_kind") == "delete", F.to_json(F.struct("pk", "v"))).alias("_old_data"),
            F.lit(None).cast("array<string>").alias("_unchanged_cols"),
        )
        pipe.sync_batch(df, batch)
        pipe.normalize_batches(batch, batch)

    feed(1, [("insert", 1, i, f"a{i}") for i in range(20)])
    feed(2, [("update", 2, i, f"b{i}") for i in range(0, 20, 2)])
    feed(3, [("delete", 3, i, f"b{i}") for i in range(0, 20, 4)])

    def travel():
        return {
            k: sorted(
                (r["pk"], r["v"])
                for r in pipe.state_as_of("t", k).select("pk", "v").collect()
            )
            for k in (1, 2, 3)
        }

    t = ParquetTable(spark, dst_path, ["pk"], n_buckets=4)
    # normalize rewrites touched buckets to one file each; pile small files
    # the way a real mirror does — out-of-band bulk backfills appended next
    # to the CDC rows (pks disjoint from the CDC keyspace)
    def backfill(i):
        t.append(
            spark.createDataFrame(
                [(100 + 10 * i + j, f"bf{i}-{j}") for j in range(10)],
                "pk long, v string",
            )
        )

    for i in range(3):
        backfill(i)
    before_tt = travel()
    before_rows = sorted((r["pk"], r["v"]) for r in t.read().collect())
    assert max(t.files_per_bucket().values()) > 1  # backfills piled files

    stats = t.compact()
    assert stats["buckets_compacted"] >= 1
    assert travel() == before_tt
    assert sorted((r["pk"], r["v"]) for r in t.read().collect()) == before_rows

    # crash mid-compaction: re-pile files, then crash the compaction's commit
    feed(4, [("update", 4, i, f"c{i}") for i in range(1, 20, 4)])
    backfill(3)
    tt4 = travel()
    tt4[4] = sorted(
        (r["pk"], r["v"]) for r in pipe.state_as_of("t", 4).select("pk", "v").collect()
    )
    rows4 = sorted((r["pk"], r["v"]) for r in t.read().collect())
    files4 = t.files_per_bucket()
    with _crash_at(0, dst_path, only=MANIFEST_FILE), pytest.raises(OSError):
        t.compact()
    # the uncommitted compaction changed nothing a reader sees
    assert t.files_per_bucket() == files4
    assert sorted((r["pk"], r["v"]) for r in t.read().collect()) == rows4
    got = travel()
    got[4] = sorted(
        (r["pk"], r["v"]) for r in pipe.state_as_of("t", 4).select("pk", "v").collect()
    )
    assert got == tt4
    # and a rerun of compaction converges
    t.compact()
    assert sorted((r["pk"], r["v"]) for r in t.read().collect()) == rows4
    assert all(n == 1 for n in t.files_per_bucket().values())
    _assert_clean(t)


def test_fault_injection_sweep_every_swap_step(spark, tmp_path):
    """Crash a merge (merge_into_table → replace_partitions) at every
    filesystem call of its commit in turn, then re-run the same batch the
    way a restarted normalize does: the final state always equals the
    no-crash outcome."""
    from peerdb_spark import normalize as N

    changes_rows = [
        (i, f"new{i}", "update", 100 + i, None) for i in range(0, 40, 3)
    ]
    expected = sorted(
        (i, f"new{i}" if i % 3 == 0 else f"old{i}") for i in range(40)
    )
    chg_schema = "id long, v string, _kind string, _checkpoint_id long, _commit_ts timestamp"
    base = str(tmp_path / "base")
    _mk_table(spark, base, [(i, f"old{i}") for i in range(40)], n_buckets=2)

    step = 0
    while True:
        path = str(tmp_path / f"t{step}")
        shutil.copytree(base, path)
        t = ParquetTable(spark, path, ["id"], n_buckets=2)
        crashed = False
        with _crash_at(step, str(tmp_path)):
            try:
                N.merge_into_table(t, spark.createDataFrame(changes_rows, chg_schema))
            except OSError:
                crashed = True
        if crashed:
            N.merge_into_table(t, spark.createDataFrame(changes_rows, chg_schema))
        assert _arrow_rows(t) == expected, (step, crashed)
        _assert_clean(t)
        if not crashed:
            break  # step index beyond the last call — full sweep done
        step += 1
    assert step >= 4  # the sweep actually exercised multiple crash windows
    with open(os.path.join(path, MANIFEST_FILE)) as f:
        assert sorted(json.load(f)["buckets"]) == ["0", "1"]
