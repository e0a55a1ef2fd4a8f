"""Dynamic bucket splitting (storage.split_bucket / maybe_split — round 9).

The r8 cardinality probe showed per-batch merge cost growing with destination
size under a static bucket count (every bucket touched each batch, every
touched bucket fully reread). Splitting a leaf bucket in two when it crosses
a row threshold bounds bucket size — and therefore the per-batch reread —
while rewriting ONLY the split bucket (extendible-hashing id numbering:
leaf (M, r) -> children (2M, r) and (2M, r+M), ids 2M+r / 3M+r). The
reference defers the equivalent layout maintenance to ClickHouse's background
part merges (flow/connectors/clickhouse/normalize.go:119-126 — studied, not
copied); here the engine owns its parquet destinations, so it owns the split.
"""

import os
import shutil

from pyspark.sql import functions as F

from peerdb_spark import normalize as N
from peerdb_spark.storage import BUCKET_COL, ParquetTable

CHG_SCHEMA = "pk long, v string, _kind string, _checkpoint_id long, _commit_ts timestamp"


def _mk(spark, path, n_rows=400, n_buckets=4, threshold=0):
    t = ParquetTable(spark, path, ["pk"], n_buckets=n_buckets,
                     split_threshold_rows=threshold)
    t.overwrite(
        spark.range(n_rows).select(F.col("id").alias("pk"),
                                   F.concat(F.lit("v"), F.col("id")).alias("v"))
    )
    return t


def _bucket_files(path):
    out = {}
    for name in os.listdir(path):
        if name.startswith(f"{BUCKET_COL}="):
            d = os.path.join(path, name)
            out[name] = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    return out


def test_split_preserves_rows_and_rewrites_only_parent(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    before = sorted((r.pk, r.v) for r in t.read().collect())
    files_before = _bucket_files(t.path)
    parent = 1
    c1, c2 = t.split_bucket(parent)
    m = t.n_buckets
    assert (c1, c2) == (2 * m + parent, 3 * m + parent)
    # manifest swapped parent for children
    leaves = set(t.leaf_buckets())
    assert parent not in leaves and {c1, c2} <= leaves
    # data identical
    assert sorted((r.pk, r.v) for r in t.read().collect()) == before
    # ONLY the parent's directory changed: every other bucket keeps its
    # exact parquet files (the property that makes splits O(1 bucket))
    files_after = _bucket_files(t.path)
    for name, fl in files_before.items():
        if name != f"{BUCKET_COL}={parent}":
            assert files_after[name] == fl
    assert f"{BUCKET_COL}={parent}" not in files_after
    # hash-prefix stability: every row in a child dir belongs there
    raw = t.read_raw().withColumn("_assigned", t.assign_bucket_expr())
    assert raw.where(F.col(BUCKET_COL) != F.col("_assigned")).count() == 0


def test_legacy_table_without_manifest_matches_static_scheme(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    # a never-split table writes no manifest at all — that IS the legacy
    # on-disk format, so pre-split tables need no migration
    assert not os.path.exists(t._manifest_path)
    assert t.leaf_buckets() == [0, 1, 2, 3]
    from peerdb_spark.storage import bucket_expr

    df = spark.range(200).select(F.col("id").alias("pk"))
    mism = (
        df.withColumn("a", t.assign_bucket_expr())
        .withColumn("b", bucket_expr(["pk"], 4))
        .where(F.col("a") != F.col("b"))
        .count()
    )
    assert mism == 0


def test_empty_leaf_splits_manifest_only(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    c1, c2 = t.split_bucket(2)
    # child c2 may be empty (no dir) — split it again: manifest-only path
    rows = t.rows_per_bucket()
    empty = c1 if rows.get(c1, 0) == 0 else (c2 if rows.get(c2, 0) == 0 else None)
    if empty is None:
        # force one: split until an empty child appears (tiny table ⇒ quick)
        empty = t.split_bucket(c1)[0]
    before = t.read().count()
    cc1, cc2 = t.split_bucket(empty) if empty in t.leaf_buckets() else (None, None)
    assert t.read().count() == before
    if cc1 is not None:
        assert empty not in set(t.leaf_buckets())


def test_merge_into_split_table_converges(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    for b in (0, 3):
        t.split_bucket(b)
    changes = spark.createDataFrame(
        [(i, f"new{i}", "update", 100 + i, None) for i in range(0, 400, 7)]
        + [(i, None, "delete", 500 + i, None) for i in range(1, 400, 50)]
        + [(400 + i, f"ins{i}", "insert", 900 + i, None) for i in range(20)],
        CHG_SCHEMA,
    )
    N.merge_into_table(t, changes)
    got = {r.pk: r.v for r in t.read().collect()}
    for i in range(400):
        if i % 50 == 1:
            # deletes carry the highest checkpoints, so LWW ranks them
            # above same-key updates (e.g. pk 301 is in both lists)
            assert i not in got
        elif i % 7 == 0:
            assert got[i] == f"new{i}"
        else:
            assert got[i] == f"v{i}"
    for i in range(20):
        assert got[400 + i] == f"ins{i}"


def test_observed_bucket_probe_equals_distinct_probe(spark, tmp_path, monkeypatch):
    """merge_into_table reads its touched buckets from an observation on
    the batch checkpoint. That set must equal the distinct bucket probe it
    replaced: replace_partitions discards the staged rows of every bucket
    it is not given, so a missing bucket loses data. Checked on a
    never-split and a split table, with and without images, and for an
    empty batch, which must touch no bucket."""
    seen = []
    replace = ParquetTable.replace_partitions

    def spy(self, df, buckets):
        seen.append(sorted(buckets))
        return replace(self, df, buckets)

    monkeypatch.setattr(ParquetTable, "replace_partitions", spy)
    changes = spark.createDataFrame(
        [(5, "u5", "update", 100, None), (9, None, "delete", 101, None),
         (5, "u5b", "update", 102, None), (450, "i450", "insert", 103, None)],
        CHG_SCHEMA,
    )
    for split in (False, True):
        for images in (False, True):
            t = _mk(spark, str(tmp_path / f"t{split}{images}"))
            if split:
                for b in (0, 3):
                    t.split_bucket(b)
            want = sorted(r[0] for r in changes.select(t.assign_bucket_expr()).distinct().collect())
            assert 0 < len(want) < len(t.leaf_buckets())
            N.merge_into_table(t, changes, return_images=images)
            assert seen.pop() == want
            got = {r.pk: r.v for r in t.read().collect()}
            assert (got[5], 9 in got, got[450], len(got)) == ("u5b", False, "i450", 400)

            files = _bucket_files(t.path)
            images_out = N.merge_into_table(t, changes.where(F.lit(False)), return_images=images)
            assert seen.pop() == []
            assert _bucket_files(t.path) == files
            if images:
                assert [im.count() for im in images_out] == [0, 0]


def test_threshold_triggers_split_after_merge_and_bounds_bucket_size(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n_rows=300, threshold=120)
    # grow the table through merges; every touched oversized bucket splits
    for batch in range(3):
        base = 1000 * (batch + 1)
        changes = spark.createDataFrame(
            [(base + i, f"b{batch}_{i}", "insert", base + i, None) for i in range(300)],
            CHG_SCHEMA,
        )
        N.merge_into_table(t, changes)
    # gradual growth: leaf count grew beyond the base 4
    assert len(t.leaf_buckets()) > 4
    # convergence despite splits
    assert t.read().count() == 300 + 3 * 300
    # every bucket that was touched by the LAST merge is now ≤ threshold
    # after one more no-new-rows merge round lets stragglers split
    N.merge_into_table(
        t,
        spark.createDataFrame([(1, "x", "update", 99999, None)], CHG_SCHEMA),
    )
    sizes = t.rows_per_bucket()
    # all leaves at most ~threshold + one batch of growth (split lags one
    # batch by design: the batch that crosses the threshold commits first)
    assert max(sizes.values()) <= 120 + 300


def test_return_images_path_snapshots_post_before_split(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"), n_rows=300, threshold=50)
    changes = spark.createDataFrame(
        [(i, f"n{i}", "update", 1000 + i, None) for i in range(0, 300, 2)],
        CHG_SCHEMA,
    )
    pre, post = N.merge_into_table(t, changes, return_images=True)
    # post reflects the merge even though the touched buckets split under it
    got = {r.pk: r.v for r in post.collect()}
    assert got == {i: f"n{i}" for i in range(0, 300, 2)}
    assert {r.pk for r in pre.collect()} == set(range(0, 300, 2))
    assert len(t.leaf_buckets()) > 4  # the split did happen


def test_fault_injection_sweep_split_protocol(spark, tmp_path):
    """Interrupt split_bucket at every os.rename / os.replace / shutil.move /
    os.remove call index in turn; after each crash a plain read must return
    the EXACT original rows (no loss, no duplicates) and re-running
    maybe_split must converge to the committed split."""
    from unittest import mock

    from peerdb_spark import storage as S

    expected = sorted((i, f"v{i}") for i in range(400))

    step = 0
    while True:
        path = str(tmp_path / f"s{step}")
        t = _mk(spark, path, threshold=50)
        calls = {"n": 0}
        real_rename, real_replace = os.rename, os.replace
        real_move, real_remove = shutil.move, os.remove

        # lease acquire/release are excluded from injection: an in-process
        # exception always reaches the finally-release, and a process crash
        # leaves a DEAD-pid lease that _writer_alive already lets readers
        # repair past — neither is a window this sweep can model in-process
        def _gate(path, _step=step, _calls=calls):
            if "writer-lease" in str(path):
                return
            if _calls["n"] == _step:
                raise OSError("injected crash")
            _calls["n"] += 1

        def f_rename(a, b):
            _gate(a); return real_rename(a, b)

        def f_replace(a, b):
            _gate(a); return real_replace(a, b)

        def f_move(a, b):
            _gate(a); return real_move(a, b)

        def f_remove(a):
            _gate(a); return real_remove(a)

        crashed = False
        with mock.patch.object(S.os, "rename", f_rename), mock.patch.object(
            S.os, "replace", f_replace
        ), mock.patch("shutil.move", f_move), mock.patch.object(
            S.os, "remove", f_remove
        ):
            try:
                t.split_bucket(0)
            except OSError:
                crashed = True
        # read-path repair must yield a consistent table either way
        got = sorted((r.pk, r.v) for r in t.read().collect())
        assert got == expected, (step, crashed, len(got))
        # recovery converges: split every remaining oversized leaf
        t.maybe_split()
        got = sorted((r.pk, r.v) for r in t.read().collect())
        assert got == expected, (step, crashed, len(got))
        assert max(t.rows_per_bucket().values() or [0]) <= 400
        raw = t.read_raw().withColumn("_a", t.assign_bucket_expr())
        assert raw.where(F.col(BUCKET_COL) != F.col("_a")).count() == 0
        if not crashed:
            break
        step += 1
    assert step >= 4  # the sweep exercised several crash windows


def test_split_idempotent_and_double_split_rejected(spark, tmp_path):
    t = _mk(spark, str(tmp_path / "t"))
    t.split_bucket(0)
    try:
        t.split_bucket(0)
        raise AssertionError("second split of a non-leaf must fail")
    except AssertionError as e:
        if "not a leaf" not in str(e):
            raise


def test_overwrite_preserves_manifest(spark, tmp_path):
    """Round-9 review finding: overwrite() promotes a fresh dir over the
    table — without carrying _peerdb_buckets.json, a previously split table
    silently reverts to base-bucket routing while its rows sit in split-leaf
    dirs, and the next merge resurrects/duplicates keys."""
    t = _mk(spark, str(tmp_path / "t"))
    t.split_bucket(1)
    leaves = sorted(t.leaf_buckets())
    t.overwrite(
        spark.range(400).select(F.col("id").alias("pk"),
                                F.concat(F.lit("w"), F.col("id")).alias("v"))
    )
    assert sorted(t.leaf_buckets()) == leaves
    # rows routed by the split layout, not base
    raw = t.read_raw().withColumn("_a", t.assign_bucket_expr())
    assert raw.where(F.col(BUCKET_COL) != F.col("_a")).count() == 0
    # a merge after the overwrite neither duplicates nor resurrects
    changes = spark.createDataFrame(
        [(i, f"m{i}", "update", 1000 + i, None) for i in range(0, 400, 3)],
        CHG_SCHEMA,
    )
    N.merge_into_table(t, changes)
    rows = t.read().collect()
    assert len(rows) == 400
    got = {r.pk: r.v for r in rows}
    assert got[3] == "m3" and got[4] == "w4"


def test_overwrite_crash_window_keeps_manifest(spark, tmp_path):
    """Crash between staging-promote and manifest re-save: repair restores
    the manifest from the parked pre-overwrite dir (like the schema
    sidecar)."""
    t = _mk(spark, str(tmp_path / "t"))
    t.split_bucket(2)
    leaves = sorted(t.leaf_buckets())
    # simulate: park the table (manifest inside), promote a manifest-less
    # copy (what a promoted staging is)
    parked = t.path + ".overwrite-old-deadbeef"
    shutil.copytree(t.path, parked)
    os.remove(t._manifest_path)
    t.repair()
    assert sorted(t.leaf_buckets()) == leaves
    assert not os.path.isdir(parked)


def test_concurrent_reader_never_sees_split_duplicates(spark, tmp_path):
    """Round-9 review finding: mid-split (children staged, parent still
    live, writer holding the lease so readers skip repair) a read must see
    exactly the original rows — the dot-prefixed child staging names keep
    them invisible to partition discovery."""
    t = _mk(spark, str(tmp_path / "t"))
    expected = sorted((r.pk, r.v) for r in t.read().collect())
    m, r_ = t.bucket_level(1)
    c1, c2 = 2 * m + 1, 3 * m + 1
    # hand-build the pre-commit state: marker + dot-staged children present,
    # parent still live, OUR lease held (a live writer mid-split)
    import json as _json
    pdir = os.path.join(t.path, f"{BUCKET_COL}=1")
    for c in (c1, c2):
        shutil.copytree(pdir, os.path.join(t.path, f".split-in-{BUCKET_COL}={c}"))
    with open(os.path.join(t.path, ".split-pending-1.json"), "w") as f:
        f.write(_json.dumps({"parent": 1, "children": [c1, c2]}))
    t._acquire_lease()
    try:
        got = sorted((r.pk, r.v) for r in t.read().collect())
        assert got == expected  # no duplicates, no missing rows
    finally:
        t._release_lease()
    # once the writer is gone, repair rolls the attempt back cleanly
    got = sorted((r.pk, r.v) for r in t.read().collect())
    assert got == expected
    assert not any(n.startswith(".split-") for n in os.listdir(t.path))
