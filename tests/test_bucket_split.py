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

import pytest
from pyspark.sql import functions as F

from peerdb_spark import normalize as N
from peerdb_spark.storage import BUCKET_COL, MANIFEST_FILE, ParquetTable
from tests.test_storage_crash import _assert_clean, _crash_at

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
    # data identical, also to a plain parquet read of the directory
    assert sorted((r.pk, r.v) for r in t.read().collect()) == before
    assert sorted((r.pk, r.v) for r in spark.read.parquet(t.path).collect()) == before
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
    """A table older versions wrote — bucket dirs, a schema sidecar, no
    manifest — reads its rows, routes keys by the static scheme, survives a
    crashed first write, accepts a merge, and after it holds a full manifest
    and nothing it does not name."""
    from peerdb_spark.storage import bucket_expr, save_schema

    path = str(tmp_path / "t")
    rows = spark.range(400).select(F.col("id").alias("pk"),
                                   F.concat(F.lit("v"), F.col("id")).alias("v"))
    legacy = rows.withColumn(BUCKET_COL, bucket_expr(["pk"], 4))
    legacy.write.partitionBy(BUCKET_COL).parquet(path)
    save_schema(path, legacy.schema)
    t = ParquetTable(spark, path, ["pk"], n_buckets=4)
    assert not os.path.exists(t._manifest_path)
    assert t.leaf_buckets() == [0, 1, 2, 3]
    df = spark.range(200).select(F.col("id").alias("pk"))
    mism = (
        df.withColumn("a", t.assign_bucket_expr())
        .withColumn("b", bucket_expr(["pk"], 4))
        .where(F.col("a") != F.col("b"))
        .count()
    )
    assert mism == 0
    assert sorted((r.pk, r.v) for r in ParquetTable(spark, path).read().collect()) == \
        [(i, f"v{i}") for i in range(400)]
    # a first write that crashes after one staged file moved in leaves the
    # legacy rows readable: the table's files are named before any moves
    with _crash_at(1, path, calls=[(os, "rename")]), pytest.raises(OSError):
        t.overwrite(rows.withColumn("v", F.lit("x")))
    assert sorted((r.pk, r.v) for r in ParquetTable(spark, path).read().collect()) == \
        [(i, f"v{i}") for i in range(400)]
    N.merge_into_table(t, spark.createDataFrame(
        [(i, f"m{i}", "update", 1000 + i, None) for i in range(0, 400, 9)], CHG_SCHEMA))
    got = {r.pk: r.v for r in spark.read.parquet(path).collect()}
    assert len(got) == 400 and got[9] == "m9" and got[10] == "v10"
    assert t.leaf_buckets() == [0, 1, 2, 3]
    _assert_clean(t)


def test_legacy_split_manifest_reads_and_merges(spark, tmp_path):
    """Older versions kept only the leaf ids of a split table in the
    manifest; such a table reads the same rows, routes by its leaves and
    accepts a merge."""
    import json

    t = _mk(spark, str(tmp_path / "t"))
    t.split_bucket(1)
    leaves = t.leaf_buckets()
    with open(t._manifest_path, "w") as f:
        json.dump({"base": 4, "leaves": leaves}, f)
    legacy = ParquetTable(spark, t.path, ["pk"], n_buckets=4)
    assert legacy.leaf_buckets() == leaves
    raw = legacy.read_raw().withColumn("_a", legacy.assign_bucket_expr())
    assert raw.where(F.col(BUCKET_COL) != F.col("_a")).count() == 0
    assert sorted((r.pk, r.v) for r in legacy.read().collect()) == \
        sorted((i, f"v{i}") for i in range(400))
    N.merge_into_table(legacy, spark.createDataFrame(
        [(i, f"m{i}", "update", 1000 + i, None) for i in range(1, 400, 4)], CHG_SCHEMA))
    got = {r.pk: r.v for r in legacy.read().collect()}
    assert len(got) == 400 and got[5] == "m5" and got[6] == "v6"
    assert legacy.leaf_buckets() == leaves


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
    # a reader that knows neither the keys nor the bucket count, and a plain
    # parquet read, see the same rows
    assert {r.pk: r.v for r in ParquetTable(spark, t.path).read().collect()} == got
    assert sorted(spark.read.parquet(t.path).drop(BUCKET_COL).collect()) == \
        sorted(t.read().collect())
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
    """An overwrite of a split table that crashes before or after its
    commit leaves the split leaves in force, with every row in the leaf
    they assign it."""
    fresh = spark.range(400).select(F.col("id").alias("pk"),
                                    F.concat(F.lit("w"), F.col("id")).alias("v"))
    for name, only, calls in (("before", MANIFEST_FILE, [(os, "replace")]),
                              ("after", "", [(os, "remove")])):
        t = _mk(spark, str(tmp_path / name))
        t.split_bucket(2)
        leaves = t.leaf_buckets()
        with _crash_at(0, t.path, only=only, calls=calls), pytest.raises(OSError):
            t.overwrite(fresh)
        t2 = ParquetTable(spark, t.path, ["pk"], n_buckets=4)
        assert t2.leaf_buckets() == leaves, name
        raw = t2.read_raw().withColumn("_a", t2.assign_bucket_expr())
        assert raw.where(F.col(BUCKET_COL) != F.col("_a")).count() == 0, name
        want = "v" if name == "before" else "w"
        assert {r.v[0] for r in t2.read().collect()} == {want}, name


def test_concurrent_reader_never_sees_split_duplicates(spark, tmp_path):
    """Mid-split — both children's files moved into the table, the manifest
    not yet published — a reader sees exactly the original rows, and the
    next split of the same leaf converges."""
    t = _mk(spark, str(tmp_path / "t"))
    expected = sorted((r.pk, r.v) for r in t.read().collect())
    m, _r = t.bucket_level(1)
    c1, c2 = 2 * m + 1, 3 * m + 1
    with _crash_at(0, t.path, only=MANIFEST_FILE, calls=[(os, "replace")]), \
            pytest.raises(OSError):
        t.split_bucket(1)
    assert {f"{BUCKET_COL}={c1}", f"{BUCKET_COL}={c2}"} <= set(os.listdir(t.path))
    reader = ParquetTable(spark, t.path, ["pk"], n_buckets=4)
    assert 1 in reader.leaf_buckets()
    got = sorted((r.pk, r.v) for r in reader.read().collect())
    assert got == expected  # no duplicates, no missing rows
    assert t.split_bucket(1) == (c1, c2)
    assert sorted((r.pk, r.v) for r in t.read().collect()) == expected
    _assert_clean(t)
