"""Incremental materialized-view maintenance with retraction (mview.py).

The declared query `cdc_mirror_mview` value-verifies convergence against the
one-shot oracle; these tests pin the retraction semantics on hand-built
changelogs: updates MOVE rows between groups, deletes remove them, groups
vanish at count zero, and batch order doesn't matter.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from peerdb_spark.mview import group_contrib, lww_merge_touched, mview_fold

SCHEMA = "pk long, ck long, kind string, grp string, v long"


def _fold_batches(spark, batches):
    mirror, view = None, None
    for rows in batches:
        batch = spark.createDataFrame(rows, SCHEMA)
        pre, post, mirror = lww_merge_touched(mirror, batch, "pk", "ck")
        live = F.col("kind") != "delete"
        view = mview_fold(view, pre.where(live), post.where(live), ["grp"], "v")
        mirror = mirror.localCheckpoint(eager=True)
        view = view.localCheckpoint(eager=True)
    return mirror, view


def _view_dict(view):
    return {r["grp"]: (r["cnt"], r["sum_v"]) for r in view.collect()}


def test_update_moves_row_between_groups(spark):
    batches = [
        [(1, 10, "insert", "a", 5), (2, 11, "insert", "a", 7)],
        [(1, 20, "update", "b", 9)],  # pk 1 leaves group a, enters b
    ]
    _, view = _fold_batches(spark, batches)
    assert _view_dict(view) == {"a": (1, 7), "b": (1, 9)}


def test_group_vanishes_at_zero(spark):
    batches = [
        [(1, 10, "insert", "a", 5)],
        [(1, 20, "delete", "a", 5)],
    ]
    _, view = _fold_batches(spark, batches)
    assert _view_dict(view) == {}


def test_out_of_order_batches_converge(spark):
    """LWW by checkpoint is commutative: a stale update arriving AFTER the
    delete that supersedes it must not resurrect the row."""
    newer = [(1, 30, "delete", "a", 5), (2, 31, "insert", "b", 1)]
    stale = [(1, 20, "update", "a", 99)]
    _, v1 = _fold_batches(spark, [newer, stale])
    _, v2 = _fold_batches(spark, [stale, newer])
    assert _view_dict(v1) == _view_dict(v2) == {"b": (1, 1)}


def test_random_folds_equal_one_shot(spark):
    rng = random.Random(13)
    kinds = ["insert", "update", "update", "delete"]
    rows = [
        (rng.randrange(20), ck, rng.choice(kinds),
         rng.choice("abc"), rng.randrange(-50, 50))
        for ck in range(120)
    ]
    n_batches = 4
    assign = [rng.randrange(n_batches) for _ in rows]
    order = list(range(n_batches))
    rng.shuffle(order)
    batches = [[r for r, a in zip(rows, assign) if a == b] for b in order]
    _, view = _fold_batches(spark, [b for b in batches if b])

    full = spark.createDataFrame(rows, SCHEMA)
    w = (
        full.groupBy("pk")
        .agg(F.max_by(F.struct("ck", "kind", "grp", "v"), "ck").alias("_w"))
        .select("pk", "_w.*")
        .where(F.col("kind") != "delete")
    )
    want = _view_dict(group_contrib(w, ["grp"], "v"))
    assert _view_dict(view) == want


def test_mirror_keeps_tombstones_view_does_not(spark):
    batches = [[(1, 10, "insert", "a", 5), (2, 11, "delete", "a", 0)]]
    mirror, view = _fold_batches(spark, batches)
    assert {r["pk"]: r["kind"] for r in mirror.collect()} == {1: "insert", 2: "delete"}
    assert _view_dict(view) == {"a": (1, 5)}


def test_mview_table_exactly_once_and_crash_safe(spark, tmp_path):
    """Durable MviewTable: redelivery no-ops, mirror+view commit atomically
    (orphan snapshot invisible after a crash mid-fold), old versions GC'd."""
    import os

    from peerdb_spark.mview import MviewTable

    t = MviewTable(spark, str(tmp_path / "m"), "pk", "ck", "kind", ["grp"], "v")
    b1 = spark.createDataFrame([(1, 10, "insert", "a", 5)], SCHEMA)
    b2 = spark.createDataFrame([(1, 20, "update", "b", 7), (2, 21, "insert", "a", 3)], SCHEMA)
    assert t.fold(b1, batch_id=0) is True
    assert t.fold(b1, batch_id=0) is False  # redelivery
    # crash simulation: v2 written (both dirs) but pointer not swung
    b2g = b2.groupBy("pk").agg(F.max_by(F.struct("ck", "kind", "grp", "v"), "ck").alias("w"))
    b2g.select("pk", "w.*").write.parquet(str(tmp_path / "m" / "v2" / "mirror"))
    b2g.select("pk", "w.*").write.parquet(str(tmp_path / "m" / "v2" / "view"))
    assert {r["grp"]: r["cnt"] for r in t.view().collect()} == {"a": 1}  # orphan invisible
    assert t.fold(b2, batch_id=1) is True  # overwrites the orphan
    assert {r["grp"]: (r["cnt"], r["sum_v"]) for r in t.view().collect()} == {
        "a": (1, 3), "b": (1, 7),
    }
    assert {r["pk"]: r["grp"] for r in t.mirror().collect()} == {1: "b", 2: "a"}
    # grace-window retention: v1 survives the fold that published v2
    assert os.path.isdir(str(tmp_path / "m" / "v1"))
    assert t.fold(b2, batch_id=1) is False
    b3 = spark.createDataFrame([(3, 30, "insert", "c", 1)], SCHEMA)
    assert t.fold(b3, batch_id=2) is True
    assert not os.path.isdir(str(tmp_path / "m" / "v1"))  # GC'd at v3
    assert os.path.isdir(str(tmp_path / "m" / "v2"))


def test_mview_table_from_structured_streaming(spark, tmp_path):
    """MviewTable as the foreachBatch sink of a changelog STREAM: the final
    durable view equals the one-shot aggregate over the latest-per-pk rows."""
    import os

    from peerdb_spark.mview import MviewTable

    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [
        [(1, 10, "insert", "a", 5), (2, 11, "insert", "b", 7)],
        [(1, 20, "update", "b", 9), (3, 21, "insert", "a", 1)],
        [(2, 30, "delete", "b", 0)],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(f"{src}/b{i}")

    t = MviewTable(spark, str(tmp_path / "m"), "pk", "ck", "kind", ["grp"], "v")
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(
        f"{src}/b*"
    )
    q = stream.writeStream.foreachBatch(
        lambda df, bid: t.fold(df, bid)
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    full = spark.createDataFrame([r for b in batches for r in b], SCHEMA)
    w = (
        full.groupBy("pk")
        .agg(F.max_by(F.struct("ck", "kind", "grp", "v"), "ck").alias("_w"))
        .select("pk", "_w.*")
        .where(F.col("kind") != "delete")
    )
    want = _view_dict(group_contrib(w, ["grp"], "v"))
    assert _view_dict(t.view()) == want


def test_cdc_pipeline_attached_view(spark, tmp_path):
    """CdcPipeline.attach_view: the maintained per-group aggregate tracks
    the destination table through inserts, group-moving updates, hard
    deletes, and a redelivered normalize — always equal to the one-shot
    aggregate over the live table state."""
    import datetime as dt
    import json

    from pyspark.sql import types as T

    from peerdb_spark import cdc
    from peerdb_spark.mview import ViewTable
    from peerdb_spark.storage import ParquetTable

    val_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("amt", T.LongType()),
    ])
    TS = dt.datetime(2024, 1, 1)

    def changelog(rows):
        data = [
            {
                "_kind": k, "_checkpoint_id": c,
                "_commit_ts": TS + dt.timedelta(seconds=c), "_txid": c,
                "_src_table": "t", "_dst_table": "t",
                # delete events carry the row in _old_data (pgoutput shape)
                "_data": json.dumps(d) if k != "delete" else None,
                "_old_data": json.dumps(d) if k == "delete" else None,
                "_unchanged_cols": None,
            }
            for (k, c, d) in rows
        ]
        return spark.createDataFrame(data, cdc.CHANGELOG_SCHEMA)

    cfg = cdc.CdcTableConfig("t", ["id"], val_schema, str(tmp_path / "t"), n_buckets=4)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg])
    view = ViewTable(spark, str(tmp_path / "view"), ["grp"], "amt")
    pipe.attach_view("t", view)

    def view_dict():
        return {r["grp"]: (r["cnt"], r["sum_v"]) for r in view.read().collect()}

    def one_shot():
        t = ParquetTable(spark, cfg.path, ["id"], 4).read()
        return {
            r["grp"]: (r["cnt"], r["sum_v"])
            for r in t.groupBy("grp")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("amt").alias("sum_v"))
            .collect()
        }

    pipe.sync_batch(changelog([
        ("insert", 1, {"id": 1, "grp": "a", "amt": 5}),
        ("insert", 2, {"id": 2, "grp": "b", "amt": 7}),
    ]), batch_id=1)
    pipe.normalize_batches(1, 1)
    assert view_dict() == one_shot() == {"a": (1, 5), "b": (1, 7)}

    pipe.sync_batch(changelog([
        ("update", 3, {"id": 1, "grp": "b", "amt": 9}),   # moves a -> b
        ("delete", 4, {"id": 2, "grp": "b", "amt": 7}),   # hard delete
        ("insert", 5, {"id": 3, "grp": "a", "amt": 2}),
    ]), batch_id=2)
    pipe.normalize_batches(2, 2)
    assert view_dict() == one_shot() == {"a": (1, 2), "b": (1, 9)}

    # redelivered normalize range: merge is idempotent, view must no-op
    pipe.normalize_batches(2, 2)
    assert view_dict() == {"a": (1, 2), "b": (1, 9)}


def test_view_table_crash_and_redelivery(spark, tmp_path):
    """ViewTable (view-only durable state): orphan snapshot from a crashed
    fold stays invisible, refold overwrites it, applied ids no-op."""
    import os

    from peerdb_spark.mview import ViewTable

    v = ViewTable(spark, str(tmp_path / "v"), ["grp"], "amt")
    empty = spark.createDataFrame([], "id long, grp string, amt long")
    post1 = spark.createDataFrame([(1, "a", 5)], "id long, grp string, amt long")
    assert v.fold(empty, post1, batch_id=1) is True
    assert v.fold(empty, post1, batch_id=1) is False  # redelivery no-op
    # crash: v2 written, pointer not swung
    post1.write.parquet(str(tmp_path / "v" / "v2"))
    assert {r["grp"]: r["cnt"] for r in v.read().collect()} == {"a": 1}
    pre2 = post1
    post2 = spark.createDataFrame([(1, "b", 9)], "id long, grp string, amt long")
    assert v.fold(pre2, post2, batch_id=2) is True  # overwrites orphan
    assert {r["grp"]: (r["cnt"], r["sum_v"]) for r in v.read().collect()} == {
        "b": (1, 9),
    }
    # grace-window retention: v1 survives until v3 publishes
    assert os.path.isdir(str(tmp_path / "v" / "v1"))
    pre3, post3 = post2, spark.createDataFrame(
        [(1, "c", 4)], "id long, grp string, amt long"
    )
    assert v.fold(pre3, post3, batch_id=3) is True
    assert not os.path.isdir(str(tmp_path / "v" / "v1"))  # GC'd at v3
    assert os.path.isdir(str(tmp_path / "v" / "v2"))


def test_epoch_pointer_stays_constant_size(spark, tmp_path):
    """Pipeline-fed stores fold once per normalize epoch, and epochs need
    not start at 0 nor be contiguous: process_batch callers number batches
    from 1, and a cadence of k folds every k-th id. ViewTable and
    CorpusStateView record the epoch as a watermark, so the pointer holds
    no applied-id list in either case and an older epoch no-ops."""
    import json
    import os

    from peerdb_spark.functions.corpus import CorpusStateView
    from peerdb_spark.mview import ViewTable
    from peerdb_spark.rollup import publish_epoch, read_pointer

    def pointer(path):
        with open(os.path.join(path, "_CURRENT")) as fh:
            return json.load(fh)

    rows = spark.createDataFrame([], "doc_id long, text string, grp string, amt long")
    for store, ids in (
        (ViewTable(spark, str(tmp_path / "v"), ["grp"], "amt"), [1, 2]),
        (CorpusStateView(spark, str(tmp_path / "c")), [3, 6]),
    ):
        for epoch in ids:
            assert store.fold(rows, rows, batch_id=epoch) is True
            m = pointer(store.path)
            assert (m["applied_until"], m["applied_extra"]) == (epoch, [])
        assert store.fold(rows, rows, batch_id=ids[0]) is False
    # many epochs through the same publish, pointer only ({} writes no part)
    for name, epochs in (("from1", range(1, 100)), ("every3", range(3, 300, 3))):
        path = str(tmp_path / name)
        os.makedirs(path)
        sizes = []
        for epoch in epochs:
            publish_epoch(path, read_pointer(path), {}, epoch)
            sizes.append(os.path.getsize(os.path.join(path, "_CURRENT")))
        assert pointer(path)["applied_extra"] == []
        assert max(sizes) - min(sizes) <= 4  # the digits of version and epoch


def test_minmax_refresh_after_extremum_deletion(spark):
    """min/max can't retract algebraically: deleting the current max forces
    a re-scan of the touched group — minmax_refresh does exactly that, and
    only for touched groups (cold groups keep stale-but-correct rows)."""
    from peerdb_spark.mview import minmax_refresh

    mirror = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 9), (3, "b", 4)], "id long, grp string, v long"
    )
    view0 = minmax_refresh(None, mirror, mirror.select("grp").distinct(), ["grp"], "v")
    d0 = {r["grp"]: (r["min_v"], r["max_v"]) for r in view0.collect()}
    assert d0 == {"a": (5, 9), "b": (4, 4)}

    # delete id 2 (the max of group a); group b untouched
    mirror2 = mirror.where(F.col("id") != 2)
    touched = spark.createDataFrame([("a",)], "grp string")
    view1 = minmax_refresh(view0, mirror2, touched, ["grp"], "v")
    d1 = {r["grp"]: (r["min_v"], r["max_v"]) for r in view1.collect()}
    assert d1 == {"a": (5, 5), "b": (4, 4)}

    # delete the last row of group a: the group disappears from the view
    mirror3 = mirror2.where(F.col("id") != 1)
    view2 = minmax_refresh(view1, mirror3, touched, ["grp"], "v")
    assert {r["grp"] for r in view2.collect()} == {"b"}


def test_fold_matches_a_null_group_key(spark):
    """A NULL dim is one group: the fold must combine the view's NULL row
    with the batch's NULL contribution instead of keeping both."""
    view = spark.createDataFrame([(None, 2, 10), ("a", 1, 1)], "flag string, cnt long, sum_v long")
    schema = "id long, flag string, qty long"
    post = spark.createDataFrame([(7, None, 5)], schema)
    out = mview_fold(view, spark.createDataFrame([], schema), post, ["flag"], "qty")
    assert sorted(out.collect(), key=lambda r: r["flag"] or "") == [
        (None, 3, 15), ("a", 1, 1)]


def test_minmax_refresh_rescans_a_null_group(spark):
    """A touched NULL group is re-scanned from the live rows, not kept stale."""
    from peerdb_spark.mview import minmax_refresh

    view = spark.createDataFrame([(None, 1, 9)], "grp string, min_v long, max_v long")
    live = spark.createDataFrame([(1, None, 3), (2, None, 4)], "id long, grp string, v long")
    touched = spark.createDataFrame([(None,)], "grp string")
    assert minmax_refresh(view, live, touched, ["grp"], "v").collect() == [(None, 3, 4)]


def test_enriched_view_dim_join_folds(spark):
    """enrich_images: Δ(fact ⋈ dim) = Δfact ⋈ dim — a customer-moving
    update retracts from the old nation group and lands in the new one."""
    from peerdb_spark.mview import enrich_images, lww_merge_touched, mview_fold

    dims = spark.createDataFrame(
        [(1, "US"), (2, "DE")], "custkey long, n_name string"
    )
    sch = "pk long, ck long, kind string, custkey long, cents long"
    b1 = spark.createDataFrame([(10, 1, "insert", 1, 100), (11, 2, "insert", 2, 50)], sch)
    b2 = spark.createDataFrame([(10, 3, "update", 2, 100)], sch)  # moves US -> DE
    mirror, view = None, None
    for b in (b1, b2):
        pre, post, mirror = lww_merge_touched(mirror, b, "pk", "ck")
        live = F.col("kind") != "delete"
        epre, epost = enrich_images(pre.where(live), post.where(live), dims, "custkey")
        view = mview_fold(view, epre, epost, ["n_name"], "cents")
        mirror = mirror.localCheckpoint(eager=True)
        view = view.localCheckpoint(eager=True)
    got = {r["n_name"]: (r["cnt"], r["sum_v"]) for r in view.collect()}
    assert got == {"DE": (2, 150)}


def test_dim_update_moves_all_fact_rows(spark):
    """Two-sided IVM: a dim-side change (customer moves nation) re-homes
    every live fact row of that key; a dim delete removes them (inner-join
    semantics); untouched dim keys stay put."""
    from peerdb_spark.mview import dim_update_images, enrich_images, mview_fold

    facts = spark.createDataFrame(
        [(10, 1, 100), (11, 1, 40), (12, 2, 50)], "pk long, custkey long, cents long"
    )
    dims = spark.createDataFrame([(1, "US"), (2, "DE")], "custkey long, n_name string")
    empty = facts.where(F.lit(False))
    epre, epost = enrich_images(empty, facts, dims, "custkey")
    view = mview_fold(None, epre, epost, ["n_name"], "cents").localCheckpoint(eager=True)
    as_dict = lambda v: {r["n_name"]: (r["cnt"], r["sum_v"]) for r in v.collect()}
    assert as_dict(view) == {"US": (2, 140), "DE": (1, 50)}

    # customer 1 moves US -> FR: both its fact rows re-home
    dim_pre = dims.where(F.col("custkey") == 1)
    dim_post = spark.createDataFrame([(1, "FR")], "custkey long, n_name string")
    p, q = dim_update_images(facts, dim_pre, dim_post, "custkey")
    view = mview_fold(view, p, q, ["n_name"], "cents").localCheckpoint(eager=True)
    assert as_dict(view) == {"FR": (2, 140), "DE": (1, 50)}

    # customer 2 deleted from dims: its fact rows leave the view
    p, q = dim_update_images(
        facts, dim_post.where(F.lit(False)).unionByName(
            spark.createDataFrame([(2, "DE")], "custkey long, n_name string")),
        dim_post.where(F.lit(False)), "custkey",
    )
    view = mview_fold(view, p, q, ["n_name"], "cents")
    assert as_dict(view) == {"FR": (2, 140)}


def test_folds_keep_a_decimal_view_schema(spark, tmp_path):
    """A decimal(10,2) value backfills sum_v as decimal(20,2); every fold
    publishes that same schema with the exact sums (the view used to widen
    to decimal(38,2) on its first fold)."""
    from decimal import Decimal as D

    from peerdb_spark.mview import ViewTable

    rows = "id long, grp string, amt decimal(10,2)"
    v = ViewTable(spark, str(tmp_path / "v"), ["grp"], "amt")
    v.backfill(spark.createDataFrame([(1, "a", D("1.25")), (2, "b", D("2.50"))], rows))
    schema = v.read().schema
    assert schema.simpleString() == "struct<grp:string,cnt:bigint,sum_v:decimal(20,2)>"
    batches = [
        ([(1, "a", D("1.25"))], [(1, "a", D("3.10"))]),   # a: 1.25 -> 3.10
        ([(2, "b", D("2.50"))], [(2, "a", D("0.05"))]),   # b empties into a
        ([], [(3, "c", D("99999999.99"))]),
    ]
    for batch_id, (pre, post) in enumerate(batches, 1):
        v.fold(spark.createDataFrame(pre, rows), spark.createDataFrame(post, rows), batch_id)
        assert v.read().schema == schema
    assert {r["grp"]: (r["cnt"], r["sum_v"]) for r in v.read().collect()} == {
        "a": (2, D("3.15")), "c": (1, D("99999999.99"))}


def test_attach_view_backfill_on_populated_table(spark, tmp_path):
    """Attaching a view to a table that ALREADY has rows must seed from the
    one-shot aggregate (backfill=True) — and a replayed normalize range
    whose effects the backfill already contains nets to zero."""
    import datetime as dt
    import json

    from pyspark.sql import types as T

    from peerdb_spark import cdc
    from peerdb_spark.mview import ViewTable

    val_schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("grp", T.StringType()),
        T.StructField("amt", T.LongType()),
    ])
    TS = dt.datetime(2024, 1, 1)

    def changelog(rows):
        data = [
            {
                "_kind": k, "_checkpoint_id": c,
                "_commit_ts": TS + dt.timedelta(seconds=c), "_txid": c,
                "_src_table": "t", "_dst_table": "t",
                "_data": json.dumps(d) if k != "delete" else None,
                "_old_data": json.dumps(d) if k == "delete" else None,
                "_unchanged_cols": None,
            }
            for (k, c, d) in rows
        ]
        return spark.createDataFrame(data, cdc.CHANGELOG_SCHEMA)

    cfg = cdc.CdcTableConfig("t", ["id"], val_schema, str(tmp_path / "t"), n_buckets=4)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg])
    # populate BEFORE any view exists
    pipe.sync_batch(changelog([
        ("insert", 1, {"id": 1, "grp": "a", "amt": 5}),
        ("insert", 2, {"id": 2, "grp": "b", "amt": 7}),
    ]), batch_id=1)
    pipe.normalize_batches(1, 1)

    view = ViewTable(spark, str(tmp_path / "view"), ["grp"], "amt")
    pipe.attach_view("t", view, backfill=True)
    got = {r["grp"]: (r["cnt"], r["sum_v"]) for r in view.read().collect()}
    assert got == {"a": (1, 5), "b": (1, 7)}  # pre-existing rows present

    # replayed range: merge no-ops (LWW idempotent) -> images net to zero
    pipe.normalize_batches(1, 1)
    got = {r["grp"]: (r["cnt"], r["sum_v"]) for r in view.read().collect()}
    assert got == {"a": (1, 5), "b": (1, 7)}

    # and incremental folding continues from the backfilled base
    pipe.sync_batch(changelog([("update", 9, {"id": 2, "grp": "a", "amt": 1})]), batch_id=2)
    pipe.normalize_batches(2, 2)
    got = {r["grp"]: (r["cnt"], r["sum_v"]) for r in view.read().collect()}
    assert got == {"a": (2, 6)}


def test_pointer_publish_crash_injection(spark, tmp_path):
    """Interrupt the atomic pointer publish itself (os.replace fails after
    the snapshot is fully written): the fold raises, readers keep the OLD
    version, and a refold of the same batch converges with no double-count."""
    from unittest import mock

    from peerdb_spark.mview import MviewTable

    t = MviewTable(spark, str(tmp_path / "m"), "pk", "ck", "kind", ["grp"], "v")
    b1 = spark.createDataFrame([(1, 10, "insert", "a", 5)], SCHEMA)
    b2 = spark.createDataFrame([(2, 20, "insert", "a", 7)], SCHEMA)
    assert t.fold(b1, batch_id=0)

    def failing(a, b):
        raise OSError("injected crash at pointer publish")

    # the pointer publish renames through os.replace -> patch the os module
    with mock.patch("os.replace", failing):
        try:
            t.fold(b2, batch_id=1)
            raised = False
        except OSError:
            raised = True
    assert raised
    # old version still visible (snapshot v2 written but never published)
    assert {r["grp"]: (r["cnt"], r["sum_v"]) for r in t.view().collect()} == {"a": (1, 5)}
    # refold converges, no double-count
    assert t.fold(b2, batch_id=1) is True
    assert {r["grp"]: (r["cnt"], r["sum_v"]) for r in t.view().collect()} == {"a": (2, 12)}
    assert t.fold(b2, batch_id=1) is False
