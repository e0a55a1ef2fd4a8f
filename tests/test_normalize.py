"""Unit tests: last-writer-wins dedup + merge semantics.

Workload patterns follow the reference e2e coverage (SURVEY §5 / FIXTURES F3):
update-then-delete in one batch, delete-then-reinsert (resurrection), TOAST
unchanged columns, multiple updates to one key, soft delete.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from peerdb_spark import normalize as N
from peerdb_spark.storage import ParquetTable

TS = dt.datetime(2024, 1, 1)


def _chg(spark, rows):
    """rows: (kind, ckpt, pk, val, unchanged_cols|None)"""
    data = [
        {
            "_kind": k,
            "_checkpoint_id": c,
            "_commit_ts": TS + dt.timedelta(seconds=c),
            "_txid": c,
            "_dst_table": "t",
            "_unchanged_cols": u,
            "id": pk,
            "val": v,
        }
        for (k, c, pk, v, u) in rows
    ]
    return spark.createDataFrame(
        data,
        "id long, val string, _kind string, _checkpoint_id long, _commit_ts timestamp, "
        "_txid long, _dst_table string, _unchanged_cols array<string>",
    )


def _state(df):
    return {r["id"]: r.asDict() for r in df.collect()}


def test_latest_changes_picks_newest(spark):
    chg = _chg(spark, [("insert", 1, 1, "a", None), ("update", 2, 1, "b", None),
                       ("update", 3, 1, "c", None)])
    out = N.latest_changes(chg, ["id"]).collect()
    assert len(out) == 1 and out[0]["val"] == "c"


def test_latest_changes_tiebreak_checkpoint(spark):
    # same commit_ts → checkpoint id decides (deterministic LWW)
    rows = [
        {"_kind": "update", "_checkpoint_id": c, "_commit_ts": TS, "_txid": c,
         "_dst_table": "t", "_unchanged_cols": None, "id": 1, "val": v}
        for c, v in [(5, "five"), (9, "nine"), (7, "seven")]
    ]
    chg = spark.createDataFrame(
        rows,
        "id long, val string, _kind string, _checkpoint_id long, _commit_ts timestamp, "
        "_txid long, _dst_table string, _unchanged_cols array<string>",
    )
    out = N.latest_changes(chg, ["id"]).collect()
    assert out[0]["val"] == "nine"


def test_merge_insert_update_delete(spark):
    dest = spark.createDataFrame([(1, "one"), (2, "two"), (3, "three")], "id long, val string")
    chg = _chg(
        spark,
        [
            ("update", 1, 1, "ONE", None),
            ("delete", 2, 2, None, None),
            ("insert", 3, 4, "four", None),
            ("delete", 4, 99, None, None),  # delete of unseen key: no-op
        ],
    )
    out = _state(N.merge_changes(dest, chg, ["id"]))
    assert set(out) == {1, 3, 4}
    assert out[1]["val"] == "ONE" and out[4]["val"] == "four"


def test_merge_update_then_delete_same_key(spark):
    dest = spark.createDataFrame([(1, "one")], "id long, val string")
    chg = _chg(spark, [("update", 1, 1, "x", None), ("delete", 2, 1, None, None)])
    assert _state(N.merge_changes(dest, chg, ["id"])) == {}


def test_merge_delete_then_reinsert(spark):
    dest = spark.createDataFrame([(1, "one")], "id long, val string")
    chg = _chg(spark, [("delete", 1, 1, None, None), ("insert", 2, 1, "reborn", None)])
    out = _state(N.merge_changes(dest, chg, ["id"]))
    assert out[1]["val"] == "reborn"


def test_merge_toast_unchanged_cols(spark):
    dest = spark.createDataFrame([(1, "big-toast")], "id long, val string")
    # update arrives with val unchanged (NULL payload + unchanged marker)
    chg = _chg(spark, [("update", 1, 1, None, ["val"])])
    out = _state(N.merge_changes(dest, chg, ["id"]))
    assert out[1]["val"] == "big-toast"


@pytest.mark.xfail(strict=True, reason=(
    "TOAST backfill reads the pre-batch destination, not the latest in-batch "
    "image of the column (reference: cdc.go processUpdateMessage + cdc_store)"))
def test_toast_unchanged_after_in_batch_update(spark):
    # Postgres holds x='big5' after both updates; the merge dedups to the
    # second update and backfills x from the destination as it was before
    # the batch ('big1'), or NULL when the key has no destination row
    schema = ("id long, v string, x string, _kind string, _checkpoint_id long,"
              " _commit_ts timestamp, _txid long, _dst_table string,"
              " _unchanged_cols array<string>")
    chg = spark.createDataFrame([
        (1, "a", "big5", "update", 1, TS + dt.timedelta(seconds=1), 1, "t", None),
        (1, "c", None, "update", 2, TS + dt.timedelta(seconds=2), 2, "t", ["x"]),
    ], schema)
    dest = spark.createDataFrame([(1, "a", "big1")], "id long, v string, x string")
    for base in (dest, None):
        out = _state(N.merge_changes(base, chg, ["id"]))
        assert (out[1]["v"], out[1]["x"]) == ("c", "big5")


def test_merge_soft_delete_keeps_tombstone(spark):
    dest = spark.createDataFrame([(1, "one"), (2, "two")], "id long, val string")
    chg = _chg(spark, [("delete", 1, 1, None, None)])
    out = _state(
        N.merge_changes(dest, chg, ["id"], soft_delete_col="_deleted", synced_at_col="_synced")
    )
    assert out[1]["_deleted"] is True and out[1]["val"] == "one"
    assert out[2]["_deleted"] is False
    assert out[1]["_synced"] is not None and out[2]["_synced"] is None


def test_merge_soft_delete_unmatched_delete_inserts_tombstone(spark):
    # reference parity: 'WHEN NOT MATCHED AND _peerdb_record_type=2 THEN
    # INSERT (..., soft_delete=TRUE)' — a delete of a key absent from the
    # destination materializes as a tombstone row, not a no-op
    dest = spark.createDataFrame([(1, "one")], "id long, val string")
    chg = _chg(spark, [("delete", 1, 9, "ghost", None)])
    out = _state(
        N.merge_changes(dest, chg, ["id"], soft_delete_col="_deleted",
                        synced_at_col="_synced")
    )
    assert out[9]["_deleted"] is True and out[9]["val"] == "ghost"
    assert out[9]["_synced"] is not None
    assert out[1]["_deleted"] is False
    # hard-delete mode: still a no-op
    out = _state(N.merge_changes(dest, chg, ["id"]))
    assert set(out) == {1}
    # insert+delete of a brand-new key in ONE batch (LWW winner = delete):
    # soft mode yields a tombstone, matching the reference MERGE
    chg2 = _chg(spark, [("insert", 1, 5, "new", None), ("delete", 2, 5, "new", None)])
    out = _state(N.merge_changes(dest, chg2, ["id"], soft_delete_col="_deleted"))
    assert out[5]["_deleted"] is True and out[5]["val"] == "new"


def test_merge_bootstrap_no_dest(spark):
    chg = _chg(spark, [("insert", 1, 1, "a", None), ("delete", 2, 2, None, None)])
    out = _state(N.merge_changes(None, chg, ["id"]))
    assert set(out) == {1}


def test_merge_into_bucketed_table(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "dst"), pk_cols=["id"], n_buckets=4)
    chg1 = _chg(spark, [("insert", i, i, f"v{i}", None) for i in range(1, 11)])
    N.merge_into_table(t, chg1)
    assert t.read().count() == 10
    chg2 = _chg(spark, [("update", 100, 3, "V3", None), ("delete", 101, 7, None, None)])
    N.merge_into_table(t, chg2)
    out = _state(t.read())
    assert set(out) == set(range(1, 11)) - {7}
    assert out[3]["val"] == "V3" and out[5]["val"] == "v5"


def test_rmt_latest_view(spark):
    chg = _chg(
        spark,
        [
            ("insert", 1, 1, "a", None),
            ("update", 2, 1, "b", None),
            ("insert", 3, 2, "x", None),
            ("delete", 4, 2, None, None),
        ],
    )
    out = _state(N.rmt_latest_view(chg, ["id"]))
    assert set(out) == {1} and out[1]["val"] == "b"


def test_latest_changes_skew_salt_equivalence(spark):
    """Hot-key guard (round 9, verdict #6): the salted two-level LWW fold
    must produce exactly the plain window's result — on a 90%-one-key batch
    and on a random mixed batch — for every salt width."""
    import random

    rng = random.Random(9)
    rows = []
    ck = 0
    # 90% hot key 7, 10% spread over 50 other keys; unique checkpoints
    for _ in range(400):
        ck += 1
        pk = 7 if rng.random() < 0.9 else rng.randrange(50)
        rows.append(("update", ck, pk, f"v{ck}", None))
    chg = _chg(spark, rows)
    base = {(r["id"], r["val"]) for r in N.latest_changes(chg, ["id"]).collect()}
    for salt in (1, 4, 32):
        got = {
            (r["id"], r["val"])
            for r in N.latest_changes(chg, ["id"], skew_salt=salt).collect()
        }
        assert got == base, salt
    # and through the merge: same destination state either way
    out_plain = N.merge_changes(None, chg, ["id"], dedup=True)
    st_plain = _state(out_plain)
    deduped = N.latest_changes(chg, ["id"], skew_salt=8)
    st_salted = _state(N.merge_changes(None, deduped, ["id"], dedup=False))
    assert {k: v["val"] for k, v in st_salted.items()} == {
        k: v["val"] for k, v in st_plain.items()
    }


def test_merge_into_table_skew_salt_path(spark, tmp_path):
    """merge_into_table(skew_salt=...) end-to-end on a bucketed table."""
    t = ParquetTable(spark, str(tmp_path / "t"), ["id"], n_buckets=4)
    t.overwrite(spark.createDataFrame([(i, f"old{i}") for i in range(20)],
                                      "id long, val string"))
    rows = [("update", c, 3, f"hot{c}", None) for c in range(1, 300)]
    rows += [("update", 1000 + i, i, f"new{i}", None) for i in range(0, 20, 5)]
    N.merge_into_table(t, _chg(spark, rows), skew_salt=16)
    got = {r["id"]: r["val"] for r in t.read().collect()}
    assert got[3] == "hot299"
    for i in range(0, 20, 5):
        if i != 3:
            assert got[i] == f"new{i}"


def test_detect_hot_key(spark):
    """Auto hot-key probe (round 10, r9 verdict #6): fires only when some
    pk holds >= threshold of the batch AND >= min_hot_rows rows."""
    hot = _chg(spark, [("update", c, 7 if c % 10 else c, f"v{c}", None)
                       for c in range(1, 401)])
    assert N.detect_hot_key(hot, ["id"], threshold=0.5, min_hot_rows=100)
    # share below threshold
    assert not N.detect_hot_key(hot, ["id"], threshold=0.95, min_hot_rows=100)
    # share high but absolute count below the floor (skew harmless)
    assert not N.detect_hot_key(hot, ["id"], threshold=0.5, min_hot_rows=1000)
    even = _chg(spark, [("update", c, c, f"v{c}", None) for c in range(1, 101)])
    assert not N.detect_hot_key(even, ["id"], threshold=0.01, min_hot_rows=2)
    empty = even.where("id < 0")
    assert not N.detect_hot_key(empty, ["id"], threshold=0.01, min_hot_rows=1)


def test_sql_text_path_exotic_column_names(spark):
    """The merge builders compose projections as SQL text (round 12 driver-
    overhead optimization); pin that identifier/literal quoting survives
    hostile column names — backticks, quotes, dots, spaces — end to end
    through split_pk_updates + latest_changes + merge_changes."""
    pk = "the key"  # space
    vc = "va`l.u'e"  # backtick + dot + quote
    schema_cols = [
        (pk, "long"), (vc, "string"), ("_kind", "string"),
        ("_checkpoint_id", "long"), ("_commit_ts", "timestamp"),
        ("_unchanged_cols", "array<string>"),
    ]
    from pyspark.sql import types as T

    typ = {"long": T.LongType(), "string": T.StringType(),
           "timestamp": T.TimestampType(),
           "array<string>": T.ArrayType(T.StringType())}
    fields = [T.StructField(n, typ[t], True) for n, t in schema_cols]
    old_t = T.StructType([T.StructField(pk, T.LongType(), True),
                          T.StructField(vc, T.StringType(), True)])
    schema = T.StructType([*fields, T.StructField("_old", old_t, True)])
    rows = [
        (1, "a", "insert", 1, TS, None, None),
        (1, "b", "update", 2, TS + dt.timedelta(seconds=1), [vc], None),
        # pk-changing update 2→5: old-pk delete must be synthesized
        (5, "moved", "update", 3, TS + dt.timedelta(seconds=2), None, (2, "two")),
        (3, "gone", "delete", 4, TS + dt.timedelta(seconds=3), None, None),
    ]
    chg = spark.createDataFrame(rows, schema)
    dest = spark.createDataFrame([(1, "ONE"), (2, "TWO"), (3, "THREE")],
                                 T.StructType([T.StructField(pk, T.LongType(), True),
                                               T.StructField(vc, T.StringType(), True)]))
    out = N.merge_changes(dest, chg, [pk])
    got = {r[pk]: r[vc] for r in out.collect()}
    # key 1: update with vc TOAST-unchanged keeps destination value;
    # key 2: retired by the synthetic old-pk delete; key 3: hard delete;
    # key 5: new pk from the pk-changing update
    assert got == {1: "ONE", 5: "moved"}


def test_kind_code_sql_null_and_unknown(spark):
    """kind_code (now parsed SQL text) maps NULL and unrecognized kinds to
    KIND_MESSAGE, the pre-round-12 Column-API semantics."""
    df = spark.createDataFrame(
        [("insert",), ("update",), ("delete",), ("relation",), ("x",), (None,)],
        "k string",
    )
    got = [r[0] for r in df.select(N.kind_code("k")).collect()]
    assert got == [N.KIND_INSERT, N.KIND_UPDATE, N.KIND_DELETE,
                   N.KIND_RELATION, N.KIND_MESSAGE, N.KIND_MESSAGE]
