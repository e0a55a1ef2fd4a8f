"""CDC pipeline: changelog → raw staging → normalize into destinations.

Covers raw-table round trip (JSON payloads), batch-range pruning, multi-table
fan-out, record counts and unchanged-TOAST aggregation (ref: SURVEY §2.1/2.2/2.5).
"""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark import cdc
from peerdb_spark.storage import ParquetTable

TS = dt.datetime(2024, 1, 1)

VAL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("val", T.StringType()),
        T.StructField("amt", T.DoubleType()),
    ]
)


def _changelog(spark, rows):
    """rows: (kind, ckpt, dst, payload_dict, old_dict, unchanged)"""
    data = [
        {
            "_kind": k,
            "_checkpoint_id": c,
            "_commit_ts": TS + dt.timedelta(seconds=c),
            "_txid": c // 2,
            "_src_table": dst,
            "_dst_table": dst,
            "_data": json.dumps(d) if d else None,
            "_old_data": json.dumps(o) if o else None,
            "_unchanged_cols": u,
        }
        for (k, c, dst, d, o, u) in rows
    ]
    return spark.createDataFrame(data, cdc.CHANGELOG_SCHEMA)


@pytest.fixture()
def pipeline(spark, tmp_path):
    cfgs = [
        cdc.CdcTableConfig("t1", ["id"], VAL_SCHEMA, str(tmp_path / "t1"), n_buckets=4),
        cdc.CdcTableConfig(
            "t2", ["id"], VAL_SCHEMA, str(tmp_path / "t2"), n_buckets=4,
            soft_delete_col="_peerdb_is_deleted", synced_at_col="_peerdb_synced_at",
        ),
    ]
    return cdc.CdcPipeline(spark, str(tmp_path / "raw"), cfgs)


def test_cdc_end_to_end_multiplexed(spark, pipeline):
    b1 = _changelog(
        spark,
        [
            ("insert", 1, "t1", {"id": 1, "val": "a", "amt": 1.5}, None, None),
            ("insert", 2, "t1", {"id": 2, "val": "b", "amt": 2.5}, None, None),
            ("insert", 3, "t2", {"id": 1, "val": "x", "amt": 9.0}, None, None),
        ],
    )
    pipeline.sync_batch(b1, batch_id=1)
    pipeline.normalize_batches(1, 1)
    t1 = ParquetTable(spark, pipeline.tables["t1"].path, ["id"], 4).read()
    assert {r["id"]: r["val"] for r in t1.collect()} == {1: "a", 2: "b"}

    b2 = _changelog(
        spark,
        [
            ("update", 4, "t1", {"id": 1, "val": "A", "amt": None}, None, ["amt"]),
            ("delete", 5, "t1", None, {"id": 2, "val": "b", "amt": 2.5}, None),
            ("delete", 6, "t2", None, {"id": 1, "val": "x", "amt": 9.0}, None),
            ("insert", 7, "t2", {"id": 2, "val": "y", "amt": 3.0}, None, None),
        ],
    )
    pipeline.sync_batch(b2, batch_id=2)
    pipeline.normalize_batches(2, 2)

    t1 = {r["id"]: r.asDict() for r in ParquetTable(spark, pipeline.tables["t1"].path, ["id"], 4).read().collect()}
    assert set(t1) == {1}
    assert t1[1]["val"] == "A" and t1[1]["amt"] == 1.5  # TOAST coalesce kept amt

    t2 = {r["id"]: r.asDict() for r in ParquetTable(spark, pipeline.tables["t2"].path, ["id"], 4).read().collect()}
    assert t2[1]["_peerdb_is_deleted"] is True  # soft-delete tombstone
    assert t2[2]["val"] == "y" and t2[2]["_peerdb_is_deleted"] is False


def test_record_counts_and_toast_sets(spark, pipeline):
    b = _changelog(
        spark,
        [
            ("insert", 1, "t1", {"id": 1, "val": "a", "amt": 1.0}, None, None),
            ("update", 2, "t1", {"id": 1, "val": "b", "amt": None}, None, ["amt"]),
            ("update", 3, "t1", {"id": 1, "val": "c", "amt": None}, None, ["amt", "val"]),
            ("delete", 4, "t1", None, {"id": 1}, None),
        ],
    )
    pipeline.sync_batch(b, batch_id=7)
    counts = {
        (r[cdc.RAW_DST], r[cdc.RAW_TYPE]): r["count"]
        for r in pipeline.record_counts(7, 7).collect()
    }
    assert counts == {("t1", 0): 1, ("t1", 1): 2, ("t1", 2): 1}
    toast = pipeline.unchanged_toast_sets(7, 7).collect()[0]["toast_sets"]
    assert "amt" in toast and "amt,val" in toast


def test_batch_range_pruning(spark, pipeline):
    for i in (1, 2, 3):
        pipeline.sync_batch(
            _changelog(spark, [("insert", i, "t1", {"id": i, "val": str(i), "amt": 0.0}, None, None)]),
            batch_id=i,
        )
    got = pipeline.raw.read_batches(2, 3)
    assert got.count() == 2
    # partition pruning visible in the plan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "_peerdb_batch_id" in plan


def test_parallel_normalize_multi_table(spark, tmp_path):
    """One normalize of a 3-table fan-out batch fills every destination
    with exactly its own rows."""
    val = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])
    rows = []
    for t in ("ta", "tb", "tc"):
        for i in range(20):
            rows.append(("insert", i, dt.datetime(2024, 1, 1), i, t, t,
                         json.dumps({"id": i, "v": f"{t}{i}"}), None, None))
    feed = spark.createDataFrame(rows, cdc.CHANGELOG_SCHEMA)
    cfgs = [cdc.CdcTableConfig(t, ["id"], val, str(tmp_path / t), n_buckets=2)
            for t in ("ta", "tb", "tc")]
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), cfgs)
    pipe.sync_batch(feed, 0)
    pipe.normalize_batches(0, 0)
    for t in ("ta", "tb", "tc"):
        got = sorted(map(tuple, ParquetTable(spark, str(tmp_path / t), ["id"], 2).read().collect()))
        assert got == [(i, f"{t}{i}") for i in range(20)]


def test_cdc_composite_pk_and_exotic_identifiers(spark, tmp_path):
    """Reference e2e parity: composite primary keys and mixed-case/unicode
    column names must survive the whole changelog → raw JSON → normalize
    path (the reference's e2e suite exercises quoted/odd identifiers)."""
    schema = T.StructType([
        T.StructField("Region", T.StringType()),
        T.StructField("id", T.LongType()),
        T.StructField("café", T.StringType()),
        T.StructField("Qty", T.LongType()),
    ])
    cfg = cdc.CdcTableConfig(
        "tt", ["Region", "id"], schema, str(tmp_path / "tt"), n_buckets=4
    )
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg])
    b1 = _changelog(spark, [
        ("insert", 1, "tt", {"Region": "eu", "id": 1, "café": "crème", "Qty": 5}, None, None),
        ("insert", 2, "tt", {"Region": "us", "id": 1, "café": "플랫", "Qty": 7}, None, None),
        ("insert", 3, "tt", {"Region": "eu", "id": 2, "café": "ß", "Qty": 9}, None, None),
    ])
    pipe.sync_batch(b1, 1)
    pipe.normalize_batches(1, 1)
    b2 = _changelog(spark, [
        # update one half of a composite key space; delete the other
        ("update", 4, "tt", {"Region": "eu", "id": 1, "café": "crème 2", "Qty": 6}, None, None),
        ("delete", 5, "tt", None, {"Region": "us", "id": 1, "café": "플랫", "Qty": 7}, None),
    ])
    pipe.sync_batch(b2, 2)
    pipe.normalize_batches(2, 2)
    got = {
        (r["Region"], r["id"]): (r["café"], r["Qty"])
        for r in ParquetTable(spark, cfg.path, ["Region", "id"], 4).read().collect()
    }
    assert got == {("eu", 1): ("crème 2", 6), ("eu", 2): ("ß", 9)}


def test_cdc_composite_pk_partial_key_not_merged(spark, tmp_path):
    """Two rows sharing one pk component but not the other must never merge."""
    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    cfg = cdc.CdcTableConfig("p", ["a", "b"], schema, str(tmp_path / "p"), n_buckets=2)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg])
    pipe.sync_batch(_changelog(spark, [
        ("insert", 1, "p", {"a": 1, "b": 1, "v": "x"}, None, None),
        ("insert", 2, "p", {"a": 1, "b": 2, "v": "y"}, None, None),
    ]), 1)
    pipe.normalize_batches(1, 1)
    pipe.sync_batch(_changelog(spark, [
        ("update", 3, "p", {"a": 1, "b": 2, "v": "z"}, None, None),
    ]), 2)
    pipe.normalize_batches(2, 2)
    got = {(r["a"], r["b"]): r["v"]
           for r in ParquetTable(spark, cfg.path, ["a", "b"], 2).read().collect()}
    assert got == {(1, 1): "x", (1, 2): "z"}


def test_state_as_of_matches_incremental_normalize(spark, tmp_path):
    """Time travel: replaying raw batches 1..k must equal the destination
    after normalizing exactly those batches."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from peerdb_spark import cdc
    from peerdb_spark.storage import ParquetTable

    schema = T.StructType(
        [T.StructField("pk", T.LongType()), T.StructField("v", T.StringType())]
    )
    pipe = cdc.CdcPipeline(
        spark,
        str(tmp_path / "raw"),
        [cdc.CdcTableConfig("t", ["pk"], schema, str(tmp_path / "dst"), n_buckets=4)],
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

    feed(1, [("insert", 1, 10, "a"), ("insert", 2, 11, "b")])
    feed(2, [("update", 3, 10, "a2"), ("insert", 4, 12, "c")])
    feed(3, [("delete", 5, 11, "b"), ("update", 6, 12, "c2")])

    snapshots = {}
    for k in (1, 2, 3):
        pipe.normalize_batches(k, k)
        snapshots[k] = sorted(
            (r["pk"], r["v"])
            for r in ParquetTable(spark, str(tmp_path / "dst"), ["pk"], 4).read().collect()
        )
    for k in (1, 2, 3):
        tt = sorted(
            (r["pk"], r["v"])
            for r in pipe.state_as_of("t", k).select("pk", "v").collect()
        )
        assert tt == snapshots[k], f"as-of batch {k}"
    assert snapshots[3] == [(10, "a2"), (12, "c2")]


def test_malformed_payloads_quarantined_not_merged(spark, tmp_path):
    """A poison-pill payload (truncated JSON) must land in dead_letters and
    never reach the destination as a NULL-pk row."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from peerdb_spark import cdc
    from peerdb_spark.storage import ParquetTable

    schema = T.StructType(
        [T.StructField("pk", T.LongType()), T.StructField("v", T.StringType())]
    )
    pipe = cdc.CdcPipeline(
        spark,
        str(tmp_path / "raw"),
        [cdc.CdcTableConfig("t", ["pk"], schema, str(tmp_path / "dst"), n_buckets=4)],
    )
    rows = [
        ("insert", 1, '{"pk": 1, "v": "good"}'),
        ("insert", 2, '{"pk": 2, "v": "trunc'),  # poison: truncated JSON
        ("insert", 3, '{"pk": 3, "v": "ok"}'),
    ]
    feed = spark.createDataFrame(
        rows, "_kind string, _checkpoint_id long, _data string"
    ).select(
        "_kind",
        "_checkpoint_id",
        F.timestamp_seconds(F.col("_checkpoint_id") + 1_700_000_000).alias("_commit_ts"),
        F.col("_checkpoint_id").alias("_txid"),
        F.lit("t").alias("_src_table"),
        F.lit("t").alias("_dst_table"),
        "_data",
        F.lit(None).cast("string").alias("_old_data"),
        F.lit(None).cast("array<string>").alias("_unchanged_cols"),
    )
    pipe.sync_batch(feed, 1)
    pipe.normalize_batches(1, 1)
    got = sorted(
        (r["pk"], r["v"])
        for r in ParquetTable(spark, str(tmp_path / "dst"), ["pk"], 4).read().collect()
    )
    assert got == [(1, "good"), (3, "ok")]  # poison row absent, no NULL pk
    dead = pipe.raw.dead_letters(1, 1, schema).collect()
    assert len(dead) == 1 and dead[0]["_peerdb_data"] == '{"pk": 2, "v": "trunc'


def test_non_object_and_type_mismatch_payloads_quarantined(spark, tmp_path):
    """ADVICE r4: valid-JSON-but-not-an-object payloads ('5', '[1,2]',
    'null') and object payloads whose fields fail schema conversion must be
    quarantined too — from_json yields an all-NULL struct for all of them,
    which is exactly the NULL-pk upsert the quarantine exists to prevent."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from peerdb_spark import cdc
    from peerdb_spark.storage import ParquetTable

    schema = T.StructType(
        [T.StructField("pk", T.LongType()), T.StructField("v", T.StringType())]
    )
    pipe = cdc.CdcPipeline(
        spark,
        str(tmp_path / "raw"),
        [cdc.CdcTableConfig("t", ["pk"], schema, str(tmp_path / "dst"), n_buckets=4)],
    )
    rows = [
        ("insert", 1, '{"pk": 1, "v": "good"}'),
        ("insert", 2, "5"),                      # scalar
        ("insert", 3, "[1,2]"),                  # array
        ("insert", 4, "null"),                   # JSON null literal
        ("insert", 5, '{"pk": "notanint", "v": "x"}'),  # type mismatch
        ("insert", 7, ""),                       # empty payload
        ("insert", 8, "   "),                    # whitespace-only
        ("insert", 6, '{"pk": 6, "v": "ok", "extra": 1}'),  # extra key: fine
    ]
    feed = spark.createDataFrame(
        rows, "_kind string, _checkpoint_id long, _data string"
    ).select(
        "_kind",
        "_checkpoint_id",
        F.timestamp_seconds(F.col("_checkpoint_id") + 1_700_000_000).alias("_commit_ts"),
        F.col("_checkpoint_id").alias("_txid"),
        F.lit("t").alias("_src_table"),
        F.lit("t").alias("_dst_table"),
        "_data",
        F.lit(None).cast("string").alias("_old_data"),
        F.lit(None).cast("array<string>").alias("_unchanged_cols"),
    )
    pipe.sync_batch(feed, 1)
    pipe.normalize_batches(1, 1)
    got = sorted(
        (r["pk"], r["v"])
        for r in ParquetTable(spark, str(tmp_path / "dst"), ["pk"], 4).read().collect()
    )
    assert got == [(1, "good"), (6, "ok")]  # no NULL-pk rows
    dead = sorted(r["_peerdb_data"] for r in pipe.raw.dead_letters(1, 1, schema).collect())
    assert dead == sorted(
        ["5", "[1,2]", "null", '{"pk": "notanint", "v": "x"}', "", "   "]
    )


def test_changelog_and_dead_letters_partition_the_raw_rows(spark, tmp_path):
    """raw_to_changelog's keep rule and dead_letters' quarantine predicate
    live in different code paths (the former fuses the probe into its value
    parse) — they must stay complementary: every DATA row is either merged
    or quarantined, never both, never neither."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from peerdb_spark import cdc

    schema = T.StructType(
        [T.StructField("pk", T.LongType()), T.StructField("v", T.StringType())]
    )
    pipe = cdc.CdcPipeline(
        spark,
        str(tmp_path / "raw"),
        [cdc.CdcTableConfig("t", ["pk"], schema, str(tmp_path / "dst"), n_buckets=2)],
    )
    payloads = [
        '{"pk": 1, "v": "ok"}', "5", "[1]", "null", "{bad", "", "   ",
        '{"pk": "x"}', '{"pk": 2, "v": null}', '{"extra": 9}', None,
    ]
    rows = [("insert" if p is not None else "delete", i, p) for i, p in enumerate(payloads)]
    feed = spark.createDataFrame(
        rows, "_kind string, _checkpoint_id long, _data string"
    ).select(
        "_kind", "_checkpoint_id",
        F.timestamp_seconds(F.col("_checkpoint_id") + 1_700_000_000).alias("_commit_ts"),
        F.col("_checkpoint_id").alias("_txid"),
        F.lit("t").alias("_src_table"), F.lit("t").alias("_dst_table"),
        "_data",
        F.lit(None).cast("string").alias("_old_data"),
        F.lit(None).cast("array<string>").alias("_unchanged_cols"),
    )
    pipe.sync_batch(feed, 1)
    raw = pipe.raw.read_batches(1, 1)
    total = raw.count()
    kept = pipe.raw.raw_to_changelog(raw, schema).count()
    dead = pipe.raw.dead_letters(1, 1, schema).count()
    assert kept + dead == total, (kept, dead, total)
    # the specific split: ok / pk-null-ok / extra-key / null-payload-delete kept
    assert kept == 4 and dead == 7


def test_state_as_of_hypothesis_random_prefixes(spark, tmp_path):
    """Property: for a random insert/update/delete changelog split into
    batches, state_as_of(t, k) equals the LWW fold of every change with
    batch id <= k — at EVERY prefix, not just the fixed points the
    earlier tests pin."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    opst = st.tuples(
        st.sampled_from(["insert", "update", "update", "delete"]),
        st.integers(min_value=0, max_value=6),   # pk
        st.integers(min_value=0, max_value=99),  # value
    )

    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(opst, min_size=1, max_size=18),
           n_batches=st.integers(min_value=1, max_value=3),
           seed=st.integers(min_value=0, max_value=99))
    def check(ops, n_batches, seed):
        import random as _r
        import shutil
        import tempfile

        work = tempfile.mkdtemp(dir=str(tmp_path))
        try:
            schema = T.StructType(
                [T.StructField("pk", T.LongType()), T.StructField("v", T.LongType())]
            )
            pipe = cdc.CdcPipeline(
                spark, f"{work}/raw",
                [cdc.CdcTableConfig("t", ["pk"], schema, f"{work}/t", n_buckets=2)],
            )
            rng = _r.Random(seed)
            assign = sorted(rng.randrange(n_batches) for _ in ops)  # ck order respects batches
            rows_by_batch = {}
            for ck, ((kind, pk, v), b) in enumerate(zip(ops, assign)):
                rows_by_batch.setdefault(b, []).append((kind, ck, pk, v))
            for b in range(n_batches):
                rows = rows_by_batch.get(b, [])
                data = [
                    {
                        "_kind": k, "_checkpoint_id": ck,
                        "_commit_ts": TS + dt.timedelta(seconds=ck), "_txid": ck,
                        "_src_table": "t", "_dst_table": "t",
                        "_data": json.dumps({"pk": pk, "v": v}) if k != "delete" else None,
                        "_old_data": json.dumps({"pk": pk, "v": v}) if k == "delete" else None,
                        "_unchanged_cols": None,
                    }
                    for (k, ck, pk, v) in rows
                ]
                pipe.sync_batch(spark.createDataFrame(data, cdc.CHANGELOG_SCHEMA), batch_id=b)
            for k_prefix in range(n_batches):
                # reference: sequential LWW replay of every op in batches <= k
                state = {}
                for ck, ((kind, pk, v), b) in enumerate(zip(ops, assign)):
                    if b > k_prefix:
                        continue
                    if kind == "delete":
                        state.pop(pk, None)
                    else:
                        state[pk] = v
                got = {
                    r["pk"]: r["v"]
                    for r in pipe.state_as_of("t", k_prefix).select("pk", "v").collect()
                }
                assert got == state, (ops, assign, k_prefix, got, state)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    check()


def test_auto_hot_key_salt_engages(spark, tmp_path, monkeypatch):
    """Round-10 auto hot-key guard: a normalize whose batch concentrates
    on one pk flips the LWW salt on by itself (threshold + floor are the
    normalize module constants, lowered here); an evenly-spread batch
    keeps the plain window. The destination state is identical either way
    (the r9 equivalence pin)."""
    from peerdb_spark import normalize as N

    seen = []
    real = N.merge_into_table

    def spy(table, changes, *a, **kw):
        seen.append(kw.get("skew_salt", 0))
        return real(table, changes, *a, **kw)

    monkeypatch.setattr(cdc.N, "merge_into_table", spy)
    monkeypatch.setattr(N, "HOT_KEY_THRESHOLD", 0.5)
    monkeypatch.setattr(N, "HOT_KEY_MIN_ROWS", 10)
    cfg = cdc.CdcTableConfig("t", ["id"], VAL_SCHEMA, str(tmp_path / "t"), n_buckets=4)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg])
    hot = _changelog(spark, [
        ("update", c, "t", {"id": 7 if c % 10 else c, "val": f"v{c}",
                            "amt": float(c)}, None, None)
        for c in range(1, 101)])
    pipe.process_batch(hot, 1)
    assert seen == [N.DEFAULT_SKEW_SALT]
    even = _changelog(spark, [
        ("update", 1000 + i, "t", {"id": 200 + i, "val": "e", "amt": 0.0},
         None, None)
        for i in range(60)])
    pipe.process_batch(even, 2)
    assert seen == [N.DEFAULT_SKEW_SALT, 0]
    got = {r["id"]: r["val"] for r in ParquetTable(
        spark, cfg.path, ["id"], 4).read().collect()}
    assert got[7] == "v99"  # hot key's last writer (c=100 hits pk 100)
    assert got[200] == "e"


def _meta_matches_scan(pipe, lo, hi):
    """range_meta + _batch_meta agree with the forced Spark scans (the
    result when no footer statistic proves anything) and with the row
    count; returns the footer meta so a case can pin which half it proved."""
    raw = pipe.raw.read_batches(lo, hi)
    meta = pipe.raw.range_meta(lo, hi)
    dsts, rels = pipe._batch_meta(raw, meta)
    want_dsts, want_rels = pipe._batch_meta(raw, cdc.RangeMeta(meta.rows, None, True))
    assert sorted(dsts) == sorted(want_dsts)
    assert rels == want_rels
    assert meta.rows == raw.count()
    return meta


def test_footer_batch_meta_matches_spark_scan(spark, tmp_path):
    """The footer statistics prove the destination set and the absence of
    relation records exactly when they can, and fall back to the scan
    otherwise: one destination, two destinations sharing a file, relation
    and message records, an empty heartbeat batch, string checkpoints."""
    rel = {"added": [{"name": "c2", "type": "int"}]}
    cfgs = [
        cdc.CdcTableConfig("t1", ["id"], VAL_SCHEMA, str(tmp_path / "t1"), n_buckets=4),
        cdc.CdcTableConfig("t2", ["id"], VAL_SCHEMA, str(tmp_path / "t2"), n_buckets=4),
    ]
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), cfgs)
    ins = [("insert", i, "t1", {"id": i, "val": f"a{i}", "amt": 1.0}, None, [])
           for i in range(1, 9)]
    pipe.sync_batch(_changelog(spark, ins), 0)
    meta = _meta_matches_scan(pipe, 0, 0)
    assert meta == cdc.RangeMeta(8, ["t1"], False)

    # two destinations sharing files (32 interleaved rows, fanned out over
    # fewer files by the raw writer), plus a relation record for t1 whose
    # added column the batch's t1 rows carry: both halves fall back to the
    # scan, and the delta must still apply before the merge
    both = [("relation", 20, "t1", rel, None, [])]
    for i in range(16):
        both += [
            ("insert", 21 + 2 * i, "t1", {"id": 9 + i, "val": "a", "amt": 1.0, "c2": i}, None, []),
            ("insert", 22 + 2 * i, "t2", {"id": i, "val": "b", "amt": 2.0}, None, []),
        ]
    pipe.sync_batch(_changelog(spark, both).coalesce(1), 1)
    meta = _meta_matches_scan(pipe, 1, 1)
    assert meta.dsts is None and meta.may_have_relations
    assert _meta_matches_scan(pipe, 0, 1).rows == 41
    pipe.normalize_batches(0, 1)
    got = {r["id"]: r["c2"] for r in pipe.read_table("t1").collect()}
    assert got == {**{i: None for i in range(1, 9)}, **{9 + i: i for i in range(16)}}
    assert sorted(r["id"] for r in pipe.read_table("t2").collect()) == list(range(16))

    # a message record (kind 4) may look like a relation to the statistics:
    # the relation scan runs and finds none
    msg = [("message", 30, "t1", {"prefix": "p", "content": "x"}, None, [])]
    pipe.sync_batch(_changelog(spark, msg), 2)
    meta = _meta_matches_scan(pipe, 2, 2)
    assert meta == cdc.RangeMeta(1, ["t1"], True)

    # an empty heartbeat batch stages no file
    pipe.sync_batch(_changelog(spark, []), 3)
    assert _meta_matches_scan(pipe, 3, 3) == cdc.RangeMeta(0, [], False)

    # string (GTID-style) checkpoints
    gtid = cdc.changelog_schema_with_checkpoint(T.StringType())
    rows = [("insert", f"3E11FA47-71CA:{i}", TS, i, "t2", "t2",
             json.dumps({"id": 10 + i, "val": "g", "amt": 0.5}), None, [])
            for i in range(1, 4)]
    pipe2 = cdc.CdcPipeline(spark, str(tmp_path / "raw_gtid"), cfgs)
    pipe2.sync_batch(spark.createDataFrame(rows, gtid), 0)
    assert _meta_matches_scan(pipe2, 0, 0) == cdc.RangeMeta(3, ["t2"], False)


def _jobs_while(sc, fn):
    """(fn(), number of Spark jobs fn submitted)."""
    import uuid

    group, prev = f"probe-{uuid.uuid4().hex}", sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_batches_lists_only_the_requested_range(spark, tmp_path):
    """A raw root holding more partitions than Spark's parallel-discovery
    threshold (32) is never listed as a whole: building a one-batch read
    submits no Spark job."""
    import os

    from peerdb_spark.storage import save_schema

    root = str(tmp_path / "raw")
    feed = _changelog(spark, [("insert", i, "t1", {"id": i, "val": "x", "amt": 0.0}, None, None)
                              for i in range(80)])
    raw = cdc.changelog_to_raw(feed, 0).withColumn(
        cdc.RAW_BATCH, (F.col("_peerdb_checkpoint_id") % 40).cast("int"))
    raw.write.partitionBy(cdc.RAW_BATCH).parquet(root)
    save_schema(root, raw.drop(cdc.RAW_BATCH).schema)
    table = cdc.RawTable(spark, root)
    for b in range(40):
        open(os.path.join(table.batch_dir(b), table.MARKER), "w").close()
    assert table.committed_batches() == list(range(40))
    df, jobs = _jobs_while(spark.sparkContext, lambda: table.read_batches(39, 39))
    assert jobs == 0
    assert sorted(r["_peerdb_checkpoint_id"] for r in df.collect()) == [39, 79]
    assert dict(df.dtypes)[cdc.RAW_BATCH] == "int"


def test_restart_reads_stored_schemas_and_legacy_dirs_infer(spark, tmp_path):
    """A fresh CdcPipeline and ViewTable over existing directories read with
    the schemas stored at write time, so building the reads launches no
    Spark job. A raw directory, destination and view pointer holding no
    schema, as older versions wrote them, still read the same rows through
    footer inference."""
    import os

    from peerdb_spark.mview import ViewTable

    def start():
        cfg = cdc.CdcTableConfig("t1", ["id"], VAL_SCHEMA, str(tmp_path / "t1"), n_buckets=4)
        return (cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg]),
                ViewTable(spark, str(tmp_path / "view"), ["val"], "amt"))

    pipe, view = start()
    pipe.attach_view("t1", view)
    rows = [("insert", i, "t1", {"id": i, "val": "ab"[i % 2], "amt": float(i)}, None, [])
            for i in range(1, 7)]
    pipe.process_batch(_changelog(spark, rows), 0)

    def reads():
        return pipe.read_table("t1"), pipe.raw.read_batches(0, 0), view.read()

    def collect(dfs):
        return [sorted(map(tuple, df.collect())) for df in dfs]

    pipe, view = start()
    dfs, jobs = _jobs_while(spark.sparkContext, reads)
    assert jobs == 0
    assert [df.columns for df in dfs] == [["id", "val", "amt"], [
        cdc.RAW_UID, cdc.RAW_TS, cdc.RAW_DST, cdc.RAW_DATA, cdc.RAW_TYPE, cdc.RAW_MATCH,
        cdc.RAW_UNCHANGED, "_peerdb_checkpoint_id", cdc.RAW_BATCH], ["val", "cnt", "sum_v"]]
    want = collect(dfs)
    assert want[0] == [(i, "ab"[i % 2], float(i)) for i in range(1, 7)]
    assert want[2] == [("a", 3, 12.0), ("b", 3, 9.0)]

    os.remove(tmp_path / "raw" / "_peerdb_schema.json")
    os.remove(tmp_path / "t1" / "_peerdb_schema.json")
    pointer = tmp_path / "view" / "_CURRENT"
    legacy = json.loads(pointer.read_text())
    del legacy["schema"]
    pointer.write_text(json.dumps(legacy))
    pipe, view = start()
    dfs, jobs = _jobs_while(spark.sparkContext, reads)
    assert jobs == 3  # one footer-inference job per read
    assert collect(dfs) == want


def test_steady_normalize_with_attached_view_job_budget(spark, tmp_path):
    """A small batch normalized into an existing bucketed table with one
    attached view submits at most 12 Spark jobs (the merge and the fold
    each used to add a distinct and a key-dedup shuffle: 19), and the view
    still equals the aggregate over the table."""
    from peerdb_spark.mview import ViewTable

    cfg = cdc.CdcTableConfig("t1", ["id"], VAL_SCHEMA, str(tmp_path / "t1"), n_buckets=4)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg])
    view = ViewTable(spark, str(tmp_path / "view"), ["val"], "amt")
    pipe.attach_view("t1", view)
    pipe.process_batch(_changelog(spark, [
        ("insert", i, "t1", {"id": i, "val": "abc"[i % 3], "amt": float(i)}, None, [])
        for i in range(1, 31)]), 0)
    pipe.sync_batch(_changelog(spark, [
        ("update", 40, "t1", {"id": 3, "val": "b", "amt": 100.0}, None, []),
        ("delete", 41, "t1", None, {"id": 4}, []),
        ("insert", 42, "t1", {"id": 50, "val": "d", "amt": 0.5}, None, []),
    ]), 1)
    _, jobs = _jobs_while(spark.sparkContext, lambda: pipe.normalize_batches(1, 1))
    assert jobs <= 12
    want = {}
    for r in pipe.read_table("t1").collect():
        cnt, s = want.get(r["val"], (0, 0.0))
        want[r["val"]] = (cnt + 1, s + r["amt"])
    assert {r["val"]: (r["cnt"], r["sum_v"]) for r in view.read().collect()} == want
    assert want == {"a": (9, 162.0), "b": (10, 241.0), "c": (10, 155.0), "d": (1, 0.5)}


@pytest.mark.xfail(strict=True, raises=AssertionError, reason="ROADMAP item 1")
def test_view_fold_crash_after_destination_commit_recovers(spark, tmp_path, monkeypatch):
    """A crash after the destination commit and before the view fold must
    not lose the batch's view delta: a fresh pipeline's forced normalize of
    the pending range leaves the view equal to the aggregate over the table.
    Today the replayed merge reads the already-merged buckets, its pre and
    post images are equal, and the view stays at the pre-batch state."""
    from peerdb_spark.mview import ViewTable

    def start():
        cfg = cdc.CdcTableConfig("t1", ["id"], VAL_SCHEMA, str(tmp_path / "t1"), n_buckets=4)
        pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg])
        view = ViewTable(spark, str(tmp_path / "view"), ["val"], "amt")
        pipe.attach_view("t1", view)
        return pipe, view

    pipe, view = start()
    pipe.process_batch(_changelog(spark, [
        ("insert", i, "t1", {"id": i, "val": "ab"[i % 2], "amt": float(i)}, None, [])
        for i in range(1, 7)]), 0)
    real_fold = ViewTable.fold

    def crash_once(self, *args, **kwargs):
        monkeypatch.setattr(ViewTable, "fold", real_fold)
        raise RuntimeError("crash after the destination commit")

    monkeypatch.setattr(ViewTable, "fold", crash_once)
    with pytest.raises(RuntimeError, match="destination commit"):
        pipe.process_batch(_changelog(spark, [
            ("update", 40, "t1", {"id": 3, "val": "a", "amt": 100.0}, None, []),
            ("insert", 41, "t1", {"id": 50, "val": "b", "amt": 0.5}, None, []),
        ]), 1)

    pipe, view = start()
    assert pipe.maybe_normalize(1, force=True) is True
    want = {}
    for r in pipe.read_table("t1").collect():
        cnt, s = want.get(r["val"], (0, 0.0))
        want[r["val"]] = (cnt + 1, s + r["amt"])
    assert want == {"a": (4, 112.0), "b": (3, 6.5)}
    assert {r["val"]: (r["cnt"], r["sum_v"]) for r in view.read().collect()} == want
