"""Schema-change-as-data through the CDC pipeline (FIXTURES F3/F6): a
'relation' changelog record adds a column mid-stream; subsequent data rows
carry values, prior rows read NULL, and a restarted pipeline keeps parsing
the added column (catalog rehydration)."""

import json

from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark import cdc
from peerdb_spark.registry import Catalog
from peerdb_spark.storage import ParquetTable

VAL = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])


def _feed(spark, rows):
    return spark.createDataFrame(rows, cdc.CHANGELOG_SCHEMA)


def _row(kind, ck, data, old=None):
    import datetime as dt

    return (kind, ck, dt.datetime(2024, 1, 1, 0, 0, ck), ck, "t", "t", data, old, None)


def test_relation_record_adds_column_mid_stream(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    cfg = cdc.CdcTableConfig("t", ["id"], VAL, str(tmp_path / "dst"), n_buckets=4)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg],
                           catalog=cat, mirror_name="m1")

    # batch 0: two plain inserts
    b0 = _feed(spark, [
        _row("insert", 1, json.dumps({"id": 1, "v": "a"})),
        _row("insert", 2, json.dumps({"id": 2, "v": "b"})),
    ])
    pipe.sync_batch(b0, 0)
    pipe.normalize_batches(0, 0)

    # batch 1: relation record adds c2 int, then a row carrying it
    b1 = _feed(spark, [
        _row("relation", 3, json.dumps({"added": [{"name": "c2", "type": "int"}]})),
        _row("insert", 4, json.dumps({"id": 3, "v": "c", "c2": 42})),
        _row("update", 5, json.dumps({"id": 1, "v": "a2", "c2": 7})),
    ])
    pipe.sync_batch(b1, 1)
    pipe.normalize_batches(1, 1)

    table = ParquetTable(spark, cfg.path, ["id"], 4)
    got = {r["id"]: (r["v"], r["c2"]) for r in table.read().collect()}
    assert got == {1: ("a2", 7), 2: ("b", None), 3: ("c", 42)}
    # audit recorded once
    audit = cat.schema_delta_audit("m1")
    assert len(audit) == 1 and audit[0]["added"] == [["c2", "int"]]

    # batch 2 on a RESTARTED pipeline (fresh configs — static schema): the
    # rehydration path must keep parsing c2
    cfg2 = cdc.CdcTableConfig("t", ["id"], VAL, str(tmp_path / "dst"), n_buckets=4)
    pipe2 = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg2],
                            catalog=cat, mirror_name="m1")
    assert "c2" in [f.name for f in cfg2.value_schema.fields]
    b2 = _feed(spark, [_row("insert", 6, json.dumps({"id": 4, "v": "d", "c2": 9}))])
    pipe2.sync_batch(b2, 2)
    pipe2.normalize_batches(2, 2)
    got = {r["id"]: (r["v"], r["c2"]) for r in table.read().collect()}
    assert got[4] == ("d", 9)


def test_repeated_relation_record_dedups(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    cfg = cdc.CdcTableConfig("t", ["id"], VAL, str(tmp_path / "dst"), n_buckets=4)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg],
                           catalog=cat, mirror_name="m1")
    pipe.sync_batch(_feed(spark, [_row("insert", 1, json.dumps({"id": 1, "v": "a"}))]), 0)
    pipe.normalize_batches(0, 0)
    delta = json.dumps({"added": [{"name": "c2", "type": "int"}]})
    pipe.sync_batch(_feed(spark, [_row("relation", 2, delta), _row("relation", 3, delta)]), 1)
    pipe.normalize_batches(1, 1)
    pipe.sync_batch(_feed(spark, [_row("relation", 4, delta)]), 2)
    pipe.normalize_batches(2, 2)
    assert len(cat.schema_delta_audit("m1")) == 1  # applied once, replays dedup
    # schema has c2 exactly once
    names = [f.name for f in cfg.value_schema.fields]
    assert names.count("c2") == 1


def test_message_record_is_inert(spark, tmp_path):
    """MessageRecords (logical-decoding messages) and unknown kinds stage in
    raw for queue consumers but never merge — previously an unknown kind
    mapped to delete and merged a destructive null-pk row."""
    cfg = cdc.CdcTableConfig("t", ["id"], VAL, str(tmp_path / "dst"), n_buckets=4)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg])
    pipe.sync_batch(_feed(spark, [
        _row("insert", 1, json.dumps({"id": 1, "v": "a"})),
        _row("message", 2, json.dumps({"prefix": "wal2json", "content": "hello"})),
        _row("bogus-kind", 3, json.dumps({"id": 1})),
    ]), 0)
    pipe.normalize_batches(0, 0)
    table = ParquetTable(spark, cfg.path, ["id"], 4)
    rows = [(r["id"], r["v"]) for r in table.read().collect()]
    assert rows == [(1, "a")]  # no null-pk row, no phantom delete
    # counts exclude metadata kinds
    counts = {(r[cdc.RAW_TYPE]): r["count"] for r in pipe.record_counts(0, 0).collect()}
    assert counts == {0: 1}


def test_detect_payload_drift_proposes_typed_deltas(spark):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from peerdb_spark.schema_evolution import detect_payload_drift

    schema = T.StructType(
        [T.StructField("pk", T.LongType()), T.StructField("v", T.StringType())]
    )
    raw = spark.createDataFrame(
        [
            ('{"pk": 1, "v": "a"}',),
            ('{"pk": 2, "v": "b", "score": 1.5}',),
            ('{"pk": 3, "v": "c", "score": 2.5, "tag": "x"}',),
            ('{"pk": 4, "v": "d", "flagged": true}',),
        ],
        "x string",
    ).select(F.col("x").alias("_peerdb_data"))
    delta = detect_payload_drift(raw, schema, "t")
    assert delta.dst_table == "t"
    assert delta.added_columns == [
        ("flagged", "boolean"),
        ("score", "double"),
        ("tag", "string"),
    ]
    # no drift -> empty delta
    clean = raw.limit(1)
    assert detect_payload_drift(clean, schema, "t").added_columns == []


def test_auto_evolve_pipeline_picks_up_drifted_fields(spark, tmp_path):
    """auto_evolve=True: a batch whose payloads carry an undeclared field
    evolves the destination mid-flow; the field's values land from that
    batch onward (relation-record-less source, e.g. Mongo)."""
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
        auto_evolve=True,
    )

    def feed(batch, rows):
        df = spark.createDataFrame(rows, "_checkpoint_id long, _data string").select(
            F.lit("insert").alias("_kind"),
            "_checkpoint_id",
            F.timestamp_seconds(F.col("_checkpoint_id") + 1_700_000_000).alias("_commit_ts"),
            F.col("_checkpoint_id").alias("_txid"),
            F.lit("t").alias("_src_table"),
            F.lit("t").alias("_dst_table"),
            "_data",
            F.lit(None).cast("string").alias("_old_data"),
            F.lit(None).cast("array<string>").alias("_unchanged_cols"),
        )
        pipe.sync_batch(df, batch)

    feed(1, [(1, '{"pk": 1, "v": "a"}')])
    pipe.normalize_batches(1, 1)
    feed(2, [(2, '{"pk": 2, "v": "b", "score": 1.5}')])
    pipe.normalize_batches(2, 2)
    rows = {
        r["pk"]: (r["v"], r["score"])
        for r in ParquetTable(spark, str(tmp_path / "dst"), ["pk"], 4).read().collect()
    }
    assert rows == {1: ("a", None), 2: ("b", 1.5)}
    # the live parse schema evolved too
    assert "score" in [f.name for f in pipe.tables["t"].value_schema.fields]


def test_detect_payload_drift_substring_key_types(spark):
    """ADVICE r4: key 'a' must not pick up the type of 'aa' (the old regex
    over schema_of_json DDL matched substring keys); and all new-key type
    probes run as a single job."""
    from peerdb_spark.schema_evolution import detect_payload_drift

    schema = T.StructType([T.StructField("id", T.LongType())])
    raw = spark.createDataFrame(
        [('{"id": 1, "a": "txt", "aa": 7, "flag": true}',)],
        "_peerdb_data string",
    )
    delta = detect_payload_drift(raw, schema, "t")
    got = dict(delta.added_columns)
    assert got["a"] == "string"   # NOT bigint from the 'aa' field
    assert got["aa"] == "bigint"
    assert got["flag"] == "boolean"


def test_type_widening_delta_end_to_end(spark, tmp_path):
    """Round-5: lossless type widening (int -> bigint) via a schema delta.
    Old files stay int32 on disk; the sidecar retypes and reads cast — new
    appends carry values past 2^31. Lossy changes are refused."""
    from peerdb_spark.schema_evolution import (
        SchemaDelta,
        apply_delta,
        delta_from_relation_record,
        is_safe_widening,
    )
    from peerdb_spark.storage import ParquetTable

    t = ParquetTable(spark, str(tmp_path / "t"), ["pk"], n_buckets=2)
    t.overwrite(spark.createDataFrame([(1, 10), (2, 20)], "pk long, v int"))

    delta = delta_from_relation_record(
        '{"widened": [{"name": "v", "type": "bigint"}]}', "t"
    )
    assert apply_delta(t, delta) == ["v"]
    assert apply_delta(t, delta) == []  # idempotent

    big = 2**40
    t.append(spark.createDataFrame([(3, big)], "pk long, v long"))
    got = {r["pk"]: r["v"] for r in t.read().collect()}
    assert got == {1: 10, 2: 20, 3: big}
    assert dict(t.read().dtypes)["v"] == "bigint"

    import pytest as _pytest
    with _pytest.raises(ValueError, match="lossy"):
        apply_delta(t, SchemaDelta("t", widened_columns=[("v", "int")]))
    with _pytest.raises(ValueError, match="unknown column"):
        apply_delta(t, SchemaDelta("t", widened_columns=[("nope", "bigint")]))
    assert is_safe_widening("int", "double") and not is_safe_widening("bigint", "double")


def test_payload_drift_hypothesis_random_keys(spark):
    """Property: random flat JSON payloads with new keys (incl. names that
    are substrings/superstrings of each other — the r4 regex defect class)
    are detected with the right inferred type, and values survive the
    evolved parse (no silent NULLing)."""
    import json

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from peerdb_spark.schema_evolution import detect_payload_drift

    name = st.sampled_from(["a", "aa", "ab", "b", "ba", "x_1"])
    val = st.one_of(
        st.integers(min_value=-1000, max_value=1000),
        st.text(alphabet="pq", min_size=1, max_size=4),
        st.floats(min_value=-5, max_value=5, allow_nan=False).map(lambda f: round(f, 3)),
    )

    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(extra=st.dictionaries(name, val, min_size=1, max_size=4))
    def check(extra):
        base_schema = T.StructType([T.StructField("pk", T.LongType())])
        payload = {"pk": 1, **extra}
        raw = spark.createDataFrame(
            [(json.dumps(payload),)], "_peerdb_data string"
        )
        delta = detect_payload_drift(raw, base_schema, "t")
        got = dict(delta.added_columns)
        assert set(got) == set(extra), (payload, got)
        # evolved parse keeps every value (the silent-NULL defect class)
        evolved = T.StructType(
            list(base_schema.fields)
            + [T.StructField(k, _parse(t)) for k, t in delta.added_columns]
        )
        row = (
            raw.select(F.from_json("_peerdb_data", evolved).alias("r"))
            .select("r.*")
            .collect()[0]
        )
        for k, v in extra.items():
            assert row[k] is not None, (k, payload, got)
            if isinstance(v, int):
                assert int(row[k]) == v
            elif isinstance(v, str):
                assert row[k] == v

    def _parse(ddl):
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(ddl)

    check()


def test_added_column_survives_a_later_merge_of_its_bucket(spark, tmp_path):
    """A relation record adds c2 and one update in the same batch sets it:
    only that key's bucket is rewritten, the other buckets keep files that
    predate c2. Reads must still surface c2, and a later batch touching
    another key of the same bucket must carry c2 = 42 through the bucket
    rewrite (a read that infers its schema from a sampled pre-delta footer
    drops c2 from both)."""
    from peerdb_spark.storage import bucket_expr

    cfg = cdc.CdcTableConfig("t", ["id"], VAL, str(tmp_path / "dst"), n_buckets=4)
    pipe = cdc.CdcPipeline(spark, str(tmp_path / "raw"), [cfg])
    pipe.sync_batch(_feed(spark, [
        _row("insert", i, json.dumps({"id": i, "v": f"v{i}"})) for i in range(1, 41)
    ]), 0)
    pipe.normalize_batches(0, 0)

    pipe.sync_batch(_feed(spark, [
        _row("relation", 41, json.dumps({"added": [{"name": "c2", "type": "int"}]})),
        _row("update", 42, json.dumps({"id": 7, "v": "v7", "c2": 42})),
    ]), 1)
    pipe.normalize_batches(1, 1)
    assert pipe.read_table("t").columns == ["id", "v", "c2"]

    bucket = {r["id"]: r["b"] for r in spark.range(1, 41).select(
        "id", bucket_expr(["id"], 4).alias("b")).collect()}
    other = next(k for k in range(1, 41) if k != 7 and bucket[k] == bucket[7])
    pipe.sync_batch(_feed(spark, [
        _row("update", 43, json.dumps({"id": other, "v": "changed"})),
    ]), 2)
    pipe.normalize_batches(2, 2)
    got = {r["id"]: (r["v"], r["c2"]) for r in pipe.read_table("t").collect()}
    assert got[7] == ("v7", 42)
    assert got[other] == ("changed", None)
    assert len(got) == 40
