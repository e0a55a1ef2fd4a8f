"""Tests: SQL/DDL surface, schema evolution, snapshot/resync, queue sinks."""

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark import cdc, normalize as N
from peerdb_spark.registry import Catalog, MirrorConfig
from peerdb_spark.schema_evolution import SchemaDelta, apply_delta
from peerdb_spark.sinks import elasticsearch_actions, emit_kafka_rows
from peerdb_spark.snapshot import resync_table, snapshot_table
from peerdb_spark.sql_surface import SqlSurface
from peerdb_spark.qrep import QRepEngine
from peerdb_spark.storage import ParquetTable

TS = dt.datetime(2024, 1, 1)


# -------------------- SQL surface --------------------


@pytest.fixture()
def surface(spark, tmp_path, tables):
    return SqlSurface(spark, Catalog(str(tmp_path / "cat")))


def test_create_drop_peer(surface):
    out = surface.execute(
        "CREATE PEER src FROM parquet WITH (path = '/root/testdata/sf0.001')"
    )
    assert out["ok"] and surface.catalog.get_peer("src").kind == "parquet"
    surface.execute("DROP PEER src")
    assert "src" not in surface.catalog.list_peers()


def test_create_mirror_qrep_ddl(surface):
    out = surface.execute(
        "CREATE MIRROR li FROM src TO dst FOR "
        "$$SELECT * FROM lineitem WHERE l_orderkey BETWEEN {{.start}} AND {{.end}}$$ "
        "WITH (watermark_column = 'l_orderkey', mode = 'upsert', "
        "unique_key_columns = 'l_orderkey', num_rows_per_partition = 1000)"
    )
    assert out["kind"] == "qrep"
    cfg = surface.catalog.get_mirror("li")
    assert cfg.watermark_column == "l_orderkey" and cfg.write_mode == "upsert"
    assert cfg.upsert_key_columns == ["l_orderkey"]


def test_create_mirror_cdc_ddl_and_signals(surface):
    out = surface.execute(
        "CREATE MIRROR flow1 FROM src TO dst WITH TABLE MAPPING "
        "(public.orders:orders, public.lineitem:lineitem) "
        "WITH (max_batch_size = 5000, soft_delete_col_name = '_deleted')"
    )
    assert out["kind"] == "cdc"
    cfg = surface.catalog.get_mirror("flow1")
    assert [m.source_table for m in cfg.table_mappings] == ["public.orders", "public.lineitem"]
    assert cfg.max_batch_size == 5000 and cfg.soft_delete_col_name == "_deleted"
    assert surface.execute("PAUSE MIRROR flow1")["status"] == "paused"
    assert surface.execute("RESUME MIRROR flow1")["status"] == "running"
    surface.execute("DROP MIRROR flow1")


def test_create_mirror_cdc_v2_table_mapping(surface):
    """v2 mapping entries (ref: nexus/parser/src/parser_peerdb.rs:246-316):
    {from:, to:, key:, exclude: [..]} — per-table options expressible in DDL,
    mixed freely with v1 src:dst entries."""
    out = surface.execute(
        "CREATE MIRROR flow2 FROM src TO dst WITH TABLE MAPPING ("
        "{from: public.orders, to: orders_dst, key: o_orderkey, "
        "exclude: [o_comment, o_clerk]}, "
        "public.lineitem:lineitem, "
        "{from: public.nation}"
        ") WITH (max_batch_size = 9000, soft_delete_col_name = '_del')"
    )
    assert out["kind"] == "cdc"
    cfg = surface.catalog.get_mirror("flow2")
    m0, m1, m2 = cfg.table_mappings
    assert (m0.source_table, m0.destination_table) == ("public.orders", "orders_dst")
    assert m0.exclude == ["o_comment", "o_clerk"] and m0.partition_key == "o_orderkey"
    assert (m1.source_table, m1.destination_table) == ("public.lineitem", "lineitem")
    assert (m2.source_table, m2.destination_table) == ("public.nation", "public.nation")
    assert m2.exclude == [] and m2.partition_key == ""
    assert cfg.max_batch_size == 9000 and cfg.soft_delete_col_name == "_del"
    surface.execute("DROP MIRROR flow2")


def test_create_mirror_cdc_with_option_breadth(surface):
    """Boolean + snapshot WITH options (ref: nexus/analyzer/src/lib.rs:205-260)."""
    surface.execute(
        "CREATE MIRROR flow3 FROM src TO dst WITH TABLE MAPPING (t) "
        "WITH (do_initial_copy = true, resync = 'false', "
        "publication_name = 'pub1', replication_slot_name = 'slot1', "
        "snapshot_num_rows_per_partition = 50000)"
    )
    cfg = surface.catalog.get_mirror("flow3")
    assert cfg.do_initial_copy is True and cfg.resync is False
    assert cfg.publication_name == "pub1" and cfg.replication_slot_name == "slot1"
    assert cfg.snapshot_num_rows_per_partition == 50000
    surface.execute("DROP MIRROR flow3")


def test_execute_mirror_runs_qrep(surface, tables, tmp_path):
    surface.execute(
        "CREATE MIRROR exec1 FROM src TO dst FOR $$SELECT * FROM orders$$ "
        "WITH (watermark_column = 'o_orderkey', mode = 'append', "
        "num_rows_per_partition = 5000)"
    )
    dest = str(tmp_path / "exec1_dst")
    surface.bind_qrep("exec1", tables["orders"], dest)
    out = surface.execute("EXECUTE MIRROR exec1")
    assert out["ok"]
    got = surface.spark.read.parquet(dest)
    assert got.count() == tables["orders"].count()
    # paused mirror: EXECUTE is a no-op
    surface.execute("PAUSE MIRROR exec1")
    surface.execute("EXECUTE MIRROR exec1")
    assert surface.spark.read.parquet(dest).count() == tables["orders"].count()


def test_passthrough_sql(surface, tables):
    df = surface.execute("SELECT count(*) AS n FROM orders")
    assert df.collect()[0]["n"] == tables["orders"].count()


def test_query_mirrored_destination(surface, tables, tmp_path, spark):
    """The nexus pattern: replicate, then run interactive SQL on the mirror."""
    from peerdb_spark.qrep import QRepEngine

    surface.execute(
        "CREATE MIRROR mq FROM src TO dst FOR $$SELECT * FROM orders$$ "
        "WITH (watermark_column = 'o_orderkey', mode = 'append')"
    )
    dest = str(tmp_path / "mq_dst")
    surface.bind_qrep("mq", tables["orders"], dest)
    surface.execute("EXECUTE MIRROR mq")
    surface.register_destination("orders_mirror", ParquetTable(spark, dest))
    out = surface.execute(
        "SELECT o_orderstatus, count(*) AS n FROM orders_mirror GROUP BY 1 ORDER BY 1"
    ).collect()
    direct = tables["orders"].groupBy("o_orderstatus").count().orderBy("o_orderstatus").collect()
    assert [(r["o_orderstatus"], r["n"]) for r in out] == [
        (r["o_orderstatus"], r["count"]) for r in direct
    ]


def test_cursor_lifecycle(surface, tables):
    surface.execute("DECLARE c1 CURSOR FOR SELECT o_orderkey FROM orders ORDER BY o_orderkey")
    first = surface.execute("FETCH 5 FROM c1").collect()
    second = surface.execute("FETCH 3 FROM c1").collect()
    assert len(first) == 5 and len(second) == 3
    keys = [r["o_orderkey"] for r in first + second]
    assert keys == sorted(keys)
    surface.execute("CLOSE c1")
    assert "c1" not in surface.cursors


# -------------------- schema evolution --------------------


def test_schema_evolution_add_column(spark, tmp_path):
    t = ParquetTable(spark, str(tmp_path / "t"), ["id"], 4)
    t.overwrite(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    added = apply_delta(t, SchemaDelta("t", [("score", "double")]))
    assert added == ["score"]
    # repeat delta → no-op
    assert apply_delta(t, SchemaDelta("t", [("score", "double")])) == []
    out = t.read()
    assert "score" in out.columns
    assert all(r["score"] is None for r in out.collect())
    # new data carries the column; old rows still NULL
    t.append(spark.createDataFrame([(3, "c", 9.5)], "id long, v string, score double"))
    rows = {r["id"]: r["score"] for r in t.read().collect()}
    assert rows[3] == 9.5 and rows[1] is None


def test_schema_evolution_audit_and_replay_dedup(spark, tmp_path):
    """flowable_core.go:65-119 / monitoring.go:515+: replayed deltas dedup
    against the recorded audit (not just the live sidecar), and every applied
    delta leaves an audit row."""
    from peerdb_spark.schema_evolution import replay_deltas

    cat = Catalog(str(tmp_path / "cat"))
    t = ParquetTable(spark, str(tmp_path / "t"), ["id"], 4)
    t.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))

    d = SchemaDelta("t", [("score", "double")])
    assert replay_deltas(cat, "m1", t, [d], batch_id=3) == ["score"]
    # add-column-twice: second replay is a recorded no-op (no new audit row)
    assert replay_deltas(cat, "m1", t, [d], batch_id=4) == []
    audit = cat.schema_delta_audit("m1")
    assert len(audit) == 1
    assert audit[0]["dst_table"] == "t" and audit[0]["added"] == [["score", "double"]]
    assert audit[0]["batch_id"] == 3 and audit[0]["seq"] == 0

    # a second distinct delta appends to the audit
    assert replay_deltas(cat, "m1", t, [SchemaDelta("t", [("rank", "int")])], batch_id=5) == ["rank"]
    audit = cat.schema_delta_audit("m1")
    assert len(audit) == 2 and audit[1]["seq"] == 1
    assert cat.applied_delta_columns("m1", "t") == {"score", "rank"}

    # audit-level dedup survives a sidecar rebuild: recreate the destination
    # without the evolved column — the recorded delta still must not re-apply
    t2 = ParquetTable(spark, str(tmp_path / "t2"), ["id"], 4)
    t2.overwrite(spark.createDataFrame([(1, "a")], "id long, v string"))
    assert replay_deltas(cat, "m1", t2, [d]) == []


# -------------------- snapshot + resync --------------------


def test_snapshot_then_resync(spark, tmp_path, tables):
    cat = Catalog(str(tmp_path / "cat"))
    eng = QRepEngine(spark, cat)
    cfg = MirrorConfig(
        name="snap", kind="qrep", watermark_column="o_orderkey",
        write_mode="append", num_rows_per_partition=1000,
    )
    dest = str(tmp_path / "orders")
    stats = snapshot_table(eng, cfg, tables["orders"], dest, changelog_offset=7)
    assert stats["rows"] == tables["orders"].count()
    assert cat.get_batch_id("snap") == 7

    # resync with soft-delete carry-forward
    t = ParquetTable(spark, dest, ["o_orderkey"], 0)
    old = t.read().withColumn("_del", F.when(F.col("o_orderkey") % 100 == 0, True).otherwise(False))
    n_tomb = old.where("_del").count()
    t.overwrite(old)
    fresh = tables["orders"].where(F.col("o_orderkey") % 100 != 0)
    resync_table(fresh, ParquetTable(spark, dest, ["o_orderkey"], 0), soft_delete_col="_del")
    out = ParquetTable(spark, dest, ["o_orderkey"], 0).read()
    assert out.where("_del").count() == n_tomb  # tombstones carried forward
    assert out.count() == fresh.count() + n_tomb


# -------------------- queue sinks --------------------


def _chg(spark):
    rows = [
        {"_kind": "insert", "_checkpoint_id": 1, "_commit_ts": TS, "_txid": 1,
         "_src_table": "t", "_dst_table": "orders", "_data": None, "_old_data": None,
         "_unchanged_cols": None, "id": 1, "v": "a"},
        {"_kind": "delete", "_checkpoint_id": 2, "_commit_ts": TS, "_txid": 2,
         "_src_table": "t", "_dst_table": "orders", "_data": None, "_old_data": None,
         "_unchanged_cols": None, "id": 2, "v": "b"},
    ]
    return spark.createDataFrame(
        rows,
        "id long, v string, _kind string, _checkpoint_id long, _commit_ts timestamp,"
        "_txid long, _src_table string, _dst_table string, _data string, _old_data string,"
        "_unchanged_cols array<string>",
    )


def test_emit_kafka_rows_contract(spark):
    out = emit_kafka_rows(_chg(spark), ["id"], num_partitions=8)
    assert out.columns == ["key", "value", "topic", "partition"]
    rows = out.collect()
    assert all(r["topic"] == "orders" for r in rows)
    assert all(0 <= r["partition"] < 8 for r in rows)
    payload = json.loads(bytes(rows[0]["value"]).decode())
    assert payload["id"] == 1 and payload["v"] == "a"


def test_emit_kafka_transform_hook(spark):
    # script hook: route by kind, drop deletes (Lua-script analogue)
    def hook(df):
        return df.where(F.col("_kind") != "delete").withColumn("v", F.upper("v"))

    out = emit_kafka_rows(_chg(spark), ["id"], transform=hook).collect()
    assert len(out) == 1
    assert json.loads(bytes(out[0]["value"]).decode())["v"] == "A"


def test_kafka_write_spec_full_config(spark):
    """The writer invocation is fully built without a broker: bootstrap,
    default topic, includeHeaders, namespaced producer options — only the
    final .save() is env-gated (round-3 advice item 6)."""
    import pytest

    from peerdb_spark.sinks import kafka_write_spec

    out = emit_kafka_rows(
        _chg(spark), ["id"], num_partitions=8,
        headers=F.array(F.struct(F.lit("src").alias("key"),
                                 F.col("_src_table").cast("binary").alias("value"))),
    )
    assert out.columns == ["key", "value", "topic", "headers", "partition"]
    spec = kafka_write_spec(
        out, "broker1:9092,broker2:9092", default_topic="fallback",
        producer_options={"compression.type": "zstd", "kafka.sasl.mechanism": "PLAIN"},
    )
    assert spec.options == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "topic": "fallback",
        "includeHeaders": "true",
        "kafka.compression.type": "zstd",
        "kafka.sasl.mechanism": "PLAIN",
    }
    spec.writer()  # DataFrameWriter constructs cleanly
    with pytest.raises(NotImplementedError):  # delivery gated by env flag
        spec.save()
    # contract violations fail at build time
    with pytest.raises(ValueError, match="value"):
        kafka_write_spec(_chg(spark).select(F.col("id").alias("key")), "b:9092")
    with pytest.raises(ValueError, match="topic"):
        kafka_write_spec(out.drop("topic"), "b:9092")
    with pytest.raises(ValueError, match="binary/string"):
        kafka_write_spec(
            out.withColumn("value", F.lit(1)), "b:9092", default_topic="t"
        )


def test_elasticsearch_actions(spark):
    out = {r["_id"]: r.asDict() for r in elasticsearch_actions(_chg(spark), ["id"], "idx").collect()}
    assert out["1"]["_op"] == "index" and json.loads(out["1"]["_source"])["v"] == "a"
    assert out["2"]["_op"] == "delete" and out["2"]["_source"] is None


def test_elasticsearch_bulk_payloads(spark):
    """NDJSON _bulk bodies: index actions carry meta+source lines, deletes
    only meta; ids JSON-escaped via to_json; delivery env-gated."""
    import pytest

    from peerdb_spark.sinks import elasticsearch_bulk_payloads, write_elasticsearch

    acts = elasticsearch_actions(_chg(spark), ["id"], "idx")
    rows = {r["_id"]: r.asDict() for r in elasticsearch_bulk_payloads(acts).collect()}
    idx_lines = rows["1"]["lines"].split("\n")
    assert json.loads(idx_lines[0]) == {"index": {"_index": "idx", "_id": "1"}}
    assert json.loads(idx_lines[1])["v"] == "a"
    assert rows["2"]["lines"] == json.dumps(
        {"delete": {"_index": "idx", "_id": "2"}}, separators=(",", ":")
    )
    assert rows["1"]["n_bytes"] == len(rows["1"]["lines"]) + 1
    with pytest.raises(NotImplementedError):
        write_elasticsearch(acts, "http://localhost:9200")


def test_execute_mirror_runs_cdc(surface, spark, tmp_path):
    """EXECUTE MIRROR on a CDC mirror: checkpoint-incremental sync+normalize
    passes driven entirely through the SQL surface."""
    import datetime as dtm
    import json as js

    from pyspark.sql import types as TT

    from peerdb_spark import cdc as C
    from peerdb_spark.storage import ParquetTable

    surface.execute(
        "CREATE MIRROR cdcexec FROM src TO dst WITH TABLE MAPPING (t) "
        "WITH (max_batch_size = 3)"
    )
    val = TT.StructType([TT.StructField("id", TT.LongType()),
                         TT.StructField("v", TT.StringType())])
    dest = str(tmp_path / "t")
    pipe = C.CdcPipeline(spark, str(tmp_path / "raw"),
                         [C.CdcTableConfig("t", ["id"], val, dest, n_buckets=2)])

    def chg_rows(rng):
        return [
            {
                "_kind": "insert", "_checkpoint_id": i,
                "_commit_ts": dtm.datetime(2024, 1, 1) + dtm.timedelta(seconds=i),
                "_txid": i, "_src_table": "t", "_dst_table": "t",
                "_data": js.dumps({"id": i, "v": f"v{i}"}), "_old_data": None,
                "_unchanged_cols": None,
            }
            for i in rng
        ]

    chg_dir = str(tmp_path / "chg")
    spark.createDataFrame(chg_rows(range(7)), C.CHANGELOG_SCHEMA) \
        .write.mode("append").parquet(chg_dir)
    surface.bind_cdc(
        "cdcexec", pipe,
        lambda: spark.read.schema(C.CHANGELOG_SCHEMA).parquet(chg_dir),
    )

    out = surface.execute("EXECUTE MIRROR cdcexec")
    assert out["result"]["rows"] == 7
    assert out["result"]["batches"] == 3  # max_batch_size=3 → 3/3/1
    t = ParquetTable(spark, dest, ["id"], 2)
    assert t.read().count() == 7

    # nothing new → no-op
    out = surface.execute("EXECUTE MIRROR cdcexec")
    assert out["result"]["batches"] == 0

    # append past the checkpoint → only the new rows sync
    spark.createDataFrame(chg_rows(range(7, 9)), C.CHANGELOG_SCHEMA) \
        .write.mode("append").parquet(chg_dir)
    out = surface.execute("EXECUTE MIRROR cdcexec")
    assert out["result"]["rows"] == 2
    assert t.read().count() == 9

    # paused mirrors don't run
    surface.execute("PAUSE MIRROR cdcexec")
    assert "result" not in surface.execute("EXECUTE MIRROR cdcexec")
    surface.execute("DROP MIRROR cdcexec")


def test_object_sink_formats_and_codecs(spark, tables, tmp_path):
    """S3-style object sink: parquet with codec choice works natively; avro
    raises Spark's missing-data-source error until the jar lands (the call
    shape is already correct)."""
    from peerdb_spark.sinks import write_object_sink

    od = tables["orders"].select("o_orderkey", "o_orderstatus")
    p = str(tmp_path / "zstd_out")
    write_object_sink(od, p, fmt="parquet", codec="zstd",
                      partition_by=["o_orderstatus"], mode="overwrite")
    back = spark.read.parquet(p)
    assert back.count() == od.count()
    import glob
    assert glob.glob(p + "/o_orderstatus=*/*.zstd.parquet")

    with pytest.raises(Exception) as ei:
        write_object_sink(od.limit(1), str(tmp_path / "avro_out"), fmt="avro")
    assert "avro" in str(ei.value).lower()


def test_execute_mirror_initial_copy_and_resync(surface, spark, tmp_path):
    """do_initial_copy: first EXECUTE snapshots the source tables before
    consuming changes; resync: re-clone via atomic staging swap."""
    import datetime as dtm
    import json as js

    from pyspark.sql import types as TT

    from peerdb_spark import cdc as C
    from peerdb_spark.storage import ParquetTable

    surface.execute(
        "CREATE MIRROR snapcdc FROM src TO dst WITH TABLE MAPPING (t) "
        "WITH (max_batch_size = 100, do_initial_copy = true)"
    )
    val = TT.StructType([TT.StructField("id", TT.LongType()),
                         TT.StructField("v", TT.StringType())])
    dest = str(tmp_path / "t")
    pipe = C.CdcPipeline(spark, str(tmp_path / "raw"),
                         [C.CdcTableConfig("t", ["id"], val, dest, n_buckets=2)])
    base = spark.createDataFrame([(i, f"base{i}") for i in range(20)], "id long, v string")
    chg_dir = str(tmp_path / "chg")
    spark.createDataFrame(
        [
            {
                "_kind": "update", "_checkpoint_id": 1,
                "_commit_ts": dtm.datetime(2024, 1, 2), "_txid": 1,
                "_src_table": "t", "_dst_table": "t",
                "_data": js.dumps({"id": 3, "v": "CHANGED"}), "_old_data": None,
                "_unchanged_cols": None,
            }
        ],
        C.CHANGELOG_SCHEMA,
    ).write.mode("append").parquet(chg_dir)
    surface.bind_cdc(
        "snapcdc", pipe,
        lambda: spark.read.schema(C.CHANGELOG_SCHEMA).parquet(chg_dir),
        initial_sources={"t": base},
    )
    out = surface.execute("EXECUTE MIRROR snapcdc")
    assert out["result"]["snapshots"] == 1 and out["result"]["rows"] == 1
    t = ParquetTable(spark, dest, ["id"], 2)
    state = {r["id"]: r["v"] for r in t.read().collect()}
    assert len(state) == 20 and state[3] == "CHANGED" and state[5] == "base5"
    # second EXECUTE: snapshot is once-only
    out = surface.execute("EXECUTE MIRROR snapcdc")
    assert out["result"]["snapshots"] == 0
    surface.execute("DROP MIRROR snapcdc")


def test_raw_table_retention(spark, tmp_path):
    """Retention = O(#batches) partition drops; data in kept batches intact."""
    import datetime as dtm
    import json as js

    from peerdb_spark import cdc as C

    raw = C.RawTable(spark, str(tmp_path / "raw"))
    for b in range(4):
        chg = spark.createDataFrame(
            [
                {
                    "_kind": "insert", "_checkpoint_id": b * 10,
                    "_commit_ts": dtm.datetime(2024, 1, 1), "_txid": b,
                    "_src_table": "t", "_dst_table": "t",
                    "_data": js.dumps({"id": b}), "_old_data": None,
                    "_unchanged_cols": None,
                }
            ],
            C.CHANGELOG_SCHEMA,
        )
        raw.append(chg, b)
    assert raw.drop_batches(before_batch=2) == 2
    assert raw.read_batches(0, 10).count() == 2
    assert raw.is_batch_committed(3) and not raw.is_batch_committed(0)


def test_execute_mirror_batch_metrics(surface, spark, tmp_path):
    """EXECUTE MIRROR records one monitoring row per sync batch (rows +
    checkpoint range), like the reference's catalog monitoring tables."""
    import datetime as dtm
    import json as js

    from pyspark.sql import types as TT

    from peerdb_spark import cdc as C

    surface.execute(
        "CREATE MIRROR metcdc FROM src TO dst WITH TABLE MAPPING (t) "
        "WITH (max_batch_size = 4)"
    )
    val = TT.StructType([TT.StructField("id", TT.LongType()),
                         TT.StructField("v", TT.StringType())])
    pipe = C.CdcPipeline(spark, str(tmp_path / "raw"),
                         [C.CdcTableConfig("t", ["id"], val, str(tmp_path / "t"), n_buckets=2)])
    chg_dir = str(tmp_path / "chg")
    rows = [
        {
            "_kind": "insert", "_checkpoint_id": i,
            "_commit_ts": dtm.datetime(2024, 1, 2), "_txid": i,
            "_src_table": "t", "_dst_table": "t",
            "_data": js.dumps({"id": i, "v": "x"}), "_old_data": None,
            "_unchanged_cols": None,
        }
        for i in range(10)
    ]
    spark.createDataFrame(rows, C.CHANGELOG_SCHEMA).write.mode("append").parquet(chg_dir)
    surface.bind_cdc("metcdc", pipe,
                     lambda: spark.read.schema(C.CHANGELOG_SCHEMA).parquet(chg_dir))
    out = surface.execute("EXECUTE MIRROR metcdc")["result"]
    assert out["rows"] == 10 and out["batches"] == 3  # 4+4+2
    m = surface.catalog.batch_metrics("metcdc")
    assert [e["n_rows"] for e in m] == [4, 4, 2]
    assert m[0]["start_checkpoint"] == 0 and m[-1]["end_checkpoint"] == 9
    assert [e["batch_id"] for e in m] == [1, 2, 3]
    surface.execute("DROP MIRROR metcdc")


def test_create_mirror_cdc_v2_column_settings(surface):
    """Per-column settings in v2 mapping DDL (ref: protos/flow.proto
    ColumnSetting{SourceName, DestinationName, DestinationType}; nexus
    analyzer per-table options, lib.rs:155-510): rename, type override with
    commas inside the DDL type, and explicit pk list."""
    out = surface.execute(
        "CREATE MIRROR flow_cols FROM src TO dst WITH TABLE MAPPING ("
        "{from: public.orders, to: orders_dst, pk: [o_orderkey], "
        "rename: {o_comment: note, o_clerk: clerk}, "
        "types: {o_totalprice: 'decimal(12,2)', o_shippriority: 'int'}, "
        "exclude: [o_internal]}"
        ") WITH (max_batch_size = 100)"
    )
    assert out["kind"] == "cdc"
    cfg = surface.catalog.get_mirror("flow_cols")
    (m,) = cfg.table_mappings
    assert m.primary_keys == ["o_orderkey"]
    assert m.renames == {"o_comment": "note", "o_clerk": "clerk"}
    assert m.type_overrides == {"o_totalprice": "decimal(12,2)", "o_shippriority": "int"}
    assert m.exclude == ["o_internal"]
    surface.execute("DROP MIRROR flow_cols")


def test_resync_mirror_statement(surface, spark, tmp_path):
    """RESYNC MIRROR re-arms the initial clone: the next EXECUTE re-snapshots
    the destination from the source via the atomic staging swap (ref: nexus
    ResyncMirror → recreate with resync=true)."""
    import datetime as dtm
    import json as js

    from pyspark.sql import types as TT

    from peerdb_spark import cdc as C
    from peerdb_spark.storage import ParquetTable

    surface.execute(
        "CREATE MIRROR rsyn FROM src TO dst WITH TABLE MAPPING (t) "
        "WITH (do_initial_copy = true)"
    )
    val = TT.StructType([TT.StructField("id", TT.LongType()),
                         TT.StructField("v", TT.StringType())])
    dest = str(tmp_path / "t")
    pipe = C.CdcPipeline(spark, str(tmp_path / "raw"),
                         [C.CdcTableConfig("t", ["id"], val, dest, n_buckets=2)])
    src_df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    empty = spark.createDataFrame([], C.CHANGELOG_SCHEMA)
    surface.bind_cdc("rsyn", pipe, empty, initial_sources={"t": src_df})

    out = surface.execute("EXECUTE MIRROR rsyn")
    assert out["result"]["snapshots"] == 1
    t = ParquetTable(spark, dest, ["id"], 2)
    assert t.read().count() == 2

    # second EXECUTE: initial copy already done → no re-clone
    assert surface.execute("EXECUTE MIRROR rsyn")["result"]["snapshots"] == 0

    # corrupt the destination, then RESYNC → next EXECUTE re-clones
    t.overwrite(spark.createDataFrame([(99, "junk")], "id long, v string"))
    assert t.read().count() == 1
    res = surface.execute("RESYNC MIRROR rsyn")
    assert res["resync"] is True
    out = surface.execute("EXECUTE MIRROR rsyn")
    assert out["result"]["snapshots"] == 1
    got = sorted((r["id"], r["v"]) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b")]


def test_show_mirrors_and_peers(spark, tmp_path):
    """SHOW MIRRORS / SHOW PEERS return catalog state as DataFrames (the
    reference's operational introspection surface)."""
    from peerdb_spark.registry import Catalog
    from peerdb_spark.sql_surface import SqlSurface

    surf = SqlSurface(spark, Catalog(str(tmp_path / "cat")))
    assert surf.execute("SHOW MIRRORS").count() == 0
    surf.execute(f"CREATE PEER src FROM parquet WITH (path = '{tmp_path}/s')")
    surf.execute(f"CREATE PEER dst FROM parquet WITH (path = '{tmp_path}/d')")
    surf.execute(
        "CREATE MIRROR m1 FROM src TO dst WITH TABLE MAPPING (t1, t2:t2x) "
        "WITH (max_batch_size = 100)"
    )
    surf.execute("PAUSE MIRROR m1")
    peers = {r["peer"]: r["kind"] for r in surf.execute("SHOW PEERS").collect()}
    assert peers == {"src": "parquet", "dst": "parquet"}
    mirrors = surf.execute("SHOW MIRRORS").collect()
    assert len(mirrors) == 1
    row = mirrors[0]
    assert (row["mirror"], row["kind"], row["status"], row["n_tables"]) == (
        "m1", "cdc", "paused", 2,
    )
