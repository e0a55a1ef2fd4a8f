"""Queue-style sinks: Kafka-shaped record emission with a transform hook.

Reference semantics (studied, not copied):
- Kafka sink: per-record topic/key/value/headers, optionally computed by a
  user Lua script (flow/connectors/kafka/kafka.go:239-420); EventHub/PubSub
  share the shape (partition hashing, routing).
- the Lua surface (flow/pua/peerdb.go:32-855) is a scalar row-transform:
  read/modify row fields, compute key/topic, drop records.

Spark realization: a declarative projection producing the Kafka writer
contract columns (key BINARY, value BINARY, topic STRING, partition INT) —
`df.write.format("kafka")` consumes exactly this. The transform hook is
either (a) a Column-expression factory (JVM, preferred) or (b) a Python
scalar function applied via Arrow-batched pandas UDF — the slow-path
equivalent of the reference's Lua pool, kept off the default path.

No Kafka broker exists in this environment; emit_kafka_rows returns the
contract DataFrame and write_kafka() gates on the connector's availability.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from peerdb_spark import normalize as N

KAFKA_CONTRACT_COLS = ["key", "value", "topic", "partition"]

# headers column shape consumed by the kafka source/sink connector
KAFKA_HEADERS_DDL = "array<struct<key:string,value:binary>>"

# env flag: the ONLY thing standing between the built writer and a live
# broker delivery (the kafka-sql connector jar is not bundled here)
KAFKA_ENABLED_ENV = "PEERDB_SPARK_KAFKA_ENABLED"


def default_key(pk_cols: list[str]) -> Column:
    """Key = joined primary key (reference default: table pk as record key)."""
    return F.concat_ws("|", *[F.col(c).cast("string") for c in pk_cols])


def emit_kafka_rows(
    changes: DataFrame,
    pk_cols: list[str],
    topic: str | Column | None = None,
    key: Column | None = None,
    value: Column | None = None,
    num_partitions: int | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
    headers: Column | None = None,
) -> DataFrame:
    """Project a changelog batch into Kafka writer contract rows.

    - topic: literal or per-row Column (default: destination table name —
      the reference's per-destination-topic routing)
    - value: default JSON of the full record (matches _peerdb_data JSON)
    - partition: murmur-style hash of the key modulo num_partitions, the
      reference's partition-hash routing (kafka.go) — omit to let the broker
      assign.
    - transform: the script hook; runs BEFORE projection so it can rewrite
      fields, add columns, or drop rows (return fewer rows).
    - headers: per-record kafka headers as an `array<struct<key,value>>`
      Column (the reference's Lua scripts can attach headers per record —
      flow/connectors/kafka/kafka.go record construction).
    """
    df = transform(changes) if transform else changes
    meta = [c for c in N.META_COLS if c in df.columns]
    payload = value if value is not None else F.to_json(
        F.struct(*[F.col(c) for c in df.columns if c not in meta])
    )
    k = key if key is not None else default_key(pk_cols)
    if topic is None:
        t = F.col(N.COL_DST) if N.COL_DST in df.columns else F.lit("events")
    else:
        t = F.lit(topic) if isinstance(topic, str) else topic
    proj = [
        k.cast("binary").alias("key"),
        payload.cast("binary").alias("value"),
        t.alias("topic"),
    ]
    if headers is not None:
        # projected in the SAME select: the Column refers to df's columns
        proj.append(headers.cast(KAFKA_HEADERS_DDL).alias("headers"))
    out = df.select(*proj)
    if num_partitions:
        out = out.withColumn(
            "partition",
            F.pmod(F.xxhash64(F.col("key")), F.lit(num_partitions)).cast("int"),
        )
    else:
        out = out.withColumn("partition", F.lit(None).cast("int"))
    return out


@dataclass
class KafkaWriteSpec:
    """Fully-built Kafka write invocation, inspectable without a broker.

    Everything up to the final `.save()` — contract validation, writer
    format, every option — is constructed and unit-testable; only the save
    itself needs the connector jar + a live broker, gated behind
    PEERDB_SPARK_KAFKA_ENABLED=1 (the round-3 advice: shrink the untested
    surface to exactly one line)."""

    df: DataFrame
    options: dict[str, str] = field(default_factory=dict)

    def writer(self):
        w = self.df.write.format("kafka")
        for k, v in self.options.items():
            w = w.option(k, v)
        return w

    def save(self) -> None:
        if os.environ.get(KAFKA_ENABLED_ENV) != "1":
            raise NotImplementedError(
                f"set {KAFKA_ENABLED_ENV}=1 with the kafka-sql connector on "
                "the classpath to deliver; the writer invocation is fully "
                "built (see .options / .writer())"
            )
        self.writer().save()  # pragma: no cover - no broker in test env


def kafka_write_spec(
    batch: DataFrame,
    bootstrap_servers: str,
    default_topic: str | None = None,
    producer_options: dict[str, str] | None = None,
) -> KafkaWriteSpec:
    """Validate the row contract and assemble the complete writer config.

    Mirrors the reference's producer setup (flow/connectors/kafka/
    kafka.go:295-420: bootstrap, per-record topic/key/value/headers,
    pass-through client options e.g. sasl/compression). Raises on a batch
    that does not satisfy the connector's input contract, so misrouted
    schemas fail at build time, not delivery time."""
    fields = {f.name: f.dataType.simpleString() for f in batch.schema.fields}
    if "value" not in fields:
        raise ValueError("kafka batch must have a 'value' column")
    for c in ("key", "value"):
        if c in fields and fields[c] not in ("binary", "string"):
            raise ValueError(f"kafka '{c}' must be binary/string, got {fields[c]}")
    if "topic" not in fields and default_topic is None:
        raise ValueError("no 'topic' column and no default_topic option")
    if "topic" in fields and fields["topic"] != "string":
        raise ValueError(f"kafka 'topic' must be string, got {fields['topic']}")
    if "headers" in fields and not fields["headers"].startswith("array<struct"):
        raise ValueError(
            f"kafka 'headers' must be {KAFKA_HEADERS_DDL}, got {fields['headers']}"
        )
    opts = {"kafka.bootstrap.servers": bootstrap_servers}
    if default_topic is not None:
        opts["topic"] = default_topic
    if "headers" in fields:
        opts["includeHeaders"] = "true"
    for k, v in (producer_options or {}).items():
        # producer client options are namespaced kafka.* by the connector
        opts[k if k.startswith("kafka.") else f"kafka.{k}"] = v
    return KafkaWriteSpec(batch, opts)


def write_kafka(
    batch: DataFrame,
    bootstrap_servers: str,
    default_topic: str | None = None,
    producer_options: dict[str, str] | None = None,
) -> None:
    """Build + deliver (delivery env-gated; see KafkaWriteSpec.save)."""
    kafka_write_spec(batch, bootstrap_servers, default_topic, producer_options).save()


def write_kafka_wire(
    batch: DataFrame,
    host: str,
    port: int,
    default_topic: str = "events",
    compression: str = "none",
    routed: bool = True,
) -> None:
    """Deliver WITHOUT the spark-sql-kafka connector: per-executor-partition
    plain-TCP Produce requests built by kafka_wire.py (the public protocol,
    implemented from scratch; record batches CRC32C-verified end-to-end in
    tests against an independent decoder + stub broker). Same row contract
    as the connector path — validate through kafka_write_spec first.

    DEFAULT path is leader-routed: (host, port) seeds a ClusterProducer
    bootstrap, Metadata v1 discovers per-partition leaders, and produce
    errors get a bounded metadata-refresh retry loop (leadership moves are
    followed mid-write — the franz-go behavior). If the bootstrap Metadata
    probe fails (proxy/tunnel seed), the routed path automatically falls
    back to single-socket before anything is sent; routed=False forces the
    single-socket scope up front. acks=1 at-least-once either way; the
    idempotent merge downstream absorbs redelivery. compression: none /
    gzip / snappy (raw blocks; decode also unwraps Java's xerial framing) /
    lz4 (frame format, independent blocks) / zstd, all through the libraries pyarrow bundles
    (codecs.py)."""
    from peerdb_spark.kafka_wire import (
        deliver_kafka_wire,
        deliver_kafka_wire_routed,
    )

    kafka_write_spec(batch, f"{host}:{port}", default_topic)  # contract check
    cols = [c for c in ("topic", "key", "value", "partition", "headers") if c in batch.columns]
    if routed:
        batch.select(*cols).foreachPartition(
            lambda rows: deliver_kafka_wire_routed(
                rows, [(host, port)], default_topic, compression=compression
            )
        )
    else:
        batch.select(*cols).foreachPartition(
            lambda rows: deliver_kafka_wire(
                rows, host, port, default_topic, compression=compression
            )
        )


def elasticsearch_actions(
    changes: DataFrame, pk_cols: list[str], index: str
) -> DataFrame:
    """Elasticsearch bulk-action rows: _id = pk (natural upsert), deletes →
    delete-by-id actions (ref: elasticsearch.go:123-300)."""
    df = changes
    op = F.when(N.kind_code() == N.KIND_DELETE, F.lit("delete")).otherwise(F.lit("index"))
    meta = [c for c in N.META_COLS if c in df.columns]
    doc = F.to_json(F.struct(*[F.col(c) for c in df.columns if c not in meta]))
    return df.select(
        F.lit(index).alias("_index"),
        default_key(pk_cols).alias("_id"),
        op.alias("_op"),
        F.when(N.kind_code() != N.KIND_DELETE, doc).alias("_source"),
    )


def elasticsearch_bulk_payloads(
    actions: DataFrame, max_batch_bytes: int = 5_000_000
) -> DataFrame:
    """Bulk-API request bodies from action rows: NDJSON lines exactly as the
    _bulk endpoint consumes them (action-metadata line, then the source doc
    for index actions). One row per action: (_index, _id, lines, n_bytes) —
    a downstream partition-level fold groups lines into <= max_batch_bytes
    POST bodies, mirroring the reference's esutil.BulkIndexer flush sizing
    (elasticsearch.go:219-227 uses the client's default 5MB flush).

    Only the HTTP POST itself is environment-gated (no live ES here); the
    payload construction — the part with correctness content — is JVM
    expressions end-to-end."""
    action_meta = F.struct(
        F.col("_index").alias("_index"), F.col("_id").alias("_id")
    )
    # to_json handles quoting/escaping of ids — no hand-built JSON
    idx_meta = F.to_json(F.struct(action_meta.alias("index")))
    del_meta = F.to_json(F.struct(action_meta.alias("delete")))
    lines = F.when(
        F.col("_op") == "delete", del_meta
    ).otherwise(F.concat(idx_meta, F.lit("\n"), F.col("_source")))
    out = actions.select(
        "_index", "_id", lines.alias("lines"),
    ).withColumn("n_bytes", F.octet_length("lines") + F.lit(1))  # + newline
    return out


def write_elasticsearch(
    actions: DataFrame, es_url: str, max_batch_bytes: int = 5_000_000
) -> None:
    """Deliver bulk payloads — per-partition POSTs, env-gated like Kafka.

    The full path (flush sizing, NDJSON termination, headers, POST) runs
    end-to-end in tests against an in-process HTTP stub
    (tests/test_es_delivery.py); only a real cluster is absent here."""
    payloads = elasticsearch_bulk_payloads(actions, max_batch_bytes)
    if os.environ.get("PEERDB_SPARK_ES_ENABLED") != "1":
        raise NotImplementedError(
            "set PEERDB_SPARK_ES_ENABLED=1 with a reachable cluster to "
            "deliver; elasticsearch_bulk_payloads() builds the exact _bulk "
            "NDJSON bodies"
        )

    def _post(rows):  # pragma: no cover - no live ES in test env
        import urllib.request

        buf, size = [], 0
        for r in rows:
            buf.append(r["lines"])
            size += r["n_bytes"]
            if size >= max_batch_bytes:
                body = ("\n".join(buf) + "\n").encode()
                urllib.request.urlopen(
                    urllib.request.Request(
                        f"{es_url}/_bulk", data=body,
                        headers={"Content-Type": "application/x-ndjson"},
                    )
                )
                buf, size = [], 0
        if buf:
            body = ("\n".join(buf) + "\n").encode()
            urllib.request.urlopen(
                urllib.request.Request(
                    f"{es_url}/_bulk", data=body,
                    headers={"Content-Type": "application/x-ndjson"},
                )
            )

    payloads.foreachPartition(_post)  # pragma: no cover


def write_object_sink(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    codec: str | None = None,
    partition_by: list[str] | None = None,
    mode: str = "append",
) -> None:
    """Object-store sink with format + compression-codec choice.

    The reference's S3 sink writes Avro files with a configurable codec
    (flow/connectors/s3/s3.go:80-118, utils/avro_writer.go:72-95); parquet is
    the Spark-native columnar equivalent (SURVEY §2.2) and the default here.
    fmt='avro' works as-is once spark-avro is on the classpath (it is not in
    this container — Spark raises its standard missing-data-source error).
    Codecs map to Spark's `compression` option (parquet: snappy/zstd/gzip;
    avro: snappy/deflate/zstandard)."""
    w = df.write.mode(mode)
    if codec:
        w = w.option("compression", codec)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(path)
