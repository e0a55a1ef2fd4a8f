"""Pure-socket Kafka producer (kafka_wire.py): byte-level protocol tests +
an end-to-end produce from Spark executors to an in-process stub broker —
the Kafka analogue of test_es_delivery's HTTP stub."""

from __future__ import annotations

import socketserver
import struct
import threading

import pytest

from peerdb_spark import kafka_wire as KW


def test_crc32c_standard_check_value():
    """CRC32C('123456789') == 0xE3069283 — the published Castagnoli check
    value — plus agreement with an independent bit-by-bit implementation."""
    assert KW.crc32c(b"123456789") == 0xE3069283

    def bitwise_crc32c(data: bytes) -> int:  # no table, independent
        crc = 0xFFFFFFFF
        for byte in data:
            crc ^= byte
            for _ in range(8):
                crc = (crc >> 1) ^ (0x82F63B78 if crc & 1 else 0)
        return crc ^ 0xFFFFFFFF

    import random

    rng = random.Random(3)
    for _ in range(20):
        blob = bytes(rng.randrange(256) for _ in range(rng.randrange(0, 64)))
        assert KW.crc32c(blob) == bitwise_crc32c(blob)


def test_varint_roundtrip_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=200, deadline=None)
    @given(n=st.integers(min_value=-(2**62), max_value=2**62))
    def check(n):
        got, pos = KW.dec_varint(KW.enc_varint(n), 0)
        assert got == n

    check()


def test_record_batch_roundtrip_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    blob = st.one_of(st.none(), st.binary(min_size=0, max_size=40))

    header = st.tuples(st.text(alphabet="hk", min_size=0, max_size=4),
                       st.one_of(st.none(), st.binary(max_size=8)))

    @settings(max_examples=50, deadline=None)
    @given(records=st.lists(
        st.tuples(blob, blob, st.lists(header, max_size=3)), min_size=1, max_size=10))
    def check(records):
        assert KW.decode_record_batch(KW.encode_record_batch(records)) == records

    check()


def test_record_batch_gzip_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    blob = st.one_of(st.none(), st.binary(min_size=0, max_size=40))

    @settings(max_examples=30, deadline=None)
    @given(records=st.lists(st.tuples(blob, blob), min_size=1, max_size=10))
    def check(records):
        want = [(k, v, []) for k, v in records]
        batch = KW.encode_record_batch(records, compression="gzip")
        # codec bit set in attributes (offset 21: attrs i16 right after crc)
        attrs = int.from_bytes(batch[21:23], "big")
        assert attrs & 0x7 == 1
        assert KW.decode_record_batch(batch) == want

    check()
    # deterministic bytes (mtime pinned) and actual shrink on repetitive data
    recs = [(b"key", b'{"field": "same value"}' * 4)] * 50
    a = KW.encode_record_batch(recs, compression="gzip")
    assert a == KW.encode_record_batch(recs, compression="gzip")
    assert len(a) < len(KW.encode_record_batch(recs)) // 4


def test_gzip_literal_frame_and_rejects():
    """gzip keeps the stdlib encoder (mtime 0): the bytes equal a frame
    captured from the engine's earlier encoder, which decodes; empty,
    truncated and CRC-flipped frames raise ValueError."""
    from peerdb_spark import codecs

    payload = b'{"pk": 1, "op": "u"}|' * 12
    frame = bytes.fromhex(
        "1f8b0800000000000203ab562ac856b25230d45150ca2f0032944a956a6baa47"
        "8620009ddbafbdfc000000")
    assert codecs.compress("gzip", payload) == frame
    assert codecs.decompress("gzip", frame) == payload
    crc_flipped = frame[:-8] + bytes([frame[-8] ^ 1]) + frame[-7:]
    for bad in (b"", frame[:-3], crc_flipped):
        with pytest.raises(ValueError):
            codecs.decompress("gzip", bad)


def test_gzip_batch_inflating_past_bound_rejects():
    """gzip records decode under the same 128 MiB bound as the other
    codecs: a ~130 kB section holding one record whose value is 128 MiB
    + 1 KiB of zeros raises ValueError instead of inflating in full."""
    import zlib

    from peerdb_spark import codecs

    n = codecs.MAX_SIZE + 1024
    body_head = b"\x00" + KW.enc_varint(0) + KW.enc_varint(0)
    body_head += KW.enc_varint(1) + b"k" + KW.enc_varint(n)
    body_len = len(body_head) + n + 1  # + the header count
    z = zlib.compressobj(9, zlib.DEFLATED, 31)  # gzip wrapper
    comp = z.compress(KW.enc_varint(body_len) + body_head)
    chunk = bytes(1 << 20)
    for _ in range(n >> 20):
        comp += z.compress(chunk)
    comp += z.compress(bytes(n & ((1 << 20) - 1)) + KW.enc_varint(0))
    comp += z.flush()
    assert len(comp) < 200_000
    after_crc = struct.pack(">hiqqqhii", 1, 0, 0, 0, -1, -1, -1, 1) + comp
    tail = struct.pack(">ibI", -1, 2, KW.crc32c(after_crc)) + after_crc
    batch = struct.pack(">qi", 0, len(tail)) + tail
    with pytest.raises(ValueError, match="size bound"):
        KW.decode_record_batch(batch)


def test_stream_decode_reads_in_bounded_steps():
    """gzip, lz4 and zstd decode in bounded reads, never sizing one buffer
    to `max_size`: a bound of 2**62 bytes, which no allocator can reserve,
    still decodes a tiny frame."""
    from peerdb_spark import codecs

    for name in ("gzip", "lz4", "zstd"):
        frame = codecs.compress(name, b"abc")
        assert codecs.decompress(name, frame, max_size=1 << 62) == b"abc"


def test_produce_gzip_end_to_end_stub_broker(broker):
    # the stub decodes with the independent decoder → gzip path exercised
    # over the real socket round-trip
    host, port = broker.server_address
    recs = [(b"k1", b'{"a":1}' * 10), (None, b'{"b":2}' * 10)]
    with __import__("socket").create_connection((host, port)) as sock:
        KW.produce_on(sock, "events", 0, recs, compression="gzip")
    assert broker.received == [("events", k, v) for k, v in recs]


def test_batch_crc_detects_corruption():
    batch = bytearray(KW.encode_record_batch([(b"k", b"v")]))
    batch[-1] ^= 0x01
    with pytest.raises(ValueError, match="crc32c"):
        KW.decode_record_batch(bytes(batch))


class _StubBroker(socketserver.ThreadingTCPServer):
    """Parses Produce v3 frames, records decoded (topic, key, value), and
    answers with a configurable error code."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self):
        self.received: list[tuple[str, bytes | None, bytes | None]] = []
        self.error_code = 0
        self._lock = threading.Lock()
        super().__init__(("127.0.0.1", 0), _StubHandler)


class _StubHandler(socketserver.BaseRequestHandler):
    def handle(self):
        while True:
            head = b""
            while len(head) < 4:
                chunk = self.request.recv(4 - len(head))
                if not chunk:
                    return
                head += chunk
            (n,) = struct.unpack(">i", head)
            frame = b""
            while len(frame) < n:
                frame += self.request.recv(n - len(frame))
            api_key = struct.unpack_from(">h", frame, 0)[0]
            if api_key == 3:  # Metadata: advertise self as sole leader
                mreq = KW.decode_metadata_request(frame)
                host, port = self.server.server_address
                self.request.sendall(
                    KW.encode_metadata_response(
                        mreq["correlation_id"], [(0, host, port)],
                        {t: {p: 0 for p in range(8)}
                         for t in mreq["topics"]},
                    )
                )
                continue
            req = KW.decode_produce_request(frame)
            rows = KW.decode_record_batch(req["batch"])
            with self.server._lock:
                self.server.received += [
                    (req["topic"], k, v) for k, v, _h in rows
                ]
                self.server.received_headers = getattr(
                    self.server, "received_headers", []
                ) + [h for _k, _v, h in rows]
                self.server.api_versions = getattr(
                    self.server, "api_versions", []
                ) + [req["api_version"]]
            self.request.sendall(
                KW.encode_produce_response(
                    req["correlation_id"], req["topic"], req["partition"],
                    error_code=self.server.error_code,
                )
            )


@pytest.fixture()
def broker():
    b = _StubBroker()
    t = threading.Thread(target=b.serve_forever, daemon=True)
    t.start()
    yield b
    b.shutdown()
    b.server_close()


def test_produce_end_to_end_stub_broker(broker):
    host, port = broker.server_address
    recs = [(b"k1", b'{"a":1}'), (None, b'{"a":2}'), (b"k3", None)]
    KW.produce(host, port, "events", 0, recs)
    assert broker.received == [("events", k, v) for k, v in recs]


def test_produce_raises_on_broker_error(broker):
    broker.error_code = 7  # REQUEST_TIMED_OUT
    host, port = broker.server_address
    with pytest.raises(RuntimeError, match="error_code=7"):
        KW.produce(host, port, "events", 0, [(b"k", b"v")])


def test_spark_executors_deliver_to_stub_broker(spark, broker):
    """The full engine path: changelog → sinks.kafka_rows row contract →
    foreachPartition → wire producer → stub broker, with per-destination
    topic routing — every byte crosses a real socket from executor
    processes."""
    import json

    from pyspark.sql import functions as F

    from peerdb_spark import sinks

    host, port = broker.server_address
    df = spark.createDataFrame(
        [(1, "a", "t1"), (2, "b", "t1"), (3, "c", "t2")],
        "id long, v string, _dst_table string",
    )
    rows = sinks.emit_kafka_rows(
        df.withColumn("_kind", F.lit("insert")), pk_cols=["id"]
    )
    sent = rows.foreachPartition(
        lambda it: KW.deliver_kafka_wire(it, host, port, "fallback")
    )
    got = sorted(
        (t, k.decode(), json.loads(v.decode())["id"])
        for (t, k, v) in broker.received
    )
    assert [t for t, _k, _i in got] == ["t1", "t1", "t2"]
    assert [i for _t, _k, i in got] == [1, 2, 3]


def test_write_kafka_wire_full_sink_path(spark, broker):
    """sinks.write_kafka_wire: contract validation + partitioned wire
    delivery — the connector-less twin of KafkaWriteSpec."""
    import json

    from pyspark.sql import functions as F

    from peerdb_spark import sinks

    host, port = broker.server_address
    df = spark.createDataFrame(
        [(i, f"v{i}", "orders") for i in range(20)],
        "id long, v string, _dst_table string",
    )
    rows = sinks.emit_kafka_rows(df.withColumn("_kind", F.lit("insert")), pk_cols=["id"])
    sinks.write_kafka_wire(rows, host, port)
    ids = sorted(json.loads(v.decode())["id"] for (_t, _k, v) in broker.received)
    assert ids == list(range(20))
    assert {t for t, _k, _v in broker.received} == {"orders"}


def test_deliver_chunks_large_partitions(broker):
    """deliver_kafka_wire splits oversized partitions into multiple produce
    requests (one record batch each) without loss or reorder-within-chunk."""
    host, port = broker.server_address

    class R(dict):
        def __getitem__(self, k):
            return dict.__getitem__(self, k)

    rows = [R(topic="t", key=str(i).encode(), value=b"v%d" % i) for i in range(2500)]
    n = KW.deliver_kafka_wire(iter(rows), host, port, "fb", chunk=1000)
    assert n == 2500
    assert len(broker.received) == 2500
    keys = [int(k.decode()) for (_t, k, _v) in broker.received]
    assert sorted(keys) == list(range(2500))


def test_deliver_streams_before_iterator_exhausts(broker):
    """The producer flushes full chunks WHILE still consuming the row
    iterator (bounded memory on multi-GB Spark partitions) — a generator
    observes sends happening before it finishes yielding."""
    host, port = broker.server_address

    sent_at: list[int] = []

    def gen():
        for i in range(2000):
            if broker.received:
                sent_at.append(i)
            yield {"topic": "t", "key": str(i).encode(), "value": b"x"}

    n = KW.deliver_kafka_wire(gen(), host, port, "fb", chunk=500)
    assert n == 2000 and len(broker.received) == 2000
    # the first flush happened no later than one chunk past the boundary
    assert sent_at and sent_at[0] <= 501


def test_partition_hash_routing_honored(spark, broker):
    """emit_kafka_rows(num_partitions=N) hash-routes records; the wire
    producer must deliver each record to its computed partition."""
    from pyspark.sql import functions as F

    from peerdb_spark import sinks

    # stub records partitions too
    parts_seen = []
    orig = KW.decode_produce_request

    host, port = broker.server_address
    df = spark.createDataFrame(
        [(i, "t") for i in range(30)], "id long, _dst_table string"
    )
    rows = sinks.emit_kafka_rows(
        df.withColumn("_kind", F.lit("insert")), pk_cols=["id"], num_partitions=4
    )
    expected = {
        r["key"]: r["partition"]
        for r in rows.select("key", "partition").collect()
    }
    assert len(set(expected.values())) > 1  # hash actually spreads

    # wrap the stub's decoder to capture partition ids per record
    import tests.test_kafka_wire as me

    class H2(_StubHandler):
        pass

    broker.RequestHandlerClass = H2  # reuse; capture via received_with_partition
    received_parts = {}

    def capture(frame):
        req = orig(frame)
        for k, _v, _h in KW.decode_record_batch(req["batch"]):
            received_parts[k] = req["partition"]
        return req

    KW_decode = KW.decode_produce_request
    KW.decode_produce_request = capture
    try:
        sinks.write_kafka_wire(rows, host, port)
    finally:
        KW.decode_produce_request = KW_decode
    got = {bytes(k): p for k, p in received_parts.items()}
    want = {bytes(k): p for k, p in expected.items()}
    assert got == want


def test_headers_delivered_end_to_end(spark, broker):
    """Per-record kafka headers flow through emit_kafka_rows → wire encode →
    stub decode byte-exactly (the reference's Lua scripts attach headers)."""
    from pyspark.sql import functions as F

    from peerdb_spark import sinks

    host, port = broker.server_address
    df = spark.createDataFrame([(1, "t")], "id long, _dst_table string")
    rows = sinks.emit_kafka_rows(
        df.withColumn("_kind", F.lit("insert")),
        pk_cols=["id"],
        headers=F.array(
            F.struct(F.lit("src").alias("key"), F.lit(b"pg").alias("value")),
            F.struct(F.lit("empty").alias("key"), F.lit(None).cast("binary").alias("value")),
        ),
    )
    sinks.write_kafka_wire(rows, host, port)
    assert broker.received_headers == [[("src", b"pg"), ("empty", None)]]


def test_byte_budget_cuts_batches(broker):
    """Wide rows cut record batches by accumulated bytes, not count: brokers
    reject Produce requests above message.max.bytes (1 MB default), so a
    10k-record chunk of 1 KB values must not build one giant request."""
    host, port = broker.server_address

    frames: list[int] = []
    orig = KW.decode_produce_request

    def capture(frame):
        frames.append(len(frame))
        return orig(frame)

    KW.decode_produce_request = capture
    try:
        rows = [
            {"topic": "t", "key": str(i).encode(), "value": b"x" * 400_000}
            for i in range(5)
        ]
        n = KW.deliver_kafka_wire(
            iter(rows), host, port, "fb", chunk=1000, chunk_bytes=900_000
        )
    finally:
        KW.decode_produce_request = orig
    assert n == 5 and len(broker.received) == 5
    # 5 × 400 KB under a 900 KB budget → batches of 2/2/1, never 3+
    assert len(frames) == 3
    assert all(f < 1_000_000 for f in frames)
    keys = sorted(int(k.decode()) for (_t, k, _v) in broker.received)
    assert keys == list(range(5))


def test_single_over_budget_record_still_sent(broker):
    """One record larger than the byte budget goes out alone rather than
    looping forever or being dropped."""
    host, port = broker.server_address
    rows = [{"topic": "t", "key": b"big", "value": b"y" * 1_500_000}]
    n = KW.deliver_kafka_wire(
        iter(rows), host, port, "fb", chunk=1000, chunk_bytes=900_000
    )
    assert n == 1 and len(broker.received) == 1
    assert broker.received[0][2] == b"y" * 1_500_000


# ---------------------------------------------------------------------------
# Metadata API + cluster routing (ClusterProducer)
# ---------------------------------------------------------------------------


def test_metadata_request_roundtrip():
    req = KW.encode_metadata_request(["t1", "t2"], correlation_id=7)
    dec = KW.decode_metadata_request(req[4:])
    assert dec == {"correlation_id": 7, "topics": ["t1", "t2"]}
    # null array = all topics
    dec = KW.decode_metadata_request(KW.encode_metadata_request(None)[4:])
    assert dec["topics"] is None


def test_metadata_response_roundtrip():
    resp = KW.encode_metadata_response(
        9,
        [(1, "hostA", 9001), (2, "hostB", 9002)],
        {"events": {0: 1, 1: 2}, "orders": {0: 2}},
    )
    brokers, leaders = KW.decode_metadata_response(resp[4:])
    assert brokers == {1: ("hostA", 9001), 2: ("hostB", 9002)}
    assert leaders == {"events": {0: 1, 1: 2}, "orders": {0: 2}}


class _ClusterState:
    """Shared cluster truth for multi-broker stubs: mutable leadership."""

    def __init__(self):
        self.brokers: list[tuple[int, str, int]] = []
        self.leaders: dict[str, dict[int, int]] = {}
        self.lock = threading.Lock()


class _ClusterBroker(socketserver.ThreadingTCPServer):
    """Stub broker that answers Metadata AND Produce; accepts a Produce
    only while it is the partition leader, else NOT_LEADER (6)."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, node_id: int, state: _ClusterState):
        self.node_id = node_id
        self.state = state
        self.received: list[tuple[str, bytes | None, bytes | None]] = []
        self.rejected = 0
        super().__init__(("127.0.0.1", 0), _ClusterHandler)


class _ClusterHandler(socketserver.BaseRequestHandler):
    def handle(self):
        while True:
            head = b""
            while len(head) < 4:
                chunk = self.request.recv(4 - len(head))
                if not chunk:
                    return
                head += chunk
            (n,) = struct.unpack(">i", head)
            frame = b""
            while len(frame) < n:
                frame += self.request.recv(n - len(frame))
            api_key = struct.unpack_from(">h", frame, 0)[0]
            srv: _ClusterBroker = self.server
            if api_key == 3:
                req = KW.decode_metadata_request(frame)
                with srv.state.lock:
                    resp = KW.encode_metadata_response(
                        req["correlation_id"], srv.state.brokers,
                        dict(srv.state.leaders),
                    )
                self.request.sendall(resp)
                continue
            req = KW.decode_produce_request(frame)
            with srv.state.lock:
                leader = srv.state.leaders.get(req["topic"], {}).get(
                    req["partition"]
                )
            if leader != srv.node_id:
                srv.rejected += 1
                self.request.sendall(
                    KW.encode_produce_response(
                        req["correlation_id"], req["topic"],
                        req["partition"], error_code=KW.ERR_NOT_LEADER,
                    )
                )
                continue
            rows = KW.decode_record_batch(req["batch"])
            srv.received += [(req["topic"], k, v) for k, v, _h in rows]
            self.request.sendall(
                KW.encode_produce_response(
                    req["correlation_id"], req["topic"], req["partition"]
                )
            )


@pytest.fixture()
def cluster():
    state = _ClusterState()
    a, b = _ClusterBroker(1, state), _ClusterBroker(2, state)
    for srv in (a, b):
        threading.Thread(target=srv.serve_forever, daemon=True).start()
    state.brokers = [
        (1, "127.0.0.1", a.server_address[1]),
        (2, "127.0.0.1", b.server_address[1]),
    ]
    yield state, a, b
    for srv in (a, b):
        srv.shutdown()
        srv.server_close()


def test_cluster_producer_routes_to_leaders(cluster):
    """Two topics with different leaders: each batch lands only on its
    leader, discovered via Metadata from a single bootstrap address."""
    state, a, b = cluster
    state.leaders = {"t1": {0: 1}, "t2": {0: 2}}
    p = KW.ClusterProducer([("127.0.0.1", a.server_address[1])])
    try:
        p.produce("t1", 0, [(b"k1", b"v1")])
        p.produce("t2", 0, [(b"k2", b"v2")])
    finally:
        p.close()
    assert a.received == [("t1", b"k1", b"v1")]
    assert b.received == [("t2", b"k2", b"v2")]
    assert a.rejected == 0 and b.rejected == 0


def test_cluster_producer_follows_leadership_move(cluster):
    """Leadership moves mid-produce: the old leader answers NOT_LEADER, the
    producer refreshes metadata and retries on the new leader — every
    record delivered exactly once to the CURRENT leader."""
    state, a, b = cluster
    state.leaders = {"events": {0: 1}}
    p = KW.ClusterProducer([("127.0.0.1", a.server_address[1])])
    try:
        p.produce("events", 0, [(b"k0", b"v0")])
        assert a.received == [("events", b"k0", b"v0")]
        # leadership moves to node 2 (broker restart / rebalance)
        with state.lock:
            state.leaders["events"][0] = 2
        p.produce("events", 0, [(b"k1", b"v1")])
        p.produce("events", 0, [(b"k2", b"v2")])
    finally:
        p.close()
    assert a.received == [("events", b"k0", b"v0")]  # nothing after the move
    assert a.rejected == 1  # exactly one NOT_LEADER'd attempt, then rerouted
    assert b.received == [("events", b"k1", b"v1"), ("events", b"k2", b"v2")]


def test_cluster_producer_bootstrap_failover(cluster):
    """First bootstrap address dead → metadata comes from the next one."""
    state, a, b = cluster
    state.leaders = {"t": {0: 2}}
    # port 1 is unroutable-fast on localhost (connection refused)
    p = KW.ClusterProducer(
        [("127.0.0.1", 1), ("127.0.0.1", a.server_address[1])], timeout_s=5.0
    )
    try:
        p.produce("t", 0, [(None, b"v")])
    finally:
        p.close()
    assert b.received == [("t", None, b"v")]


def test_deliver_routed_splits_by_destination(cluster):
    """deliver_kafka_wire_routed: the shared chunk loop + leader routing —
    rows for differently-led (topic, partition) pairs land correctly."""
    state, a, b = cluster
    state.leaders = {"t1": {0: 1, 1: 2}}
    rows = [
        {"topic": "t1", "partition": 0, "key": b"a", "value": b"1"},
        {"topic": "t1", "partition": 1, "key": b"b", "value": b"2"},
        {"topic": "t1", "partition": 0, "key": b"c", "value": b"3"},
    ]
    n = KW.deliver_kafka_wire_routed(
        iter(rows), [("127.0.0.1", a.server_address[1])], "fb"
    )
    assert n == 3
    assert sorted(a.received) == [("t1", b"a", b"1"), ("t1", b"c", b"3")]
    assert b.received == [("t1", b"b", b"2")]


def test_cluster_producer_retry_bound_exhausts(cluster):
    """A leader that never materializes exhausts the bounded refresh+retry
    loop and raises (no infinite metadata spin)."""
    state, a, b = cluster
    # metadata names node 3 as leader, but node 3 is not in the broker list
    state.leaders = {"t": {0: 1}}
    p = KW.ClusterProducer([("127.0.0.1", a.server_address[1])])
    try:
        # every produce gets NOT_LEADER (leader truth changes to node 2 only
        # in the shared state AFTER metadata was served, so broker 1 keeps
        # rejecting while metadata keeps naming it)
        a.node_id = 99  # broker 1 now rejects everything as NOT_LEADER
        with pytest.raises(RuntimeError, match="refresh\\+retry"):
            p.produce("t", 0, [(b"k", b"v")], retries=2)
        assert a.rejected == 3  # initial + 2 bounded retries
    finally:
        p.close()


def test_write_kafka_wire_routed_follows_leadership_move(spark, cluster):
    """The SINKS entry point drives the leader-routed path end-to-end: a
    leadership move between two Spark writes is followed via metadata
    refresh — records only ever land on the current leader."""
    from pyspark.sql import functions as F

    from peerdb_spark import sinks

    state, a, b = cluster
    state.leaders = {"events": {0: 1}}
    host, port = a.server_address

    def batch(tag):
        return spark.createDataFrame(
            [(f"k{tag}{i}", f"v{tag}{i}") for i in range(4)], "key string, value string"
        ).repartition(1).select(
            F.lit("events").alias("topic"), F.col("key").cast("binary"),
            F.col("value").cast("binary"),
        )

    sinks.write_kafka_wire(batch("a"), host, port)  # routed by default
    assert len(a.received) == 4 and not b.received
    with state.lock:
        state.leaders["events"][0] = 2  # broker restart / rebalance
    sinks.write_kafka_wire(batch("b"), host, port)
    assert len(a.received) == 4  # nothing more on the old leader
    assert sorted(v.decode() for _t, _k, v in b.received) == [
        "vb0", "vb1", "vb2", "vb3"
    ]


def test_produce_snappy_end_to_end_stub_broker(broker):
    """snappy compression over the wire: the stub broker's
    independent decoder (decode_record_batch) destuffs codec bits and
    decompresses the records section."""
    import socket

    host, port = broker.server_address
    recs = [(b"k%d" % i, b'{"pad":"' + b"y" * 300 + b'"}') for i in range(30)]
    sock = socket.create_connection((host, port), timeout=10)
    try:
        KW.produce_on(sock, "t", 0, recs, correlation_id=7,
                      compression="snappy")
    finally:
        sock.close()
    assert [(t, k) for t, k, _v in broker.received] == [("t", b"k%d" % i) for i in range(30)]
    assert all(v == recs[0][1] for _t, _k, v in broker.received)


def test_produce_lz4_end_to_end_stub_broker(broker):
    """LZ4-frame compression over the wire, decoded by the
    stub broker's independent decoder."""
    import socket

    host, port = broker.server_address
    recs = [(b"k%d" % i, b'{"pad":"' + b"w" * 300 + b'"}') for i in range(30)]
    sock = socket.create_connection((host, port), timeout=10)
    try:
        KW.produce_on(sock, "t", 0, recs, correlation_id=9,
                      compression="lz4")
    finally:
        sock.close()
    assert [(t, k) for t, k, _v in broker.received] == [("t", b"k%d" % i) for i in range(30)]


class _NoMetadataBroker(socketserver.ThreadingTCPServer):
    """Proxy-shaped stub: accepts TCP, answers Produce, but DROPS the
    connection on any Metadata request — the seed shape that must trigger
    the routed path's automatic single-socket fallback."""

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self):
        self.received: list[tuple[str, bytes | None, bytes | None]] = []
        self.metadata_attempts = 0
        self._lock = threading.Lock()
        super().__init__(("127.0.0.1", 0), _NoMetadataHandler)


class _NoMetadataHandler(socketserver.BaseRequestHandler):
    def handle(self):
        while True:
            head = b""
            while len(head) < 4:
                chunk = self.request.recv(4 - len(head))
                if not chunk:
                    return
                head += chunk
            (n,) = struct.unpack(">i", head)
            frame = b""
            while len(frame) < n:
                frame += self.request.recv(n - len(frame))
            api_key = struct.unpack_from(">h", frame, 0)[0]
            if api_key == 3:
                with self.server._lock:
                    self.server.metadata_attempts += 1
                return  # drop the connection: no Metadata service here
            req = KW.decode_produce_request(frame)
            rows = KW.decode_record_batch(req["batch"])
            with self.server._lock:
                self.server.received += [
                    (req["topic"], k, v) for k, v, _h in rows
                ]
            self.request.sendall(
                KW.encode_produce_response(
                    req["correlation_id"], req["topic"], req["partition"], 0
                )
            )


def test_routed_falls_back_when_bootstrap_metadata_fails():
    """deliver_kafka_wire_routed against a Metadata-refusing seed must fall
    back to the single-socket path BEFORE producing anything (no
    duplicates) and still deliver every record."""
    b = _NoMetadataBroker()
    t = threading.Thread(target=b.serve_forever, daemon=True)
    t.start()
    try:
        host, port = b.server_address
        rows = [{"topic": "t", "key": b"k%d" % i, "value": b"v%d" % i}
                for i in range(40)]
        n = KW.deliver_kafka_wire_routed(
            rows, [(host, port)], "t", compression="zstd"
        )
        assert n == 40
        assert b.metadata_attempts >= 1
        assert sorted(b.received) == sorted(
            [("t", r["key"], r["value"]) for r in rows]
        )
    finally:
        b.shutdown()
        b.server_close()


def test_zstd_negotiates_produce_v7(broker):
    """KIP-110: brokers reject zstd-compressed batches on Produce below
    v7 — the wire producer must send v7 for zstd and stay at v3 for the
    broker-compatible codecs."""
    host, port = broker.server_address
    import socket as _socket

    KW.produce(host, port, "t", 0, [(b"k", b"v" * 100)] * 5)
    with _socket.create_connection((host, port)) as sock:
        KW.produce_on(sock, "t", 0, [(b"k", b"v" * 100)] * 5,
                      compression="zstd")
    assert broker.api_versions == [3, 7]
    assert len(broker.received) == 10
