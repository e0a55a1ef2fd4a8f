"""Pure-socket Kafka producer: the PUBLIC wire protocol, no client library.

Reference parity: the reference's Kafka sink (flow/connectors/kafka/kafka.go,
franz-go client) delivers per-record topic/key/value produced from the Lua
row transform. The sandbox has neither a broker nor the spark-sql-kafka
connector jar, so `sinks.KafkaWriteSpec.save()` gates the connector path
behind an env flag. This module removes the "never exercised" caveat a
different way: a from-scratch implementation of the PUBLIC Kafka protocol
(KIP-98 record batch format v2 + Produce API), built from the protocol guide
at kafka.apache.org/protocol — so the engine can deliver to a real broker
over a plain TCP socket, and the byte-level encoding is testable in-process
against an independent decoder (tests/test_kafka_wire.py drives a stub
broker socket and re-parses every batch with struct-level code that shares
nothing with the encoder).

Scope (deliberately minimal, documented):
- Produce v3 (v7 negotiated automatically for zstd batches — KIP-110:
  brokers reject zstd below Produce v7), acks=1, optional record-batch
  compression covering the full
  franz-go default codec matrix — gzip, snappy, lz4 and zstd, through the
  libz/libsnappy/liblz4/libzstd that pyarrow bundles (codecs.py), as
  franz-go takes them from libraries — no idempotence/transactions:
  the at-least-once profile the engine's redelivery-tolerant merge expects.
- One connection per executor partition (`deliver_kafka_wire` uses
  foreachPartition); batching = one record batch per Spark partition chunk.
- Metadata v1 (api_key 3) IS implemented: `ClusterProducer` bootstraps from
  any broker, routes each (topic, partition) batch to its leader, and
  refreshes on NOT_LEADER errors — the franz-go behavior the reference
  relies on (flow/connectors/kafka/kafka.go client setup). The plain
  `produce()`/`deliver_kafka_wire()` path keeps the caller-supplied-leader
  model for single-broker deployments.

Encoding summary (protocol guide):
- RecordBatch v2: baseOffset i64, batchLength i32, partitionLeaderEpoch i32,
  magic i8=2, crc u32 (CRC32C of everything AFTER the crc field),
  attributes i16, lastOffsetDelta i32, firstTimestamp i64, maxTimestamp i64,
  producerId i64=-1, producerEpoch i16=-1, baseSequence i32=-1,
  recordCount i32, records.
- Record: length varint, attributes i8, timestampDelta varlong,
  offsetDelta varint, key varint-length-prefixed bytes (-1=null), value
  likewise, headerCount varint.
- Varints are zigzag-encoded (protobuf style).
- CRC32C = Castagnoli polynomial 0x1EDC6F41 (reflected 0x82F63B78) —
  implemented here in software (zlib.crc32 is the wrong polynomial).
"""

from __future__ import annotations

import socket
import struct

from peerdb_spark import codecs


# -- CRC32C (software, slice-by-1 table) -----------------------------------

def _make_crc32c_table() -> list[int]:
    poly = 0x82F63B78
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C_TABLE = _make_crc32c_table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# -- varints ----------------------------------------------------------------

def zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def enc_varint(n: int) -> bytes:
    """Zigzag + LEB128 (the record-level integer encoding)."""
    u = zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def dec_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return unzigzag(u), pos
        shift += 7


# -- record batch v2 --------------------------------------------------------

def encode_record(offset_delta: int, ts_delta: int, key: bytes | None,
                  value: bytes | None,
                  headers: list[tuple[str, bytes | None]] = ()) -> bytes:
    body = bytearray()
    body += b"\x00"  # record attributes
    body += enc_varint(ts_delta)
    body += enc_varint(offset_delta)
    for blob in (key, value):
        if blob is None:
            body += enc_varint(-1)
        else:
            body += enc_varint(len(blob))
            body += blob
    body += enc_varint(len(headers))
    for hk, hv in headers:
        hkb = hk.encode()
        body += enc_varint(len(hkb))
        body += hkb
        if hv is None:
            body += enc_varint(-1)
        else:
            body += enc_varint(len(hv))
            body += hv
    return enc_varint(len(body)) + bytes(body)


# attributes bits 0-2: compression codec (Kafka protocol), coded by
# codecs.py. snappy EMITS raw blocks and decode also unwraps the xerial
# framing Java producers still use for v2; lz4 is the LZ4 FRAME format with
# independent blocks, which Java's reader needs (the broken legacy header
# checksum applied only to v0/v1 message sets). Every
# decode is bounded at codecs.MAX_SIZE and rejects with ValueError.
_CODECS = {"none": 0, "gzip": 1, "snappy": 2, "lz4": 3, "zstd": 4}
_CODEC_NAMES = {v: k for k, v in _CODECS.items()}


def encode_record_batch(records: list[tuple],
                        first_timestamp_ms: int = 0,
                        compression: str = "none") -> bytes:
    """records = [(key, value)] or [(key, value, headers)] → one record
    batch (headers = [(str, bytes|None), ...]). With compression set
    (gzip / snappy / lz4 / zstd) the concatenated records section is
    compressed by codecs.compress (gzip pins mtime 0, so identical input →
    identical bytes) and the codec bit set in the batch attributes; the
    header itself stays uncompressed and the CRC32C covers
    attributes..compressed-records per the spec."""
    codec = _CODECS[compression]
    recs = b"".join(
        encode_record(i, 0, r[0], r[1], r[2] if len(r) > 2 else ())
        for i, r in enumerate(records)
    )
    if codec:
        recs = codecs.compress(compression, recs)
    after_crc = struct.pack(
        ">hiqqqhii",
        codec,                  # attributes: compression codec bits
        len(records) - 1,       # lastOffsetDelta
        first_timestamp_ms,     # firstTimestamp
        first_timestamp_ms,     # maxTimestamp
        -1,                     # producerId
        -1,                     # producerEpoch
        -1,                     # baseSequence
        len(records),
    ) + recs
    crc = crc32c(after_crc)
    tail = struct.pack(">ibI", -1, 2, crc) + after_crc  # epoch, magic, crc
    return struct.pack(">qi", 0, len(tail)) + tail      # baseOffset, batchLength


def decode_record_batch(buf: bytes) -> list[tuple]:
    """Independent struct-level decoder (used by the test stub): validates
    magic + CRC32C and returns [(key, value, headers), ...] with
    headers = [(str, bytes|None), ...]. Malformed input always rejects
    with ValueError (short reads convert at this boundary)."""
    try:
        return _decode_record_batch(buf)
    except (struct.error, IndexError, AssertionError) as e:
        raise ValueError(f"corrupt record batch ({type(e).__name__})") from e


def _decode_record_batch(buf: bytes) -> list[tuple]:
    base_offset, batch_len = struct.unpack_from(">qi", buf, 0)
    epoch, magic, crc = struct.unpack_from(">ibI", buf, 12)
    if magic != 2:
        raise ValueError(f"unsupported magic {magic}")
    after = buf[21 : 12 + batch_len]
    if crc32c(after) != crc:
        raise ValueError("crc32c mismatch")
    (attrs, last_delta, _fts, _mts, _pid, _pep, _bseq, count) = struct.unpack_from(
        ">hiqqqhii", after, 0
    )
    hdr = struct.calcsize(">hiqqqhii")
    codec = attrs & 0x7
    if codec not in _CODEC_NAMES:
        raise ValueError(f"unsupported compression codec {codec}")
    if codec:
        records = codecs.decompress(_CODEC_NAMES[codec], after[hdr:])
        after = after[:hdr] + records
    pos = hdr
    out = []
    for _ in range(count):
        rec_len, pos = dec_varint(after, pos)
        end = pos + rec_len
        pos += 1  # attributes
        _tsd, pos = dec_varint(after, pos)
        _od, pos = dec_varint(after, pos)
        klen, pos = dec_varint(after, pos)
        key = None if klen < 0 else after[pos : pos + klen]
        pos += max(klen, 0)
        vlen, pos = dec_varint(after, pos)
        val = None if vlen < 0 else after[pos : pos + vlen]
        pos += max(vlen, 0)
        nh, pos = dec_varint(after, pos)
        headers = []
        for _h in range(nh):
            hklen, pos = dec_varint(after, pos)
            hk = after[pos : pos + hklen].decode()
            pos += max(hklen, 0)
            hvlen, pos = dec_varint(after, pos)
            hv = None if hvlen < 0 else after[pos : pos + hvlen]
            pos += max(hvlen, 0)
            headers.append((hk, hv))
        assert pos == end, "record length mismatch"
        out.append((key, val, headers))
    return out


# -- Produce request/response (api_key 0, version 3) ------------------------

def _str(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode()
    return struct.pack(">h", len(b)) + b


def encode_produce_request(topic: str, partition: int, batch: bytes,
                           correlation_id: int = 1,
                           client_id: str = "peerdb-spark",
                           acks: int = 1,
                           timeout_ms: int = 30_000,
                           version: int = 3) -> bytes:
    """Produce request. The body layout is IDENTICAL for v3-v8 (flexible
    encoding starts at v9); the version matters to the BROKER: zstd
    compression is only accepted on Produce v7+ (KIP-110 — older brokers
    return UNSUPPORTED_COMPRESSION_TYPE), so produce_on negotiates v7 for
    zstd batches and stays at v3 otherwise (broker-compatible back to
    0.11)."""
    if version not in (3, 7):
        raise ValueError(f"unsupported produce version {version}")
    body = (
        struct.pack(">hhi", 0, version, correlation_id)  # api_key, ver, cid
        + _str(client_id)
        + _str(None)                               # transactional_id
        + struct.pack(">hi", acks, timeout_ms)
        + struct.pack(">i", 1)                     # 1 topic
        + _str(topic)
        + struct.pack(">i", 1)                     # 1 partition
        + struct.pack(">i", partition)
        + struct.pack(">i", len(batch))            # record set size
        + batch
    )
    return struct.pack(">i", len(body)) + body


def decode_produce_request(frame: bytes) -> dict:
    """Stub-broker side parse of a Produce v3/v7 frame (identical body;
    after the length prefix): returns {correlation_id, topic, partition,
    batch_bytes, api_version}."""
    api_key, api_version, cid = struct.unpack_from(">hhi", frame, 0)
    assert api_key == 0 and api_version in (3, 7), (api_key, api_version)
    pos = 8
    cl_len = struct.unpack_from(">h", frame, pos)[0]
    pos += 2 + max(cl_len, 0)
    tx_len = struct.unpack_from(">h", frame, pos)[0]
    pos += 2 + max(tx_len, 0)
    _acks, _timeout = struct.unpack_from(">hi", frame, pos)
    pos += 6
    n_topics = struct.unpack_from(">i", frame, pos)[0]
    assert n_topics == 1
    pos += 4
    t_len = struct.unpack_from(">h", frame, pos)[0]
    pos += 2
    topic = frame[pos : pos + t_len].decode()
    pos += t_len
    n_parts = struct.unpack_from(">i", frame, pos)[0]
    assert n_parts == 1
    pos += 4
    partition, set_size = struct.unpack_from(">ii", frame, pos)
    pos += 8
    batch = frame[pos : pos + set_size]
    return {
        "correlation_id": cid,
        "topic": topic,
        "partition": partition,
        "batch": batch,
        "api_version": api_version,
    }


def encode_produce_response(correlation_id: int, topic: str, partition: int,
                            error_code: int = 0, base_offset: int = 0) -> bytes:
    body = (
        struct.pack(">i", correlation_id)
        + struct.pack(">i", 1)
        + _str(topic)
        + struct.pack(">i", 1)
        + struct.pack(">ihqq", partition, error_code, base_offset, -1)
        + struct.pack(">i", 0)  # throttle_time_ms (v1+ trailer)
    )
    return struct.pack(">i", len(body)) + body


def _parse_produce_response(frame: bytes) -> int:
    """→ error_code of the single partition response."""
    pos = 4  # correlation id
    n_topics = struct.unpack_from(">i", frame, pos)[0]
    assert n_topics == 1
    pos += 4
    t_len = struct.unpack_from(">h", frame, pos)[0]
    pos += 2 + t_len
    pos += 4  # n partition responses (=1)
    _partition, error_code = struct.unpack_from(">ih", frame, pos)
    return error_code


# -- Metadata request/response (api_key 3, version 1) ------------------------
#
# v1 response carries (brokers, controller, topics→partitions→leader) —
# everything a producer needs to route batches; rack (nullable string) is
# parsed and ignored. Protocol guide: Metadata API, kafka.apache.org/protocol.

ERR_UNKNOWN_TOPIC = 3
ERR_NOT_LEADER = 6


def encode_metadata_request(topics: list[str] | None,
                            correlation_id: int = 1,
                            client_id: str = "peerdb-spark") -> bytes:
    """topics=None → all topics (null array)."""
    body = (
        struct.pack(">hhi", 3, 1, correlation_id)
        + _str(client_id)
    )
    if topics is None:
        body += struct.pack(">i", -1)
    else:
        body += struct.pack(">i", len(topics))
        for t in topics:
            body += _str(t)
    return struct.pack(">i", len(body)) + body


def decode_metadata_request(frame: bytes) -> dict:
    """Stub-broker side: {correlation_id, topics (None = all)}."""
    api_key, api_version, cid = struct.unpack_from(">hhi", frame, 0)
    assert (api_key, api_version) == (3, 1), (api_key, api_version)
    pos = 8
    cl_len = struct.unpack_from(">h", frame, pos)[0]
    pos += 2 + max(cl_len, 0)
    n = struct.unpack_from(">i", frame, pos)[0]
    pos += 4
    if n < 0:
        return {"correlation_id": cid, "topics": None}
    topics = []
    for _ in range(n):
        t_len = struct.unpack_from(">h", frame, pos)[0]
        pos += 2
        topics.append(frame[pos : pos + t_len].decode())
        pos += t_len
    return {"correlation_id": cid, "topics": topics}


def encode_metadata_response(
    correlation_id: int,
    brokers: list[tuple[int, str, int]],
    topic_leaders: dict[str, dict[int, int]],
) -> bytes:
    """brokers = [(node_id, host, port)]; topic_leaders =
    {topic: {partition: leader_node_id}}."""
    body = struct.pack(">ii", correlation_id, len(brokers))
    for node_id, host, port in brokers:
        body += struct.pack(">i", node_id) + _str(host) + struct.pack(">i", port)
        body += _str(None)  # rack
    body += struct.pack(">i", brokers[0][0] if brokers else -1)  # controller_id
    body += struct.pack(">i", len(topic_leaders))
    for topic, parts in topic_leaders.items():
        body += struct.pack(">h", 0) + _str(topic) + struct.pack(">?", False)
        body += struct.pack(">i", len(parts))
        for pid, leader in parts.items():
            body += struct.pack(">hiii", 0, pid, leader, 1)  # err, id, leader, #replicas
            body += struct.pack(">i", leader)                # replicas
            body += struct.pack(">ii", 1, leader)            # isr
    return struct.pack(">i", len(body)) + body


def decode_metadata_response(frame: bytes) -> tuple[dict, dict]:
    """→ ({node_id: (host, port)}, {topic: {partition: leader_node_id}})."""
    pos = 4  # correlation id
    n_brokers = struct.unpack_from(">i", frame, pos)[0]
    pos += 4
    brokers: dict[int, tuple[str, int]] = {}
    for _ in range(n_brokers):
        node_id = struct.unpack_from(">i", frame, pos)[0]
        pos += 4
        h_len = struct.unpack_from(">h", frame, pos)[0]
        pos += 2
        host = frame[pos : pos + h_len].decode()
        pos += h_len
        port = struct.unpack_from(">i", frame, pos)[0]
        pos += 4
        r_len = struct.unpack_from(">h", frame, pos)[0]  # rack (nullable)
        pos += 2 + max(r_len, 0)
        brokers[node_id] = (host, port)
    pos += 4  # controller_id
    n_topics = struct.unpack_from(">i", frame, pos)[0]
    pos += 4
    leaders: dict[str, dict[int, int]] = {}
    for _ in range(n_topics):
        _terr = struct.unpack_from(">h", frame, pos)[0]
        pos += 2
        t_len = struct.unpack_from(">h", frame, pos)[0]
        pos += 2
        topic = frame[pos : pos + t_len].decode()
        pos += t_len
        pos += 1  # is_internal
        n_parts = struct.unpack_from(">i", frame, pos)[0]
        pos += 4
        parts: dict[int, int] = {}
        for _p in range(n_parts):
            _perr, pid, leader, n_rep = struct.unpack_from(">hiii", frame, pos)
            pos += 14 + 4 * n_rep
            n_isr = struct.unpack_from(">i", frame, pos)[0]
            pos += 4 + 4 * n_isr
            parts[pid] = leader
        leaders[topic] = parts
    return brokers, leaders


def _read_frame(sock: socket.socket) -> bytes:
    head = b""
    while len(head) < 4:
        chunk = sock.recv(4 - len(head))
        if not chunk:
            raise ConnectionError("broker closed connection")
        head += chunk
    (n,) = struct.unpack(">i", head)
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("broker closed mid-frame")
        buf += chunk
    return buf


def produce_on(sock: socket.socket, topic: str, partition: int,
               records: list, correlation_id: int = 1,
               compression: str = "none") -> None:
    """One Produce round-trip on an existing connection; raises on a
    non-zero Kafka error code."""
    if not records:
        return
    batch = encode_record_batch(records, compression=compression)
    # KIP-110: brokers reject zstd on Produce below v7
    ver = 7 if compression == "zstd" else 3
    sock.sendall(encode_produce_request(topic, partition, batch,
                                        correlation_id=correlation_id,
                                        version=ver))
    err = _parse_produce_response(_read_frame(sock))
    if err != 0:
        raise RuntimeError(f"kafka produce failed: error_code={err}")


def produce(host: str, port: int, topic: str, partition: int,
            records: list, timeout_s: float = 30.0) -> None:
    """Deliver one record batch over a fresh socket (at-least-once: the
    caller's replay converges via the engine's idempotent merge, same as
    the reference's acks=1 posture)."""
    if not records:
        return
    with socket.create_connection((host, port), timeout=timeout_s) as sock:
        produce_on(sock, topic, partition, records)


def fetch_metadata(sock: socket.socket, topics: list[str] | None,
                   correlation_id: int = 1) -> tuple[dict, dict]:
    """One Metadata round-trip on an existing connection."""
    sock.sendall(encode_metadata_request(topics, correlation_id=correlation_id))
    return decode_metadata_response(_read_frame(sock))


class ClusterProducer:
    """Leader-routed producer over the wire protocol (multi-broker clusters).

    The franz-go behavior the reference's kafka sink gets for free
    (flow/connectors/kafka/kafka.go): bootstrap-connect to any broker,
    Metadata v1 discovers per-(topic, partition) leaders, each Produce goes
    to its leader's connection, and a NOT_LEADER / UNKNOWN_TOPIC error
    triggers one metadata refresh + retry (leadership moved mid-produce —
    broker restart, rebalance). One socket per broker, reused; O(#brokers)
    connections per executor partition, not per batch."""

    def __init__(self, bootstrap: list[tuple[str, int]], timeout_s: float = 30.0,
                 compression: str = "none"):
        if not bootstrap:
            raise ValueError("bootstrap list is empty")
        self.bootstrap = list(bootstrap)
        self.timeout_s = timeout_s
        self.compression = compression
        self.brokers: dict[int, tuple[str, int]] = {}
        self.leaders: dict[str, dict[int, int]] = {}
        self._conns: dict[tuple[str, int], socket.socket] = {}
        self._cid = 0

    def _connect(self, addr: tuple[str, int]) -> socket.socket:
        sock = self._conns.get(addr)
        if sock is None:
            sock = socket.create_connection(addr, timeout=self.timeout_s)
            self._conns[addr] = sock
        return sock

    def _next_cid(self) -> int:
        self._cid += 1
        return self._cid

    def refresh(self, topics: list[str]) -> None:
        """Fetch metadata for `topics` from the first reachable broker
        (bootstrap list first, then known brokers)."""
        last_err: Exception | None = None
        candidates = list(self.bootstrap) + [
            a for a in self.brokers.values() if a not in self.bootstrap
        ]
        for addr in candidates:
            try:
                sock = self._connect(addr)
                brokers, leaders = fetch_metadata(sock, topics, self._next_cid())
            except (OSError, ValueError, AssertionError, KeyError,
                    IndexError, struct.error, UnicodeDecodeError) as e:
                # broker down, or it answered with something that is not a
                # parseable Metadata v1 response (proxy, newer-only broker
                # replying UNSUPPORTED_VERSION in an alien frame shape):
                # either way this candidate is useless — drop the
                # connection and try the next, so the caller's documented
                # ConnectionError fallback path actually triggers
                self._drop(addr)
                last_err = e
                continue
            self.brokers.update(brokers)
            self.leaders.update(leaders)
            return
        raise ConnectionError(
            f"no reachable broker for metadata: {last_err} (if this address "
            "is a proxy/tunnel or a broker that does not serve Metadata v1, "
            "use the single-socket path: write_kafka_wire(..., routed=False))"
        )

    def _drop(self, addr: tuple[str, int]) -> None:
        sock = self._conns.pop(addr, None)
        if sock is not None:
            try:
                sock.close()
            except OSError:
                pass

    def _leader_addr(self, topic: str, partition: int) -> tuple[str, int]:
        leader = self.leaders.get(topic, {}).get(partition)
        if leader is None or leader not in self.brokers:
            self.refresh([topic])
            leader = self.leaders.get(topic, {}).get(partition)
            if leader is None or leader not in self.brokers:
                raise RuntimeError(f"no leader for {topic}[{partition}]")
        return self.brokers[leader]

    def produce(self, topic: str, partition: int, records: list,
                retries: int = 2) -> None:
        """Leader-routed produce with a BOUNDED refresh+retry loop: each
        routing failure (NOT_LEADER / UNKNOWN_TOPIC response, or the
        connection dying mid-produce) triggers one metadata refresh and a
        retry on the new leader, up to `retries` times; the final failure
        propagates (at-least-once: Spark's task retry replays the
        partition; the downstream merge is idempotent). Non-routing broker
        errors raise immediately — retrying them blind would duplicate
        records without fixing anything."""
        if not records:
            return
        last_err: Exception | None = None
        for attempt in range(retries + 1):
            if attempt:
                self.refresh([topic])
            addr = self._leader_addr(topic, partition)
            try:
                sock = self._connect(addr)
                produce_on(sock, topic, partition, records,
                           correlation_id=self._next_cid(),
                           compression=self.compression)
                return
            except RuntimeError as e:
                if f"error_code={ERR_NOT_LEADER}" not in str(e) and \
                   f"error_code={ERR_UNKNOWN_TOPIC}" not in str(e):
                    raise
                last_err = e
            except OSError as e:
                self._drop(addr)
                last_err = e
        raise RuntimeError(
            f"produce to {topic}[{partition}] failed after {retries} "
            f"refresh+retry rounds"
        ) from last_err

    def close(self) -> None:
        for addr in list(self._conns):
            self._drop(addr)


def deliver_kafka_wire_routed(
    rows,
    bootstrap: list[tuple[str, int]],
    fallback_topic: str,
    chunk: int = 10_000,
    chunk_bytes: int = 900_000,
    compression: str = "none",
) -> int:
    """deliver_kafka_wire with cluster-aware leader routing: same streaming
    chunk/byte-budget buffering, but each flush goes to the partition
    leader via a ClusterProducer (metadata-refreshing on leader moves).

    If the BOOTSTRAP metadata probe itself fails (the seed address is a
    proxy/tunnel or a broker that does not serve Metadata v1), this falls
    back to the single-socket path against the first seed — the probe runs
    before any record is produced, so the fallback never duplicates.
    Mid-stream metadata failures still propagate (falling back after a
    partial routed delivery would silently re-send)."""
    producer = ClusterProducer(bootstrap, compression=compression)
    try:
        producer.refresh([fallback_topic])  # eager probe, nothing sent yet
    except ConnectionError:
        producer.close()
        host, port = bootstrap[0]
        return deliver_kafka_wire(rows, host, port, fallback_topic,
                                  chunk, chunk_bytes, compression=compression)
    try:
        return _deliver_loop(rows, producer.produce, fallback_topic,
                             chunk, chunk_bytes)
    finally:
        producer.close()


def deliver_kafka_wire(
    rows,  # iterable of pyspark Rows with topic/key/value columns
    host: str,
    port: int,
    fallback_topic: str,
    chunk: int = 10_000,
    chunk_bytes: int = 900_000,
    compression: str = "none",
) -> int:
    """foreachPartition body: group rows by topic, produce in chunks.
    Returns records sent (per partition). Partition id 0 — single-broker
    scope (see module doc).

    A buffer flushes at `chunk` records OR `chunk_bytes` accumulated
    key+value+header bytes, whichever first — brokers reject Produce
    requests above message.max.bytes (1 MB default), so wide rows must
    cut batches by bytes, not count (10k × 1 KB rows already exceeds
    the default cap)."""
    # ONE connection per executor partition, reused across every batch —
    # the producer-connection model real clients use; a fresh socket per
    # batch would TCP-handshake per chunk.
    sock: socket.socket | None = None
    cid = 0

    def produce_fn(t: str, p: int, recs: list) -> None:
        nonlocal sock, cid
        if sock is None:
            sock = socket.create_connection((host, port), timeout=30.0)
        cid += 1
        produce_on(sock, t, p, recs, correlation_id=cid,
                   compression=compression)

    try:
        return _deliver_loop(rows, produce_fn, fallback_topic, chunk, chunk_bytes)
    finally:
        if sock is not None:
            sock.close()


def _deliver_loop(rows, produce_fn, fallback_topic: str,
                  chunk: int, chunk_bytes: int) -> int:
    """Shared streaming buffer loop for the wire delivery paths.

    Streams as it iterates: each (topic, partition) buffer flushes the
    moment it reaches `chunk` records or `chunk_bytes` accumulated bytes,
    so memory is bounded by budget × live destinations — NOT by the Spark
    partition size (a 100-TB feed hands this function multi-GB partitions;
    buffering them whole before the first send was the one non-streaming
    step in the path)."""
    def as_bytes(x) -> bytes | None:
        if x is None:
            return None
        if isinstance(x, (bytes, bytearray)):  # sinks.kafka_rows casts to binary
            return bytes(x)
        return str(x).encode()

    def field(r, name):
        try:
            return r[name]
        except (KeyError, ValueError, IndexError):
            return None

    by_dest: dict[tuple[str, int], list] = {}
    dest_bytes: dict[tuple[str, int], int] = {}
    n = 0

    def flush(t: str, p: int, recs: list) -> None:
        if recs:
            produce_fn(t, p, recs)

    for r in rows:
        t = r["topic"] if r["topic"] is not None else fallback_topic
        # honor emit_kafka_rows' hash-routed partition column when present
        # (the reference's partition-hash routing); absent/None → 0
        p = field(r, "partition")
        p = 0 if p is None else int(p)
        hs = field(r, "headers") or ()
        headers = [(h["key"], as_bytes(h["value"])) for h in hs]
        key, val = as_bytes(r["key"]), as_bytes(r["value"])
        rec_bytes = (
            (len(key) if key else 0)
            + (len(val) if val else 0)
            + sum(len(hk.encode()) + (len(hv) if hv else 0) for hk, hv in headers)
        )
        dest = (t, p)
        buf = by_dest.setdefault(dest, [])
        # a single over-budget record still goes out alone (its own
        # batch); the byte cut only prevents ACCUMULATING past budget
        if buf and dest_bytes.get(dest, 0) + rec_bytes > chunk_bytes:
            flush(t, p, buf)
            buf.clear()
            dest_bytes[dest] = 0
        buf.append((key, val, headers))
        dest_bytes[dest] = dest_bytes.get(dest, 0) + rec_bytes
        n += 1
        if len(buf) >= chunk:
            flush(t, p, buf)
            buf.clear()
            dest_bytes[dest] = 0
    for (t, p), recs in by_dest.items():
        flush(t, p, recs)
    return n
