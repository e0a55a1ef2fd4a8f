"""Raw-block snappy through libsnappy (peerdb_spark/codecs.py).

Pinned by hand-built spec vectors (element grammar worked out on paper from
format_description.txt, including element types libsnappy never emits),
roundtrip properties over adversarial and random inputs, a literal block
and a xerial-framed Java-producer batch, and the ValueError reject contract.
"""

import struct

import pytest

from peerdb_spark import codecs
from peerdb_spark import kafka_wire as KW
from peerdb_spark.codecs import XERIAL_MAGIC


def snappy_compress(data):
    return codecs.compress("snappy", data)


def snappy_decompress(data, **kw):
    return codecs.decompress("snappy", data, **kw)


def test_empty_and_tiny():
    assert snappy_decompress(snappy_compress(b"")) == b""
    assert snappy_compress(b"") == b"\x00"
    for s in (b"a", b"ab", b"abc", b"abcd"):
        assert snappy_decompress(snappy_compress(s)) == s


def test_literal_only_hand_vector():
    # uvarint(3) + literal tag (len-1=2)<<2 + payload
    assert snappy_decompress(b"\x03" + b"\x08" + b"abc") == b"abc"


def test_overlapping_copy_hand_vector():
    # "abcabcabcabc": literal 'abc' then copy offset 3, length 9
    # (overlapping copy — the spec's run-length idiom)
    enc = b"\x0c" + b"\x08abc" + bytes([((9 - 1) << 2) | 2, 3, 0])
    assert snappy_decompress(enc) == b"abcabcabcabc"


def test_copy1_and_copy4_hand_vectors():
    # decompressor accepts copy types the compressor never emits:
    # copy1 (tag 01): len-4 in bits 2-4, offset = bits5-7<<8 | byte
    enc = b"\x08" + b"\x0cabcd" + bytes([((4 - 4) << 2) | 1, 4])
    assert snappy_decompress(enc) == b"abcdabcd"
    # copy4 (tag 11): len-1 in bits 2-7, LE32 offset → length 4 here
    enc = b"\x08" + b"\x0cabcd" + bytes([((4 - 1) << 2) | 3, 4, 0, 0, 0])
    assert snappy_decompress(enc) == b"abcdabcd"


def test_long_literal_length_encoding():
    # length-1 >= 60 → length bytes follow the tag
    data = bytes(i % 251 for i in range(300))  # prime period > window match len
    out = snappy_decompress(snappy_compress(data))
    assert out == data
    # hand vector: tag 60<<2 → one length byte follows (length-1 = 99)
    lits = bytes(range(100))
    assert snappy_decompress(b"\x64" + bytes([60 << 2, 99]) + lits) == lits


def test_roundtrip_adversarial_patterns():
    cases = [
        b"\x00" * 100_000,                      # extreme RLE
        b"ab" * 50_000,                          # period 2
        bytes(range(256)) * 400,                 # period 256
        b"the quick brown fox " * 5_000,
        b"\xff" * 70_000,                        # > 64 KiB window
        bytes([1, 2, 3, 4]) + b"x" * 70_000 + bytes([1, 2, 3, 4]) * 4,
    ]
    for data in cases:
        enc = snappy_compress(data)
        assert snappy_decompress(enc) == data
        assert len(enc) < len(data) // 2  # these are all highly compressible


def test_roundtrip_hypothesis_random():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(st.binary(max_size=4096))
    def check(data):
        assert snappy_decompress(snappy_compress(data)) == data

    check()


def test_decompress_rejects_corruption():
    good = b"\x0c" + b"\x08abc" + bytes([((9 - 1) << 2) | 2, 3, 0])
    with pytest.raises(ValueError, match="[Cc]orrupt"):
        snappy_decompress(good[:-1])  # truncated copy/short output
    with pytest.raises(ValueError):
        snappy_decompress(b"\x05\x08abc")  # declared 5, decodes 3
    with pytest.raises(ValueError, match="[Cc]orrupt"):
        # copy back past the start of output
        snappy_decompress(b"\x04" + bytes([((4 - 1) << 2) | 2, 9, 0]))
    with pytest.raises(ValueError, match="truncated"):
        snappy_decompress(b"")
    with pytest.raises(ValueError, match="truncated"):
        snappy_decompress(b"\xff\xff")  # preamble never terminates
    # the declared size is checked against the bound before any decode
    with pytest.raises(ValueError, match="size bound"):
        snappy_decompress(snappy_compress(b"x" * 1000), max_size=999)
    with pytest.raises(ValueError, match="size bound"):
        snappy_decompress(b"\xff\xff\xff\xff\x0f")  # declares 4 GiB


def test_literal_block_from_earlier_encoder():
    """A raw block captured from the engine's earlier hand-written encoder
    (2-byte-offset copies only) decodes to the same bytes."""
    block = bytes.fromhex(
        "fc01507b22706b223a20312c20226f70223a202275227d7cfe1500fe5400fe93"
        "009ad200")
    assert snappy_decompress(block) == b'{"pk": 1, "op": "u"}|' * 12


def test_kafka_record_batch_snappy_roundtrip():
    recs = [(b"k%d" % i, b'{"v":%d,"pad":"' % i + b"x" * 200 + b'"}')
            for i in range(50)]
    batch = KW.encode_record_batch(recs, compression="snappy")
    plain = KW.encode_record_batch(recs, compression="none")
    assert len(batch) < len(plain) // 2  # padded JSON compresses well
    out = KW.decode_record_batch(batch)
    assert [(k, v) for k, v, _h in out] == recs


def test_xerial_framing_unwrap():
    """Java Kafka producers wrap v2 record batches in xerial stream framing
    (\\x82SNAPPY\\x00 magic, BE version fields, BE-length-prefixed raw
    blocks); the decode path must auto-detect and unwrap it."""
    payload = b"the quick brown fox " * 500
    # frame it the way snappy-java does: two blocks
    half = len(payload) // 2
    frame = XERIAL_MAGIC + struct.pack(">ii", 1, 1)
    for part in (payload[:half], payload[half:]):
        blk = snappy_compress(part)
        frame += struct.pack(">i", len(blk)) + blk
    # auto-detect picks the right framing for both producers
    assert snappy_decompress(frame) == payload
    assert snappy_decompress(snappy_compress(payload)) == payload
    # strict rejects; the bound covers the whole stream, not each block
    with pytest.raises(ValueError, match="truncated"):
        snappy_decompress(frame[:-3])
    with pytest.raises(ValueError, match="truncated header"):
        snappy_decompress(XERIAL_MAGIC + b"\x00\x00")
    with pytest.raises(ValueError, match="size bound"):
        snappy_decompress(frame, max_size=len(payload) - 1)


def test_kafka_decodes_java_producer_snappy_batch():
    """A v2 record batch whose records section was compressed by a Java
    client (xerial framing) must decode — rebuild one by re-framing the
    records section of our own batch and recomputing the CRC."""
    recs = [(b"k%d" % i, b"v" * 100) for i in range(20)]
    plain = KW.encode_record_batch(recs, compression="none")
    hdr_len = struct.calcsize(">hiqqqhii")
    after = plain[21:]
    attrs = struct.unpack_from(">h", after, 0)[0] | 2  # codec bits → snappy
    recs_section = after[hdr_len:]
    xerial = XERIAL_MAGIC + struct.pack(">ii", 1, 1)
    xerial += struct.pack(">i", len(snappy_compress(recs_section)))
    xerial += snappy_compress(recs_section)
    new_after = struct.pack(">h", attrs) + after[2:hdr_len] + xerial
    crc = KW.crc32c(new_after)
    tail = struct.pack(">ibI", -1, 2, crc) + new_after
    batch = struct.pack(">qi", 0, len(tail)) + tail
    assert [(k, v) for k, v, _h in KW.decode_record_batch(batch)] == recs
    # the same shape as literal bytes, captured from the earlier encoder
    batch = bytes.fromhex(
        "000000000000000000000067ffffffff0297b2af4300020000000200000000"
        "000000000000000000000000ffffffffffffffffffffffffffff0000000382"
        "534e415050590000000001000000010000002275204c000000046b303c7672"
        "01001c004c000002046b318a27000c04046b327e2700")
    assert KW.decode_record_batch(batch) == [
        (b"k%d" % i, b"v" * 30, []) for i in range(3)]
