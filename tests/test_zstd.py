"""Zstd frames through libzstd (peerdb_spark/codecs.py).

Pinned by the XXH64 spec check value (as the frame content checksum
libzstd verifies), hand-built frame vectors, roundtrip properties over
adversarial inputs, and strict-reject corruption tests — the same battery
as test_lz4.py. libzstd's own Compressed-block frames and the size bound
are covered in test_zstd_entropy.py.
"""

import struct

import pytest

from peerdb_spark import codecs

_MAGIC = struct.pack("<I", 0xFD2FB528)
_ABC_CHECKSUM = struct.pack("<I", 0xAD770999)  # low 32 bits of XXH64("abc")


def zstd_compress(data):
    return codecs.compress("zstd", data)


def zstd_decompress(data, **kw):
    return codecs.decompress("zstd", data, **kw)


def _block_header(size, btype, last=True):
    return ((size << 3) | (btype << 1) | int(last)).to_bytes(3, "little")


def test_xxh64_spec_check_value():
    # the published xxHash spec check value for the empty input, seed 0:
    # 0xEF46DB3751D8E999, whose low 32 bits are the frame checksum
    empty = _MAGIC + bytes([0x24, 0]) + _block_header(0, 0)
    assert zstd_decompress(empty + struct.pack("<I", 0x51D8E999)) == b""
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(empty + struct.pack("<I", 0x51D8E998))
    abc = _MAGIC + bytes([0x24, 3]) + _block_header(3, 0) + b"abc"
    assert zstd_decompress(abc + _ABC_CHECKSUM) == b"abc"
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(abc + struct.pack("<I", 0xAD770998))


def test_frame_hand_vectors():
    # single raw block "abc": FHD single-segment+checksum, FCS 1 byte
    enc = _MAGIC + bytes([0x24, 3]) + _block_header(3, 0) + b"abc"
    assert zstd_decompress(enc + _ABC_CHECKSUM) == b"abc"
    # one RLE block regenerates 100 000 bytes from one content byte
    # (FHD: 4-byte FCS, single segment, no checksum)
    enc = (_MAGIC + bytes([0xA0]) + struct.pack("<I", 100_000)
           + _block_header(100_000, 1) + b"\x00")
    assert zstd_decompress(enc) == b"\x00" * 100_000
    # raw / RLE / raw blocks in one frame
    enc = (_MAGIC + bytes([0x20, 12]) + _block_header(4, 0, False) + b"head"
           + _block_header(4, 1, False) + b"z" + _block_header(4, 0) + b"tail")
    assert zstd_decompress(enc) == b"headzzzztail"
    # an RLE run compresses to a constant-size frame
    enc = zstd_compress(b"\x00" * 100_000)
    assert enc[:4] == _MAGIC
    assert len(enc) < 32
    assert zstd_decompress(enc) == b"\x00" * 100_000
    data = b"head" + b"z" * 500 + b"tail"
    assert zstd_decompress(zstd_compress(data)) == data


def test_frame_roundtrip_adversarial():
    import random

    rng = random.Random(3)
    cases = [
        b"",
        b"a",
        b"\x00" * 200_000,                       # multi-block RLE
        bytes(range(256)) * 700,                 # > 128 KiB
        b"the quick brown fox " * 9000,
        bytes(rng.randrange(256) for _ in range(100_000)),
        bytes(rng.randrange(2) for _ in range(131_073)),  # block boundary
        b"x" * 255, b"x" * 256, b"x" * 65791, b"x" * 65792,  # FCS forms
    ]
    for data in cases:
        enc = zstd_compress(data)
        assert zstd_decompress(enc) == data, len(data)
    # incompressible data is stored, costing only headers
    blob = bytes(rng.randrange(256) for _ in range(50_000))
    assert len(zstd_compress(blob)) < len(blob) + 64


def test_frame_roundtrip_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(st.binary(max_size=4096))
    def check(data):
        assert zstd_decompress(zstd_compress(data)) == data

    check()


def test_frame_rejects_corruption():
    good = _MAGIC + bytes([0x24, 3]) + _block_header(3, 0) + b"abc"
    good += _ABC_CHECKSUM
    # flip a content byte → checksum mismatch
    bad = bytearray(good)
    bad[-6] ^= 0x01
    with pytest.raises(ValueError, match="checksum"):
        zstd_decompress(bytes(bad))
    with pytest.raises(ValueError, match="Unknown frame descriptor"):
        zstd_decompress(b"\x00" * 16)
    with pytest.raises(ValueError, match="Truncated"):
        zstd_decompress(good[:6])
    with pytest.raises(ValueError, match="empty"):
        zstd_decompress(b"")
    # reserved FHD bit
    bad = bytearray(good)
    bad[4] |= 1 << 3
    with pytest.raises(ValueError, match="Unsupported frame parameter"):
        zstd_decompress(bytes(bad))
    # FCS mismatch: declare 5 bytes, deliver 3
    frame = _MAGIC + bytes([0x24, 5]) + _block_header(3, 0) + b"abc"
    with pytest.raises(ValueError, match="corruption"):
        zstd_decompress(frame + _ABC_CHECKSUM)


def test_frame_rejects_out_of_scope():
    # a garbage entropy payload in a Compressed block rejects as
    # corruption, never crashes or emits bytes
    frame = _MAGIC + bytes([0x20, 3]) + _block_header(3, 2) + b"abc"
    with pytest.raises(ValueError):
        zstd_decompress(frame)
    # reserved block type
    frame = _MAGIC + bytes([0x20, 3]) + _block_header(3, 3) + b"abc"
    with pytest.raises(ValueError, match="corruption"):
        zstd_decompress(frame)
    # dictionary frames are out of scope (FHD dict-id flag, nonzero id)
    frame = _MAGIC + bytes([0x21, 7, 3]) + b""
    with pytest.raises(ValueError, match="Dictionary"):
        zstd_decompress(frame)
    # a block larger than the declared single-segment window rejects
    frame = _MAGIC + bytes([0x20, 3]) + _block_header(100, 0) + b"x" * 100
    with pytest.raises(ValueError, match="corruption"):
        zstd_decompress(frame)
    # a window past libzstd's 128 MiB decode limit rejects before decoding
    frame = _MAGIC + bytes([0x00, (31 - 10) << 3]) + _block_header(3, 0)
    with pytest.raises(ValueError, match="too much memory"):
        zstd_decompress(frame + b"abc")


def test_kafka_record_batch_zstd_roundtrip():
    from peerdb_spark import kafka_wire as KW

    recs = [(b"k%d" % i, b'{"v":%d,"pad":"' % i + b"z" * 200 + b'"}')
            for i in range(50)]
    batch = KW.encode_record_batch(recs, compression="zstd")
    plain = KW.encode_record_batch(recs, compression="none")
    attrs = int.from_bytes(batch[21:23], "big")
    assert attrs & 0x7 == 4
    assert len(batch) < len(plain)
    assert [(k, v) for k, v, _h in KW.decode_record_batch(batch)] == recs
