"""LZ4 frames through liblz4 (peerdb_spark/codecs.py).

Pinned by the XXH32 spec check values (as the frame checksums liblz4
verifies), hand-built block-grammar vectors wrapped in frames, roundtrip
properties over adversarial inputs, a literal frame from the engine's
earlier hand-written encoder, and strict-reject corruption tests.
"""

import struct

import pytest

from peerdb_spark import codecs

_MAGIC = struct.pack("<I", 0x184D2204)
# FLG (version 01, independent blocks, + the named bits) and BD byte → the
# header checksum byte (XXH32 of the descriptor >> 8 & 0xFF), precomputed
_HC = {
    (0x60, 0x40): 0x82, (0x64, 0x40): 0xA7, (0x70, 0x40): 0xAD,
    (0x62, 0x40): 0xF0, (0x60, 0x41): 0xBD, (0x60, 0xC0): 0x2A,
    (0x60, 0x30): 0xD4,
}


# captured from the engine's earlier hand-written encoder: content checksum
# on, one compressed block
_CHECKSUMMED = bytes.fromhex(
    "04224d186440a720000000ff067b22706b223a20312c20226f70223a202275227d"
    "7c1500cf502275227d7c000000004ca3cc97")
_CHECKSUMMED_CONTENT = b'{"pk": 1, "op": "u"}|' * 12


def lz4_frame_compress(data):
    return codecs.compress("lz4", data)


def lz4_frame_decompress(data, **kw):
    return codecs.decompress("lz4", data, **kw)


def frame_with(flg, bd, blocks, tail=b""):
    """A frame from [(stored, payload)] blocks; `tail` follows the EndMark
    (the content checksum when FLG bit 2 is set)."""
    out = _MAGIC + bytes([flg, bd, _HC[(flg, bd)]])
    for stored, payload in blocks:
        size = len(payload) | (0x80000000 if stored else 0)
        out += struct.pack("<I", size) + payload
    return out + struct.pack("<I", 0) + tail


def lz4_block_decompress(block):
    return lz4_frame_decompress(frame_with(0x60, 0x40, [(False, block)]))


def test_xxh32_spec_check_values():
    # published xxHash test vectors (seed 0), as LZ4 content checksums
    assert lz4_frame_decompress(
        frame_with(0x64, 0x40, [], struct.pack("<I", 0x02CC5D05))) == b""
    assert lz4_frame_decompress(
        frame_with(0x64, 0x40, [(True, b"abc")],
                   struct.pack("<I", 0x32D153FF))) == b"abc"
    # and as a block checksum (FLG bit 4): XXH32 of the stored block
    blk = struct.pack("<I", 3 | 0x80000000) + b"abc" + struct.pack(
        "<I", 0x32D153FF)
    good = _MAGIC + bytes([0x70, 0x40, 0xAD]) + blk + struct.pack("<I", 0)
    assert lz4_frame_decompress(good) == b"abc"
    for frame in (
        frame_with(0x64, 0x40, [(True, b"abc")], struct.pack("<I", 0x32D153FE)),
        good[:-8] + struct.pack("<I", 0x32D153FE) + good[-4:],
    ):
        with pytest.raises(ValueError, match="[Cc]hecksum"):
            lz4_frame_decompress(frame)


def test_block_hand_vectors():
    # literals-only block: token 0x30, 3 literals, no match
    assert lz4_block_decompress(b"\x30abc") == b"abc"
    # one match: 4 literals 'abcd', then offset 4 len 4 → 'abcdabcd';
    # trailing literals-only sequence 'xyzzy' (≥5 final literals)
    blk = b"\x40abcd" + b"\x04\x00" + b"\x50xyzzy"
    assert lz4_block_decompress(blk) == b"abcdabcdxyzzy"
    # overlapping match (offset 1 = RLE): 'a' then 8 copies of it
    blk = b"\x14a" + b"\x01\x00" + b"\x50bcdef"
    assert lz4_block_decompress(blk) == b"a" * 9 + b"bcdef"
    # length extension: literal run of 15+255+3 = 273
    lits = bytes(i % 251 for i in range(273))
    blk = b"\xf0" + bytes([255, 3]) + lits
    assert lz4_block_decompress(blk) == lits


def test_block_rejects():
    # each block is wrapped in a well-formed frame, so the rejection comes
    # from liblz4's block decoder, not from the framing
    assert lz4_block_decompress(b"\x30abc") == b"abc"
    with pytest.raises(ValueError, match="decompressionFailed"):
        lz4_block_decompress(b"\x14a" + b"\x05\x00" + b"\x50bcdef")  # past start
    with pytest.raises(ValueError, match="decompressionFailed"):
        lz4_block_decompress(b"\x40abc")  # fewer literals than declared
    with pytest.raises(ValueError, match="decompressionFailed"):
        lz4_block_decompress(b"\x44abcd" + b"\x04")  # half an offset


def test_compressor_end_of_block_rules():
    """Spec: last 5 bytes literal; matches start ≥12 bytes before the end.
    Walk the sequences of the block the sink emits and check, so any
    conformant decoder (a broker's) reads it."""
    data = b"abcdabcdabcdabcdabcdabcd"  # heavily matchable incl. the tail
    frame = lz4_frame_compress(data)
    assert frame[:4] == _MAGIC and frame[4] & 0x20  # independent blocks
    assert not frame[4] & 0x08  # no content size: the header is 7 bytes
    (bsize,) = struct.unpack_from("<I", frame, 7)
    assert not bsize & 0x80000000  # compressed, not stored
    blk = frame[11 : 11 + bsize]
    assert lz4_block_decompress(blk) == data
    # walk sequences: the final one must be literals-only
    pos, n, out_len, last_match_start = 0, len(blk), 0, -1
    while pos < n:
        token = blk[pos]; pos += 1
        lits = token >> 4
        if lits == 15:
            while True:
                b = blk[pos]; pos += 1; lits += b
                if b != 255:
                    break
        pos += lits; out_len += lits
        if pos == n:
            break
        pos += 2
        mlen = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                b = blk[pos]; pos += 1; mlen += b
                if b != 255:
                    break
        last_match_start = out_len
        out_len += mlen
    assert out_len == len(data)
    assert last_match_start <= len(data) - 12
    assert pos == n


def test_multi_block_frame_has_independent_blocks():
    """Kafka's Java LZ4 reader decodes each block with no prefix from the
    one before, so a frame over many 64 KiB blocks must declare independent
    blocks (FLG bit 5) and every block must decode on its own."""
    import pyarrow as pa

    data = b"".join(b'{"pk": %d, "op": "u", "v": "%s"}|' % (i, b"z" * (i % 40))
                    for i in range(8000))
    assert len(data) >= 200 * 1024
    frame = lz4_frame_compress(data)
    assert frame[:4] == _MAGIC and frame[4] & 0x20
    raw, pos, out, compressed = pa.Codec("lz4_raw"), 7, b"", 0
    while True:
        (size,) = struct.unpack_from("<I", frame, pos)
        pos += 4
        if size == 0:
            break
        blk = frame[pos : pos + (size & 0x7FFFFFFF)]
        pos += len(blk)
        if size & 0x80000000:
            out += blk
            continue
        want = min(65536, len(data) - len(out))
        out += raw.decompress(blk, decompressed_size=want, asbytes=True)
        compressed += 1
    assert pos == len(frame) and out == data and compressed >= 4
    assert len(frame) < len(data) // 2


def test_frame_roundtrip_adversarial():
    import random

    rng = random.Random(3)
    cases = [
        b"",
        b"a",
        b"\x00" * 200_000,                      # multi-block RLE
        bytes(range(256)) * 700,                 # period 256, > 2 blocks
        b"the quick brown fox " * 9000,
        bytes(rng.randrange(256) for _ in range(100_000)),  # incompressible
        bytes(rng.randrange(3) for _ in range(66_000)),     # block boundary
    ]
    for data in cases:
        enc = lz4_frame_compress(data)
        assert lz4_frame_decompress(enc) == data, len(data)
    # incompressible data is stored, costing only headers
    blob = bytes(rng.randrange(256) for _ in range(50_000))
    assert len(lz4_frame_compress(blob)) < len(blob) + 64


def test_frame_roundtrip_hypothesis():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=120, deadline=None)
    @given(st.binary(max_size=4096))
    def check(data):
        assert lz4_frame_decompress(lz4_frame_compress(data)) == data

    check()


def test_frame_rejects_corruption():
    good = lz4_frame_compress(b"abcabcabcabc" * 10)
    bad = bytearray(good)
    bad[5] ^= 0x01  # BD byte → header checksum mismatch
    with pytest.raises(ValueError, match="[Cc]hecksum|reserved"):
        lz4_frame_decompress(bytes(bad))
    bad = bytearray(good)
    bad[6] ^= 0x01  # the header checksum byte itself
    with pytest.raises(ValueError, match="headerChecksum"):
        lz4_frame_decompress(bytes(bad))
    # liblz4 frames carry no content checksum; a checksummed frame's does
    bad = bytearray(_CHECKSUMMED)
    bad[-10] ^= 0x01  # flip a byte inside the last block
    with pytest.raises(ValueError, match="contentChecksum"):
        lz4_frame_decompress(bytes(bad))
    with pytest.raises(ValueError, match="frameType_unknown"):
        lz4_frame_decompress(b"\x00" * 16)
    with pytest.raises(ValueError, match="Truncated"):
        lz4_frame_decompress(good[:10])
    with pytest.raises(ValueError, match="empty"):
        lz4_frame_decompress(b"")


def test_literal_frame_from_earlier_encoder():
    """A checksummed frame from the engine's earlier hand-written encoder
    decodes to the same bytes, and a flipped checksum rejects."""
    frame = _CHECKSUMMED
    assert lz4_frame_decompress(frame) == _CHECKSUMMED_CONTENT
    with pytest.raises(ValueError, match="contentChecksum"):
        lz4_frame_decompress(frame[:-1] + bytes([frame[-1] ^ 1]))


def test_kafka_record_batch_lz4_roundtrip():
    from peerdb_spark import kafka_wire as KW

    recs = [(b"k%d" % i, b'{"v":%d,"pad":"' % i + b"z" * 200 + b'"}')
            for i in range(50)]
    batch = KW.encode_record_batch(recs, compression="lz4")
    plain = KW.encode_record_batch(recs, compression="none")
    attrs = int.from_bytes(batch[21:23], "big")
    assert attrs & 0x7 == 3
    assert len(batch) < len(plain) // 2
    assert [(k, v) for k, v, _h in KW.decode_record_batch(batch)] == recs


def test_frame_truncated_optional_descriptor_fields():
    """A header whose FLG advertises content-size/dict-id fields but is cut
    short must reject as ValueError, not IndexError (code-review repro:
    7-byte frame with the content-size bit set)."""
    flg_csize = (1 << 6) | (1 << 5) | (1 << 3)
    frame = struct.pack("<I", 0x184D2204) + bytes([flg_csize, 4 << 4, 0])
    assert len(frame) == 7
    with pytest.raises(ValueError, match="Truncated"):
        lz4_frame_decompress(frame)


def test_frame_rejects_reserved_bits_and_oversized_blocks():
    """Strict-reject contract symmetry (round-8 review item): FLG reserved
    bit, BD reserved bits, and blocks above the declared BD maximum all
    reject instead of decoding spec-invalid frames."""
    base_flg = (1 << 6) | (1 << 5)  # v01, independent blocks, no checksums
    # reserved FLG bit 1
    with pytest.raises(ValueError, match="reservedFlag"):
        lz4_frame_decompress(frame_with(base_flg | 2, 4 << 4, []))
    # reserved BD bits (low nibble / high bit)
    with pytest.raises(ValueError, match="reservedFlag"):
        lz4_frame_decompress(frame_with(base_flg, (4 << 4) | 1, []))
    with pytest.raises(ValueError, match="reservedFlag"):
        lz4_frame_decompress(frame_with(base_flg, (4 << 4) | 0x80, []))
    # block max size codes 0-3 are invalid
    with pytest.raises(ValueError, match="maxBlockSize"):
        lz4_frame_decompress(frame_with(base_flg, 3 << 4, []))
    # a stored block larger than the declared 64 KiB maximum rejects
    big = b"x" * 65537
    with pytest.raises(ValueError, match="maxBlockSize"):
        lz4_frame_decompress(frame_with(base_flg, 4 << 4, [(True, big)]))
    # valid frames still decode under the stricter checks
    assert lz4_frame_decompress(lz4_frame_compress(big)) == big


def test_dictionary_frames_and_size_bound_reject():
    """A frame whose block reaches back into a dictionary (FLG dict-ID bit,
    id 7, a match before the start of output) rejects, as does output past
    the bound."""
    blk = b"\x14a" + b"\x05\x00" + b"\x50bcdef"
    frame = (_MAGIC + bytes([0x61, 0x40]) + struct.pack("<I", 7) + b"\xe3"
             + struct.pack("<I", len(blk)) + blk + struct.pack("<I", 0))
    with pytest.raises(ValueError, match="decompressionFailed"):
        lz4_frame_decompress(frame)
    data = b"y" * 5000
    with pytest.raises(ValueError, match="size bound"):
        lz4_frame_decompress(lz4_frame_compress(data), max_size=4999)
    assert lz4_frame_decompress(lz4_frame_compress(data), max_size=5000) == data
