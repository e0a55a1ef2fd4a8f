"""Kafka record-batch codecs over the libraries pyarrow bundles.

Record batch v2 compresses its records section with gzip, snappy (a raw
block), lz4 (an LZ4 frame) or zstd (a zstd frame); pyarrow ships libz,
libsnappy, liblz4 and libzstd. This module adapts them to the decoder
contract the reference gets from franz-go (flow/connectors/kafka/kafka.go):

- malformed, truncated, empty, checksum-failing and dictionary frames raise
  ValueError; pyarrow's OSError / ArrowException never escape;
- output past `max_size` raises ValueError. Batches do not carry the
  decoded size, so gzip, lz4 and zstd decode as streams read in 1 MiB
  steps; a snappy block's uvarint preamble is checked before any buffer;
- lz4 frames use independent 64 KiB blocks (FLG bit 5), as librdkafka
  does: Kafka's Java reader decodes each block alone, and liblz4's one-shot
  frame encoder links blocks once input passes 64 KiB;
- snappy also accepts the xerial framing Java producers wrap batches in
  ("\\x82SNAPPY\\x00", two BE int32 versions, BE-int32-prefixed blocks).

gzip encodes with the stdlib and mtime 0, so equal input gives equal bytes.
"""

from __future__ import annotations

import gzip

import pyarrow as pa

MAX_SIZE = 1 << 27  # 128 MiB per decoded records section
XERIAL_MAGIC = b"\x82SNAPPY\x00"
# magic, FLG (v01, independent blocks), BD (64 KiB blocks), header checksum
LZ4_HEADER = b"\x04\x22\x4d\x18\x60\x40\x82"
LZ4_BLOCK = 1 << 16


def compress(name: str, data: bytes) -> bytes:
    """`name` is one of gzip / snappy / lz4 / zstd (Kafka's codec names)."""
    if name == "gzip":
        return gzip.compress(data, mtime=0)
    if name == "lz4":
        return _lz4_frame(data)
    return pa.Codec(name).compress(data, asbytes=True)


def decompress(name: str, data: bytes, max_size: int = MAX_SIZE) -> bytes:
    """Inverse of `compress`, under the contract in the module doc."""
    try:
        if name == "snappy":
            if data.startswith(XERIAL_MAGIC):
                return _xerial(data, max_size)
            return _snappy_block(data, max_size)
        if not data:
            raise ValueError(f"{name}: empty frame")
        stream = pa.CompressedInputStream(pa.BufferReader(data), name)
        parts, n = [], 0
        while n <= max_size:  # bounded reads: never size a max_size buffer
            part = stream.read(1 << 20)
            if not part:
                break
            parts.append(part)
            n += len(part)
        out = b"".join(parts)
    except (OSError, pa.ArrowException) as e:
        raise ValueError(f"{name}: {e}") from e
    if len(out) > max_size:
        raise ValueError(f"{name}: output exceeds size bound {max_size}")
    return out


def _lz4_frame(data: bytes) -> bytes:
    raw, out = pa.Codec("lz4_raw"), bytearray(LZ4_HEADER)
    for i in range(0, len(data), LZ4_BLOCK):
        chunk = data[i : i + LZ4_BLOCK]
        blk = raw.compress(chunk, asbytes=True)
        if len(blk) >= len(chunk):  # stored block: high bit of the size
            out += (len(chunk) | 1 << 31).to_bytes(4, "little") + chunk
        else:
            out += len(blk).to_bytes(4, "little") + blk
    return bytes(out + b"\0\0\0\0")  # EndMark


def _snappy_block(data: bytes, max_size: int) -> bytes:
    size, shift = 0, 0
    for b in data[:5]:  # uvarint32 preamble
        size |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
    else:
        raise ValueError("snappy: truncated length preamble")
    if size > max_size:
        raise ValueError(f"snappy: output exceeds size bound {max_size}")
    return pa.Codec("snappy").decompress(
        data, decompressed_size=size, asbytes=True)


def _xerial(data: bytes, max_size: int) -> bytes:
    pos = len(XERIAL_MAGIC) + 8  # skip version + compat-version
    if pos > len(data):
        raise ValueError("xerial: truncated header")
    out = bytearray()
    while pos < len(data):
        if pos + 4 > len(data):
            raise ValueError("xerial: truncated block length")
        blen = int.from_bytes(data[pos : pos + 4], "big")
        pos += 4
        if pos + blen > len(data):
            raise ValueError("xerial: truncated block")
        out += _snappy_block(data[pos : pos + blen], max_size - len(out))
        pos += blen
    return bytes(out)
