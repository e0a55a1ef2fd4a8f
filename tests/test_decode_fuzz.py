"""Exception-hygiene fuzz for every byte-stream decoder boundary.

A 100 TB crawl WILL contain torn, bit-flipped, and garbage payloads; the
engine's contract is that every decoder rejects them with ValueError (or
NotImplementedError for out-of-scope-but-valid features) — never a raw
IndexError/KeyError/struct.error/zlib.error escaping into a Spark task,
and never silent wrong output for streams whose integrity checks fail.

Seeded and bounded: 250 mutations (byte flips, truncations, garbage
insertions) per decoder per run.
"""

import random

import numpy as np
import pytest

from peerdb_spark import codecs
from peerdb_spark import kafka_wire as KW
from peerdb_spark.functions.jpeg import decode_jpeg, encode_jpeg
from peerdb_spark.functions.png import decode_png, encode_png


def _img():
    return np.random.RandomState(0).randint(0, 256, (24, 24, 3), dtype=np.uint8)


def _mp4_seed():
    from peerdb_spark.functions.h264 import encode_h264_ipcm
    from peerdb_spark.functions.mp4 import encode_mp4_h264

    img = _img()
    pic = encode_h264_ipcm(
        [(img[:16, :16, 0], img[:8, :8, 1], img[:8, :8, 2])], 16, 16)
    return encode_mp4_h264([pic, pic], 16, 16)


def _avi_seed():
    from peerdb_spark.functions.avi import encode_avi_mjpeg

    rgb = _img().tobytes()
    return encode_avi_mjpeg(
        [encode_jpeg(rgb, 24, 24, quality=70)] * 2, 24, 24)


_SEEDS = {
    "flac": (
        lambda b: __import__(
            "peerdb_spark.functions.flac", fromlist=["parse_flac"]
        ).parse_flac(b),
        lambda: __import__(
            "peerdb_spark.functions.flac", fromlist=["encode_flac"]
        ).encode_flac(
            ((_img()[:, :3, 0].astype(np.int32) - 128) * 200), 16000, 16,
            block=128,
        ),
    ),
    "tar_index": (
        lambda b: __import__(
            "peerdb_spark.functions.tar", fromlist=["index_tar"]
        ).index_tar(b),
        lambda: __import__(
            "peerdb_spark.functions.tar", fromlist=["encode_tar"]
        ).encode_tar([("a.txt", b"x" * 600), ("b" * 150 + ".json", b"y" * 40)]),
    ),
    "warc_records": (
        lambda b: __import__(
            "peerdb_spark.functions.warc", fromlist=["parse_warc"]
        ).parse_warc(b),
        lambda: __import__(
            "peerdb_spark.functions.warc", fromlist=["encode_warc"]
        ).encode_warc([
            {"type": "response", "target_uri": "http://x/", "http_status": 200,
             "http_headers": {}, "body": b"<html>" + b"t" * 200},
        ] * 3),
    ),
    "mp4_sample_tables": (
        lambda b: __import__(
            "peerdb_spark.functions.mp4", fromlist=["parse_mp4"]
        ).parse_mp4(b),
        _mp4_seed,
    ),
    "avi_container": (
        lambda b: __import__(
            "peerdb_spark.functions.avi", fromlist=["split_avi_frames"]
        ).split_avi_frames(b),
        _avi_seed,
    ),
    "jpeg_baseline": (
        decode_jpeg,
        lambda: encode_jpeg(_img().tobytes(), 24, 24, quality=80,
                            mode="420", restart_interval=2),
    ),
    "jpeg_progressive": (
        decode_jpeg,
        lambda: encode_jpeg(_img().tobytes(), 24, 24, quality=80,
                            progressive=True),
    ),
    "png": (
        decode_png,
        lambda: encode_png(_img().tobytes(), 24, 24, lambda y: y % 5),
    ),
    "snappy": (
        lambda b: codecs.decompress("snappy", b),
        lambda: codecs.compress("snappy", b"the quick brown fox " * 50),
    ),
    "lz4_frame": (
        lambda b: codecs.decompress("lz4", b),
        lambda: codecs.compress("lz4", b"the quick brown fox " * 50),
    ),
    "mjpeg_container": (
        lambda b: __import__("peerdb_spark.functions.jpeg",
                             fromlist=["split_mjpeg"]).split_mjpeg(b),
        lambda: encode_jpeg(_img().tobytes(), 24, 24, quality=80)
        + encode_jpeg(_img().tobytes(), 24, 24, quality=60,
                      progressive=True),
    ),
    "zstd_frame": (
        lambda b: codecs.decompress("zstd", b),
        lambda: codecs.compress("zstd", b"the quick brown fox " * 50 + b"z" * 400),
    ),
    "kafka_record_batch": (
        KW.decode_record_batch,
        lambda: KW.encode_record_batch([(b"k", b"v" * 50)] * 5,
                                       compression="snappy"),
    ),
    "png_subbyte": (
        decode_png,
        lambda: encode_png(
            np.repeat(
                (_img()[:, :, 0] % 16 * 17)[:, :, None], 3, axis=2
            ).tobytes(),
            24, 24, lambda y: y % 5, color_type=0, bit_depth=4,
        ),
    ),
    "jpeg_lossless": (
        lambda b: __import__(
            "peerdb_spark.functions.jpeg", fromlist=["decode_jpeg_lossless"]
        ).decode_jpeg_lossless(b),
        lambda: __import__(
            "peerdb_spark.functions.jpeg", fromlist=["encode_jpeg_lossless"]
        ).encode_jpeg_lossless(
            (_img()[:, :, 0].astype(np.uint16) * 16), 12, predictor=4,
            restart_interval=6,
        ),
    ),
    "h264_ipcm": (
        lambda b: __import__(
            "peerdb_spark.functions.h264", fromlist=["decode_h264"]
        ).decode_h264(b),
        lambda: __import__(
            "peerdb_spark.functions.h264", fromlist=["encode_h264_ipcm"]
        ).encode_h264_ipcm(
            [(_img()[:16, :16, 0], _img()[:8, :8, 1], _img()[:8, :8, 2])],
            16, 16,
        ),
    ),
    "h264_cavlc": (
        lambda b: __import__(
            "peerdb_spark.functions.h264", fromlist=["decode_h264"]
        ).decode_h264(b),
        lambda: __import__(
            "peerdb_spark.functions.h264", fromlist=["encode_h264_cavlc"]
        ).encode_h264_cavlc(
            [(_img()[:16, :16, 0], _img()[:8, :8, 1], _img()[:8, :8, 2])],
            16, 16, qp=24,
        ),
    ),
    "h264_gop": (
        lambda b: __import__(
            "peerdb_spark.functions.h264", fromlist=["decode_h264"]
        ).decode_h264(b),
        lambda: __import__(
            "peerdb_spark.functions.h264", fromlist=["encode_h264_gop"]
        ).encode_h264_gop(
            [(_img()[:16, :16, 0], _img()[:8, :8, 1], _img()[:8, :8, 2]),
             (np.roll(_img()[:16, :16, 0], 4, axis=1),
              _img()[:8, :8, 1], _img()[:8, :8, 2])],
            16, 16, qp=20,
        ),
    ),
    "h264_gop_b": (
        lambda b: __import__(
            "peerdb_spark.functions.h264", fromlist=["decode_h264"]
        ).decode_h264(b),
        lambda: __import__(
            "peerdb_spark.functions.h264", fromlist=["encode_h264_gop"]
        ).encode_h264_gop(
            [(_img()[:16, :16, 0], _img()[:8, :8, 1], _img()[:8, :8, 2]),
             (np.roll(_img()[:16, :16, 0], 2, axis=1),
              _img()[:8, :8, 1], _img()[:8, :8, 2]),
             (np.roll(_img()[:16, :16, 0], 4, axis=1),
              _img()[:8, :8, 1], _img()[:8, :8, 2])],
            16, 16, qp=20, b_frames=1,
        ),
    ),
    "ogg_flac": (
        lambda b: __import__(
            "peerdb_spark.functions.ogg", fromlist=["ogg_flac_to_native"]
        ).ogg_flac_to_native(b),
        lambda: __import__(
            "peerdb_spark.functions.ogg", fromlist=["encode_ogg_flac"]
        ).encode_ogg_flac(
            ((_img()[:, :3, 0].astype(np.int32) - 128) * 150), 16000, 16,
            block=128,
        ),
    ),
    "wav": (
        lambda b: __import__(
            "peerdb_spark.functions.audio", fromlist=["parse_wav"]
        ).parse_wav(b),
        lambda: __import__(
            "peerdb_spark.functions.audio", fromlist=["encode_wav"]
        ).encode_wav(
            (_img()[:, :2, 0].astype(np.int32) - 128) * 200, 16000, 24
        ),
    ),
    "h264_frame_walk": (
        lambda b: __import__(
            "peerdb_spark.functions.h264", fromlist=["split_h264_frames"]
        ).split_h264_frames(b),
        lambda: __import__(
            "peerdb_spark.functions.h264", fromlist=["encode_h264_ipcm"]
        ).encode_h264_ipcm(
            [(_img()[:16, :16, 0], _img()[:8, :8, 1], _img()[:8, :8, 2])] * 3,
            16, 16,
        ),
    ),
}


@pytest.mark.parametrize("name", sorted(_SEEDS))
def test_mutated_streams_reject_cleanly(name):
    decode, make = _SEEDS[name]
    data = make()
    rng = random.Random(hash(name) & 0xFFFF)
    escapes = []
    for trial in range(250):
        b = bytearray(data)
        op = rng.randrange(3)
        if op == 0:  # flip 1-3 random bytes
            for _ in range(rng.randrange(1, 4)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif op == 1:  # truncate anywhere
            b = b[: rng.randrange(1, len(b))]
        else:  # insert 1-7 garbage bytes anywhere
            i = rng.randrange(len(b))
            b = (b[:i]
                 + bytes(rng.randrange(256) for _ in range(rng.randrange(1, 8)))
                 + b[i:])
        try:
            decode(bytes(b))  # surviving decode is fine (benign mutation)
        except (ValueError, NotImplementedError):
            pass
        except Exception as e:  # noqa: BLE001 — the assertion target
            escapes.append((trial, type(e).__name__, str(e)[:60]))
    assert not escapes, escapes[:5]


_PAYLOAD = b'{"pk": 1, "op": "u"}|' * 12
# per codec: a frame whose integrity check covers the content (captured
# from the earlier hand-written encoders where pyarrow's sets none), and a
# frame that needs a dictionary (None: the format has no dictionaries)
_CHECKED = {
    "gzip": ("1f8b0800000000000203ab562ac856b25230d45150ca2f0032944a956a6baa47"
             "8620009ddbafbdfc000000"),
    "snappy": ("fc01507b22706b223a20312c20226f70223a202275227d7cfe1500fe5400"
               "fe93009ad200"),
    "lz4": ("04224d186440a720000000ff067b22706b223a20312c20226f70223a202275"
            "227d7c1500cf502275227d7c000000004ca3cc97"),
    "zstd": ("28b52ffd24fced0000a87b22706b223a20312c20226f70223a202275227d7c"
             "015412042bc918b5d0ce0d"),
}
_DICTIONARY = {
    "lz4": "04224d18614007000000e30a0000001461050050626364656600000000",
    "zstd": "28b52ffd210703",
}


@pytest.mark.parametrize("name", sorted(_CHECKED))
def test_codec_reject_contract(name):
    """Every Kafka codec: empty, truncated, checksum-flipped, dictionary and
    over-bound input raise ValueError; the checked frame decodes."""
    frame = bytes.fromhex(_CHECKED[name])
    assert codecs.decompress(name, frame) == _PAYLOAD
    if name == "snappy":  # no checksum: the length preamble is the check
        flipped = frame[:1] + bytes([frame[1] ^ 1]) + frame[2:]
    else:  # the last byte of the trailing checksum
        flipped = frame[:-1] + bytes([frame[-1] ^ 1])
    bad = [b"", flipped] + [frame[:cut] for cut in range(1, len(frame))]
    if name in _DICTIONARY:
        bad.append(bytes.fromhex(_DICTIONARY[name]))
    for data in bad:
        with pytest.raises(ValueError):
            codecs.decompress(name, data)
    with pytest.raises(ValueError, match="size bound"):
        codecs.decompress(name, frame, max_size=len(_PAYLOAD) - 1)
    assert codecs.decompress(name, frame, max_size=len(_PAYLOAD)) == _PAYLOAD


def _mutations(rng, data):
    b = bytearray(data)
    op = rng.randrange(3)
    if op == 0:
        for _ in range(rng.randrange(1, 3)):
            b[rng.randrange(len(b))] = rng.randrange(256)
    elif op == 1:
        b = b[: rng.randrange(1, len(b))]
    else:
        i = rng.randrange(len(b))
        b = (b[:i]
             + bytes(rng.randrange(256) for _ in range(rng.randrange(1, 5)))
             + b[i:])
    return bytes(b)


def test_pgoutput_mutated_wal_rejects_cleanly():
    """CDC twin of the codec fuzz: torn/corrupt WAL messages reject as
    ValueError per message, never a raw struct/index fault killing the
    executor task."""
    from test_pgoutput import _stream

    from peerdb_spark.sources.pgoutput import PgOutputDecoder

    rng = random.Random(11)
    msgs = _stream()
    escapes = []
    for trial in range(400):
        mut = [(lsn, _mutations(rng, p) if rng.random() < 0.5 else p)
               for lsn, p in msgs]
        try:
            PgOutputDecoder().decode_all(mut)
        except ValueError:
            pass
        except Exception as e:  # noqa: BLE001
            escapes.append((trial, type(e).__name__))
    assert not escapes, escapes[:5]


def test_binlog_mutated_events_reject_cleanly_and_terminate():
    """Corrupt binlog events must reject as ValueError AND terminate —
    a mutated lenenc column count of 0 previously made the rows loop spin
    forever (zero bytes consumed per 'row'); the progress guard pins it."""
    from test_mysql_binlog import _stream

    from peerdb_spark.sources.mysql_binlog import BinlogDecoder

    rng = random.Random(12)
    msgs = _stream()
    payloads = msgs if not isinstance(msgs[0], tuple) else [p for _, p in msgs]
    escapes = []
    for trial in range(400):
        mut = [_mutations(rng, p) if rng.random() < 0.5 else p
               for p in payloads]
        try:
            BinlogDecoder().decode_all(mut)
        except ValueError:
            pass
        except Exception as e:  # noqa: BLE001
            escapes.append((trial, type(e).__name__))
    assert not escapes, escapes[:5]
