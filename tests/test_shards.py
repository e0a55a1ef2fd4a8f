"""Corpus container formats: tar/WebDataset shards (functions/tar.py,
cross-verified against stdlib tarfile in BOTH directions) and WARC /
Common Crawl (functions/warc.py), plus the Spark explode/mux paths."""

import io
import tarfile
import zlib

import numpy as np
import pytest

from peerdb_spark.functions.tar import encode_tar, extract_tar_member, index_tar
from peerdb_spark.functions.warc import encode_warc, parse_warc, split_gzip_members

_MEMBERS = [
    ("000123.jpg", b"\xff\xd8JPEGDATA"),
    ("000123.json", b'{"caption": "a"}'),
    ("dir/000124.txt", b"hello world" * 20),
    ("k" * 150 + ".bin", b"LONGNAME-PAYLOAD"),  # PAX long name
]


# -- tar: cross-verified against the stdlib (independent oracle) --------------


def test_stdlib_reads_our_tar():
    blob = encode_tar(_MEMBERS)
    tf = tarfile.open(fileobj=io.BytesIO(blob))
    got = [(m.name, tf.extractfile(m).read()) for m in tf if m.isfile()]
    assert got == _MEMBERS


@pytest.mark.parametrize("fmt", [
    tarfile.USTAR_FORMAT, tarfile.GNU_FORMAT, tarfile.PAX_FORMAT])
def test_our_reader_parses_stdlib_tars(fmt):
    """GNU longname ('L'), PAX ('x' path records), and plain ustar all
    resolve names identically to the stdlib."""
    members = [(n, p) for n, p in _MEMBERS
               if not (fmt == tarfile.USTAR_FORMAT and len(n) > 100)]
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=fmt) as tw:
        for name, payload in members:
            ti = tarfile.TarInfo(name)
            ti.size = len(payload)
            tw.addfile(ti, io.BytesIO(payload))
    data = buf.getvalue()
    got = [(m["name"], extract_tar_member(data, m)) for m in index_tar(data)]
    assert got == members


def test_tar_index_never_reads_payloads():
    """The index is header-only: sizes/offsets must be right without
    touching member bytes (checked by slicing them out afterwards)."""
    blob = encode_tar(_MEMBERS)
    idx = index_tar(blob)
    assert [(m["name"], m["size"]) for m in idx] == [
        (n, len(p)) for n, p in _MEMBERS]
    for m, (_n, p) in zip(idx, _MEMBERS):
        assert blob[m["offset"] : m["offset"] + m["size"]] == p


def test_tar_rejects():
    blob = encode_tar(_MEMBERS)
    with pytest.raises(ValueError, match="truncated|overruns"):
        index_tar(blob[:700])
    bad = bytearray(blob)
    bad[200] ^= 0xFF  # corrupt inside the first header
    with pytest.raises(ValueError, match="checksum"):
        index_tar(bytes(bad))
    # torn mid-payload
    with pytest.raises(ValueError):
        index_tar(blob[: 512 + 4])


# -- WARC ----------------------------------------------------------------------


_RECORDS = [
    {"type": "warcinfo", "block": b"software: test\r\n",
     "content_type": "application/warc-fields"},
    {"type": "response", "target_uri": "http://example.com/a",
     "http_status": 200, "http_headers": {"Content-Type": "text/html"},
     "body": b"<html>hello</html>"},
    {"type": "response", "target_uri": "http://example.com/b",
     "http_status": 404, "http_headers": {}, "body": b"not found"},
]


@pytest.mark.parametrize("gz", [True, False])
def test_warc_roundtrip(gz):
    data = encode_warc(_RECORDS, gzip_per_record=gz)
    if gz:
        assert len(split_gzip_members(data)) == 3  # one member per record
    out = parse_warc(data)
    assert [r["type"] for r in out] == ["warcinfo", "response", "response"]
    assert out[0]["block"] == b"software: test\r\n"
    assert out[1]["http_status"] == 200
    assert out[1]["body"] == b"<html>hello</html>"
    assert out[1]["http_headers"]["content-type"] == "text/html"
    assert out[2]["target_uri"] == "http://example.com/b"


def test_warc_gzip_members_decompress_independently():
    """The Common Crawl splittability property: each record's member
    decompresses standalone."""
    data = encode_warc(_RECORDS, gzip_per_record=True)
    members = split_gzip_members(data)
    for m in members:
        assert m.startswith(b"WARC/1.0\r\n")
    # re-parse just the middle member
    (rec,) = parse_warc(zlib.compress(members[1], 6, 31))
    assert rec["http_status"] == 200


def test_warc_rejects():
    with pytest.raises(ValueError, match="WARC"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\nbody")
    data = encode_warc(_RECORDS)
    with pytest.raises(ValueError, match="gzip|truncated"):
        parse_warc(data[:-15])
    plain = encode_warc(_RECORDS, gzip_per_record=False)
    # Content-Length lies long → block overrun
    bad = plain.replace(b"Content-Length: 16", b"Content-Length: 9999", 1)
    with pytest.raises(ValueError, match="overruns|truncated|WARC"):
        parse_warc(bad)


def test_gzip_members_inflating_past_bound_reject():
    """A ~130 kB .warc.gz blob whose two members each stay under
    codecs.MAX_SIZE but together inflate past it raises ValueError instead
    of inflating in full."""
    from peerdb_spark import codecs

    half = codecs.MAX_SIZE // 2 + (1 << 19)
    chunk = bytes(1 << 20)
    member = bytearray()
    z = zlib.compressobj(9, zlib.DEFLATED, 31)  # gzip wrapper
    for _ in range(half >> 20):
        member += z.compress(chunk)
    member += z.compress(bytes(half & ((1 << 20) - 1))) + z.flush()
    blob = bytes(member) * 2
    assert len(blob) < 200_000
    with pytest.raises(ValueError, match="size bound"):
        split_gzip_members(blob)
    with pytest.raises(ValueError, match="size bound"):
        parse_warc(blob)


# -- Spark paths -----------------------------------------------------------------


def test_explode_tar_spark(spark):
    from peerdb_spark.functions.multimodal import explode_tar, mux_tar

    df = spark.createDataFrame(
        [(7, [{"name": n, "payload": p} for n, p in _MEMBERS])],
        "media_id long, members array<struct<name:string,payload:binary>>",
    )
    shards = mux_tar(df)
    rows = explode_tar(shards).collect()
    got = [(r["name"], r["sample_key"], bytes(r["payload"])) for r in rows]
    assert got == [
        ("000123.jpg", "000123", _MEMBERS[0][1]),
        ("000123.json", "000123", _MEMBERS[1][1]),
        ("dir/000124.txt", "dir/000124", _MEMBERS[2][1]),
        ("k" * 150 + ".bin", "k" * 150, _MEMBERS[3][1]),
    ]
    # name_filter selects from the header index
    only = explode_tar(shards, name_filter=".json").collect()
    assert [r["name"] for r in only] == ["000123.json"]


def test_explode_warc_spark(spark):
    from peerdb_spark.functions.multimodal import explode_warc, mux_warc

    recs = [
        {"warc_type": "response", "target_uri": f"http://x/{i}",
         "http_status": 200 + i, "body": f"body-{i}".encode()}
        for i in range(3)
    ]
    df = spark.createDataFrame(
        [(1, recs)],
        "media_id long, records array<struct<warc_type:string,"
        "target_uri:string,http_status:int,body:binary>>",
    )
    out = explode_warc(mux_warc(df)).orderBy("rec_idx").collect()
    assert [(r["rec_idx"], r["target_uri"], r["http_status"],
             bytes(r["body"])) for r in out] == [
        (0, "http://x/0", 200, b"body-0"),
        (1, "http://x/1", 201, b"body-1"),
        (2, "http://x/2", 202, b"body-2"),
    ]


def test_webdataset_end_to_end_spark(spark):
    """The full WebDataset ingest composition: tar shard of PNG images +
    JSON captions → explode_tar → decode_images → extract_features, with
    captions joined back by sample_key — the actual multimodal training
    ingest path, pinned end-to-end."""
    from pyspark.sql import functions as F

    from peerdb_spark.functions.multimodal import (
        decode_images,
        explode_tar,
        extract_features,
    )
    from peerdb_spark.functions.png import encode_png

    rng = np.random.RandomState(9)
    members = []
    truth = {}
    for k in range(3):
        w, h = 6 + k, 5 + k
        rgb = rng.randint(0, 256, size=w * h * 3, dtype=np.uint8).tobytes()
        truth[f"{k:06d}"] = (w, h, rgb)
        members.append((f"{k:06d}.png", encode_png(rgb, w, h, lambda y: y % 5)))
        members.append((f"{k:06d}.json", f'{{"caption": "cap-{k}"}}'.encode()))
    shard = encode_tar(members)
    df = spark.createDataFrame([(0, shard)], "media_id long, content binary")

    rows = explode_tar(df)
    imgs = (
        rows.where(F.col("name").endswith(".png"))
        .select(
            F.monotonically_increasing_id().alias("rid"),
            F.col("sample_key"),
            F.col("payload").alias("content"),
            F.struct(
                F.lit("image/png").alias("mime"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
                F.lit("png").alias("codec"),
            ).alias("meta"),
        )
    )
    keyed = {r["sample_key"]: r for r in imgs.collect()}
    decoded = decode_images(imgs.drop("sample_key"), id_col="rid")
    feats = extract_features(decoded, id_col="rid")
    got = {r["rid"]: r for r in decoded.collect()}
    assert len(got) == 3 and feats.count() == 3
    for sk, r in keyed.items():
        w, h, rgb = truth[sk]
        dec = got[r["rid"]]
        assert bytes(dec["content"]) == rgb
        assert (dec["meta"]["width"], dec["meta"]["height"]) == (w, h)
    # captions join back on sample_key
    caps = rows.where(F.col("name").endswith(".json")).select(
        "sample_key", F.decode("payload", "UTF-8").alias("caption"))
    assert caps.count() == 3


def test_explode_jsonl_all_compressions(spark):
    """JSONL shards in all three layouts (.gz multi-member, .zst through
    libzstd, plain) split to identical rows, and from_json parses them
    JVM-side."""
    import zlib

    from pyspark.sql import functions as F

    from peerdb_spark import codecs
    from peerdb_spark.functions.multimodal import explode_jsonl

    lines = [b'{"text": "doc %d", "score": %d}' % (i, i * 7) for i in range(5)]
    raw = b"\n".join(lines) + b"\n"
    gz = zlib.compress(raw[:30], 6, 31) + zlib.compress(raw[30:], 6, 31)
    zst = codecs.compress("zstd", raw)
    df = spark.createDataFrame(
        [(0, raw), (1, gz), (2, zst)], "media_id long, content binary")
    out = explode_jsonl(df)
    parsed = out.select(
        "media_id", "line_idx",
        F.from_json("line", "text string, score int").alias("j"),
    ).collect()
    assert len(parsed) == 15
    for r in parsed:
        assert r["j"]["text"] == f"doc {r['line_idx']}"
        assert r["j"]["score"] == r["line_idx"] * 7


def test_tar_multibyte_long_name():
    """PAX long names with multibyte characters: the fallback ustar name
    field must truncate by ENCODED bytes (a char-count slice overflows
    100 bytes and raised before r10); the PAX path record wins on read."""
    name = "д" * 120 + ".json"  # 245 UTF-8 bytes
    blob = encode_tar([(name, b"PAYLOAD")])
    tf = tarfile.open(fileobj=io.BytesIO(blob))
    got = [(m.name, tf.extractfile(m).read()) for m in tf if m.isfile()]
    assert got == [(name, b"PAYLOAD")]
    idx = index_tar(blob)
    assert [m["name"] for m in idx] == [name]
    assert extract_tar_member(blob, idx[0]) == b"PAYLOAD"
