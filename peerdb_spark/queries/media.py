"""Media queries: container framing, image/video/audio decode, fingerprints, archives."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from peerdb_spark.functions import ensure_parallelism
from peerdb_spark.functions import text as TX
from peerdb_spark.queries._common import _t


# ---------------------------------------------------------------------------
# LLM-pipeline: multimodal columns (binary content + typed metadata)
# ---------------------------------------------------------------------------


# fixture constants shared by the Spark builder and every media oracle:
# byte i of media m is (m*55 + i*177) % 256 — a deterministic raw buffer,
# restatable in ANSI SQL, with every L divisible by 16 (uniform feature
# chunks) and video payloads a whole number of 48-byte (4×4×3) frames
_MEDIA_FRAME_BYTES = 48


def synthetic_media(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from documents (multimodal schema:
    opaque binary content + typed metadata struct, functions/multimodal).
    The driver testdata has no media table; this derivation IS the fixture,
    defined identically in the oracle SQL (SQL_MEDIA_BASE).

    Content is a REAL byte buffer (not text): byte i = (media_id·55 +
    i·177) mod 256. Images are raw interleaved RGB of width·height·3
    bytes (the multimodal kernels' native format); audio is raw PCM-ish
    bytes; video is a sequence of 48-byte 4×4×3 raw frames. The numpy
    kernels therefore do real pixel math end-to-end, and the oracle can
    recompute any byte analytically."""
    did = F.col("doc_id")
    is_img = did % 3 == 0
    is_audio = did % 3 == 1
    mime = (
        F.when(is_img, F.lit("image/raw-rgb"))
        .when(is_audio, F.lit("audio/raw-pcm"))
        .otherwise(F.lit("video/raw-frames"))
    )
    width = F.when(is_img, F.lit(16) + (did % 4) * 4).cast("int")
    height = F.when(is_img, F.lit(12) + ((did / 3).cast("long") % 3) * 4).cast("int")
    n_frames = F.lit(8) + did % 8
    n_bytes = (
        F.when(is_img, width.cast("long") * height * 3)
        .when(is_audio, F.lit(208) + (did % 7) * 16)
        .otherwise(n_frames * _MEDIA_FRAME_BYTES)
    )
    duration = (
        F.when(is_audio, (F.lit(208) + (did % 7) * 16) * 20)
        .when(~is_img, n_frames * 40)  # 25 fps
        .cast("long")
    )
    content = F.unhex(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), n_bytes - 1),
                lambda i: F.lpad(F.lower(F.hex((did * 55 + i * 177) % 256)), 2, "0"),
            ),
            "",
        )
    )
    return docs.select(
        did.alias("media_id"),
        content.alias("content"),
        F.struct(
            mime.alias("mime"),
            width.alias("width"),
            height.alias("height"),
            duration.alias("duration_ms"),
            F.when(is_img, F.lit("rgb")).otherwise(F.lit("raw")).alias("codec"),
        ).alias("meta"),
    )


SQL_MEDIA_BASE = """
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/raw-rgb'
              WHEN doc_id % 3 = 1 THEN 'audio/raw-pcm' ELSE 'video/raw-frames' END AS mime,
         CASE WHEN doc_id % 3 = 0 THEN CAST(16 + (doc_id % 4) * 4 AS INT) END AS width,
         CASE WHEN doc_id % 3 = 0 THEN CAST(12 + ((doc_id // 3) % 3) * 4 AS INT) END AS height,
         CASE WHEN doc_id % 3 = 1 THEN CAST((208 + (doc_id % 7) * 16) * 20 AS BIGINT)
              WHEN doc_id % 3 = 2 THEN CAST((8 + doc_id % 8) * 40 AS BIGINT) END AS duration_ms,
         CASE WHEN doc_id % 3 = 0 THEN CAST((16 + (doc_id % 4) * 4) * (12 + ((doc_id // 3) % 3) * 4) * 3 AS BIGINT)
              WHEN doc_id % 3 = 1 THEN CAST(208 + (doc_id % 7) * 16 AS BIGINT)
              ELSE CAST((8 + doc_id % 8) * 48 AS BIGINT) END AS n_bytes
  FROM documents
"""


def q_media_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only media aggregate (functions/multimodal.media_stats): the
    scan's ReadSchema excludes the binary content column entirely — at 100 TB
    of media this query reads kilobytes of metadata pages, not the bytes."""
    from peerdb_spark.functions import multimodal as MM

    (docs,) = _t(spark, sf_dir, "documents")
    return MM.media_stats(synthetic_media(docs))


SQL_MEDIA_STATS = f"""
SELECT mime, count(*) AS n, avg(width) AS avg_width,
       CAST(sum(coalesce(duration_ms, 0)) AS BIGINT) AS total_duration_ms
FROM ({SQL_MEDIA_BASE})
GROUP BY mime
"""


def q_media_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan (functions/multimodal.frame_sample_plan): JVM-side
    explode of metadata durations — every frame timestamp exists before any
    media byte is read. Aggregated per media id for a bounded output."""
    from peerdb_spark.functions import multimodal as MM

    (docs,) = _t(spark, sf_dir, "documents")
    plan = MM.frame_sample_plan(synthetic_media(docs), every_ms=1000)
    return plan.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.max("frame_ts_ms").cast("long").alias("last_frame_ms"),
    )


SQL_MEDIA_FRAME_PLAN = f"""
SELECT media_id, count(*) AS n_frames, CAST(max(u.t) AS BIGINT) AS last_frame_ms
FROM ({SQL_MEDIA_BASE}), unnest(range(0, coalesce(duration_ms, 0) + 1, 1000)) u(t)
GROUP BY media_id
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary media content
    (functions/multimodal.extract_features). The kernel is REAL numpy math —
    16 contiguous-chunk byte means over the raw buffer — and because the
    fixture buffers are analytic ((id·55 + i·177) mod 256, length divisible
    by 16), the oracle recomputes every chunk SUM exactly in SQL. The gate
    transport de-quantizes each float32 mean back to its integer sum
    (round(f·chunk_len·255) — float32 error ≪ 0.5 at these magnitudes) and
    joins them as one comma string, value-verifying the whole Arrow path."""
    from peerdb_spark.functions import multimodal as MM

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    media = synthetic_media(docs)
    feats = MM.extract_features(media)
    # buffer length re-derived from METADATA so this branch prunes the
    # binary column instead of constructing the fixture buffers twice
    lens = media.select(
        "media_id",
        F.when(F.col("meta.mime") == "image/raw-rgb",
               F.col("meta.width").cast("long") * F.col("meta.height") * 3)
        .when(F.col("meta.mime") == "audio/raw-pcm", F.col("meta.duration_ms") / 20)
        .otherwise(F.col("meta.duration_ms") / 40 * _MEDIA_FRAME_BYTES)
        .cast("long")
        .alias("_L"),
    )
    return feats.join(lens, "media_id").select(
        "media_id",
        F.array_join(
            F.transform(
                F.col("features"),
                lambda x: F.round(x * (F.col("_L") / 16) * 255).cast("long").cast("string"),
            ),
            ",",
        ).alias("feature_sums"),
    )


SQL_MEDIA_FEATURES = f"""
WITH m AS ({SQL_MEDIA_BASE}),
b AS (
  SELECT media_id, u.i AS i, (media_id * 55 + u.i * 177) % 256 AS v, n_bytes
  FROM m, unnest(range(0, n_bytes)) u(i)
),
s AS (
  SELECT media_id, i // (n_bytes // 16) AS k, sum(v) AS cs
  FROM b GROUP BY 1, 2
)
SELECT media_id, string_agg(CAST(cs AS VARCHAR), ',' ORDER BY k) AS feature_sums
FROM s GROUP BY media_id
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize via Arrow mapInPandas (functions/multimodal.resize_images)
    at 8×8: REAL nearest-neighbor resampling — numpy fancy-indexing of the
    raw w·h·3 RGB buffer by integer index maps (sx = x·w//8, sy = y·h//8).
    The oracle recomputes every output byte analytically from the fixture's
    pixel formula at the SOURCE index the kernel must have read, so a wrong
    index map (off-by-one, row-major mixup, channel swap) value-mismatches.
    Hex-string transport for the gate (binary columns hash unreliably)."""
    from peerdb_spark.functions import multimodal as MM

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    imgs = synthetic_media(docs).where(F.col("meta.mime") == "image/raw-rgb")
    out = MM.resize_images(imgs, 8, 8)
    return out.select(
        "media_id",
        F.lower(F.hex(F.col("content"))).alias("content_hex"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


SQL_MEDIA_RESIZE = f"""
WITH m AS (SELECT * FROM ({SQL_MEDIA_BASE}) WHERE mime = 'image/raw-rgb'),
px AS (
  -- output byte i → (y, x, ch) → NN source index → fixture pixel formula
  SELECT media_id, u.i AS i,
         (media_id * 55
          + ((((u.i // 24) * height // 8) * width + ((u.i % 24) // 3) * width // 8) * 3
             + u.i % 3) * 177) % 256 AS v
  FROM m, unnest(range(0, 192)) u(i)
)
SELECT media_id, string_agg(printf('%02x', v), '' ORDER BY i) AS content_hex,
       'image/raw-rgb' AS mime, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height
FROM px GROUP BY media_id
"""


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strided video frame extraction (functions/multimodal.sample_frames):
    video payloads are sequences of 48-byte 4×4×3 raw frames; every 2nd
    frame is sliced out with one numpy reshape + stride per buffer and
    emitted as its own row. The oracle restates the slice arithmetic byte
    by byte from the fixture formula — a wrong stride, frame size, or
    offset value-mismatches. Hex transport for the binary frames."""
    from peerdb_spark.functions import multimodal as MM

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    vids = synthetic_media(docs).where(F.col("meta.mime") == "video/raw-frames")
    frames = MM.sample_frames(vids, _MEDIA_FRAME_BYTES, stride=2)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.lower(F.hex(F.col("frame"))).alias("frame_hex"),
    )


SQL_MEDIA_FRAME_SAMPLE = f"""
WITH m AS (SELECT * FROM ({SQL_MEDIA_BASE}) WHERE mime = 'video/raw-frames'),
fr AS (SELECT media_id, n_bytes, u.f AS frame_idx
       FROM m, unnest(range(0, n_bytes // 48, 2)) u(f)),
b AS (
  SELECT media_id, frame_idx, u.j AS j,
         (media_id * 55 + (frame_idx * 48 + u.j) * 177) % 256 AS v
  FROM fr, unnest(range(0, 48)) u(j)
)
SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       string_agg(printf('%02x', v), '' ORDER BY j) AS frame_hex
FROM b GROUP BY media_id, frame_idx
"""


def q_media_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG encode→decode roundtrip over the analytic image fixture
    (functions/png.py — the from-scratch stdlib-zlib codec): every fixture
    image is PNG-encoded with its scanline filter VARYING per row
    ((media_id + y) mod 5, so all five filter paths — None/Sub/Up/Average/
    Paeth — are exercised on the gate), then decoded back to raw RGB by
    multimodal.decode_images, whose dimensions come from the PNG IHDR, not
    trusted metadata. The oracle restates every decoded byte analytically
    from the fixture pixel formula — one wrong unfilter branch, CRC slip,
    or dimension mixup value-mismatches. Hex transport for the gate."""
    from peerdb_spark.functions import multimodal as MM

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    imgs = synthetic_media(docs).where(F.col("meta.mime") == "image/raw-rgb")
    decoded = MM.decode_images(MM.encode_images_png(imgs))
    return decoded.select(
        "media_id",
        F.lower(F.hex(F.col("content"))).alias("content_hex"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


SQL_MEDIA_DECODE_PNG = f"""
WITH m AS (SELECT * FROM ({SQL_MEDIA_BASE}) WHERE mime = 'image/raw-rgb'),
px AS (
  SELECT media_id, width, height, u.i AS i,
         (media_id * 55 + u.i * 177) % 256 AS v
  FROM m, unnest(range(0, n_bytes)) u(i)
)
SELECT media_id, string_agg(printf('%02x', v), '' ORDER BY i) AS content_hex,
       CAST(min(width) AS INT) AS width, CAST(min(height) AS INT) AS height
FROM px GROUP BY media_id
"""


def _jpeg_tile_media(docs: DataFrame) -> DataFrame:
    """Tile-constant even-gray image fixture for the JPEG roundtrip gate:
    8×8 tiles of value v = 2·((id·31 + ty·8 + tx·3) mod 128), dims multiples
    of 8. Chosen so baseline-JPEG encode(quality=50, gray) is PROVABLY
    lossless: a constant block's only DCT coefficient is 8·(v−128),
    divisible by the Q50 luma DC step (16) for even v — so the analytic
    pixel formula IS the expected decode output, byte for byte."""
    # Vectorized numpy content synthesis (§4.2; same rewrite as
    # _dhash_fixture — the per-byte transform() lambda is interpreted, and
    # this fixture evaluates up to w·h·3 of them per row). Byte-identical.
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        # per-byte additive tile term for each of the two widths:
        # byte i → y = i // (w·3), x = (i % (w·3)) // 3; term = (y//8)·8 + (x//8)·3
        tp = {}
        for wv in (16, 24):
            i = np.arange(wv * 16 * 3)
            y, x = i // (wv * 3), (i % (wv * 3)) // 3
            tp[wv] = (y // 8) * 8 + (x // 8) * 3
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            out = []
            for mid in ids:
                wv = 16 + (int(mid) % 2) * 8
                v = 2 * ((int(mid) * 31 + tp[wv]) % 128)
                out.append(v.astype(np.uint8).tobytes())
            yield pd.DataFrame({"media_id": ids, "content": out})

    return docs.select("doc_id").mapInPandas(gen, out_schema).select(
        "media_id",
        "content",
        F.struct(
            F.lit("image/raw-rgb").alias("mime"),
            (F.lit(16) + (F.col("media_id") % 2) * 8).cast("int").alias("width"),
            F.lit(16).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit("rgb").alias("codec"),
        ).alias("meta"),
    )


def _sampled_container_frames(
    spark: SparkSession,
    sf_dir: str,
    residue: int,
    w: Column,
    mix: tuple[int, int],
    containers: Callable[[DataFrame], DataFrame],
    sample: Callable[..., DataFrame],
) -> DataFrame:
    """Fixture of the container frame-sampling gates: 4 variant classes
    (vk) of 4 gray frames each, pixel base `(mid % 8)·mix[0] + frame·mix[1]`
    over 8×8 tiles, for the representative ids mid = 6·vk + residue.
    `containers` encodes the 16 frames into one container per vk; the
    container broadcasts to every doc_id % 6 == residue media row and
    `sample` takes every 2nd frame back out of each."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    did = F.col("doc_id")
    # residue 0 adds no `+ 0` term to the plan
    mid = F.col("id") * 6 + residue if residue else F.col("id") * 6
    base = spark.range(4).select(
        F.col("id").alias("vk"),
        mid.alias("mid"),
    ).select(
        "vk", "mid",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("frame_idx"),
    )
    h = F.lit(16).cast("int")
    n_bytes = w.cast("long") * h * 3
    tile_v = (
        lambda i: (
            ((F.col("mid") % 8) * mix[0] + F.col("frame_idx") * mix[1]
             + F.floor(F.floor(i / (w * 3)) / 8) * 8
             + F.floor((i % (w * 3)) / 3 / 8) * 3) % 128
        ) * 2
    )
    content = F.unhex(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), n_bytes - 1),
                lambda i: F.lpad(F.lower(F.hex(tile_v(i))), 2, "0"),
            ),
            "",
        )
    )
    frames = base.select(
        (F.col("vk") * 4 + F.col("frame_idx")).alias("media_id"),
        content.alias("content"),
        F.struct(
            F.lit("image/raw-rgb").alias("mime"), w.alias("width"),
            h.alias("height"), F.lit(None).cast("long").alias("duration_ms"),
            F.lit("rgb").alias("codec"),
        ).alias("meta"),
    )
    # one container row per class → broadcast; the per-media work under
    # test (container walk + strided decode) runs for EVERY media row
    media = (
        docs.where(did % 6 == residue)
        .select(
            did.alias("media_id"),
            F.pmod(F.floor(did / 6), F.lit(4)).cast("long").alias("vk"),
        )
        .join(F.broadcast(containers(frames)), "vk")
        .select("media_id", "content")
    )
    sampled = sample(media, stride=2)
    return sampled.select(
        "media_id", "frame_idx", "width", "height",
        F.lower(F.hex(F.col("frame"))).alias("frame_hex"),
    )


def _concat_streams(enc: DataFrame) -> DataFrame:
    """One container per class: its 4 encoded frames concatenated in order."""
    return (
        enc.select(
            (F.col("media_id") / 4).cast("long").alias("vk"),
            F.pmod(F.col("media_id"), F.lit(4)).cast("int").alias("fidx"),
            "content",
        )
        .groupBy("vk")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("fidx"), F.col("content")))
                    ),
                    lambda s: s["content"],
                ),
                F.lit(b""),
                lambda acc, x: F.concat(acc, x),
            ).alias("content")
        )
    )


def _frame_sample_sql(residue: int, w_sql: str, mix: tuple[int, int]) -> str:
    """Oracle of a container frame-sampling gate: the analytic pixels of
    frames 0 and 2 of every doc_id % 6 == residue media row."""
    return f"""
WITH m AS (
  SELECT doc_id AS media_id,
         CAST({w_sql} AS INT) AS w
  FROM documents WHERE doc_id % 6 = {residue}
),
f AS (
  SELECT media_id, w, CAST(u.f AS INT) AS frame_idx
  FROM m, unnest([0, 2]) u(f)
),
px AS (
  SELECT media_id, frame_idx, w, u.i AS i,
         2 * (((media_id % 8) * {mix[0]} + frame_idx * {mix[1]}
               + ((u.i // (w * 3)) // 8) * 8
               + (((u.i % (w * 3)) // 3) // 8) * 3) % 128) AS v
  FROM f, unnest(range(0, CAST(w AS BIGINT) * 16 * 3)) u(i)
)
SELECT media_id, frame_idx, CAST(min(w) AS INT) AS width,
       CAST(16 AS INT) AS height,
       string_agg(printf('%02x', v), '' ORDER BY i) AS frame_hex
FROM px GROUP BY media_id, frame_idx
"""


def q_media_frame_sample_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG container frame sampling (round 8; fixture restructured round
    9 per verdict #4): each media is a raw Motion-JPEG concatenation of 4
    complete JPEG streams (the .mjpeg / multipart-camera format); every
    2nd frame is split out by marker-structure walk (jpeg.split_mjpeg;
    skipped frames are never entropy-decoded) and decoded back. Every byte
    of the sampled frames value-verifies against the analytic per-frame
    pixel formula.

    The r8 cut encoded 4 JPEG streams PER media in-executor, so ~⅔ of the
    gate's cost was fixture assembly, not the walker+decode under test.
    The pixel formula now depends on media_id only through (media_id % 8)
    — and the selected ids (doc_id % 6 == 1, i.e. 6k+1) realize exactly 4
    distinct (pixel-base, width) classes keyed by k mod 4 — so the gate
    encodes 16 JPEG streams TOTAL (4 containers), broadcast-joins a
    container to every media, and spends its time on the per-media
    marker walk + strided decode it exists to gate. Byte-verification
    strength is unchanged: the per-frame analytic pixel oracle restates
    the same (media_id % 8) formula. With this, only inter-frame codecs
    (H.264) remain gated behind a codec lib."""
    from peerdb_spark.functions import multimodal as MM

    def containers(frames: DataFrame) -> DataFrame:
        # odd members encode PROGRESSIVE (SOF2 multi-scan): stride-2
        # sampling never decodes them, but the container walker must still
        # traverse their multi-scan structure exactly to find members 0
        # and 2 — the gate thereby exercises the trickiest split path,
        # while the sampled frames stay baseline (same lossless-tile pixel
        # oracle)
        fid = F.pmod(F.col("media_id"), F.lit(4))
        return _concat_streams(MM.encode_images_jpeg(
            frames.where(fid % 2 == 0), quality=50, mode="gray"
        ).unionByName(
            MM.encode_images_jpeg(
                frames.where(fid % 2 == 1), quality=50, mode="gray",
                progressive=True,
            )
        ))

    # the 4 variant generators (ids 6*vk+1) cover every (pixel-base =
    # mid%8 ∈ {1,7,5,3}, width) class the selection can produce. Width
    # varies on (mid // 6) % 2 = vk % 2: 16 vs 24 px, differing MCU
    # geometry — doc_id % 6 == 1 selects only ODD ids, so a plain mid % 2
    # would be constant and the two-width coverage silently dead
    w = (F.lit(16) + (F.floor(F.col("mid") / 6) % 2) * 8).cast("int")
    return _sampled_container_frames(
        spark, sf_dir, residue=1, w=w, mix=(31, 5), containers=containers,
        sample=MM.sample_frames_mjpeg)


SQL_MEDIA_FRAME_SAMPLE_MJPEG = _frame_sample_sql(
    1, "16 + ((doc_id // 6) % 2) * 8", (31, 5))


def q_media_frame_sample_h264(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H.264 elementary-stream frame sampling (round 9): each media is an
    Annex-B stream of 4 IDR I_PCM pictures (functions/h264.py — a
    conforming baseline stream any decoder plays; I_PCM carries raw
    samples inside real NAL/slice/macroblock structure); every 2nd picture
    is located by the NAL structure walk (split_h264_frames — one
    exp-Golomb peek per VCL NAL, skipped pictures' macroblock payloads are
    never read) and decoded back. Every byte of the sampled frames
    value-verifies against the analytic per-frame pixel formula: gray
    input ⇒ Y==v and Cb==Cr==128 exactly through the JFIF matrix, so the
    decoded RGB equals the generated content byte-for-byte.

    Fixture shape follows the r9 MJPEG lesson (verdict #4): the pixel
    formula depends on media_id only through media_id % 8, and the
    selected ids (doc_id % 6 == 3, i.e. 6k+3) realize exactly 4 distinct
    (pixel-base, width) classes keyed by k mod 4 — so the gate encodes 16
    single-picture streams TOTAL (4 containers), broadcast-joins a
    container to every media, and spends its time on the per-media NAL
    walk + strided I_PCM decode it exists to gate. Width 24 (vs 16)
    exercises SPS frame cropping (2 MBs cropped to 24 px)."""
    from peerdb_spark.functions import multimodal as MM

    w = (F.lit(16) + (F.col("vk") % 2) * 8).cast("int")
    return _sampled_container_frames(
        spark, sf_dir, residue=3, w=w, mix=(37, 11),
        containers=lambda frames: _concat_streams(MM.encode_frames_h264(frames)),
        sample=MM.sample_frames_h264)


SQL_MEDIA_FRAME_SAMPLE_H264 = _frame_sample_sql(
    3, "16 + (((doc_id // 6) % 4) % 2) * 8", (37, 11))


def q_media_frame_sample_mp4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4 container frame sampling (round 9): each media is a real
    ISO-BMFF file (ftyp + mdat + moov sample tables, avcC parameter sets)
    wrapping 4 IDR I_PCM pictures; the moov tables are the frame index
    (functions/mp4.py — stsz/stsc/stco resolved to byte ranges, skipped
    samples' payloads never read), every 2nd sample converts
    length-prefixed NALs to Annex-B and decodes through the H.264 I_PCM
    path, and every byte verifies against the analytic gray oracle.

    Fixture shape: 4 distinct containers (pixel base media_id % 8 over
    the doc_id % 6 == 0 selection) broadcast to every media row — the
    per-media work under test is the sample-table walk + strided decode."""
    from peerdb_spark.functions import multimodal as MM

    def containers(frames: DataFrame) -> DataFrame:
        grouped = (
            MM.encode_frames_h264(frames).select(
                (F.col("media_id") / 4).cast("long").alias("vk"),
                F.pmod(F.col("media_id"), F.lit(4)).cast("int").alias("fidx"),
                F.col("meta.width").alias("width"),
                F.col("meta.height").alias("height"),
                "content",
            )
            .groupBy("vk")
            .agg(
                F.first("width").alias("width"),
                F.first("height").alias("height"),
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("fidx"), F.col("content")))
                    ),
                    lambda s: s["content"],
                ).alias("frames"),
            )
        )
        return MM.mux_frames_mp4(grouped, id_col="vk")

    w = (F.lit(16) + (F.col("vk") % 2) * 16).cast("int")
    return _sampled_container_frames(
        spark, sf_dir, residue=0, w=w, mix=(41, 13), containers=containers,
        sample=MM.sample_frames_mp4)


SQL_MEDIA_FRAME_SAMPLE_MP4 = _frame_sample_sql(
    0, "16 + (((doc_id // 6) % 4) % 2) * 16", (41, 13))


def q_tar_shard_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset shard ingest (round 9): each media is a real ustar
    .tar shard (functions/tar.py — checksummed headers, 512-byte blocks)
    holding 6 members (3 samples × .txt/.json, the WebDataset key
    convention); explode_tar walks the HEADER INDEX (payloads of
    filtered members never read) and emits one row per member. Names,
    sample keys, sizes, and full payload text all verify against the
    analytic formula. 4 broadcast shards (pixel-base media_id % 8 over
    doc_id % 6 == 4), per-media work = the index walk + extraction."""
    from peerdb_spark.functions import multimodal as MM

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    did = F.col("doc_id")
    base = spark.range(4).select(
        F.col("id").alias("vk"),
        (F.col("id") * 6 + 4).alias("mid"),
    )
    # member j of 6: sample s = j//2, ext = txt/json; payload text is
    # fully determined by (mid % 8, j)
    member = lambda j: F.struct(  # noqa: E731
        F.concat(
            F.lit("s"), ((F.col("mid") % 8) * 10 + F.floor(j / 2)).cast("string"),
            F.when(j % 2 == 0, F.lit(".txt")).otherwise(F.lit(".json")),
        ).alias("name"),
        F.encode(
            F.concat(
                F.lit("doc-"), (F.col("mid") % 8).cast("string"),
                F.lit("-"), j.cast("string"), F.lit("-"),
                F.repeat(F.lit("x"), (j + 10).cast("int")),
            ),
            "UTF-8",
        ).alias("payload"),
    )
    with_members = base.select(
        "vk",
        F.transform(F.sequence(F.lit(0), F.lit(5)), member).alias("members"),
    )
    shards = MM.mux_tar(with_members, id_col="vk")
    media = (
        docs.where(did % 6 == 4)
        .select(
            did.alias("media_id"),
            F.pmod(F.floor(did / 6), F.lit(4)).cast("long").alias("vk"),
        )
        .join(F.broadcast(shards), "vk")
        .select("media_id", "content")
    )
    rows = MM.explode_tar(media)
    return rows.select(
        "media_id", "name", "sample_key", "size",
        F.decode(F.col("payload"), "UTF-8").alias("payload_str"),
    )


SQL_TAR_SHARD_EXPLODE = """
WITH m AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 6 = 4
),
j AS (
  SELECT media_id, CAST(u.j AS INT) AS j FROM m, unnest(range(0, 6)) u(j)
)
SELECT media_id,
       's' || CAST((media_id % 8) * 10 + j // 2 AS VARCHAR)
           || CASE WHEN j % 2 = 0 THEN '.txt' ELSE '.json' END AS name,
       's' || CAST((media_id % 8) * 10 + j // 2 AS VARCHAR) AS sample_key,
       CAST(6 + length(CAST(media_id % 8 AS VARCHAR))
            + length(CAST(j AS VARCHAR)) + (j + 10) AS BIGINT) AS size,
       'doc-' || CAST(media_id % 8 AS VARCHAR) || '-' || CAST(j AS VARCHAR)
              || '-' || repeat('x', j + 10) AS payload_str
FROM j
"""


def q_warc_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common Crawl ingest (round 9): each media is a real .warc.gz blob
    (functions/warc.py — one gzip member per record, the splittable
    Common Crawl layout) of 5 HTTP response records; explode_warc splits
    members, parses WARC + HTTP framing, and extracts bodies. Every
    field verifies against the analytic formula. 4 broadcast blobs over
    doc_id % 6 == 2."""
    from peerdb_spark.functions import multimodal as MM

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    did = F.col("doc_id")
    base = spark.range(4).select(
        F.col("id").alias("vk"),
        (F.col("id") * 6 + 2).alias("mid"),
    )
    record = lambda j: F.struct(  # noqa: E731
        F.lit("response").alias("warc_type"),
        F.concat(
            F.lit("http://site"), (F.col("mid") % 8).cast("string"),
            F.lit("/page"), j.cast("string"),
        ).alias("target_uri"),
        (F.lit(200) + F.pmod(j, F.lit(3))).cast("int").alias("http_status"),
        F.encode(
            F.concat(
                F.lit("page-"), (F.col("mid") % 8).cast("string"),
                F.lit("-"), j.cast("string"), F.lit(":"),
                F.repeat(F.lit("w"), (j + 20).cast("int")),
            ),
            "UTF-8",
        ).alias("body"),
    )
    with_records = base.select(
        "vk",
        F.transform(F.sequence(F.lit(0), F.lit(4)), record).alias("records"),
    )
    blobs = MM.mux_warc(with_records, id_col="vk")
    media = (
        docs.where(did % 6 == 2)
        .select(
            did.alias("media_id"),
            F.pmod(F.floor(did / 6), F.lit(4)).cast("long").alias("vk"),
        )
        .join(F.broadcast(blobs), "vk")
        .select("media_id", "content")
    )
    rows = MM.explode_warc(media)
    return rows.select(
        "media_id", "rec_idx", "warc_type", "target_uri", "http_status",
        F.decode(F.col("body"), "UTF-8").alias("body_str"),
    )


SQL_WARC_EXPLODE = """
WITH m AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 6 = 2
),
j AS (
  SELECT media_id, CAST(u.j AS INT) AS rec_idx
  FROM m, unnest(range(0, 5)) u(j)
)
SELECT media_id, rec_idx, 'response' AS warc_type,
       'http://site' || CAST(media_id % 8 AS VARCHAR) || '/page'
           || CAST(rec_idx AS VARCHAR) AS target_uri,
       CAST(200 + rec_idx % 3 AS INT) AS http_status,
       'page-' || CAST(media_id % 8 AS VARCHAR) || '-'
           || CAST(rec_idx AS VARCHAR) || ':'
           || repeat('w', rec_idx + 20) AS body_str
FROM j
"""


def q_crawl_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-ingest text extraction (round 9): every document is wrapped
    in real HTML (script/style/comment blocks, entities, a title) with a
    messy URL (uppercase scheme/host, default port, utm_ tracker param,
    fragment); html_to_text + url_normalize (functions/text.py — pure
    JVM expressions, zero UDFs) recover the visible text and canonical
    URL. The oracle is GROUND TRUTH, not a regex restatement: the
    fixture's known shape lets DuckDB compute the expected text and URL
    analytically, so a wrong strip/decode/normalize rule fails the hash."""
    from peerdb_spark.functions import text as TX

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit('<html><head><script type="text/javascript">var p = "<p>x</p>";'
              "</script><style>p { color: red }</style><title>"),
        F.col("source"),
        F.lit("</title></head><body><h1>Doc "), did,
        F.lit("</h1><p>"), F.substring(F.col("text"), 1, 80),
        F.lit(" &amp; more&nbsp;tail</p><!-- hidden --></body></html>"),
    )
    url = F.concat(
        F.lit("HTTP://Example"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".COM:80/docs/"), did,
        F.lit("?id="), did,
        F.lit("&utm_source=feed&lang="), F.col("lang"),
        F.lit("#sec-"), did,
    )
    out = docs.select(
        "doc_id",
        TX.url_normalize(url).alias("norm_url"),
        TX.html_to_text(html).alias("text_out"),
    )
    return out.select(
        "doc_id", "norm_url", "text_out",
        F.size(F.split(F.col("text_out"), r"\s+")).alias("n_tok"),
    )


SQL_CRAWL_TEXT_EXTRACT = """
SELECT doc_id,
       'http://example' || CAST(doc_id % 50 AS VARCHAR) || '.com/docs/'
           || CAST(doc_id AS VARCHAR) || '?id=' || CAST(doc_id AS VARCHAR)
           || '&lang=' || lang AS norm_url,
       source || ' Doc ' || CAST(doc_id AS VARCHAR) || ' '
           || trim(substr(text, 1, 80)) || ' & more tail' AS text_out,
       CAST(len(string_split_regex(
           source || ' Doc ' || CAST(doc_id AS VARCHAR) || ' '
           || trim(substr(text, 1, 80)) || ' & more tail', '\\s+')) AS INT)
           AS n_tok
FROM documents
"""


def _dhash_fixture(
    spark: SparkSession, sf_dir: str, max_id: int | None = None
) -> DataFrame:
    """Per-doc 18×16 gray raw-RGB images in dedup GROUPS: group g =
    doc_id // 4 shares a base image (v = (g·11 + sx·5 + sy·7) % 97
    + (g·7 + sx·3 + sy·5) % 31 — adjacent sampled gradients are sums of
    {10,−87} and {6,−25} steps, so |Δ| ≥ 15 and never ties; the
    TWO-modulus mix keeps base images distinct across ~97·31 classes, so
    dup pairs stay group-sized at sf0.1 instead of collapsing into
    52-doc mod-97 hash classes — the first draft's 129k-pair join);
    variants 1/2 perturb pixel (0,0) by +1 (provably hash-preserving:
    a ±1 nudge cannot flip a ≥2 strict gradient), variant 3 adds +41 at
    sampled pixel (4,4) (may flip up to 2 bits — the nonzero-hamming
    path). Every value is analytic, so the oracle recomputes the exact
    hash bits."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    if max_id is not None:
        # filter BEFORE the opaque kernel (an opaque Arrow stage blocks
        # predicate pushdown — §4.2 column/row discipline)
        docs = docs.where(F.col("doc_id") < max_id)
    w, h = 18, 16

    # Content bytes come from ONE vectorized numpy kernel instead of the
    # r9 per-element transform() lambda: higher-order-function lambdas are
    # interpreted per element (not codegen'd), and this fixture evaluates
    # w·h of them per row — measured 0.55 → 0.31 s for the content pass at
    # sf0.1, byte-identical (§4.2: hand whole batches to vectorized native
    # code). The oracle's analytic recomputation is untouched.
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        p = np.arange(w * h)
        sx, sy = p % w, p // w
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            g = ids // 4
            variant = ids % 4
            base = (
                np.add.outer(g * 11, sx * 5 + sy * 7) % 97
                + np.add.outer(g * 7, sx * 3 + sy * 5) % 31
            )
            base[:, 0] += (variant > 0).astype(np.int64)
            base[:, 4 * w + 4] += np.where(variant == 3, 41, 0)
            rgb = np.repeat(base.astype(np.uint8), 3, axis=1)
            yield pd.DataFrame(
                {"media_id": ids, "content": [r.tobytes() for r in rgb]}
            )

    return docs.select("doc_id").mapInPandas(gen, out_schema).select(
        "media_id",
        "content",
        F.struct(
            F.lit("image/raw-rgb").alias("mime"),
            F.lit(w).cast("int").alias("width"),
            F.lit(h).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.lit("rgb").alias("codec"),
        ).alias("meta"),
    )


# the analytic dHash recomputation shared by both oracles: sampled pixel
# (x, y) of the 9×8 grid is source (2x, 2y) (18//9 = 16//8 = 2), bit
# (y·8+x) = v(2x, 2y) > v(2x+2, 2y); hi/lo 32-bit halves avoid signed
# BIGINT shift pitfalls in the hex rendering
_SQL_DHASH_CTE = """
bits AS (
  SELECT doc_id, u.y * 8 + u2.x AS bit,
         CASE WHEN
           ((doc_id // 4) * 11 + (2 * u2.x) * 5 + (2 * u.y) * 7) % 97
           + ((doc_id // 4) * 7 + (2 * u2.x) * 3 + (2 * u.y) * 5) % 31
           + CASE WHEN doc_id % 4 > 0 AND u2.x = 0 AND u.y = 0 THEN 1 ELSE 0 END
           + CASE WHEN doc_id % 4 = 3 AND 2 * u2.x = 4 AND 2 * u.y = 4 THEN 41 ELSE 0 END
           >
           ((doc_id // 4) * 11 + (2 * u2.x + 2) * 5 + (2 * u.y) * 7) % 97
           + ((doc_id // 4) * 7 + (2 * u2.x + 2) * 3 + (2 * u.y) * 5) % 31
           + CASE WHEN doc_id % 4 = 3 AND 2 * u2.x + 2 = 4 AND 2 * u.y = 4 THEN 41 ELSE 0 END
         THEN 1 ELSE 0 END AS b
  FROM documents, unnest(range(0, 8)) u(y), unnest(range(0, 8)) u2(x)
),
hashes AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN bit >= 32
                  THEN b * (CAST(1 AS BIGINT) << (bit - 32))
                  ELSE 0 END) AS BIGINT) AS hi,
         CAST(sum(CASE WHEN bit < 32
                  THEN b * (CAST(1 AS BIGINT) << bit)
                  ELSE 0 END) AS BIGINT) AS lo
  FROM bits GROUP BY doc_id
)
"""


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hash (round 9): every document gets an 18×16
    raw-RGB image; multimodal.image_dhash computes the 9×8 difference
    hash (gray floor-mean → NN reduction → strict-gradient bits) and the
    oracle recomputes every bit analytically from the fixture formula."""
    from peerdb_spark.functions import multimodal as MM

    media = _dhash_fixture(spark, sf_dir)
    return MM.image_dhash(media).select("media_id", "dhash_hex")


SQL_IMAGE_DHASH = (
    "WITH " + _SQL_DHASH_CTE
    + """
SELECT doc_id AS media_id, printf('%08x%08x', hi, lo) AS dhash_hex
FROM hashes
"""
)


def q_image_dhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs (round 9): dHash fingerprints → hamming-LSH
    banding (dedup.hash64_hamming_pairs — 4×16-bit bands, pigeonhole
    candidates, exact bit_count verify; never all-pairs). The fixture's
    groups make variants 0-2 hash-identical and variant 3 within 2 bits,
    and base images recur across groups ≡ (mod 97), so the pair set is
    rich; the oracle brute-forces the SAME truth (exact hamming ≤ 3 over
    analytically recomputed hashes — complete by pigeonhole, so banding
    must find exactly the brute-force set)."""
    from peerdb_spark.functions import multimodal as MM
    from peerdb_spark.functions.dedup import hash64_hamming_pairs

    media = _dhash_fixture(spark, sf_dir)
    hashes = MM.image_dhash(media)
    pairs = hash64_hamming_pairs(
        hashes, "dhash", "media_id", bands=4, max_hamming=3
    )
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


SQL_IMAGE_DHASH_DUPS = (
    "WITH " + _SQL_DHASH_CTE
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(CAST(xor(a.hi, b.hi) AS BIGINT))
            + bit_count(CAST(xor(a.lo, b.lo) AS BIGINT)) AS INT) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.hi, b.hi) AS BIGINT))
      + bit_count(CAST(xor(a.lo, b.lo) AS BIGINT)) <= 3
"""
)


def _audio_fp_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PCM16 WAVs in dedup GROUPS (g = doc_id // 4): 65 frames ×
    4 samples (260 total), v(t) = ((g·13 + t·29) % 251) − 125.
    Variants 1/2 NEGATE the first sample — sum-of-squares energies are
    sign-invariant, so their fingerprints are provably identical to
    variant 0's; variant 3 zeroes frame 10 (a real energy dent → a few
    delta bits flip). All analytic, so the oracle recomputes every
    energy and bit."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    n_samp = 65 * 4
    # mono PCM16 @16kHz, 260 samples (520 B data): RIFF size = 4 (WAVE)
    # + 24 (fmt chunk incl header) + 8 (data header) + 520 = 556
    header_hex = (
        "52494646" "2c020000" "57415645" "666d7420" "10000000"
        "0100" "0100" "803e0000" "007d0000" "0200" "1000"
        "64617461" "08020000"
    )

    # Vectorized numpy WAV synthesis (§4.2): replaces 260 interpreted
    # transform() lambda evaluations (each two hex/substring chains) per
    # doc; byte-identical — int16 little-endian == the hex le16 encoding of
    # v mod 65536. Oracle untouched.
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        header = bytes.fromhex(header_hex)
        t = np.arange(n_samp)
        frame10 = (t // 4) == 10
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            g = ids // 4
            variant = ids % 4
            base = (np.add.outer(g * 13, t * 29) % 251) - 125
            base[:, 0] *= np.where(variant > 0, -1, 1)
            base[np.ix_(variant == 3, frame10)] = 0
            pcm = base.astype("<i2")
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "content": [header + r.tobytes() for r in pcm],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, out_schema)


_SQL_AUDIO_FP_CTE = """
en AS (
  SELECT doc_id, CAST(t // 4 AS INT) AS f,
         sum(CAST(v AS BIGINT) * v) AS e
  FROM (
    SELECT doc_id, u.t AS t,
           CASE WHEN doc_id % 4 = 3 AND u.t // 4 = 10 THEN 0
                ELSE (((doc_id // 4) * 13 + u.t * 29) % 251 - 125)
                     * (CASE WHEN doc_id % 4 > 0 AND u.t = 0 THEN -1 ELSE 1 END)
           END AS v
    FROM documents, unnest(range(0, 260)) u(t)
  )
  GROUP BY doc_id, t // 4
),
bits AS (
  SELECT a.doc_id, a.f AS bit,
         CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
  FROM en a JOIN en b ON a.doc_id = b.doc_id AND b.f = a.f + 1
  WHERE a.f < 64
),
fps AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN bit >= 32
                  THEN b * (CAST(1 AS BIGINT) << (bit - 32))
                  ELSE 0 END) AS BIGINT) AS hi,
         CAST(sum(CASE WHEN bit < 32
                  THEN b * (CAST(1 AS BIGINT) << bit)
                  ELSE 0 END) AS BIGINT) AS lo
  FROM bits GROUP BY doc_id
)
"""


def q_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup fingerprint (round 9): WAV decode → mixdown →
    per-frame energies → 64 energy-delta bits
    (multimodal.audio_fingerprint); every bit recomputed analytically by
    the oracle from the fixture's sample formula."""
    from peerdb_spark.functions import multimodal as MM

    media = _audio_fp_fixture(spark, sf_dir)
    return MM.audio_fingerprint(media, frame_len=4).select(
        "media_id", "fp_hex"
    )


SQL_AUDIO_FINGERPRINT = (
    "WITH " + _SQL_AUDIO_FP_CTE
    + """
SELECT doc_id AS media_id, printf('%08x%08x', hi, lo) AS fp_hex
FROM fps
"""
)


def q_audio_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup pairs (round 9): fingerprints → the SAME generic
    hamming-LSH banding images use (dedup.hash64_hamming_pairs). Sign-
    flipped variants are hash-identical by construction (energies are
    sums of squares); the zeroed-frame variant lands within a couple of
    delta bits. Oracle: brute-force hamming ≤ 3 over analytically
    recomputed fingerprints — banding must find exactly that set."""
    from peerdb_spark.functions import multimodal as MM
    from peerdb_spark.functions.dedup import hash64_hamming_pairs

    media = _audio_fp_fixture(spark, sf_dir)
    fps = MM.audio_fingerprint(media, frame_len=4)
    pairs = hash64_hamming_pairs(fps, "fp", "media_id", bands=4, max_hamming=3)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


SQL_AUDIO_FINGERPRINT_DUPS = (
    "WITH " + _SQL_AUDIO_FP_CTE
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(CAST(xor(a.hi, b.hi) AS BIGINT))
            + bit_count(CAST(xor(a.lo, b.lo) AS BIGINT)) AS INT) AS hamming
FROM fps a JOIN fps b ON a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.hi, b.hi) AS BIGINT))
      + bit_count(CAST(xor(a.lo, b.lo) AS BIGINT)) <= 3
"""
)


def q_audio_frame_energy_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC decode gate (round 9): the SAME analytic WAV fixture as
    audio_frame_energy, losslessly transcoded to FLAC in-flight
    (multimodal.transcode_wav_flac — fixed-predictor + rice encoder,
    functions/flac.py), then framed/featured identically — and verified
    against the IDENTICAL oracle SQL. A single wrong rice bit, CRC, or
    predictor coefficient anywhere in the FLAC round-trip breaks the
    value hash."""
    from peerdb_spark.functions import multimodal as MM

    # transcode the 4 exemplar containers, not the ~n/6 fanned-out media
    # rows (fixture-cost discipline; the per-row DECODE is the operator
    # under test and still runs for every media row)
    flac = _audio_energy_fixture(
        spark, sf_dir,
        container_fn=lambda c: MM.transcode_wav_flac(c, id_col="vk"),
    )
    return MM.audio_frame_features(flac, frame_len=64).select(
        "media_id", "frame_idx", "n_samples", "sum_sq",
        "zero_crossings", "peak",
    )


def q_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV decode + frame features (round 9): each media is a real PCM16
    mono WAV (RIFF header + 400 deterministic samples) built from Spark
    expressions, decoded by the from-scratch RIFF walk
    (functions/audio.py:parse_wav), framed at 64 samples, and reduced to
    the integer-exact VAD primitives (sum-of-squares energy, strict-sign
    zero crossings over nonzero runs, peak) — every value restated by the
    oracle from the same sample formula, so the decode+mixdown+framing
    path is verified end-to-end, trailing partial frame included.

    Fixture shape: the sample formula depends on media_id only through
    media_id % 8, and doc_id % 6 == 5 selects ids realizing exactly 4
    classes — 4 WAV blobs total, broadcast-joined to every media row."""
    from peerdb_spark.functions import multimodal as MM

    media = _audio_energy_fixture(spark, sf_dir)
    return MM.audio_frame_features(media, frame_len=64).select(
        "media_id", "frame_idx", "n_samples", "sum_sq",
        "zero_crossings", "peak",
    )


def _audio_energy_fixture(
    spark: SparkSession, sf_dir: str, container_fn=None
) -> DataFrame:
    """The audio_frame_energy WAV fixture (shared with its FLAC twin).

    `container_fn` transforms the 4-row exemplar container relation BEFORE
    the broadcast join fan-out — the FLAC twin passes the WAV→FLAC
    transcode here so the (pure-Python) encoder runs 4×, not once per
    media row (the r10 mjpeg fixture-cost discipline; the decode under
    test still runs per media row)."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    did = F.col("doc_id")
    n_samp = 400
    base = spark.range(4).select(
        F.col("id").alias("vk"),
        (F.col("id") * 6 + 5).alias("mid"),
    )
    # v(t) = ((mid%8)*97 + t*37) % 4001 - 2000 — int16-safe, sign-varying
    samp = (
        lambda t: ((F.col("mid") % 8) * 97 + t * 37) % 4001 - 2000
    )
    # int16 little-endian hex of the two's-complement value
    le16 = (
        lambda v: F.concat(
            F.substring(F.lpad(F.lower(F.hex(F.pmod(v, F.lit(65536)))), 4, "0"), 3, 2),
            F.substring(F.lpad(F.lower(F.hex(F.pmod(v, F.lit(65536)))), 4, "0"), 1, 2),
        )
    )
    # RIFF/WAVE header for mono PCM16 @16kHz with 400 samples (800 B data):
    # RIFF size 836, fmt(16): tag 1, ch 1, rate 16000, brate 32000,
    # align 2, bits 16
    header_hex = (
        "52494646" "44030000" "57415645" "666d7420" "10000000"
        "0100" "0100" "803e0000" "007d0000" "0200" "1000"
        "64617461" "20030000"
    )
    wav = F.unhex(
        F.concat(
            F.lit(header_hex),
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_samp - 1)), lambda t: le16(samp(t))
                ),
                "",
            ),
        )
    )
    containers = base.select("vk", wav.alias("content"))
    if container_fn is not None:
        containers = container_fn(containers)
    media = (
        docs.where(did % 6 == 5)
        .select(
            did.alias("media_id"),
            F.pmod(F.floor(did / 6), F.lit(4)).cast("long").alias("vk"),
        )
        .join(F.broadcast(containers), "vk")
        .select("media_id", "content")
    )
    return media


SQL_AUDIO_FRAME_ENERGY = """
WITH m AS (
  SELECT doc_id AS media_id FROM documents WHERE doc_id % 6 = 5
),
s AS (
  SELECT media_id, u.t AS t, CAST(u.t // 64 AS INT) AS frame_idx,
         ((media_id % 8) * 97 + u.t * 37) % 4001 - 2000 AS v
  FROM m, unnest(range(0, 400)) u(t)
),
zc AS (
  SELECT media_id, frame_idx,
         count(*) FILTER (
           WHERE prev IS NOT NULL AND sign(prev) * sign(v) < 0
         ) AS zero_crossings
  FROM (
    SELECT media_id, frame_idx, v,
           lag(v) OVER (PARTITION BY media_id, frame_idx ORDER BY t) AS prev
    FROM s WHERE v <> 0
  ) GROUP BY media_id, frame_idx
)
SELECT s.media_id AS media_id, s.frame_idx AS frame_idx,
       CAST(count(*) AS INT) AS n_samples,
       CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq,
       CAST(coalesce(min(zc.zero_crossings), 0) AS INT) AS zero_crossings,
       CAST(max(abs(v)) AS INT) AS peak
FROM s LEFT JOIN zc ON s.media_id = zc.media_id AND s.frame_idx = zc.frame_idx
GROUP BY s.media_id, s.frame_idx
"""


def q_media_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG encode→decode roundtrip through the from-scratch codec
    (functions/jpeg.py: Huffman entropy coding, byte stuffing, DCT): the
    tile-constant fixture is grayscale-JPEG-encoded with restart markers
    every 2 MCUs (exercising RSTn resync + DC-predictor reset on the gate),
    decoded back by multimodal.decode_images (dims from SOF0, not trusted
    metadata), and every byte value-verified against the analytic pixel
    formula — the fixture is constructed so quantization provably loses
    nothing (see _jpeg_tile_media). Hex transport for the gate."""
    from peerdb_spark.functions import multimodal as MM

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    imgs = _jpeg_tile_media(docs.where(F.col("doc_id") % 3 == 0))
    enc = MM.encode_images_jpeg(imgs, quality=50, mode="gray",
                                restart_interval=2)
    decoded = MM.decode_images(enc)
    return decoded.select(
        "media_id",
        F.lower(F.hex(F.col("content"))).alias("content_hex"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


SQL_MEDIA_DECODE_JPEG = """
WITH m AS (
  SELECT doc_id AS media_id,
         CAST(16 + (doc_id % 2) * 8 AS INT) AS width,
         CAST(16 AS INT) AS height
  FROM documents WHERE doc_id % 3 = 0
),
px AS (
  SELECT media_id, width, height, u.i AS i,
         2 * ((media_id * 31
               + ((u.i // (width * 3)) // 8) * 8
               + (((u.i % (width * 3)) // 3) // 8) * 3) % 128) AS v
  FROM m, unnest(range(0, CAST(width AS BIGINT) * height * 3)) u(i)
)
SELECT media_id, string_agg(printf('%02x', v), '' ORDER BY i) AS content_hex,
       CAST(min(width) AS INT) AS width, CAST(min(height) AS INT) AS height
FROM px GROUP BY media_id
"""


def q_media_decode_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive-JPEG (SOF2) encode→decode roundtrip through the
    from-scratch codec (functions/jpeg.py Annex-G scans: DC first/refine,
    AC first with EOB runs, AC refine with correction bits). Two pins per
    row: (1) the provably-lossless tile fixture is progressive-encoded and
    decoded, every byte verified against the analytic pixel formula;
    (2) a noise-like fixture (full AC spread) is encoded BOTH progressive
    and baseline at quality 75 — the two encodings carry identical
    quantized coefficients, so their decodes must be byte-identical, and
    the oracle pins that equality flag TRUE. A broken refinement pass,
    EOB-run slip, or mis-paired dequant flips one of the two.

    Fixture-cost discipline (round 10, the MJPEG r9 fix shape): pixels are
    a function of the media's CLASS (media_id % 8), so the six codec
    passes (tile prog enc+dec, textured prog/baseline enc+dec) run on 8
    broadcast exemplars instead of per media; every media row still joins
    its class's decoded bytes and the oracle recomputes them per row."""
    from peerdb_spark.functions import multimodal as MM

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    rows = docs.where(F.col("doc_id") % 3 == 1).select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 8).alias("_cls"),
    )
    cid = F.col("media_id")  # class id 0..7 inside the exemplar frame
    cls = spark.range(8).select(F.col("id").alias("media_id"))
    w = (F.lit(16) + (cid % 2) * 8).cast("int")
    h = F.lit(16).cast("int")
    n_bytes = w.cast("long") * h * 3
    tile_v = (
        lambda i: (
            (cid * 31
             + F.floor(F.floor(i / (w * 3)) / 8) * 8
             + F.floor((i % (w * 3)) / 3 / 8) * 3) % 128
        ) * 2
    )

    def mk(px):
        content = F.unhex(
            F.array_join(
                F.transform(
                    F.sequence(F.lit(0).cast("long"), n_bytes - 1),
                    lambda i: F.lpad(F.lower(F.hex(px(i))), 2, "0"),
                ),
                "",
            )
        )
        return cls.select(
            "media_id", content.alias("content"),
            F.struct(
                F.lit("image/raw-rgb").alias("mime"), w.alias("width"),
                h.alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
                F.lit("rgb").alias("codec"),
            ).alias("meta"),
        )

    tiles = mk(tile_v)
    dec_p = MM.decode_images(
        MM.encode_images_jpeg(tiles, quality=50, mode="gray", progressive=True)
    )
    tex = mk(lambda i: (cid * 55 + i * 177) % 256)
    dp = MM.decode_images(
        MM.encode_images_jpeg(tex, quality=75, mode="444", progressive=True)
    ).select(F.col("media_id").alias("_cls"), F.col("content").alias("_cp"))
    db = MM.decode_images(
        MM.encode_images_jpeg(tex, quality=75, mode="444")
    ).select(F.col("media_id").alias("_cls"), F.col("content").alias("_cb"))
    eq = dp.join(db, "_cls").select(
        "_cls", (F.col("_cp") == F.col("_cb")).alias("prog_eq_base")
    )
    exem = dec_p.select(
        F.col("media_id").alias("_cls"),
        F.lower(F.hex(F.col("content"))).alias("content_hex"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )
    return (
        rows.join(F.broadcast(exem), "_cls")
        .join(F.broadcast(eq), "_cls")
        .select("media_id", "content_hex", "width", "height", "prog_eq_base")
    )


SQL_MEDIA_DECODE_JPEG_PROGRESSIVE = """
WITH m AS (
  SELECT doc_id AS media_id, doc_id % 8 AS cls,
         CAST(16 + (doc_id % 2) * 8 AS INT) AS width,
         CAST(16 AS INT) AS height
  FROM documents WHERE doc_id % 3 = 1
),
px AS (
  SELECT media_id, width, height, u.i AS i,
         2 * ((cls * 31
               + ((u.i // (width * 3)) // 8) * 8
               + (((u.i % (width * 3)) // 3) // 8) * 3) % 128) AS v
  FROM m, unnest(range(0, CAST(width AS BIGINT) * height * 3)) u(i)
)
SELECT media_id, string_agg(printf('%02x', v), '' ORDER BY i) AS content_hex,
       CAST(min(width) AS INT) AS width, CAST(min(height) AS INT) AS height,
       TRUE AS prog_eq_base
FROM px GROUP BY media_id
"""


def _video_frames_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 4-frame VIDEOS of 18x16 gray frames in dedup GROUPS
    (g = doc_id // 4), reusing the dhash fixture's no-tie gradient
    construction with a per-frame term: frame f pixel (sx, sy) =
    (g*11 + sx*5 + sy*7 + f*13) % 97 + (g*7 + sx*3 + sy*5 + f*9) % 31.
    Variants 1/2 add +1 at pixel 0 of EVERY frame (provably
    dhash-preserving per frame, so their video fingerprints are
    IDENTICAL to variant 0's); variant 3 adds +41 at sampled pixel
    (4,4) of frame 2 only (flips <= 2 bits of ONE frame's dhash; the
    4-frame majority moves only where that frame's vote sat at the
    2-of-4 threshold). All analytic — the oracle recomputes every frame
    bit and the majority fold.

    Fixture-cost discipline: capped at doc_id < 500 (500 videos / 2000
    frames — ALL of sf0.01's documents, a fixed-size subset at sf0.1) so
    the gate's analytic frame generation does not scale with SF; the
    operator's own scaling is covered by the plan shape (one Arrow pass
    + one hash agg, no all-pairs)."""
    docs = ensure_parallelism(
        _t(spark, sf_dir, "documents")[0].where(F.col("doc_id") < 500))
    w, h = 18, 16

    # One vectorized numpy kernel emits all 4 frames per doc (mapInPandas
    # may change cardinality) — replaces the interpreted per-element
    # transform() lambda over w·h pixels × 4 frames per doc (§4.2; same
    # rewrite as _dhash_fixture, byte-identical, oracle untouched).
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        p = np.arange(w * h)
        sx, sy = p % w, p // w
        fr = np.arange(4)
        # per-(frame, pixel) additive terms, shape (4, w*h)
        a97 = np.add.outer(fr * 13, sx * 5 + sy * 7)
        a31 = np.add.outer(fr * 9, sx * 3 + sy * 5)
        for pdf in batches:
            ids = pdf["doc_id"].to_numpy()
            g = ids // 4
            variant = ids % 4
            # shape (n_docs, 4, w*h)
            base = (
                (g * 11)[:, None, None] + a97[None, :, :]
            ) % 97 + ((g * 7)[:, None, None] + a31[None, :, :]) % 31
            base[:, :, 0] += (variant > 0).astype(np.int64)[:, None]
            base[:, 2, 4 * w + 4] += np.where(variant == 3, 41, 0)
            rgb = np.repeat(base.astype(np.uint8), 3, axis=2)
            yield pd.DataFrame(
                {
                    "media_id": np.repeat(ids, 4),
                    "frame_idx": np.tile(fr, len(ids)).astype(np.int32),
                    "frame": [
                        rgb[d, f].tobytes()
                        for d in range(len(ids))
                        for f in range(4)
                    ],
                }
            )

    return docs.select("doc_id").mapInPandas(gen, out_schema).select(
        "media_id", "frame_idx", "frame",
        F.lit(w).alias("width"), F.lit(h).alias("height"),
    )


# frame-indexed dhash bits + the 2-of-4 majority fold, then hi/lo words
_SQL_VHASH_CTE = """
fbits AS (
  SELECT doc_id, f.f AS f, u.y * 8 + u2.x AS bit,
         CASE WHEN
           ((doc_id // 4) * 11 + (2 * u2.x) * 5 + (2 * u.y) * 7 + f.f * 13) % 97
           + ((doc_id // 4) * 7 + (2 * u2.x) * 3 + (2 * u.y) * 5 + f.f * 9) % 31
           + CASE WHEN doc_id % 4 > 0 AND u2.x = 0 AND u.y = 0 THEN 1 ELSE 0 END
           + CASE WHEN doc_id % 4 = 3 AND f.f = 2 AND 2 * u2.x = 4 AND 2 * u.y = 4 THEN 41 ELSE 0 END
           >
           ((doc_id // 4) * 11 + (2 * u2.x + 2) * 5 + (2 * u.y) * 7 + f.f * 13) % 97
           + ((doc_id // 4) * 7 + (2 * u2.x + 2) * 3 + (2 * u.y) * 5 + f.f * 9) % 31
           + CASE WHEN doc_id % 4 = 3 AND f.f = 2 AND 2 * u2.x + 2 = 4 AND 2 * u.y = 4 THEN 41 ELSE 0 END
         THEN 1 ELSE 0 END AS b
  FROM documents, unnest(range(0, 4)) f(f),
       unnest(range(0, 8)) u(y), unnest(range(0, 8)) u2(x)
  WHERE doc_id < 500
),
vbits AS (
  SELECT doc_id, bit, CASE WHEN 2 * sum(b) >= 4 THEN 1 ELSE 0 END AS b
  FROM fbits GROUP BY doc_id, bit
),
vhashes AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN bit >= 32
                  THEN b * (CAST(1 AS BIGINT) << (bit - 32))
                  ELSE 0 END) AS BIGINT) AS hi,
         CAST(sum(CASE WHEN bit < 32
                  THEN b * (CAST(1 AS BIGINT) << bit)
                  ELSE 0 END) AS BIGINT) AS lo
  FROM vbits GROUP BY doc_id
)
"""


def q_image_dhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental image near-dup ingestion (round 10,
    dedup.hash64_hamming_pairs_incremental): the corpus state is the
    even-id half's fingerprints (16 B/item), the odd-id half arrives as
    a batch, and the result is every near-dup pair TOUCHING the batch —
    O(new x bucket), the same maintained-state posture as
    dedup_incremental_lsh but for the 64-bit fingerprint modalities.
    The oracle brute-forces exact hamming <= 3 over analytically
    recomputed hashes restricted to pairs with an odd id, so the driver
    certifies both the banding and the restriction."""
    from peerdb_spark.functions import multimodal as MM
    from peerdb_spark.functions.dedup import hash64_hamming_pairs_incremental

    # fixture-cost cap (the video-gate discipline): doc_id < 2000 is ALL
    # of sf0.01's documents and a fixed-size subset at sf0.1 (filter now
    # applied BELOW the fixture's Arrow kernel, where pushdown can't reach)
    media = _dhash_fixture(spark, sf_dir, max_id=2000)
    # EAGER: state and new are two branches of the same Arrow kernel
    # output and the incremental op references each more than once —
    # without materialization the analytic fixture + hash kernel
    # recompute per branch (measured 2.6x). 16 B/item, driver-safe.
    hashes = MM.image_dhash(media).localCheckpoint(eager=True)
    state = hashes.where(F.col("media_id") % 2 == 0)
    new = hashes.where(F.col("media_id") % 2 == 1)
    pairs = hash64_hamming_pairs_incremental(
        state, new, "dhash", "media_id", bands=4, max_hamming=3)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


SQL_IMAGE_DHASH_INCREMENTAL = (
    "WITH " + _SQL_DHASH_CTE
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(CAST(xor(a.hi, b.hi) AS BIGINT))
            + bit_count(CAST(xor(a.lo, b.lo) AS BIGINT)) AS INT) AS hamming
FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.hi, b.hi) AS BIGINT))
      + bit_count(CAST(xor(a.lo, b.lo) AS BIGINT)) <= 3
  AND (a.doc_id % 2 = 1 OR b.doc_id % 2 = 1)
  AND a.doc_id < 2000 AND b.doc_id < 2000
"""
)


def q_video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup fingerprint (round 10): per-frame dHash folded by
    bit-wise majority across sampled frames (multimodal.video_fingerprint
    — order-invariant, noise-tolerant, one hash agg per video). The
    oracle recomputes every frame's 64 gradient bits AND the 2-of-4
    majority fold analytically."""
    from peerdb_spark.functions import multimodal as MM

    frames = _video_frames_fixture(spark, sf_dir)
    return MM.video_fingerprint(frames).select(
        "media_id", "n_frames", "vhash_hex")


SQL_VIDEO_FINGERPRINT = (
    "WITH " + _SQL_VHASH_CTE
    + """
SELECT doc_id AS media_id, CAST(4 AS INT) AS n_frames,
       printf('%08x%08x', hi, lo) AS vhash_hex
FROM vhashes
"""
)


def q_video_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup pairs (round 10): majority-dHash fingerprints
    through the SAME hamming-LSH banding engine as text/image/audio
    (dedup.hash64_hamming_pairs — the fourth modality on one verified
    engine). Variants 0-2 of each group are fingerprint-identical,
    variant 3 sits within a few bits; the oracle brute-forces exact
    hamming <= 3 over the recomputed fingerprints (complete by
    pigeonhole, so banding must return exactly that set)."""
    from peerdb_spark.functions import multimodal as MM
    from peerdb_spark.functions.dedup import hash64_hamming_pairs

    frames = _video_frames_fixture(spark, sf_dir)
    fp = MM.video_fingerprint(frames)
    pairs = hash64_hamming_pairs(fp, "vhash", "media_id",
                                 bands=4, max_hamming=3)
    return pairs.select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


SQL_VIDEO_FINGERPRINT_DUPS = (
    "WITH " + _SQL_VHASH_CTE
    + """
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(CAST(xor(a.hi, b.hi) AS BIGINT))
            + bit_count(CAST(xor(a.lo, b.lo) AS BIGINT)) AS INT) AS hamming
FROM vhashes a JOIN vhashes b ON a.doc_id < b.doc_id
WHERE bit_count(CAST(xor(a.hi, b.hi) AS BIGINT))
      + bit_count(CAST(xor(a.lo, b.lo) AS BIGINT)) <= 3
"""
)


def q_media_h264_cavlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CAVLC intra H.264 (round 10, functions/h264.py + h264_cavlc.py):
    real entropy-coded I_16x16 pictures encode and decode through the
    engine's Arrow ops, and the relation pins H.264's codec CONTRACT —
    decoder output equals the encoder's own reconstruction bit-exactly
    (`recon_match`) — plus real compression (`compressed`: the stream
    beats half the raw YUV size) and the cropped dims. The pixel content
    is lossy by design, so the oracle pins the booleans and structure
    (mb_mode='mixed': alternating I_16x16 / I_NxN macroblocks, so the
    driver-verified path covers both residual layouts and the
    cross-type neighbour rules);
    the strong pins (published CAVLC worked example, transform matrix
    equivalence, hand-built I_NxN vectors, mixed PCM/CAVLC fallback) live
    in tests/test_h264_intra.py — see h264_cavlc.py for the honest
    verification posture on the VLC tables.

    Round 11 (verdict #4): classes 4-7 switch to a DENSE noise texture
    measured to need a TotalCoeff>=14 coeff_token (an entry absent from
    the r10 tables — under them this exact content forces an I_PCM
    fallback, pinned by test_busy_block_needs_r11_tails), and the
    relation gains `pcm_mbs` pinned to 0: the driver now certifies the
    completed Table 9-5 tails keep busy blocks entropy-coded while
    recon-match and compression still hold.

    Fixture-cost discipline: 8 broadcast exemplar classes (media_id % 8),
    per-media rows joined back (the r9 MJPEG / r10 progressive-JPEG
    shape)."""
    from peerdb_spark.functions import multimodal as MM

    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    rows = docs.where(F.col("doc_id") % 5 == 2).select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 8).alias("_cls"),
    )
    cid = F.col("media_id")  # class id 0..7 in the exemplar frame
    cls = spark.range(8).select(F.col("id").alias("media_id"))
    w = (F.lit(16) + (cid % 2) * 8).cast("int")
    h = F.lit(16).cast("int")
    n_bytes = w.cast("long") * h * 3
    # classes 0-3: gray non-wrapping ramp + mild (x·y mod 3) texture — DC +
    # small AC everywhere (the r10 shape). Classes 4-7: dense pseudo-noise
    # (±30 around mid-gray) whose 4x4 residuals reach TotalCoeff 14 — the
    # Table 9-5 tail rows completed in r11 — while still compressing ~2.8x
    # vs raw YUV at qp 26.
    def px(i):
        x = F.floor((i % (w * 3)) / 3)
        y = F.floor(i / (w * 3))
        smooth = cid * 10 + x * 4 + y * 2 + (x * y % 3) * 6
        dense = F.lit(98) + F.pmod(
            x * 53 + y * 97 + x * y * 31 + cid * 13, F.lit(61))
        return F.when(cid >= 4, dense).otherwise(smooth)

    content = F.unhex(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), n_bytes - 1),
                lambda i: F.lpad(F.lower(F.hex(px(i))), 2, "0"),
            ),
            "",
        )
    )
    media = cls.select(
        "media_id", content.alias("content"),
        F.struct(
            F.lit("image/raw-rgb").alias("mime"), w.alias("width"),
            h.alias("height"), F.lit(None).cast("long").alias("duration_ms"),
            F.lit("rgb").alias("codec"),
        ).alias("meta"),
    )
    chk = MM.h264_cavlc_roundtrip_check(media, qp=26, mb_mode="mixed").select(
        F.col("media_id").alias("_cls"), "width", "height",
        "recon_match", "compressed", "pcm_mbs",
    )
    return rows.join(F.broadcast(chk), "_cls").select(
        "media_id", "width", "height", "recon_match", "compressed", "pcm_mbs")


SQL_MEDIA_H264_CAVLC = """
SELECT doc_id AS media_id,
       CAST(16 + (doc_id % 2) * 8 AS INT) AS width,
       CAST(16 AS INT) AS height,
       TRUE AS recon_match,
       TRUE AS compressed,
       CAST(0 AS INT) AS pcm_mbs
FROM documents WHERE doc_id % 5 = 2
"""


def _h264_gop_gate(
    spark: SparkSession,
    sf_dir: str,
    residue: int,
    n_frames: int,
    shift: int,
    delta_on: Callable[[Column], Column],
    duration_ms: int,
    check: Callable[[DataFrame], DataFrame],
    pins: list[str],
) -> DataFrame:
    """Fixture of the P- and B-slice gates: 8 broadcast exemplar classes
    (media_id % 8) of `n_frames`-frame raw-RGB GOPs, round-tripped by
    `check`, joined back to the doc_id % 5 == residue media rows.

    Frame f is the DENSE noise base (the CAVLC gate's texture — expensive
    to intra-code, so temporal gain is measurable) translated right by
    shift·f px (wrap), plus a sparse +6 delta on the frames `delta_on`
    selects."""
    docs = ensure_parallelism(_t(spark, sf_dir, "documents")[0])
    rows = docs.where(F.col("doc_id") % 5 == residue).select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 8).alias("_cls"),
    )
    cid = F.col("media_id")  # class id 0..7 in the exemplar frame
    cls = spark.range(8).select(F.col("id").alias("media_id"))
    w = (F.lit(32) + (cid % 2) * 16).cast("int")
    h = F.lit(32).cast("int")
    fbytes = w.cast("long") * h * 3
    n_bytes = fbytes * n_frames

    def px(i):
        f = F.floor(i / fbytes)
        rem = i % fbytes
        x = F.floor((rem % (w * 3)) / 3)
        y = F.floor(rem / (w * 3))
        xs = F.pmod(x - f * shift, w)
        base = F.lit(98) + F.pmod(
            xs * 53 + y * 97 + xs * y * 31 + cid * 13, F.lit(61))
        delta = F.when(delta_on(f) & ((x + y) % 9 == 0), 6).otherwise(0)
        return base + delta

    content = F.unhex(
        F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), n_bytes - 1),
                lambda i: F.lpad(F.lower(F.hex(px(i))), 2, "0"),
            ),
            "",
        )
    )
    media = cls.select(
        "media_id", content.alias("content"),
        F.struct(
            F.lit("video/raw-rgb").alias("mime"), w.alias("width"),
            h.alias("height"), F.lit(duration_ms).cast("long").alias("duration_ms"),
            F.lit("rgb").alias("codec"),
        ).alias("meta"),
    )
    chk = check(media).select(
        F.col("media_id").alias("_cls"), "width", "height", "n_frames", *pins,
    )
    return rows.join(F.broadcast(chk), "_cls").select(
        "media_id", "width", "height", "n_frames", *pins)


def q_media_h264_pslice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P-slice H.264 (round 11, h264_inter.py + encode_h264_gop): 3-frame
    raw-RGB GOPs — base texture, a 4-px translation, the translation plus
    a sparse luma delta — encode as IDR + 2 P pictures (P_Skip /
    P_L0_16x16, integer-search motion compensation against the previous
    RECONSTRUCTION) and decode back through the engine's Arrow op. The
    relation pins the codec contract per media: `recon_match` (decoder ==
    encoder reconstruction bit-exactly for all 3 frames), `compressed`
    (GOP beats half raw YUV), `p_gain` (the P tail averages under half
    the I frame — TEMPORAL compression actually happened; an encoder that
    fell back to intra coding would fail this), and `pcm_mbs` = 0. The
    strong pins (scalar spec-formula interpolation reference, MV rule
    vectors, skip/PCM corners) live in tests/test_h264_pslice.py.

    Fixture-cost discipline: 8 broadcast exemplar classes (media_id % 8),
    per-media rows joined back."""
    from peerdb_spark.functions import multimodal as MM

    # P1 is almost pure motion (seam columns only), P2 motion + a small
    # residual. qp 8 keeps the reference reconstruction near-lossless so
    # motion compensation lands exactly (at high qp a P frame legitimately
    # re-encodes the reference's quantization error).
    return _h264_gop_gate(
        spark, sf_dir, residue=3, n_frames=3, shift=4,
        delta_on=lambda f: f == 2, duration_ms=120,
        check=lambda media: MM.h264_gop_roundtrip_check(media, qp=8, search=8),
        pins=["recon_match", "compressed", "p_gain", "pcm_mbs"])


SQL_MEDIA_H264_PSLICE = """
SELECT doc_id AS media_id,
       CAST(32 + (doc_id % 2) * 16 AS INT) AS width,
       CAST(32 AS INT) AS height,
       CAST(3 AS INT) AS n_frames,
       TRUE AS recon_match,
       TRUE AS compressed,
       TRUE AS p_gain,
       CAST(0 AS INT) AS pcm_mbs
FROM documents WHERE doc_id % 5 = 3
"""


def q_media_h264_bslice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-slice H.264 (round 12, encode_h264_gop b_frames>0 +
    _decode_mb_b16/_decode_mb_bskip): 5-frame raw-RGB GOPs encoded as
    IDR + P anchors + NON-REFERENCE B pictures between them (B_Skip /
    B_Direct_16x16 spatial direct, B_L0/B_L1/B_Bi explicit, default
    bipred averaging, POC-carrying slice headers) and decoded back
    through the engine's Arrow op. Pins per media: `recon_match`
    (decoder == encoder reconstruction for all 5 frames IN DISPLAY ORDER
    — the wire carries decode order, so POC reordering must round-trip),
    `compressed`, `b_gain` (B pictures average under half the I frame —
    bi-directional temporal compression really happened), `droppable`
    (stripping every nal_ref_idc==0 NAL leaves anchors decoding
    bit-exactly — no reference chain through a B picture), `pcm_mbs` = 0.
    The strong pins (spatial-direct derivation vectors, droppability,
    POC wrap, temporal-direct reject) live in tests/test_h264_bslice.py.

    Fixture-cost discipline: 8 broadcast exemplar classes (media_id % 8),
    per-media rows joined back."""
    from peerdb_spark.functions import multimodal as MM

    # 5 frames, I B P B P: the B frames sit mid-motion between their
    # anchors, so direct/bi modes get real work, and the delta on odd (B)
    # frames exercises B residual coding. qp 8 keeps reconstruction
    # near-lossless.
    return _h264_gop_gate(
        spark, sf_dir, residue=2, n_frames=5, shift=3,
        delta_on=lambda f: f % 2 == 1, duration_ms=200,
        check=lambda media: MM.h264_bgop_roundtrip_check(
            media, qp=8, search=8, b_frames=1),
        pins=["recon_match", "compressed", "b_gain", "droppable", "pcm_mbs"])


SQL_MEDIA_H264_BSLICE = """
SELECT doc_id AS media_id,
       CAST(32 + (doc_id % 2) * 16 AS INT) AS width,
       CAST(32 AS INT) AS height,
       CAST(5 AS INT) AS n_frames,
       TRUE AS recon_match,
       TRUE AS compressed,
       TRUE AS b_gain,
       TRUE AS droppable,
       CAST(0 AS INT) AS pcm_mbs
FROM documents WHERE doc_id % 5 = 2
"""
