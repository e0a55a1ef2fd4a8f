"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The pixel kernels are REAL numpy math over raw byte buffers (nearest-
neighbor resize, chunked channel statistics, strided frame sampling) run
inside Arrow-batched mapInPandas — the native payload format is raw
interleaved RGB (width·height·3 bytes) and raw PCM/frame sequences, so no
codec library is needed for the math itself. PNG and baseline JPEG payloads
decode for real via the from-scratch codecs in functions/png.py (stdlib
zlib + numpy filter math) and functions/jpeg.py (Huffman entropy decode +
numpy IDCT) — `decode_images` below. Video: MJPEG containers split/decode
fully (sample_frames_mjpeg) and H.264 Annex-B streams walk/sample by NAL
structure; I_PCM pictures decode bit-exact and (round 10) CAVLC intra
pictures (I_16x16/I_4x4 residuals, functions/h264.py + h264_cavlc.py)
decode too; the remaining codec-lib gates are CABAC entropy, inter
prediction and the in-loop deblocking filter.

Design notes for 100 TB of media:
- media rows are large; `spark.sql.files.maxPartitionBytes` and the
  `repartition(n)` before mapInPandas control batch memory, and the work is
  embarrassingly parallel.
- metadata (mime/width/height/duration) lives in a sibling struct column so
  filters prune on parquet statistics without touching bytes (column pruning:
  a query on metadata never reads the binary column's pages).
- feature extraction returns fixed-size float arrays → directly feeds
  functions.similarity.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_META = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("codec", T.StringType()),
    ]
)

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("meta", MEDIA_META),
    ]
)

FEATURE_DIM = 16

try:  # compressed-format decoders, if ever present
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except ImportError:
    HAVE_PIL = False


def decode_encoded(content: bytes, mime: str) -> bytes:
    """Decode a COMPRESSED image payload to a raw RGB buffer.

    PNG and JPEG (baseline + progressive) decode for real — from-scratch
    codecs (functions/png.py: chunk CRCs, all five scanline filters,
    gray/RGB/palette/alpha color types; functions/jpeg.py: stream-carried
    Huffman tables, restart intervals, 4:4:4/4:2:2/4:2:0, SOF2) — so every
    kernel below runs on encoded payloads end-to-end; MJPEG video
    splits/decodes via sample_frames_mjpeg and H.264 streams walk/sample
    via sample_frames_h264 (I_PCM + CAVLC-intra decode). CABAC, inter
    prediction and in-loop deblocking remain gated behind a codec lib;
    raw `image/raw-rgb` passes through.
    """
    if mime in ("image/raw-rgb", "application/octet-stream"):
        return content
    if mime == "image/png":
        from peerdb_spark.functions.png import decode_png

        return decode_png(content)[2]
    if mime == "image/jpeg":
        from peerdb_spark.functions.jpeg import decode_jpeg

        return decode_jpeg(content)[2]
    raise NotImplementedError(
        f"decoding {mime!r} requires a codec library not present in this "
        "environment; store raw-rgb, PNG, or baseline-JPEG payloads"
    )


def decode_images(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id"
) -> DataFrame:
    """Encoded media → (media_id, content raw-RGB, meta rewritten) via
    Arrow-batched mapInPandas. Dimensions come from the DECODED stream
    (PNG IHDR), not trusted metadata; mime rewrites to image/raw-rgb so the
    downstream kernels (resize/features) compose directly. Raw-RGB rows
    pass through with their metadata intact."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("meta", MEDIA_META),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.jpeg import decode_jpeg
        from peerdb_spark.functions.png import decode_png

        for pdf in batches:
            contents, metas = [], []
            for c, mime, w0, h0, dur, codec in zip(
                pdf[content_col], pdf["_mime"], pdf["_w"], pdf["_h"],
                pdf["_dur"], pdf["_codec"],
            ):
                if mime in ("image/png", "image/jpeg"):
                    dec = decode_png if mime == "image/png" else decode_jpeg
                    w, h, rgb = dec(bytes(c))
                    contents.append(rgb)
                    metas.append(("image/raw-rgb", w, h, None, "rgb"))
                else:
                    contents.append(c)
                    metas.append((mime, w0, h0, dur, codec))
            yield _pd.DataFrame(
                {id_col: pdf[id_col], "content": contents, "meta": metas}
            )

    narrow = df.select(
        id_col,
        content_col,
        F.col("meta.mime").alias("_mime"),
        F.col("meta.width").alias("_w"),
        F.col("meta.height").alias("_h"),
        F.col("meta.duration_ms").alias("_dur"),
        F.col("meta.codec").alias("_codec"),
    )
    return narrow.mapInPandas(run, out_schema)


def encode_images_png(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
    vary_filters: bool = True,
) -> DataFrame:
    """raw-RGB media → PNG payloads (functions/png.py encoder) via Arrow
    batches; meta rewrites to image/png. `vary_filters` picks scanline
    filter (media_id + y) mod 5 so a corpus round-trips through ALL five
    PNG filter paths — the declared gate query uses exactly this to pin
    every unfilter branch against the analytic pixel oracle."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("meta", MEDIA_META),
        ]
    )
    vary = vary_filters

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.png import encode_png

        for pdf in batches:
            contents, metas = [], []
            for mid, c, w, h in zip(
                pdf[id_col], pdf[content_col], pdf["_w"], pdf["_h"]
            ):
                fr = (lambda y, m=mid: int(m + y) % 5) if vary else None
                contents.append(encode_png(bytes(c), int(w), int(h), fr))
                metas.append(("image/png", int(w), int(h), None, "png"))
            yield _pd.DataFrame(
                {id_col: pdf[id_col], "content": contents, "meta": metas}
            )

    narrow = df.select(
        id_col, content_col,
        F.col("meta.width").alias("_w"), F.col("meta.height").alias("_h"),
    )
    return narrow.mapInPandas(run, out_schema)


def encode_images_jpeg(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
    quality: int = 90, mode: str = "444", restart_interval: int = 0,
    progressive: bool = False,
) -> DataFrame:
    """raw-RGB media → JPEG payloads (functions/jpeg.py encoder) via Arrow
    batches; meta rewrites to image/jpeg. mode: 'gray'/'444'/'422'/'420';
    progressive=True writes SOF2 multi-scan streams (see encode_jpeg)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("meta", MEDIA_META),
        ]
    )
    q, m, ri, prog = quality, mode, restart_interval, progressive

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.jpeg import encode_jpeg

        for pdf in batches:
            contents, metas = [], []
            for c, w, h in zip(pdf[content_col], pdf["_w"], pdf["_h"]):
                contents.append(
                    encode_jpeg(bytes(c), int(w), int(h), q, m, ri,
                                progressive=prog)
                )
                metas.append(("image/jpeg", int(w), int(h), None, "jpeg"))
            yield _pd.DataFrame(
                {id_col: pdf[id_col], "content": contents, "meta": metas}
            )

    narrow = df.select(
        id_col, content_col,
        F.col("meta.width").alias("_w"), F.col("meta.height").alias("_h"),
    )
    return narrow.mapInPandas(run, out_schema)


def encode_frames_h264(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
    codec: str = "ipcm", qp: int = 26,
) -> DataFrame:
    """raw-RGB media → single-picture H.264 Annex-B streams
    (functions/h264.py encoder) via Arrow batches; meta rewrites to
    video/h264. codec='ipcm' (default, lossless raw-sample MBs) or
    'cavlc' (round 10: real entropy-coded I_16x16 residuals at `qp`,
    per-MB I_PCM fallback outside the pinned CAVLC token subset). Concatenating the outputs of several rows yields a valid
    multi-picture elementary stream (each carries its own SPS/PPS + IDR)
    — the assembly pattern the h264 gate query uses, mirroring MJPEG.
    RGB→YCbCr is the JFIF matrix with 2×2 box-average 4:2:0 chroma; a
    gray input (r==g==b) maps to Y==r, Cb==Cr==128 exactly, which is the
    analytically-checkable path the oracle pins."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("meta", MEDIA_META),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        from peerdb_spark.functions.h264 import (
            encode_h264_cavlc,
            encode_h264_ipcm,
        )

        for pdf in batches:
            contents, metas = [], []
            for c, w, h in zip(pdf[content_col], pdf["_w"], pdf["_h"]):
                w, h = int(w), int(h)
                img = np.frombuffer(bytes(c), dtype=np.uint8).reshape(
                    h, w, 3).astype(np.float64)
                r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
                y = np.clip(np.round(
                    0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
                cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
                cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
                # 2×2 box-average 4:2:0 (pad odd edges by replication)
                def sub(p):
                    ph = np.pad(p, ((0, h % 2), (0, w % 2)), mode="edge")
                    q = ph.reshape(ph.shape[0] // 2, 2,
                                   ph.shape[1] // 2, 2).mean(axis=(1, 3))
                    return np.clip(np.round(q), 0, 255).astype(np.uint8)

                planes = [(y.astype(np.uint8), sub(cb), sub(cr))]
                if codec == "cavlc":
                    contents.append(encode_h264_cavlc(planes, w, h, qp=qp))
                else:
                    contents.append(encode_h264_ipcm(planes, w, h))
                metas.append(("video/h264", w, h, None, "h264"))
            yield _pd.DataFrame(
                {id_col: pdf[id_col], "content": contents, "meta": metas}
            )

    narrow = df.select(
        id_col, content_col,
        F.col("meta.width").alias("_w"), F.col("meta.height").alias("_h"),
    )
    return narrow.mapInPandas(run, out_schema)


def h264_cavlc_roundtrip_check(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
    qp: int = 26, mb_mode: str = "i16",
) -> DataFrame:
    """(id, raw-RGB content, meta) → (id, width, height, recon_match,
    compressed): CAVLC-encode each media (encode_h264_cavlc, I_16x16
    residuals), decode the stream back, and compare the decoded planes to
    the encoder's own reconstruction — H.264's bit-exact
    encoder-reconstruction == decoder-output contract surfaced as a
    queryable relation (the round-10 gate pins both booleans TRUE).
    `compressed` asserts the entropy-coded stream beats half the raw YUV
    size at the given qp. `pcm_mbs` counts macroblocks the encoder fell
    back to I_PCM for — 0 since the round-11 Table 9-5 tail completion
    even on dense high-TotalCoeff content (the gate pins it)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("recon_match", T.BooleanType()),
            T.StructField("compressed", T.BooleanType()),
            T.StructField("pcm_mbs", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        from peerdb_spark.functions.h264 import (
            decode_h264_yuv,
            encode_h264_cavlc,
        )

        for pdf in batches:
            ws, hs, matches, comps, pcms = [], [], [], [], []
            for c, w, h in zip(pdf[content_col], pdf["_w"], pdf["_h"]):
                w, h = int(w), int(h)
                img = np.frombuffer(bytes(c), dtype=np.uint8).reshape(
                    h, w, 3).astype(np.float64)
                r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
                y = np.clip(np.round(
                    0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
                cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
                cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b

                def sub(p):
                    ph = np.pad(p, ((0, h % 2), (0, w % 2)), mode="edge")
                    q = ph.reshape(ph.shape[0] // 2, 2,
                                   ph.shape[1] // 2, 2).mean(axis=(1, 3))
                    return np.clip(np.round(q), 0, 255).astype(np.uint8)

                planes = [(y.astype(np.uint8), sub(cb), sub(cr))]
                stream, recons, stats = encode_h264_cavlc(
                    planes, w, h, qp=qp, return_recon=True, mb_mode=mb_mode,
                    return_stats=True)
                outs = decode_h264_yuv(stream)
                ok = len(outs) == 1
                if ok:
                    _w2, _h2, dy, dcb, dcr = outs[0]
                    ry, rcb, rcr = recons[0]
                    ok = (_w2 == w and _h2 == h and (dy == ry).all()
                          and (dcb == rcb).all() and (dcr == rcr).all())
                ws.append(w)
                hs.append(h)
                matches.append(bool(ok))
                comps.append(len(stream) * 2 < w * h * 3 // 2)
                pcms.append(int(stats[0]["pcm_mbs"]))
            yield _pd.DataFrame(
                {id_col: pdf[id_col], "width": ws, "height": hs,
                 "recon_match": matches, "compressed": comps,
                 "pcm_mbs": pcms})

    narrow = df.select(
        id_col, content_col,
        F.col("meta.width").alias("_w"), F.col("meta.height").alias("_h"),
    )
    return narrow.mapInPandas(run, out_schema)


def h264_gop_roundtrip_check(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
    qp: int = 26, search: int = 8,
) -> DataFrame:
    """(id, raw-RGB VIDEO content = n_frames x (w*h*3) bytes, meta) →
    (id, width, height, n_frames, recon_match, compressed, p_gain,
    pcm_mbs): encode the frames as an IDR + P GOP (encode_h264_gop —
    round 11 §8.4 inter prediction: P_Skip / P_L0_16x16 motion
    compensation against the previous reconstruction), decode the stream
    back, and surface the codec contract as a queryable relation:
    `recon_match` = decoder output equals the encoder reconstruction
    bit-exactly for EVERY frame; `compressed` = the whole GOP beats half
    the raw YUV size; `p_gain` = the P tail averages under half the
    I frame's bytes (real temporal compression, the point of P frames);
    `pcm_mbs` = I_PCM fallbacks across all frames (0 on the gate fixture).
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("recon_match", T.BooleanType()),
            T.StructField("compressed", T.BooleanType()),
            T.StructField("p_gain", T.BooleanType()),
            T.StructField("pcm_mbs", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        from peerdb_spark.functions.h264 import (
            decode_h264_yuv,
            encode_h264_cavlc,
            encode_h264_gop,
        )

        def to_yuv(img, w, h):
            r = img[:, :, 0].astype(np.float64)
            g = img[:, :, 1].astype(np.float64)
            b = img[:, :, 2].astype(np.float64)
            y = np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
            cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
            cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b

            def sub(p):
                ph = np.pad(p, ((0, h % 2), (0, w % 2)), mode="edge")
                q = ph.reshape(ph.shape[0] // 2, 2,
                               ph.shape[1] // 2, 2).mean(axis=(1, 3))
                return np.clip(np.round(q), 0, 255).astype(np.uint8)

            return (y.astype(np.uint8), sub(cb), sub(cr))

        for pdf in batches:
            ws, hs, nfs, matches, comps, gains, pcms = ([] for _ in range(7))
            for c, w, h in zip(pdf[content_col], pdf["_w"], pdf["_h"]):
                w, h = int(w), int(h)
                buf = np.frombuffer(bytes(c), dtype=np.uint8)
                fsz = w * h * 3
                n = len(buf) // fsz
                frames = [
                    to_yuv(buf[k * fsz:(k + 1) * fsz].reshape(h, w, 3), w, h)
                    for k in range(n)
                ]
                stream, recons, stats = encode_h264_gop(
                    frames, w, h, qp=qp, search=search,
                    return_recon=True, return_stats=True)
                outs = decode_h264_yuv(stream)
                ok = len(outs) == n
                if ok:
                    for k in range(n):
                        _w2, _h2, dy, dcb, dcr = outs[k]
                        ry, rcb, rcr = recons[k]
                        ok = ok and _w2 == w and _h2 == h and \
                            (dy == ry).all() and (dcb == rcb).all() and \
                            (dcr == rcr).all()
                i_len = len(encode_h264_cavlc(frames[:1], w, h, qp=qp,
                                              mb_mode="i16"))
                p_tail = len(stream) - i_len
                ws.append(w)
                hs.append(h)
                nfs.append(n)
                matches.append(bool(ok))
                comps.append(len(stream) * 2 < n * (w * h * 3 // 2))
                gains.append(n > 1 and p_tail * 2 < i_len * (n - 1))
                pcms.append(int(sum(s["pcm_mbs"] for s in stats)))
            yield _pd.DataFrame(
                {id_col: pdf[id_col], "width": ws, "height": hs,
                 "n_frames": nfs, "recon_match": matches,
                 "compressed": comps, "p_gain": gains, "pcm_mbs": pcms})

    narrow = df.select(
        id_col, content_col,
        F.col("meta.width").alias("_w"), F.col("meta.height").alias("_h"),
    )
    return narrow.mapInPandas(run, out_schema)


def h264_bgop_roundtrip_check(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
    qp: int = 26, search: int = 8, b_frames: int = 1,
) -> DataFrame:
    """(id, raw-RGB VIDEO content, meta) → (id, width, height, n_frames,
    recon_match, compressed, b_gain, droppable, pcm_mbs): encode as an
    IDR + P-anchor + non-reference B GOP (encode_h264_gop b_frames>0 —
    round 12 §8.4 bi-prediction + spatial direct), decode, and surface
    the B contract as a relation:
      recon_match — decoder output equals encoder reconstruction
        bit-exactly for every frame IN DISPLAY ORDER (the stream carries
        decode order; POC reordering must round-trip);
      compressed  — whole GOP beats half the raw YUV size;
      b_gain      — the B pictures average under half the I frame's
        bytes (bi-directional temporal compression actually happened);
      droppable   — stripping every nal_ref_idc==0 NAL leaves a stream
        whose anchors still decode bit-exactly (no reference chain runs
        through a B picture — temporal scalability);
      pcm_mbs     — I_PCM fallbacks across all frames (0 on the gate
        fixture)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_frames", T.IntegerType()),
            T.StructField("recon_match", T.BooleanType()),
            T.StructField("compressed", T.BooleanType()),
            T.StructField("b_gain", T.BooleanType()),
            T.StructField("droppable", T.BooleanType()),
            T.StructField("pcm_mbs", T.IntegerType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        from peerdb_spark.functions.h264 import (
            decode_h264_yuv,
            encode_h264_gop,
            split_nals,
        )

        def to_yuv(img, w, h):
            r = img[:, :, 0].astype(np.float64)
            g = img[:, :, 1].astype(np.float64)
            b = img[:, :, 2].astype(np.float64)
            y = np.clip(np.round(0.299 * r + 0.587 * g + 0.114 * b), 0, 255)
            cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
            cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b

            def sub(p):
                ph = np.pad(p, ((0, h % 2), (0, w % 2)), mode="edge")
                q = ph.reshape(ph.shape[0] // 2, 2,
                               ph.shape[1] // 2, 2).mean(axis=(1, 3))
                return np.clip(np.round(q), 0, 255).astype(np.uint8)

            return (y.astype(np.uint8), sub(cb), sub(cr))

        for pdf in batches:
            cols = {k: [] for k in ("width", "height", "n_frames",
                                    "recon_match", "compressed", "b_gain",
                                    "droppable", "pcm_mbs")}
            for c, w, h in zip(pdf[content_col], pdf["_w"], pdf["_h"]):
                w, h = int(w), int(h)
                buf = np.frombuffer(bytes(c), dtype=np.uint8)
                fsz = w * h * 3
                n = len(buf) // fsz
                frames = [
                    to_yuv(buf[k * fsz:(k + 1) * fsz].reshape(h, w, 3), w, h)
                    for k in range(n)
                ]
                stream, recons, stats = encode_h264_gop(
                    frames, w, h, qp=qp, search=search, b_frames=b_frames,
                    return_recon=True, return_stats=True)
                outs = decode_h264_yuv(stream)
                ok = len(outs) == n
                if ok:
                    for k in range(n):
                        _w2, _h2, dy, dcb, dcr = outs[k]
                        ry, rcb, rcr = recons[k]
                        ok = ok and _w2 == w and _h2 == h and \
                            (dy == ry).all() and (dcb == rcb).all() and \
                            (dcr == rcr).all()
                # per-picture byte accounting straight off the wire:
                # non-reference NALs (ref_idc 0) are the B pictures
                i_len = b_total = 0
                kept = bytearray()
                for nal_type, s0, e0 in split_nals(stream):
                    sz = (e0 - s0) + 4
                    ref_idc = (stream[s0] >> 5) & 3
                    if nal_type == 5:
                        i_len += sz
                    if nal_type in (1, 5) and ref_idc == 0:
                        b_total += sz
                        continue
                    kept += b"\x00\x00\x00\x01" + stream[s0:e0]
                n_b = sum(1 for s in stats if s.get("kind") == "B")
                anchor_recons = [r for r, s in zip(recons, stats)
                                 if s.get("kind") != "B"]
                drop_ok = False
                try:
                    outs2 = decode_h264_yuv(bytes(kept))
                    drop_ok = len(outs2) == len(anchor_recons) and all(
                        (o[2] == r[0]).all() and (o[3] == r[1]).all()
                        and (o[4] == r[2]).all()
                        for o, r in zip(outs2, anchor_recons))
                except Exception:  # noqa: BLE001 — contract column, not a crash
                    drop_ok = False
                cols["width"].append(w)
                cols["height"].append(h)
                cols["n_frames"].append(n)
                cols["recon_match"].append(bool(ok))
                cols["compressed"].append(
                    len(stream) * 2 < n * (w * h * 3 // 2))
                cols["b_gain"].append(
                    n_b > 0 and b_total * 2 < i_len * n_b)
                cols["droppable"].append(bool(drop_ok))
                cols["pcm_mbs"].append(
                    int(sum(s["pcm_mbs"] for s in stats)))
            yield _pd.DataFrame({id_col: pdf[id_col], **cols})

    narrow = df.select(
        id_col, content_col,
        F.col("meta.width").alias("_w"), F.col("meta.height").alias("_h"),
    )
    return narrow.mapInPandas(run, out_schema)


def extract_features(df: DataFrame, content_col: str = "content",
                     id_col: str = "media_id", dim: int = FEATURE_DIM) -> DataFrame:
    """media → (media_id, feature array<float>) via Arrow-batched mapInPandas.

    REAL kernel: the byte buffer splits into `dim` contiguous chunks
    (chunk k = bytes[k·L//dim : (k+1)·L//dim]) and each feature is that
    chunk's mean byte value scaled to [0, 1] — the standard cheap
    content-signature for raw RGB/PCM buffers (a downsampled intensity
    profile). Pure integer sums divided once at the end, so the result is
    bit-restatable in ANSI SQL (the declared oracle recomputes the sums).
    Buffers shorter than `dim` (or empty) yield 0.0 for the empty chunks.

    The UDF boundary transfers only (id, content); metadata columns are
    pruned. Batches arrive as pandas DataFrames (Arrow); per batch the
    kernel is one numpy reduceat over the concatenated buffer bytes.
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    # self-contained closure: pickles BY VALUE so workers don't need
    # peerdb_spark importable (module-level refs pickle by reference)
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        def feats(content: bytes) -> list[float]:
            buf = np.frombuffer(content or b"", dtype=np.uint8).astype(np.int64)
            length = len(buf)
            if length >= dim:
                # chunk starts are strictly increasing when L >= dim, so one
                # vectorized reduceat computes all chunk sums
                starts = np.arange(dim) * length // dim
                lens = np.diff(np.append(starts, length))
                out = np.add.reduceat(buf, starts) / (lens * 255.0)
            else:  # degenerate short buffer: empty chunks stay 0.0
                out = np.zeros(dim)
                for k in range(dim):
                    lo, hi = k * length // dim, (k + 1) * length // dim
                    if hi > lo:
                        out[k] = buf[lo:hi].sum() / ((hi - lo) * 255.0)
            return [float(x) for x in out.astype(np.float32)]

        for pdf in batches:
            yield _pd.DataFrame(
                {id_col: pdf[id_col], "features": [feats(c) for c in pdf[content_col]]}
            )

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def resize_images(
    df: DataFrame,
    width: int,
    height: int,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """media → (media_id, content, meta) with nearest-neighbor-resampled
    raw-RGB payloads.

    REAL kernel: the source buffer (meta.width × meta.height × 3
    interleaved RGB bytes) reshapes to (h, w, 3) and resamples by integer
    nearest-neighbor index maps — sx = x·src_w // width, sy = y·src_h //
    height — one numpy fancy-index per image, no Python per-pixel loop.
    The output buffer is exactly width·height·3 bytes with metadata
    rewritten to the target dimensions. Integer index math makes the
    resample bit-restatable in the declared oracle SQL.

    Rows must be raw RGB with consistent metadata (len(content) ==
    meta.width·meta.height·3); anything else raises — malformed media
    belongs in a quarantine upstream, not silently passed through.
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
            T.StructField("meta", MEDIA_META),
        ]
    )
    target = (width, height)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        w, h = target

        def resize(content: bytes, src_w: int, src_h: int) -> bytes:
            buf = np.frombuffer(content, dtype=np.uint8)
            if src_w is None or src_h is None or len(buf) != src_w * src_h * 3:
                raise ValueError(
                    f"not a raw RGB buffer: len={len(buf)} dims={src_w}x{src_h}"
                )
            img = buf.reshape(src_h, src_w, 3)
            sy = (np.arange(h) * src_h) // h
            sx = (np.arange(w) * src_w) // w
            return img[sy][:, sx].tobytes()

        for pdf in batches:
            yield _pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "content": [
                        resize(c, sw, sh)
                        for c, sw, sh in zip(
                            pdf[content_col], pdf["_src_w"], pdf["_src_h"]
                        )
                    ],
                    "meta": [
                        ("image/raw-rgb", w, h, None, None) for _ in range(len(pdf))
                    ],
                }
            )

    narrow = df.select(
        id_col,
        content_col,
        F.col("meta.width").alias("_src_w"),
        F.col("meta.height").alias("_src_h"),
    )
    return narrow.mapInPandas(run, out_schema)


def sample_frames(
    df: DataFrame,
    frame_bytes: int,
    stride: int = 1,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Video frame extraction: content is a sequence of fixed-size raw
    frames (frame_bytes each); emit every `stride`-th frame as its own row
    (media_id, frame_idx, frame).

    REAL kernel: one numpy reshape to (n_frames, frame_bytes) and a strided
    slice — no per-frame Python loop, no copy until the Arrow hand-off. A
    trailing partial frame is dropped (a torn tail, not data). This is the
    raw-payload analogue of ffmpeg's `select=not(mod(n\\,k))` sampling; the
    stride math is integer-exact for the oracle.

    Scale: frames multiply the row count by n_frames/stride — the explode
    happens inside the Arrow batch, and downstream repartition controls
    memory. Pair with frame_sample_plan when only timestamps are needed
    (that path never reads a byte).
    """
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )

    if frame_bytes < 1:
        raise ValueError(f"frame_bytes must be >= 1, got {frame_bytes}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    fb, st = frame_bytes, stride

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        for pdf in batches:
            ids: list[int] = []
            idxs: list[int] = []
            frames: list[bytes] = []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                buf = np.frombuffer(c or b"", dtype=np.uint8)
                n = len(buf) // fb
                if n == 0:
                    continue
                arr = buf[: n * fb].reshape(n, fb)[::st]
                for j, fr in enumerate(arr):
                    ids.append(mid)
                    idxs.append(j * st)
                    frames.append(fr.tobytes())
            yield _pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": frames})

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def sample_frames_mjpeg(
    df: DataFrame,
    stride: int = 1,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Compressed-video frame extraction for MJPEG — raw concatenated
    JPEG streams (what .mjpeg files and multipart camera feeds carry,
    split by marker-structure walk: jpeg.split_mjpeg) AND AVI-wrapped
    MJPEG (vids/MJPG .avi files, split by the RIFF movi chunk index:
    functions/avi.py — r9), auto-detected per row. Skipped frames are
    never entropy-decoded either way; every `stride`-th frame decodes
    with the from-scratch JPEG codec and emits (media_id, frame_idx,
    width, height, frame) with frame as raw RGB.

    This is the compressed twin of sample_frames (fixed-size raw frames);
    H.264 elementary streams get the same treatment in sample_frames_h264
    (NAL structure walk + I_PCM decode). Arrow-batched
    mapInPandas; frames multiply rows inside the batch, downstream
    repartition controls memory — same scale shape as sample_frames."""
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )
    st = stride

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.avi import split_avi_frames
        from peerdb_spark.functions.jpeg import decode_jpeg, split_mjpeg

        for pdf in batches:
            ids, idxs, ws, hs, frames = [], [], [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(c or b"")
                if not blob:
                    continue
                # AVI-wrapped MJPEG (vids/MJPG): the RIFF movi chunks are
                # the frame index; raw concatenated MJPEG: marker walk
                if blob[:4] == b"RIFF" and blob[8:12] == b"AVI ":
                    ranges = split_avi_frames(blob)
                else:
                    ranges = split_mjpeg(blob)
                for j, (off, ln) in enumerate(ranges):
                    if j % st:
                        continue  # skipped frames are never entropy-decoded
                    w, h, rgb = decode_jpeg(blob[off : off + ln])
                    ids.append(mid)
                    idxs.append(j)
                    ws.append(w)
                    hs.append(h)
                    frames.append(rgb)
            yield _pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "width": ws, "height": hs,
                 "frame": frames}
            )

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def sample_frames_h264(
    df: DataFrame,
    stride: int = 1,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """Frame extraction over H.264 Annex-B elementary streams
    (functions/h264.py): picture boundaries come from the NAL structure
    walk (split_h264_frames — start codes + one exp-Golomb peek per VCL
    NAL, never the macroblock payloads), every `stride`-th picture decodes
    through the I_PCM path, and rows emit as (media_id, frame_idx, width,
    height, frame) with frame as raw RGB.

    Decode scope is the honest codec gate: pictures whose macroblocks are
    entropy-coded (CAVLC/CABAC residuals, inter prediction) raise
    NotImplementedError from the decoder — the structure walk, SPS/PPS
    parse, and sampling math above it work on ANY conforming stream, so
    counting/sampling plans (and I_PCM payloads end-to-end) are real.
    Same Arrow/mapInPandas scale shape as sample_frames_mjpeg."""
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )
    st = stride

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.h264 import (
            decode_h264,
            split_h264_frames,
            split_nals,
        )

        for pdf in batches:
            ids, idxs, ws, hs, frames = [], [], [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(c or b"")
                if not blob:
                    continue
                ranges = split_h264_frames(blob)
                if not ranges:
                    continue
                # parameter-set NALs (tiny) prepend to every sampled range
                # so each picture decodes independently of its neighbors;
                # DEDUPED — a stream that repeats SPS/PPS per picture
                # (our own concatenated form does) would otherwise make
                # every sampled decode re-parse N parameter sets
                seen: set[bytes] = set()
                ps_parts = []
                for t, s, e in split_nals(blob):
                    if t in (7, 8) and blob[s:e] not in seen:
                        seen.add(blob[s:e])
                        ps_parts.append(b"\x00\x00\x00\x01" + blob[s:e])
                ps = b"".join(ps_parts)
                for j, (off, end, _idr) in enumerate(ranges):
                    if j % st:
                        continue  # skipped pictures: never parsed past
                        # the walk's one exp-Golomb peek
                    w, h, rgb = decode_h264(ps + blob[off:end])[0]
                    ids.append(mid)
                    idxs.append(j)
                    ws.append(w)
                    hs.append(h)
                    frames.append(rgb)
            yield _pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "width": ws, "height": hs,
                 "frame": frames}
            )

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def sample_frames_mp4(
    df: DataFrame,
    stride: int = 1,
    content_col: str = "content",
    id_col: str = "media_id",
    keyframes_only: bool = False,
) -> DataFrame:
    """Frame extraction over MP4 containers (functions/mp4.py): the moov
    sample tables ARE the frame index (stsz/stsc/stco resolved to byte
    ranges, stss marking keyframes) — no payload byte of a skipped sample
    is ever touched — and every selected sample converts length-prefixed
    NALs to Annex-B (avcC SPS/PPS prepended) and decodes through the
    H.264 I_PCM path. keyframes_only=True restricts to stss sync samples
    BEFORE striding (the classic thumbnail/sampling plan). Emits
    (media_id, frame_idx, width, height, frame) like the MJPEG/H.264
    samplers; same Arrow scale shape."""
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("frame", T.BinaryType()),
        ]
    )
    st, kf = stride, keyframes_only

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.h264 import decode_h264
        from peerdb_spark.functions.mp4 import (
            mp4_sample_ranges,
            mp4_sample_to_annexb,
            parse_mp4,
        )

        for pdf in batches:
            ids, idxs, ws, hs, frames = [], [], [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(c or b"")
                if not blob:
                    continue
                video = [
                    t for t in parse_mp4(blob)["tracks"]
                    if t.get("codec") in ("avc1", "avc3")
                ]
                if not video:
                    continue
                trk = video[0]
                ranges = mp4_sample_ranges(trk)
                if kf:
                    ranges = [
                        (i, r) for i, r in enumerate(ranges) if r[2]
                    ]
                else:
                    ranges = list(enumerate(ranges))
                for j, (i, (off, size, _sync, _dts)) in enumerate(ranges):
                    if j % st:
                        continue  # skipped samples: index-only, no bytes
                    annexb = mp4_sample_to_annexb(blob, trk, off, size)
                    w, h, rgb = decode_h264(annexb)[0]
                    ids.append(mid)
                    idxs.append(i)
                    ws.append(w)
                    hs.append(h)
                    frames.append(rgb)
            yield _pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "width": ws, "height": hs,
                 "frame": frames}
            )

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def mux_frames_mp4(
    df: DataFrame, id_col: str = "media_id", frames_col: str = "frames",
) -> DataFrame:
    """(id, width, height, frames array<binary> of Annex-B pictures) →
    (id, content) MP4 containers via the minimal muxer
    (functions/mp4.py:encode_mp4_h264). The container twin of the MJPEG
    concat-aggregate: parameter sets hoist into avcC, one sample per
    picture, IDR samples marked in stss."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.mp4 import encode_mp4_h264

        for pdf in batches:
            ids, contents = [], []
            for mid, w, h, frames in zip(
                pdf[id_col], pdf["width"], pdf["height"], pdf[frames_col]
            ):
                ids.append(mid)
                contents.append(
                    encode_mp4_h264([bytes(f) for f in frames], int(w), int(h))
                )
            yield _pd.DataFrame({id_col: ids, "content": contents})

    return df.select(id_col, "width", "height", frames_col).mapInPandas(
        run, out_schema
    )


def explode_tar(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
    name_filter: str | None = None,
) -> DataFrame:
    """WebDataset .tar shards → one row per member: (media_id, name,
    sample_key, size, payload). sample_key is the name minus its final
    extension — the WebDataset convention grouping `000123.jpg` /
    `000123.json` / `000123.txt` into one training sample. name_filter
    (a substring, e.g. ".json") selects members from the HEADER INDEX
    before any payload byte is read (functions/tar.py:index_tar walks
    headers only), so pulling the captions out of an image shard costs
    headers + captions, not the images."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("sample_key", T.StringType()),
            T.StructField("size", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]
    )
    nf = name_filter

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.tar import extract_tar_member, index_tar

        for pdf in batches:
            ids, names, keys, sizes, payloads = [], [], [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(c or b"")
                if not blob:
                    continue
                for m in index_tar(blob):
                    if nf is not None and nf not in m["name"]:
                        continue  # filtered members: header-only cost
                    name = m["name"]
                    dot = name.rfind(".")
                    ids.append(mid)
                    names.append(name)
                    keys.append(name[:dot] if dot > 0 else name)
                    sizes.append(m["size"])
                    payloads.append(extract_tar_member(blob, m))
            yield _pd.DataFrame(
                {id_col: ids, "name": names, "sample_key": keys,
                 "size": sizes, "payload": payloads}
            )

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def explode_warc(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
) -> DataFrame:
    """WARC / .warc.gz blobs (Common Crawl layout) → one row per record:
    (media_id, rec_idx, warc_type, target_uri, http_status, body) with
    body the extracted HTTP payload for response records (NULL status and
    raw block otherwise) — the ingest step ahead of langid / quality /
    dedup over web crawls (functions/warc.py)."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("rec_idx", T.IntegerType()),
            T.StructField("warc_type", T.StringType()),
            T.StructField("target_uri", T.StringType()),
            T.StructField("http_status", T.IntegerType()),
            T.StructField("body", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.warc import parse_warc

        for pdf in batches:
            ids, idxs, types, uris, stats, bodies = [], [], [], [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(c or b"")
                if not blob:
                    continue
                for i, rec in enumerate(parse_warc(blob)):
                    ids.append(mid)
                    idxs.append(i)
                    types.append(rec["type"])
                    uris.append(rec.get("target_uri"))
                    stats.append(rec.get("http_status"))
                    bodies.append(rec.get("body", rec["block"]))
            yield _pd.DataFrame(
                {id_col: ids, "rec_idx": idxs, "warc_type": types,
                 "target_uri": uris, "http_status": stats, "body": bodies}
            )

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def image_dhash(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
) -> DataFrame:
    """Perceptual difference hash over raw-RGB media → (media_id, dhash
    bigint, dhash_hex) — the LAION-style image near-dup fingerprint.
    Integer-exact and therefore oracle-restatable: gray is the floor mean
    (r+g+b)//3, the 9×8 reduction is the same nearest-neighbor index math
    as media_resize (src = (i·src_dim)//dst_dim), and bit (y·8+x) is
    gray[y][x] > gray[y][x+1]. Pair with dedup.hash64_hamming_pairs for
    banded near-dup candidates (never all-pairs). Arrow mapInPandas, no
    shuffle."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("dhash", T.LongType()),
            T.StructField("dhash_hex", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        weights = (1 << np.arange(64, dtype=np.uint64)).reshape(8, 8)

        for pdf in batches:
            ids, hashes, hexes = [], [], []
            for mid, c, w, h in zip(
                pdf[id_col], pdf[content_col], pdf["_w"], pdf["_h"]
            ):
                w, h = int(w), int(h)
                img = np.frombuffer(bytes(c), dtype=np.uint8).reshape(h, w, 3)
                gray = img.astype(np.int64).sum(axis=2) // 3
                xs = (np.arange(9) * w) // 9
                ys = (np.arange(8) * h) // 8
                g = gray[np.ix_(ys, xs)]
                bits = (g[:, :-1] > g[:, 1:]).astype(np.uint64)
                val = int((bits * weights).sum())
                ids.append(mid)
                hashes.append(val - (1 << 64) if val >= (1 << 63) else val)
                hexes.append(f"{val:016x}")
            yield _pd.DataFrame(
                {id_col: ids, "dhash": hashes, "dhash_hex": hexes}
            )

    narrow = df.select(
        id_col, content_col,
        F.col("meta.width").alias("_w"), F.col("meta.height").alias("_h"),
    )
    return narrow.mapInPandas(run, out_schema)


def video_fingerprint(
    frames: DataFrame, id_col: str = "media_id",
    frame_col: str = "frame", width_col: str = "width",
    height_col: str = "height",
) -> DataFrame:
    """Frames relation (the output of any sample_frames_* — MJPEG, MP4,
    AVI, H.264) → per-video 64-bit fingerprint (round 10): per-frame
    dHash (image_dhash's exact integer math) folded by bit-wise MAJORITY
    across the sampled frames — order-invariant (robust to frame-rate
    resampling and trims) and noise-tolerant (one perturbed frame flips
    a bit only where the frame votes sat at the threshold). Extends the
    near-dup family to its fourth modality through the SAME banding
    engine: pair the output with dedup.hash64_hamming_pairs.

    Plan shape: one Arrow pass per frame row (no shuffle), then ONE
    map-side-combinable hash aggregation per video (64 bit-count sums) —
    no all-pairs stage anywhere; at 100 TB the frames relation is the
    expensive input and it is sampled upstream by stride."""
    per_frame = image_dhash(
        frames.select(
            F.col(id_col),
            F.col(frame_col).alias("content"),
            F.struct(
                F.lit("image/raw-rgb").alias("mime"),
                F.col(width_col).cast("int").alias("width"),
                F.col(height_col).cast("int").alias("height"),
                F.lit(None).cast("long").alias("duration_ms"),
                F.lit("rgb").alias("codec"),
            ).alias("meta"),
        ),
        id_col=id_col,
    )
    bit = lambda j: F.shiftrightunsigned(F.col("dhash"), j).bitwiseAND(1)  # noqa: E731
    agg = per_frame.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_nf"),
        *[F.sum(bit(j)).alias(f"_b{j}") for j in range(64)],
    )
    vhash = None
    for j in range(64):
        term = F.when(
            F.col(f"_b{j}") * 2 >= F.col("_nf"),
            F.shiftleft(F.lit(1).cast("long"), j),
        ).otherwise(F.lit(0).cast("long"))
        vhash = term if vhash is None else vhash + term
    return agg.select(
        F.col(id_col),
        F.col("_nf").cast("int").alias("n_frames"),
        vhash.alias("vhash"),
        F.lpad(F.lower(F.hex(vhash)), 16, "0").alias("vhash_hex"),
    )


def explode_jsonl(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
) -> DataFrame:
    """Compressed JSONL shards → one row per line: (media_id, line_idx,
    line) — the Pile/RedPajama corpus layout (.jsonl.gz / .jsonl.zst /
    plain). Compression auto-detects per blob by magic: gzip (stdlib,
    multi-member via zlib unused_data), zstd (libzstd through
    peerdb_spark/codecs, bounded at codecs.MAX_SIZE per blob), else plain
    bytes. Parse the JSON downstream
    with from_json (JVM-side) — this op only splits lines, keeping the
    UDF boundary minimal."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("line_idx", T.IntegerType()),
            T.StructField("line", T.StringType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark import codecs
        from peerdb_spark.functions.warc import split_gzip_members

        for pdf in batches:
            ids, idxs, lines = [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                blob = bytes(c or b"")
                if not blob:
                    continue
                if blob[:2] == b"\x1f\x8b":
                    raw = b"".join(split_gzip_members(blob))
                elif blob[:4] == b"\x28\xb5\x2f\xfd":
                    raw = codecs.decompress("zstd", blob)
                else:
                    raw = blob
                for i, ln in enumerate(raw.split(b"\n")):
                    if not ln.strip():
                        continue
                    ids.append(mid)
                    idxs.append(i)
                    lines.append(ln.decode("utf-8"))
            yield _pd.DataFrame(
                {id_col: ids, "line_idx": idxs, "line": lines}
            )

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def audio_fingerprint(
    df: DataFrame, frame_len: int = 16,
    content_col: str = "content", id_col: str = "media_id",
) -> DataFrame:
    """Audio near-dup fingerprint: WAV/FLAC → channel mixdown → per-frame
    sum-of-squares energies → 64 energy-DELTA bits (bit f = E[f+1] >
    E[f]; missing frames count as energy 0) → (media_id, fp bigint,
    fp_hex). The audio analogue of image_dhash — energy-delta signatures
    are amplitude-trend shapes, robust to sign flips and phase by
    construction (sum of squares), and integer-exact so the oracle
    recomputes every bit. Pair with dedup.hash64_hamming_pairs for
    banded near-dup candidates. Completes the modality triad: text
    (simhash/minhash), images (dHash), audio (this)."""
    if frame_len < 1:
        raise ValueError(f"frame_len must be >= 1, got {frame_len}")
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("fp", T.LongType()),
            T.StructField("fp_hex", T.StringType()),
        ]
    )
    fl = frame_len

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        import pandas as _pd

        from peerdb_spark.functions.audio import frame_features, parse_audio

        for pdf in batches:
            ids, fps, hexes = [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                _r, _ch, _b, samples = parse_audio(bytes(c))
                energies = [0] * 65
                for fi, _n, sq, _zc, _pk in frame_features(samples, fl):
                    if fi < 65:
                        energies[fi] = sq
                val = 0
                for f in range(64):
                    if energies[f + 1] > energies[f]:
                        val |= 1 << f
                ids.append(mid)
                fps.append(val - (1 << 64) if val >= (1 << 63) else val)
                hexes.append(f"{val:016x}")
            yield _pd.DataFrame({id_col: ids, "fp": fps, "fp_hex": hexes})

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def transcode_wav_flac(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
    block: int = 256,
) -> DataFrame:
    """WAV media → losslessly FLAC-compressed media (functions/flac.py:
    fixed-predictor + rice encoder). Bit-exactness is the format's own
    contract, which makes this the cheapest possible gate amplifier: any
    query downstream of decode must produce IDENTICAL results on the
    transcoded corpus — the audio_frame_energy_flac gate runs the same
    oracle as its WAV twin over FLAC bytes."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    blk = block

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.audio import parse_wav
        from peerdb_spark.functions.flac import encode_flac

        for pdf in batches:
            ids, contents = [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                rate, _ch, bits, samples = parse_wav(bytes(c))
                if bits not in (8, 16, 24, 32):
                    raise ValueError(f"cannot transcode {bits}-bit to FLAC")
                ids.append(mid)
                contents.append(encode_flac(samples, rate, bits, block=blk))
            yield _pd.DataFrame({id_col: ids, "content": contents})

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def mux_tar(
    df: DataFrame, id_col: str = "media_id", members_col: str = "members",
) -> DataFrame:
    """(id, members array<struct<name,payload>>) → (id, content) ustar
    shards (functions/tar.py:encode_tar, PAX long names included) — the
    WebDataset shard WRITER: group samples upstream (the exact shard
    assignment the corpus_shuffle_shards op computes), collect members,
    emit one .tar blob per shard."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.tar import encode_tar

        for pdf in batches:
            ids, contents = [], []
            for mid, members in zip(pdf[id_col], pdf[members_col]):
                ids.append(mid)
                contents.append(encode_tar(
                    [(m["name"], bytes(m["payload"])) for m in members]
                ))
            yield _pd.DataFrame({id_col: ids, "content": contents})

    return df.select(id_col, members_col).mapInPandas(run, out_schema)


def mux_warc(
    df: DataFrame, id_col: str = "media_id", records_col: str = "records",
    gzip_per_record: bool = True,
) -> DataFrame:
    """(id, records array<struct<warc_type,target_uri,http_status,body>>)
    → (id, content) WARC blobs in the Common Crawl layout (one gzip
    member per record) — the fixture/interop writer twin of explode_warc."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    gz = gzip_per_record

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.warc import encode_warc

        for pdf in batches:
            ids, contents = [], []
            for mid, records in zip(pdf[id_col], pdf[records_col]):
                recs = [
                    {"type": r["warc_type"],
                     "target_uri": r["target_uri"],
                     "http_status": int(r["http_status"]),
                     "http_headers": {"Content-Type": "text/html"},
                     "body": bytes(r["body"])}
                    for r in records
                ]
                ids.append(mid)
                contents.append(encode_warc(recs, gzip_per_record=gz))
            yield _pd.DataFrame({id_col: ids, "content": contents})

    return df.select(id_col, records_col).mapInPandas(run, out_schema)


def decode_audio(
    df: DataFrame, content_col: str = "content", id_col: str = "media_id",
) -> DataFrame:
    """WAV/FLAC media → (media_id, sample_rate, channels, bit_depth, n_samples,
    pcm) with pcm the decoded interleaved int32 little-endian buffer
    (functions/audio.py: PCM 8/16/24/32 + IEEE float, extensible headers,
    chunk-walk validation). The audio twin of decode_images: metadata
    comes from the DECODED stream, not trusted meta."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("bit_depth", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("pcm", T.BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.audio import parse_audio

        for pdf in batches:
            ids, rates, chs, bits_, ns, pcms = [], [], [], [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                rate, ch, bits, samples = parse_audio(bytes(c))
                ids.append(mid)
                rates.append(rate)
                chs.append(ch)
                bits_.append(bits)
                ns.append(samples.shape[0])
                pcms.append(samples.astype("<i4").tobytes())
            yield _pd.DataFrame(
                {id_col: ids, "sample_rate": rates, "channels": chs,
                 "bit_depth": bits_, "n_samples": ns, "pcm": pcms}
            )

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def audio_frame_features(
    df: DataFrame, frame_len: int = 400,
    content_col: str = "content", id_col: str = "media_id",
) -> DataFrame:
    """WAV/FLAC media → per-frame integer-exact features (media_id, frame_idx,
    n_samples, sum_sq, zero_crossings, peak) over the channel mixdown —
    the VAD/quality primitives of speech-corpus curation (energy gating,
    silence trimming, clipping detection), exactly restatable in SQL
    (the declared oracle recomputes every value). Arrow-batched; frames
    multiply rows inside the batch like the image frame samplers."""
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("sum_sq", T.LongType()),
            T.StructField("zero_crossings", T.IntegerType()),
            T.StructField("peak", T.IntegerType()),
        ]
    )
    fl = frame_len

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.audio import frame_features, parse_audio

        for pdf in batches:
            ids, idxs, ns, ss, zcs, pks = [], [], [], [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                _r, _ch, _b, samples = parse_audio(bytes(c))
                for fi, n, sq, zc, pk in frame_features(samples, fl):
                    ids.append(mid)
                    idxs.append(fi)
                    ns.append(n)
                    ss.append(sq)
                    zcs.append(zc)
                    pks.append(pk)
            yield _pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "n_samples": ns,
                 "sum_sq": ss, "zero_crossings": zcs, "peak": pks}
            )

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def resample_audio(
    df: DataFrame, dst_rate: int,
    content_col: str = "content", id_col: str = "media_id",
) -> DataFrame:
    """WAV/FLAC media → rate-normalized (media_id, sample_rate, channels,
    n_samples, pcm int32-LE) via exact-rational linear interpolation
    (functions/audio.py:resample_linear) — corpus ingest's sample-rate
    unifier. Arrow-batched mapInPandas."""
    if dst_rate < 1:
        raise ValueError(f"dst_rate must be >= 1, got {dst_rate}")
    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("sample_rate", T.IntegerType()),
            T.StructField("channels", T.IntegerType()),
            T.StructField("n_samples", T.IntegerType()),
            T.StructField("pcm", T.BinaryType()),
        ]
    )
    dr = dst_rate

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as _pd

        from peerdb_spark.functions.audio import parse_audio, resample_linear

        for pdf in batches:
            ids, rates, chs, ns, pcms = [], [], [], [], []
            for mid, c in zip(pdf[id_col], pdf[content_col]):
                rate, ch, _b, samples = parse_audio(bytes(c))
                out = resample_linear(samples, rate, dr)
                ids.append(mid)
                rates.append(dr)
                chs.append(ch)
                ns.append(out.shape[0])
                pcms.append(out.astype("<i4").tobytes())
            yield _pd.DataFrame(
                {id_col: ids, "sample_rate": rates, "channels": chs,
                 "n_samples": ns, "pcm": pcms}
            )

    return df.select(id_col, content_col).mapInPandas(run, out_schema)


def frame_sample_plan(df: DataFrame, every_ms: int = 1000,
                      id_col: str = "media_id") -> DataFrame:
    """Video frame-sampling plumbing: (media_id, frame_ts_ms) rows from the
    metadata duration — pure JVM explode; extracting the bytes of each
    planned frame is sample_frames above. Filters/limits push down before
    any byte is read."""
    return df.select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.lit(0),
                F.coalesce(F.col("meta.duration_ms"), F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Metadata-only aggregate — never touches the binary column (check the
    plan: ReadSchema excludes `content`)."""
    return df.groupBy(F.col("meta.mime").alias("mime")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("meta.width")).alias("avg_width"),
        F.sum(F.coalesce(F.col("meta.duration_ms"), F.lit(0))).alias("total_duration_ms"),
    )
