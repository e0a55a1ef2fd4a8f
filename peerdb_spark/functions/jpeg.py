"""Pure-Python JPEG codec (numpy DCT math, stdlib only — no PIL).

Implements the public JPEG standard (ITU-T T.81 / ISO 10918-1): baseline
sequential DCT (SOF0) AND progressive DCT (SOF2, spectral selection +
successive approximation per Annex G) — marker parsing (SOI/APPn/COM/DQT/
SOF0/SOF2/DHT/DRI/SOS/RSTn/EOI), Huffman entropy decode with
byte-destuffing and restart intervals, progressive coefficient
accumulation across scans (DC first/refine, AC first with EOB runs, AC
refine with correction bits), dequantization, zigzag, 8×8 IDCT via an
orthonormal cosine basis matrix, chroma upsampling, and JFIF YCbCr→RGB.
The encoder (for fixtures, tests, and JPEG sink output) writes grayscale,
4:4:4, 4:2:2, or 4:2:0 streams in either baseline or progressive form,
with Annex-K-style tables embedded in DQT/DHT — the decoder always reads
tables FROM the stream, so decode correctness never depends on any
built-in table. Progressive and baseline encodings carry the same
quantized coefficients, so both decode to byte-identical pixels — the
cross-check every progressive test pins.

Scope (strict rejects, never wrong pixels):
- Huffman entropy coding only; arithmetic coding and hierarchical SOFs
  raise NotImplementedError.
- 8-bit samples on SOF0; 8/12-bit on SOF1 (extended sequential) and SOF2;
  lossless (SOF3, Annex-H predictive, 2..16-bit, all seven predictors +
  point transform) decodes bit-exact with `encode_jpeg_lossless` /
  `decode_jpeg_lossless` exposing the raw-sample contract.
- 1-component (gray) and 3-component (YCbCr) DCT scans; any
  baseline-legal sampling layout where each factor divides the maxima.

Perf stance: the baseline entropy decode is table-driven — the scan is
destuffed and segment-split in one numpy pass, then each Huffman symbol
costs one 65536-entry list lookup on a 16-bit peek (no per-bit loop), and
all blocks reconstruct in one batched numpy dequant+IDCT per component
(~8× the per-bit dict-walk decoder it replaced, byte-identical output).
Restart segments are independently decodable by construction (byte-
aligned, predictors reset), so a future per-segment fan-out needs no
format work. The remaining per-symbol Python is the honest floor for a
pure-Python codec; a production 100 TB image pipeline can still plug a
codec lib into the same `multimodal.decode_encoded` entry point without
touching any Spark plumbing. Progressive scans use the same table-driven
reader and segment accounting (they are multi-pass by design, so the
per-scan destuff runs once per scan).
"""

from __future__ import annotations

import struct

import numpy as np

ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
]
_ZZ = np.array(ZIGZAG)

# Annex-K-style quantization tables (quality 50 base). These ship in the
# DQT segment; the decoder reads whatever the stream declares.
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)
QUANT_CHROMA = np.array(
    [17, 18, 24, 47, 99, 99, 99, 99,
     18, 21, 26, 66, 99, 99, 99, 99,
     24, 26, 56, 99, 99, 99, 99, 99,
     47, 66, 99, 99, 99, 99, 99, 99] + [99] * 32,
    dtype=np.int64,
)

# standard-shape Huffman specs (BITS, HUFFVAL). Embedded in DHT; only
# encode efficiency depends on them, never decode correctness.
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))


def _ac_vals() -> list[int]:
    """(run, size) symbol inventory covering every baseline AC symbol:
    EOB (0x00), ZRL (0xF0), and run 0-15 × size 1-10."""
    vals = [0x00, 0xF0]
    for size in range(1, 11):
        for run in range(16):
            vals.append((run << 4) | size)
    return vals


def _canonical_bits(nvals: int) -> list[int]:
    """A valid BITS histogram for `nvals` symbols: fill code lengths
    8..16 greedily (keeps every code ≤ 16 bits and the tree prefix-free)."""
    bits = [0] * 16
    remaining = nvals
    length = 8
    while remaining > 0 and length <= 16:
        # capacity heuristic: leave room for longer codes
        take = min(remaining, 1 << (length - 8)) if length < 16 else remaining
        bits[length - 1] = take
        remaining -= take
        length += 1
    if remaining:
        raise ValueError("too many huffman symbols")
    return bits


_AC_VALS = _ac_vals()
_AC_BITS = _canonical_bits(len(_AC_VALS))
# progressive scans additionally use EOBn symbols (r<<4, r=1..14: EOB runs
# of 2..32767 blocks); the baseline table stays untouched so SOF0 output
# is byte-stable
_AC_VALS_PROG = _AC_VALS + [r << 4 for r in range(1, 15)]
_AC_BITS_PROG = _canonical_bits(len(_AC_VALS_PROG))


def _build_codes(bits: list[int], vals: list[int]):
    """Canonical Huffman codes (T.81 Annex C): returns
    (decode {(length, code): symbol}, encode {symbol: (code, length)})."""
    decode, encode = {}, {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            sym = vals[k]
            decode[(length, code)] = sym
            encode[sym] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return decode, encode


# orthonormal 8-point DCT basis: C[u, x] = c(u)/2 * cos((2x+1)uπ/16)
_C = np.zeros((8, 8))
for _u in range(8):
    for _x in range(8):
        _c = (1 / np.sqrt(2)) if _u == 0 else 1.0
        _C[_u, _x] = _c / 2 * np.cos((2 * _x + 1) * _u * np.pi / 16)


def _fdct(block: np.ndarray) -> np.ndarray:
    return _C @ block @ _C.T


def _idct(coef: np.ndarray) -> np.ndarray:
    return _C.T @ coef @ _C


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)  # byte stuffing
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def pad_to_byte(self) -> None:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # 1-pad per spec

    def restart(self, idx: int) -> None:
        """Byte-align and emit RSTn (marker bytes are never stuffed)."""
        self.pad_to_byte()
        self.out += bytes([0xFF, 0xD0 + (idx % 8)])

    def flush(self) -> bytes:
        self.pad_to_byte()
        return bytes(self.out)


def _extend(v: int, size: int) -> int:
    """DC/AC magnitude sign extension (T.81 F.2.2.1)."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _magnitude(v: int) -> tuple[int, int]:
    """Inverse of _extend: value → (size, raw bits)."""
    if v == 0:
        return 0, 0
    size = int(v if v > 0 else -v).bit_length()
    raw = v if v >= 0 else v + (1 << size) - 1
    return size, raw


# -- encoder ------------------------------------------------------------------


def _scale_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg-convention quality scaling of a base table (public formula)."""
    quality = min(max(quality, 1), 100)
    s = 5000 // quality if quality < 50 else 200 - quality * 2
    q = (base * s + 50) // 100
    return np.clip(q, 1, 255).astype(np.int64)


def _encode_block(coefq: np.ndarray, dc_pred: int, w: _BitWriter,
                  dc_enc: dict, ac_enc: dict) -> int:
    """Quantized zigzag coefficients (len 64) → entropy bits; returns new
    DC predictor. Walks only the NONZERO AC positions (most blocks are
    sparse after quantization), deriving zero runs from index gaps."""
    dc = int(coefq[0])
    size, raw = _magnitude(dc - dc_pred)
    code, ln = dc_enc[size]
    w.write(code, ln)
    if size:
        w.write(raw, size)
    prev = 0
    for idx in np.nonzero(coefq[1:])[0]:
        k = int(idx) + 1
        run = k - prev - 1
        while run > 15:
            code, ln = ac_enc[0xF0]  # ZRL
            w.write(code, ln)
            run -= 16
        size, raw = _magnitude(int(coefq[k]))
        code, ln = ac_enc[(run << 4) | size]
        w.write(code, ln)
        w.write(raw, size)
        prev = k
    if prev < 63:
        code, ln = ac_enc[0x00]  # EOB
        w.write(code, ln)
    return dc


def _quantized_blocks(plane: np.ndarray, nbx: int, nby: int,
                      qz: np.ndarray) -> np.ndarray:
    """ALL 8×8 blocks of a plane → quantized zigzag coefficients
    (nby, nbx, 64): edge-pad once, one batched FDCT matmul pair
    (associated exactly like the per-block _fdct, (C @ X) @ C.T, so the
    quantized values — and therefore the encoded bytes — are identical to
    the per-block path this replaces), divide by the zigzag-ordered table,
    round."""
    h, w = plane.shape
    p = np.pad(plane, ((0, nby * 8 - h), (0, nbx * 8 - w)), mode="edge") - 128.0
    blocks = p.reshape(nby, 8, nbx, 8).transpose(0, 2, 1, 3)
    coef = np.matmul(np.matmul(_C, blocks), _C.T)
    zz = coef.reshape(nby, nbx, 64)[:, :, _ZZ]
    return np.round(zz / qz.astype(np.float64)).astype(np.int64)


def encode_jpeg(rgb: bytes, width: int, height: int, quality: int = 90,
                mode: str = "444", restart_interval: int = 0,
                progressive: bool = False) -> bytes:
    """RGB888 → baseline JPEG. mode: 'gray' (1 component, from luma),
    '444' (no subsampling), '422' (horizontal-only 2:1 chroma), or
    '420' (2×2 chroma box-average).
    restart_interval > 0 writes a DRI segment and RSTn markers every that
    many MCUs (DC predictors reset) — the resync machinery long scans use.
    progressive=True writes an SOF2 stream (spectral selection + one
    successive-approximation refinement pass) carrying the SAME quantized
    coefficients as the baseline encoding — decoded pixels are
    byte-identical to the SOF0 stream's at the same quality/mode."""
    if len(rgb) != width * height * 3:
        raise ValueError(f"rgb buffer is {len(rgb)} B, want {width * height * 3}")
    img = np.frombuffer(rgb, dtype=np.uint8).reshape(height, width, 3).astype(np.float64)
    r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b

    ql = _scale_quant(QUANT_LUMA, quality)
    qc = _scale_quant(QUANT_CHROMA, quality)
    if progressive:
        if restart_interval:
            raise ValueError("restart intervals unsupported in the "
                             "progressive encoder (decode supports them)")
        return _encode_progressive(width, height, mode, y, cb, cr, ql, qc)
    dc_dec, dc_enc = _build_codes(_DC_BITS, _DC_VALS)
    ac_dec, ac_enc = _build_codes(_AC_BITS, _AC_VALS)

    out = bytearray(b"\xff\xd8")  # SOI

    def seg(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload)

    # DQT (8-bit precision)
    seg(0xDB, b"\x00" + bytes(int(ql[z]) for z in ZIGZAG))
    if mode != "gray":
        seg(0xDB, b"\x01" + bytes(int(qc[z]) for z in ZIGZAG))

    # SOF0
    if mode == "gray":
        comps = [(1, 0x11, 0)]
    elif mode == "444":
        comps = [(1, 0x11, 0), (2, 0x11, 1), (3, 0x11, 1)]
    elif mode == "422":
        comps = [(1, 0x21, 0), (2, 0x11, 1), (3, 0x11, 1)]
    elif mode == "420":
        comps = [(1, 0x22, 0), (2, 0x11, 1), (3, 0x11, 1)]
    else:
        raise ValueError(f"unknown mode {mode!r}")
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for cid, samp, tq in comps:
        sof += struct.pack(">BBB", cid, samp, tq)
    seg(0xC0, sof)

    # DHT: table class/id 0x00 (DC0), 0x10 (AC0), 0x01, 0x11
    def dht(cls_id: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([cls_id] + bits) + bytes(vals)

    seg(0xC4, dht(0x00, _DC_BITS, _DC_VALS) + dht(0x10, _AC_BITS, _AC_VALS))
    if mode != "gray":
        seg(0xC4, dht(0x01, _DC_BITS, _DC_VALS) + dht(0x11, _AC_BITS, _AC_VALS))

    # SOS
    sos = bytes([len(comps)])
    for cid, _s, tq in comps:
        sos += bytes([cid, 0x00 if tq == 0 else 0x11])
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos += b"\x00\x3f\x00"
    seg(0xDA, sos)

    w = _BitWriter()
    mcu_done = 0
    rst_idx = 0

    total_mcus = 0  # set per mode below

    def maybe_restart(preds) -> None:
        # RST after each full interval, but never after the final MCU
        nonlocal mcu_done, rst_idx
        mcu_done += 1
        if (restart_interval and mcu_done % restart_interval == 0
                and mcu_done < total_mcus):
            w.restart(rst_idx)
            rst_idx += 1
            for i in range(len(preds)):
                preds[i] = 0

    qlz = ql.reshape(64)[ZIGZAG]
    qcz = qc.reshape(64)[ZIGZAG]
    if mode == "gray":
        nbx, nby = (width + 7) // 8, (height + 7) // 8
        total_mcus = nbx * nby
        ya = _quantized_blocks(y, nbx, nby, qlz)
        preds = [0]
        for byi in range(nby):
            for bxi in range(nbx):
                preds[0] = _encode_block(ya[byi, bxi], preds[0],
                                         w, dc_enc, ac_enc)
                maybe_restart(preds)
    elif mode == "444":
        nbx, nby = (width + 7) // 8, (height + 7) // 8
        total_mcus = nbx * nby
        arrs = [_quantized_blocks(p, nbx, nby, q)
                for p, q in ((y, qlz), (cb, qcz), (cr, qcz))]
        preds = [0, 0, 0]
        for byi in range(nby):
            for bxi in range(nbx):
                for ci in range(3):
                    preds[ci] = _encode_block(arrs[ci][byi, bxi],
                                              preds[ci], w, dc_enc, ac_enc)
                maybe_restart(preds)
    elif mode == "422":
        # horizontal-only chroma box-average
        def hhalf(p: np.ndarray) -> np.ndarray:
            hh, ww = p.shape
            pe = np.pad(p, ((0, 0), (0, ww % 2)), mode="edge")
            return (pe[:, 0::2] + pe[:, 1::2]) / 2.0

        nmx, nmy = (width + 15) // 16, (height + 7) // 8
        total_mcus = nmx * nmy
        ya = _quantized_blocks(y, nmx * 2, nmy, qlz)
        cba = _quantized_blocks(hhalf(cb), nmx, nmy, qcz)
        cra = _quantized_blocks(hhalf(cr), nmx, nmy, qcz)
        preds = [0, 0, 0]
        for myi in range(nmy):
            for mxi in range(nmx):
                for dx in range(2):
                    preds[0] = _encode_block(ya[myi, mxi * 2 + dx],
                                             preds[0], w, dc_enc, ac_enc)
                preds[1] = _encode_block(cba[myi, mxi],
                                         preds[1], w, dc_enc, ac_enc)
                preds[2] = _encode_block(cra[myi, mxi],
                                         preds[2], w, dc_enc, ac_enc)
                maybe_restart(preds)
    else:  # 420
        # chroma box-average over 2×2 (pad odd dims by edge replication)
        def half(p: np.ndarray) -> np.ndarray:
            hh, ww = p.shape
            pe = np.pad(p, ((0, hh % 2), (0, ww % 2)), mode="edge")
            return (pe[0::2, 0::2] + pe[0::2, 1::2] + pe[1::2, 0::2]
                    + pe[1::2, 1::2]) / 4.0

        nmx, nmy = (width + 15) // 16, (height + 15) // 16
        total_mcus = nmx * nmy
        ya = _quantized_blocks(y, nmx * 2, nmy * 2, qlz)
        cba = _quantized_blocks(half(cb), nmx, nmy, qcz)
        cra = _quantized_blocks(half(cr), nmx, nmy, qcz)
        preds = [0, 0, 0]
        for myi in range(nmy):
            for mxi in range(nmx):
                for dy in range(2):
                    for dx in range(2):
                        preds[0] = _encode_block(
                            ya[myi * 2 + dy, mxi * 2 + dx],
                            preds[0], w, dc_enc, ac_enc)
                preds[1] = _encode_block(cba[myi, mxi],
                                         preds[1], w, dc_enc, ac_enc)
                preds[2] = _encode_block(cra[myi, mxi],
                                         preds[2], w, dc_enc, ac_enc)
                maybe_restart(preds)
    out.extend(w.flush())
    out.extend(b"\xff\xd9")  # EOI
    return bytes(out)


# -- progressive (SOF2) encoder -----------------------------------------------
# Scan script: DC first (interleaved, Al=1) → AC first per component
# (luma split into two spectral bands) → DC refine (one bit per block) →
# AC refine per component. One successive-approximation level exercises
# all four T.81 G.2 decode procedures, and the quantized coefficients are
# the SAME as the baseline encoder's, so decoded pixels are byte-identical
# to the SOF0 stream's at the same quality/mode.


def _emit_ac_first(c: dict, ss: int, se: int, al: int, ac_enc: dict) -> bytes:
    """AC first pass (Ah=0) over the component's true block grid: band
    coefficients point-transformed by Al (magnitude shift = truncation
    toward zero), trailing-zero bands folded into accumulated EOB runs."""
    w = _BitWriter()
    eobrun = 0

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun > 0:
            r = eobrun.bit_length() - 1
            code, ln = ac_enc[r << 4]
            w.write(code, ln)
            if r:
                w.write(eobrun - (1 << r), r)
            eobrun = 0

    for by in range(c["nby"]):
        for bx in range(c["nbx"]):
            blk = c["coef"][by, bx]
            r = 0
            for k in range(ss, se + 1):
                v = int(blk[k])
                t = abs(v) >> al
                if t == 0:
                    r += 1
                    continue
                flush_eob()
                while r > 15:
                    code, ln = ac_enc[0xF0]  # ZRL
                    w.write(code, ln)
                    r -= 16
                size, raw = _magnitude(t if v > 0 else -t)
                code, ln = ac_enc[(r << 4) | size]
                w.write(code, ln)
                w.write(raw, size)
                r = 0
            if r > 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
    flush_eob()
    return w.flush()


def _emit_ac_refine(c: dict, ss: int, se: int, al: int, ac_enc: dict) -> bytes:
    """AC refinement pass (Ah=Al+1): one correction bit per already-nonzero
    (history) coefficient, (run, 1)+sign for newly-significant ones.
    Correction bits buffer in two queues mirroring the decoder's read
    order: `be` (bits owned by the pending EOB run, emitted after the
    eventual EOBn symbol) and `br` (bits of the current block since the
    last symbol, emitted right after the next ZRL/coefficient symbol)."""
    w = _BitWriter()
    eobrun = 0
    be: list[int] = []
    br: list[int] = []

    def flush_eob() -> None:
        nonlocal eobrun
        if eobrun > 0:
            r = eobrun.bit_length() - 1
            code, ln = ac_enc[r << 4]
            w.write(code, ln)
            if r:
                w.write(eobrun - (1 << r), r)
            eobrun = 0
            for bit in be:
                w.write(bit, 1)
            be.clear()

    def emit_br() -> None:
        for bit in br:
            w.write(bit, 1)
        br.clear()

    for by in range(c["nby"]):
        for bx in range(c["nbx"]):
            blk = c["coef"][by, bx]
            ts = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
            eobpos = -1  # index (in band space) of last newly-significant
            for i, t in enumerate(ts):
                if t == 1:
                    eobpos = i
            r = 0
            for i, t in enumerate(ts):
                if t == 0:
                    r += 1
                    continue
                # ZRLs only when a newly-significant coef still lies ahead;
                # otherwise the trailing run folds into the EOB run
                while r > 15 and i <= eobpos:
                    flush_eob()
                    code, ln = ac_enc[0xF0]
                    w.write(code, ln)
                    r -= 16
                    emit_br()
                if t > 1:  # history coefficient: one correction bit
                    br.append(t & 1)
                    continue
                flush_eob()
                code, ln = ac_enc[(r << 4) | 1]
                w.write(code, ln)
                w.write(1 if int(blk[ss + i]) > 0 else 0, 1)
                emit_br()
                r = 0
            if r > 0 or br:
                eobrun += 1
                be.extend(br)
                br.clear()
                if eobrun == 0x7FFF or len(be) > 900:
                    flush_eob()
    flush_eob()
    return w.flush()


def _encode_progressive(width: int, height: int, mode: str,
                        y: np.ndarray, cb: np.ndarray, cr: np.ndarray,
                        ql: np.ndarray, qc: np.ndarray) -> bytes:
    def hhalf(p: np.ndarray) -> np.ndarray:
        pe = np.pad(p, ((0, 0), (0, p.shape[1] % 2)), mode="edge")
        return (pe[:, 0::2] + pe[:, 1::2]) / 2.0

    def half(p: np.ndarray) -> np.ndarray:
        pe = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)), mode="edge")
        return (pe[0::2, 0::2] + pe[0::2, 1::2] + pe[1::2, 0::2]
                + pe[1::2, 1::2]) / 4.0

    if mode == "gray":
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "plane": y}]
    elif mode == "444":
        comps = [{"id": 1, "h": 1, "v": 1, "tq": 0, "plane": y},
                 {"id": 2, "h": 1, "v": 1, "tq": 1, "plane": cb},
                 {"id": 3, "h": 1, "v": 1, "tq": 1, "plane": cr}]
    elif mode == "422":
        comps = [{"id": 1, "h": 2, "v": 1, "tq": 0, "plane": y},
                 {"id": 2, "h": 1, "v": 1, "tq": 1, "plane": hhalf(cb)},
                 {"id": 3, "h": 1, "v": 1, "tq": 1, "plane": hhalf(cr)}]
    elif mode == "420":
        comps = [{"id": 1, "h": 2, "v": 2, "tq": 0, "plane": y},
                 {"id": 2, "h": 1, "v": 1, "tq": 1, "plane": half(cb)},
                 {"id": 3, "h": 1, "v": 1, "tq": 1, "plane": half(cr)}]
    else:
        raise ValueError(f"unknown mode {mode!r}")

    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-width // (8 * hmax))
    mcuy = -(-height // (8 * vmax))
    qlz = ql.reshape(64)[ZIGZAG]
    qcz = qc.reshape(64)[ZIGZAG]

    # quantized zigzag coefficients: padded MCU grid (DC scans are
    # interleaved) + true block grid dims (AC scans are single-component)
    for c in comps:
        qz = qlz if c["tq"] == 0 else qcz
        nby, nbx = mcuy * c["v"], mcux * c["h"]
        c["coef"] = _quantized_blocks(c["plane"], nbx, nby, qz)
        cw = -(-width * c["h"] // hmax)
        ch = -(-height * c["v"] // vmax)
        c["nbx"], c["nby"] = -(-cw // 8), -(-ch // 8)

    _dc_dec, dc_enc = _build_codes(_DC_BITS, _DC_VALS)
    _ac_dec, ac_enc = _build_codes(_AC_BITS_PROG, _AC_VALS_PROG)

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload)

    seg(0xDB, b"\x00" + bytes(int(ql[z]) for z in ZIGZAG))
    if mode != "gray":
        seg(0xDB, b"\x01" + bytes(int(qc[z]) for z in ZIGZAG))
    sof = struct.pack(">BHHB", 8, height, width, len(comps))
    for c in comps:
        sof += struct.pack(">BBB", c["id"], (c["h"] << 4) | c["v"], c["tq"])
    seg(0xC2, sof)

    def dht(cls_id: int, bits: list[int], vals: list[int]) -> bytes:
        return bytes([cls_id] + bits) + bytes(vals)

    seg(0xC4, dht(0x00, _DC_BITS, _DC_VALS)
        + dht(0x10, _AC_BITS_PROG, _AC_VALS_PROG))
    if mode != "gray":
        seg(0xC4, dht(0x01, _DC_BITS, _DC_VALS)
            + dht(0x11, _AC_BITS_PROG, _AC_VALS_PROG))

    AL = 1

    def sos(scan_comps: list[dict], ss: int, se: int, ah: int, al: int) -> None:
        body = bytes([len(scan_comps)])
        for c in scan_comps:
            tid = 0 if c["tq"] == 0 else 1
            body += bytes([c["id"], (tid << 4) | tid])
        body += bytes([ss, se, (ah << 4) | al])
        seg(0xDA, body)

    def bands_for(c: dict) -> list[tuple[int, int]]:
        return [(1, 5), (6, 63)] if c["tq"] == 0 else [(1, 63)]

    # scan 1: DC first, interleaved, point transform AL
    sos(comps, 0, 0, 0, AL)
    w = _BitWriter()
    preds = {c["id"]: 0 for c in comps}
    for my in range(mcuy):
        for mx in range(mcux):
            for c in comps:
                for dy in range(c["v"]):
                    for dx in range(c["h"]):
                        dc = int(c["coef"][my * c["v"] + dy,
                                           mx * c["h"] + dx, 0]) >> AL
                        size, raw = _magnitude(dc - preds[c["id"]])
                        code, ln = dc_enc[size]
                        w.write(code, ln)
                        if size:
                            w.write(raw, size)
                        preds[c["id"]] = dc
    out.extend(w.flush())

    # AC first passes
    for c in comps:
        for ss, se in bands_for(c):
            sos([c], ss, se, 0, AL)
            out.extend(_emit_ac_first(c, ss, se, AL, ac_enc))

    # DC refine: one bit per block, interleaved
    sos(comps, 0, 0, AL, 0)
    w = _BitWriter()
    for my in range(mcuy):
        for mx in range(mcux):
            for c in comps:
                for dy in range(c["v"]):
                    for dx in range(c["h"]):
                        dc = int(c["coef"][my * c["v"] + dy, mx * c["h"] + dx, 0])
                        w.write(dc & 1, 1)
    out.extend(w.flush())

    # AC refine passes
    for c in comps:
        for ss, se in bands_for(c):
            sos([c], ss, se, AL, 0)
            out.extend(_emit_ac_refine(c, ss, se, 0, ac_enc))

    out.extend(b"\xff\xd9")
    return bytes(out)


# -- decoder ------------------------------------------------------------------


def decode_jpeg(data: bytes) -> tuple[int, int, bytes]:
    """Baseline (SOF0) or progressive (SOF2) JPEG → (width, height,
    interleaved RGB888). Progressive streams accumulate coefficients
    across scans (spectral selection + successive approximation, T.81
    Annex G) and reconstruct at EOI.

    Exception contract (a codec fed 100 TB of crawl data WILL see garbage):
    every malformed input rejects with ValueError or NotImplementedError —
    the low-level escapes a corrupt stream can trigger inside the parser
    (short reads, dangling table/component references) convert here."""
    try:
        return _decode_jpeg(data)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"corrupt JPEG stream ({type(e).__name__})") from e


def _decode_jpeg(data: bytes, lossless_samples: bool = False):
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG: missing SOI")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class, id) → decode table
    frame = None
    restart_interval = 0
    coefs = None  # progressive per-component coefficient accumulators
    lut_cache: dict[int, list[int]] = {}  # id(decode table) → peek-16 LUT
    # (a DHT redefinition replaces the table object, so its id drops out)
    while pos < len(data):
        if data[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if coefs is not None:
                return _reconstruct_progressive(frame, quant, coefs)
            raise ValueError("no scan data before EOI")
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        (seglen,) = struct.unpack_from(">H", data, pos)
        body = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT (possibly several tables)
            p = 0
            while p < len(body):
                pq, tq = body[p] >> 4, body[p] & 0xF
                p += 1
                n = 64 * (2 if pq else 1)
                raw = body[p : p + n]
                p += n
                if pq:
                    vals = np.frombuffer(raw, dtype=">u2").astype(np.int64)
                else:
                    vals = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
                tbl = np.zeros(64, dtype=np.int64)
                tbl[_ZZ] = vals  # stream order is zigzag
                quant[tq] = tbl
        elif marker == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(body):
                cls, tid = body[p] >> 4, body[p] & 0xF
                bits = list(body[p + 1 : p + 17])
                n = sum(bits)
                vals = list(body[p + 17 : p + 17 + n])
                huff[(cls, tid)], _ = _build_codes(bits, vals)
                p += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3):
            # SOF0 baseline (8-bit) / SOF1 extended sequential (8/12-bit,
            # decodes on the baseline path) / SOF2 progressive (8/12-bit)
            # / SOF3 lossless (2..16-bit, Annex-H predictive)
            prec, h, w_, nc = struct.unpack_from(">BHHB", body, 0)
            if marker == 0xC3:
                if not (2 <= prec <= 16):
                    raise ValueError(f"lossless precision {prec} out of range")
            elif prec not in ((8,) if marker == 0xC0 else (8, 12)):
                raise ValueError(
                    f"{prec}-bit samples invalid for SOF{marker & 0xF}"
                )
            comps = []
            for i in range(nc):
                cid, samp, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                comps.append({"id": cid, "h": samp >> 4, "v": samp & 0xF, "tq": tq})
            if marker == 0xC3:
                # lossless MCUs are per-sample; only the universal 1×1
                # layout is supported (what lossless encoders emit)
                if any(c["h"] != 1 or c["v"] != 1 for c in comps):
                    raise NotImplementedError(
                        "lossless decode supports 1x1 sampling only"
                    )
            else:
                # sampling-factor validation at FRAME level so both the
                # baseline and progressive paths reject h/v of 0, >4, or
                # non-dividing layouts (which would crash or silently
                # mis-upsample chroma) before any scan decodes
                hmax = max(c["h"] for c in comps)
                vmax = max(c["v"] for c in comps)
                for c in comps:
                    if not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4
                            and hmax % c["h"] == 0 and vmax % c["v"] == 0):
                        layout = tuple(sorted((c["h"], c["v"]) for c in comps))
                        raise NotImplementedError(
                            f"unsupported sampling layout {layout}"
                        )
            frame = {"w": w_, "h": h, "comps": comps, "prec": prec,
                     "progressive": marker == 0xC2,
                     "lossless": marker == 0xC3}
        elif marker in (0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "only Huffman sequential (SOF0/SOF1), progressive (SOF2) "
                f"and lossless (SOF3) supported, got SOF{marker & 0xF}"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan_tabs = {}
            scan_order = []
            for i in range(ns):
                cid, tt = body[1 + 2 * i], body[2 + 2 * i]
                scan_tabs[cid] = (tt >> 4, tt & 0xF)
                scan_order.append(cid)
            if frame.get("lossless"):
                ss_l, _se_l, ahal_l = (body[1 + 2 * ns], body[2 + 2 * ns],
                                       body[3 + 2 * ns])
                try:
                    samples = _decode_scan_lossless(
                        data, pos, frame, huff, scan_order, scan_tabs,
                        ss_l, ahal_l & 0xF, restart_interval)
                except IndexError as e:
                    raise ValueError("truncated scan") from e
                if lossless_samples:
                    return frame["w"], frame["h"], frame["prec"], samples
                return _lossless_to_rgb(frame, samples)
            if not frame["progressive"]:
                try:
                    return _decode_scan(data, pos, frame, quant, huff,
                                        scan_tabs, restart_interval)
                except IndexError as e:
                    # entropy data ran out mid-MCU deep enough to outrun
                    # the reader's zero padding — same strict reject as
                    # the in-loop truncation checks
                    raise ValueError("truncated scan") from e
            ss, se, ahal = body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if coefs is None:
                hmax = max(c["h"] for c in frame["comps"])
                vmax = max(c["v"] for c in frame["comps"])
                mcux = -(-frame["w"] // (8 * hmax))
                mcuy = -(-frame["h"] // (8 * vmax))
                # plain-int list-of-lists, NOT numpy: the scan loops do
                # per-coefficient reads/writes, where list indexing is
                # ~10x a numpy scalar op; one np.asarray at EOI
                coefs = {
                    c["id"]: [
                        [[0] * 64 for _bx in range(mcux * c["h"])]
                        for _by in range(mcuy * c["v"])
                    ]
                    for c in frame["comps"]
                }
            try:
                pos = _decode_scan_progressive(
                    data, pos, frame, huff, scan_order, scan_tabs,
                    ss, se, ah, al, restart_interval, coefs, lut_cache,
                )
            except IndexError as e:
                raise ValueError("truncated scan") from e
        # APPn / COM / others: skipped
    raise ValueError("truncated stream: no EOI" if coefs is not None
                     else "no SOS marker found")


def _destuff_scan(data: bytes, pos: int):
    """One numpy pass over a scan's entropy bytes: destuff FF00, split on
    RSTn markers, stop at the first real marker. Returns (destuffed uint8
    buffer, restart-segment start offsets in BITS of that buffer, the RSTn
    marker byte for each segment, absolute position of the terminating
    marker in `data`)."""
    arr = np.frombuffer(data, np.uint8)[pos:]
    ffs = np.where(arr[:-1] == 0xFF)[0]
    nxt = arr[ffs + 1]
    term = ffs[(nxt != 0x00) & ~((nxt >= 0xD0) & (nxt <= 0xD7))]
    if len(term) == 0:
        raise ValueError("truncated stream: scan has no terminating marker")
    end = int(term[0])
    in_scan = ffs < end
    stuff = ffs[(nxt == 0x00) & in_scan]
    rst = ffs[((nxt >= 0xD0) & (nxt <= 0xD7)) & in_scan]
    drop = np.sort(np.concatenate([stuff + 1, rst, rst + 1]))
    buf = np.delete(arr[:end], drop)
    # destuffed offset of original offset o = o - (#dropped < o)
    seg_bits = [
        8 * int(p + 2 - np.searchsorted(drop, p + 2)) for p in rst
    ]
    seg_markers = [int(arr[p + 1]) for p in rst]
    end_abs = pos + end
    while end_abs + 1 < len(data) and data[end_abs + 1] == 0xFF:
        end_abs += 1  # skip optional FF fill bytes before the marker
    return buf, seg_bits, seg_markers, end_abs


def _lut_from_table(table: dict) -> list[int]:
    """Canonical-Huffman decode dict {(length, code): sym} → a 65536-entry
    peek-16-bits lookup, entries packed (length << 16) | sym; 0 = invalid."""
    lut = np.zeros(1 << 16, dtype=np.int32)
    for (length, code), sym in table.items():
        start = code << (16 - length)
        lut[start : start + (1 << (16 - length))] = (length << 16) | sym
    return lut.tolist()


class _FastReader:
    """Table-driven bit reader over a destuffed scan buffer: one list
    lookup per Huffman symbol (peek 16 bits), one shift per receive —
    replaces the per-bit dict walk in the hot baseline path. Positions are
    plain bit offsets, so restart resync is an assignment."""

    __slots__ = ("W", "bp", "nbits")

    def __init__(self, buf: np.ndarray):
        # zero padding covers the worst single-check-interval overrun: bp
        # is validated once per MCU/block, and one hostile block can read
        # ~16 blocks x (DC + 63 AC) x 32 bits ≈ 4.2 KB past the end before
        # the next check (a crafted DHT whose all-zeros code is valid
        # keeps decoding over zeros). The decode boundary converts the
        # resulting IndexError to ValueError either way; sizing the pad to
        # the bound makes the EXPLICIT bp check the enforcing mechanism,
        # not exception conversion (regression test: hostile-short-code)
        b = np.concatenate([buf.astype(np.uint32), np.zeros(8260, np.uint32)])
        w = (b[:-3] << 24) | (b[1:-2] << 16) | (b[2:-1] << 8) | b[3:]
        self.W = w.tolist()  # W[i] = the 32 bits starting at byte i
        self.bp = 0
        self.nbits = len(buf) * 8

    def peek16(self) -> int:
        return (self.W[self.bp >> 3] >> (16 - (self.bp & 7))) & 0xFFFF

    def huff(self, lut: list[int]) -> int:
        v = lut[(self.W[self.bp >> 3] >> (16 - (self.bp & 7))) & 0xFFFF]
        if v == 0:
            raise ValueError("invalid huffman code in scan")
        self.bp += v >> 16
        return v & 0xFFFF

    def receive(self, s: int) -> int:
        if s == 0:
            return 0
        r = ((self.W[self.bp >> 3] >> (16 - (self.bp & 7))) & 0xFFFF) >> (16 - s)
        self.bp += s
        return r

    def bit(self) -> int:
        b = (self.W[self.bp >> 3] >> (31 - (self.bp & 7))) & 1
        self.bp += 1
        return b


def _coefs_to_planes(comps, quant, coefs, prec=8):
    """Zigzag coefficient arrays → spatial planes: dequantize (zigzag
    value i pairs with natural-order quant step ZIGZAG[i]), un-zigzag,
    batched 8×8 IDCT — one numpy matmul pair for ALL blocks of a
    component, associated exactly like the per-block _idct ((C.T @ X) @ C)
    so float rounding is stable however the blocks were decoded. The
    level shift is 2^(P−1) (T.81 A.3.1): 128 at 8-bit, 2048 at 12-bit."""
    planes = {}
    shift = float(1 << (prec - 1))
    for c in comps:
        if c["tq"] not in quant:
            raise ValueError(f"missing quant table {c['tq']}")
        arr = coefs[c["id"]]  # (nby, nbx, 64) zigzag order
        q = quant[c["tq"]]    # natural order
        nby, nbx = arr.shape[:2]
        nat = np.zeros((nby, nbx, 64), dtype=np.float64)
        nat[:, :, _ZZ] = arr * q[_ZZ].astype(np.float64)
        blocks = nat.reshape(nby, nbx, 8, 8)
        px = np.matmul(np.matmul(_C.T, blocks), _C) + shift
        planes[c["id"]] = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
    return planes


def _decode_scan(data, pos, frame, quant, huff, scan_tabs, restart_interval):
    w_, h = frame["w"], frame["h"]
    comps = frame["comps"]
    # sampling factors validated at SOF parse (decode_jpeg); the MCU walk
    # and repeat-upsampling are generic in (h, v) — any baseline-legal
    # layout where every factor divides the maxima (4:4:4/4:2:2/4:2:0/
    # 4:1:1/gray) decodes here
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = (w_ + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    coefs = {
        c["id"]: np.zeros((mcuy * c["v"], mcux * c["h"], 64), dtype=np.int64)
        for c in comps
    }
    if any(c["tq"] not in quant for c in comps):
        raise ValueError("scan references missing quant table")
    luts = {}
    per_comp = []
    for c in comps:
        dct, act = scan_tabs[c["id"]]
        for key in ((0, dct), (1, act)):
            if key not in huff:
                raise ValueError("scan references missing huffman table")
            if key not in luts:
                luts[key] = _lut_from_table(huff[key])
        per_comp.append((c, luts[(0, dct)], luts[(1, act)]))

    buf, seg_bits, seg_markers, _end = _destuff_scan(data, pos)
    rd = _FastReader(buf)
    # hot loop: bind the window list and bit position to locals — one list
    # index + a few int ops per Huffman symbol (W[i] holds the 32 bits
    # starting at byte i; peek 16 at bit bp = (W[bp>>3] >> (16-(bp&7)))&FFFF)
    W = rd.W
    nbits = rd.nbits
    bp = 0
    preds = {c["id"]: 0 for c in comps}
    mcu_count = 0
    next_rst = 0
    seg_idx = 0

    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                if seg_idx >= len(seg_bits):
                    raise ValueError("missing restart marker in scan")
                if seg_markers[seg_idx] != 0xD0 + next_rst:
                    raise ValueError(
                        f"restart marker out of sequence: got "
                        f"FF{seg_markers[seg_idx]:02X}, want FF{0xD0 + next_rst:02X}"
                    )
                if bp > seg_bits[seg_idx]:
                    raise ValueError("scan data overruns its restart segment")
                bp = seg_bits[seg_idx]
                seg_idx += 1
                next_rst = (next_rst + 1) % 8
                for cid in preds:
                    preds[cid] = 0
            if bp > nbits:
                raise ValueError("truncated scan")
            for c, dlut, alut in per_comp:
                cid = c["id"]
                carr = coefs[cid]
                for dy in range(c["v"]):
                    for dx in range(c["h"]):
                        v = dlut[(W[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF]
                        if v == 0:
                            raise ValueError("invalid huffman code in scan")
                        bp += v >> 16
                        s = v & 0xFFFF
                        if s:
                            raw = ((W[bp >> 3] >> (16 - (bp & 7)))
                                   & 0xFFFF) >> (16 - s)
                            bp += s
                            # _extend inlined: sign extension per F.2.2.1
                            preds[cid] += (raw if raw >= (1 << (s - 1))
                                           else raw - (1 << s) + 1)
                        blk = carr[my * c["v"] + dy, mx * c["h"] + dx]
                        blk[0] = preds[cid]
                        k = 1
                        while k < 64:
                            v = alut[(W[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF]
                            if v == 0:
                                raise ValueError("invalid huffman code in scan")
                            bp += v >> 16
                            rs = v & 0xFFFF
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                k += 16
                                continue
                            k += rs >> 4
                            if k > 63:
                                raise ValueError("AC index past 63")
                            sz = rs & 0xF
                            raw = ((W[bp >> 3] >> (16 - (bp & 7)))
                                   & 0xFFFF) >> (16 - sz)
                            bp += sz
                            blk[k] = (raw if raw >= (1 << (sz - 1))
                                      else raw - (1 << sz) + 1)
                            k += 1
            mcu_count += 1

    if bp > nbits:
        raise ValueError("truncated scan")
    if seg_idx != len(seg_bits):
        raise ValueError("unexpected restart markers in scan")
    prec = frame.get("prec", 8)
    planes = _coefs_to_planes(comps, quant, coefs, prec)
    return _planes_to_rgb(planes, comps, w_, h, hmax, vmax, prec)


def _planes_to_rgb(planes, comps, w_, h, hmax, vmax, prec=8):
    """Crop MCU-padded component planes to nominal size, repeat-upsample
    chroma, and color-convert (JFIF YCbCr→RGB, or gray replication).
    Samples are clamped to [0, 2^P−1] at native precision; >8-bit output
    keeps the high 8 bits (the standard 12-bit presentation reduction)."""
    full = {}
    maxv = float((1 << prec) - 1)
    down = prec - 8

    def to_u8(x: np.ndarray) -> np.ndarray:
        v = np.clip(np.round(x), 0, maxv)
        if down:
            return (v.astype(np.int32) >> down).astype(np.uint8)
        return v.astype(np.uint8)

    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full[c["id"]] = p[:h, :w_]
    if len(comps) == 1:
        yv = to_u8(full[comps[0]["id"]])
        rgb = np.repeat(yv[:, :, None], 3, axis=2)
        return w_, h, rgb.tobytes()
    center = float(1 << (prec - 1))
    yv = full[comps[0]["id"]]
    cb = full[comps[1]["id"]] - center
    cr = full[comps[2]["id"]] - center
    r = yv + 1.402 * cr
    g = yv - 0.344136 * cb - 0.714136 * cr
    b = yv + 1.772 * cb
    rgb = np.stack([to_u8(x) for x in (r, g, b)], axis=2)
    return w_, h, rgb.tobytes()


# -- progressive (SOF2) decode ------------------------------------------------
# T.81 Annex G.2: four scan procedures — DC first, DC refine (one bit per
# block), AC first (band coefficients + EOB run lengths), AC refine
# (correction bits for history coefficients + newly-significant ±1·2^Al).
# Coefficients accumulate in zigzag order across scans; reconstruction
# (dequant + batched IDCT) happens once at EOI.


def _decode_scan_progressive(data, pos, frame, huff, scan_order, scan_tabs,
                             ss, se, ah, al, restart_interval, coefs,
                             lut_cache=None):
    """Decode one progressive scan into the coefficient accumulators;
    returns the position of the marker that follows the entropy data."""
    w_, h = frame["w"], frame["h"]
    fcomps = {c["id"]: c for c in frame["comps"]}
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    scan_list = []
    for cid in scan_order:
        if cid not in fcomps:
            raise ValueError(f"scan references unknown component {cid}")
        scan_list.append((fcomps[cid], *scan_tabs[cid]))
    # scan-header validation (T.81 G.1.1.1.1)
    if ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
    else:
        if not (ss <= se <= 63):
            raise ValueError(f"bad spectral band {ss}..{se}")
        if len(scan_list) != 1:
            raise ValueError("progressive AC scans must be single-component")
    if ah > 13 or al > 13:
        raise ValueError("bad successive-approximation bits")

    buf, seg_bits, seg_markers, end_abs = _destuff_scan(data, pos)
    reader = _FastReader(buf)
    cache = lut_cache if lut_cache is not None else {}
    luts: dict[tuple[int, int], list[int]] = {}
    for c, dct, act in scan_list:
        keys = []
        if ss == 0 and ah == 0:
            keys.append((0, dct))
        if ss > 0:
            keys.append((1, act))
        for key in keys:
            if key not in huff:
                raise ValueError("scan references missing huffman table")
            tbl = huff[key]
            if id(tbl) not in cache:  # shared across scans of one image
                cache[id(tbl)] = _lut_from_table(tbl)
            luts[key] = cache[id(tbl)]
    preds = {c["id"]: 0 for c, _d, _a in scan_list}
    eobrun = 0
    p1 = 1 << al
    m1 = -p1

    # Hot-loop state inlined as locals — the same trick that made the
    # baseline _decode_scan table-driven (8.5x): W[i] holds the 32 bits
    # starting at byte i, a Huffman symbol is one LUT peek-16 list lookup,
    # a refinement bit is one shift. The four Annex-G scan procedures are
    # specialized inline below instead of per-block closure calls, and the
    # coefficient accumulators are plain int lists (see _decode_jpeg) so
    # every per-coefficient read/write is a list op, not a numpy scalar.
    W = reader.W
    nbits = reader.nbits
    bp = 0

    interleaved = len(scan_list) > 1
    if interleaved:
        mcux = -(-w_ // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        nmcu = mcux * mcuy
        comp_units = [
            (c["id"], coefs[c["id"]],
             luts[(0, dct)] if ah == 0 else None, c["v"], c["h"])
            for c, dct, _act in scan_list
        ]
    else:
        c0, dct0, act0 = scan_list[0]
        cw = -(-w_ * c0["h"] // hmax)
        ch = -(-h * c0["v"] // vmax)
        nbx = -(-cw // 8)
        nby = -(-ch // 8)
        nmcu = nbx * nby
        cid0 = c0["id"]
        carr0 = coefs[cid0]
        dlut0 = luts[(0, dct0)] if ss == 0 and ah == 0 else None
        alut0 = luts[(1, act0)] if ss > 0 else None

    next_rst = 0
    seg_idx = 0
    for i in range(nmcu):
        if restart_interval and i and i % restart_interval == 0:
            if seg_idx >= len(seg_bits):
                raise ValueError("missing restart marker in scan")
            if seg_markers[seg_idx] != 0xD0 + next_rst:
                raise ValueError(
                    f"restart marker out of sequence: got "
                    f"FF{seg_markers[seg_idx]:02X}, want FF{0xD0 + next_rst:02X}"
                )
            if bp > seg_bits[seg_idx]:
                raise ValueError("scan data overruns its restart segment")
            bp = seg_bits[seg_idx]
            seg_idx += 1
            next_rst = (next_rst + 1) % 8
            for cid in preds:
                preds[cid] = 0
            eobrun = 0
        if bp > nbits:
            raise ValueError("truncated scan")
        if interleaved:  # DC scan, interleaved components (Ss=0 validated)
            my, mx = divmod(i, mcux)
            for cid, carr, dlut, cv, chh in comp_units:
                for dy in range(cv):
                    for dx in range(chh):
                        row = carr[my * cv + dy]
                        bx = mx * chh + dx
                        if ah == 0:  # DC first
                            v = dlut[(W[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF]
                            if v == 0:
                                raise ValueError("invalid huffman code in scan")
                            bp += v >> 16
                            s = v & 0xFFFF
                            if s:
                                raw = ((W[bp >> 3] >> (16 - (bp & 7)))
                                       & 0xFFFF) >> (16 - s)
                                bp += s
                                preds[cid] += (raw if raw >= (1 << (s - 1))
                                               else raw - (1 << s) + 1)
                            row[bx][0] = preds[cid] << al
                        else:  # DC refine: one appended bit per block
                            if (W[bp >> 3] >> (31 - (bp & 7))) & 1:
                                row[bx][0] |= p1
                            bp += 1
        else:
            by, bx = divmod(i, nbx)
            if ss == 0:
                if ah == 0:  # DC first, single component
                    v = dlut0[(W[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF]
                    if v == 0:
                        raise ValueError("invalid huffman code in scan")
                    bp += v >> 16
                    s = v & 0xFFFF
                    if s:
                        raw = ((W[bp >> 3] >> (16 - (bp & 7)))
                               & 0xFFFF) >> (16 - s)
                        bp += s
                        preds[cid0] += (raw if raw >= (1 << (s - 1))
                                        else raw - (1 << s) + 1)
                    carr0[by][bx][0] = preds[cid0] << al
                else:  # DC refine
                    if (W[bp >> 3] >> (31 - (bp & 7))) & 1:
                        carr0[by][bx][0] |= p1
                    bp += 1
            elif ah == 0:  # AC first (T.81 G.2.1): band coefs + EOB runs
                if eobrun > 0:
                    eobrun -= 1
                else:
                    blk = carr0[by][bx]
                    k = ss
                    while k <= se:
                        v = alut0[(W[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF]
                        if v == 0:
                            raise ValueError("invalid huffman code in scan")
                        bp += v >> 16
                        rs = v & 0xFFFF
                        r = rs >> 4
                        sz = rs & 0xF
                        if sz:
                            k += r
                            if k > se:
                                raise ValueError("AC index past band end")
                            raw = ((W[bp >> 3] >> (16 - (bp & 7)))
                                   & 0xFFFF) >> (16 - sz)
                            bp += sz
                            blk[k] = ((raw if raw >= (1 << (sz - 1))
                                       else raw - (1 << sz) + 1) << al)
                            k += 1
                        else:
                            if r < 15:
                                eobrun = (1 << r) - 1
                                if r:
                                    raw = ((W[bp >> 3] >> (16 - (bp & 7)))
                                           & 0xFFFF) >> (16 - r)
                                    bp += r
                                    eobrun += raw
                                break
                            k += 16  # ZRL
            else:  # AC refine (T.81 G.2.2): correction bits + new +-1*2^Al
                blk = carr0[by][bx]
                if eobrun == 0:
                    # Huffman-coded runs interleaved with history-
                    # coefficient correction bits
                    k = ss
                    while k <= se:
                        v = alut0[(W[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF]
                        if v == 0:
                            raise ValueError("invalid huffman code in scan")
                        bp += v >> 16
                        rs = v & 0xFFFF
                        r = rs >> 4
                        sz = rs & 0xF
                        newval = 0
                        if sz == 0:
                            if r < 15:
                                eobrun = 1 << r
                                if r:
                                    raw = ((W[bp >> 3] >> (16 - (bp & 7)))
                                           & 0xFFFF) >> (16 - r)
                                    bp += r
                                    eobrun += raw
                                break  # rest of this block refined below
                            # else ZRL: skip 16 zero-history coefficients
                        else:
                            if sz != 1:
                                raise ValueError("AC refine magnitude must be 1")
                            newval = (p1 if (W[bp >> 3] >> (31 - (bp & 7))) & 1
                                      else m1)
                            bp += 1
                        while k <= se:
                            hv = blk[k]
                            if hv != 0:
                                if ((W[bp >> 3] >> (31 - (bp & 7))) & 1
                                        and (hv & p1) == 0):
                                    blk[k] = hv + (p1 if hv > 0 else m1)
                                bp += 1
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if newval and k <= se:
                            blk[k] = newval
                        k += 1
                    if eobrun > 0:  # tail of the block after an EOB entry
                        for off, hv in enumerate(blk[k : se + 1]):
                            if hv:
                                if ((W[bp >> 3] >> (31 - (bp & 7))) & 1
                                        and (hv & p1) == 0):
                                    blk[k + off] = hv + (p1 if hv > 0 else m1)
                                bp += 1
                        eobrun -= 1
                else:
                    # whole block inside an EOB run: one correction bit per
                    # nonzero history coefficient. any() skips the common
                    # all-zero high-band block at C speed; enumerate over
                    # the band slice beats a manual bounds-checked walk
                    band = blk[ss : se + 1]
                    if any(band):
                        for off, hv in enumerate(band):
                            if hv:
                                if ((W[bp >> 3] >> (31 - (bp & 7))) & 1
                                        and (hv & p1) == 0):
                                    blk[ss + off] = hv + (p1 if hv > 0 else m1)
                                bp += 1
                    eobrun -= 1

    if bp > nbits:
        raise ValueError("truncated scan")
    if seg_idx != len(seg_bits):
        raise ValueError("unexpected restart markers in scan")
    return end_abs


def _reconstruct_progressive(frame, quant, coefs):
    """Accumulated zigzag coefficients → pixels via the shared batched
    dequant+IDCT (_coefs_to_planes) and crop/upsample/color tail."""
    comps = frame["comps"]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    arrs = {cid: np.asarray(v, dtype=np.int64) for cid, v in coefs.items()}
    prec = frame.get("prec", 8)
    planes = _coefs_to_planes(comps, quant, arrs, prec)
    return _planes_to_rgb(planes, comps, frame["w"], frame["h"], hmax, vmax,
                          prec)


# -- lossless (SOF3) ----------------------------------------------------------
# T.81 Annex H: predictive coding — each sample's difference from one of
# seven neighbor predictors is Huffman-coded with a DC-class table
# (SSSS 0..16, SSSS=16 carrying diff=32768 with no extra bits), with
# mod-2^16 reconstruction and an optional point transform (samples coded
# at P−Pt bits, output scaled back by 2^Pt). Roundtrips are bit-exact by
# construction — the property every test pins.

_PRED_NAMES = {1: "Ra", 2: "Rb", 3: "Rc", 4: "Ra+Rb-Rc",
               5: "Ra+(Rb-Rc)/2", 6: "Rb+(Ra-Rc)/2", 7: "(Ra+Rb)/2"}


def _lossless_predict(predictor: int, ra: int, rb: int, rc: int) -> int:
    if predictor == 1:
        return ra
    if predictor == 2:
        return rb
    if predictor == 3:
        return rc
    if predictor == 4:
        return ra + rb - rc
    if predictor == 5:
        return ra + ((rb - rc) >> 1)
    if predictor == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1  # 7


def _decode_scan_lossless(data, pos, frame, huff, scan_order, scan_tabs,
                          predictor, pt, restart_interval):
    """One interleaved lossless scan → (h, w, ncomp) uint16 samples
    (point transform undone). Annex-H prediction: the very first sample
    (and the first after each restart) predicts 2^(P−Pt−1); the rest of
    that line predicts Ra; later lines predict Rb at x=0 and the selected
    predictor elsewhere."""
    if not (1 <= predictor <= 7):
        raise ValueError(f"invalid lossless predictor {predictor}")
    prec = frame["prec"]
    if pt >= prec:
        raise ValueError("point transform exceeds sample precision")
    w_, h = frame["w"], frame["h"]
    byid = {c["id"]: c for c in frame["comps"]}
    if len(scan_order) != len(frame["comps"]) or any(
            cid not in byid for cid in scan_order):
        raise NotImplementedError(
            "lossless decode supports the single interleaved scan only")
    luts = []
    for cid in scan_order:
        key = (0, scan_tabs[cid][0])
        if key not in huff:
            raise ValueError("scan references missing huffman table")
        luts.append(_lut_from_table(huff[key]))

    buf, seg_bits, seg_markers, _end = _destuff_scan(data, pos)
    rd = _FastReader(buf)
    W, nbits = rd.W, rd.nbits
    bp = 0
    default = 1 << (prec - pt - 1)
    nc = len(scan_order)
    planes = [[[0] * w_ for _ in range(h)] for _ in range(nc)]
    mcu_count = 0
    next_rst = 0
    seg_idx = 0
    fresh_y, fresh_x = 0, 0

    for y in range(h):
        for x in range(w_):
            if (restart_interval and mcu_count
                    and mcu_count % restart_interval == 0):
                if seg_idx >= len(seg_bits):
                    raise ValueError("missing restart marker in scan")
                if seg_markers[seg_idx] != 0xD0 + next_rst:
                    raise ValueError(
                        f"restart marker out of sequence: got "
                        f"FF{seg_markers[seg_idx]:02X}, "
                        f"want FF{0xD0 + next_rst:02X}")
                if bp > seg_bits[seg_idx]:
                    raise ValueError("scan data overruns its restart segment")
                bp = seg_bits[seg_idx]
                seg_idx += 1
                next_rst = (next_rst + 1) % 8
                fresh_y, fresh_x = y, x
            if bp > nbits:
                raise ValueError("truncated scan")
            for ci in range(nc):
                lut = luts[ci]
                v = lut[(W[bp >> 3] >> (16 - (bp & 7))) & 0xFFFF]
                if v == 0:
                    raise ValueError("invalid huffman code in scan")
                bp += v >> 16
                s = v & 0xFFFF
                if s == 16:  # Annex H: SSSS=16 → diff 32768, no extra bits
                    diff = 32768
                elif s:
                    raw = ((W[bp >> 3] >> (16 - (bp & 7)))
                           & 0xFFFF) >> (16 - s)
                    bp += s
                    diff = (raw if raw >= (1 << (s - 1))
                            else raw - (1 << s) + 1)
                else:
                    diff = 0
                rows = planes[ci]
                if y == fresh_y:
                    px = default if x == fresh_x else rows[y][x - 1]
                elif x == 0:
                    px = rows[y - 1][0]
                else:
                    px = _lossless_predict(
                        predictor, rows[y][x - 1], rows[y - 1][x],
                        rows[y - 1][x - 1])
                rows[y][x] = (px + diff) & 0xFFFF
            mcu_count += 1

    if bp > nbits:
        raise ValueError("truncated scan")
    if seg_idx != len(seg_bits):
        raise ValueError("unexpected restart markers in scan")
    out = np.stack([np.array(p, dtype=np.uint16) for p in planes], axis=2)
    if pt:
        if int(out.max(initial=0)) << pt >= (1 << 16):
            raise ValueError("point-transformed sample overflows 16 bits")
        out = out << np.uint16(pt)
    return out


def _lossless_to_rgb(frame, samples):
    """Lossless samples → the generic (w, h, RGB888) contract: 1 component
    replicates to gray, 3 are taken as direct RGB (lossless JPEG defines
    no color transform); >8-bit precisions keep the high 8 bits, <8-bit
    scale up by 255/(2^P−1)."""
    prec = frame["prec"]
    nc = samples.shape[2]
    if prec > 8:
        u8 = (samples >> (prec - 8)).astype(np.uint8)
    elif prec == 8:
        u8 = samples.astype(np.uint8)
    else:
        u8 = np.round(samples * (255.0 / ((1 << prec) - 1))).astype(np.uint8)
    if nc == 1:
        rgb = np.repeat(u8, 3, axis=2)
    elif nc == 3:
        rgb = u8
    else:
        raise ValueError(f"unsupported lossless component count {nc}")
    return frame["w"], frame["h"], np.ascontiguousarray(rgb).tobytes()


def decode_jpeg_lossless(data: bytes) -> tuple[int, int, int, np.ndarray]:
    """Lossless (SOF3) JPEG → (width, height, precision, samples) with
    samples an (h, w, ncomp) uint16 array — the exact encoded values, the
    bit-level contract `encode_jpeg_lossless` roundtrips against. Raises
    ValueError on corruption or non-lossless streams."""
    try:
        out = _decode_jpeg(data, lossless_samples=True)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"corrupt JPEG stream ({type(e).__name__})") from e
    if not (isinstance(out, tuple) and len(out) == 4):
        raise ValueError("not a lossless (SOF3) stream")
    return out


def encode_jpeg_lossless(samples: np.ndarray, precision: int,
                         predictor: int = 1, point_transform: int = 0,
                         restart_interval: int = 0) -> bytes:
    """(h, w) or (h, w, ncomp) integer samples → lossless (SOF3) JPEG.
    Values must fit `precision` bits and be multiples of 2^point_transform
    (Annex H codes samples >> Pt; anything else cannot roundtrip, so it
    rejects). The Huffman table is the canonical SSSS 0..16 DC-class
    table; restart_interval > 0 resets prediction every that many MCUs."""
    if samples.ndim == 2:
        samples = samples[:, :, None]
    if samples.ndim != 3:
        raise ValueError("samples must be (h, w) or (h, w, ncomp)")
    if not (2 <= precision <= 16):
        raise ValueError(f"lossless precision {precision} out of range")
    if not (1 <= predictor <= 7):
        raise ValueError(f"invalid lossless predictor {predictor}")
    pt = point_transform
    if not (0 <= pt < precision):
        raise ValueError("point transform out of range")
    arr = samples.astype(np.int64)
    if arr.min(initial=0) < 0 or int(arr.max(initial=0)) >= (1 << precision):
        raise ValueError(f"samples exceed {precision}-bit range")
    if pt and (arr & ((1 << pt) - 1)).any():
        raise ValueError(
            f"samples must be multiples of 2^{pt} for an exact roundtrip")
    arr = arr >> pt
    h, w_, nc = arr.shape
    if not (1 <= nc <= 4):
        raise ValueError(f"unsupported component count {nc}")

    vals = list(range(17))  # SSSS categories 0..16
    bits = _canonical_bits(len(vals))
    _dec, enc = _build_codes(bits, vals)

    out = bytearray(b"\xff\xd8")

    def seg(marker: int, payload: bytes) -> None:
        out.extend(struct.pack(">BBH", 0xFF, marker, len(payload) + 2)
                   + payload)

    sof = struct.pack(">BHHB", precision, h, w_, nc)
    for ci in range(nc):
        sof += struct.pack(">BBB", ci + 1, 0x11, 0)
    seg(0xC3, sof)
    seg(0xC4, bytes([0x00] + bits) + bytes(vals))
    if restart_interval:
        seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([predictor, 0, pt])
    seg(0xDA, sos)

    wtr = _BitWriter()
    default = 1 << (precision - pt - 1)
    total = h * w_
    mcu_count = 0
    rst_idx = 0
    fresh_y, fresh_x = 0, 0
    al = arr.tolist()
    for y in range(h):
        for x in range(w_):
            for ci in range(nc):
                cur = al[y][x][ci]
                if y == fresh_y:
                    px = default if x == fresh_x else al[y][x - 1][ci]
                elif x == 0:
                    px = al[y - 1][0][ci]
                else:
                    px = _lossless_predict(
                        predictor, al[y][x - 1][ci], al[y - 1][x][ci],
                        al[y - 1][x - 1][ci])
                diff = (cur - px) & 0xFFFF
                if diff >= 32768:
                    diff -= 65536
                if diff == -32768:  # SSSS=16, no appended bits
                    code, ln = enc[16]
                    wtr.write(code, ln)
                else:
                    s, extra = _magnitude(diff)
                    code, ln = enc[s]
                    wtr.write(code, ln)
                    if s:
                        wtr.write(extra, s)
            mcu_count += 1
            if (restart_interval and mcu_count % restart_interval == 0
                    and mcu_count < total):
                wtr.restart(rst_idx)
                rst_idx = (rst_idx + 1) % 8
                nxt = y * w_ + x + 1
                fresh_y, fresh_x = nxt // w_, nxt % w_
    out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


# -- MJPEG container ----------------------------------------------------------
# Motion-JPEG "raw" container: concatenated complete JPEG streams, one per
# frame (the format .mjpeg files and multipart/x-mixed-replace cameras
# emit; ref parity note: the reference has no video decode at all — this
# gives frame extraction a real compressed format without a codec lib,
# shrinking the H.264 gate to codecs that genuinely need one).


def jpeg_stream_length(data: bytes, start: int = 0) -> int:
    """Byte length of the complete JPEG stream starting at `start` — a
    marker-structure walk (segment lengths + entropy-data scan, no entropy
    decode), which is exactly the parse an MJPEG frame split needs.
    Handles multi-scan (progressive) streams, restart markers, stuffed
    bytes, and FF fill; ValueError on malformed structure."""
    n = len(data)
    pos = start
    if pos + 2 > n or data[pos] != 0xFF or data[pos + 1] != 0xD8:
        raise ValueError("mjpeg: missing SOI")
    pos += 2
    while True:
        # optional FF fill bytes before a marker
        while pos + 1 < n and data[pos] == 0xFF and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > n:
            raise ValueError("mjpeg: truncated stream (no EOI)")
        if data[pos] != 0xFF:
            raise ValueError(f"mjpeg: expected marker at {pos}")
        m = data[pos + 1]
        pos += 2
        if m == 0xD9:  # EOI
            return pos - start
        if m == 0x01 or 0xD0 <= m <= 0xD7:  # standalone TEM/RSTn
            continue
        if pos + 2 > n:
            raise ValueError("mjpeg: truncated segment header")
        seglen = int.from_bytes(data[pos : pos + 2], "big")
        if seglen < 2 or pos + seglen > n:
            raise ValueError("mjpeg: bad segment length")
        is_sos = m == 0xDA
        pos += seglen
        if is_sos:
            # entropy-coded data: scan to the next real marker (FF00 is a
            # stuffed byte, FF D0-D7 are restart markers inside the scan)
            while True:
                if pos + 1 >= n:
                    raise ValueError("mjpeg: truncated scan data")
                if data[pos] == 0xFF:
                    nxt = data[pos + 1]
                    if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                        pos += 2
                        continue
                    if nxt == 0xFF:
                        pos += 1
                        continue
                    break  # real marker; outer loop classifies it
                pos += 1


def split_mjpeg(content: bytes) -> list[tuple[int, int]]:
    """(offset, length) of each complete JPEG frame in a raw MJPEG
    concatenation. Strict: the frames must tile the buffer exactly
    (a torn tail raises, mirroring the wire decoders' reject contract)."""
    out: list[tuple[int, int]] = []
    pos = 0
    n = len(content)
    while pos < n:
        ln = jpeg_stream_length(content, pos)
        out.append((pos, ln))
        pos += ln
    return out
