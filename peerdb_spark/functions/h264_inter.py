"""H.264 inter-prediction primitives for P slices (round 11 stretch).

Implements the closed-form pieces of ITU-T H.264 §8.4 needed to decode and
encode P slices with 16x16 partitions against a single reference picture:

- §8.4.2.2.1 quarter-sample LUMA interpolation: the 6-tap half-sample
  filter (1, -5, 20, 20, -5, 1) with >>5 / >>10 rounding, quarter samples
  by integer averaging of the two nearest integer/half samples.
- §8.4.2.2.2 eighth-sample CHROMA interpolation: bilinear
  ((8-dx)(8-dy)A + dx(8-dy)B + (8-dx)dyC + dxdyD + 32) >> 6.
- §8.4.1.3 motion-vector prediction: median of neighbours A/B/C with the
  B/C-unavailable -> A early rule and the single-matching-reference rule
  (trivial here: one reference frame, every inter neighbour has refIdx 0).
- §8.4.1.1 P_Skip motion derivation: zero when A or B is unavailable or
  has a zero MV with refIdx 0, else the 16x16 predictor.
- Table 9-4, Inter column: coded_block_pattern me(v) mapping.

Scope (stated honestly, mirroring h264_cavlc.py's posture): P_L0_16x16 +
P_Skip + the intra macroblock types inside P slices; one reference picture
(the previously decoded picture), no reordering, no weighted prediction,
no sub-16x16 partitions, CAVLC entropy only. Everything here is
spec-closed-form algorithm (no lookup tables beyond the CBP permutation,
which is validated as a permutation and shared encoder/decoder); the
encoder<->decoder bit-exact reconstruction contract plus analytic
interpolation tests pin the implementation. The reference (PeerDB) has no
video decode at all — BYTEA passthrough (flow/model/qvalue).
"""

from __future__ import annotations

import numpy as np

# Table 9-4, Inter column: coded_block_pattern codeNum -> cbp value
_CBP_INTER = (0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
              14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45,
              46, 17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25,
              38, 41)
assert sorted(_CBP_INTER) == list(range(48)), "Table 9-4 inter column must be a permutation"


def interp_luma_block(ref: np.ndarray, x0: int, y0: int,
                      mvx: int, mvy: int, bw: int = 16, bh: int = 16) -> np.ndarray:
    """§8.4.2.2.1: (bh, bw) luma prediction block at quarter-sample MV
    (mvx, mvy) relative to full-sample position (x0, y0) in `ref`.

    Coordinates outside the picture clamp to the edge (the spec's
    Clip3(0, picWidth-1, x) sample fetch — identical to edge padding).
    Integer arithmetic throughout; half samples via the 6-tap filter with
    the exact two-stage rounding (>>5 one-dimensional, >>10 for the
    centre j position), quarter samples as (a + b + 1) >> 1 averages."""
    H, W = ref.shape
    ix, fx = x0 + (mvx >> 2), mvx & 3
    iy, fy = y0 + (mvy >> 2), mvy & 3
    # gather a padded integer-sample window: 5 extra on each side covers
    # the 6-tap support for every sub-position
    ys = np.clip(np.arange(iy - 2, iy + bh + 3), 0, H - 1)
    xs = np.clip(np.arange(ix - 2, ix + bw + 3), 0, W - 1)
    win = ref[np.ix_(ys, xs)].astype(np.int32)  # (bh+5, bw+5); sample (2,2) = origin

    def tap_h(a):  # horizontal 6-tap at half position between col k+2 and k+3
        return (a[:, 0:-5] - 5 * a[:, 1:-4] + 20 * a[:, 2:-3]
                + 20 * a[:, 3:-2] - 5 * a[:, 4:-1] + a[:, 5:])

    def tap_v(a):
        return (a[0:-5, :] - 5 * a[1:-4, :] + 20 * a[2:-3, :]
                + 20 * a[3:-2, :] - 5 * a[4:-1, :] + a[5:, :])

    G = win[2:2 + bh, 2:2 + bw]                       # integer samples
    if fx == 0 and fy == 0:
        return G
    # b: horizontal half at rows of interest; h: vertical half
    b_full = (tap_h(win) + 16) >> 5                   # (bh+5, bw)
    b = np.clip(b_full[2:2 + bh, :], 0, 255)
    h_full = (tap_v(win) + 16) >> 5                   # (bh, bw+5)
    h = np.clip(h_full[:, 2:2 + bw], 0, 255)
    if fy == 0:  # horizontal-only row: G b G -> quarter = avg(G, b)
        if fx == 1:
            return (G + b + 1) >> 1
        if fx == 2:
            return b
        return (win[2:2 + bh, 3:3 + bw] + b + 1) >> 1
    if fx == 0:
        if fy == 1:
            return (G + h + 1) >> 1
        if fy == 2:
            return h
        return (win[3:3 + bh, 2:2 + bw] + h + 1) >> 1
    # centre: j = vertical 6-tap over the UNROUNDED horizontal half sums
    j_raw = tap_v(tap_h(win))                         # (bh, bw)
    j = np.clip((j_raw + 512) >> 10, 0, 255)
    if fx == 2 and fy == 2:
        return j
    # diagonal quarters average the nearest half samples (Table 8-12)
    if fx == 2:  # f (fy==1) / q (fy==3): avg(j, b at row fy<2?above:below)
        bb = np.clip(b_full[2:2 + bh, :] if fy == 1 else b_full[3:3 + bh, :],
                     0, 255)
        return (j + bb + 1) >> 1
    if fy == 2:  # i / k: avg(j, h at col fx<2?left:right)
        hh = np.clip(h_full[:, 2:2 + bw] if fx == 1 else h_full[:, 3:3 + bw],
                     0, 255)
        return (j + hh + 1) >> 1
    # e/g/p/r: avg of the nearest horizontal-half and vertical-half samples
    bb = np.clip(b_full[2:2 + bh, :] if fy == 1 else b_full[3:3 + bh, :],
                 0, 255)
    hh = np.clip(h_full[:, 2:2 + bw] if fx == 1 else h_full[:, 3:3 + bw],
                 0, 255)
    return (bb + hh + 1) >> 1


def interp_chroma_block(ref: np.ndarray, x0: int, y0: int,
                        mvx: int, mvy: int, bw: int = 8, bh: int = 8) -> np.ndarray:
    """§8.4.2.2.2: (bh, bw) chroma prediction at eighth-sample MV. The
    luma quarter-sample MV applies unchanged: chroma is half resolution,
    so the same numeric value is eighth-sample. Bilinear with +32 >> 6."""
    H, W = ref.shape
    ix, dx = x0 + (mvx >> 3), mvx & 7
    iy, dy = y0 + (mvy >> 3), mvy & 7
    ys = np.clip(np.arange(iy, iy + bh + 1), 0, H - 1)
    xs = np.clip(np.arange(ix, ix + bw + 1), 0, W - 1)
    win = ref[np.ix_(ys, xs)].astype(np.int32)
    A = win[0:bh, 0:bw]
    B = win[0:bh, 1:bw + 1]
    C = win[1:bh + 1, 0:bw]
    D = win[1:bh + 1, 1:bw + 1]
    return ((8 - dx) * (8 - dy) * A + dx * (8 - dy) * B
            + (8 - dx) * dy * C + dx * dy * D + 32) >> 6


def mv_predict(mvs: np.ndarray, inter: np.ndarray, mx: int, my: int) -> tuple[int, int]:
    """§8.4.1.3 for a 16x16 partition, single reference: median of the
    neighbouring partitions A (left), B (top), C (top-right; D top-left
    when C is unavailable). A neighbour outside the picture or intra/
    unavailable contributes mv (0,0) with "different reference" status.

    With one reference picture every INTER neighbour has refIdx 0, so the
    one-and-only-one-matching-reference rule collapses to: if exactly one
    of A/B/C is inter, its MV is the predictor. The early rule stands:
    when B and C are both unavailable (not merely intra), mvp = mvA."""
    wmb = mvs.shape[1]

    def nb(x, y):
        # (exists-in-picture, is-inter, mv)
        if x < 0 or y < 0 or x >= wmb or y > my or (y == my and x >= mx):
            return False, False, (0, 0)
        it = bool(inter[y, x])
        return True, it, (int(mvs[y, x, 0]), int(mvs[y, x, 1])) if it else (0, 0)

    a_in, a_it, mva = nb(mx - 1, my)
    b_in, b_it, mvb = nb(mx, my - 1)
    c_in, c_it, mvc = nb(mx + 1, my - 1)
    if not c_in:
        c_in, c_it, mvc = nb(mx - 1, my - 1)  # D substitutes for C
    if not b_in and not c_in:
        return mva if a_in else (0, 0)
    hits = [mv for it, mv in ((a_it, mva), (b_it, mvb), (c_it, mvc)) if it]
    if len(hits) == 1:
        return hits[0]
    med = lambda p, q, r: (p + q + r) - min(p, q, r) - max(p, q, r)  # noqa: E731
    return (med(mva[0], mvb[0], mvc[0]), med(mva[1], mvb[1], mvc[1]))


def mv_skip(mvs: np.ndarray, inter: np.ndarray, mx: int, my: int) -> tuple[int, int]:
    """§8.4.1.1 P_Skip: (0,0) when A or B is unavailable (outside the
    picture) or is an inter MB with zero MV and refIdx 0 — intra
    neighbours count as available with "different" motion; else the
    16x16 predictor."""
    wmb = mvs.shape[1]

    def zero_or_missing(x, y):
        if x < 0 or y < 0:
            return True  # unavailable -> skip MV is zero
        if x >= wmb or y > my or (y == my and x >= mx):
            return True
        if not inter[y, x]:
            return False  # intra: available, non-zero-motion status
        return mvs[y, x, 0] == 0 and mvs[y, x, 1] == 0

    if zero_or_missing(mx - 1, my) or zero_or_missing(mx, my - 1):
        return (0, 0)
    return mv_predict(mvs, inter, mx, my)


# -- B slices (round 12): spatial direct + per-list MV prediction ------------


def mv_predict_b(mv0, used0, mv1, used1, lx: int, mx: int, my: int):
    """§8.4.1.3 for a 16x16 B partition on list `lx`: the same median
    process as mv_predict, run over the NEIGHBOURS' MOTION ON THAT LIST —
    a neighbour that predicted only from the other list counts as
    "different reference" (contributes (0,0), not its other-list MV)."""
    mvs, used = (mv0, used0) if lx == 0 else (mv1, used1)
    return mv_predict(mvs, used, mx, my)


def b_direct_spatial(mv0, used0, mv1, used1, col_mv, col_used,
                     mx: int, my: int):
    """§8.4.1.2.2 spatial direct luma motion for a 16x16 unit, one
    reference picture per list (refIdx values are 0 or "none"):

    - reference indices: refIdxLX = 0 iff ANY of the A/B/C neighbours
      (C replaced by D when unavailable, §8.4.1.3.2) predicted from LX
      (MinPositive over {0, -1} values collapses to an any()); both
      absent -> directZeroPredictionFlag: predict BOTH lists with zero
      MVs and refIdx 0.
    - motion vectors: the §8.4.1.3 median per list, then the colocated
      zero clamp — when the co-located macroblock in RefPicList1[0]
      moved by at most a quarter sample in each component with refIdx 0
      (col_used with |mv| <= 1), a list with refIdxLX == 0 takes mvLX =
      (0,0). RefPicList1[0] is short-term by construction here (the
      sliding-window buffer holds only short-term references).

    col_mv/col_used: the MV field of RefPicList1[0] (its L0 motion — the
    colocated-motion source when present, §8.4.1.2.2's mvCol selection;
    an intra colocated MB has col_used False -> colZeroFlag 0).

    Returns (use_l0, mv_l0, use_l1, mv_l1)."""
    wmb = mv0.shape[1]

    def nb_used(lst_used, x, y):
        if x < 0 or y < 0 or x >= wmb or y > my or (y == my and x >= mx):
            return None  # not available
        return bool(lst_used[y, x])

    def any_on_list(lst_used):
        a = nb_used(lst_used, mx - 1, my)
        b = nb_used(lst_used, mx, my - 1)
        c = nb_used(lst_used, mx + 1, my - 1)
        if c is None:
            c = nb_used(lst_used, mx - 1, my - 1)
        return bool(a) or bool(b) or bool(c)

    use0 = any_on_list(used0)
    use1 = any_on_list(used1)
    if not use0 and not use1:  # directZeroPredictionFlag
        return True, (0, 0), True, (0, 0)
    col_zero = bool(col_used[my, mx]) and \
        -1 <= int(col_mv[my, mx, 0]) <= 1 and \
        -1 <= int(col_mv[my, mx, 1]) <= 1
    out = []
    for lx, use in ((0, use0), (1, use1)):
        if not use:
            out.append((False, (0, 0)))
            continue
        if col_zero:
            out.append((True, (0, 0)))
            continue
        out.append((True, mv_predict_b(mv0, used0, mv1, used1, lx, mx, my)))
    return out[0][0], out[0][1], out[1][0], out[1][1]
