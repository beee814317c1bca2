"""Tile rasterization kernel (pure numpy, Spark-free) — the render last
mile (SURVEY.md §3 E3: "read tile files -> deserialize -> bbox filter ->
render"; the reference delegates actual pixel output to a companion Mapnik
plugin [M], and its own correctness check is visual — SURVEY §5). We make
that check computable: way polylines -> a deterministic uint8 tile mask.

Pixel rule (INTEGER math only, so the scalar golden twin in
tools/gen_goldens.py can replicate it exactly, independent of any float
line-walk library):

    for segment (x0,y0)->(x1,y1) in tile-pixel coords:
        n = max(|x1-x0|, |y1-y0|) + 1 sample points
        point k in 0..n-1:  px = x0 + floor((x1-x0)*k / (n-1))   (n > 1)
                            py = y0 + floor((y1-y0)*k / (n-1))
    samples outside [0,w)x[0,h) are clipped; hit pixels get 255.

floor division on negatives is floor in both numpy and Python — the two
implementations cannot drift. n samples guarantee 8-connected coverage
(adjacent samples differ by <=1 on the dominant axis).

Optional per-segment [k_lo, k_hi] bounds walk only that sample sub-range
of the SAME rule (piece-wise fan-out upstream hands each tile only the
pieces whose samples can land in it — a continental segment then costs
each tile O(tile_px) samples, not O(segment length); the marked pixel set
is identical because every sample k computes the same pixel either way).
"""

from __future__ import annotations

import numpy as np


def rasterize_segments(
    x0, y0, x1, y1, w: int = 256, h: int = 256, k_lo=None, k_hi=None
) -> np.ndarray:
    """Vectorized over ALL segments of one tile: one concatenated sample
    index space (repeat/cumsum, the LEB128-kernel pattern), one fancy-index
    store. Returns the (h, w) uint8 mask. k_lo/k_hi (inclusive, optional)
    restrict each segment's walk to that sample sub-range."""
    x0 = np.asarray(x0, dtype=np.int64)
    y0 = np.asarray(y0, dtype=np.int64)
    x1 = np.asarray(x1, dtype=np.int64)
    y1 = np.asarray(y1, dtype=np.int64)
    img = np.zeros((h, w), np.uint8)
    if x0.size == 0:
        return img
    dx = x1 - x0
    dy = y1 - y0
    n = np.maximum(np.abs(dx), np.abs(dy)) + 1
    if k_lo is None:
        k_lo = np.zeros(n.size, dtype=np.int64)
        k_hi = n - 1
    else:
        k_lo = np.asarray(k_lo, dtype=np.int64)
        k_hi = np.minimum(np.asarray(k_hi, dtype=np.int64), n - 1)
    cnt = np.maximum(k_hi - k_lo + 1, 0)
    off = np.concatenate(([0], np.cumsum(cnt)[:-1]))
    seg = np.repeat(np.arange(cnt.size), cnt)
    k = np.arange(int(cnt.sum()), dtype=np.int64) - off[seg] + k_lo[seg]
    denom = np.maximum(n[seg] - 1, 1)
    px = x0[seg] + (dx[seg] * k) // denom
    py = y0[seg] + (dy[seg] * k) // denom
    m = (px >= 0) & (px < w) & (py >= 0) & (py < h)
    img[py[m], px[m]] = 255
    return img


def rasterize_segments_scalar(
    x0, y0, x1, y1, w: int = 256, h: int = 256, k_lo=None, k_hi=None
) -> np.ndarray:
    """Per-sample Python loop stating the pixel rule directly — the unit
    test pins the vectorized kernel against it (the golden generator keeps
    its own third copy)."""
    img = np.zeros((h, w), np.uint8)
    ns = len(x0)
    lo = [0] * ns if k_lo is None else list(k_lo)
    hi = [None] * ns if k_hi is None else list(k_hi)
    for i, (a, b, c, d) in enumerate(zip(x0, y0, x1, y1)):
        a, b, c, d = int(a), int(b), int(c), int(d)
        n = max(abs(c - a), abs(d - b)) + 1
        top = n - 1 if hi[i] is None else min(int(hi[i]), n - 1)
        for k in range(int(lo[i]), top + 1):
            px = a + ((c - a) * k) // max(n - 1, 1)
            py = b + ((d - b) * k) // max(n - 1, 1)
            if 0 <= px < w and 0 <= py < h:
                img[py, px] = 255
    return img


def segment_pieces(a: int, b: int, c: int, d: int, s: int = 256):
    """The piece rule, stated scalar-side for twins and tests: split the
    sample range [0, n-1] of segment (a,b)->(c,d) into non-overlapping
    chunks of `s` samples; yield (k_lo, k_hi, ax, ay, bx, by) where
    (ax,ay)/(bx,by) are the chunk's endpoint SAMPLES under the pixel rule.
    Samples are monotone in both axes, so every sample of the chunk lies
    inside the rect spanned by those endpoints — tile membership by that
    rect is an exact superset of the chunk's markable pixels."""
    n1 = max(abs(c - a), abs(d - b))
    n1c = max(n1, 1)
    for j in range(n1 // s + 1):
        k_lo, k_hi = j * s, min(j * s + s - 1, n1)
        yield (
            k_lo,
            k_hi,
            a + ((c - a) * k_lo) // n1c,
            b + ((d - b) * k_lo) // n1c,
            a + ((c - a) * k_hi) // n1c,
            b + ((d - b) * k_hi) // n1c,
        )


# largest segment span (pixels) whose span * sample index fits int64
_MAX_SPAN = 3_037_000_499


def segment_tile_pieces(offs, gx, gy, tp: int = 256) -> dict[str, np.ndarray]:
    """The piece rule plus the piece-rect tile fan-out, vectorized over
    whole polylines (repeat/cumsum, as rasterize_segments): `offs` are
    CSR offsets of the polylines into the global pixel vertex arrays
    `gx`/`gy`. One output row per (segment piece, touched tile), as
    arrays: line (polyline index), seg (segment index within it), tx, ty,
    x0, y0, x1, y1 (the FULL segment), k_lo, k_hi (the piece's samples).
    Pieces are segment_pieces' `tp`-sample chunks; each fans to every
    tile of the rect its endpoint samples span, tx-major. A polyline of
    fewer than two vertices yields nothing. Same int64 domain as the SQL
    twin (render._segment_tile_fanout): span * sample index must stay
    below 2^63, which holds for every zoom <= 23 at 256px tiles; a longer
    segment raises, as the SQL twin's ANSI overflow does, where numpy
    would silently wrap."""
    offs = np.asarray(offs, dtype=np.int64)
    gx = np.asarray(gx, dtype=np.int64)
    gy = np.asarray(gy, dtype=np.int64)

    def fan(cnt):
        # row -> source index and rank within it, for `cnt` rows per source
        src = np.repeat(np.arange(cnt.size), cnt)
        start = np.cumsum(cnt) - cnt
        return src, np.arange(src.size, dtype=np.int64) - start[src]

    line, seg = fan(np.maximum(np.diff(offs) - 1, 0))
    v = offs[:-1][line] + seg
    x0, y0, x1, y1 = gx[v], gy[v], gx[v + 1], gy[v + 1]
    n1 = np.maximum(np.abs(x1 - x0), np.abs(y1 - y0))
    if n1.size and int(n1.max()) > _MAX_SPAN:
        raise OverflowError(f"segment span {int(n1.max())} px overflows the int64 piece walk")
    n1c = np.maximum(n1, 1)
    ps, j = fan(n1 // tp + 1)
    k_lo = j * tp
    k_hi = np.minimum(k_lo + tp - 1, n1[ps])
    ax = x0[ps] + ((x1 - x0)[ps] * k_lo) // n1c[ps]
    ay = y0[ps] + ((y1 - y0)[ps] * k_lo) // n1c[ps]
    bx = x0[ps] + ((x1 - x0)[ps] * k_hi) // n1c[ps]
    by = y0[ps] + ((y1 - y0)[ps] * k_hi) // n1c[ps]
    tx_lo, ty_lo = np.minimum(ax, bx) // tp, np.minimum(ay, by) // tp
    n_ty = np.maximum(ay, by) // tp - ty_lo + 1
    pt, r = fan((np.maximum(ax, bx) // tp - tx_lo + 1) * n_ty)
    s = ps[pt]
    return {
        "line": line[s],
        "seg": seg[s],
        "tx": tx_lo[pt] + r // n_ty[pt],
        "ty": ty_lo[pt] + r % n_ty[pt],
        "x0": x0[s],
        "y0": y0[s],
        "x1": x1[s],
        "y1": y1[s],
        "k_lo": k_lo[pt],
        "k_hi": k_hi[pt],
    }


# ---------------------------------------------------------------------------
# polygon FILL (VERDICT r6 ask #3) — scanline even/odd over integer pixels
# ---------------------------------------------------------------------------
#
# Fill rule (INTEGER math only; THREE lockstep copies — this vectorized
# kernel, fill_rings_scalar below, and the golden twin in
# tools/gen_goldens.py — change all or none):
#
#     pixel (px, py) of the tile is FILLED iff the integer point (px, py)
#     is inside the polygon under the even/odd rule with the half-open
#     crossing convention of kernels/pip.py:
#       for each ring edge (x0,y0)->(x1,y1), rings implicitly closed:
#         straddles iff (y0 > py) != (y1 > py)
#         crossing counts iff px < x_int, x_int = x0 + (x1-x0)(py-y0)/(y1-y0)
#     evaluated EXACTLY: with den = y1-y0 normalized positive,
#       px < x_int  <=>  px <= x0 + ceil(num/den) - 1,  num = (x1-x0)(py-y0)
#     parity over ALL rings of one polygon (outer + holes) — even/odd
#     handles holes with no special casing.
#
# Coordinates are tile-local int64 pixels (global minus tile origin; the
# parity test is translation-invariant). Horizontal edges never straddle.


def fill_rings(rings, w: int = 256, h: int = 256) -> np.ndarray:
    """Vectorized fill of ONE polygon (outer ring + holes) into an (h, w)
    uint8 mask. `rings`: sequence of (xs, ys) int arrays (tile-local).
    Builds the closed edge set and delegates to fill_edges."""
    ex0, ey0, ex1, ey1 = [], [], [], []
    for xs, ys in rings:
        xs = np.asarray(xs, dtype=np.int64)
        ys = np.asarray(ys, dtype=np.int64)
        if xs.size < 2:
            continue
        ex0.append(xs)
        ey0.append(ys)
        ex1.append(np.roll(xs, -1))
        ey1.append(np.roll(ys, -1))
    if not ex0:
        return np.zeros((h, w), np.uint8)
    return fill_edges(
        np.concatenate(ex0), np.concatenate(ey0),
        np.concatenate(ex1), np.concatenate(ey1), w, h,
    )


def fill_edges(
    x0, y0, x1, y1, w: int = 256, h: int = 256,
    right_rows=None, right_deltas=None,
) -> np.ndarray:
    """The fill rule over an explicit EDGE set (tile-local int coords) —
    one (edge, straddled-row) pair enumeration (repeat/cumsum), one exact
    integer threshold per pair, suffix-sum parity per row; no per-pixel
    Python.

    `right_rows`/`right_deltas` carry the pre-aggregated parity of edges
    ENTIRELY RIGHT of the tile window: such an edge counts for every
    in-window px whenever it straddles the row, so its whole identity
    collapses to a per-row count. The pairs are a DIFFERENCE array over
    tile-local rows (row r gains `delta` straddling right-edges from r
    onward) — cumsum reconstructs the counts, which enter the parity at
    the virtual threshold column w (count for all px < w). Equivalent to
    appending each right edge with x0=x1=+inf; shipping deltas keeps a
    mega-polygon's per-tile payload at O(local edges + h) instead of
    O(perimeter)."""
    x0 = np.asarray(x0, dtype=np.int64)
    y0 = np.asarray(y0, dtype=np.int64)
    x1 = np.asarray(x1, dtype=np.int64)
    y1 = np.asarray(y1, dtype=np.int64)
    img = np.zeros((h, w), np.uint8)
    ends = np.zeros((h, w + 1), np.int64)
    keep = y0 != y1
    x0, y0, x1, y1 = x0[keep], y0[keep], x1[keep], y1[keep]
    if x0.size:
        # rows straddled by each edge under the half-open rule: [min, max)
        # — clipped to the tile's row range
        lo = np.clip(np.minimum(y0, y1), 0, h)
        hi = np.clip(np.maximum(y0, y1), 0, h)
        cnt = np.maximum(hi - lo, 0)
        if int(cnt.sum()):
            off = np.concatenate(([0], np.cumsum(cnt)[:-1]))
            eidx = np.repeat(np.arange(cnt.size), cnt)
            py = np.arange(int(cnt.sum()), dtype=np.int64) - off[eidx] + lo[eidx]
            num = (x1 - x0)[eidx] * (py - y0[eidx])
            den = (y1 - y0)[eidx]
            neg = den < 0
            num[neg] = -num[neg]
            den[neg] = -den[neg]
            # smallest px NOT strictly left of the intersection; toggles px < T
            T = x0[eidx] + -(-num // den)
            idx = np.clip(T, 0, w)
            np.add.at(ends, (py, idx), 1)
    if right_rows is not None and len(right_rows):
        rr = np.asarray(right_rows, dtype=np.int64)
        rd = np.asarray(right_deltas, dtype=np.int64)
        diff = np.zeros(h + 1, dtype=np.int64)
        np.add.at(diff, np.clip(rr, 0, h), rd)
        ends[:, w] += np.cumsum(diff[:-1])
    # count[py, px] = #edges whose threshold exceeds px = suffix sum
    suffix = np.cumsum(ends[:, ::-1], axis=1)[:, ::-1]
    img[(suffix[:, 1:] & 1) == 1] = 255
    return img


def fill_rings_scalar(rings, w: int = 256, h: int = 256) -> np.ndarray:
    """Per-pixel per-edge Python loop stating the fill rule directly — the
    unit test pins the vectorized kernel against it (the golden generator
    keeps its own third copy, decomposed by scanline)."""
    img = np.zeros((h, w), np.uint8)
    edges = []
    for xs, ys in rings:
        n = len(xs)
        if n < 2:
            continue
        for i in range(n):
            j = (i + 1) % n
            edges.append((int(xs[i]), int(ys[i]), int(xs[j]), int(ys[j])))
    for py in range(h):
        for px in range(w):
            cross = 0
            for x0, y0, x1, y1 in edges:
                if (y0 > py) != (y1 > py):
                    num = (x1 - x0) * (py - y0)
                    den = y1 - y0
                    if den < 0:
                        num, den = -num, -den
                    # px < x0 + num/den, exactly
                    if (px - x0) * den < num:
                        cross += 1
            if cross & 1:
                img[py, px] = 255
    return img
