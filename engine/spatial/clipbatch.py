"""Batched multi-ring clip kernels: Sutherland–Hodgman and Liang–Barsky
vectorized across MANY rings at once (SURVEY B11 at scale).

engine.spatial.clip holds the single-ring reference kernels (and stays the
oracle for these in tests); here every pass operates on ONE flat (V,2)
vertex array plus a parallel ring-id array covering every (tile, polygon,
ring) instance in an Arrow batch — no per-ring Python in the tile encoder's
hot path. Semantics match clip.clip_ring / clip.clip_line exactly (same
IEEE expressions, same dedup rules), asserted by tests/test_polytiler.py's
byte-equality test against the row-wise encoder.
"""

from __future__ import annotations

import numpy as np

from engine.mvtcodec.commands import CLOSE_PATH, LINE_TO, MOVE_TO, make_command
from engine.mvtcodec.zigzag import make_parameter


def run_starts(*keys: np.ndarray) -> np.ndarray:
    """First row of each run of equal composite keys in rows sorted by
    ``keys`` (a tile id, a ring id, or (tile, group) columns)."""
    change = np.zeros(len(keys[0]), dtype=bool)
    change[:1] = True
    for k in keys:
        change[1:] |= k[1:] != k[:-1]
    return np.flatnonzero(change)


def pack_cells(gx: np.ndarray, gy: np.ndarray) -> np.ndarray:
    """One int64 per grid cell, distinct while |gy| < 2^31."""
    return gx * (1 << 32) + gy


def concat_ranges(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """Concatenation of arange(starts[i], starts[i] + counts[i])."""
    ends = np.cumsum(counts)
    return np.repeat(starts - ends + counts, counts) + np.arange(ends[-1:].sum())


def next_index(ring_id: np.ndarray, starts: np.ndarray | None = None) -> np.ndarray:
    """Index of each vertex's ring-cyclic successor."""
    n = len(ring_id)
    if starts is None:
        starts = run_starts(ring_id)
    idx = np.arange(1, n + 1, dtype=np.int64)
    ends = np.append(starts[1:], n) - 1
    idx[ends] = starts
    return idx


def _dedupe(pts: np.ndarray, ring_id: np.ndarray):
    """Consecutive-duplicate removal within rings, incl. the wraparound
    rule (drop trailing points equal to the ring's first) — the batched
    twin of clip._dedupe_consecutive."""
    if len(pts) == 0:
        return pts.reshape(0, 2), ring_id
    keep = np.ones(len(pts), dtype=bool)
    keep[1:] = ((pts[1:] != pts[:-1]).any(axis=1)) | (ring_id[1:] != ring_id[:-1])
    pts, ring_id = pts[keep], ring_id[keep]
    while len(pts):  # trailing==first repeats are rare; loop converges fast
        starts = run_starts(ring_id)
        bounds = np.append(starts[1:], len(pts))
        ends = bounds - 1
        sizes = bounds - starts
        drop = (sizes > 1) & (pts[ends] == pts[starts]).all(axis=1)
        if not drop.any():
            break
        keep = np.ones(len(pts), dtype=bool)
        keep[ends[drop]] = False
        pts, ring_id = pts[keep], ring_id[keep]
    return pts, ring_id


def clip_rings(
    pts: np.ndarray, ring_id: np.ndarray, x0: float, y0: float, x1: float, y1: float
):
    """Sutherland–Hodgman over many OPEN rings at once.

    Four half-plane passes; each pass emits, per cyclic edge (cur -> nxt):
    cur if inside, plus the boundary intersection when the edge crosses —
    identical to clip.clip_ring's scalar loop, but with the output laid out
    by exclusive cumsum offsets. Returns (pts, ring_id) deduped.
    """
    pts = np.asarray(pts, dtype=np.float64)
    ring_id = np.asarray(ring_id)
    for axis, bound, keep_ge in ((0, x0, True), (0, x1, False), (1, y0, True), (1, y1, False)):
        if len(pts) == 0:
            break
        nxt = pts[next_index(ring_id)]
        if keep_ge:
            cur_in = pts[:, axis] >= bound
            nxt_in = nxt[:, axis] >= bound
        else:
            cur_in = pts[:, axis] <= bound
            nxt_in = nxt[:, axis] <= bound
        denom = nxt[:, axis] - pts[:, axis]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = np.where(denom != 0, (bound - pts[:, axis]) / denom, 0.0)
        inter = pts + t[:, None] * (nxt - pts)
        inter[:, axis] = bound  # exact on the clip edge
        emit_int = cur_in != nxt_in
        counts = cur_in.astype(np.int64) + emit_int
        off = np.empty(len(counts) + 1, dtype=np.int64)
        off[0] = 0
        np.cumsum(counts, out=off[1:])
        out = np.empty((off[-1], 2), dtype=np.float64)
        out[off[:-1][cur_in]] = pts[cur_in]
        out[off[:-1][emit_int] + cur_in[emit_int]] = inter[emit_int]
        pts = out
        ring_id = np.repeat(ring_id, counts)
    return _dedupe(pts, ring_id)


def ring_areas2(q: np.ndarray, ring_id: np.ndarray):
    """Per-ring 2x signed shoelace area (y-up CCW positive), exact int64
    over quantized coords — the batched twin of geomstream.signed_area."""
    starts = run_starts(ring_id)
    nxt = next_index(ring_id, starts)
    cross = q[:, 0] * q[nxt, 1] - q[nxt, 0] * q[:, 1]
    return starts, np.add.reduceat(cross, starts)


def reverse_rings(pts: np.ndarray, ring_id: np.ndarray, rev_per_ring: np.ndarray):
    """Reverse vertex order of the flagged rings (orientation fix) via one
    global gather — no per-ring Python."""
    starts = run_starts(ring_id)
    bounds = np.append(starts[1:], len(pts))
    sizes = bounds - starts
    idx = np.arange(len(pts), dtype=np.int64)
    rev_rows = np.repeat(rev_per_ring, sizes)
    mirror = np.repeat(starts + bounds - 1, sizes) - idx
    return pts[np.where(rev_rows, mirror, idx)]


def clip_segments(
    p: np.ndarray, q: np.ndarray, x0: float, y0: float, x1: float, y1: float
):
    """Liang–Barsky for a flat batch of segments (same parametric clamp
    expressions as clip.clip_line). Returns (visible, a, b)."""
    d = q - p
    t0 = np.zeros(len(p))
    t1 = np.ones(len(p))
    tmins, tmaxs = [], []
    for axis, lo, hi in ((0, x0, x1), (1, y0, y1)):
        dv = d[:, axis]
        pv = p[:, axis]
        with np.errstate(divide="ignore", invalid="ignore"):
            tlo = np.where(dv != 0, (lo - pv) / dv, np.inf)
            thi = np.where(dv != 0, (hi - pv) / dv, -np.inf)
        tmin = np.minimum(tlo, thi)
        tmax = np.maximum(tlo, thi)
        tmins.append(tmin)
        tmaxs.append(tmax)
        par_in = (dv == 0) & (pv >= lo) & (pv <= hi)
        t0 = np.where(dv != 0, np.maximum(t0, tmin), np.where(par_in, t0, 2.0))
        t1 = np.where(dv != 0, np.minimum(t1, tmax), np.where(par_in, t1, -1.0))
    visible = t0 <= t1
    a = p + t0[:, None] * d
    b = p + t1[:, None] * d
    # Snap: an endpoint produced by a BINDING parametric clamp lies exactly
    # on that axis's boundary, but p + t*d reconstructs it with ulp noise —
    # and int32 truncation at an integer boundary flips on that noise. Set
    # the binding axis's coordinate to the boundary constant (the LB twin
    # of clip_ring's `inter[:, axis] = bound`).
    for axis, lo, hi in ((0, x0, x1), (1, y0, y1)):
        dv = d[:, axis]
        entry = np.where(dv > 0, lo, hi)
        exit_ = np.where(dv > 0, hi, lo)
        bind0 = (dv != 0) & (t0 > 0) & (t0 == tmins[axis])
        bind1 = (dv != 0) & (t1 < 1) & (t1 == tmaxs[axis])
        a[:, axis] = np.where(bind0, entry, a[:, axis])
        b[:, axis] = np.where(bind1, exit_, b[:, axis])
    return visible, a, b


def chain_parts(visible: np.ndarray, ring_id: np.ndarray, a: np.ndarray, b: np.ndarray):
    """Group visible clipped segments into connected polyline parts — the
    batched twin of clip.clip_line's chaining loop: a segment continues the
    previous part iff the previous segment (same ring) is visible and its
    clipped end b matches this segment's clipped start a (np.allclose
    tolerances). Returns per-visible-segment part ids (0..n_parts-1 in
    stream order)."""
    n = len(visible)
    cont = np.zeros(n, dtype=bool)
    if n > 1:
        close = (
            np.abs(b[:-1] - a[1:]) <= 1e-8 + 1e-5 * np.abs(a[1:])
        ).all(axis=1)
        cont[1:] = visible[:-1] & close & (ring_id[1:] == ring_id[:-1])
    new_part = visible & ~cont
    part_id = np.cumsum(new_part) - 1
    return part_id[visible], new_part[visible]


def encode_rings_words(q: np.ndarray, ring_id: np.ndarray, close: bool):
    """Ragged command-stream encode of many rings/polylines at once.

    Layout per ring (reference marshal.go:70-159): MoveTo(1), x0, y0,
    LineTo(n-1), zigzag deltas..., then ClosePath when ``close``. Returns
    (words uint32, word offsets per ring) — a ring's words are the slice
    words[woff[i]:woff[i+1]], and consecutive rings concatenate legally into
    Polygon / MultiLineString streams.
    """
    starts = run_starts(ring_id)
    bounds = np.append(starts[1:], len(q))
    sizes = bounds - starts
    extra = 3 if close else 2
    woff = np.empty(len(starts) + 1, dtype=np.int64)
    woff[0] = 0
    np.cumsum(2 * sizes + extra, out=woff[1:])
    words = np.empty(woff[-1], dtype=np.uint32)

    d = np.empty_like(q)
    d[0] = q[0]
    np.subtract(q[1:], q[:-1], out=d[1:])
    d[starts] = q[starts]  # first vertex of each ring is absolute
    zz = make_parameter(d)

    local = np.arange(len(q), dtype=np.int64) - np.repeat(starts, sizes)
    base = np.repeat(woff[:-1], sizes)
    pos = np.where(local == 0, base + 1, base + 2 * local + 2)
    words[pos] = zz[:, 0]
    words[pos + 1] = zz[:, 1]
    words[woff[:-1]] = make_command(MOVE_TO, 1)
    words[woff[:-1] + 3] = make_command(LINE_TO, sizes - 1)
    if close:
        words[woff[1:] - 1] = make_command(CLOSE_PATH, 1)
    return words, woff
