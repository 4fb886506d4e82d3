"""Exact k nearest centers (SURVEY B9) — vectorized numpy.

Distances are the SQL oracle's IEEE expression
(lon - clon) * (lon - clon) + (lat - clat) * (lat - clat), evaluated in that
order, and each page's centers rank by (dist2, poly_id).

``build_center_index`` + ``topk`` are the batched kernel of both kNN plans:
a grid index proves most pages' top-k from their 3x3 neighbor cells, and
``topk_bruteforce`` ranks every center for the rest. joins.knn_join runs it
over the whole collected center table; joins.knn_join_partitioned runs it
per group cell over the centers that ``group_cells`` routes there.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from engine.spatial.clipbatch import concat_ranges, pack_cells, run_starts

# (point, center) candidate rows gathered per step of ``topk``. A 16k-row
# Arrow batch of sf0.1 pages gathers 0.3-0.5M rows (5k and 50k centers), so
# it stays one step; a hot cell under many points is split into steps of at
# most this many rows plus one point's 3x3 cells (~70 MB of working arrays
# at 2^20 rows, whatever the batch size or the cell's center count).
GATHER_CHUNK = 1 << 20


class CenterIndex(NamedTuple):
    """Grid index over a center table; center slots are in poly_id order."""

    w: float  # cell width
    codes: np.ndarray  # sorted distinct packed cells
    cell_off: np.ndarray  # slots in codes[i]: cell_slot[cell_off[i]:cell_off[i + 1]]
    cell_slot: np.ndarray
    poly_id: np.ndarray  # per slot
    clon: np.ndarray
    clat: np.ndarray


def _empty():
    return (
        np.zeros(0, np.int64), np.zeros(0, np.int64),
        np.zeros(0, np.float64), np.zeros(0, np.int32),
    )


def build_center_index(poly_id, clon, clat, w: float) -> CenterIndex:
    """Index a center table on a grid of width ``w``; the index does not
    depend on the order the centers were collected in."""
    order = np.argsort(poly_id, kind="stable")
    poly_id = np.asarray(poly_id, np.int64)[order]
    clon = np.asarray(clon, np.float64)[order]
    clat = np.asarray(clat, np.float64)[order]
    code = pack_cells(*np.floor(np.stack([clon, clat]) / w).astype(np.int64))
    slot = np.argsort(code, kind="stable")
    code = code[slot]
    first = run_starts(code)
    return CenterIndex(
        w, code[first], np.append(first, len(code)), slot, poly_id, clon, clat
    )


def topk(ix: CenterIndex, lon: np.ndarray, lat: np.ndarray, k: int):
    """(row, poly_id, dist2, rank) of each point's k nearest centers.

    The candidates of a point are the centers of its 3x3 neighbor cells, one
    column of three cells per binary-search range. A center outside them is
    more than one cell width away in some axis, so once at least k
    candidates lie within distance w their top-k is exact; every other point
    is ranked against all centers by ``topk_bruteforce``. So is a point
    whose 3x3 cells hold every center (a hot cell), which the gather would
    only make slower. The other points are taken in runs whose candidates
    sum to at most GATHER_CHUNK (one point at least)."""
    if not len(ix.poly_id):
        return _empty()
    gx, gy = np.floor(np.stack([lon, lat]) / ix.w).astype(np.int64)
    col = gx + np.array([[-1], [0], [1]])
    lo = ix.cell_off[np.searchsorted(ix.codes, pack_cells(col, gy - 1))]
    fan = ix.cell_off[np.searchsorted(ix.codes, pack_cells(col, gy + 2))] - lo
    cand = fan.sum(axis=0)
    hot = np.flatnonzero(cand >= len(ix.poly_id))
    row, pid, d2, rank = topk_bruteforce(lon[hot], lat[hot], ix.clon, ix.clat, ix.poly_id, k)
    parts = [(hot[row], pid, d2, rank)]
    cold = np.flatnonzero(cand < len(ix.poly_id))
    ends = np.cumsum(cand[cold])
    s = 0
    while s < len(cold):
        start = ends[s - 1] if s else 0
        e = max(s + 1, int(np.searchsorted(ends, start + GATHER_CHUNK, side="right")))
        c = cold[s:e]
        row, pid, d2, rank = _topk_run(ix, lon[c], lat[c], lo[:, c], fan[:, c], k)
        parts.append((c[row], pid, d2, rank))
        s = e
    return tuple(np.concatenate(c) for c in zip(*parts))


def _topk_run(ix: CenterIndex, lon, lat, lo, fan, k: int):
    """``topk`` over one run of points whose 3x3 candidate ranges are
    (lo, fan), three columns of cells per point."""
    n = len(lon)
    page = np.repeat(np.tile(np.arange(n), 3), fan.ravel())
    slot = ix.cell_slot[concat_ranges(lo.ravel(), fan.ravel())]
    dlon = lon[page] - ix.clon[slot]
    dlat = lat[page] - ix.clat[slot]
    dist2 = dlon * dlon + dlat * dlat
    ball = dist2 <= ix.w * ix.w
    page, slot, dist2 = page[ball], slot[ball], dist2[ball]
    # slots are in poly_id order, so this is the (dist2, poly_id) order
    order = np.lexsort((slot, dist2, page))
    page, slot, dist2 = page[order], slot[order], dist2[order]
    count = np.bincount(page, minlength=n)
    rank = np.arange(len(page)) - (np.cumsum(count) - count)[page] + 1
    proved = count >= k
    keep = proved[page] & (rank <= k)
    residue = np.flatnonzero(~proved)
    r_row, r_pid, r_d2, r_rank = topk_bruteforce(
        lon[residue], lat[residue], ix.clon, ix.clat, ix.poly_id, k
    )
    return (
        np.concatenate([page[keep], residue[r_row]]),
        np.concatenate([ix.poly_id[slot[keep]], r_pid]),
        np.concatenate([dist2[keep], r_d2]),
        np.concatenate([rank[keep].astype(np.int32), r_rank]),
    )


def topk_bruteforce(lon, lat, clon, clat, poly_ids, k: int):
    """(row, poly_id, dist2, rank) of each point's k nearest centers over the
    full distance matrix; ``poly_ids`` must be sorted, so that argmin's first
    minimum is the smallest poly_id among ties."""
    P = len(poly_ids)
    if not len(lon) or not P:
        return _empty()
    out_row, out_pid, out_d2, out_rank = [], [], [], []
    # ~16MB f64 working buffers: small enough that many concurrent
    # tasks' buffers stay in cache/resident pages (128MB buffers
    # measured 4x slower at 32 concurrent tasks on the lazy-fault
    # sandbox VM and thrash LLC on real executors too)
    chunk = max(1, (1 << 21) // max(P, 1))
    buf = np.empty((min(chunk, len(lon)), P), dtype=np.float64)
    tmp = np.empty_like(buf)
    for s in range(0, len(lon), chunk):
        e = min(s + chunk, len(lon))
        m = e - s
        d2 = buf[:m]
        t = tmp[:m]
        # exact oracle arithmetic, minimal memory traffic
        np.subtract(lon[s:e, None], clon[None, :], out=d2)
        np.multiply(d2, d2, out=d2)
        np.subtract(lat[s:e, None], clat[None, :], out=t)
        np.multiply(t, t, out=t)
        np.add(d2, t, out=d2)
        kk = min(k, P)
        sel_pid = np.empty((m, kk), dtype=np.int64)
        sel_d2 = np.empty((m, kk), dtype=np.float64)
        rows = np.arange(m)
        for j in range(kk):
            # argmin returns the FIRST minimum -> smallest poly_id
            # among ties, i.e. exactly the (dist2, poly_id) order
            idx = np.argmin(d2, axis=1)
            sel_pid[:, j] = poly_ids[idx]
            sel_d2[:, j] = d2[rows, idx]
            d2[rows, idx] = np.inf
        out_row.append(np.repeat(np.arange(s, e), kk))
        out_pid.append(sel_pid.reshape(-1))
        out_d2.append(sel_d2.reshape(-1))
        out_rank.append(np.tile(np.arange(1, kk + 1), m).astype(np.int32))
    return tuple(np.concatenate(c) for c in (out_row, out_pid, out_d2, out_rank))


def group_cells(kx, ky, count, k: int, g: float):
    """(gx, gy, kx, ky) rows: for every cell (gx, gy) of the width-``g`` grid
    over lon [-180, 180] x lat [-90, 90], each occupied center cell (kx, ky)
    of the same grid (``count`` centers) that can hold one of the k nearest
    centers of a point in it.

    Between a point cell and a center cell (dx, dy) cells apart, every
    (point, center) distance is at least g * |(max(|dx| - 1, 0), max(|dy| -
    1, 0))| (mind) and at most g * |(|dx| + 1, |dy| + 1)| (maxd). R2, the
    smallest maxd^2 at which the running center count reaches k, bounds the
    k-th neighbor distance of every point in the cell, so the center cells
    with mind^2 <= R2 hold every center tied with or nearer than it (all
    cells when there are fewer than k centers). Both are compared in integer
    units of g^2, which has no rounding."""
    kx, ky, count = (np.asarray(a, np.int64) for a in (kx, ky, count))
    gx, gy = (
        a.ravel()
        for a in np.meshgrid(
            *(np.arange(np.floor(-h / g), np.floor(h / g) + 1, dtype=np.int64) for h in (180, 90)),
            indexing="ij",
        )
    )
    if not len(kx):
        return (np.zeros(0, np.int64),) * 4
    parts = []
    step = max(1, GATHER_CHUNK // len(kx))
    for s in range(0, len(gx), step):
        px, py = gx[s : s + step, None], gy[s : s + step, None]
        dx, dy = np.abs(px - kx), np.abs(py - ky)
        maxd2 = (dx + 1) ** 2 + (dy + 1) ** 2
        order = np.argsort(maxd2, axis=1)
        reach = np.cumsum(count[order], axis=1) >= k
        at = np.take_along_axis(order, reach.argmax(axis=1)[:, None], axis=1)
        r2 = np.where(reach[:, -1:], np.take_along_axis(maxd2, at, axis=1), np.iinfo(np.int64).max)
        mind2 = np.maximum(dx - 1, 0) ** 2 + np.maximum(dy - 1, 0) ** 2
        p, c = np.nonzero(mind2 <= r2)
        parts.append((px[p, 0], py[p, 0], kx[c], ky[c]))
    return tuple(np.concatenate(c) for c in zip(*parts))
