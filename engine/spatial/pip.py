"""Point-in-polygon ray casting (SURVEY B8) — vectorized numpy.

Even-odd rule: a point is inside iff a ray to +infinity crosses the polygon
boundary an odd number of times. Counting crossings over ALL rings
(exterior + holes) makes holes subtract automatically. Boundary behavior is
the standard half-open convention (deterministic, consistent with the
DuckDB oracle SQL used in __spark_entry__.py).

``points_in_polygon`` is the per-polygon reference; ``build_cell_index`` +
``probe`` are the batched kernel of joins.pip_join over a flat edge table.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

from engine.spatial.clipbatch import concat_ranges, pack_cells, run_starts

# (point, polygon) x edge rows evaluated per step of ``probe``: the gathered
# coordinates and indices of 2^18 rows stay near 16 MB, whatever the page
# density of the batch or the edge count of the polygons under it
PAIR_EDGE_CHUNK = 1 << 18


def ring_crossings(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Number of upward/downward edge crossings of a horizontal +x ray from
    each point. ``ring`` is (n,2) closed or open (closing edge implied).
    Returns int array of crossing counts per point."""
    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]
    r = np.asarray(ring, dtype=np.float64)
    if len(r) > 1 and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    x1, y1 = r[None, :, 0], r[None, :, 1]
    x2 = np.roll(r[:, 0], -1)[None, :]
    y2 = np.roll(r[:, 1], -1)[None, :]
    straddle = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        x_at = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
    hits = straddle & (px < x_at)
    return hits.sum(axis=1)


def points_in_polygon(px, py, rings) -> np.ndarray:
    """Even-odd inside test for points vs a polygon (list of rings:
    exterior first, then holes)."""
    total = np.zeros(np.asarray(px).shape, dtype=np.int64)
    for ring in rings:
        total += ring_crossings(px, py, ring)
    return (total % 2) == 1


class CellIndex(NamedTuple):
    """Grid index over an edge table; polygon slots are in poly_id order."""

    w: float  # cell width
    codes: np.ndarray  # sorted distinct packed cells
    cell_off: np.ndarray  # slots in codes[i]: cell_slot[cell_off[i]:cell_off[i + 1]]
    cell_slot: np.ndarray
    bbox: np.ndarray  # (4, slots): x0, y0, x1, y1
    edge_off: np.ndarray  # edges of slot p: edges[:, edge_off[p]:edge_off[p + 1]]
    edges: np.ndarray  # (4, edges): x1, y1, x2, y2
    poly_id: np.ndarray  # per slot


def build_cell_index(poly_id, x1, y1, x2, y2, w: float) -> CellIndex:
    """Index an edge table (one row per polygon edge, any ring) on a grid of
    width ``w``. Only the order of a polygon's own edges depends on the order
    they were collected in, and crossing counts do not."""
    order = np.argsort(poly_id, kind="stable")
    poly_id = np.asarray(poly_id)[order]
    edges = np.stack([x1, y1, x2, y2]).astype(np.float64)[:, order]
    starts = run_starts(poly_id)
    # each bbox is the least / greatest of its edge ends
    bbox = np.concatenate([
        np.minimum.reduceat(np.minimum(edges[:2], edges[2:]), starts, axis=1),
        np.maximum.reduceat(np.maximum(edges[:2], edges[2:]), starts, axis=1),
    ])
    gx0, gy0, gx1, gy1 = np.floor(bbox / w).astype(np.int64)
    ny = gy1 - gy0 + 1
    n_cells = (gx1 - gx0 + 1) * ny
    slot = np.repeat(np.arange(len(starts)), n_cells)
    k = concat_ranges(np.zeros_like(n_cells), n_cells)
    code = pack_cells(gx0[slot] + k // ny[slot], gy0[slot] + k % ny[slot])
    by_code = np.argsort(code, kind="stable")
    code, slot = code[by_code], slot[by_code]
    first = run_starts(code)
    return CellIndex(
        w, code[first], np.append(first, len(code)), slot, bbox,
        np.append(starts, len(poly_id)), edges, poly_id[starts],
    )


def probe(ix: CellIndex, lon: np.ndarray, lat: np.ndarray):
    """(row, poly_id) for every point inside an indexed polygon by the
    even-odd rule: the point's cell by binary search, the closed bbox test,
    then the crossing parity over the polygon's edges, PAIR_EDGE_CHUNK
    (point, polygon) x edge rows at a time, in the SQL CROSSING_COND order
    of IEEE operations. Pairs come out by row, then by poly_id."""
    if not len(ix.codes):
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    code = pack_cells(*np.floor(np.stack([lon, lat]) / ix.w).astype(np.int64))
    at = np.minimum(np.searchsorted(ix.codes, code), len(ix.codes) - 1)
    rows = np.flatnonzero(ix.codes[at] == code)
    at = at[rows]
    fan = ix.cell_off[at + 1] - ix.cell_off[at]
    page = np.repeat(rows, fan)
    slot = ix.cell_slot[concat_ranges(ix.cell_off[at], fan)]
    x0, y0, x1, y1 = ix.bbox[:, slot]
    px, py = lon[page], lat[page]
    keep = (px >= x0) & (px <= x1) & (py >= y0) & (py <= y1)
    page, slot, px, py = page[keep], slot[keep], px[keep], py[keep]
    n_edges = ix.edge_off[slot + 1] - ix.edge_off[slot]
    ends = np.cumsum(n_edges)
    crossings = np.zeros(len(slot), dtype=np.int64)
    total = int(ends[-1:].sum())
    for s in range(0, total, PAIR_EDGE_CHUNK):
        g = np.arange(s, min(s + PAIR_EDGE_CHUNK, total))
        pair = np.searchsorted(ends, g, side="right")
        e = ix.edges[:, ix.edge_off[slot[pair]] + g - ends[pair] + n_edges[pair]]
        y = py[pair]
        straddle = (e[1] > y) != (e[3] > y)
        pair, y, (ex1, ey1, ex2, ey2) = pair[straddle], y[straddle], e[:, straddle]
        hit = pair[px[pair] < ex1 + (y - ey1) * (ex2 - ex1) / (ey2 - ey1)]
        if len(hit):
            crossings[hit[0] : hit[-1] + 1] += np.bincount(hit - hit[0])
    odd = crossings % 2 == 1
    return page[odd], ix.poly_id[slot[odd]]
