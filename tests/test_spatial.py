"""Spatial kernel tests with brute-force oracles (SURVEY.md §5.2 item 4)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from engine.spatial import cells, clip, hilbert, knn, mercator, pip, raster

rng = np.random.default_rng(42)


def test_mercator_roundtrip():
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-85, 85, 1000)
    u, v = mercator.lnglat_to_unit(lon, lat)
    assert (u >= 0).all() and (u <= 1).all() and (v >= 0).all() and (v <= 1).all()
    lon2, lat2 = mercator.unit_to_lnglat(u, v)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_mercator_known_points():
    u, v = mercator.lnglat_to_unit(0.0, 0.0)
    assert u == 0.5 and abs(v - 0.5) < 1e-12
    x, y = mercator.tile_of(0.0, 0.0, 1)
    assert (int(x), int(y)) == (1, 1)
    # z0: everything in tile (0,0)
    x, y = mercator.tile_of(-179.9, 84.9, 0)
    assert (int(x), int(y)) == (0, 0)


def test_tile_pixel_in_range():
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-85, 85, 500)
    z = 7
    tx, ty = mercator.tile_of(lon, lat, z)
    px, py = mercator.tile_pixel(lon, lat, z, tx, ty, 4096)
    assert (px >= 0).all() and (px < 4096).all()
    assert (py >= 0).all() and (py < 4096).all()


def test_morton_roundtrip():
    x = rng.integers(0, 2**14, 10000)
    y = rng.integers(0, 2**14, 10000)
    m = cells.morton(x, y)
    x2, y2 = cells.unmorton(m)
    assert (x2 == x).all() and (y2 == y).all()
    c = cells.cell_id(14, x, y)
    z2, x3, y3 = cells.cell_zxy(c)
    assert (z2 == 14).all() and (x3 == x).all() and (y3 == y).all()


def test_cell_parent():
    c = cells.cell_id(10, np.array([513]), np.array([770]))
    z, x, y = cells.cell_zxy(cells.parent(c, 2))
    assert (int(z.flat[0]), int(x[0]), int(y[0])) == (8, 128, 192)


def test_k_ring():
    ring = cells.k_ring(4, 3, 3, 1)
    assert len(ring) == 9
    zs, xs, ys = cells.cell_zxy(ring)
    assert sorted(zip(xs.tolist(), ys.tolist())) == [
        (x, y) for x in (2, 3, 4) for y in (2, 3, 4)
    ]
    # antimeridian wrap
    ring = cells.k_ring(4, 0, 5, 1)
    _, xs, _ = cells.cell_zxy(ring)
    assert set(xs.tolist()) == {15, 0, 1}
    # pole clamp
    ring = cells.k_ring(4, 5, 0, 1)
    _, _, ys = cells.cell_zxy(ring)
    assert set(ys.tolist()) == {0, 1}


def test_cells_covering_bbox():
    got = cells.cells_covering_bbox(2, 0.2, 0.2, 0.8, 0.8)
    zs, xs, ys = cells.cell_zxy(got)
    # floor(.2*4)=0 .. floor(.8*4)=3 -> all 16 tiles
    assert sorted(zip(xs.tolist(), ys.tolist())) == [
        (x, y) for x in range(4) for y in range(4)
    ]
    # a bbox inside one tile covers exactly that tile
    one = cells.cells_covering_bbox(2, 0.30, 0.30, 0.45, 0.45)
    _, xs1, ys1 = cells.cell_zxy(one)
    assert list(zip(xs1.tolist(), ys1.tolist())) == [(1, 1)]


def test_hilbert_roundtrip_and_locality():
    z = 8
    x = rng.integers(0, 2**z, 5000)
    y = rng.integers(0, 2**z, 5000)
    d = hilbert.xy2d(z, x, y)
    x2, y2 = hilbert.d2xy(z, d)
    assert (x2 == x).all() and (y2 == y).all()
    # curve visits every cell exactly once at small order
    d_all = hilbert.xy2d(3, *np.meshgrid(np.arange(8), np.arange(8)))
    assert sorted(d_all.ravel().tolist()) == list(range(64))
    # adjacent d -> adjacent cells (the defining property)
    xs, ys = hilbert.d2xy(3, np.arange(64))
    steps = np.abs(np.diff(xs)) + np.abs(np.diff(ys))
    assert (steps == 1).all()


def test_pip_against_matplotlib_free_oracle():
    # star-ish concave polygon + hole; oracle = slow per-point loop
    outer = np.array([[0, 0], [10, 0], [10, 10], [5, 5], [0, 10]], dtype=float)
    hole = np.array([[2, 1], [4, 1], [4, 3], [2, 3]], dtype=float)
    px = rng.uniform(-1, 11, 2000)
    py = rng.uniform(-1, 11, 2000)
    got = pip.points_in_polygon(px, py, [outer, hole])

    def slow_inside(x, y, ring):
        n = len(ring)
        c = False
        for i in range(n):
            x1, y1 = ring[i]
            x2, y2 = ring[(i + 1) % n]
            if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
                c = not c
        return c

    want = np.array(
        [slow_inside(x, y, outer) != slow_inside(x, y, hole) for x, y in zip(px, py)]
    )
    assert (got == want).all()


def test_clip_ring_basic():
    # triangle overlapping the unit box
    tri = np.array([[-1, 0.5], [0.5, -1], [2, 2]], dtype=float)
    out = clip.clip_ring(tri, 0, 0, 1, 1)
    assert len(out) >= 3
    assert (out >= -1e-9).all() and (out <= 1 + 1e-9).all()
    # fully inside: unchanged
    sq = np.array([[0.2, 0.2], [0.8, 0.2], [0.8, 0.8], [0.2, 0.8]])
    np.testing.assert_array_equal(clip.clip_ring(sq, 0, 0, 1, 1), sq)
    # fully outside: empty
    assert len(clip.clip_ring(sq + 5.0, 0, 0, 1, 1)) == 0


def test_clip_ring_area_oracle():
    # clipped area of random convex polygons == monte-carlo estimate
    ang = np.sort(rng.uniform(0, 2 * np.pi, 7))
    poly = np.stack([0.5 + 0.8 * np.cos(ang), 0.5 + 0.8 * np.sin(ang)], axis=1)
    out = clip.clip_ring(poly, 0, 0, 1, 1)

    def area(r):
        x, y = r[:, 0], r[:, 1]
        return 0.5 * abs(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))

    pts = rng.uniform(0, 1, (200_000, 2))
    mc_est = pip.points_in_polygon(pts[:, 0], pts[:, 1], [poly]).mean()
    assert abs(area(out) - mc_est) < 5e-3


def test_clip_line():
    line = np.array([[-1, 0.5], [0.5, 0.5], [0.5, 2], [2, 2], [0.9, 0.9]], dtype=float)
    parts = clip.clip_line(line, 0, 0, 1, 1)
    assert len(parts) == 2
    for p in parts:
        assert (p >= -1e-9).all() and (p <= 1 + 1e-9).all() and len(p) >= 2
    # fully inside line untouched
    inside = np.array([[0.1, 0.1], [0.9, 0.9]])
    parts = clip.clip_line(inside, 0, 0, 1, 1)
    assert len(parts) == 1 and np.allclose(parts[0], inside)
    # fully outside
    assert clip.clip_line(inside + 10, 0, 0, 1, 1) == []


def test_raster_roundtrip():
    u = rng.uniform(0, 1, 5000)
    v = rng.uniform(0, 1, 5000)
    grid = raster.rasterize_points(u, v, 16, 16)
    assert grid.sum() == 5000
    row, col = raster.raster_cell_of_unit(u, v, 16, 16)
    assert (row >= 0).all()
    # centers land back in their own cell
    r2, c2 = raster.raster_cell_of_unit(
        *raster.raster_center_unit(row, col, 16, 16), 16, 16
    )
    assert (r2 == row).all() and (c2 == col).all()
    # raster -> tile reprojection stays in-range
    tx, ty, px, py = raster.raster_cell_to_tile(row, col, 16, 16, z=5)
    assert (tx >= 0).all() and (tx < 32).all() and (px >= 0).all() and (px < 4096).all()
    assert (ty >= 0).all() and (ty < 32).all() and (py >= 0).all() and (py < 4096).all()


def _kgon(cx, cy, r, k, phase):
    ang = phase + 2 * np.pi * np.arange(k) / k
    return np.round(np.stack([cx + r * np.cos(ang), cy + r * np.sin(ang)], 1), 6)


@st.composite
def _pip_case(draw):
    """Random convex k-gons (some with a convex hole), a grid width below
    one polygon's span or above all of them, and probe points snapped onto
    vertices, edge y-levels, bbox borders and cell borders."""

    def f(lo, hi):
        return draw(st.floats(lo, hi, allow_nan=False))

    polys = []
    for _ in range(draw(st.integers(1, 4))):
        cx, cy, r, k = f(-60, 60), f(-60, 60), f(0.5, 20), draw(st.integers(3, 9))
        rings = [_kgon(cx, cy, r, k, f(0, 7))]
        if draw(st.booleans()):  # inside the exterior's inradius r cos(pi/k) >= r/2
            hole = _kgon(cx, cy, r * f(0.05, 0.45), draw(st.integers(3, 9)), f(0, 7))
            rings.append(hole[::-1])
        polys.append(rings)
    verts = np.concatenate([r for rings in polys for r in rings])
    lo, hi = verts.min(0), verts.max(0)
    ext = polys[0][0]
    if draw(st.booleans()):
        w = f(0.05, 0.95) * float((ext.max(0) - ext.min(0)).max())
    else:
        w = f(1.05, 4.0) * float((hi - lo).max() + np.abs(verts).max())
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))

    def near(m):
        return rng.uniform(lo - 1, hi + 1, (m, 2))

    n = 64
    borders = np.concatenate([[r[0].min(0), r[0].max(0)] for r in polys])
    y_level, bbox_x, bbox_y, cell = near(len(verts)), near(n), near(n), near(n)
    y_level[:, 1] = verts[:, 1]
    bbox_x[:, 0] = rng.choice(borders[:, 0], n)
    bbox_y[:, 1] = rng.choice(borders[:, 1], n)
    grid = rng.integers(np.floor(lo / w) - 1, np.floor(hi / w) + 2, (n, 2))
    cell[:, 0] = w * grid[:, 0]
    cell[: n // 2, 1] = w * grid[: n // 2, 1]
    xy = np.concatenate([near(n), verts, y_level, bbox_x, bbox_y, cell])
    return polys, w, xy[:, 0], xy[:, 1]


def _edge_table(polys):
    rows = []
    for pid, rings in enumerate(polys):
        for ring in rings:
            for (x1, y1), (x2, y2) in zip(ring, np.roll(ring, -1, axis=0)):
                rows.append((pid, x1, y1, x2, y2))
    return [np.array(c) for c in zip(*rows)]


@settings(max_examples=200, deadline=None)
@given(_pip_case())
def test_pip_cell_index_matches_ring_reference(case):
    """The join kernel (index + probe) equals the ring reference behind the
    oracle's closed bbox prefilter, pair for pair, at any grid width and
    any chunk budget."""
    polys, w, px, py = case
    pid, x1, y1, x2, y2 = _edge_table(polys)
    want = set()
    for i, rings in enumerate(polys):
        b0, b1 = rings[0].min(0), rings[0].max(0)
        in_box = (px >= b0[0]) & (px <= b1[0]) & (py >= b0[1]) & (py <= b1[1])
        inside = in_box & pip.points_in_polygon(px, py, rings)
        want |= {(int(r), i) for r in np.flatnonzero(inside)}
    ix = pip.build_cell_index(pid, x1, y1, x2, y2, w)
    rows, ids = pip.probe(ix, px, py)
    got = list(zip(rows.tolist(), ids.tolist()))
    assert got == sorted(want)
    # the pair x edge expansion split below one polygon's edge count
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(pip, "PAIR_EDGE_CHUNK", 2)
        rows2, ids2 = pip.probe(ix, px, py)
    assert list(zip(rows2.tolist(), ids2.tolist())) == got
    # edge order moves nothing but the order of a polygon's own edges
    rev = pip.build_cell_index(*(c[::-1] for c in (pid, x1, y1, x2, y2)), w)
    for name in ix._fields:
        if name != "edges":
            np.testing.assert_array_equal(getattr(ix, name), getattr(rev, name))
    rows3, ids3 = pip.probe(rev, px, py)
    assert list(zip(rows3.tolist(), ids3.tolist())) == got


@st.composite
def _knn_case(draw):
    """Centers on a coarse lattice in random poly_id order, with repeated
    coordinates and lattice-symmetric layouts so distances tie exactly, a
    grid width below or above the centers' spread, and points drawn at
    random, on the lattice and snapped onto cell borders."""
    h = draw(st.sampled_from([0.25, 0.5, 1.0]))
    n = draw(st.integers(0, 12))
    pool = draw(st.lists(st.tuples(st.integers(-12, 12), st.integers(-12, 12)), min_size=1, max_size=8))
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    xy = h * np.array(pool, np.float64)[rng.integers(0, len(pool), n)]
    poly_id = rng.permutation(n).astype(np.int64) * 3 + 7
    spread = h * 24.0
    if draw(st.booleans()):
        w = draw(st.floats(0.05, 0.95)) * spread
    else:
        w = draw(st.floats(1.05, 4.0)) * (spread + 12 * h)
    m = 48
    near = rng.uniform(-14 * h, 14 * h, (4 * m, 2))
    lattice = h * rng.integers(-14, 15, (m, 2)).astype(np.float64)
    grid = rng.integers(np.floor(-14 * h / w) - 1, np.floor(14 * h / w) + 2, (m, 2))
    border = near[:m].copy()
    border[:, 0] = w * grid[:, 0]
    border[: m // 2, 1] = w * grid[: m // 2, 1]
    pts = np.concatenate([near, lattice, border])
    return poly_id, xy[:, 0], xy[:, 1], w, pts[:, 0], pts[:, 1], draw(st.integers(1, 5))


def _knn_reference(poly_id, clon, clat, lon, lat, k):
    """Every (point, center) distance in the oracle's IEEE order, ranked by
    numpy lexsort((poly_id, dist2)) per point."""
    dlon = lon[:, None] - clon[None, :]
    dlat = lat[:, None] - clat[None, :]
    d2 = dlon * dlon + dlat * dlat
    order = np.lexsort((np.broadcast_to(poly_id, d2.shape), d2), axis=-1)
    out = []
    for i, o in enumerate(order):
        for r, j in enumerate(o[:k]):
            out.append((i, r + 1, int(poly_id[j]), float(d2[i, j])))
    return out


def _knn_rows(ix, lon, lat, k):
    rows, pid, d2, rank = knn.topk(ix, lon, lat, k)
    return sorted(zip(rows.tolist(), rank.tolist(), pid.tolist(), d2.tolist()))


@settings(max_examples=300, deadline=None)
@given(_knn_case())
def test_knn_topk_matches_lexsort_reference(case):
    """The join kernel (center index + top-k) equals ranking every center
    by (dist2, poly_id), row for row, at any grid width, with ties, with k
    above the center count and with no centers; center order changes
    nothing."""
    poly_id, clon, clat, w, lon, lat, k = case
    want = _knn_reference(poly_id, clon, clat, lon, lat, k)
    ix = knn.build_center_index(poly_id, clon, clat, w)
    assert _knn_rows(ix, lon, lat, k) == want
    rev = knn.build_center_index(poly_id[::-1], clon[::-1], clat[::-1], w)
    for name in ix._fields:
        np.testing.assert_array_equal(getattr(ix, name), getattr(rev, name))


@settings(max_examples=200, deadline=None)
@given(_knn_case())
def test_knn_topk_gather_runs_match_bruteforce(case):
    """Under the default gather budget a batch is one run; with the budget
    patched to 2 candidates, every run gathers at most 2 or holds one
    point, and the top-k still equals ranking every center with
    topk_bruteforce."""
    poly_id, clon, clat, w, lon, lat, k = case
    ix = knn.build_center_index(poly_id, clon, clat, w)
    rows, pid, d2, rank = knn.topk_bruteforce(lon, lat, ix.clon, ix.clat, ix.poly_id, k)
    want = sorted(zip(rows.tolist(), rank.tolist(), pid.tolist(), d2.tolist()))
    runs = []
    run = knn._topk_run
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(
            knn,
            "_topk_run",
            lambda ix, lon, lat, lo, fan, k: runs.append((len(lon), int(fan.sum())))
            or run(ix, lon, lat, lo, fan, k),
        )
        assert _knn_rows(ix, lon, lat, k) == want
        assert [n for n, _ in runs] == ([len(lon)] if len(poly_id) else [])
        runs.clear()
        mp.setattr(knn, "GATHER_CHUNK", 2)
        assert _knn_rows(ix, lon, lat, k) == want
    assert sum(n for n, _ in runs) == (len(lon) if len(poly_id) else 0)
    assert all(n == 1 or gathered <= 2 for n, gathered in runs)
