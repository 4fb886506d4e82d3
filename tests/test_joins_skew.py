"""Skew-robustness tests for the shuffle-both-sides join paths:

- mega-polygon edge-join salting (pip_join_partitioned auto-salt): one
  polygon owning ~50% of all edges under page-dense area must neither
  change results nor require manual tuning;
- kNN partitioned terminal: a dense page cluster far from ALL centers
  (the geography no fine cell level can prove) resolves exactly through
  the cell-bound terminal's per-cell adaptive radii — with no cartesian
  fallback and no driver-side widening loop.
"""

from __future__ import annotations

import math

import pytest

from engine.pipeline import fixtures, joins


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mega_edges(spark, n_mega: int = 240):
    """Fixture polygons (sf0.001 count) + one mega-polygon: a convex
    n_mega-gon over the densest page band, owning ~50% of all edges."""
    n = fixtures.poly_count_for("/root/testdata/sf0.001")
    rows = list(fixtures.polygon_edges_np(n))
    mega_id = 10_000
    pts = [
        (
            round(20.0 + 60.0 * math.cos(2 * math.pi * i / n_mega), 6),
            round(10.0 + 50.0 * math.sin(2 * math.pi * i / n_mega), 6),
        )
        for i in range(n_mega)
    ]
    for i in range(n_mega):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n_mega]
        rows.append((mega_id, 0, x1, y1, x2, y2))
    return spark.createDataFrame(
        rows, "poly_id long, ring_idx int, x1 double, y1 double, x2 double, y2 double"
    )


def test_pip_edge_salt_auto_matches_unsalted(spark, monkeypatch):
    geo = fixtures.geotag_df(fixtures.pages_df(spark, "/root/testdata/sf0.001"))
    edges = _mega_edges(spark).persist()
    want = _rows(joins.pip_join(geo, edges))
    assert len(want) > 0
    # default threshold with the stat below it: unsalted single-reducer routing
    got_off = _rows(joins.pip_join_partitioned(geo, edges, max_edges_per_poly=240))
    assert got_off == want
    # the threshold is read when the function runs: at 100 the mega-poly
    # (240 edges) is salted, both without the stat (auto) and with it
    monkeypatch.setattr(joins, "EDGE_SALT_EDGES_PER_POLY", 100)
    got_auto = _rows(joins.pip_join_partitioned(edges=edges, geotagged=geo))
    assert got_auto == want
    got_salted = _rows(
        joins.pip_join_partitioned(geo, edges, max_edges_per_poly=240)
    )
    assert got_salted == want
    edges.unpersist()


def test_pip_edge_salt_auto_detects(spark):
    """Without a stat the plan salts through the lazy skew table; normal
    fixture polys (<= 8 edges) fall under the threshold, so the table is
    empty and every edge routes to salt 0 — same rows as pip_join."""
    stats = fixtures.polygon_table_stats(8)
    assert stats["max_edges_per_poly"] <= 16
    assert stats["n_edges"] > 0
    geo = fixtures.geotag_df(fixtures.pages_df(spark, "/root/testdata/sf0.001"))
    edges = fixtures.polygon_edges_df(spark, "/root/testdata/sf0.001")
    assert _rows(joins.pip_join_partitioned(geo, edges)) == _rows(
        joins.pip_join(geo, edges)
    )


def test_polygon_table_stats_match_actual(spark):
    n = fixtures.poly_count_for("/root/testdata/sf0.001")
    stats = fixtures.polygon_table_stats(n)
    rows = fixtures.polygon_edges_np(n)
    assert stats["n_edges"] == len(rows)
    per = {}
    for r in rows:
        per[r[0]] = per.get(r[0], 0) + 1
    assert stats["max_edges_per_poly"] == max(per.values())


def test_broadcast_center_limit_scales_with_parallelism(spark):
    """knn_join_auto's routing threshold is per-core x defaultParallelism
    (the hybrid/partitioned crossover moves ~linearly with cores —
    BENCH/CALIBRATION.md), capped by the hybrid's driver-collect ceiling."""
    par = spark.sparkContext.defaultParallelism
    limit = joins.broadcast_center_limit(spark)
    assert limit == joins.BROADCAST_CENTER_LIMIT_PER_CORE * par
    assert limit <= joins.BROADCAST_CENTER_COLLECT_CAP
    # the measured crossover windows: 8 cores -> limit inside (10k, 50k];
    # 32 cores -> inside (50k, 120k]
    assert 10_000 < joins.BROADCAST_CENTER_LIMIT_PER_CORE * 8 <= 50_000
    assert 50_000 < joins.BROADCAST_CENTER_LIMIT_PER_CORE * 32 <= 120_000


def test_pip_grid_deg_calibration():
    assert joins.pip_grid_deg(362_000) == pytest.approx(2.0, rel=0.01)
    assert joins.pip_grid_deg(6_200_000) == pytest.approx(0.484, rel=0.01)
    assert joins.pip_grid_deg(100) == joins.PIP_GRID_DEG  # small-end clamp
    assert joins.pip_grid_deg(10**12) == 0.05  # floor


def test_knn_cell_deg_calibration():
    assert joins.knn_cell_deg(5_000) == pytest.approx(5.097, rel=0.01)
    assert joins.knn_cell_deg(32_475) == pytest.approx(2.0)
    assert joins.knn_cell_deg(50_000) == 2.0  # floor
    assert joins.knn_cell_deg(100) == joins.KNN_CELL_DEG  # small-end clamp
    assert joins.knn_cell_deg(0) == joins.KNN_CELL_DEG


def _polar_cluster(spark, n_pages: int = 400):
    """Dense page cluster at the pole, centers on the equator band — every
    page's k-th center is far, so no cell level proves the top-k and the
    whole cluster lands in the terminal residue."""
    pages = spark.createDataFrame(
        [(f"u{i}", 89.0 + (i % 7) * 0.1, -170.0 + (i % 89) * 3.9) for i in range(n_pages)],
        "url string, lat double, lon double",
    )
    centers = spark.createDataFrame(
        [(i, -170.0 + i * 7.0, -50.0 + (i % 5)) for i in range(48)],
        "poly_id long, clon double, clat double",
    )
    return pages, centers


def test_knn_partitioned_polar_residue_exact(spark):
    """Polar cluster -> no fine level proves anything; the cell-bound
    terminal's adaptive radii must resolve the whole cluster exactly."""
    pages, centers = _polar_cluster(spark)
    want = _rows(joins.knn_bruteforce(pages, centers, k=3))
    got = _rows(joins.knn_join_partitioned(pages, centers, k=3, cell_deg=2.0))
    assert got == want


def test_knn_partitioned_far_cluster_exact(spark):
    """A page cluster ~50 deg from its centers: the fine level (cell_deg=1)
    cannot prove the top-k, so every page resolves through the cell-bound
    terminal — exactly, with no cartesian fallback in the plan."""
    pages = spark.createDataFrame(
        [(f"u{i}", (i % 9) * 0.4, (i % 11) * 0.4) for i in range(300)],
        "url string, lat double, lon double",
    )
    centers = spark.createDataFrame(
        [(i, 50.0 + (i % 7) * 0.5, (i % 5) * 0.5) for i in range(48)],
        "poly_id long, clon double, clat double",
    )
    want = _rows(joins.knn_bruteforce(pages, centers, k=3))
    got = joins.knn_join_partitioned(pages, centers, k=3, cell_deg=1.0)
    plan = got._sc._jvm.PythonSQLUtils.explainString(
        got._jdf.queryExecution(), "formatted"
    )
    # the only nested-loop join allowed is the metadata-sized pcells x
    # ccells bound table (a broadcast NLJ); a data-sized CartesianProduct
    # (the old residue fallback) must never appear
    assert "CartesianProduct" not in plan
    assert _rows(got) == want


def test_knn_partitioned_k_exceeds_centers(spark):
    """k larger than the center table: the terminal's R2 becomes +inf and
    every center ranks — same contract as brute force."""
    pages = spark.createDataFrame(
        [(f"u{i}", 1.0 + i * 0.1, 2.0 + i * 0.1) for i in range(20)],
        "url string, lat double, lon double",
    )
    centers = spark.createDataFrame(
        [(0, 10.0, 10.0), (1, -20.0, 5.0)],
        "poly_id long, clon double, clat double",
    )
    want = _rows(joins.knn_bruteforce(pages, centers, k=5))
    got = _rows(joins.knn_join_partitioned(pages, centers, k=5, cell_deg=2.0))
    assert got == want


def _cached_rdd_ids(spark):
    sc = spark.sparkContext._jsc.sc()
    return {info.id() for info in sc.getRDDStorageInfo()}


@pytest.mark.parametrize("fn", [joins.knn_join, joins.knn_join_partitioned])
def test_knn_free_persisted_cleans_storage(spark, fn):
    """The partitioned cascade persists its split table, whose lifetime is
    the query; free_persisted must drop it after the caller's terminal
    action, so repeated kNN calls in a long-lived session do not
    accumulate block-manager storage. The map-only broadcast plan caches
    nothing, during the action or after it. Proof style:
    getRDDStorageInfo before/after, as in engine.textops.cluster's
    checkpoint discipline."""
    pages, centers = _polar_cluster(spark, n_pages=150)
    base = _cached_rdd_ids(spark)
    out = fn(pages, centers, k=3, cell_deg=2.0)
    out.write.format("noop").mode("overwrite").save()
    during = _cached_rdd_ids(spark) - base
    if fn is joins.knn_join:
        assert during == set(), "the map-only plan persists nothing"
    else:
        assert during, "cascade should persist its per-level split tables"
    joins.free_persisted(out, blocking=True)
    assert _cached_rdd_ids(spark) - base == set(), (
        "free_persisted must drop every cascade-persisted block"
    )
