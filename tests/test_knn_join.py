"""The broadcast kNN plan: one map-only probe whose rows do not depend on
page partitioning or on the order of the center table, and which equals
brute force (and the partitioned plan) under both."""

from __future__ import annotations

from engine.pipeline import fixtures, joins

from .conftest import SF_DIR as SF
from .test_joins_skew import _polar_cluster

SCHEMA = "poly_id long, clon double, clat double"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _centers():
    return [
        (pid, clon, clat)
        for pid, _, clon, clat in fixtures.polygon_centers_np(fixtures.poly_count_for(SF))
    ]


def test_knn_join_order_and_partition_invariant(spark):
    geo = fixtures.geotag_df(fixtures.pages_df(spark, SF))
    rows = _centers()
    centers = spark.createDataFrame(rows, SCHEMA)
    reversed_centers = spark.createDataFrame(rows[::-1], SCHEMA)
    want = _rows(joins.knn_bruteforce(geo, centers, k=3))
    assert len(want) == 3 * geo.count()
    for n in (1, 7):
        pages = geo.repartition(n)
        assert _rows(joins.knn_join(pages, centers)) == want
        assert _rows(joins.knn_join_partitioned(pages, centers)) == want
    assert _rows(joins.knn_join(geo, reversed_centers)) == want
    assert _rows(joins.knn_join_partitioned(geo, reversed_centers)) == want
    # a width that leaves most pages to the in-worker residue
    assert _rows(joins.knn_join(geo, reversed_centers, cell_deg=2.0)) == want


def test_knn_join_plan_is_map_only(spark):
    """Above the page input, the plan is one MapInArrow: no join, broadcast,
    window or cached relation (the fixture's page input brings its own
    exchange), and building it runs one job, the center collect."""
    geo = fixtures.geotag_df(fixtures.pages_df(spark, SF))
    centers = fixtures.polygon_centers_df(spark, SF)
    sc = spark.sparkContext
    sc.setJobGroup("knn_build", "knn_join build")
    try:
        out = joins.knn_join(geo, centers)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("knn_build")) == 1
    plan = _plan(out)
    assert "MapInArrow" in plan
    for node in ("Join", "BroadcastExchange", "Window", "InMemoryRelation"):
        assert node not in plan
    assert plan.count("Exchange") == _plan(geo).count("Exchange")


def test_knn_join_polar_residue_and_k_exceeds_centers(spark):
    """Every page of the polar cluster is residue at a 2-degree width; k
    above the center count ranks every center; no centers, no rows."""
    pages, centers = _polar_cluster(spark)
    want = _rows(joins.knn_bruteforce(pages, centers, k=3))
    assert _rows(joins.knn_join(pages, centers, k=3, cell_deg=2.0)) == want
    small = spark.createDataFrame([(0, 10.0, 10.0), (1, -20.0, 5.0)], SCHEMA)
    want = _rows(joins.knn_bruteforce(pages, small, k=5))
    assert len(want) == 2 * pages.count()
    assert _rows(joins.knn_join(pages, small, k=5)) == want
    assert _rows(joins.knn_join(pages, small.limit(0), k=3)) == []
