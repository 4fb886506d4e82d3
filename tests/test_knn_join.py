"""The two kNN plans, one kernel: the broadcast map-only probe and the
partitioned cogroup, whose rows do not depend on page partitioning or on
the order of the center table, and which equal brute force under both."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

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


def _exchanges(df) -> int:
    return len(re.findall(r"^\(\d+\) Exchange\b", _plan(df), re.M))


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


def test_knn_join_partitioned_plan_is_one_cogroup(spark):
    """Above its inputs, the partitioned plan is one Exchange per side into
    one cogrouped Arrow kernel: no join, broadcast, window, cached relation
    or cartesian product. With the center count given (a table statistic,
    as the bench passes it), building it runs one action, the collect of
    center counts per group cell: two jobs under AQE (the aggregate's map
    stage, then its result), and it never reads the pages."""
    geo = fixtures.geotag_df(fixtures.pages_df(spark, SF))
    centers = fixtures.polygon_centers_df(spark, SF)
    n = len(_centers())
    sc = spark.sparkContext
    sc.setJobGroup("knn_part_build", "knn_join_partitioned build")
    try:
        out = joins.knn_join_partitioned(geo, centers, n_centers=n)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("knn_part_build")) == 2
    trap = geo.withColumn("lat", F.expr("cast(raise_error('pages read') as double)"))
    joins.knn_join_partitioned(trap, centers, n_centers=n)
    plan = _plan(out)
    assert "FlatMapCoGroupsInArrow" in plan
    for node in ("Join", "BroadcastExchange", "Window", "InMemoryRelation", "CartesianProduct"):
        assert node not in plan
    assert _exchanges(out) == _exchanges(geo) + _exchanges(centers) + 2


@pytest.mark.parametrize(
    "lat, lon", [(10.0, 180.5), (-90.5, 0.0), (float("nan"), 0.0), (0.0, float("nan"))]
)
def test_knn_join_partitioned_fails_out_of_grid_page(spark, lat, lon):
    """A page off the lon [-180, 180] x lat [-90, 90] group grid has no
    group whose centers are bounded for it: the job fails instead of
    dropping its rows. The grid's edges themselves are in range."""
    centers = spark.createDataFrame([(0, 10.0, 10.0), (1, -20.0, 5.0)], SCHEMA)
    edge = spark.createDataFrame(
        [("e0", 90.0, 180.0), ("e1", -90.0, -180.0)], "url string, lat double, lon double"
    )
    want = _rows(joins.knn_bruteforce(edge, centers, k=3))
    assert _rows(joins.knn_join_partitioned(edge, centers, k=3)) == want
    bad = spark.createDataFrame([("u", lat, lon)], "url string, lat double, lon double")
    with pytest.raises(Exception, match="is outside lon"):
        joins.knn_join_partitioned(bad.unionByName(edge), centers, k=3).count()


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
