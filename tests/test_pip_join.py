"""The broadcast PIP plan: one map-only probe whose rows do not depend on
page partitioning or on the order of the edge table, and which agrees with
the partitioned plan under both."""

from __future__ import annotations

from engine.pipeline import fixtures, joins

from .conftest import SF_DIR as SF

SCHEMA = "poly_id long, ring_idx int, x1 double, y1 double, x2 double, y2 double"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_pip_join_order_and_partition_invariant(spark):
    geo = fixtures.geotag_df(fixtures.pages_df(spark, SF))
    rows = fixtures.polygon_edges_np(fixtures.poly_count_for(SF))
    edges = spark.createDataFrame(rows, SCHEMA)
    reversed_edges = spark.createDataFrame(rows[::-1], SCHEMA)
    want = _rows(joins.pip_join(geo, edges))
    assert len(want) > 0
    for n in (1, 7):
        pages = geo.repartition(n)
        assert _rows(joins.pip_join(pages, edges)) == want
        assert _rows(joins.pip_join_partitioned(pages, edges)) == want
    assert _rows(joins.pip_join(geo, reversed_edges)) == want
    assert _rows(joins.pip_join_partitioned(geo, reversed_edges)) == want


def test_pip_join_plan_is_map_only(spark):
    """Above the page input, the plan is one MapInArrow: no exchange, no
    join, no aggregate (the fixture's page input brings its own exchange)."""
    geo = fixtures.geotag_df(fixtures.pages_df(spark, SF))
    plan = _plan(joins.pip_join(geo, fixtures.polygon_edges_df(spark, SF)))
    assert "MapInArrow" in plan
    assert "Join" not in plan and "Aggregate" not in plan
    assert plan.count("Exchange") == _plan(geo).count("Exchange")
