"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship pipeline at sf0.001 (pages -> geotag -> z0-z4
                 tile pyramid -> MVT encode), returns the tiles DataFrame.
queries()     -> one callable per implemented operator (SURVEY.md §2).
oracle_sql()  -> DuckDB twins for every SQL-expressible query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from engine.pipeline.queries import REGISTRY

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship pipeline on /root/testdata/sf0.001: full binary tile rows
    (z,x,y,mvt,n_features,n_bytes,mvt_sha256); driver checks rows>0. The
    registry twin (mvt_tiles_z0_4) projects the oracle-checkable columns."""
    from engine.pipeline import fixtures, index, tiler

    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, SF0001)))
    # the point-tile encoder; only (packed key, feature_id, lang) ride its
    # shuffle (tests/test_tiler_compact.py checks its bytes)
    return tiler.encode_point_tiles(index.with_tiles(index.with_unit(geo), 0, 4))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _) in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    out = {}
    for name, (_, sql_fn) in REGISTRY.items():
        if sql_fn is not None:
            out[name] = sql_fn("/root/testdata/sf0.01")
    return out
