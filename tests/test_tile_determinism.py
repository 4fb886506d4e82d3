"""Tile bytes do not depend on the plan: the point encoder (hash and
hilbert partition modes), the salted partial encode + merge, the polygon
tiler and the multi-part tilers give the same bytes under 1 or 8 shuffle
partitions, with AQE on or off."""

from __future__ import annotations

import pytest

from engine.pipeline import fixtures, index, multipart, polytiler, tiler

from .conftest import SF_DIR

Z_MAX = 6


def _bytes(tiles) -> dict:
    return {(r.z, r.x, r.y): bytes(r.mvt) for r in tiles.select("z", "x", "y", "mvt").collect()}


@pytest.fixture(scope="module")
def points(spark):
    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, SF_DIR)))
    return index.with_tiles(index.with_unit(geo), 0, Z_MAX)


# (tiler, z_max) at the zooms the registry queries encode them
SHAPE_TILERS = {
    "polygons": (polytiler.encode_polygon_tiles, 4),
    "multipoints": (multipart.encode_multipoint_tiles, 2),
    "multipolygons": (multipart.encode_multipolygon_tiles, 4),
}


@pytest.fixture(scope="module")
def want(points):
    return _bytes(tiler.encode_point_tiles(points, Z_MAX))


@pytest.fixture(scope="module")
def shape_want(spark):
    return {
        name: _bytes(encode(spark, SF_DIR, 0, z_max))
        for name, (encode, z_max) in SHAPE_TILERS.items()
    }


@pytest.mark.parametrize("aqe", ["true", "false"])
@pytest.mark.parametrize("shuffle_partitions", ["1", "8"])
def test_tile_bytes_invariant_under_plan(
    spark, points, want, shape_want, shuffle_partitions, aqe
):
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    saved = [spark.conf.get(k) for k in keys]
    spark.conf.set(keys[0], shuffle_partitions)
    spark.conf.set(keys[1], aqe)
    try:
        assert len(want) > 100
        for mode in ("hash", "hilbert"):
            got = _bytes(tiler.encode_point_tiles(points, Z_MAX, partition_mode=mode))
            assert got == want, mode
        merged = tiler.merge_partial_tiles(tiler.encode_point_partials(points, Z_MAX))
        assert _bytes(merged) == want, "salted merge"
        for name, (encode, z_max) in SHAPE_TILERS.items():
            assert len(shape_want[name]) > 10, name
            assert _bytes(encode(spark, SF_DIR, 0, z_max)) == shape_want[name], name
    finally:
        for k, v in zip(keys, saved):
            spark.conf.set(k, v)
