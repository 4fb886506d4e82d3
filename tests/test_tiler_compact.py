"""The point-tile key builder: the packed int64 key and the unpacked
(z, u, v) key give the same tile bytes, the packed key decodes to
index.with_tiles' values, and zooms past the key's range fail loudly."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from engine.pipeline import fixtures, index, tiler
from perfbench.checks import expected_point_tile, sample_tile_keys

from .conftest import SF_DIR


def _unit(spark):
    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, SF_DIR)))
    return index.with_unit(geo)


def _sha(tiles) -> dict:
    pdf = tiles.select("z", "x", "y", "mvt_sha256").toPandas()
    return {(r.z, r.x, r.y): r.mvt_sha256 for r in pdf.itertuples()}


def test_compact_encode_byte_identical(spark):
    """z0-16: packed key (z_max=16, the widest that fits) == unpacked key
    (z_max=17) tile for tile, and a seeded sample per zoom equals the
    reference codec's encoding."""
    unit = _unit(spark)
    packed = tiler.encode_point_tiles_compact(unit, 0, 16).toPandas()
    unpacked = _sha(tiler.encode_point_tiles(index.with_tiles(unit, 0, 16), z_max=17))
    got = {(r.z, r.x, r.y): r.mvt_sha256 for r in packed.itertuples()}
    assert got == unpacked
    assert set(packed["z"]) == set(range(17)) and len(got) > 1000

    points = unit.select("feature_id", "lang", "u", "v").toPandas()
    by_key = {(r.z, r.x, r.y): bytes(r.mvt) for r in packed.itertuples()}
    for key in sample_tile_keys(packed, seed=7):
        assert by_key[key] == expected_point_tile(points, *key), key


def test_salted_packed_key_byte_identical(spark):
    """Salted partials + merge: packed key (z_max=13, the widest that fits
    beside the salt field) == unpacked key (z_max=14) == unsalted encode."""
    rows = index.with_tiles(_unit(spark), 0, 13)
    merged = {
        z_max: _sha(
            tiler.merge_partial_tiles(tiler.encode_point_partials(rows, z_max, n_salt=8))
        )
        for z_max in (13, 14)
    }
    assert merged[13] == merged[14]
    assert merged[13] == _sha(tiler.encode_point_tiles(rows))


def test_zoom_past_key_range_fails_loudly(spark):
    """A row with z > z_max must fail the job, never pack into the
    neighbouring bit fields."""
    rows = index.with_tiles(_unit(spark), 0, 18)
    with pytest.raises(Exception, match="outside the tile key range"):
        tiler.encode_point_tiles(rows).count()
    with pytest.raises(Exception, match="outside the tile key range"):
        tiler.encode_point_partials(rows, 14).count()
    with pytest.raises(ValueError, match="z_max"):
        tiler.encode_point_tiles(rows, z_max=26)
    with pytest.raises(ValueError, match="partition_mode"):
        tiler.encode_point_tiles(rows, partition_mode="range")


_UNIT = st.floats(0.0, 1.0, allow_nan=False)
_EDGES = [0.0, 1.0, float(np.nextafter(1.0, 0.0))]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(st.tuples(_UNIT, _UNIT), min_size=1, max_size=300))
def test_packed_key_roundtrip(spark, uv):
    """For u, v in [0, 1] and every z <= z_max the packed key decodes to
    with_tiles' x, y and trunc(px), trunc(py) (and the salt it was given).
    One Spark job per key layout evaluates every drawn point."""
    pts = uv + [(a, b) for a in _EDGES for b in _EDGES]
    df = spark.createDataFrame(pts, "u double, v double")
    for z_max, salted in ((16, False), (13, True)):
        e = tiler._packed_exprs(z_max, tiler.EXTENT, with_salt=salted)
        rows = index.with_tiles(df, 0, z_max).withColumn(
            "_salt", F.expr("pmod(xxhash64(u, v, z), 64)") if salted else F.lit(0)
        )
        ok = (
            f"{e['z']} = z AND {e['x']} = x AND {e['y']} = y"
            f" AND {e['qx']} = cast(px as long) AND {e['qy']} = cast(py as long)"
        )
        if salted:
            ok += f" AND {e['salt']} = _salt"
        bad = (
            rows.withColumn("packed", F.expr(e["packed"]))
            .filter(f"NOT ({ok})")
            .select("z", "u", "v")
            .limit(3)
            .collect()
        )
        assert not bad, (z_max, salted, bad)
