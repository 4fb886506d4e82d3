"""Mega-tile skew guard (SURVEY B14): salted two-level top-K must be a pure
function of the data — identical for any salt count and partitioning — and
the capped pyramid must encode byte-identically regardless of salting."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from engine.pipeline import fixtures, index, tiler

from .conftest import SF_DIR

CAP = 50


def _indexed(spark, z_max=2):
    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, SF_DIR)))
    return index.with_tiles(index.with_unit(geo), 0, z_max)


def _capped_ids(spark, n_salt):
    df = tiler.cap_features_per_tile(_indexed(spark), CAP, n_salt=n_salt)
    return (
        df.select("z", "x", "y", "feature_id")
        .toPandas()
        .sort_values(["z", "x", "y", "feature_id"])
        .reset_index(drop=True)
    )


def test_cap_invariant_under_salt_count(spark):
    a = _capped_ids(spark, n_salt=4)
    b = _capped_ids(spark, n_salt=64)
    pd.testing.assert_frame_equal(a, b)


def test_cap_equals_bruteforce_topk(spark):
    got = _capped_ids(spark, n_salt=8)
    full = _indexed(spark).select("z", "x", "y", "feature_id").toPandas()
    want = (
        full.sort_values(["z", "x", "y", "feature_id"])
        .groupby(["z", "x", "y"], sort=True)
        .head(CAP)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # the cap actually bit: z0 holds every page, far more than CAP
    assert (want.groupby(["z", "x", "y"]).size() <= CAP).all()
    assert len(want) < len(full)


def test_capped_encode_bytes_invariant(spark):
    tiles_a = (
        tiler.encode_point_tiles(tiler.cap_features_per_tile(_indexed(spark), CAP, n_salt=4))
        .select("z", "x", "y", "mvt_sha256")
        .toPandas()
        .sort_values(["z", "x", "y"])
        .reset_index(drop=True)
    )
    tiles_b = (
        tiler.encode_point_tiles(
            tiler.cap_features_per_tile(_indexed(spark), CAP, n_salt=32),
            partition_mode="hilbert",
        )
        .select("z", "x", "y", "mvt_sha256")
        .toPandas()
        .sort_values(["z", "x", "y"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(tiles_a, tiles_b)
    assert (tiles_a.groupby(["z"]).size() > 0).all()
