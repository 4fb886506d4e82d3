"""B14 partial-encode + layer-merge: wire-level layer splicing, same-name
feature re-framing, and salted == unsalted byte identity."""

from __future__ import annotations

import numpy as np

from engine.mvtcodec import geomstream, tile as tilemod
from engine.pipeline import fixtures, index, tilemerge, tiler

from .conftest import SF_DIR


def _feat(fid, xy, tag):
    return {
        "id": fid,
        "geom_type": geomstream.GEOM_POINT,
        "geometry": geomstream.encode_point(xy),
        "tags": [("k", ("string", tag))],
    }


def test_merge_distinct_layers_equals_single_encode():
    la = {"extent": 4096, "features": [_feat(1, (3, 4), "a")]}
    lb = {"extent": 4096, "features": [_feat(2, (5, 6), "b")]}
    lc = {"extent": 4096, "features": [_feat(3, (7, 8), "c")]}
    partial1 = tilemod.encode_tile({"pages": la, "zeta": lc})
    partial2 = tilemod.encode_tile({"outlines": lb})
    merged = tilemerge.merge_tile_blobs([partial1, partial2])
    want = tilemod.encode_tile({"pages": la, "outlines": lb, "zeta": lc})
    assert merged == want  # byte-identical, layers re-sorted by name


def test_merge_same_layer_refames_features():
    feats = [_feat(i, (i, i + 1), f"t{i % 3}") for i in range(10)]
    want = tilemod.encode_tile({"pages": {"extent": 4096, "features": feats}})
    p1 = tilemod.encode_tile(
        {"pages": {"extent": 4096, "features": [feats[i] for i in (0, 3, 5, 9)]}}
    )
    p2 = tilemod.encode_tile(
        {"pages": {"extent": 4096, "features": [feats[i] for i in (1, 2, 4, 6, 7, 8)]}}
    )
    assert tilemerge.merge_tile_blobs([p1, p2]) == want
    assert tilemerge.merge_tile_blobs([p2, p1]) == want  # order-invariant


def test_split_tile_layers_roundtrip():
    data = tilemod.encode_tile(
        {
            "aa": {"extent": 4096, "features": [_feat(1, (0, 0), "x")]},
            "bb": {"extent": 512, "features": [_feat(2, (1, 1), "y")]},
        }
    )
    parts = tilemerge.split_tile_layers(data)
    assert [n for n, _ in parts] == ["aa", "bb"]
    assert tilemerge.merge_tile_blobs([data]) == data


def test_salted_encode_byte_identical(spark):
    """encode_point_partials (partial per (tile, salt)) -> merge_partial_tiles
    must reproduce the unsalted encoder's bytes exactly, for any n_salt."""
    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, SF_DIR)))
    df = index.with_tiles(index.with_unit(geo), 0, 3)
    plain = tiler.encode_point_tiles(df).toPandas()
    want = {(r.z, r.x, r.y): r.mvt_sha256 for r in plain.itertuples()}
    for n_salt in (1, 4):
        stage1 = tiler.encode_point_partials(df, n_salt=n_salt)
        salted = tiler.merge_partial_tiles(stage1).toPandas()
        got = {(r.z, r.x, r.y): r.mvt_sha256 for r in salted.itertuples()}
        assert got == want, f"n_salt={n_salt}"
        assert (salted["n_layers"] == 1).all()


def test_salted_compact_encode_byte_identical(spark):
    """The salted stage keyed at the data's own top zoom (z_max=3, the
    narrowest packed key, as mvt_combined_tiles encodes) must also
    reproduce the unsalted encoder's bytes."""
    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, SF_DIR)))
    df = index.with_tiles(index.with_unit(geo), 0, 3)
    plain = tiler.encode_point_tiles(df).toPandas()
    want = {(r.z, r.x, r.y): r.mvt_sha256 for r in plain.itertuples()}
    stage1 = tiler.encode_point_partials(df, 3)
    salted = tiler.merge_partial_tiles(stage1).toPandas()
    got = {(r.z, r.x, r.y): r.mvt_sha256 for r in salted.itertuples()}
    assert got == want


def test_mixed_same_name_merge_falls_back_to_canon(spark):
    """A pre-encoded tile whose layer NAME collides with the partial
    stream's layer must merge through the generic re-framer and still
    produce the canonical bytes of a single-pass encode of the union."""
    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, SF_DIR)))
    df = index.with_tiles(index.with_unit(geo), 0, 0)  # z0 only: one tile
    # split by feature_id parity: evens pre-encoded, odds as partials
    evens = df.filter("pmod(feature_id, 2) = 0")
    odds = df.filter("pmod(feature_id, 2) = 1")
    pre = tiler.encode_point_tiles(evens).select("z", "x", "y", "mvt", "n_features")
    parts = tiler.encode_point_partials(odds, n_salt=2).unionByName(
        tiler.tiles_as_partial_rows(pre)
    )
    merged = tiler.merge_partial_tiles(parts).toPandas()
    want = tiler.encode_point_tiles(df).toPandas()
    assert len(merged) == 1 and len(want) == 1
    assert merged["mvt_sha256"].iloc[0] == want["mvt_sha256"].iloc[0]
    assert int(merged["n_layers"].iloc[0]) == 1


def test_combined_tiles_decode(spark):
    """Merged point+polygon tiles decode to the union of the layers."""
    from engine.pipeline.queries import REGISTRY

    fn, _ = REGISTRY["mvt_combined_tiles"]
    pdf = fn(spark, SF_DIR).toPandas()
    assert (pdf["n_layers"] >= 1).all() and (pdf["n_layers"] <= 3).all()
    assert (pdf["n_layers"] >= 2).any()  # some tile carries both streams


def test_same_name_merge_uses_fastmerge_path(monkeypatch):
    """Engine-canonical same-name partials must merge through the
    whole-array re-framer — the per-feature decode/re-encode fallback
    (_merge_layer) must not run."""
    feats = [_feat(i, (i, i + 1), f"t{i % 3}") for i in range(10)]
    want = tilemod.encode_tile({"pages": {"extent": 4096, "features": feats}})
    p1 = tilemod.encode_tile(
        {"pages": {"extent": 4096, "features": [feats[i] for i in (0, 3, 5, 9)]}}
    )
    p2 = tilemod.encode_tile(
        {"pages": {"extent": 4096, "features": [feats[i] for i in (1, 2, 4, 6, 7, 8)]}}
    )

    def boom(name, msgs):
        raise AssertionError("per-feature fallback reached for canonical input")

    monkeypatch.setattr(tilemerge, "_merge_layer", boom)
    assert tilemerge.merge_tile_blobs([p1, p2]) == want


def test_same_name_merge_fast_equals_legacy():
    feats = [_feat(i, (2 * i, i), f"v{i % 4}") for i in range(25)]
    p1 = tilemod.encode_tile(
        {"l": {"extent": 4096, "features": feats[::2]}}
    )
    p2 = tilemod.encode_tile(
        {"l": {"extent": 4096, "features": feats[1::2]}}
    )
    msgs = [m for _, m in tilemerge.split_tile_layers(p1) + tilemerge.split_tile_layers(p2)]
    fast = tilemerge._merge_layer_fast("l", msgs)
    assert fast is not None
    assert fast == tilemerge._merge_layer("l", msgs)


def test_idless_features_fall_back_to_legacy():
    """Features without ids are outside fastmerge's canon — the generic
    decode/re-encode merge must still handle them."""
    fa = {
        "id": None,
        "geom_type": geomstream.GEOM_POINT,
        "geometry": geomstream.encode_point((1, 2)),
        "tags": [("k", ("string", "a"))],
    }
    fb = dict(fa, tags=[("k", ("string", "b"))])
    p1 = tilemod.encode_tile({"l": {"extent": 4096, "features": [fa]}})
    p2 = tilemod.encode_tile({"l": {"extent": 4096, "features": [fb]}})
    msgs = [m for _, m in tilemerge.split_tile_layers(p1) + tilemerge.split_tile_layers(p2)]
    assert tilemerge._layer_to_partial(msgs[0]) is None
    merged = tilemerge.merge_tile_blobs([p1, p2])
    layers = tilemod.decode_tile(merged)
    assert len(layers["l"]["features"]) == 2
