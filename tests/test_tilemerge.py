"""The tile merge (tiler.merge_partial_tiles) and its layer helpers:
wire-level layer splicing, same-name re-framing through tilemerge's
generic re-framer, the batched partial merge as a property against the
reference encoder, and salted == unsalted byte identity."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from engine.mvtcodec import geomstream, pbwire, tile as tilemod
from engine.pipeline import fixtures, index, tilemerge, tiler

from .conftest import SF_DIR


def _feat(fid, xy, tag):
    return {
        "id": fid,
        "geom_type": geomstream.GEOM_POINT,
        "geometry": geomstream.encode_point(xy),
        "tags": [("k", ("string", tag))],
    }


def _merged_tile(spark, blobs):
    """Pre-encoded tiles for ONE (z,x,y) through the tile merge."""
    rows = [(0, 0, 0, bytearray(b), 1) for b in blobs]
    tiles = spark.createDataFrame(
        rows, "z int, x bigint, y bigint, mvt binary, n_features long"
    )
    out = tiler.merge_partial_tiles(tiler.tiles_as_partial_rows(tiles)).collect()
    assert len(out) == 1
    return bytes(out[0].mvt)


def test_merge_distinct_layers_equals_single_encode(spark):
    la = {"extent": 4096, "features": [_feat(1, (3, 4), "a")]}
    lb = {"extent": 4096, "features": [_feat(2, (5, 6), "b")]}
    lc = {"extent": 4096, "features": [_feat(3, (7, 8), "c")]}
    partial1 = tilemod.encode_tile({"pages": la, "zeta": lc})
    partial2 = tilemod.encode_tile({"outlines": lb})
    merged = _merged_tile(spark, [partial1, partial2])
    want = tilemod.encode_tile({"pages": la, "outlines": lb, "zeta": lc})
    assert merged == want  # byte-identical, layers re-sorted by name


def test_merge_same_layer_refames_features(spark):
    feats = [_feat(i, (i, i + 1), f"t{i % 3}") for i in range(10)]
    want = tilemod.encode_tile({"pages": {"extent": 4096, "features": feats}})
    p1 = tilemod.encode_tile(
        {"pages": {"extent": 4096, "features": [feats[i] for i in (0, 3, 5, 9)]}}
    )
    p2 = tilemod.encode_tile(
        {"pages": {"extent": 4096, "features": [feats[i] for i in (1, 2, 4, 6, 7, 8)]}}
    )
    assert _merged_tile(spark, [p1, p2]) == want
    assert _merged_tile(spark, [p2, p1]) == want  # order-invariant


def test_split_tile_layers_roundtrip(spark):
    data = tilemod.encode_tile(
        {
            "aa": {"extent": 4096, "features": [_feat(1, (0, 0), "x")]},
            "bb": {"extent": 512, "features": [_feat(2, (1, 1), "y")]},
        }
    )
    parts = tilemerge.split_tile_layers(data)
    assert [n for n, _ in parts] == ["aa", "bb"]
    assert _merged_tile(spark, [data]) == data


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


def test_idless_features_fall_back_to_legacy(spark):
    """Features without ids are outside the partial merge's canon — the generic
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
    merged = _merged_tile(spark, [p1, p2])
    layers = tilemod.decode_tile(merged)
    assert len(layers["l"]["features"]) == 2


# tag columns the property test draws from: one column per value type, with
# the string "1", the int 1 and the double 1.0 all in play so the merged
# dictionary must keep equal-looking values of different types apart
_TAG_VALUES = {
    "s": ("string", st.sampled_from(["1", "a", "", "é", "en"])),
    "i": ("int", st.sampled_from([1, 0, -1, 2**40]) | st.integers(-5, 5)),
    "d": ("double", st.sampled_from([1.0, 0.5, -2.25, 1e300])),
}
_DTYPES = {"string": object, "int": np.int64, "double": np.float64}


@st.composite
def _point_partials(draw):
    """1-3 tiles of random point features with unique ids, each tile split
    into 1-4 non-empty partials (each sorted by id, as the partial encode
    emits them) in random order; tag values repeat within and across
    tiles."""
    keys = draw(st.permutations(list(_TAG_VALUES)))[: draw(st.integers(0, 3))]
    coord = st.integers(-64, 4160)
    tiles = []
    for _ in range(draw(st.integers(1, 3))):
        fids = draw(st.lists(st.integers(0, 2**62), min_size=1, max_size=40, unique=True))
        feats = [
            {
                "id": fid,
                "xy": (draw(coord), draw(coord)),
                "tags": [(k, (_TAG_VALUES[k][0], draw(_TAG_VALUES[k][1]))) for k in keys],
            }
            for fid in fids
        ]
        n_parts = draw(st.integers(1, 4))
        owner = [draw(st.integers(0, n_parts - 1)) for _ in feats]
        parts = [
            sorted((f for f, o in zip(feats, owner) if o == p), key=lambda f: f["id"])
            for p in range(n_parts)
        ]
        tiles.append((feats, draw(st.permutations([p for p in parts if p]))))
    return keys, tiles


def _encode_partial(keys, feats, gid):
    """One partial row of tile ``gid``, encoded by the partial stage."""
    xy = np.array([f["xy"] for f in feats], dtype=np.int64)
    cols = {
        "gid": np.full(len(feats), gid, dtype=np.int64),
        "feature_id": np.array([f["id"] for f in feats], dtype=np.int64),
        "qx": xy[:, 0],
        "qy": xy[:, 1],
    }
    for k in keys:
        vtype = _TAG_VALUES[k][0]
        values = [dict(f["tags"])[k][1] for f in feats]
        cols[k] = np.array(values, dtype=_DTYPES[vtype])
    return tiler._encode_partials_group_arrow(
        cols, tuple((k, _TAG_VALUES[k][0]) for k in keys)
    )


@settings(max_examples=300, deadline=None)
@given(_point_partials())
def test_merge_point_partials_equals_reference_encode(case):
    """Any split of each tile's features into partials, merged in any order
    and with several tiles in one batched merge call, is byte-identical per
    tile to the reference encoder over the features sorted by id."""
    keys, tiles = case
    rows = pa.Table.from_batches(
        [_encode_partial(keys, p, g) for g, (_, parts) in enumerate(tiles) for p in parts]
    ).combine_chunks()
    cols = {c: rows.column(c).chunk(0) for c in tiler.PARTIAL_BLOBS}
    cols["gid"] = rows.column("y").to_numpy()  # z = x = 0: the gid is y
    cols["n_features"] = rows.column("n_features").to_numpy()
    tag_cols = tuple((k, _TAG_VALUES[k][0]) for k in keys)
    merged = tiler._merge_partials_batch(cols, "pages", tag_cols, 4096)
    assert merged.column("y").to_pylist() == list(range(len(tiles)))
    for g, (feats, _) in enumerate(tiles):
        want = tilemod.encode_layer(
            "pages",
            {
                "extent": 4096,
                "features": [
                    {
                        "id": f["id"],
                        "geom_type": geomstream.GEOM_POINT,
                        "geometry": geomstream.encode_point(f["xy"]),
                        "tags": f["tags"],
                    }
                    for f in sorted(feats, key=lambda f: f["id"])
                ],
            },
        )
        assert merged.column("mvt")[g].as_py() == pbwire.len_delimited(3, want)
