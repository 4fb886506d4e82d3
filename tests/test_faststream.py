"""faststream batched framer == generic tile.encode_layer, byte for byte."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from engine.mvtcodec import faststream, geomstream, pbwire, tile as tilemod


def test_tag1_layers_match_generic_encoder():
    """One string tag column: the shape the polygon/outline tiler frames."""
    rng = np.random.default_rng(7)
    tile_ids, fids, values, woffs, all_words = [], [], [], [0], []
    per_tile_feats = {0: [], 1: [], 5: []}
    for ti in (0, 1, 5):
        for j in range(1 + ti):
            ring = rng.integers(0, 4096, size=(rng.integers(3, 9), 2))
            ring = np.vstack([ring, ring[:1]])
            words = geomstream.encode_polygon([ring])
            tile_ids.append(ti)
            fid = int(ti * 100 + j)
            fids.append(fid)
            values.append(f"region-{ti}-{j}")
            all_words.append(words)
            woffs.append(woffs[-1] + len(words))
            per_tile_feats[ti].append(
                {
                    "id": fid,
                    "geom_type": geomstream.GEOM_POLYGON,
                    "geometry": words,
                    "tags": [("name", ("string", f"region-{ti}-{j}"))],
                }
            )
    layers = faststream.encode_tagged_layers(
        "polygons",
        4096,
        np.asarray(tile_ids),
        np.asarray(fids, dtype=np.int64),
        geomstream.GEOM_POLYGON,
        np.concatenate(all_words),
        np.asarray(woffs, dtype=np.int64),
        {"name": ("string", np.asarray(values, dtype=object))},
    )
    assert set(layers) == {0, 1, 5}
    for ti, feats in per_tile_feats.items():
        want = tilemod.encode_layer("polygons", {"extent": 4096, "features": feats})
        assert layers[ti] == want, f"tile {ti}"
        # and the framed tile decodes with the engine's reader
        decoded = tilemod.decode_tile(pbwire.len_delimited(3, layers[ti]))
        assert len(decoded["polygons"]["features"]) == len(feats)


def _geom_fixture(rng, n):
    """n random polygon command streams -> (flat words, offsets)."""
    all_words, woffs = [], [0]
    for _ in range(n):
        ring = rng.integers(0, 4096, size=(rng.integers(3, 9), 2))
        ring = np.vstack([ring, ring[:1]])
        words = geomstream.encode_polygon([ring])
        all_words.append(words)
        woffs.append(woffs[-1] + len(words))
    return np.concatenate(all_words), np.asarray(woffs, dtype=np.int64)


def test_duplicate_tag_values_per_tile():
    """Two same-named features in one tile (the real-data case the old
    assert rejected): the first-seen dictionary dedups the value and the
    bytes still equal the generic encoder's."""
    rng = np.random.default_rng(11)
    names = ["park", "park", "lake", "park"]  # dup values inside tile 3
    words, woff = _geom_fixture(rng, len(names))
    layers = faststream.encode_tagged_layers(
        "polygons", 4096, np.asarray([3, 3, 3, 3]),
        np.arange(4, dtype=np.int64), geomstream.GEOM_POLYGON,
        words, woff, {"name": ("string", np.asarray(names, dtype=object))},
    )
    feats = [
        {
            "id": i,
            "geom_type": geomstream.GEOM_POLYGON,
            "geometry": words[woff[i] : woff[i + 1]],
            "tags": [("name", ("string", names[i]))],
        }
        for i in range(4)
    ]
    want = tilemod.encode_layer("polygons", {"extent": 4096, "features": feats})
    assert layers[3] == want
    decoded = tilemod.decode_tile(pbwire.len_delimited(3, layers[3]))
    got = [f["tags"][0][1][1] for f in decoded["polygons"]["features"]]
    assert got == names
    # value table deduped: 2 distinct values, not 4
    assert len(decoded["polygons"]["values"]) == 2


def test_multi_key_mixed_type_layers():
    """N tag columns with mixed variant types + duplicate values, multiple
    tiles: byte-equal to the generic first-seen encoder."""
    rng = np.random.default_rng(13)
    tile_ids = np.asarray([0, 0, 0, 7, 7])
    names = np.asarray(["a", "b", "a", "b", "b"], dtype=object)
    ranks = np.asarray([5, 5, 2, 9, 5], dtype=np.int64)
    words, woff = _geom_fixture(rng, 5)
    layers = faststream.encode_tagged_layers(
        "regions", 4096, tile_ids, np.arange(5, dtype=np.int64),
        geomstream.GEOM_POLYGON, words, woff,
        {"name": ("string", names), "rank": ("int", ranks)},
    )
    for ti in (0, 7):
        idx = np.flatnonzero(tile_ids == ti)
        feats = [
            {
                "id": int(i),
                "geom_type": geomstream.GEOM_POLYGON,
                "geometry": words[woff[i] : woff[i + 1]],
                "tags": [
                    ("name", ("string", names[i])),
                    ("rank", ("int", int(ranks[i]))),
                ],
            }
            for i in idx
        ]
        want = tilemod.encode_layer("regions", {"extent": 4096, "features": feats})
        assert layers[ti] == want, f"tile {ti}"


def test_no_tags_layers():
    rng = np.random.default_rng(17)
    words, woff = _geom_fixture(rng, 3)
    layers = faststream.encode_tagged_layers(
        "bare", 4096, np.asarray([1, 1, 2]), np.arange(3, dtype=np.int64),
        geomstream.GEOM_POLYGON, words, woff, None,
    )
    for ti, idx in ((1, [0, 1]), (2, [2])):
        feats = [
            {
                "id": int(i),
                "geom_type": geomstream.GEOM_POLYGON,
                "geometry": words[woff[i] : woff[i + 1]],
                "tags": [],
            }
            for i in idx
        ]
        want = tilemod.encode_layer("bare", {"extent": 4096, "features": feats})
        assert layers[ti] == want


# tag values the property draws from: small pools, so values repeat within
# and across tiles, and the string "1", int 1 and double 1.0 stay apart
_TAG_VALUES = {
    "s": ("string", st.sampled_from(["1", "a", "", "é"])),
    "i": ("int", st.sampled_from([1, 0, -1, 2**40])),
    "d": ("double", st.sampled_from([1.0, 0.5, -2.25])),
}
_DTYPES = {"string": object, "int": np.int64, "double": np.float64}
_XY = st.tuples(st.integers(-64, 4160), st.integers(-64, 4160))
_WORDS = {
    geomstream.GEOM_POINT: _XY.map(geomstream.encode_point),
    geomstream.GEOM_LINESTRING: st.lists(_XY, min_size=2, max_size=6).map(
        geomstream.encode_linestring
    ),
    geomstream.GEOM_POLYGON: st.lists(_XY, min_size=3, max_size=6).map(
        lambda ring: geomstream.encode_polygon([ring + ring[:1]])
    ),
}


@st.composite
def _layer_batch(draw):
    """1-4 tiles of one geometry type, ids on every feature or none, and
    0-3 tag columns (every feature carries each, in column order)."""
    geom_type = draw(st.sampled_from(sorted(_WORDS)))
    with_ids = draw(st.booleans())
    keys = draw(st.permutations(list(_TAG_VALUES)))[: draw(st.integers(0, 3))]
    tiles = []
    for _ in range(draw(st.integers(1, 4))):
        ids = draw(st.lists(st.integers(0, 2**62), min_size=1, max_size=12, unique=True))
        tiles.append([
            {
                "id": fid if with_ids else None,
                "geom_type": geom_type,
                "geometry": draw(_WORDS[geom_type]),
                "tags": [(k, (_TAG_VALUES[k][0], draw(_TAG_VALUES[k][1]))) for k in keys],
            }
            for fid in sorted(ids)
        ])
    return geom_type, keys, tiles


@settings(max_examples=300, deadline=None)
@given(_layer_batch())
def test_frame_layers_equals_generic_encoder(case):
    """Every tile frame_layers frames from one batch equals the generic
    encoder's layer over that tile's features alone: per-tile dictionaries
    stay isolated, and id-less features of every geometry type frame."""
    geom_type, keys, tiles = case
    feats = [f for tile in tiles for f in tile]
    words = [f["geometry"] for f in feats]
    tag_columns = {}
    for k in keys:
        vtype = _TAG_VALUES[k][0]
        values = [dict(f["tags"])[k][1] for f in feats]
        tag_columns[k] = (vtype, np.array(values, dtype=_DTYPES[vtype]))
    codes, vmsgs = faststream._global_tag_codes(keys, tag_columns, len(feats))
    buf, starts, total = faststream.frame_layers(
        [len(tile) for tile in tiles],
        None if feats[0]["id"] is None else np.array([f["id"] for f in feats]),
        geom_type,
        np.frombuffer(pbwire.varint_array(np.concatenate(words)), dtype=np.uint8),
        [len(pbwire.varint_array(w)) for w in words],
        codes, vmsgs, keys, "layer", 4096,
    )
    mem = buf.tobytes()
    assert len(starts) == len(tiles) and starts[-1] + total[-1] == len(mem)
    for tile, s, n in zip(tiles, starts.tolist(), total.tolist()):
        want = tilemod.encode_layer("layer", {"extent": 4096, "features": tile})
        assert mem[s : s + n] == pbwire.len_delimited(3, want)
