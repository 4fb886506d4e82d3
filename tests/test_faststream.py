"""faststream batched framer == generic tile.encode_layer, byte for byte."""

from __future__ import annotations

import numpy as np

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
