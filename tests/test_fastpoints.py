"""fastpoints must be byte-identical to the generic tile encoder."""

from __future__ import annotations

import numpy as np
import pytest

from engine import mvtcodec as mc
from engine.mvtcodec import fastpoints, pbwire


def _generic_layer(name, extent, fids, px, py, tag_columns):
    features = []
    keys = list(tag_columns.keys()) if tag_columns else []
    for i in range(len(px)):
        tags = []
        for key in keys:
            vtype, arr = tag_columns[key]
            tags.append((key, (vtype, arr[i])))
        features.append(
            {
                "id": None if fids is None else int(fids[i]),
                "geom_type": mc.GEOM_POINT,
                "geometry": mc.encode_point([int(px[i]), int(py[i])]),
                "tags": tags,
            }
        )
    return mc.encode_layer(name, {"extent": extent, "features": features})


@pytest.mark.parametrize("with_ids", [True, False])
@pytest.mark.parametrize("with_tags", [True, False])
def test_fastpoints_matches_generic(with_ids, with_tags):
    rng = np.random.default_rng(7)
    n = 500
    px = rng.integers(0, 4096, n)
    py = rng.integers(0, 4096, n)
    fids = np.sort(rng.choice(2**62, n, replace=False)) if with_ids else None
    tag_columns = (
        {
            "lang": ("string", rng.choice(["en", "de", "zh"], n).astype(object)),
            "rank": ("int", rng.integers(-5, 5, n)),
        }
        if with_tags
        else {}
    )
    fast = fastpoints.encode_point_tile("pages", 4096, fids, px, py, tag_columns)
    slow = _generic_layer("pages", 4096, fids, px, py, tag_columns)
    assert fast == pbwire.len_delimited(3, slow)

    # and it decodes cleanly with all invariants intact
    tile = mc.decode_tile(fast)
    layer = tile["pages"]
    assert layer["version"] == 2 and layer["extent"] == 4096
    assert len(layer["features"]) == n
    f0 = layer["features"][0]
    kind, coords = mc.decode(f0["geometry"], f0["geom_type"])
    assert kind == "Point" and coords.tolist() == [int(px[0]), int(py[0])]
    if with_tags:
        assert [k for k, _ in f0["tags"]] == ["lang", "rank"]


def test_fastpoints_empty_layer():
    empty = np.array([], dtype=np.int64)
    tagged = {
        "lang": ("string", np.array([], dtype=object)),
        "rank": ("int", empty),
    }
    for fids, tag_columns in ((None, {}), (empty, tagged)):
        fast = fastpoints.encode_point_tile(
            "empty", 4096, fids, empty, empty, tag_columns
        )
        slow = _generic_layer("empty", 4096, fids, empty, empty, tag_columns)
        assert fast == pbwire.len_delimited(3, slow)


def test_fastpoints_throughput_sanity():
    # hot-path guard: 200k features should encode in well under a second
    import time

    rng = np.random.default_rng(1)
    n = 200_000
    px = rng.integers(0, 4096, n)
    py = rng.integers(0, 4096, n)
    fids = np.arange(n, dtype=np.int64)
    langs = rng.choice(["en", "de", "fr", "es", "pt", "zh"], n).astype(object)
    args = ("pages", 4096, fids, px, py, {"lang": ("string", langs)})
    fastpoints.encode_point_tile(*args)  # warm numpy/pandas code paths
    t0 = time.perf_counter()
    data = fastpoints.encode_point_tile(*args)
    dt = time.perf_counter() - t0
    assert len(data) > n * 5
    assert dt < 1.0, f"fast path too slow: {dt:.2f}s for {n} features"


def test_batch_encoder_matches_per_tile():
    rng = np.random.default_rng(3)
    n_tiles = 60
    counts = rng.integers(1, 40, n_tiles)
    n = int(counts.sum())
    px = rng.integers(0, 4096, n)
    py = rng.integers(0, 4096, n)
    fids = rng.choice(2**62, n, replace=False)
    langs = rng.choice(["en", "de", "zh", "fr"], n).astype(object)
    src = rng.choice(["web", "en"], n).astype(object)  # "en" shared across cols
    tags = {"lang": ("string", langs), "source": ("string", src)}
    batch = fastpoints.encode_point_tiles_sorted(
        counts, fids, px, py, tags, "pages", 4096
    )
    starts = np.cumsum(counts) - counts
    for i, (s, c) in enumerate(zip(starts, counts)):
        e = s + c
        single = fastpoints.encode_point_tile(
            "pages", 4096, fids[s:e], px[s:e], py[s:e],
            {"lang": ("string", langs[s:e]), "source": ("string", src[s:e])},
        )
        assert batch[i] == single, f"tile {i} differs"
    # no-tag + no-id variant
    batch2 = fastpoints.encode_point_tiles_sorted(counts, None, px, py, {}, "p", 512)
    for i, (s, c) in enumerate(zip(starts, counts)):
        assert batch2[i] == fastpoints.encode_point_tile("p", 512, None, px[s:s+c], py[s:s+c])
