"""Multi-part tilers (engine.pipeline.multipart) == the generic codec, byte
for byte: every MultiPoint tile against tile.encode_tile over
geomstream.encode_multipoint features, every MultiPolygon tile against the
row-wise polygon reference's features regrouped by id % N_POLY_GROUPS."""

from __future__ import annotations

import numpy as np
import pytest

from engine.mvtcodec import geomstream, tile as tilemod
from engine.pipeline import fixtures, index, multipart, polytiler, tiler

from .conftest import SF_DIR


def _tiles(df) -> dict:
    return {(r.z, r.x, r.y): bytes(r.mvt) for r in df.toPandas().itertuples()}


def test_mpoints_match_generic_encoder(spark):
    pts = index.with_unit(
        index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, SF_DIR)))
    ).select("feature_id", "u", "v").toPandas()
    fid = pts["feature_id"].to_numpy()
    u, v = pts["u"].to_numpy(), pts["v"].to_numpy()
    want = {}
    for z in range(3):
        n = 1 << z
        scale = float(n) * 4096
        x = np.clip(np.floor(u * n).astype(np.int64), 0, n - 1)
        y = np.clip(np.floor(v * n).astype(np.int64), 0, n - 1)
        qx = np.trunc(u * scale - (x * 4096).astype(np.float64)).astype(np.int64)
        qy = np.trunc(v * scale - (y * 4096).astype(np.float64)).astype(np.int64)
        g = fid % multipart.N_POINT_GROUPS
        for tx, ty in sorted(set(zip(x.tolist(), y.tolist()))):
            in_tile = (x == tx) & (y == ty)
            feats = []
            for gi in sorted(set(g[in_tile].tolist())):
                sel = in_tile & (g == gi)
                xy = sorted(zip(qx[sel].tolist(), qy[sel].tolist()))
                feats.append(
                    {
                        "id": gi,
                        "geom_type": geomstream.GEOM_POINT,
                        "geometry": geomstream.encode_multipoint(xy),
                        "tags": [],
                    }
                )
            want[(z, tx, ty)] = tilemod.encode_tile(
                {"mpoints": {"extent": 4096, "features": feats}}
            )
    got = _tiles(multipart.encode_multipoint_tiles(spark, SF_DIR, 0, 2))
    assert len(want) > 10
    assert got == want


def test_mpolys_match_rowwise_polygons(spark):
    """A MultiPolygon feature is the concatenation of its group's Polygon
    encodings (reference marshal.go:161-171), so each mpolys tile equals
    the row-wise reference's polygons layer regrouped by id % N."""
    want = {}
    for key, data in _tiles(
        polytiler.encode_polygon_tiles_rowwise(spark, SF_DIR, 0, 4)
    ).items():
        layer = tilemod.decode_tile(data).get("polygons")
        if layer is None:
            continue
        groups: dict[int, list] = {}
        for f in sorted(layer["features"], key=lambda f: f["id"]):
            groups.setdefault(f["id"] % multipart.N_POLY_GROUPS, []).append(
                np.asarray(f["geometry"], dtype=np.uint32)
            )
        feats = [
            {
                "id": g,
                "geom_type": geomstream.GEOM_POLYGON,
                "geometry": np.concatenate(groups[g]),
                "tags": [],
            }
            for g in sorted(groups)
        ]
        want[key] = tilemod.encode_tile({"mpolys": {"extent": 4096, "features": feats}})
    got = _tiles(multipart.encode_multipolygon_tiles(spark, SF_DIR, 0, 4))
    assert len(want) > 50
    assert got == want


@pytest.mark.parametrize(
    "encode",
    [
        polytiler.encode_polygon_tiles,
        multipart.encode_multipoint_tiles,
        multipart.encode_multipolygon_tiles,
    ],
)
def test_z_max_past_gid_packing_raises(spark, encode):
    with pytest.raises(ValueError, match="z_max"):
        encode(spark, SF_DIR, 0, tiler.MAX_ZOOM + 1)
