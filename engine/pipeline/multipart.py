"""Multi-part geometry tile layers: MultiPoint + MultiPolygon features
through the tile pipeline, driver-verified (SURVEY §2.A rows 11/15/33/35).

The codec's multipoint (absolute-coord quirk, reference marshal.go:57-68)
and multipolygon (marshal.go:161-171) paths are byte-vector-tested but were
never exercised by a driver-checked tile; these operators emit them through
the same Spark shape as the other tilers — JVM-side tile assign + quantize,
ONE shuffle on (z,x,y), the tiler's one tile-group worker
(tiler.carry_group_iter over the packed tile gid) with a batched command
encode framed by faststream.encode_tagged_layers (the one layer framer) —
then decode with the engine's own reader
into an order-free stats projection a DuckDB oracle reproduces closed-form.

Grouping: pages collapse to one MultiPoint feature per (tile, feature_id %
N_POINT_GROUPS); polygons to one MultiPolygon feature per (tile, poly_id %
N_POLY_GROUPS) — deterministic, and every feature is genuinely multi-part
at low zooms.

Scale: the point side rides the identical single-shuffle plan as the point
tiler (the multipoint grouping adds no extra exchange); the polygon side is
the polygon tiler's flat vertex stream and batched ring clip
(polytiler._polygon_ring_words), bounded by the polygon table size like the
polygon tiler.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from engine.mvtcodec import faststream, geomstream, tile as tilemod
from engine.mvtcodec.commands import MOVE_TO, make_command
from engine.mvtcodec.zigzag import make_parameter
from engine.spatial.clipbatch import run_starts

from . import fixtures, index
from .polytiler import (
    _layer_tiles,
    _polygon_ring_words,
    _vertex_rings,
    polygon_vertices,
    polygons_table,
)
from .tiler import ENCODE_SCHEMA, EXTENT, _encode_sorted_tiles

N_POINT_GROUPS = 16
N_POLY_GROUPS = 8

_PIXEL_SCALE = "(cast(shiftleft(1, z) as double) * 4096)"


def _feature_layer(name, gid, g, starts, geom_type, words, woff):
    """Frame one layer whose features start at rows ``starts`` (one per
    (tile, g) run; feature id g, no tags; feature i is
    words[woff[i]:woff[i+1]]) into the tile batch."""
    layers = faststream.encode_tagged_layers(
        name, EXTENT, gid[starts], g[starts], geom_type, words, woff
    )
    return _layer_tiles([(gid[starts], layers)])


def _encode_mpoint_batch(cols):
    """(gid, g, qx, qy) rows sorted by (tile, g, qx, qy) -> one MultiPoint
    feature per (tile, g): MoveTo(n), then n ABSOLUTE zigzag pairs (the
    reference marshal.go:57-68 quirk, geomstream.encode_multipoint)."""
    gid, g = cols["gid"], cols["g"]
    starts = run_starts(gid, g)
    n = np.diff(np.append(starts, len(gid)))
    woff = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(1 + 2 * n, out=woff[1:])
    words = np.empty(woff[-1], dtype=np.uint32)
    words[woff[:-1]] = make_command(MOVE_TO, n)
    pairs = np.ones(len(words), dtype=bool)
    pairs[woff[:-1]] = False
    words[pairs] = make_parameter(np.stack([cols["qx"], cols["qy"]], axis=1)).ravel()
    return _feature_layer(
        "mpoints", gid, g, starts, geomstream.GEOM_POINT, words, woff
    )


def encode_multipoint_tiles(
    spark: SparkSession, sf_dir: str, z_min: int = 0, z_max: int = 2
) -> DataFrame:
    """One MultiPoint feature per (tile, feature_id % N_POINT_GROUPS) over
    the geotagged pages. Quantization happens JVM-side with the exact
    expressions the point-tiler oracle already pins (q_mvt_roundtrip_coords)
    so the codec round-trip is the only new surface under test. z_max past
    tiler.MAX_ZOOM raises ValueError."""
    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, sf_dir)))
    df = index.with_unit(geo)
    df = df.withColumn("z", F.explode(F.sequence(F.lit(z_min), F.lit(z_max))))
    df = df.withColumn("x", F.expr(index.tile_expr("u", "z", False)))
    df = df.withColumn("y", F.expr(index.tile_expr("v", "z", False)))
    pts = df.selectExpr(
        "z",
        "x",
        "y",
        f"pmod(feature_id, {N_POINT_GROUPS}) as g",
        # cast(double as bigint) truncates toward zero — np.trunc's twin
        # (Spark's trunc() is date-only)
        f"cast(u * {_PIXEL_SCALE} - x * 4096 as bigint) as qx",
        f"cast(v * {_PIXEL_SCALE} - y * 4096 as bigint) as qy",
    )
    return _encode_sorted_tiles(
        pts, z_max, ("g", "qx", "qy"), ("g", "qx", "qy"), _encode_mpoint_batch,
        (), ENCODE_SCHEMA,
    )


def _encode_mpoly_batch(cols):
    """Vertex rows sorted by (tile, g, poly_id, ring_idx, vtx_idx) -> one
    MultiPolygon feature per (tile, g): the concatenated Polygon encodings
    of the group's surviving polygons (reference marshal.go:161-171)."""
    pts, rid, r_starts, r_poly, r_ext = _vertex_rings(cols)
    words, woff, s_ring = _polygon_ring_words(pts, rid, r_poly, r_ext)
    rows = r_starts[s_ring]  # first row of each surviving ring
    gid, g = cols["gid"][rows], cols["g"][rows]
    starts = run_starts(gid, g)
    return _feature_layer(
        "mpolys", gid, g, starts, geomstream.GEOM_POLYGON, words,
        woff[np.append(starts, len(rows))],
    )


def encode_multipolygon_tiles(
    spark: SparkSession, sf_dir: str, z_min: int = 0, z_max: int = 4
) -> DataFrame:
    """One MultiPolygon feature per (tile, poly_id % N_POLY_GROUPS): each
    group's surviving Sutherland-Hodgman-clipped polygons concatenate into
    a single multi-part feature (reference marshal.go:161-171). z_max past
    tiler.MAX_ZOOM raises ValueError."""
    verts = polygon_vertices(polygons_table(spark, sf_dir), z_min, z_max).withColumn(
        "g", F.pmod("poly_id", F.lit(N_POLY_GROUPS))
    )
    return _encode_sorted_tiles(
        verts, z_max, ("g", "poly_id", "ring_idx", "vtx_idx"),
        ("g", "poly_id", "ring_idx", "lon", "lat"), _encode_mpoly_batch, (),
        ENCODE_SCHEMA,
    )


STATS_COLS = (
    "layer", "z", "x", "y", "feature_id", "n_parts", "n_pts",
    "sum_qx", "sum_qy", "min_qx", "max_qx", "min_qy", "max_qy", "area2_abs",
)

_STATS_SCHEMA = (
    "layer string, z int, x long, y long, feature_id long, n_parts long, "
    "n_pts long, sum_qx long, sum_qy long, min_qx long, max_qx long, "
    "min_qy long, max_qy long, area2_abs long"
)


def decode_multipart_stats(tiles: DataFrame) -> DataFrame:
    """Decode every emitted multi-part tile with the engine's own reader and
    emit per-(layer, tile, feature) order-free stats:

    - mpoints: n_parts = decoded point count (multiset — the absolute-coord
      MultiPoint path preserves duplicates), coordinate sums/extrema.
    - mpolys: n_parts = decoded polygon-part count (the winding classifier's
      CW-splits — §2.A row 35), n_pts/sums/extrema over each part's DISTINCT
      quantized exterior vertices, area2_abs = sum of |2*shoelace| per part.
    """

    def run(batches):
        for pdf in batches:
            rows = {c: [] for c in STATS_COLS}
            for zt, xt, yt, data in zip(pdf["z"], pdf["x"], pdf["y"], pdf["mvt"]):
                layers = tilemod.decode_tile(bytes(data))
                for lname, layer in layers.items():
                    for f in layer["features"]:
                        words = np.asarray(f["geometry"], dtype=np.uint32)
                        if lname == "mpoints":
                            _, coords = geomstream.decode_points(words)
                            pts = np.asarray(coords, dtype=np.int64).reshape(-1, 2)
                            n_parts = n_pts = len(pts)
                            sum_qx, sum_qy = int(pts[:, 0].sum()), int(pts[:, 1].sum())
                            min_qx, max_qx = int(pts[:, 0].min()), int(pts[:, 0].max())
                            min_qy, max_qy = int(pts[:, 1].min()), int(pts[:, 1].max())
                            area2 = 0
                        else:
                            kind, polys = geomstream.decode_polygons(words, flip_y=True)
                            parts = polys if kind == "MultiPolygon" else [polys]
                            n_parts = len(parts)
                            n_pts = sum_qx = sum_qy = area2 = 0
                            min_qx = min_qy = 1 << 40
                            max_qx = max_qy = -(1 << 40)
                            for part in parts:
                                ring = np.asarray(part[0], dtype=np.int64)[:-1]
                                xs, ys = ring[:, 0], ring[:, 1]
                                area2 += abs(
                                    int(np.dot(xs, np.roll(ys, -1)) - np.dot(np.roll(xs, -1), ys))
                                )
                                uniq = np.unique(ring, axis=0)
                                n_pts += len(uniq)
                                sum_qx += int(uniq[:, 0].sum())
                                sum_qy += int(uniq[:, 1].sum())
                                min_qx = min(min_qx, int(uniq[:, 0].min()))
                                max_qx = max(max_qx, int(uniq[:, 0].max()))
                                min_qy = min(min_qy, int(uniq[:, 1].min()))
                                max_qy = max(max_qy, int(uniq[:, 1].max()))
                        for c, val in zip(
                            STATS_COLS,
                            (lname, int(zt), int(xt), int(yt), int(f["id"]), n_parts,
                             n_pts, sum_qx, sum_qy, min_qx, max_qx, min_qy, max_qy, area2),
                        ):
                            rows[c].append(val)
            yield pd.DataFrame(
                {
                    c: (rows[c] if c == "layer" else pd.array(
                        rows[c], dtype="int32" if c == "z" else "int64"))
                    for c in STATS_COLS
                }
            )

    return tiles.select("z", "x", "y", "mvt").mapInPandas(run, _STATS_SCHEMA)


def multipart_stats_sql(sf_dir: str, zp_max: int = 2, zpoly_max: int = 4) -> str:
    """Closed-form oracle for both multi-part layers, one UNION ALL:

    - mpoints arm: the q_mvt_roundtrip_coords pixel expressions grouped by
      feature_id % N_POINT_GROUPS (same JVM/DuckDB expression text — parity
      already driver-pinned by that query).
    - mpolys arm: the convex-clip survival CTEs' per-poly vertex stats
      (polyoracle ordv/area) re-aggregated per poly_id % N_POLY_GROUPS.
    """
    from . import polyoracle

    u = index.unit_u_expr()
    v = index.unit_v_expr()
    fid = index.feature_id_expr("duckdb")
    scale = "(CAST((1 << z) AS DOUBLE) * 4096)"
    return f"""
WITH {polyoracle.survival_ctes(sf_dir, 0, zpoly_max)},
{fixtures.pages_cte(sf_dir)}, {fixtures.geotag_cte()},
upts AS (SELECT {u} AS u, {v} AS v, {fid} AS fid FROM geotagged),
zoomed AS (
  SELECT fid, z.z AS z,
         {index.tile_expr('u', 'z.z', True)} AS x,
         {index.tile_expr('v', 'z.z', True)} AS y, u, v
  FROM upts CROSS JOIN (SELECT unnest(generate_series(0, {zp_max})) AS z) z),
mp AS (
  SELECT z, x, y, fid % {N_POINT_GROUPS} AS feature_id,
         CAST(trunc(u * {scale} - x * 4096) AS BIGINT) AS qx,
         CAST(trunc(v * {scale} - y * 4096) AS BIGINT) AS qy
  FROM zoomed),
dverts AS (SELECT DISTINCT poly_id, z, x, y, qx, qy FROM ordv),
vstats AS (
  SELECT poly_id, z, x, y, COUNT(*) AS n_pts,
         CAST(SUM(qx) AS BIGINT) AS sum_qx, CAST(SUM(qy) AS BIGINT) AS sum_qy,
         MIN(qx) AS min_qx, MAX(qx) AS max_qx,
         MIN(qy) AS min_qy, MAX(qy) AS max_qy
  FROM dverts GROUP BY 1, 2, 3, 4)
SELECT 'mpoints' AS layer, z, x, y, feature_id,
       COUNT(*) AS n_parts, COUNT(*) AS n_pts,
       CAST(SUM(qx) AS BIGINT) AS sum_qx, CAST(SUM(qy) AS BIGINT) AS sum_qy,
       MIN(qx) AS min_qx, MAX(qx) AS max_qx,
       MIN(qy) AS min_qy, MAX(qy) AS max_qy,
       CAST(0 AS BIGINT) AS area2_abs
FROM mp GROUP BY z, x, y, feature_id
UNION ALL
SELECT 'mpolys' AS layer, a.z, a.x, a.y,
       CAST(a.poly_id % {N_POLY_GROUPS} AS BIGINT) AS feature_id,
       COUNT(*) AS n_parts, CAST(SUM(v.n_pts) AS BIGINT) AS n_pts,
       CAST(SUM(v.sum_qx) AS BIGINT) AS sum_qx,
       CAST(SUM(v.sum_qy) AS BIGINT) AS sum_qy,
       MIN(v.min_qx) AS min_qx, MAX(v.max_qx) AS max_qx,
       MIN(v.min_qy) AS min_qy, MAX(v.max_qy) AS max_qy,
       CAST(SUM(abs(a.area2)) AS BIGINT) AS area2_abs
FROM area a JOIN vstats v
  ON a.poly_id = v.poly_id AND a.z = v.z AND a.x = v.x AND a.y = v.y
WHERE a.area2 != 0
GROUP BY a.z, a.x, a.y, a.poly_id % {N_POLY_GROUPS}"""
