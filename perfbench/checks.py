"""Correctness checks: engine outputs against independent oracles.

Every check takes plain pandas frames (the engine's collected output and
the oracle's), so a test can tamper with one side and see it caught.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from engine import mvtcodec as mc

LAYER = "pages"
EXTENT = 4096


def frame_digest(pdf: pd.DataFrame, cols: list[str]) -> tuple[int, int]:
    """(row count, order-independent hash) of ``pdf[cols]``.

    Each row hashes on its values (dtypes normalised so Spark's and
    DuckDB's frames of equal values hash alike); the row hashes are summed
    modulo 2**64, so the digest ignores row order but not a dropped,
    added or altered row.
    """
    norm = {}
    for c in cols:
        s = pdf[c]
        if pd.api.types.is_bool_dtype(s):
            norm[c] = s.astype(bool)
        elif pd.api.types.is_integer_dtype(s):
            norm[c] = s.astype(np.int64)
        elif pd.api.types.is_float_dtype(s):
            norm[c] = s.astype(np.float64)
        else:
            norm[c] = s.map(lambda v: bytes(v) if isinstance(v, (bytes, bytearray)) else str(v))
    h = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False).to_numpy(np.uint64)
    return len(pdf), int(h.sum(dtype=np.uint64))


def same_rows(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> str | None:
    """None when both frames hold the same multiset of rows, else why not."""
    g, w = frame_digest(got, cols), frame_digest(want, cols)
    if g == w:
        return None
    return f"rows {g[0]} vs oracle {w[0]}, digest {g[1]:#x} vs {w[1]:#x}"


def expected_point_tile(points: pd.DataFrame, z: int, x: int, y: int) -> bytes:
    """The reference codec's encoding of tile (z, x, y) of the point layer.

    ``points`` holds (feature_id, lang, u, v) per page. The tile keeps the
    pages whose clamped floor(u * 2^z), floor(v * 2^z) is (x, y), ordered
    by feature_id, each a point at the truncated tile-pixel offset.
    """
    n = float(1 << z)
    top = (1 << z) - 1
    u = points["u"].to_numpy()
    v = points["v"].to_numpy()
    tx = np.clip(np.floor(u * n), 0, top).astype(np.int64)
    ty = np.clip(np.floor(v * n), 0, top).astype(np.int64)
    sel = points[(tx == x) & (ty == y)].sort_values("feature_id")
    scale = n * EXTENT
    px = np.trunc(sel["u"].to_numpy() * scale - x * float(EXTENT)).astype(np.int64)
    py = np.trunc(sel["v"].to_numpy() * scale - y * float(EXTENT)).astype(np.int64)
    features = [
        {
            "id": int(fid),
            "tags": [("lang", ("string", lang))],
            "geom_type": mc.GEOM_POINT,
            "geometry": mc.encode_point([int(a), int(b)]),
        }
        for fid, lang, a, b in zip(sel["feature_id"], sel["lang"], px, py)
    ]
    return mc.encode_tile({LAYER: {"extent": EXTENT, "features": features}})


def point_tile_bytes(tiles: pd.DataFrame, points: pd.DataFrame, keys) -> str | None:
    """Each sampled tile must decode, re-encode to its own bytes, and equal
    the reference codec's encoding of the pages that fall in it."""
    by_key = {(int(r.z), int(r.x), int(r.y)): bytes(r.mvt) for r in tiles.itertuples()}
    for key in keys:
        data = by_key.get(key)
        if data is None:
            return f"tile {key} missing"
        try:
            again = mc.encode_tile(mc.decode_tile(data))
        except (ValueError, IndexError, KeyError) as exc:
            return f"tile {key} does not decode: {exc}"
        if again != data:
            return f"tile {key} does not re-encode to its own bytes"
        if expected_point_tile(points, *key) != data:
            return f"tile {key} differs from the reference encoding"
    return None


def sample_tile_keys(tiles: pd.DataFrame, seed: int, per_zoom: int = 2) -> list:
    """A seeded sample of tile keys, ``per_zoom`` from every zoom level."""
    rng = np.random.default_rng([seed, 3])
    keys = []
    for _, grp in tiles.groupby("z"):
        pick = rng.choice(len(grp), size=min(per_zoom, len(grp)), replace=False)
        keys += [(int(r.z), int(r.x), int(r.y)) for r in grp.iloc[np.sort(pick)].itertuples()]
    return keys
