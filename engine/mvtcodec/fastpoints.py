"""Vectorized point-layer MVT encoder — the per-tile hot path.

Encodes MANY single-layer Point tiles in O(passes) numpy operations (no
per-feature or per-tile Python loop): point_geometry builds each feature's
MoveTo(1) + zigzag words as one varint blob, and faststream.frame_layers
frames the features and assembles the layers. encode_point_tile is the same
path with one tile group.

Byte-compatible with engine.mvtcodec.tile.encode_layer for point features
(property asserted in tests/test_fastpoints.py): same wire layout
(vector_tile.proto fields), same first-seen tag dictionaries
(reference marshal.go:80-94), same field order.
"""

from __future__ import annotations

import numpy as np

from . import pbwire
from .commands import MOVE_TO, make_command
from .faststream import _global_tag_codes, frame_layers
from .geomstream import GEOM_POINT
from .tile import encode_layer
from .zigzag import make_parameter


def encode_point_tile(
    name: str,
    extent: int,
    fids,
    px,
    py,
    tag_columns=None,
) -> bytes:
    """Single-layer point tile for one tile's rows (fids unique and sorted,
    or None for id-less features): the batched encoder with one group.
    Zero features encode as the reference empty layer (no keys, no values)."""
    n = len(px)
    if n == 0:
        return pbwire.len_delimited(
            3, encode_layer(name, {"extent": extent, "features": []})
        )
    return encode_point_tiles_sorted(
        np.array([n]), fids, px, py, tag_columns, name, extent
    )[0]


def point_geometry(px: np.ndarray, py: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(geom, glen): every point's packed geometry payload — MoveTo(1),
    zigzag(px), zigzag(py) as varints — back to back, and its byte length."""
    n = len(px)
    words = np.empty((n, 3), dtype=np.uint64)
    words[:, 0] = int(make_command(MOVE_TO, 1))
    words[:, 1] = make_parameter(np.asarray(px, dtype=np.int64))
    words[:, 2] = make_parameter(np.asarray(py, dtype=np.int64))
    flat = words.reshape(-1)
    geom = np.frombuffer(pbwire.varint_array(flat), dtype=np.uint8)
    return geom, pbwire.varint_array_lengths(flat).reshape(n, 3).sum(axis=1)


def encode_point_tiles_sorted(
    counts: np.ndarray,
    fids: np.ndarray | None,
    px: np.ndarray,
    py: np.ndarray,
    tag_columns: dict[str, tuple[str, np.ndarray]] | None,
    layer_name: str,
    extent: int,
) -> list[bytes]:
    """Encode MANY single-layer point tiles in one vectorized pass.

    Rows are pre-sorted by tile then feature_id; ``counts[i]`` is the number
    of rows of tile i. Returns one bytes object per tile, byte-identical to
    the generic tile.encode_layer on each tile's slice (asserted in
    tests/test_fastpoints.py).
    """
    buf, tile_starts, tile_total = encode_point_tiles_sorted_raw(
        counts, fids, px, py, tag_columns, layer_name, extent
    )
    mem = buf.tobytes()
    tile_ends = (tile_starts + tile_total).tolist()
    return [mem[s:e] for s, e in zip(tile_starts.tolist(), tile_ends)]


def encode_point_tiles_sorted_raw(
    counts: np.ndarray,
    fids: np.ndarray | None,
    px: np.ndarray,
    py: np.ndarray,
    tag_columns: dict[str, tuple[str, np.ndarray]] | None,
    layer_name: str,
    extent: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """encode_point_tiles_sorted without the per-tile bytes slicing:
    returns ``(buf, tile_starts, tile_total)`` — ONE flat uint8 buffer plus
    each tile's offset/length, exactly what an Arrow BinaryArray needs
    (offsets + values buffer). The list-of-bytes wrapper above allocates
    n_tiles Python objects + a full copy; the Arrow encode path skips both.
    """
    tag_columns = tag_columns or {}
    keys = list(tag_columns)
    codes, vmsgs = _global_tag_codes(keys, tag_columns, len(px))
    geom, glen = point_geometry(px, py)
    return frame_layers(
        counts, fids, GEOM_POINT, geom, glen, codes, vmsgs, keys, layer_name, extent
    )
