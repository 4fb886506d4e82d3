"""Batched layer framing for arbitrary precomputed geometry streams.

fastpoints.py vectorizes the POINT layer end-to-end; this module frames a
stream of features whose geometry command words are ALREADY encoded (e.g.
the polygon/outline tilers' ragged scatter output, clipbatch) into per-tile
Layer messages with zero per-feature Python: every varint in the output —
feature ids, tag indices, geometry words, message lengths — is produced by
a handful of whole-array varint_array calls and stitched with the ragged
scatter-copy.

Tag handling is fully general (N tag columns, duplicate values allowed):
the per-tile first-seen dictionaries are reproduced batch-wide with the
same grouped first-occurrence ranking as fastpoints (keys = column names in
column order — every feature carries every column, so the generic encoder's
first-seen key dict equals the column order; values = first-seen over the
feature-major value stream). Byte-equality with tile.encode_layer is
asserted in tests/test_faststream.py, including duplicate values and
multi-key features.

Wire layout matches tile.encode_layer exactly (reference marshal.go:35-111):
Feature{id=1 varint, tags=2 packed, type=3 varint, geometry=4 packed},
Layer{name=1, features=2, keys=3, values=4, extent=5, version=15}.
"""

from __future__ import annotations

import numpy as np

from engine.spatial.clipbatch import run_starts

from . import pbwire
from .fastpoints import _ragged_copy, _tile_dictionaries
from .tile import VERSION


def _scatter_bytes(dst: np.ndarray, dst_pos: np.ndarray, blob: bytes, lens: np.ndarray):
    """Copy the i-th varint (length lens[i]) of the concatenated ``blob``
    to dst[dst_pos[i]:...] for all i."""
    src = np.frombuffer(blob, dtype=np.uint8)
    ends = np.cumsum(lens)
    _ragged_copy(dst, dst_pos, src, ends - lens, lens)


def encode_tagged_layers(
    layer_name: str,
    extent: int,
    tile_ids: np.ndarray,
    fids: np.ndarray,
    geom_type: int,
    words: np.ndarray,
    woff: np.ndarray,
    tag_columns: dict[str, tuple[str, np.ndarray]] | None = None,
) -> dict[int, bytes]:
    """Frame one layer per distinct tile id -> {tile_id: layer_msg_bytes}.

    tile_ids: (F,) ints, grouped (all rows of a tile contiguous); fids: (F,)
    feature ids; words/woff: flat uint32 command stream + per-feature
    offsets ((F+1,)); tag_columns: {key: (vtype, (F,) values)} — every
    feature gets one tag per column; values may repeat within a tile.
    """
    F = len(fids)
    if F == 0:
        return {}
    fids = np.asarray(fids, dtype=np.int64)
    tile_ids = np.asarray(tile_ids)
    tag_columns = tag_columns or {}
    keys = list(tag_columns.keys())
    t = len(keys)
    t_starts = run_starts(tile_ids)
    t_bounds = np.append(t_starts, F)
    t_sizes = np.diff(t_bounds)
    n_tiles = len(t_starts)
    tile_ord = np.repeat(np.arange(n_tiles, dtype=np.int64), t_sizes)

    # ---- geometry: one varint pass over every word of every feature
    geom_blob = np.frombuffer(pbwire.varint_array(words), dtype=np.uint8)
    wlens = pbwire.varint_array_lengths(words)
    bcum = np.concatenate([[0], np.cumsum(wlens)])
    g_start = bcum[np.asarray(woff[:-1], dtype=np.int64)]
    g_len = bcum[np.asarray(woff[1:], dtype=np.int64)] - g_start

    # ---- per-tile first-seen tag dictionaries, batch-wide (same grouped
    # first-occurrence ranking as fastpoints.encode_point_tiles_sorted:
    # fastpoints._tile_dictionaries)
    tag_blob = b""
    tag_lens = np.zeros(F, dtype=np.int64)
    vblob = np.zeros(0, dtype=np.uint8)
    vlen = np.zeros(n_tiles, dtype=np.int64)
    vstart = np.zeros(n_tiles, dtype=np.int64)
    keys_blob = b"".join(pbwire.len_delimited(3, k.encode("utf-8")) for k in keys)
    if t:
        tag_idx, _, vblob, vstart, vlen, _, _ = _tile_dictionaries(
            tile_ord, n_tiles, keys, tag_columns, F
        )
        tflat = tag_idx.reshape(-1)
        tag_blob = pbwire.varint_array(tflat)
        tag_lens = pbwire.varint_array_lengths(tflat).reshape(F, -1).sum(axis=1)

    # ---- per-feature varint pieces
    fid_blob = pbwire.varint_array(fids)
    fid_len = pbwire.varint_array_lengths(fids)
    glen_blob = pbwire.varint_array(g_len)
    glen_len = pbwire.varint_array_lengths(g_len)

    # field sizes: id(1+fid) tags(1+hdr+payload) type(2) geometry(1+glen+g)
    msg_len = (1 + fid_len) + 2 + (1 + glen_len + g_len)
    if t:
        tp_hdr = pbwire.varint_array_lengths(tag_lens)
        msg_len = msg_len + 1 + tp_hdr + tag_lens
    mlen_blob = pbwire.varint_array(msg_len)
    mlen_len = pbwire.varint_array_lengths(msg_len)
    framed_len = 1 + mlen_len + msg_len  # tag(2,LEN) + varint(len) + msg

    total = int(framed_len.sum())
    out = np.empty(total, dtype=np.uint8)
    f_start = np.concatenate([[0], np.cumsum(framed_len)])[:-1]

    pos = f_start
    out[pos] = 0x12  # tag(2, LEN) at the layer level
    _scatter_bytes(out, pos + 1, mlen_blob, mlen_len)
    pos = pos + 1 + mlen_len
    out[pos] = 0x08  # tag(1, VARINT): feature id
    _scatter_bytes(out, pos + 1, fid_blob, fid_len)
    pos = pos + 1 + fid_len
    if t:
        out[pos] = 0x12  # tag(2, LEN): packed tags
        _scatter_bytes(
            out, pos + 1, pbwire.varint_array(tag_lens), tp_hdr
        )
        pos = pos + 1 + tp_hdr
        _scatter_bytes(out, pos, tag_blob, tag_lens)
        pos = pos + tag_lens
    out[pos] = 0x18  # tag(3, VARINT): geom type
    out[pos + 1] = geom_type
    out[pos + 2] = 0x22  # tag(4, LEN): packed geometry
    _scatter_bytes(out, pos + 3, glen_blob, glen_len)
    pos = pos + 3 + glen_len
    _ragged_copy(out, pos, geom_blob, g_start, g_len)

    # ---- per-tile assembly (loop bounded by TILE count, not features)
    name_field = pbwire.len_delimited(1, layer_name.encode("utf-8"))
    tail = (
        pbwire.tag(5, pbwire.WT_VARINT)
        + pbwire.varint(int(extent))
        + pbwire.tag(15, pbwire.WT_VARINT)
        + pbwire.varint(VERSION)
    )
    feat_block = out.tobytes()
    vmem = vblob.tobytes()
    fb_bounds = np.concatenate([[0], np.cumsum(framed_len)])
    layers: dict[int, bytes] = {}
    for ti in range(n_tiles):
        s, e = t_bounds[ti], t_bounds[ti + 1]
        layers[int(tile_ids[t_starts[ti]])] = (
            name_field
            + feat_block[fb_bounds[s] : fb_bounds[e]]
            + keys_blob
            + vmem[vstart[ti] : vstart[ti] + vlen[ti]]
            + tail
        )
    return layers

