"""Vectorized point-layer MVT encoder — the per-tile hot path.

Encodes MANY single-layer Point tiles in O(passes) numpy operations (no
per-feature or per-tile Python loop): geometry words, varints, feature
message framing (encode_point_features_sorted) and layer assembly
(encode_point_tiles_sorted_raw) are all computed as flat arrays and
stitched with a vectorized ragged scatter-copy. encode_point_tile is the
same path with one tile group.

Byte-compatible with engine.mvtcodec.tile.encode_layer for point features
(property asserted in tests/test_fastpoints.py): same wire layout
(vector_tile.proto fields), same first-seen tag dictionaries
(/root/reference/marshal.go:80-94), same field order.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from engine.spatial.clipbatch import run_starts

from . import pbwire
from .commands import MOVE_TO, make_command
from .tile import VERSION, encode_layer, encode_value
from .zigzag import make_parameter


def _ragged_copy(dst, dst_starts, src, src_starts, lengths):
    """Vectorized copy of variable-length segments src->dst.

    When the source segments are contiguous and in order (the common case:
    a varint blob consumed start-to-end), the source gather index is
    skipped entirely — the copy reads src[:total] directly, cutting the
    temporary index traffic by ~40% (this matters on fault-limited hosts:
    every big temporary is fresh pages)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    total = int(lengths.sum())
    if total == 0:
        return
    seg_end = np.cumsum(lengths)
    seg_start = seg_end - lengths
    pos = np.arange(total, dtype=np.int64) - np.repeat(seg_start, lengths)
    dst_idx = np.repeat(np.asarray(dst_starts, dtype=np.int64), lengths)
    dst_idx += pos
    src_starts = np.asarray(src_starts, dtype=np.int64)
    if len(src) >= total and np.array_equal(src_starts, seg_start):
        dst[dst_idx] = src[:total]
        return
    src_idx = np.repeat(src_starts, lengths)
    src_idx += pos
    dst[dst_idx] = src[src_idx]


def _tile_dictionaries(tile_of_row, n_tiles, keys, tag_columns, n):
    """Per-tile first-seen tag dictionaries, batch-wide, for n features
    whose tile ordinals ``tile_of_row`` are grouped. Returns (tag_idx
    uint64[n, 2t] interleaved (key, value code) pairs, vcode int64[n, t],
    vblob, vstart, vlen, entry_lens, e_counts int64[n_tiles] entries per
    tile) in encode_point_features_sorted's layout."""
    t = len(keys)
    codes, uniques = _global_tag_codes(keys, tag_columns, n)
    K = len(uniques) + 1
    pair = np.repeat(tile_of_row, t) * K + codes
    uniq_pairs, first_idx = np.unique(pair, return_index=True)
    ug = uniq_pairs // K
    perm = np.lexsort((first_idx, ug))  # tile-major, first-seen order
    sorted_ug = ug[perm]
    grp_starts = run_starts(sorted_ug)
    grp_sizes = np.diff(np.append(grp_starts, len(perm)))
    local_pos = np.empty(len(uniq_pairs), dtype=np.int64)
    local_pos[perm] = np.arange(len(perm)) - np.repeat(grp_starts, grp_sizes)
    vcode = local_pos[np.searchsorted(uniq_pairs, pair)].reshape(n, t)
    tag_idx = np.empty((n, 2 * t), dtype=np.uint64)
    tag_idx[:, 0::2] = np.arange(t, dtype=np.uint64)[None, :]
    tag_idx[:, 1::2] = vcode.astype(np.uint64)
    # per-tile dictionary value bytes (first-seen order): gather cached
    # per-unique-value encodings with one vectorized ragged copy
    cache = [pbwire.len_delimited(4, encode_value(vt, v)) for (vt, v) in uniques]
    cache_lens = np.fromiter((len(c) for c in cache), dtype=np.int64, count=len(cache))
    cache_starts = np.cumsum(cache_lens) - cache_lens
    cache_buf = np.frombuffer(b"".join(cache), dtype=np.uint8)
    codes_in_order = (uniq_pairs % K)[perm]
    entry_lens = cache_lens[codes_in_order]
    entry_starts = np.cumsum(entry_lens) - entry_lens
    vblob = np.empty(int(entry_lens.sum()), dtype=np.uint8)
    _ragged_copy(vblob, entry_starts, cache_buf, cache_starts[codes_in_order], entry_lens)
    # per-tile (vstart, vlen) into vblob and entry counts; grp_starts
    # indexes codes_in_order
    tiles_with_dict = sorted_ug[grp_starts]
    vlen = np.zeros(n_tiles, dtype=np.int64)
    vstart = np.zeros(n_tiles, dtype=np.int64)
    e_counts = np.zeros(n_tiles, dtype=np.int64)
    if len(grp_starts):
        vlen[tiles_with_dict] = np.add.reduceat(entry_lens, grp_starts)
    vstart[tiles_with_dict] = entry_starts[grp_starts]
    e_counts[tiles_with_dict] = grp_sizes
    return tag_idx, vcode, vblob, vstart, vlen, entry_lens, e_counts


def _global_tag_codes(
    keys: list[str],
    tag_columns: dict[str, tuple[str, np.ndarray]],
    n: int,
) -> tuple[np.ndarray, list[tuple]]:
    """Dictionary-code all tag values without per-row Python tuples.

    Returns (interleaved, uniques): ``interleaved`` is the feature-major
    (n*t,) stream of global value ids; ``uniques[gid] = (vtype, value)``.
    Global ids are assigned column-by-column (arbitrary but stable); callers
    re-rank to first-seen order as needed. Equivalent to factorizing the
    per-element (vtype, value) tuples, but per-column factorize runs on
    native dtypes and the cross-column merge only touches the unique sets.
    """
    t = len(keys)
    col_codes = np.empty((n, t), dtype=np.int64)
    slots: dict[tuple, int] = {}
    uniques: list[tuple] = []
    for j, key in enumerate(keys):
        vtype, arr = tag_columns[key]
        if isinstance(arr, tuple):
            # pre-factorized column (codes, unique values) — the Arrow
            # path dictionary-encodes in C++ and never materializes a
            # per-row Python object array. Code order is arbitrary here:
            # callers re-rank to first-seen, so bytes are unchanged.
            codes, uniqs = arr
            codes = np.asarray(codes, dtype=np.int64)
        else:
            codes, uniqs = pd.factorize(np.asarray(arr), use_na_sentinel=False)
        remap = np.empty(len(uniqs), dtype=np.int64)
        for li, v in enumerate(uniqs):
            k2 = (vtype, v)
            gid = slots.get(k2)
            if gid is None:
                gid = len(uniques)
                slots[k2] = gid
                uniques.append(k2)
            remap[li] = gid
        col_codes[:, j] = remap[codes]
    return col_codes.ravel(), uniques


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


def encode_point_features_sorted(
    counts: np.ndarray,
    fids: np.ndarray | None,
    px: np.ndarray,
    py: np.ndarray,
    tag_columns: dict[str, tuple[str, np.ndarray]] | None,
) -> dict:
    """Framed feature block + per-tile dictionary arrays for MANY tile
    groups in one vectorized pass — the shared core of the tile assembler
    (encode_point_tiles_sorted) and the salted partial-encode stage whose
    partials fastmerge re-frames.

    Rows are pre-sorted by tile then feature_id; counts[i] > 0 is the row
    count of tile i. Returns a dict:
      block      uint8[:]        framed feature bytes, all tiles
      feat_len   int64[n]        framed byte length per feature
      glen       int64[n]        geometry payload bytes per feature
      vcode      int64[n, t]     per-tile first-seen value code per column
      vblob      uint8[:]        per-tile dict value messages, concatenated
      vstart/vlen int64[n_tiles] each tile's slice of vblob
      entry_lens int64[:]        byte length per dict entry (tile-major)
      e_bounds   int64[n_tiles+1] entry index bounds per tile
      keys_blob  bytes           encoded key fields (shared by all tiles)
    """
    counts = np.asarray(counts, dtype=np.int64)
    n = int(counts.sum())
    n_tiles = len(counts)
    px = np.asarray(px, dtype=np.int64)
    py = np.asarray(py, dtype=np.int64)
    tag_columns = tag_columns or {}
    keys = list(tag_columns.keys())
    t = len(keys)

    # --- geometry (batch-wide)
    words = np.empty((n, 3), dtype=np.uint64)
    words[:, 0] = int(make_command(MOVE_TO, 1))
    words[:, 1] = make_parameter(px)
    words[:, 2] = make_parameter(py)
    flat = words.reshape(-1)
    geom_blob = np.frombuffer(pbwire.varint_array(flat), dtype=np.uint8)
    glen = pbwire.varint_array_lengths(flat).reshape(n, 3).sum(axis=1)
    geom_starts = np.cumsum(glen) - glen

    # --- per-tile first-seen tag dictionaries, batch-wide
    tile_of_row = np.repeat(np.arange(n_tiles, dtype=np.int64), counts)
    tag_idx = None
    keys_blob = b"".join(pbwire.len_delimited(3, k.encode("utf-8")) for k in keys)
    vcode = np.zeros((n, 0), dtype=np.int64)
    entry_lens = np.zeros(0, dtype=np.int64)
    e_bounds = np.zeros(n_tiles + 1, dtype=np.int64)
    if t:
        tag_idx, vcode, vblob, vstart, vlen, entry_lens, e_counts = (
            _tile_dictionaries(tile_of_row, n_tiles, keys, tag_columns, n)
        )
        np.cumsum(e_counts, out=e_bounds[1:])
    else:
        vblob = np.zeros(0, dtype=np.uint8)
        vlen = np.zeros(n_tiles, dtype=np.int64)
        vstart = np.zeros(n_tiles, dtype=np.int64)

    # --- per-row feature framing (batch-wide)
    msg_len = glen + 4
    if fids is not None:
        fids = np.asarray(fids, dtype=np.int64)
        id_lens = pbwire.varint_array_lengths(fids.astype(np.uint64))
        id_blob = np.frombuffer(
            pbwire.varint_array(fids.astype(np.uint64)), dtype=np.uint8
        )
        id_starts = np.cumsum(id_lens) - id_lens
        msg_len = msg_len + 1 + id_lens
    if tag_idx is not None:
        tflat = tag_idx.reshape(-1)
        tag_blob = np.frombuffer(pbwire.varint_array(tflat), dtype=np.uint8)
        tlen = pbwire.varint_array_lengths(tflat).reshape(n, -1).sum(axis=1)
        tag_starts = np.cumsum(tlen) - tlen
        tlen_hdr = pbwire.varint_array_lengths(tlen.astype(np.uint64))
        msg_len = msg_len + 1 + tlen_hdr + tlen

    hdr_len = pbwire.varint_array_lengths(msg_len.astype(np.uint64))
    feat_total = msg_len + 1 + hdr_len
    feat_starts = np.cumsum(feat_total) - feat_total
    out = np.empty(int(feat_total.sum()), dtype=np.uint8)  # fully covered below
    out[feat_starts] = 0x12
    hdr_blob = np.frombuffer(
        pbwire.varint_array(msg_len.astype(np.uint64)), dtype=np.uint8
    )
    hdr_starts = np.cumsum(hdr_len) - hdr_len
    _ragged_copy(out, feat_starts + 1, hdr_blob, hdr_starts, hdr_len)
    cursor = feat_starts + 1 + hdr_len
    if fids is not None:
        out[cursor] = 0x08
        _ragged_copy(out, cursor + 1, id_blob, id_starts, id_lens)
        cursor = cursor + 1 + id_lens
    if tag_idx is not None:
        out[cursor] = 0x12
        thdr_blob = np.frombuffer(
            pbwire.varint_array(tlen.astype(np.uint64)), dtype=np.uint8
        )
        thdr_starts = np.cumsum(tlen_hdr) - tlen_hdr
        _ragged_copy(out, cursor + 1, thdr_blob, thdr_starts, tlen_hdr)
        _ragged_copy(out, cursor + 1 + tlen_hdr, tag_blob, tag_starts, tlen)
        cursor = cursor + 1 + tlen_hdr + tlen
    out[cursor] = 0x18
    out[cursor + 1] = 0x01
    out[cursor + 2] = 0x22
    out[cursor + 3] = glen.astype(np.uint8)
    _ragged_copy(out, cursor + 4, geom_blob, geom_starts, glen)

    return {
        "block": out,
        "feat_len": feat_total,
        "glen": glen,
        "vcode": vcode,
        "vblob": vblob,
        "vstart": vstart,
        "vlen": vlen,
        "entry_lens": entry_lens,
        "e_bounds": e_bounds,
        "keys_blob": keys_blob,
    }


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
    tests/test_fastpoints.py): the per-tile first-seen tag dictionary is
    reproduced batch-wide via a grouped first-occurrence ranking instead of
    per-tile factorize.
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
    counts = np.asarray(counts, dtype=np.int64)
    n_tiles = len(counts)
    fb = encode_point_features_sorted(counts, fids, px, py, tag_columns)
    out = fb["block"]
    feat_total = fb["feat_len"]
    feat_starts = np.cumsum(feat_total) - feat_total
    vblob, vstart, vlen = fb["vblob"], fb["vstart"], fb["vlen"]
    keys_blob = fb["keys_blob"]

    # --- per-tile assembly, fully vectorized: layer framing computed as
    # flat offset arrays, constant blobs broadcast-scattered, variable parts
    # (features, dict values) ragged-copied; ONE final buffer -> n slices
    name_blob = pbwire.len_delimited(1, layer_name.encode("utf-8"))
    tail = (
        pbwire.tag(5, pbwire.WT_VARINT)
        + pbwire.varint(int(extent))
        + pbwire.tag(15, pbwire.WT_VARINT)
        + pbwire.varint(VERSION)
    )
    row_ends = np.cumsum(counts)
    row_starts = row_ends - counts
    byte_starts = feat_starts[row_starts]
    byte_ends = np.append(feat_starts[row_starts[1:]], len(out))
    flen = byte_ends - byte_starts

    name_arr = np.frombuffer(name_blob, dtype=np.uint8)
    keys_arr = np.frombuffer(keys_blob, dtype=np.uint8)
    tail_arr = np.frombuffer(tail, dtype=np.uint8)
    layer_len = len(name_blob) + flen + len(keys_arr) + vlen + len(tail_arr)
    hdr = pbwire.varint_array_lengths(layer_len.astype(np.uint64))
    tile_total = 1 + hdr + layer_len
    tile_starts = np.cumsum(tile_total) - tile_total
    buf = np.empty(int(tile_total.sum()), dtype=np.uint8)
    buf[tile_starts] = 0x1A  # tag(3, WT_LEN)
    hdr_blob = np.frombuffer(
        pbwire.varint_array(layer_len.astype(np.uint64)), dtype=np.uint8
    )
    hdr_starts = np.cumsum(hdr) - hdr
    _ragged_copy(buf, tile_starts + 1, hdr_blob, hdr_starts, hdr)
    cur = tile_starts + 1 + hdr
    buf[cur[:, None] + np.arange(len(name_arr))[None, :]] = name_arr[None, :]
    cur = cur + len(name_arr)
    _ragged_copy(buf, cur, out, byte_starts, flen)
    cur = cur + flen
    if len(keys_arr):
        buf[cur[:, None] + np.arange(len(keys_arr))[None, :]] = keys_arr[None, :]
        cur = cur + len(keys_arr)
    if len(vblob):
        _ragged_copy(buf, cur, vblob, vstart, vlen)
    cur = cur + vlen
    buf[cur[:, None] + np.arange(len(tail_arr))[None, :]] = tail_arr[None, :]

    return buf, tile_starts, tile_total
