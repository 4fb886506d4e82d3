"""One batched layer framer: MANY single-layer tiles in whole-array passes.

frame_layers is the only vectorized MVT framer. Its callers only build the
geometry payload: fastpoints (MoveTo(1) + zigzag words), encode_tagged_layers
below (polygon/outline/multipart command streams) and the salted merge
(engine.pipeline.tiler.merge_partial_tiles, which re-frames shipped
payloads). Every varint in the output — feature ids, tag indices, message
and geometry lengths — comes from a handful of whole-array passes stitched
with the ragged scatter-copy; there is no per-feature or per-tile Python.

Tags: every feature carries one tag per key, keys in column order (so the
generic encoder's first-seen key dictionary equals the column order). The
per-tile first-seen value dictionaries are reproduced batch-wide by a
grouped first-occurrence ranking over global value codes (_tile_dictionaries).

Wire layout matches tile.encode_layer exactly (reference marshal.go:35-111):
Feature{id=1 varint, tags=2 packed, type=3 varint, geometry=4 packed},
Layer{name=1, features=2, keys=3, values=4, extent=5, version=15}, each layer
framed as the Tile.layers field (3). Byte equality with the generic encoder
is asserted in tests/test_faststream.py (including a property over id-less,
multi-tile, multi-type batches), tests/test_fastpoints.py and
tests/test_tilemerge.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from engine.spatial.clipbatch import run_starts

from . import pbwire
from .tile import VERSION, encode_value


def _ragged_copy(dst, dst_starts, src, src_starts, lengths):
    """Vectorized copy of variable-length segments src -> dst.

    ``src_starts`` None means the segments lie back to back from src[0] (a
    blob consumed start to end): the source gather index is skipped, which
    cuts the temporary index traffic by ~40% (every big temporary is fresh
    pages on fault-limited hosts)."""
    lengths = np.asarray(lengths, dtype=np.int64)
    total = int(lengths.sum())
    if total == 0:
        return
    seg_end = np.cumsum(lengths)
    seg_start = seg_end - lengths
    pos = np.arange(total, dtype=np.int64) - np.repeat(seg_start, lengths)
    dst_idx = np.repeat(np.asarray(dst_starts, dtype=np.int64), lengths)
    dst_idx += pos
    if src_starts is None:
        dst[dst_idx] = src[:total]
        return
    src_idx = np.repeat(np.asarray(src_starts, dtype=np.int64), lengths)
    src_idx += pos
    dst[dst_idx] = src[src_idx]


def _put_varints(dst, pos, values, lens):
    """Write the varint of values[i] (``lens[i]`` bytes) at dst[pos[i]:].
    Segments all one byte long are a direct store (no varint blob)."""
    if not len(lens) or lens.max() == 1:
        dst[pos] = values
        return
    blob = np.frombuffer(pbwire.varint_array(values), dtype=np.uint8)
    _ragged_copy(dst, pos, blob, None, lens)


def _put_bytes(dst, pos, const):
    """Write the constant bytes ``const`` at every dst[pos[i]:]."""
    if len(const):
        dst[pos[:, None] + np.arange(len(const))[None, :]] = const[None, :]


def _global_tag_codes(
    keys: list[str],
    tag_columns: dict[str, tuple[str, np.ndarray]],
    n: int,
) -> tuple[np.ndarray, tuple[np.ndarray, np.ndarray]]:
    """Dictionary-code all tag values without per-row Python tuples.

    Returns (codes, vmsgs): ``codes`` int64[n, t] global value codes, and
    ``vmsgs`` = (blob, lens), the encoded Layer.values field of each code
    concatenated in code order. Codes are assigned column by column
    (arbitrary but stable; the framer re-ranks to first-seen order).
    Equivalent to factorizing the per-element (vtype, value) tuples, but
    per-column factorize runs on native dtypes and the cross-column merge
    only touches the unique sets.
    """
    codes_out = np.empty((n, len(keys)), dtype=np.int64)
    slots: dict[tuple, int] = {}
    for j, key in enumerate(keys):
        vtype, arr = tag_columns[key]
        if isinstance(arr, tuple):
            # pre-factorized column (codes, unique values) — the Arrow
            # path dictionary-encodes in C++ and never materializes a
            # per-row Python object array
            codes, uniqs = arr
            codes = np.asarray(codes, dtype=np.int64)
        else:
            codes, uniqs = pd.factorize(np.asarray(arr), use_na_sentinel=False)
        remap = np.fromiter(
            (slots.setdefault((vtype, v), len(slots)) for v in uniqs),
            dtype=np.int64, count=len(uniqs),
        )
        codes_out[:, j] = remap[codes]
    msgs = [pbwire.len_delimited(4, encode_value(vt, v)) for vt, v in slots]
    lens = np.fromiter(map(len, msgs), dtype=np.int64, count=len(msgs))
    return codes_out, (np.frombuffer(b"".join(msgs), dtype=np.uint8), lens)


def _tile_dictionaries(tile_of_row, n_tiles, codes, vmsgs):
    """Per-tile first-seen value dictionaries, batch-wide, for rows whose
    tile ordinals ``tile_of_row`` are grouped and whose global value codes
    are ``codes`` int64[n, t] (``vmsgs`` as _global_tag_codes returns it).

    Returns (vcode int64[n, t] per-tile value index, vblob uint8 every
    tile's dictionary entries in first-seen order, tile-major, entry_lens
    int64 byte length per entry, e_bounds int64[n_tiles + 1] each tile's
    entry index range)."""
    n, t = codes.shape
    msg_blob, msg_lens = vmsgs
    k = max(len(msg_lens), 1)
    pair = np.repeat(tile_of_row, t) * k + codes.ravel()
    uniq_pairs, first_idx = np.unique(pair, return_index=True)
    ug = uniq_pairs // k  # sorted: entries grouped by tile
    perm = np.lexsort((first_idx, ug))  # tile-major, first-seen order
    e_bounds = np.searchsorted(ug, np.arange(n_tiles + 1))
    local_pos = np.empty(len(uniq_pairs), dtype=np.int64)
    local_pos[perm] = np.arange(len(perm)) - np.repeat(e_bounds[:-1], np.diff(e_bounds))
    vcode = local_pos[np.searchsorted(uniq_pairs, pair)].reshape(n, t)
    entry_codes = (uniq_pairs % k)[perm]
    entry_lens = msg_lens[entry_codes]
    vblob = np.empty(int(entry_lens.sum()), dtype=np.uint8)
    _ragged_copy(
        vblob, np.cumsum(entry_lens) - entry_lens, msg_blob,
        (np.cumsum(msg_lens) - msg_lens)[entry_codes], entry_lens,
    )
    return vcode, vblob, entry_lens, e_bounds


def frame_layers(
    counts: np.ndarray,
    fids: np.ndarray | None,
    geom_type: int,
    geom: np.ndarray,
    glen: np.ndarray,
    codes: np.ndarray,
    vmsgs: tuple[np.ndarray, np.ndarray],
    keys: list[str],
    layer_name: str,
    extent: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Frame one single-layer tile per group of features.

    Rows are grouped by tile in output feature order; ``counts[i]`` > 0 is
    the row count of tile i. ``fids`` int64[n] (None: id-less features);
    ``geom`` uint8 the features' packed geometry payloads back to back,
    ``glen`` int64[n] their byte lengths; ``codes`` int64[n, t] global
    value codes of the tag columns ``keys`` and ``vmsgs`` the encoded
    Layer.values field of each code (_global_tag_codes).

    Returns ``(buf, tile_starts, tile_total)``: ONE flat uint8 buffer of
    Tile.layers fields plus each tile's offset and length — the offsets
    and values of an Arrow binary column.
    """
    counts = np.asarray(counts, dtype=np.int64)
    n_tiles = len(counts)
    n = int(counts.sum())
    glen = np.asarray(glen, dtype=np.int64)
    t = len(keys)

    # ---- feature message sizes
    glen_len = pbwire.varint_array_lengths(glen)
    msg_len = 3 + glen_len + glen  # type (2) + geometry tag (1) + payload
    if fids is not None:
        fids = np.asarray(fids, dtype=np.int64)
        fid_len = pbwire.varint_array_lengths(fids)
        msg_len += 1 + fid_len
    vblob = np.zeros(0, dtype=np.uint8)
    vlen = np.zeros(n_tiles, dtype=np.int64)
    if t:
        tile_of_row = np.repeat(np.arange(n_tiles, dtype=np.int64), counts)
        vcode, vblob, entry_lens, e_bounds = _tile_dictionaries(
            tile_of_row, n_tiles, codes, vmsgs
        )
        vlen = np.diff(np.concatenate([[0], np.cumsum(entry_lens)])[e_bounds])
        tag_idx = np.empty((n, 2 * t), dtype=np.uint64)
        tag_idx[:, 0::2] = np.arange(t, dtype=np.uint64)[None, :]
        tag_idx[:, 1::2] = vcode
        tflat = tag_idx.reshape(-1)
        tag_blob = np.frombuffer(pbwire.varint_array(tflat), dtype=np.uint8)
        tlen = pbwire.varint_array_lengths(tflat).reshape(n, 2 * t).sum(axis=1)
        tlen_len = pbwire.varint_array_lengths(tlen)
        msg_len += 1 + tlen_len + tlen
    mlen_len = pbwire.varint_array_lengths(msg_len)
    feat_total = 1 + mlen_len + msg_len

    # ---- tile layout: Tile.layers header, name, features, keys, values,
    # extent + version; every feature is written straight into its place
    name_arr = np.frombuffer(
        pbwire.len_delimited(1, layer_name.encode("utf-8")), dtype=np.uint8
    )
    keys_arr = np.frombuffer(
        b"".join(pbwire.len_delimited(3, k.encode("utf-8")) for k in keys),
        dtype=np.uint8,
    )
    tail_arr = np.frombuffer(
        pbwire.tag(5, pbwire.WT_VARINT) + pbwire.varint(int(extent))
        + pbwire.tag(15, pbwire.WT_VARINT) + pbwire.varint(VERSION),
        dtype=np.uint8,
    )
    fcum = np.concatenate([[0], np.cumsum(feat_total)])
    row_bounds = np.concatenate([[0], np.cumsum(counts)])
    flen = np.diff(fcum[row_bounds])
    layer_len = len(name_arr) + flen + len(keys_arr) + vlen + len(tail_arr)
    hdr = pbwire.varint_array_lengths(layer_len)
    tile_total = 1 + hdr + layer_len
    tile_starts = np.cumsum(tile_total) - tile_total
    buf = np.empty(int(tile_total.sum()), dtype=np.uint8)  # fully covered below
    buf[tile_starts] = 0x1A  # tag(3, LEN): Tile.layers
    _put_varints(buf, tile_starts + 1, layer_len, hdr)
    feat_base = tile_starts + 1 + hdr + len(name_arr)
    _put_bytes(buf, feat_base - len(name_arr), name_arr)
    _put_bytes(buf, feat_base + flen, keys_arr)
    _ragged_copy(buf, feat_base + flen + len(keys_arr), vblob, None, vlen)
    _put_bytes(buf, feat_base + flen + len(keys_arr) + vlen, tail_arr)

    # ---- feature messages, one pass per field over every feature
    pos = fcum[:-1] + np.repeat(feat_base - fcum[row_bounds[:-1]], counts)
    buf[pos] = 0x12  # tag(2, LEN): Layer.features
    _put_varints(buf, pos + 1, msg_len, mlen_len)
    pos = pos + 1 + mlen_len
    if fids is not None:
        buf[pos] = 0x08  # tag(1, VARINT): id
        _put_varints(buf, pos + 1, fids, fid_len)
        pos = pos + 1 + fid_len
    if t:
        buf[pos] = 0x12  # tag(2, LEN): packed tags
        _put_varints(buf, pos + 1, tlen, tlen_len)
        pos = pos + 1 + tlen_len
        _ragged_copy(buf, pos, tag_blob, None, tlen)
        pos = pos + tlen
    buf[pos] = 0x18  # tag(3, VARINT): geometry type
    buf[pos + 1] = geom_type
    buf[pos + 2] = 0x22  # tag(4, LEN): packed geometry
    _put_varints(buf, pos + 3, glen, glen_len)
    _ragged_copy(buf, pos + 3 + glen_len, geom, None, glen)
    return buf, tile_starts, tile_total


def encode_tagged_layers(
    layer_name: str,
    extent: int,
    tile_ids: np.ndarray,
    fids: np.ndarray | None,
    geom_type: int,
    words: np.ndarray,
    woff: np.ndarray,
    tag_columns: dict[str, tuple[str, np.ndarray]] | None = None,
) -> dict[int, bytes]:
    """Frame one layer per distinct tile id -> {tile_id: Layer message}.

    tile_ids: (F,) ints, grouped (all rows of a tile contiguous); fids: (F,)
    feature ids or None; words/woff: flat uint32 command stream + per-feature
    offsets ((F+1,)); tag_columns: {key: (vtype, (F,) values)} — every
    feature gets one tag per column; values may repeat within a tile.
    """
    tile_ids = np.asarray(tile_ids)
    if not len(tile_ids):
        return {}
    starts = run_starts(tile_ids)
    woff = np.asarray(woff, dtype=np.int64)
    wcum = np.concatenate([[0], np.cumsum(pbwire.varint_array_lengths(words))])
    geom = np.frombuffer(pbwire.varint_array(words), dtype=np.uint8)
    tag_columns = tag_columns or {}
    keys = list(tag_columns)
    codes, vmsgs = _global_tag_codes(keys, tag_columns, len(tile_ids))
    buf, tstarts, ttotal = frame_layers(
        np.diff(np.append(starts, len(tile_ids))), fids, geom_type,
        geom[wcum[woff[0]] :], np.diff(wcum[woff]), codes, vmsgs, keys,
        layer_name, extent,
    )
    # drop each tile's Tile.layers header, 0x1A + varint(L) with ttotal =
    # 1 + vlen(L) + L: vlen(ttotal - 2) is vlen(L) or one more, and one
    # fixed-point step lands on vlen(L) exactly
    hdr = pbwire.varint_array_lengths(ttotal - 2)
    hdr = pbwire.varint_array_lengths(ttotal - 1 - hdr)
    mem = buf.tobytes()
    return {
        tid: mem[s:e]
        for tid, s, e in zip(
            tile_ids[starts].tolist(), (tstarts + 1 + hdr).tolist(),
            (tstarts + ttotal).tolist(),
        )
    }
