"""Per-tile MVT encode stage (SURVEY B12-B15) + skew handling (B14).

Pipeline shape (SURVEY §3.4): zoom-exploded point rows (z, u, v,
feature_id, tags...) — the rows ``index.with_tiles`` yields — are
optionally capped per tile (deterministic top-K by feature_id — the scale
guard for mega-tiles: z0 contains EVERY feature, so an uncapped group would
OOM one executor at 100 TB). One key builder turns each row into its
shuffle key: a packed int64 of (z, u-grid, v-grid) bit fields when that
fits, the (z, u, v) columns otherwise, with an optional salt as the top
field. The rows are repartitioned on the tile (hash, or range over a
Hilbert key for output locality) and sorted so each tile's features are
CONTIGUOUS; a JVM projection rebuilds (gid, qx, qy) after the shuffle.

Every tiler (points, partials, the partial merge, polygons, multi-part)
then runs ONE ``mapInArrow`` worker over rows sorted by tile with the packed
key gid = z<<52 | x<<26 | y computed after the sort: carry_group_iter
detects group boundaries vectorized and carries incomplete tail groups into
the next batch, so each encode call gets MANY complete tiles and returns an
Arrow batch (_tile_batch); the digest mvt_sha256 is computed JVM-side. This
avoids ``groupBy().applyInPandas``'s per-group overhead, which dominates
when the pyramid has tens of thousands of small tiles. Every worker frames
its layers through the one batched framer, engine.mvtcodec.faststream.
frame_layers: point tiles via fastpoints, the salted merge once per Arrow
batch (_merge_partials_batch), polygons and multi-part via
faststream.encode_tagged_layers.

Byte determinism: features sorted by (tile, feature_id) before the encode,
layers sorted by name inside the codec — output bytes are invariant under
key packing, partitioning, salting, and executor count (SURVEY §7.4 item 1).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from engine.mvtcodec import fastpoints, faststream, pbwire
from engine.mvtcodec.geomstream import GEOM_POINT
from engine.spatial.clipbatch import run_starts

from . import index, tilemerge

EXTENT = 4096
MAX_ZOOM = 25  # gid packs x and y into 26-bit fields

TILE_SCHEMA = (
    "z int, x bigint, y bigint, mvt binary, n_features long, n_bytes long, mvt_sha256 string"
)
ENCODE_SCHEMA = "z int, x bigint, y bigint, mvt binary, n_features long, n_bytes long"
POINT_SCHEMA = ENCODE_SCHEMA + ", input_sig long"
PARTIAL_SCHEMA = (
    "z int, x bigint, y bigint, n_features long, fids binary, geom binary, "
    "glen binary, vcode binary, dict_blob binary, dict_lens binary, mvt binary"
)
PARTIAL_BLOBS = ("fids", "geom", "glen", "vcode", "dict_blob", "dict_lens", "mvt")


def cap_features_per_tile(
    df: DataFrame, k: int, n_salt: int = 64, order_col: str = "feature_id"
) -> DataFrame:
    """Deterministic top-K features per (z,x,y) by smallest ``order_col``
    (B14). Two-level: salted partial top-K bounds any single task's sort
    state even for the z0 mega-tile, then a final top-K per tile. The result
    is a pure function of the data (independent of n_salt / partitioning)."""
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(order_col), F.lit(n_salt)))
    w1 = Window.partitionBy("z", "x", "y", "_salt").orderBy(order_col)
    partial = (
        salted.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
    )
    w2 = Window.partitionBy("z", "x", "y").orderBy(order_col)
    return (
        partial.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


_XXH64_PRIMES = tuple(np.uint64(p) for p in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5 + 42 + 8,  # p5 + Spark's seed + 8
))


def xxhash64(v: np.ndarray) -> np.ndarray:
    """Spark's ``xxhash64`` of int64 values (XXH64.hashLong, seed 42) in
    numpy, bit for bit; uint64 arithmetic wraps like the JVM's."""
    p1, p2, p3, p4, seeded = _XXH64_PRIMES
    u = np.uint64
    h = np.asarray(v, dtype=np.int64).view(u) * p2
    h = ((h << u(31)) | (h >> u(33))) * p1
    h ^= seeded
    h = ((h << u(27)) | (h >> u(37))) * p1 + p4
    for shift, prime in ((33, p2), (29, p3)):
        h ^= h >> u(shift)
        h *= prime
    h ^= h >> u(32)
    return h.view(np.int64)


def _arrow_tags(cols, tag_cols) -> dict:
    """Tag columns in fastpoints' layout: string tags dictionary-encode in
    Arrow C++ (int64 codes + a tiny unique list), so no per-row Python
    object is ever built; numeric tags pass through as numpy."""
    tags = {}
    for c, vt in tag_cols:
        arr = cols[c]
        if isinstance(arr, np.ndarray):
            tags[c] = (vt, arr)
        elif vt == "string":
            if arr.null_count:
                # dictionary_encode() leaves null INDICES, which the int64
                # cast below would turn into garbage codes — fail loudly
                # instead of corrupting tag bytes
                raise ValueError(
                    "null string tag values are not supported by the Arrow "
                    "encode path; fill or drop nulls upstream"
                )
            d = arr.dictionary_encode()
            codes = d.indices.to_numpy(zero_copy_only=False).astype(np.int64)
            tags[c] = (vt, (codes, d.dictionary.to_pylist()))
        else:
            tags[c] = (vt, arr.to_numpy(zero_copy_only=False))
    return tags


def _gid_fields(g: np.ndarray):
    """(z, x, y) int64 arrays unpacked from packed tile gids
    (z<<52 | x<<26 | y); any salt bits above z are dropped."""
    mask = (1 << 26) - 1
    return (g >> 52) & 31, (g >> 26) & mask, g & mask


def _gid_tile_arrays(g: np.ndarray) -> list:
    """(z, x, y) Arrow columns (int32, int64, int64) of group-start gids."""
    import pyarrow as pa

    z, x, y = _gid_fields(g)
    return [pa.array(z.astype(np.int32)), pa.array(x), pa.array(y)]


def _tile_batch(g: np.ndarray, mvt, n_features, n_bytes, **extra):
    """The tile workers' output batch (ENCODE_SCHEMA, then ``extra``
    columns): (z, x, y) unpacked from the tiles' gids ``g``, the ``mvt``
    binary array, and per-tile feature and byte counts."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [
            *_gid_tile_arrays(g),
            mvt,
            pa.array(n_features, type=pa.int64()),
            pa.array(n_bytes, type=pa.int64()),
            *extra.values(),
        ],
        names=["z", "x", "y", "mvt", "n_features", "n_bytes", *extra],
    )


def _binary_array(values: np.ndarray, offsets: np.ndarray):
    """Arrow binary column over ``values`` (uint8) with row i spanning
    values[offsets[i]:offsets[i+1]] — no per-row Python object."""
    import pyarrow as pa

    if offsets[-1] >= (1 << 31):
        # pa.binary() offsets are int32; a mega-group past 2 GiB would wrap
        # silently on the int64->int32 assignment
        raise ValueError(
            "encoded tile group exceeds 2 GiB of tile bytes; split the "
            "group (salted partial encode) before the Arrow batch build"
        )
    return pa.Array.from_buffers(
        pa.binary(), len(offsets) - 1,
        [None, pa.py_buffer(np.asarray(offsets, dtype=np.int32)), pa.py_buffer(values)],
    )


def _binary_values(arr) -> tuple[np.ndarray, np.ndarray]:
    """(values, lengths) of an Arrow binary column read from its buffers:
    the rows' bytes back to back, and each row's byte length."""
    _, offs, data = arr.buffers()
    off = np.frombuffer(offs, dtype=np.int32)[arr.offset : arr.offset + len(arr) + 1]
    if data is None:
        return np.zeros(0, np.uint8), np.diff(off).astype(np.int64)
    return np.frombuffer(data, np.uint8)[off[0] : off[-1]], np.diff(off).astype(np.int64)


def _encode_group_arrow(cols, layer_name, tag_cols, extent):
    """Arrow-native tile encode for one-or-more COMPLETE gid groups.

    ``cols``: numpy int64 arrays for gid/qx/qy/feature_id, pyarrow arrays
    for tag columns. No pandas frame, no per-row Python objects anywhere:
    the output binary column is built straight from the encoder's flat
    buffer + offsets (encode_point_tiles_sorted_raw). Each tile's lineage
    signature ``input_sig`` (xor of xxhash64 over its feature ids) folds
    from the same sorted run."""
    import pyarrow as pa

    gid = cols["gid"]
    starts = run_starts(gid)
    counts = np.diff(np.append(starts, len(gid)))
    buf, tstarts, ttotal = fastpoints.encode_point_tiles_sorted_raw(
        counts, cols["feature_id"], cols["qx"], cols["qy"],
        _arrow_tags(cols, tag_cols), layer_name, extent,
    )
    mvt = _binary_array(buf, np.append(tstarts, len(buf)))
    sig = np.bitwise_xor.reduceat(xxhash64(cols["feature_id"]), starts)
    return _tile_batch(
        gid[starts], mvt, counts, ttotal, input_sig=pa.array(sig, type=pa.int64())
    )


def _encode_partials_group_arrow(cols, tag_cols):
    """Arrow-native partial encode for one-or-more COMPLETE (salt-packed)
    gid groups: one PARTIAL_SCHEMA row per group holding its feature ids,
    geometry payloads (fastpoints.point_geometry) and their byte lengths,
    per-group first-seen value codes and the dictionary's encoded value
    fields. Every column is a view of one batch-wide array."""
    import pyarrow as pa

    gid = cols["gid"]
    n = len(gid)
    starts = run_starts(gid)
    counts = np.diff(np.append(starts, n))
    bounds = np.append(starts, n)
    keys = [c for c, _ in tag_cols]
    codes, vmsgs = faststream._global_tag_codes(keys, _arrow_tags(cols, tag_cols), n)
    vcode, vblob, entry_lens, e_bounds = faststream._tile_dictionaries(
        np.repeat(np.arange(len(starts)), counts), len(starts), codes, vmsgs
    )
    geom, glen = fastpoints.point_geometry(cols["qx"], cols["qy"])
    as_bytes = lambda a, dtype: np.ascontiguousarray(a, dtype=dtype).view(np.uint8)
    pcols = {
        "fids": _binary_array(as_bytes(cols["feature_id"], np.int64), bounds * 8),
        "geom": _binary_array(geom, np.concatenate([[0], np.cumsum(glen)])[bounds]),
        "glen": _binary_array(as_bytes(glen, np.int32), bounds * 4),
        "vcode": _binary_array(as_bytes(vcode, np.int32), bounds * 4 * len(keys)),
        "dict_blob": _binary_array(
            vblob, np.concatenate([[0], np.cumsum(entry_lens)])[e_bounds]
        ),
        "dict_lens": _binary_array(as_bytes(entry_lens, np.int32), e_bounds * 4),
    }
    return pa.RecordBatch.from_arrays(
        [
            *_gid_tile_arrays(gid[starts]),
            pa.array(counts, type=pa.int64()),
            *pcols.values(),
            pa.nulls(len(starts), pa.binary()),
        ],
        names=["z", "x", "y", "n_features", *pcols, "mvt"],
    )


def carry_group_iter(batches, encode_fn, arrow_cols: frozenset):
    """Drive ``encode_fn`` over COMPLETE gid groups, given a stream of
    Arrow batches pre-sorted so each gid's rows are contiguous.

    Columns named in ``arrow_cols`` (string/binary columns) stay pyarrow
    arrays, every other column becomes a numpy array — pandas never enters
    the worker. ``encode_fn`` receives a dict of columns holding one or
    more complete groups. The (possibly incomplete) trailing group is
    carried as a LIST of chunks and concatenated exactly once when the
    group completes — a mega-tile spanning many Arrow batches (z0 holds
    every feature) is copied O(1) times, not O(batches) (quadratic carry
    re-concat measured 5-40x slower on the z0-z14 pyramid at sf0.1)."""
    import pyarrow as pa

    def to_cols(rb):
        return {
            name: (
                rb.column(i)
                if name in arrow_cols
                else rb.column(i).to_numpy()
            )
            for i, name in enumerate(rb.schema.names)
        }

    def slice_cols(cols, s, e):
        return {
            k: v[s:e] if isinstance(v, np.ndarray) else v.slice(s, e - s)
            for k, v in cols.items()
        }

    def concat_cols(parts):
        if len(parts) == 1:
            return parts[0]
        return {
            k: (
                np.concatenate([p[k] for p in parts])
                if isinstance(parts[0][k], np.ndarray)
                else pa.chunked_array([p[k] for p in parts]).combine_chunks()
            )
            for k in parts[0]
        }

    pend = []
    for rb in batches:
        if rb.num_rows == 0:
            continue
        cols = to_cols(rb)
        gid = cols["gid"]
        starts = run_starts(gid)
        tail = int(starts[-1])
        body_start = 0
        if pend:
            if pend[-1]["gid"][-1] == gid[0]:
                if len(starts) == 1:
                    pend.append(cols)  # batch is one group: keep carrying
                    continue
                body_start = int(starts[1])
                pend.append(slice_cols(cols, 0, body_start))
            yield encode_fn(concat_cols(pend))
            pend = []
        if tail > body_start:
            yield encode_fn(slice_cols(cols, body_start, tail))
        pend.append(slice_cols(cols, tail, len(gid)))
    if pend:
        yield encode_fn(concat_cols(pend))


def _packed_exprs(z_max: int, extent: int, with_salt: bool, z: str = "z"):
    """SQL expression strings for the packed one-int64 shuffle key
    (guide §2.3): bit fields [salt(6) .] z(5) . uq(B+1) . vq(B+1) with
    B = z_max + 12, uq = clamp(floor(u * 2^B), 0, 2^B). Returns None when
    the fields do not fit an int64 (5 [+ 6] + 2 * (z_max + 13) > 64, i.e.
    z_max > 16 unsalted / > 13 salted) or extent != 4096; the key builder
    then falls back to the unpacked (z, u, v) key.

    Exactness (why the derived columns are bit-identical to the unpacked
    key for u, v in [0, 1], the with_unit domain): u * 2^B is exact
    (power-of-two scaling of a double), floor(u*2^B) >> (B-z) ==
    floor(u*2^z) (nested-floor identity with integer divisor), and
    qx = floor(u*2^(z+12)) - x*4096 == cast(u*scale - x*4096.0 as long)
    because that double subtraction is exact (the difference's significant
    bits fit a double) and the value is >= 0 so trunc == floor. The clamps
    reproduce the unpacked key's least/greatest at u = 1.0. Valid only for
    rows with z <= z_max: ``z`` is the zoom expression the key packs, which
    _keyed_rows passes guarded (_z_guard)."""
    B = z_max + 12
    if extent != EXTENT or 5 + (6 if with_salt else 0) + 2 * (B + 1) > 64:
        return None
    mask = (1 << (B + 1)) - 1
    f = 1 << B
    zshift = 2 * (B + 1)

    def q_c(col: str) -> str:
        return (
            f"least(cast({f} as bigint), greatest(cast(0 as bigint), "
            f"cast(floor({col} * cast({f} as double)) as bigint)))"
        )

    packed = (
        f"shiftleft(cast({z} as bigint), {zshift}) + "
        f"shiftleft({q_c('u')}, {B + 1}) + {q_c('v')}"
    )
    if with_salt:
        packed = f"shiftleft(_salt, {zshift + 5}) + " + packed
    z_i = f"cast((shiftright(packed, {zshift}) & 31) as int)"
    uq = f"(shiftright(packed, {B + 1}) & {mask})"
    vq = f"(packed & {mask})"
    x = (
        f"least(cast(shiftleft(1, {z_i}) as bigint) - 1, "
        f"shiftright({uq}, {B} - {z_i}))"
    )
    y = (
        f"least(cast(shiftleft(1, {z_i}) as bigint) - 1, "
        f"shiftright({vq}, {B} - {z_i}))"
    )
    qx = f"(shiftright({uq}, {B - 12} - {z_i}) - shiftleft({x}, 12))"
    qy = f"(shiftright({vq}, {B - 12} - {z_i}) - shiftleft({y}, 12))"
    gid = f"shiftleft(cast({z_i} as bigint), 52) + shiftleft({x}, 26) + {y}"
    if with_salt:
        gid = f"shiftleft(shiftright(packed, {zshift + 5}), 57) + {gid}"
    return {"select": [f"{packed} as packed", "feature_id"],
            "packed": packed, "z": z_i, "x": x, "y": y, "qx": qx, "qy": qy,
            "gid": gid, "salt": f"shiftright(packed, {zshift + 5})"}


def _unpacked_exprs(with_salt: bool, z: str = "z") -> dict:
    """The (z, u, v [, _salt]) key, with the same roles as _packed_exprs.
    x/y are with_tiles' own expressions; qx/qy truncate with_tiles' px/py
    (scale = 2^(z+12) and x * 4096 are exact doubles, and cast(double as
    long) truncates toward zero like Go's int32() cast, reference
    marshal.go:190,196)."""
    x = index.tile_expr("u", "z", shift_op=False)
    y = index.tile_expr("v", "z", shift_op=False)
    scale = "(cast(shiftleft(1, z) as double) * 4096.0D)"
    gid = f"shiftleft(cast(z as bigint), 52) + shiftleft({x}, 26) + {y}"
    if with_salt:
        gid = f"shiftleft(_salt, 57) + {gid}"
    return {
        "select": [f"{z} as z", "u", "v", "feature_id"] + (["_salt"] if with_salt else []),
        "z": "z", "x": x, "y": y, "salt": "_salt", "gid": gid,
        "qx": f"cast(u * {scale} - cast({x} as double) * 4096.0D as long)",
        "qy": f"cast(v * {scale} - cast({y} as double) * 4096.0D as long)",
    }


def _keyed_rows(
    df: DataFrame,
    z_max: int,
    tag_cols: tuple[tuple[str, str], ...],
    extent: int = EXTENT,
    partition_mode: str = "hash",
    salt=None,
) -> DataFrame:
    """The encode's shuffle + sort: zoom-exploded (z, u, v, feature_id,
    tags) rows -> (gid, qx, qy, feature_id, tags) with each tile (and salt)
    contiguous and sorted by feature_id — everything before the Python
    stage.

    Only the key + feature_id + tags ride the shuffle; the partition/sort
    keys are expressions over it, and (gid, qx, qy) are rebuilt after the
    sort in the same codegen'd stage. The exchange is un-numbered, so AQE
    sizes it from the shuffled bytes: each Python task pays a fixed setup
    cost, which a fixed max(4 x cores, 32) width paid dozens of times over
    on small encodes. At local[4] that setup's importlib.invalidate_caches()
    took 0.23 s (median, 4 concurrent workers) before engine.zipcache and
    takes 4 ms after it; a 1-task mapInArrow job went from ~0.4 s to ~0.2 s.
    Rows with z outside [0, z_max] fail the job
    (raise_error) rather than spill into a neighbouring bit field.

    partition_mode: "hash" co-locates each tile with one shuffle pass;
    "hilbert" (SURVEY §4.3 output-locality mode) range-partitions on
    (z, Hilbert key of x, y) so consecutively written tiles are spatial
    NEIGHBORS — the write-locality order object stores and tile servers
    want. It costs a range-sampling pass that re-evaluates the upstream
    lineage — worth it when the input is a materialized table (the
    resumable job). Tile BYTES are identical in both modes
    (tests/test_manifest_resume.py). z_max past MAX_ZOOM raises
    ValueError (_z_guard)."""
    if partition_mode not in ("hash", "hilbert"):
        raise ValueError(f"partition_mode must be hash or hilbert, not {partition_mode!r}")
    z_in_range = _z_guard(z_max)
    salted = salt is not None
    e = _packed_exprs(z_max, extent, salted, z_in_range) or _unpacked_exprs(salted, z_in_range)
    tags = [c for c, _ in tag_cols]
    src = df.withColumn("_salt", salt) if salted else df
    keyed = src.selectExpr(*e["select"], *tags)
    z, x, y = F.expr(e["z"]), F.expr(e["x"]), F.expr(e["y"])
    salt_key = [F.expr(e["salt"])] if salted else []
    if partition_mode == "hilbert":
        # order-z_max curve over the tile corners scaled to the z_max grid:
        # each aligned sub-square is one contiguous curve run, so tiles of
        # every zoom keep the curve's neighbour order
        keyed = index.with_hilbert_key(
            keyed.withColumns(
                {
                    "_gx": F.expr(f"shiftleft({e['x']}, {z_max} - {e['z']})"),
                    "_gy": F.expr(f"shiftleft({e['y']}, {z_max} - {e['z']})"),
                }
            ),
            z_max, "_gx", "_gy",
        ).drop("_gx", "_gy")
        parted = keyed.repartitionByRange(z, F.col("hkey"))
        tile_order = [z, F.col("hkey")]
    else:
        parted = keyed.repartition(z, x, y, *salt_key)
        tile_order = [z, x, y]
    prepared = parted.sortWithinPartitions(
        *tile_order, *salt_key, F.col("feature_id")
    )
    return prepared.selectExpr(
        f"{e['gid']} as gid", f"{e['qx']} as qx", f"{e['qy']} as qy",
        "feature_id", *tags,
    )


def _z_guard(z_max: int) -> str:
    """The z column guarded for the packed tile key: z_max past MAX_ZOOM
    raises ValueError here, and a row with z outside [0, z_max] fails the
    job (raise_error) rather than spill into a neighbouring bit field."""
    if not 0 <= z_max <= MAX_ZOOM:
        raise ValueError(f"gid packing supports z_max 0..{MAX_ZOOM}")
    return (
        f"(CASE WHEN z BETWEEN 0 AND {z_max} THEN z ELSE raise_error(concat("
        f"'zoom ', cast(z as string), ' is outside the tile key range "
        f"0..{z_max}; raise z_max')) END)"
    )


def _encode_sorted_tiles(
    df: DataFrame, z_max: int, order, cols, encode_fn, arrow_cols, schema: str
) -> DataFrame:
    """Every tiler not keyed by _keyed_rows: (z, x, y, ...) rows, one
    exchange on (z, x, y), each tile sorted by ``order``; the packed gid is
    computed in the projection after the sort (it rides no shuffle), then
    (gid, *cols) go through the one worker (_encode_keyed) and the digest
    is computed JVM-side."""
    gid = (
        "shiftleft(cast(z as bigint), 52) + shiftleft(cast(x as bigint), 26)"
        " + cast(y as bigint)"
    )
    rows = (
        df.withColumn("z", F.expr(_z_guard(z_max)))
        .repartition("z", "x", "y")
        .sortWithinPartitions("z", "x", "y", *order)
        .selectExpr(f"{gid} as gid", *cols)
    )
    tiles = _encode_keyed(rows, encode_fn, arrow_cols, schema)
    return tiles.withColumn("mvt_sha256", F.sha2(F.col("mvt"), 256))


def _encode_keyed(rows: DataFrame, encode_fn, arrow_cols, schema: str) -> DataFrame:
    """The one mapInArrow worker: complete gid groups of ``rows`` (from
    _keyed_rows or _encode_sorted_tiles) through ``encode_fn``; the columns
    named in ``arrow_cols`` reach it as Arrow arrays."""
    arrow_cols = frozenset(arrow_cols)
    return rows.mapInArrow(
        lambda batches: carry_group_iter(batches, encode_fn, arrow_cols),
        schema,
    )


def encode_point_tiles(
    df: DataFrame,
    z_max: int = 16,
    layer_name: str = "pages",
    tag_cols: tuple[tuple[str, str], ...] = (("lang", "string"),),
    extent: int = EXTENT,
    partition_mode: str = "hash",
) -> DataFrame:
    """(z, u, v, feature_id, tags...) -> one MVT tile row per (z,x,y):
    POINT_SCHEMA plus the JVM-side ``mvt_sha256``. ``input_sig`` is the
    tile's lineage signature, bit_xor(xxhash64(feature_id)) over its
    features — what the checkpoint manifest records.

    ``df`` holds zoom-exploded rows with z <= z_max (index.with_tiles'
    output; its x, y, px, py are pruned, not shuffled). z_max <= 16 takes
    the packed int64 key, larger z_max the unpacked one — same bytes. See
    _keyed_rows for the shuffle and partition_mode."""
    tag_cols = tuple(tag_cols)
    rows = _keyed_rows(df, z_max, tag_cols, extent, partition_mode)
    encoded = _encode_keyed(
        rows,
        lambda cols: _encode_group_arrow(cols, layer_name, tag_cols, extent),
        [c for c, _ in tag_cols],
        POINT_SCHEMA,
    )
    # tile digest JVM-side (codegen'd sha2 over the binary column) — keeps
    # the Python stage free of per-tile hashlib calls
    return encoded.withColumn("mvt_sha256", F.sha2(F.col("mvt"), 256))


def encode_point_tiles_compact(
    df: DataFrame,
    z_min: int = 0,
    z_max: int = 14,
    layer_name: str = "pages",
    tag_cols: tuple[tuple[str, str], ...] = (("lang", "string"),),
    extent: int = EXTENT,
) -> DataFrame:
    """z_min..z_max pyramid of (u, v, feature_id, tags...) points:
    with_tiles' zoom explode, then encode_point_tiles keyed at z_max."""
    return encode_point_tiles(
        index.with_tiles(df, z_min, z_max), z_max, layer_name, tag_cols, extent
    )


def encode_point_partials(
    df: DataFrame,
    z_max: int = 13,
    n_salt: int = 8,
    tag_cols: tuple[tuple[str, str], ...] = (("lang", "string"),),
    extent: int = EXTENT,
) -> DataFrame:
    """B14 stage 1: vectorized feature encode per (tile, salt) group — the
    geometry varints and tag dictionaries of a hot tile (z0 holds every
    feature) spread over n_salt tasks instead of one — shipping PARTIAL
    ARRAYS (feature ids, geometry payloads + lengths, local value codes and
    value fields: _encode_partials_group_arrow) in PARTIAL_SCHEMA rows (the
    ``mvt`` column stays null; pre-encoded tiles conformed by
    tiles_as_partial_rows ride the same schema into one shared merge,
    merge_partial_tiles). Same rows and key builder as encode_point_tiles,
    with the salt as the key's top field (packed through z_max 13)."""
    if not 1 <= n_salt <= 64:
        raise ValueError("the salt key field supports n_salt 1..64")
    tag_cols = tuple(tag_cols)
    rows = _keyed_rows(df, z_max, tag_cols, extent, salt=_zoom_salt_expr(n_salt))
    return _encode_keyed(
        rows,
        lambda cols: _encode_partials_group_arrow(cols, tag_cols),
        [c for c, _ in tag_cols],
        PARTIAL_SCHEMA,
    )


def _zoom_salt_expr(n_salt: int):
    """Zoom-adaptive salt: the tile population halves 4x per zoom, so the
    salt fan-out halves per zoom too (z0: n_salt ways, ... deep zooms: 1),
    so only genuinely hot tiles are split over several partials. Salting
    is routing only; bytes are invariant (tests/test_tilemerge.py)."""
    return F.pmod(
        F.xxhash64("feature_id"),
        F.greatest(F.lit(1), F.expr(f"shiftright({n_salt}, z)")),
    )


def tiles_as_partial_rows(tiles: DataFrame) -> DataFrame:
    """Conform pre-encoded tile rows (z, x, y, mvt, n_features) to
    PARTIAL_SCHEMA so another stream's finished tiles ride the SAME merge
    shuffle as the point partials (wire-spliced at the merge task)."""
    return tiles.selectExpr(
        "z", "x", "y", "n_features",
        *[f"cast(null as binary) as {c}" for c in PARTIAL_BLOBS[:-1]],
        "mvt",
    )


def _merge_partials_batch(cols, layer_name, tag_cols, extent):
    """Merge PARTIAL_SCHEMA rows of one-or-more COMPLETE gid groups into
    one tile row per gid (ENCODE_SCHEMA + n_layers).

    The batch's point partials are read from the Arrow buffers and
    concatenated, their features ordered by (tile, feature id), their
    value fields factorized by bytes into global codes (the encoders emit
    canonical value encodings, so byte equality is value equality), and
    framed by ONE faststream.frame_layers call. Rows carrying a finished
    ``mvt`` split into layers (tilemerge.split_tile_layers) and are spliced
    in per tile; a layer name that more than one input carries goes
    through the generic re-framer (tilemerge._merge_layer)."""
    import pyarrow as pa

    gid, nfs = cols["gid"], cols["n_features"]
    starts = run_starts(gid)
    part = cols["mvt"].is_null().to_numpy(zero_copy_only=False)
    sub = {c: cols[c].filter(pa.array(part)) for c in PARTIAL_BLOBS}
    keys = [c for c, _ in tag_cols]
    fids = _binary_values(sub["fids"])[0].view(np.int64)
    geom = _binary_values(sub["geom"])[0]
    glen = _binary_values(sub["glen"])[0].view(np.int32).astype(np.int64)
    vcode = _binary_values(sub["vcode"])[0].view(np.int32)
    vcode = vcode.reshape(len(fids), len(keys))
    entries, e_size = _binary_values(sub["dict_lens"])
    entry_lens = entries.view(np.int32)
    # every dictionary entry -> a global code; local codes offset per row
    d_entries = _binary_array(
        _binary_values(sub["dict_blob"])[0], np.append(0, np.cumsum(entry_lens))
    ).dictionary_encode()
    row_of_feat = np.repeat(np.arange(len(e_size)), nfs[part])
    first_entry = (np.cumsum(e_size) - e_size) // 4
    codes = d_entries.indices.to_numpy()[vcode + first_entry[row_of_feat, None]]
    msg_blob, msg_lens = _binary_values(d_entries.dictionary)
    # canonical feature order: by tile, then feature id (rows arrive
    # sorted by (z, x, y), so gids ascend)
    p_gid = gid[part]
    p_starts = run_starts(p_gid)
    order = np.lexsort((fids, p_gid[row_of_feat]))
    olen = glen[order]
    ogeom = np.empty(len(geom), dtype=np.uint8)
    faststream._ragged_copy(
        ogeom, np.cumsum(olen) - olen, geom, (np.cumsum(glen) - glen)[order], olen
    )
    buf, tstarts, ttotal = faststream.frame_layers(
        np.add.reduceat(nfs[part], p_starts),
        fids[order], GEOM_POINT, ogeom, olen, codes[order], (msg_blob, msg_lens),
        keys, layer_name, extent,
    )
    n_features = np.add.reduceat(nfs, starts)
    if part.all():
        mvt = _binary_array(buf, np.append(tstarts, len(buf)))
        return _tile_batch(
            gid[starts], mvt, n_features, ttotal,
            n_layers=pa.array(np.ones(len(starts), np.int32)),
        )
    # some tile carries a finished mvt: splice per tile, framed layer last
    blobs: dict[int, list[bytes]] = {}
    done, d_len = _binary_values(cols["mvt"].filter(pa.array(~part)))
    d_mem, d_off = done.tobytes(), np.append(0, np.cumsum(d_len)).tolist()
    for g, s, e in zip(gid[~part].tolist(), d_off[:-1], d_off[1:]):
        blobs.setdefault(g, []).append(d_mem[s:e])
    mem = buf.tobytes()
    for g, s, n in zip(p_gid[p_starts].tolist(), tstarts.tolist(), ttotal.tolist()):
        blobs.setdefault(g, []).append(mem[s : s + n])
    mvt, n_layers = [], []
    for g in gid[starts].tolist():
        layers: dict[str, list[bytes]] = {}
        for blob in blobs[g]:
            for nm, msg in tilemerge.split_tile_layers(blob):
                layers.setdefault(nm, []).append(msg)
        mvt.append(b"".join(
            pbwire.len_delimited(
                3, msgs[0] if len(msgs) == 1 else tilemerge._merge_layer(nm, msgs)
            )
            for nm, msgs in sorted(layers.items())
        ))
        n_layers.append(len(layers))
    return _tile_batch(
        gid[starts], pa.array(mvt, type=pa.binary()), n_features,
        [len(d) for d in mvt], n_layers=pa.array(n_layers, type=pa.int32()),
    )


def merge_partial_tiles(
    parts: DataFrame,
    layer_name: str = "pages",
    tag_cols: tuple[tuple[str, str], ...] = (("lang", "string"),),
    extent: int = EXTENT,
) -> DataFrame:
    """B14 stage 2: ONE shuffle on (z,x,y) merges everything addressed to a
    tile — each Arrow batch's point partials frame in one batched
    faststream.frame_layers call (_merge_partials_batch, zero per-feature
    Python), pre-encoded tiles from other streams split into their layer
    messages and wire-splice in (same-name collisions fall back to the
    generic re-framer). Layers sort by name; bytes equal a single-pass
    multi-layer encode."""
    tag_cols = tuple(tag_cols)
    return _encode_sorted_tiles(
        parts, MAX_ZOOM, (), ("n_features", *PARTIAL_BLOBS),
        lambda cols: _merge_partials_batch(cols, layer_name, tag_cols, extent),
        PARTIAL_BLOBS, ENCODE_SCHEMA + ", n_layers int",
    )


def decode_layer_counts(tiles: DataFrame) -> DataFrame:
    """Round-trip verification projected per LAYER: decode every emitted
    tile and count features per layer name — the auditable shape for
    multi-layer tiles (z, x, y, layer, n_features)."""

    def run(batches):
        from engine.mvtcodec import tile as tilemod

        for pdf in batches:
            rows = {"z": [], "x": [], "y": [], "layer": [], "n_features": []}
            for zz, xx, yy, data in zip(pdf["z"], pdf["x"], pdf["y"], pdf["mvt"]):
                layers = tilemod.decode_tile(bytes(data))
                for name in sorted(layers):
                    rows["z"].append(zz)
                    rows["x"].append(xx)
                    rows["y"].append(yy)
                    rows["layer"].append(name)
                    rows["n_features"].append(len(layers[name]["features"]))
            yield pd.DataFrame(rows)

    return tiles.mapInPandas(
        run, "z int, x long, y long, layer string, n_features long"
    )


def decode_point_features(tiles: DataFrame, layer: str = "pages") -> DataFrame:
    """B16 at coordinate granularity: decode every emitted point tile with
    the engine's own reader and emit one row per FEATURE with its decoded
    quantized pixel coords — joins relationally against the closed-form
    pipeline values, closing the count-only blind spot of the decoded-count
    verify (encode -> wire -> decode -> values, checked by the oracle).
    Verification operator: per-tile decode loops are the decoder's own
    (bounded by features per tile, off the bench path)."""

    def run(batches):
        from engine.mvtcodec import tile as tilemod
        from engine.mvtcodec.zigzag import unzigzag

        for pdf in batches:
            rows = {"z": [], "x": [], "y": [], "feature_id": [], "px": [], "py": []}
            for zt, xt, yt, data in zip(pdf["z"], pdf["x"], pdf["y"], pdf["mvt"]):
                layers = tilemod.decode_tile(bytes(data))
                if layer not in layers:
                    continue
                feats = layers[layer]["features"]
                words = np.stack([f["geometry"][:3] for f in feats]).astype(np.uint32)
                px = unzigzag(words[:, 1]).astype(np.int64)
                py = unzigzag(words[:, 2]).astype(np.int64)
                n = len(feats)
                rows["z"].extend([int(zt)] * n)
                rows["x"].extend([int(xt)] * n)
                rows["y"].extend([int(yt)] * n)
                rows["feature_id"].extend(int(f["id"]) for f in feats)
                rows["px"].extend(px.tolist())
                rows["py"].extend(py.tolist())
            yield pd.DataFrame(
                {
                    "z": pd.array(rows["z"], dtype="int32"),
                    "x": pd.array(rows["x"], dtype="int64"),
                    "y": pd.array(rows["y"], dtype="int64"),
                    "feature_id": pd.array(rows["feature_id"], dtype="int64"),
                    "px": pd.array(rows["px"], dtype="int64"),
                    "py": pd.array(rows["py"], dtype="int64"),
                }
            )

    return tiles.select("z", "x", "y", "mvt").mapInPandas(
        run,
        "z int, x long, y long, feature_id long, px long, py long",
    )


def decode_verify_tiles(tiles: DataFrame) -> DataFrame:
    """Round-trip verification (B16): decode every emitted tile with the
    engine's own reader, recount features. (z,x,y,n_features,ok,decoded)."""
    import pyspark.sql.types as T

    def verify(batches):
        from engine.mvtcodec import tile as tilemod

        for pdf in batches:
            ok = []
            counts = []
            for data in pdf["mvt"]:
                try:
                    layers = tilemod.decode_tile(bytes(data))
                    n = sum(len(v["features"]) for v in layers.values())
                    ok.append(all(v["version"] == 2 for v in layers.values()))
                    counts.append(n)
                except Exception:
                    ok.append(False)
                    counts.append(-1)
            yield pd.DataFrame(
                {
                    "z": pdf["z"],
                    "x": pdf["x"],
                    "y": pdf["y"],
                    "n_features": pdf["n_features"],
                    "ok": ok,
                    "n_features_decoded": counts,
                }
            )

    schema = T.StructType(
        [
            T.StructField("z", T.IntegerType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
            T.StructField("n_features", T.LongType()),
            T.StructField("ok", T.BooleanType()),
            T.StructField("n_features_decoded", T.LongType()),
        ]
    )
    return tiles.mapInPandas(verify, schema)
