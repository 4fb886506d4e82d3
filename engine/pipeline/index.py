"""Tile / cell indexing stage (SURVEY B4-B7) — pure built-in expressions.

Everything here is JVM-side whole-stage-codegen Spark SQL (no Python UDF):
WebMercator unit coords (ln/sin/radians built-ins), z/x/y assignment via
explode over the zoom pyramid, and Morton cell ids via unrolled bit-spread
expressions. Each expression has a DuckDB twin for the oracle, built from
the same template.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

EXTENT = 4096
CELL_Z = 12  # cell zoom used for join bucketing / locality


def unit_u_expr(lon: str = "lon") -> str:
    return f"(({lon} + 180.0) / 360.0)"


def unit_v_expr(lat: str = "lat") -> str:
    # identical text works in Spark SQL and DuckDB: ln/sin/radians/pi
    s = f"sin(radians({lat}))"
    return f"(0.5 - ln((1.0 + {s}) / (1.0 - {s})) / (4.0 * pi()))"


def tile_expr(unit: str, z_expr: str, shift_op: bool) -> str:
    """floor(unit * 2^z) clamped to [0, 2^z - 1]."""
    n = f"(1 << {z_expr})" if shift_op else f"shiftleft(1, {z_expr})"
    return (
        f"least(cast({n} as bigint) - 1, greatest(cast(0 as bigint), "
        f"cast(floor({unit} * {n}) as bigint)))"
    )


def morton_expr(x: str, y: str, dialect: str) -> str:
    """Bit-interleave expression; unrolled spread like engine.spatial.cells."""

    def spread(v: str) -> str:
        masks = [
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]
        e = f"cast({v} as bigint)"
        for shift, mask in masks:
            if dialect == "spark":
                e = f"((({e}) | shiftleft(({e}), {shift})) & {mask})"
            else:
                e = f"((({e}) | (({e}) << {shift})) & {mask})"
        return e

    sy = spread(y)
    if dialect == "spark":
        return f"({spread(x)} | shiftleft({sy}, 1))"
    return f"({spread(x)} | ({sy} << 1))"


def cell_expr(z: int, x: str, y: str, dialect: str) -> str:
    base = z << 58
    return f"({base} | {morton_expr(x, y, dialect)})"


def with_unit(df: DataFrame) -> DataFrame:
    """Add WebMercator unit-square (u, v) columns (B4)."""
    return df.withColumns({"u": F.expr(unit_u_expr()), "v": F.expr(unit_v_expr())})


def with_tiles(df: DataFrame, z_min: int = 0, z_max: int = 14) -> DataFrame:
    """Explode each point into one row per zoom level (B5: the z0-z14
    pyramid IS a 15-level rollup) and add x, y, px, py.

    px/py are tile-local float pixels; quantization to the int grid happens
    in the encode UDF (truncation, matching the reference's int32 cast).
    """
    df = df.withColumn("z", F.explode(F.sequence(F.lit(z_min), F.lit(z_max))))
    x = tile_expr("u", "z", shift_op=False)
    y = tile_expr("v", "z", shift_op=False)
    scale = f"(cast(shiftleft(1, z) as double) * {EXTENT})"
    # one projection: px/py repeat the tile expressions instead of naming x/y
    return df.withColumns(
        {
            "x": F.expr(x),
            "y": F.expr(y),
            "px": F.expr(f"u * {scale} - ({x}) * {EXTENT}"),
            "py": F.expr(f"v * {scale} - ({y}) * {EXTENT}"),
        }
    )


def with_cell(df: DataFrame, z: int = CELL_Z) -> DataFrame:
    """Add the Morton cell id at the bucketing zoom (B6)."""
    n = 1 << z
    cx = f"least(cast({n} as bigint) - 1, greatest(cast(0 as bigint), cast(floor(u * {n}) as bigint)))"
    cy = f"least(cast({n} as bigint) - 1, greatest(cast(0 as bigint), cast(floor(v * {n}) as bigint)))"
    return df.withColumn("cell", F.expr(cell_expr(z, f"({cx})", f"({cy})", "spark")))


def hilbert_ctes(
    z: int, dialect: str, src: str = "grid", keep: tuple[str, ...] = ("url",)
) -> str:
    """Chained CTEs computing the order-z Hilbert distance of (hx, hy).

    Unrolls engine.spatial.hilbert.xy2d (one CTE per bit level, s constant
    per level) so the SAME integer algorithm runs in Spark SQL and DuckDB —
    the relational twin of the numpy kernel. ``src`` must provide hx, hy
    plus the ``keep`` passthrough columns; the last CTE is ``h{z}`` with
    hd = the Hilbert key.
    """
    xor_ = (lambda a, b: f"({a} ^ {b})") if dialect == "spark" else (
        lambda a, b: f"xor({a}, {b})"
    )
    cols = ", ".join(keep)
    parts = [f"h0 AS (SELECT {cols}, hx, hy, CAST(0 AS BIGINT) AS hd FROM {src})"]
    prev = "h0"
    for i in range(z):
        s = 1 << (z - 1 - i)
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        # ry==0: flip both coords when rx==1, then swap x<->y; ry==1: no-op
        fx = f"(CASE WHEN {rx} = 1 THEN {s - 1} - hx ELSE hx END)"
        fy = f"(CASE WHEN {rx} = 1 THEN {s - 1} - hy ELSE hy END)"
        cur = f"h{i + 1}"
        parts.append(
            f"{cur} AS (SELECT {cols}, "
            f"CASE WHEN {ry} = 0 THEN {fy} ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN {fx} ELSE hy END AS hy, "
            f"hd + {s * s} * {xor_(f'(3 * {rx})', ry)} AS hd "
            f"FROM {prev})"
        )
        prev = cur
    return ", ".join(parts)


def with_hilbert_key(
    df: DataFrame, order: int, x_col: str, y_col: str, out: str = "hkey"
) -> DataFrame:
    """Order-``order`` Hilbert distance of (x_col, y_col) as chained column
    rewrites — the DataFrame twin of hilbert_ctes (same unrolled xy2d, one
    simultaneous withColumns projection per bit level, all JVM codegen)."""
    df = df.withColumns(
        {
            "_hx": F.col(x_col).cast("long"),
            "_hy": F.col(y_col).cast("long"),
            out: F.lit(0).cast("long"),
        }
    )
    for i in range(order):
        s = 1 << (order - 1 - i)
        rx = f"(CASE WHEN (_hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (_hy & {s}) > 0 THEN 1 ELSE 0 END)"
        fx = f"(CASE WHEN {rx} = 1 THEN {s - 1} - _hx ELSE _hx END)"
        fy = f"(CASE WHEN {rx} = 1 THEN {s - 1} - _hy ELSE _hy END)"
        df = df.withColumns(
            {
                # bigint literal: 3 * s^2 overflows int past order 15
                out: F.expr(f"{out} + {s * s}L * ((3 * {rx}) ^ {ry})"),
                "_hx": F.expr(f"CASE WHEN {ry} = 0 THEN {fy} ELSE _hx END"),
                "_hy": F.expr(f"CASE WHEN {ry} = 0 THEN {fx} ELSE _hy END"),
            }
        )
    return df.drop("_hx", "_hy")


def with_feature_id(df: DataFrame) -> DataFrame:
    """Add the stable per-url feature id. Apply BEFORE with_tiles: the sha256
    hash is per PAGE; computing it after the zoom explode would rerun it
    once per (page, zoom) row — measured 3x slower on the z0-z14 pyramid."""
    return df.withColumn("feature_id", F.expr(feature_id_expr("spark")))


def feature_id_expr(dialect: str, url: str = "url") -> str:
    """Stable 63-bit feature id from the url hash (uint64 caveat, SURVEY §7.4)."""
    if dialect == "spark":
        a = f"cast(conv(substring(sha2({url},256),1,8),16,10) as bigint)"
        b = f"cast(conv(substring(sha2({url},256),9,8),16,10) as bigint)"
    else:
        a = f"CAST(CONCAT('0x', substr(sha256({url}),1,8)) AS BIGINT)"
        b = f"CAST(CONCAT('0x', substr(sha256({url}),9,8)) AS BIGINT)"
    if dialect == "spark":
        return f"(shiftleft({a} & 2147483647, 32) | {b})"
    return f"((({a} & 2147483647) << 32) | {b})"
