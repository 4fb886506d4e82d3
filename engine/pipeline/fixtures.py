"""Deterministic fixture derivations: pages, geotag, polygons.

``pages`` is derived 1:1 from the driver's ``documents`` table per
FIXTURES.md §1 (authoritative shape: BASELINE.json input_hint —
``pages(url, warc_ts, html, text, lang)``). The geotag rule is FIXTURES.md's
sha256-based closed form, so spatial joins and tile assignments have an
EXACT relational oracle.

Every derivation exists twice, by construction identical bit-for-bit:
- Spark: built-in JVM expressions (sha2/conv/integer math — NO UDF);
- DuckDB: a CTE text used inside oracle_sql() strings.

Integer-only hash math: hash64(s) = first 8 bytes of sha256(s), big-endian
unsigned. To stay inside signed int64 on both engines we never materialize
the full 64-bit value; for modulus m:
    hash64(s) % m == ((a % m) * (2^32 % m) + (b % m)) % m
with a = first 4 bytes, b = next 4 bytes (both < 2^32, exact in int64).
"""

from __future__ import annotations

import numpy as np

LAT_MOD = 170_000
LON_MOD = 360_000
POW32_MOD_LAT = (1 << 32) % LAT_MOD  # 87296
POW32_MOD_LON = (1 << 32) % LON_MOD  # 167296
WARC_BASE = "2024-01-01 00:00:00"


def _hash_mod(dialect: str, url_expr: str, m: int, pow32_mod: int) -> str:
    """hash64(url_expr) % m as a SQL expression in the given dialect."""
    if dialect == "spark":
        a = f"cast(conv(substring(sha2({url_expr},256),1,8),16,10) as bigint)"
        b = f"cast(conv(substring(sha2({url_expr},256),9,8),16,10) as bigint)"
    elif dialect == "duckdb":
        a = f"CAST(CONCAT('0x', substr(sha256({url_expr}),1,8)) AS BIGINT)"
        b = f"CAST(CONCAT('0x', substr(sha256({url_expr}),9,8)) AS BIGINT)"
    else:
        raise ValueError(dialect)
    return f"((({a} % {m}) * {pow32_mod} + ({b} % {m})) % {m})"


# The driver's documents tables are small (500/500/5000 rows); FIXTURES.md
# sizes pages at ~6k/60k/600k. Pages are therefore derived as documents x
# REPLICAS with a unique row_id = doc_id + rep * 100000 -> unique url per
# row, identically in both dialects. text stays identical across replicas
# (it is the byte-identity passthrough column, not a uniqueness column).
_REPLICAS = {"0.001": 12, "0.01": 120, "0.1": 120}


def replicas_for(sf_dir: str) -> int:
    leaf = sf_dir.rstrip("/").split("/")[-1]
    for sf, reps in sorted(_REPLICAS.items(), key=lambda kv: -len(kv[0])):
        if f"sf{sf}" in leaf:
            return reps
    return 120


def url_expr(dialect: str, row_id: str = "row_id") -> str:
    """url = 'https://site{row_id%50000:06d}.example/{sha256(row_id)[:16]}'"""
    if dialect == "spark":
        return (
            f"concat('https://site', lpad(cast(pmod({row_id}, 50000) as string), 6, '0'),"
            f" '.example/', substring(sha2(cast({row_id} as string), 256), 1, 16))"
        )
    return (
        f"'https://site' || lpad(CAST({row_id} % 50000 AS VARCHAR), 6, '0')"
        f" || '.example/' || substr(sha256(CAST({row_id} AS VARCHAR)), 1, 16)"
    )


def warc_ts_expr(dialect: str, row_id: str = "row_id") -> str:
    if dialect == "spark":
        return f"timestampadd(SECOND, cast({row_id} * 137 as int), timestamp'{WARC_BASE}')"
    return f"TIMESTAMP '{WARC_BASE}' + {row_id} * 137 * INTERVAL 1 SECOND"


def lat_expr(dialect: str, url: str = "url") -> str:
    # CAST AS DOUBLE before dividing: Spark parses 1000.0 as DECIMAL, which
    # would make bigint/1000.0 a decimal; double/1000.0 is a double in both
    # engines with identical IEEE rounding.
    raw = _hash_mod(dialect, url, LAT_MOD, POW32_MOD_LAT)
    return f"(CAST({raw} AS DOUBLE) / 1000.0 - 85.0)"


def lon_expr(dialect: str, url: str = "url") -> str:
    concat = (
        f"concat({url}, '#lon')" if dialect == "spark" else f"{url} || '#lon'"
    )
    raw = _hash_mod(dialect, concat, LON_MOD, POW32_MOD_LON)
    return f"(CAST({raw} AS DOUBLE) / 1000.0 - 180.0)"


# (application id, path, ((file, Hadoop mtime, length), ...)) -> schema
_DOC_SCHEMAS: dict = {}


def read_documents(spark, sf_dir: str):
    """The ``documents`` table under sf_dir. Inferring a parquet schema runs
    a Spark job (~0.08 s at local[4]), so the schema is inferred once per
    Spark application and per (file, Hadoop modification time, length) of
    every file under the path, and later reads pass it in. A rewritten
    table is inferred again, so a dropped column still fails analysis
    instead of reading as nulls."""
    path = f"{sf_dir}/documents.parquet"
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        return spark.read.parquet(path)  # the reader's own missing-path error
    files, stamp = fs.listFiles(jpath, True), []
    while files.hasNext():
        st = files.next()
        stamp.append((st.getPath().toString(), st.getModificationTime(), st.getLen()))
    key = (spark.sparkContext.applicationId, path, tuple(stamp))
    schema = _DOC_SCHEMAS.get(key)
    if schema is None:
        docs = spark.read.parquet(path)
        _DOC_SCHEMAS[key] = docs.schema
        return docs
    return spark.read.schema(schema).parquet(path)


def pages_df(spark, sf_dir: str):
    """pages(url, warc_ts, html, text, lang) from documents — built-ins only.
    ``text`` passes through byte-identical (the per-row invariant, B2)."""
    reps = replicas_for(sf_dir)
    docs = read_documents(spark, sf_dir)
    # The source parquet is a single row group -> one input partition.
    # Repartition the SMALL pre-explode table (docs, KBs of shuffle), then
    # explode x replicas inside each partition — the old order (explode
    # then repartition) pushed the full x120 blowup (~600 MB of text at
    # sf0.1) through one serial scan task and one fat shuffle, which capped
    # every pages-derived job's scaling. At real scale the Iceberg scan is
    # already split; this mirrors that.
    n_parts = spark.sparkContext.defaultParallelism
    rows = (
        docs.repartition(n_parts, "doc_id")
        .selectExpr(
            f"explode(sequence(doc_id, doc_id + {(reps - 1) * 100000}, 100000)) as row_id",
            "text", "lang",
        )
    )
    return rows.selectExpr(
        f"{url_expr('spark')} as url",
        f"{warc_ts_expr('spark')} as warc_ts",
        "cast(concat('<html><body>', text, '</body></html>') as binary) as html",
        "text",
        "lang",
    )


def pages_cte(sf_dir: str = "/root/testdata/sf0.01", alias: str = "pages") -> str:
    """DuckDB CTE body deriving pages from the pre-registered documents view."""
    reps = replicas_for(sf_dir)
    return (
        f"{alias} AS (SELECT {url_expr('duckdb')} AS url, "
        f"{warc_ts_expr('duckdb')} AS warc_ts, text, lang FROM ("
        f"SELECT doc_id + rep * 100000 AS row_id, text, lang FROM documents "
        f"CROSS JOIN (SELECT unnest(generate_series(0, {reps - 1})) AS rep) r) t)"
    )


def geotag_df(pages):
    """geotagged = pages + (lat, lon) — FIXTURES.md closed form, no UDF (B3).
    lat in [-85, 84.999] (inside WebMercator validity, no clamp needed)."""
    return pages.selectExpr(
        "url",
        "warc_ts",
        "text",
        "lang",
        f"{lat_expr('spark')} as lat",
        f"{lon_expr('spark')} as lon",
    )


def geotag_cte() -> str:
    return (
        "geotagged AS (SELECT url, warc_ts, text, lang, "
        f"{lat_expr('duckdb')} AS lat, {lon_expr('duckdb')} AS lon FROM pages)"
    )


# ------------------------------------------------------------- polygons ---

_POLY_COUNT = {"0.001": 64, "0.01": 512, "0.1": 4096}


def poly_count_for(sf_dir: str) -> int:
    for sf, count in sorted(_POLY_COUNT.items(), key=lambda kv: -len(kv[0])):
        if f"sf{sf}" in sf_dir.rstrip("/").split("/")[-1]:
            return count
    return 512


def polygons_np(n_polys: int):
    """Deterministic convex k-gons per FIXTURES.md §2 (seed=42).

    Returns list of dicts: {poly_id, name, rings} where rings[0] is the
    exterior (closed, CCW in lon/lat) and rings[1:] are holes (closed, CW).
    Coordinates rounded to 6 decimals so SQL literals round-trip exactly.
    """
    rng = np.random.default_rng(42)
    out = []
    for pid in range(n_polys):
        k = 4 + pid % 5
        clat = float(rng.uniform(-60, 60))
        clon = float(rng.uniform(-170, 170))
        radius = float(rng.uniform(0.5, 4.0))
        phase = float(rng.uniform(0, 2 * np.pi))
        ang = phase + 2 * np.pi * np.arange(k) / k
        ring = np.stack(
            [clon + radius * np.cos(ang), clat + radius * np.sin(ang)], axis=1
        )
        ring = np.round(ring, 6)
        ring = np.vstack([ring, ring[:1]])  # GeoJSON closed
        rings = [ring]
        if pid % 5 == 0:  # 20% get one hole
            hang = phase + 2 * np.pi * np.arange(k)[::-1] / k  # reversed: CW
            hole = np.stack(
                [clon + 0.4 * radius * np.cos(hang), clat + 0.4 * radius * np.sin(hang)],
                axis=1,
            )
            hole = np.round(hole, 6)
            rings.append(np.vstack([hole, hole[:1]]))
        out.append({"poly_id": pid, "name": f"region-{pid}", "rings": rings})
    return out


def polygon_table_stats(n_polys: int) -> dict:
    """Closed-form dimension-table stats for the fixture polygons — the
    Iceberg-snapshot-stats shape the join choosers consume (n_edges,
    max_edges_per_poly, n_centers) without running a count() job at query
    time. Derivation mirrors polygons_np: k = 4 + pid%5 exterior edges,
    plus k hole edges for the 20% (pid%5==0) with a hole."""
    ks = 4 + np.arange(n_polys, dtype=np.int64) % 5
    per_poly = ks + ks * (np.arange(n_polys) % 5 == 0)
    return {
        "n_polys": n_polys,
        "n_centers": n_polys,
        "n_edges": int(per_poly.sum()),
        "max_edges_per_poly": int(per_poly.max()) if n_polys else 0,
    }


def polygon_edges_np(n_polys: int):
    """Flat edge table (poly_id, ring_idx, x1, y1, x2, y2) over OPEN rings —
    the shared representation for ray casting on both engines."""
    rows = []
    for poly in polygons_np(n_polys):
        for ring_idx, ring in enumerate(poly["rings"]):
            open_ring = ring[:-1]
            nxt = np.roll(open_ring, -1, axis=0)
            for (x1, y1), (x2, y2) in zip(open_ring, nxt):
                rows.append(
                    (poly["poly_id"], ring_idx, float(x1), float(y1), float(x2), float(y2))
                )
    return rows


def polygon_edges_df(spark, sf_dir: str):
    rows = polygon_edges_np(poly_count_for(sf_dir))
    return spark.createDataFrame(
        rows, "poly_id long, ring_idx int, x1 double, y1 double, x2 double, y2 double"
    )


def polygon_edges_cte(n_polys: int, alias: str = "poly_edges") -> str:
    """DuckDB VALUES CTE with the exact same float literals (repr round-trip)."""
    values = ",".join(
        f"({pid},{ridx},{x1!r},{y1!r},{x2!r},{y2!r})"
        for pid, ridx, x1, y1, x2, y2 in polygon_edges_np(n_polys)
    )
    return (
        f"{alias}(poly_id, ring_idx, x1, y1, x2, y2) AS (VALUES {values})"
    )


def polygon_bbox_np(n_polys: int):
    """(poly_id, u0, v0, u1, v1) — exterior-ring bbox in WebMercator unit
    coords, computed driver-side so both engines see identical double
    literals (repr round-trips)."""
    from engine.spatial.mercator import lnglat_to_unit

    rows = []
    for poly in polygons_np(n_polys):
        ext = np.asarray(poly["rings"][0], dtype=np.float64)
        u, v = lnglat_to_unit(ext[:, 0], ext[:, 1])
        rows.append(
            (poly["poly_id"], float(u.min()), float(v.min()), float(u.max()), float(v.max()))
        )
    return rows


def polygon_bbox_cte(n_polys: int, alias: str = "poly_bbox") -> str:
    values = ",".join(
        f"({pid},{u0!r},{v0!r},{u1!r},{v1!r})"
        for pid, u0, v0, u1, v1 in polygon_bbox_np(n_polys)
    )
    return f"{alias}(poly_id, u0, v0, u1, v1) AS (VALUES {values})"


def polygon_centers_np(n_polys: int):
    """(poly_id, name, clon, clat) — centroid of the exterior ring's vertices
    (open ring mean, exact float math identical on both engines is avoided by
    precomputing here and inlining literals)."""
    rows = []
    for poly in polygons_np(n_polys):
        open_ring = poly["rings"][0][:-1]
        rows.append(
            (
                poly["poly_id"],
                poly["name"],
                float(np.round(open_ring[:, 0].mean(), 6)),
                float(np.round(open_ring[:, 1].mean(), 6)),
            )
        )
    return rows


def polygon_centers_df(spark, sf_dir: str):
    return spark.createDataFrame(
        polygon_centers_np(poly_count_for(sf_dir)),
        "poly_id long, name string, clon double, clat double",
    )


def polygon_centers_cte(n_polys: int, alias: str = "poly_centers") -> str:
    values = ",".join(
        f"({pid},'{name}',{clon!r},{clat!r})"
        for pid, name, clon, clat in polygon_centers_np(n_polys)
    )
    return f"{alias}(poly_id, name, clon, clat) AS (VALUES {values})"


# --------------------------------------------- large-dim bench fixtures ---
# Parquet-cached polygon-side tables at counts far beyond the per-sf fixture
# set (e.g. 50k polygons, ~360k edges) — the regime where the broadcast
# spatial-join plans stop being the right choice and the partitioned
# (shuffle-both-sides) plans take over. Cached so the generation cost is
# paid once, and the bench reads a real distributed scan.

import os as _os

FIXTURE_CACHE = _os.environ.get("SPARK_GRAFT_TMP", "/tmp/spark_graft_fixtures")
# NOTE (r7): a 32-file layout was tried (hypothesis: 4 files cap the
# dimension-side scans at 4 tasks, guide §6) and REVERTED on measurement —
# every big-dim bench case got 0.9-1.5s slower (small-file scheduling
# overhead and lost locality beat the extra scan parallelism at these
# dimension-table sizes). Kept at 4 files, the r6 layout.
EDGE_FIXTURE_VERSION = "v1-seed42"


def _cached_parquet(spark, path: str, build_pdf):
    if not _os.path.exists(path):
        _os.makedirs(FIXTURE_CACHE, exist_ok=True)
        tmp = f"{path}.tmp-{_os.getpid()}"
        spark.createDataFrame(build_pdf()).coalesce(4).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            _os.rename(tmp, path)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(path)


def polygon_edges_table(spark, n_polys: int):
    """polygon_edges_np as a parquet-backed table (big-dim bench side)."""
    import pandas as pd

    path = f"{FIXTURE_CACHE}/poly_edges_{n_polys}_{EDGE_FIXTURE_VERSION}.parquet"

    def build():
        rows = polygon_edges_np(n_polys)
        return pd.DataFrame(
            rows, columns=["poly_id", "ring_idx", "x1", "y1", "x2", "y2"]
        )

    return _cached_parquet(spark, path, build)


def polygon_centers_table(spark, n_polys: int):
    import pandas as pd

    path = f"{FIXTURE_CACHE}/poly_centers_{n_polys}_{EDGE_FIXTURE_VERSION}.parquet"

    def build():
        return pd.DataFrame(
            polygon_centers_np(n_polys),
            columns=["poly_id", "name", "clon", "clat"],
        )

    return _cached_parquet(spark, path, build)


def polygon_edges_bulk_np(
    n_polys: int, r_lo: float, r_hi: float, seed: int = 43
):
    """Fully vectorized convex-k-gon edge generator for BENCH-scale
    dimension tables (10^6+ polygons; per-poly Python loops would take
    minutes). Radii shrink with density (real admin/land-use polygons are
    small relative to the globe), keeping candidate fanout bounded. No
    oracle twin — bench-only fixture."""
    import pandas as pd

    rng = np.random.default_rng(seed)
    k = 4 + np.arange(n_polys, dtype=np.int64) % 5
    clat = rng.uniform(-60, 60, n_polys)
    clon = rng.uniform(-170, 170, n_polys)
    radius = rng.uniform(r_lo, r_hi, n_polys)
    phase = rng.uniform(0, 2 * np.pi, n_polys)
    starts = np.cumsum(k) - k
    poly_of = np.repeat(np.arange(n_polys), k)
    j = np.arange(int(k.sum()), dtype=np.int64) - starts[poly_of]
    ang = phase[poly_of] + 2 * np.pi * j / k[poly_of]
    ang_next = phase[poly_of] + 2 * np.pi * ((j + 1) % k[poly_of]) / k[poly_of]
    r = radius[poly_of]
    return pd.DataFrame(
        {
            "poly_id": poly_of,
            "ring_idx": np.zeros(len(poly_of), dtype=np.int32),
            "x1": np.round(clon[poly_of] + r * np.cos(ang), 6),
            "y1": np.round(clat[poly_of] + r * np.sin(ang), 6),
            "x2": np.round(clon[poly_of] + r * np.cos(ang_next), 6),
            "y2": np.round(clat[poly_of] + r * np.sin(ang_next), 6),
        }
    )


def polygon_centers_table_bulk(spark, n_polys: int, seed: int = 43):
    """Vectorized bulk center table (poly_id, name, clon, clat) with the
    same spatial distribution as polygon_edges_bulk_np — for the kNN
    broadcast-vs-partitioned crossover calibration at center counts the
    per-poly Python generator cannot reach (10^5-10^6). Bench-only
    fixture; no oracle twin."""
    import pandas as pd

    path = f"{FIXTURE_CACHE}/poly_centers_bulk_{n_polys}_{EDGE_FIXTURE_VERSION}.parquet"

    def build():
        rng = np.random.default_rng(seed)
        clat = rng.uniform(-60, 60, n_polys)
        clon = rng.uniform(-170, 170, n_polys)
        ids = np.arange(n_polys, dtype=np.int64)
        return pd.DataFrame(
            {
                "poly_id": ids,
                "name": np.char.add("poly_", ids.astype(str)),
                "clon": np.round(clon, 6),
                "clat": np.round(clat, 6),
            }
        )

    return _cached_parquet(spark, path, build)


def polygon_edges_table_bulk(
    spark, n_polys: int, r_lo: float = 0.05, r_hi: float = 0.4
):
    """Parquet-cached bulk edge table (see polygon_edges_bulk_np)."""
    path = (
        f"{FIXTURE_CACHE}/poly_edges_bulk_{n_polys}_{r_lo}_{r_hi}_"
        f"{EDGE_FIXTURE_VERSION}.parquet"
    )
    return _cached_parquet(
        spark, path, lambda: polygon_edges_bulk_np(n_polys, r_lo, r_hi)
    )
