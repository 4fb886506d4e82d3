"""Spatial joins (SURVEY B8, B9): point-in-polygon and kNN.

Every plan runs its DuckDB oracle's IEEE double arithmetic in the same
order of operations, so results match bit-for-bit.

PIP = even-odd ray casting (CROSSING_COND parity over all rings) after a
closed bbox prefilter, in two plans:
  - pip_join: map-only probe of a collected edge table's grid cell index;
  - pip_join_partitioned: salted shuffle joins, for tables past broadcast
    size;
  - pip_join_auto picks one of the two by edge count.

kNN = exact top-k in (dist2, poly_id) order (SURVEY B9) by one kernel,
knn.topk over a center grid index (3x3 cell-neighbor candidates, the pages
they cannot prove ranked against every indexed center), in two plans:
  - knn_join: map-only probe of the whole collected center table's index;
  - knn_join_partitioned: pages and centers cogrouped on (group cell,
    salt), the kernel run per group over the centers that the per-cell
    kNN-radius bound (knn.group_cells) routes there;
  - knn_join_auto picks one of the two by center count.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from engine.spatial import knn as knnmod, pip as pipmod
from engine.spatial.clipbatch import concat_ranges, pack_cells, run_starts

CROSSING_COND = (
    "((y1 > lat) != (y2 > lat)) AND (lon < x1 + (lat - y1) * (x2 - x1) / (y2 - y1))"
)


PIP_GRID_DEG = 8.0  # PIP candidate-grid cell width (fixture-sized tables)


def pip_grid_deg(n_edges: int) -> float:
    """Density-adaptive candidate-grid width: shrink cells as the polygon
    table grows so per-cell polygon fanout (and with it the candidate
    pairs) stays roughly constant. Anchored on the two measured calibration
    points (362k edges -> 2.0 deg, 6.2M edges -> 0.5 deg; bench cases
    pip_join_50k/_1m), i.e. w ~ n_edges^-1/2, clamped to the fixture
    default at the small end."""
    return float(
        min(PIP_GRID_DEG, max(0.05, (1_450_000.0 / max(n_edges, 1)) ** 0.5))
    )


KNN_CELL_DEG = 22.5  # kNN candidate-grid cell width (fixture-sized tables)


def knn_cell_deg(n_centers: int) -> float:
    """Density-adaptive kNN cell width: w ~ n_centers^-1/2, so the mean
    number of centers per cell stays constant as the table grows — about 3
    over the fixtures' +-60 degree latitude band (129,900 / (360 x 120)),
    27 candidates in a page's 3x3 neighbor cells. Clamped to KNN_CELL_DEG
    at the small end and floored at 2 degrees (reached at 32,475 centers)."""
    return float(
        min(KNN_CELL_DEG, max(2.0, (129_900.0 / max(n_centers, 1)) ** 0.5))
    )


def pip_join(
    geotagged: DataFrame, edges: DataFrame, grid_deg: float | None = None
) -> DataFrame:
    """(url, poly_id) pairs where the page's point is inside the polygon
    (even-odd over all rings, holes subtract). The edge table is collected
    once into a grid cell index (``grid_deg`` wide, pip_grid_deg for large
    tables) that ships in the task closure; the plan is scan -> mapInArrow
    probe, with no exchange, join or aggregate."""
    cols = ("poly_id", "x1", "y1", "x2", "y2")
    t = edges.select(*cols).toArrow()
    ix = pipmod.build_cell_index(*(t[c].to_numpy() for c in cols), grid_deg or PIP_GRID_DEG)

    def probe(batches):
        for b in batches:
            lon, lat = (b[c].to_numpy(zero_copy_only=False) for c in ("lon", "lat"))
            rows, poly_id = pipmod.probe(ix, lon, lat)
            yield pa.RecordBatch.from_arrays(
                [b["url"].take(rows), pa.array(poly_id, pa.int64())],
                ["url", "poly_id"],
            )

    return geotagged.select("url", "lat", "lon").mapInArrow(
        probe, "url string, poly_id long"
    )


def pip_oracle_sql(with_ctes: str) -> str:
    """DuckDB twin of pip_join; ``with_ctes`` provides pages/geotagged/
    poly_edges CTE bodies."""
    return f"""
WITH {with_ctes},
bbox AS (
  SELECT poly_id,
         least(min(x1), min(x2)) AS bx0, least(min(y1), min(y2)) AS by0,
         greatest(max(x1), max(x2)) AS bx1, greatest(max(y1), max(y2)) AS by1
  FROM poly_edges GROUP BY poly_id),
candidates AS (
  SELECT g.url, g.lat, g.lon, b.poly_id
  FROM geotagged g JOIN bbox b
    ON g.lon >= b.bx0 AND g.lon <= b.bx1 AND g.lat >= b.by0 AND g.lat <= b.by1),
crossings AS (
  SELECT c.url, c.poly_id,
         SUM(CASE WHEN {CROSSING_COND} THEN 1 ELSE 0 END) AS c
  FROM candidates c JOIN poly_edges e USING (poly_id)
  GROUP BY c.url, c.poly_id)
SELECT url, poly_id FROM crossings WHERE c % 2 = 1
"""


# Broadcast chooser thresholds. Edges: the broadcast PIP plan collects the
# edge table to the driver (five 8-byte columns, ~40 B/edge) and ships its
# cell index in every task closure (~40 B/edge again: the four coordinates
# plus per-polygon bbox, offsets and cells), ~80 MB each at 2M edges — a
# memory bound for the driver and each Python worker, not a measured
# crossover (BENCH/CALIBRATION.md times both plans at 50k and 1M
# polygons). Centers: the broadcast kNN plan collects the center table to
# the driver once (three 8-byte columns, 24 B/center) and ships its grid
# index in every task closure (~48 B/center: the three columns plus cell
# codes, offsets and slots). Its workers rank the residue pages against
# ALL centers, so it loses once that O(residue x n_centers) kernel
# outgrows the partitioned plan's bounded per-group tables. The per-core
# windows below were measured against the relational cascade that
# knn_join_partitioned was before it ran the same kernel per cogroup:
# that plan was stage-count-bound and nearly flat in cores, so the
# crossover moved ~linearly with cores — in (50k, ~120k] at local[32]
# and in (10k, 50k] at local[8] (BENCH/CALIBRATION.md, `python bench.py
# --calibration`, sf0.1); 3k centers/core sat inside both. They are not
# re-measured at those core counts for the cogrouped plan. The cap bounds
# the one driver collect and the task closure (~50 + ~100 MB at 2M
# centers), the real ceiling once a cluster's core count stops being the
# binding constraint.
BROADCAST_EDGE_LIMIT = 2_000_000
BROADCAST_CENTER_LIMIT_PER_CORE = 3_000
BROADCAST_CENTER_COLLECT_CAP = 2_000_000


def broadcast_center_limit(spark) -> int:
    """Largest center-table size knn_join_auto routes to the broadcast
    plan at this session's parallelism: per-core crossover x
    total cores, capped by the driver-collect ceiling (constants and
    evidence above; table in BENCH/CALIBRATION.md)."""
    try:
        par = max(1, spark.sparkContext.defaultParallelism)
    except Exception:
        # Spark Connect sessions expose no sparkContext (ADVICE r6): fall
        # back to the conf the session was sized with
        par = max(
            1,
            int(
                spark.conf.get(
                    "spark.default.parallelism",
                    spark.conf.get("spark.sql.shuffle.partitions", "8"),
                )
            ),
        )
    return min(BROADCAST_CENTER_LIMIT_PER_CORE * par, BROADCAST_CENTER_COLLECT_CAP)


# a polygon with this many edges concentrates its candidates x edges join
# rows on one reducer; past it the edge join salts that polygon selectively
EDGE_SALT_EDGES_PER_POLY = 10_000
# replicas of the dimension side in the salted (partitioned) joins: a hot
# key spreads over N_SALT reducers at N_SALT x that side's shuffle bytes
N_SALT = 4


def pip_join_partitioned(
    geotagged: DataFrame,
    edges: DataFrame,
    grid_deg: float | None = None,
    max_edges_per_poly: int | None = None,
) -> DataFrame:
    """PIP join, shuffle-both-sides path: for polygon tables too large to
    broadcast (a country-scale OSM table: 10^7 polygons x 10^2 vertices).

    pip_join's steps as relational operators — a grid-cell equi-join, the
    closed bbox filter, an edge join on poly_id and a (url, poly_id) parity
    aggregate — planned as SHUFFLE hash joins: the polygon side is
    pre-exploded to its grid cells and SALTED (replicated N_SALT ways),
    pages pick one salt by url hash, so a hot cell (urban polygon cluster
    under a page-dense area) spreads over N_SALT reducers instead of one.
    Salting replicates the polygon side's shuffle bytes x N_SALT, so the
    factor stays small; AQE skew-join is the backstop for residual
    imbalance.

    The candidates-x-edges join on poly_id is skew-guarded too: a
    MEGA-polygon (10^4+ edges — a country polygon in OSM — under a
    page-dense area) would concentrate candidates x edges rows on one
    reducer. Unless ``max_edges_per_poly`` (from table stats) is below
    EDGE_SALT_EDGES_PER_POLY, the plan salts selectively: a lazy per-poly
    edge count, broadcast as a skew table, replicates ONLY polygons at or
    above the threshold N_SALT ways (total edge shuffle bytes grow by
    N_SALT x the skewed share, not N_SALT x everything) and routes every
    other edge to salt 0 — an empty skew table routes them all there. No
    job runs at DataFrame-construction time. Salting only changes routing
    — output is identical to pip_join, same oracle.
    """
    w = grid_deg or PIP_GRID_DEG
    bbox_cells = edges.groupBy("poly_id").agg(
        F.least(F.min("x1"), F.min("x2")).alias("bx0"),
        F.least(F.min("y1"), F.min("y2")).alias("by0"),
        F.greatest(F.max("x1"), F.max("x2")).alias("bx1"),
        F.greatest(F.max("y1"), F.max("y2")).alias("by1"),
    ).selectExpr(
        "poly_id", "bx0", "bx1", "by0", "by1",
        f"explode(sequence(cast(floor(bx0 / {w}) as bigint), cast(floor(bx1 / {w}) as bigint))) as gx",
    ).selectExpr(
        "poly_id", "bx0", "bx1", "by0", "by1", "gx",
        f"explode(sequence(cast(floor(by0 / {w}) as bigint), cast(floor(by1 / {w}) as bigint))) as gy",
    ).withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))))
    pages_c = geotagged.selectExpr(
        "url", "lat", "lon",
        f"cast(floor(lon / {w}) as bigint) as gx",
        f"cast(floor(lat / {w}) as bigint) as gy",
    ).withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(N_SALT)))
    # The shuffle-hash hint PINS the declared plan: the pages side of this
    # engine derives from a tiny pre-explode source (Iceberg stats see KBs),
    # so Catalyst's size estimate would otherwise BROADCAST the fact side —
    # planning both "partitioned" joins as BroadcastHashJoin(BuildLeft=pages)
    # and defeating the salting entirely (measured: 22.5s flat 8->32 at the
    # 50k calibration point vs 6s properly shuffled). Same trap and same fix
    # as knn_join_partitioned's candidate join.
    candidates = (
        pages_c.join(bbox_cells.hint("shuffle_hash"), ["gx", "gy", "_salt"])
        .filter(
            (F.col("lon") >= F.col("bx0"))
            & (F.col("lon") <= F.col("bx1"))
            & (F.col("lat") >= F.col("by0"))
            & (F.col("lat") <= F.col("by1"))
        )
        .select("url", "lat", "lon", "poly_id", "_salt")
    )
    # edges stay rows: a collect_list of per-polygon edge arrays measured
    # bimodal at 50k/1m polygons (ObjectHashAggregate GC churn)
    if max_edges_per_poly is None or max_edges_per_poly >= EDGE_SALT_EDGES_PER_POLY:
        # selective salting: the skewed-poly list is tiny by construction
        # (mega-polygons), so it broadcasts to tag both join sides
        skewed = (
            edges.groupBy("poly_id")
            .agg(F.count("*").alias("_ne"))
            .filter(F.col("_ne") >= EDGE_SALT_EDGES_PER_POLY)
            .select("poly_id", F.lit(True).alias("_skew"))
        )
        edges_s = (
            edges.join(F.broadcast(skewed), "poly_id", "left")
            .withColumn(
                "_salt_e",
                F.explode(
                    F.when(
                        F.col("_skew").isNotNull(),
                        F.sequence(F.lit(0), F.lit(N_SALT - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("_skew")
        )
        cand_s = (
            candidates.join(F.broadcast(skewed), "poly_id", "left")
            .withColumn(
                "_salt_e",
                F.when(F.col("_skew").isNotNull(), F.col("_salt")).otherwise(
                    F.lit(0)
                ),
            )
            .drop("_skew", "_salt")
        )
        paired = cand_s.join(edges_s.hint("shuffle_hash"), ["poly_id", "_salt_e"])
    else:
        # shuffle_hash keeps the edge join a shuffle join too; with the
        # candidates exchanged on poly_id, Catalyst proves HashPartitioning
        # (poly_id) satisfies the (url, poly_id) aggregate below, so the
        # crossings never re-exchange (same trick as the kNN top-k windows).
        paired = candidates.drop("_salt").join(edges.hint("shuffle_hash"), "poly_id")
    crossings = (
        # drop non-crossing pairs BEFORE the aggregate (zero-crossing groups
        # are even-parity; see pip_join) — the post-join hash aggregate
        # processes ~#crossings rows, not candidates x edges
        paired.filter(F.expr(CROSSING_COND))
        .groupBy("url", "poly_id")
        .agg(F.count("*").alias("c"))
    )
    return crossings.filter(F.col("c") % 2 == 1).select("url", "poly_id")


def pip_join_auto(
    geotagged: DataFrame,
    edges: DataFrame,
    n_edges: int | None = None,
    max_edges_per_poly: int | None = None,
) -> DataFrame:
    """Size-based chooser between the broadcast and partitioned PIP plans.
    The broadcast plan (pip_join) runs one eager collect of the dimension
    table while the DataFrame is built; BROADCAST_EDGE_LIMIT bounds that
    collect and the index it ships (`python bench.py --calibration` times
    both plans into BENCH/CALIBRATION.md — regenerate after touching
    either plan).

    ``n_edges`` / ``max_edges_per_poly`` are polygon-side stats — at real
    scale they come from table metadata (Iceberg snapshot stats + a
    partition-level max); a count() on the dimension table is the fallback
    (one cheap metadata-ish job, never on the fact side). When
    ``max_edges_per_poly`` is omitted on the partitioned path, the plan
    salts through a lazy per-poly skew table (see pip_join_partitioned);
    no detection job runs at construction time. The candidate
    grid width derives from n_edges (pip_grid_deg) so the per-cell fanout
    stays bounded in exactly the large-dimension regime the partitioned
    plan targets."""
    if n_edges is None:
        n_edges = edges.count()
    w = pip_grid_deg(n_edges)
    if n_edges <= BROADCAST_EDGE_LIMIT:
        return pip_join(geotagged, edges, grid_deg=w)
    return pip_join_partitioned(
        geotagged, edges, grid_deg=w, max_edges_per_poly=max_edges_per_poly
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    ts: str,
    right_cols: tuple[str, ...],
) -> DataFrame:
    """As-of join: for every left row, the right row with the greatest
    right.ts <= left.ts within the same ``on`` key — the event-time
    enrichment operator Spark has no built-in for (DuckDB: ASOF JOIN,
    which is this operator's oracle).

    Plan: union the two streams with a kind tag (markers sort before
    events at equal ts -> inclusive semantics) and take a running
    last(ignorenulls) window over (key, ts, kind). ONE shuffle on the key,
    a single sorted pass — at 100 TB this is sort-merge-shaped, vs the
    quadratic blowup of the naive theta-join formulation. ``right`` must
    be unique per (on, ts); pre-aggregate to enforce.
    """
    l_pay = [c for c in left.columns if c not in (on, ts)]
    lt = left.select(
        on,
        ts,
        F.lit(1).alias("_kind"),
        *l_pay,
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_cols],
    )
    rt = right.select(
        on,
        ts,
        F.lit(0).alias("_kind"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in l_pay],
        *right_cols,
    )
    u = lt.unionByName(rt)
    w = (
        Window.partitionBy(on)
        .orderBy(ts, "_kind")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    for c in right_cols:
        u = u.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return u.filter(F.col("_kind") == 1).drop("_kind")


def _with_dist2(paired: DataFrame) -> DataFrame:
    return paired.withColumn(
        "dist2",
        (F.col("lon") - F.col("clon")) * (F.col("lon") - F.col("clon"))
        + (F.col("lat") - F.col("clat")) * (F.col("lat") - F.col("clat")),
    )


def _topk(paired: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("url").orderBy("dist2", "poly_id")
    return (
        _with_dist2(paired)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def free_persisted(out: DataFrame, blocking: bool = False) -> None:
    """No-op: neither kNN plan persists anything. Kept so that callers
    which free a kNN output after its action keep working."""


def knn_bruteforce(geotagged: DataFrame, centers: DataFrame, k: int = 3) -> DataFrame:
    """Exact kNN via full cross join + window top-k (the baseline path)."""
    paired = geotagged.select("url", "lat", "lon").join(F.broadcast(centers))
    return _topk(paired, k).select("url", "poly_id", "dist2", "rank")


def knn_join(
    geotagged: DataFrame,
    centers: DataFrame,
    k: int = 3,
    cell_deg: float | None = None,
) -> DataFrame:
    """Exact kNN (B9): (url, poly_id, dist2, rank) for each page's k
    nearest centers in (dist2, poly_id) order. The center table is
    collected once into a grid index (``cell_deg`` wide, knn_cell_deg of
    the collected count by default) that ships in the task closure; the
    plan is scan -> mapInArrow, with no exchange, join or aggregate.

    Each batch takes its candidates from a page's 3x3 neighbor cells: a
    center outside them is more than one cell width away, so when at least
    k candidates lie within that width the top-k is provably exact. The
    other pages (far from every center, e.g. polar pages) are ranked
    against the whole table in the same worker (knn.topk_bruteforce)."""
    cols = ("poly_id", "clon", "clat")
    t = centers.select(*cols).toArrow()
    w = knn_cell_deg(t.num_rows) if cell_deg is None else cell_deg
    ix = knnmod.build_center_index(*(t[c].to_numpy() for c in cols), w)

    def probe(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict(_knn_arrays(ix, b, k))

    return geotagged.select("url", "lat", "lon").mapInArrow(
        probe, "url string, poly_id long, dist2 double, rank int"
    )


def _knn_arrays(ix, pages, k: int) -> dict:
    """The (url, poly_id, dist2, rank) columns of knn.topk over the pages of
    an Arrow batch or table."""
    lon, lat = (pages[c].to_numpy(zero_copy_only=False) for c in ("lon", "lat"))
    rows, poly_id, dist2, rank = knnmod.topk(ix, lon, lat, k)
    return {
        "url": pages["url"].take(rows),
        "poly_id": pa.array(poly_id, pa.int64()),
        "dist2": pa.array(dist2, pa.float64()),
        "rank": pa.array(rank, pa.int32()),
    }


def knn_oracle_sql(with_ctes: str, k: int = 3) -> str:
    return f"""
WITH {with_ctes},
paired AS (
  SELECT g.url, c.poly_id,
         (g.lon - c.clon) * (g.lon - c.clon) + (g.lat - c.clat) * (g.lat - c.clat) AS dist2
  FROM geotagged g CROSS JOIN poly_centers c),
ranked AS (
  SELECT url, poly_id, dist2,
         ROW_NUMBER() OVER (PARTITION BY url ORDER BY dist2, poly_id) AS rank
  FROM paired)
SELECT url, poly_id, dist2, rank FROM ranked WHERE rank <= {k}
"""


def knn_join_partitioned(
    geotagged: DataFrame,
    centers: DataFrame,
    k: int = 3,
    cell_deg: float | None = None,
    n_centers: int | None = None,
) -> DataFrame:
    """Exact kNN, shuffle-both-sides path: for center tables too large to
    collect (knn_join ships the whole center index to every task).

    Pages and centers meet on a coarse group grid of width g. The driver
    collects one small table, the center count per group cell, and
    knn.group_cells turns it into the center cells every cell of the
    lon [-180, 180] x lat [-90, 90] grid must see (a per-cell kNN-radius
    bound). Each center is copied to the group cells that need it and to
    N_SALT salt replicas; each page picks one salt by url hash, so a hot
    cell spreads over N_SALT groups. One exchange per side brings each
    (cell, salt) group together, and the group runs knn_join's kernel
    (build_center_index + topk at ``cell_deg``) on its own centers. Every
    center tied with or nearer than a page's k-th neighbor is in the page's
    group, so the rows equal knn_join's. A page outside the grid (or NaN)
    fails the job."""
    if n_centers is None:
        n_centers = centers.count()  # table-stats surrogate (see pip_join_auto)
    w = knn_cell_deg(n_centers) if cell_deg is None else cell_deg
    # the group width tracks the k-th-neighbor scale of sparse pages,
    # ~n^-1/2, anchored at 6 degrees for 50k centers, and stays a few
    # kernel cells wide
    g = max(2.0 * w, 4.0, min(6.0, (1_800_000.0 / max(n_centers, 1)) ** 0.5))
    cell = f"cast(floor(%s / {g}) as bigint)"
    cc = centers.selectExpr(
        "poly_id", "clon", "clat", f"{cell % 'clon'} as kx", f"{cell % 'clat'} as ky"
    )
    t = cc.groupBy("kx", "ky").count().toArrow()
    gx, gy, kx, ky = knnmod.group_cells(*(t[c].to_numpy() for c in ("kx", "ky", "count")), k, g)
    # group cells per center cell, CSR over the sorted packed center cell
    code = pack_cells(kx, ky)
    order = np.argsort(code, kind="stable")
    code, gx, gy = code[order], gx[order], gy[order]
    first = run_starts(code)
    codes, off = code[first], np.append(first, len(code))

    def copy(batches):
        for b in batches:
            c = pack_cells(*(b[f].to_numpy(zero_copy_only=False) for f in ("kx", "ky")))
            at = np.minimum(np.searchsorted(codes, c), len(codes) - 1)
            fan = np.where(codes[at] == c, off[at + 1] - off[at], 0) * N_SALT
            slot = concat_ranges(off[at] * N_SALT, fan)
            rows = pa.array(np.repeat(np.arange(b.num_rows), fan))
            yield pa.RecordBatch.from_arrays(
                [
                    *(b[f].take(rows) for f in ("poly_id", "clon", "clat")),
                    pa.array(gx[slot // N_SALT]),
                    pa.array(gy[slot // N_SALT]),
                    pa.array(slot % N_SALT),
                ],
                ["poly_id", "clon", "clat", "gx", "gy", "_salt"],
            )

    inside = "lon BETWEEN -180 AND 180 AND lat BETWEEN -90 AND 90"
    pages = geotagged.selectExpr(
        "url",
        "lat",
        "lon",
        f"CASE WHEN {inside} THEN {cell % 'lon'} ELSE raise_error(format_string("
        "'kNN page %s at (%s, %s) is outside lon [-180, 180] x lat [-90, 90]', "
        "url, lon, lat)) END as gx",
        f"{cell % 'lat'} as gy",
        f"pmod(xxhash64(url), {N_SALT}) as _salt",
    )
    copies = cc.mapInArrow(
        copy, "poly_id long, clon double, clat double, gx long, gy long, _salt long"
    )

    def kernel(pg, cand):
        if not pg.num_rows:  # a group of centers only needs no index
            cand = cand.slice(0, 0)
        ix = knnmod.build_center_index(
            *(cand[c].to_numpy() for c in ("poly_id", "clon", "clat")), w
        )
        return pa.Table.from_pydict(_knn_arrays(ix, pg, k))

    key = ("gx", "gy", "_salt")
    return (
        pages.groupBy(*key)
        .cogroup(copies.groupBy(*key))
        .applyInArrow(kernel, "url string, poly_id long, dist2 double, rank int")
    )


def knn_join_auto(
    geotagged: DataFrame,
    centers: DataFrame,
    k: int = 3,
    n_centers: int | None = None,
) -> DataFrame:
    """Size-based chooser between the broadcast and partitioned kNN plans
    (same contract as pip_join_auto). The broadcast plan (knn_join) runs
    one eager collect of the center table while the DataFrame is built.
    The routing threshold is
    parallelism-aware (broadcast_center_limit: per-core crossover x
    cores, capped by the driver-collect ceiling), calibrated by `python
    bench.py --calibration` (BENCH/CALIBRATION.md: the hybrid/partitioned
    sweep at 10k-500k centers, run at two core counts) — regenerate after
    touching either plan."""
    if n_centers is None:
        n_centers = centers.count()
    if n_centers <= broadcast_center_limit(centers.sparkSession):
        return knn_join(geotagged, centers, k)
    return knn_join_partitioned(geotagged, centers, k, n_centers=n_centers)
