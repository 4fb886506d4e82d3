"""Spatial joins (SURVEY B8, B9): point-in-polygon and kNN.

Every plan runs its DuckDB oracle's IEEE double arithmetic in the same
order of operations, so results match bit-for-bit.

PIP = even-odd ray casting (CROSSING_COND parity over all rings) after a
closed bbox prefilter, in two plans:
  - pip_join: map-only probe of a collected edge table's grid cell index;
  - pip_join_partitioned: salted shuffle joins, for tables past broadcast
    size;
  - pip_join_auto picks one of the two by edge count.

kNN = exact top-k in (dist2, poly_id) order (SURVEY B9) from one 3x3
cell-neighbor level whose in-ball top-k is provable, plus an exact pass
for the pages it cannot prove, in two plans:
  - knn_join: map-only probe of a collected center table's grid cell
    index; the pages it cannot prove are ranked against every center in
    the same worker;
  - knn_join_partitioned: shuffle joins on (cell, salt), with the residue
    sent to the cell-bound terminal (_knn_cell_bound_terminal);
  - knn_join_auto picks one of the two by center count.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from engine.spatial import knn as knnmod, pip as pipmod

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
# outgrows the partitioned path's density-bounded candidate join. The
# windows below were measured when the broadcast plan was a broadcast
# join of per-cell candidate arrays with the same residue kernel. The
# crossover is PARALLELISM-DEPENDENT: the hybrid's matmul wall-time is
# ~ n_centers / cores (it parallelizes near-perfectly), while the
# partitioned cascade is stage-count-bound and nearly flat in cores
# (measured at 50k centers: 8.1s@local[8] vs 9.3s@local[32]) — so the
# crossover moves ~linearly with cores. Measured windows under the
# clearCache protocol (BENCH/CALIBRATION.md, `python bench.py
# --calibration`, sf0.1): crossover in (50k, ~120k] at local[32]
# (hybrid clearly wins 50k, 6.3s vs 9.6s; 100k straddles run-to-run,
# 10.1s vs 10.8s then 11.6s vs 9.9s; 200k clearly partitioned) and in
# (10k, 50k] at local[8] (4.2s vs 6.9s at 10k, 10.0s vs 8.1s at 50k) —
# 3k centers/core sits inside both windows. The cap bounds the one driver
# collect and the task closure (~50 + ~100 MB at 2M centers), the real
# ceiling once a cluster's core count stops being the binding
# constraint.
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


def _attach_persists(out: DataFrame, frames) -> DataFrame:
    """Tag a cascade output with the intermediates it persisted so the
    caller can free them (free_persisted) once its terminal action has
    materialized the result. The persists are load-bearing WITHIN one
    action (the cell level's split feeds both the resolved union branch
    and the residue, and Spark does not dedup common subplans), but
    their lifetime is the QUERY — in a long-lived session repeated kNN
    calls would otherwise accumulate block-manager storage."""
    out._graft_persists = list(frames)
    return out


def free_persisted(out: DataFrame, blocking: bool = False) -> None:
    """Drop the block-manager storage a kNN cascade output persisted, once
    the caller's terminal action has run. Never destructive: these are
    cache-manager persists, not checkpoints — a later action on ``out``
    recomputes them from lineage. Idempotent; no-op on untagged frames."""
    for f in getattr(out, "_graft_persists", ()):
        try:
            f.unpersist(blocking)
        except Exception:  # best-effort on teardown / Connect backends
            pass
    out._graft_persists = []


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
            lon, lat = (b[c].to_numpy(zero_copy_only=False) for c in ("lon", "lat"))
            rows, poly_id, dist2, rank = knnmod.topk(ix, lon, lat, k)
            yield pa.RecordBatch.from_arrays(
                [
                    b["url"].take(rows),
                    pa.array(poly_id, pa.int64()),
                    pa.array(dist2, pa.float64()),
                    pa.array(rank, pa.int32()),
                ],
                ["url", "poly_id", "dist2", "rank"],
            )

    return geotagged.select("url", "lat", "lon").mapInArrow(
        probe, "url string, poly_id long, dist2 double, rank int"
    )


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


def _knn_cell_bound_terminal(
    remaining: DataFrame,
    centers: DataFrame,
    k: int,
    c: float,
) -> DataFrame:
    """Exact kNN for the cascade's unresolved pages via per-cell distance
    bounds — the classic grid-kNN pruning argument, fully relational:

    1. For every occupied page cell P and center cell K, the cell-to-cell
       bounds hold for EVERY page p in P and center q in K:
         mind(P,K) = axis-wise max(|d|-1, 0) * c gap   <= |pq|
         maxd(P,K) = axis-wise (|d|+1) * c             >= |pq|
    2. Sort K by maxd, accumulate center counts: R2(P) = the smallest maxd2
       whose running count reaches k. Every page in P therefore has >= k
       centers within sqrt(R2(P)) — its true k-th neighbor distance is
       bounded by R2(P), ADAPTIVELY per cell (pages near the center region
       get a small ball; only genuinely isolated pages get a wide one).
    3. Candidate centers for P = centers whose point-to-cell distance to P
       is <= sqrt(R2(P)). Contains every possible top-k member by (2).
    4. Per-CENTER refinement: r2pt(P) = k-th smallest point-to-cell MAX
       distance over P's candidates — the same argument at center
       granularity, so the page-cell diagonal is paid once instead of the
       (|d|+1)-cell slack twice; candidates shrink to pmind2 <= r2pt.

    The bound table is |page cells| x |center cells| rows (both DISTINCT
    aggregates — thousands, never data-sized), so steps 1-2 cost nothing at
    any scale; step 3's candidate volume is the sum of adaptive balls,
    which is the information-theoretic floor for exact cell kNN (the fixed-
    width w-ball the widening cascade used is the SAME ball with w forced
    to the worst page's radius: measured 594M pairs vs ~60M adaptive on the
    50k-center bench geometry). One shuffle-hash join keyed on the page
    cell + salt; the per-url top-k windows reuse its partitioning, so the
    candidate pairs never cross the wire (same argument as the cell level
    of knn_join_partitioned).
    Always resolves every page (no residue, no driver-side loop): when the
    center table has < k rows, R2 is +inf and all centers rank.
    """
    cell = f"cast(floor(%s / {c}) as bigint)"
    pag = remaining.withColumn("cx", F.expr(cell % "lon")).withColumn(
        "cy", F.expr(cell % "lat")
    )
    pcells = pag.select("cx", "cy").distinct()
    cc = centers.selectExpr(
        "poly_id",
        "clon",
        "clat",
        f"{cell % 'clon'} as kx",
        f"{cell % 'clat'} as ky",
    )
    ccells = cc.groupBy("kx", "ky").agg(F.count("*").alias("_n"))
    dmin = lambda a, b: f"(greatest(abs({a} - {b}) - 1L, 0L) * {c})"
    dmax = lambda a, b: f"((abs({a} - {b}) + 1L) * {c})"
    mind2_e = (
        f"{dmin('cx','kx')} * {dmin('cx','kx')}"
        f" + {dmin('cy','ky')} * {dmin('cy','ky')}"
    )
    maxd2_e = (
        f"{dmax('cx','kx')} * {dmax('cx','kx')}"
        f" + {dmax('cy','ky')} * {dmax('cy','ky')}"
    )
    # Metadata-cheap UPPER bound on r2 BEFORE the pair table exists: the
    # nearest single center cell holding >= k centers bounds the k-th
    # neighbor by its maxd2 (one min-agg over the cells-only cross — no
    # window, map-side partial). Pushing `mind2 <= r2ub` INTO the pair
    # join condition means the |pcells| x |ccells| cross (3.7M rows on the
    # 50k-center residue geometry) is never materialized or exchanged —
    # the nested-loop join emits only the ~1% of cell pairs that can
    # matter, and every window below runs on that pruned set. (Measured:
    # windowing the unpruned cross cost ~9-11s at local[32]; the whole
    # terminal now runs in a fraction of that.) Exact: r2 <= r2ub, so a
    # pair with mind2 > r2ub can neither define r2 (it sorts after it in
    # the cum window: maxd2 >= mind2 > r2ub >= r2) nor be a candidate.
    # one pass: the conditional min folds the ">= k centers" gate into the
    # aggregate, so pcells is referenced (and its distinct computed) once,
    # and page cells survive even when NO cell holds >= k centers
    # (r2ub = inf -> the pair join below degrades to the full cross).
    pbound = (
        pcells.crossJoin(F.broadcast(ccells))
        .withColumn("maxd2", F.expr(maxd2_e))
        .groupBy("cx", "cy")
        .agg(
            F.coalesce(
                F.min(F.when(F.col("_n") >= k, F.col("maxd2"))),
                F.lit(float("inf")),
            ).alias("r2ub")
        )
    )
    pairs = (
        pbound.join(F.broadcast(ccells), F.expr(f"{mind2_e} <= r2ub"))
        .withColumn("mind2", F.expr(mind2_e))
        .withColumn("maxd2", F.expr(maxd2_e))
    )
    # r2 and the candidate filter FUSE into one Window stage: the running
    # count ordered by maxd2 and the per-cell min-over-threshold are both
    # window functions over the SAME (cx, cy) partitioning, so Catalyst
    # plans one exchange + one sorted pass — no groupBy/self-join round
    # trip re-materializing the pair table.
    wcell = Window.partitionBy("cx", "cy")
    wp = wcell.orderBy("maxd2")
    cand_cells = (
        pairs.withColumn("_cum", F.sum("_n").over(wp))
        .withColumn(
            "r2",
            F.coalesce(
                F.min(F.when(F.col("_cum") >= k, F.col("maxd2"))).over(wcell),
                F.lit(float("inf")),  # < k centers total: keep everything
            ),
        )
        .filter(F.col("mind2") <= F.col("r2"))
        .select("cx", "cy", "kx", "ky", "r2")
    )
    # tighten cell->cell to point(center)->cell: per candidate center q
    # and page cell P compute the point-to-cell MIN distance (pmind2: 0 if
    # q is over P) and MAX distance (pmaxd2: to P's farthest corner)
    cellcand = (
        cand_cells.join(cc, ["kx", "ky"])
        .withColumn("_pdx", F.expr(f"greatest(cx * {c} - clon, clon - (cx + 1) * {c}, 0D)"))
        .withColumn("_pdy", F.expr(f"greatest(cy * {c} - clat, clat - (cy + 1) * {c}, 0D)"))
        .withColumn("pmind2", F.col("_pdx") * F.col("_pdx") + F.col("_pdy") * F.col("_pdy"))
        .filter(F.col("pmind2") <= F.col("r2"))
        .withColumn("_mx", F.expr(f"greatest(clon - cx * {c}, (cx + 1) * {c} - clon)"))
        .withColumn("_my", F.expr(f"greatest(clat - cy * {c}, (cy + 1) * {c} - clat)"))
        .withColumn("pmaxd2", F.col("_mx") * F.col("_mx") + F.col("_my") * F.col("_my"))
    )
    # SECOND, per-CENTER tightening (the r5 terminal's dominant-cost fix):
    # r2pt(P) = k-th smallest pmaxd2 over P's candidate centers. At least
    # k centers lie within sqrt(r2pt) of EVERY page in P (each of those
    # k has pmaxd2 <= r2pt), so any center with pmind2 > r2pt can never
    # enter a top-k — and r2pt <= r2 always (the k cell-bound centers have
    # pmaxd2 <= r2), so this strictly shrinks the per-cell candidate set
    # (measured 26.8M -> 8.1M candidate pairs on the 50k-center residue:
    # the cell-level bound pays the full (|d|+1)-cell slack twice, the
    # point-level bound only the page-cell diagonal once). Same fusion as
    # r2: row_number + min-over-threshold in one Window stage, filter
    # inline — the terminal stays fully lazy with ZERO persists.
    wpt = wcell.orderBy("pmaxd2", "poly_id")
    tight = (
        cellcand.withColumn("_rn", F.row_number().over(wpt))
        .withColumn(
            "r2pt",
            F.coalesce(
                F.min(F.when(F.col("_rn") == k, F.col("pmaxd2"))).over(wcell),
                F.lit(float("inf")),  # < k candidates total: keep all
            ),
        )
        .filter(F.col("pmind2") <= F.col("r2pt"))
        .select("cx", "cy", "poly_id", "clon", "clat", F.col("r2pt").alias("r2"))
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))))
    )
    # NOTE (r7): this terminal (and the partitioned cell level) keeps the
    # window form: the pairs are already co-partitioned by the shuffle-hash
    # join, so the top-k is a codegen'd LOCAL sort with no exchange, and
    # replacing it with interpreted per-row array kernels measured ~25%
    # SLOWER at the 50k-center bench point (ABBA-isolated 12.4s vs 9.6s) -
    # the HOF interpreter costs more than the in-partition sort it removes
    # when nothing crosses the wire either way.
    pag_s = pag.withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(N_SALT)))
    cand = _with_dist2(pag_s.join(tight.hint("shuffle_hash"), ["cx", "cy", "_salt"]))
    # any candidate beyond sqrt(r2pt) is provably outside the top-k (>= k
    # candidates sit within r2pt), so drop it before the sort
    cand = cand.filter(F.col("dist2") <= F.col("r2"))
    wk = Window.partitionBy("cx", "cy", "_salt", "url").orderBy("dist2", "poly_id")
    return (
        cand.withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select("url", "poly_id", "dist2", "rank")
    )


def knn_join_partitioned(
    geotagged: DataFrame,
    centers: DataFrame,
    k: int = 3,
    cell_deg: float | None = None,
    n_centers: int | None = None,
) -> DataFrame:
    """Exact kNN, shuffle-both-sides path: for center tables too large to
    collect (knn_join collects the center table to the driver and ships its
    grid index to every task, so it assumes the dimension side fits the
    driver's and one task's memory).

    Same provably-exact cell-neighbor fast path as knn_join, but the
    candidate join is a SHUFFLE hash join on (cell, salt): centers explode
    into their 3x3 neighborhood AND N_SALT salt replicas, pages pick one
    salt by url hash — a hot cell spreads over N_SALT reducers. Properties
    that keep the candidate-pair volume (the dominant cost) bounded and
    OFF the wire:

    - pairs never shuffle: a url has exactly one (cell, salt) key, so the
      shuffle hash join already co-locates each url's candidates and the
      top-k windows run partitioned by the join keys + url — Catalyst
      proves the child partitioning satisfies them, so the pairs are
      sorted in place, never exchanged;
    - provability pre-filter: only centers within w can appear in a
      provable top-k, so dist2 <= w^2 drops the rest before the sort.

    Everything the cell level cannot prove goes to the cell-bound
    terminal (_knn_cell_bound_terminal): per-page-cell ADAPTIVE radii from
    cell-to-cell distance bounds, so the terminal's candidate volume is
    the sum of per-cell balls sized by the actual k-th-neighbor distance —
    not a globally-widened w-ball, not a cartesian fallback. The terminal
    always resolves (no residue, no driver-side widening loop, no counts:
    the whole plan is lazy). Output equals exact kNN; shares knn_join's
    oracle.
    """
    if n_centers is None:
        n_centers = centers.count()  # table-stats surrogate (see pip_join_auto)
    if cell_deg is None:
        cell_deg = knn_cell_deg(n_centers)
    w = cell_deg
    cell = f"cast(floor(%s / {w}) as bigint)"
    pages_c = (
        geotagged.select("url", "lat", "lon")
        .withColumn("cx", F.expr(cell % "lon"))
        .withColumn("cy", F.expr(cell % "lat"))
        .withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(N_SALT)))
    )
    off = F.explode(
        F.array(
            *[
                F.struct(F.lit(di).alias("di"), F.lit(dj).alias("dj"))
                for di in (-1, 0, 1)
                for dj in (-1, 0, 1)
            ]
        )
    )
    neigh = (
        centers.withColumn("o", off)
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(N_SALT - 1))))
        .selectExpr(
            "poly_id",
            "clon",
            "clat",
            "_salt as nsalt",
            f"{cell % 'clon'} + o.di as ncx",
            f"{cell % 'clat'} + o.dj as ncy",
        )
    )
    # LEFT OUTER join with the w-ball predicate INSIDE the join
    # condition: every page emerges
    # with its in-ball candidates or one null row, so pass/fail
    # routing is a filter on the window output instead of a url-keyed
    # anti-join re-shuffling the whole page table. The
    # shuffle_hash hint pins the join whose output partitioning is
    # HashPartitioning(cx, cy, _salt): the windows below reuse it, so
    # the candidate pairs (the cascade's dominant data volume) never
    # cross the wire — the top-k is a within-partition sort. (A
    # broadcast of the page side would leave the stream partitioned
    # by the center scan instead, forcing that exchange.) In-ball in
    # the join condition is also the provability pre-filter: only
    # centers within w can appear in a provable top-k.
    dist2_e = (
        "((lon - clon) * (lon - clon) + (lat - clat) * (lat - clat))"
    )
    cond = F.expr(
        f"cx = ncx AND cy = ncy AND _salt = nsalt AND {dist2_e} <= {w * w!r}"
    )
    cand = pages_c.join(neigh.hint("shuffle_hash"), cond, "left")
    cand = cand.withColumn("dist2", F.expr(dist2_e))  # null <=> no match
    # a url carries exactly ONE (cx, cy, _salt) key; windowing by the
    # join keys + url lets Catalyst prove the join's partitioning
    # satisfies the clustered distribution -> no extra exchange.
    wk = Window.partitionBy("cx", "cy", "_salt", "url").orderBy(
        "dist2", "poly_id"
    )
    wu = Window.partitionBy("cx", "cy", "_salt", "url")
    split = (
        cand.withColumn("rank", F.row_number().over(wk))
        .withColumn("_cnt", F.count("poly_id").over(wu))
        .filter(F.col("rank") <= k)
        .select("url", "lat", "lon", "poly_id", "dist2", "rank", "_cnt")
        .persist()
    )
    good = split.filter(F.col("_cnt") >= k).select(
        "url", "poly_id", "dist2", "rank"
    )
    remaining = split.filter(
        (F.col("_cnt") < k) & (F.col("rank") == 1)
    ).select("url", "lat", "lon")

    # terminal: the cell-bound exact join resolves every unresolved page in
    # one pass with per-cell adaptive radii — no residue count, no widening
    # loop, no cartesian fallback, and the plan stays fully lazy. The bound
    # grid is coarser than the cell level (its pcells x ccells bound table
    # must stay metadata-sized even for plane-covering page sets).
    #
    # r7 width calibration (guide §1/§2): the residue is the SPARSE page
    # set (pages far from any center), whose k-th-neighbor distance scales
    # like n_centers^-1/2 — when the bound grid is much finer than that
    # scale, the terminal pays extra bound-window cells and candidate
    # replication for radii it cannot tighten. ABBA-alternated sweep at
    # local[32] sf0.1 (min/med of 3, same session, order-balanced):
    # 50k centers: c=4 8.68/8.84s, c=6 7.57/7.89s (c=2 35s, c=3 13s —
    # finer explodes the bound table); 200k: c=4 12.75 vs c=6 13.72;
    # 500k: c=4 19.1 vs c=6 23.5 — so the optimum tracks ~sqrt(1/n),
    # anchored at the 50k point (6 deg), capped at 6 so the 10k
    # calibration point keeps its measured 2*cell_deg width, and floored
    # by the old max(2*cell_deg, 4): sqrt(1.8e6/n) drops below 4 past
    # n = 112,500 centers, where cell_deg is already at its 2-degree
    # floor, so 2*cell_deg = 4 there too.
    term_c = max(
        2.0 * cell_deg,
        4.0,
        min(6.0, (1_800_000.0 / max(n_centers, 1)) ** 0.5),
    )
    out = _knn_cell_bound_terminal(remaining, centers, k, term_c)
    return _attach_persists(out.unionByName(good), [split])


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
