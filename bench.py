"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...}, "sf": ...}

Throughput counters (tiles/sec, joined rows/sec — BASELINE.json metric) are
included as extra keys. Wall-clock excludes JVM startup (timed inside).

`python bench.py --scaling` additionally runs the headline subset at N and
4N cores (fresh JVM each, via subprocess) and writes BENCH/BASELINE.md with
throughput at both levels + scaling efficiency (the sandbox substitute for
N vs 4N executors, SURVEY §4.4).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Default to 8 threads: this sandbox VM's lazy-loaded memory serializes
# first-touch page faults host-side, so >8 concurrent task threads make
# memory-traffic-heavy stages SLOWER (measured repeatedly; analysis in
# BENCH/BASELINE.md). On a real cluster set SPARK_GRAFT_CPUS to the core
# count — the plans themselves scale (see geotag_hash_x10 at 0.84 eff).
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))

# headline throughput cases used for the scaling comparison
SCALING_CASES = (
    "geotag_hash_x40",
    "media_dims_x10",
    "mvt_pyramid_z0_14",
    "pip_join",
    "pip_join_maponly",
    "knn_3_maponly",
    "pip_join_1m_partitioned",
)

# pyramid stage-isolation cases (only run when explicitly named): cumulative
# prefixes of the pyramid plan, so per-stage cost = successive differences
STAGE_CASES = ("pyramid_scan_geotag", "pyramid_shuffled_sorted")

# cases whose computation happens eagerly at DataFrame-build time (the
# near-dup verified-pair collect; the partitioned kNN plan's collect of
# center counts per group cell; the broadcast PIP and kNN plans'
# dimension-table collect and index build):
# rebuilt inside each timed pass so the recorded time covers the whole job
REBUILD_CASES = {
    "near_dup_clusters", "corpus_prep", "knn_3_50k_partitioned",
    "pip_join", "pip_join_maponly", "pip_join_50k_broadcast",
    "pip_join_1m_broadcast", "knn_3", "knn_3_maponly", "knn_3_50k_hybrid",
}


def _cases():
    from engine.pipeline import queries as Q

    return [
        ("geotag", Q.q_geotag),
        ("tile_counts_pyramid", Q.q_tile_counts),
        ("cell_index_z12", Q.q_cell_index),
        ("pip_join", Q.q_pip_join),
        # the one broadcast PIP plan is map-only; the key stays for history
        ("pip_join_maponly", Q.q_pip_join),
        ("knn_3", Q.q_knn),
        # the one broadcast kNN plan is map-only; the key stays for history
        ("knn_3_maponly", Q.q_knn),
        ("mvt_pyramid_z0_14", lambda s, d: _mvt_pyramid(s, d, 0, 14)),
        ("geotag_hash_x40", _geotag_hash_x40),
        ("media_dims_x10", _media_dims_x10),
        ("mvt_polygon_tiles_z0_6", _polygon_tiles_z0_6),
        ("mvt_combined_tiles", Q.q_mvt_combined),
        ("events_asof", Q.q_events_asof),
        ("near_dup_jaccard", Q.q_near_dup),
        ("near_dup_clusters", Q.q_near_dup_clusters),
        ("corpus_prep", Q.q_corpus_prep),
        ("ann_topk_maponly", Q.q_ann_maponly),
        ("media_metadata", Q.q_media_metadata),
        ("media_dims", Q.q_media_dims),
        # big-dimension join-strategy cases LAST: they bloat the JVM heap
        # and page cache, inflating whatever runs after them in-session
        ("pip_join_50k_broadcast", lambda s, d: _pip_50k(s, d, False)),
        ("pip_join_50k_partitioned", lambda s, d: _pip_50k(s, d, True)),
        ("pip_join_1m_broadcast", lambda s, d: _pip_1m(s, d, False)),
        ("pip_join_1m_partitioned", lambda s, d: _pip_1m(s, d, True)),
        ("knn_3_50k_hybrid", lambda s, d: _knn_50k(s, d, False)),
        ("knn_3_50k_partitioned", lambda s, d: _knn_50k(s, d, True)),
    ]


def _stage_cases():
    """Cumulative prefixes of the z0-14 pyramid plan (explicit-only)."""
    return [
        ("pyramid_scan_geotag", _pyramid_scan_geotag),
        ("pyramid_shuffled_sorted", _pyramid_shuffled_sorted),
    ]


def _pyramid_scan_geotag(spark, sf_dir):
    """Stage 1 of the pyramid: parquet scan + sha256 geotag + unit coords
    (no zoom explode, no shuffle) — isolates the map-side input cost."""
    from engine.pipeline import fixtures, index

    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, sf_dir)))
    return index.with_unit(geo).select("u", "v", "feature_id", "lang")


def _pyramid_shuffled_sorted(spark, sf_dir):
    """Stages 1-2: scan + x15 zoom explode + the tile shuffle + sort +
    post-sort projection, built by the encoder's own key builder (same
    packed key, same AQE-sized exchange) — everything except the Python
    encode stage."""
    from engine.pipeline import fixtures, index, tiler

    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, sf_dir)))
    zoomed = index.with_tiles(index.with_unit(geo), 0, 14)
    return tiler._keyed_rows(zoomed, 14, (("lang", "string"),))


_CODE_PATHS = ("engine", "bench.py", "__spark_entry__.py")


def _code_stamp() -> str:
    """Content hash of the CODE being measured (engine + bench + entry).
    Content-addressed rather than commit-addressed so doc-only commits
    (BASELINE.md itself, SURVEY, README) do not invalidate accumulated
    raws; any change to measured code — committed or not — changes the
    stamp, and uncommitted code edits are additionally marked '-dirty' so
    their timings never become sticky minima attributed to clean code."""
    import hashlib

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        ls = subprocess.run(
            ["git", "ls-files", "-s", "--", *_CODE_PATHS],
            capture_output=True, text=True, timeout=10, cwd=here,
        ).stdout
        if not ls:
            return "unknown"
        stamp = hashlib.sha256(ls.encode()).hexdigest()[:12]
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--", *_CODE_PATHS],
            capture_output=True, text=True, timeout=10, cwd=here,
        ).stdout.strip()
        return stamp + ("-dirty" if dirty else "")
    except (OSError, subprocess.SubprocessError):
        # SubprocessError covers TimeoutExpired from the timeout=10 calls —
        # a hung git must degrade to 'unknown', not crash the bench run
        return "unknown"


def run_once(case_filter=None) -> dict:
    from engine.pipeline.session import get_spark

    spark = get_spark(
        master=f"local[{CPUS}]", shuffle_partitions=2 * CPUS, app_name="bench"
    )
    spark.range(1000).count()  # session warm-up (codegen, executors)

    results: dict[str, float] = {}
    counters: dict[str, float] = {}
    t_total = 0.0
    cases = list(_cases())
    if case_filter:
        # stage-isolation prefixes run immediately BEFORE the full pyramid
        # (cumulative prefixes, adjacent JVM state) and before the big-
        # dimension cases that bloat the heap for whatever follows them
        stage = [c for c in _stage_cases() if c[0] in case_filter]
        if stage:
            at = next(
                i for i, c in enumerate(cases) if c[0] == "mvt_pyramid_z0_14"
            )
            cases[at:at] = stage
    for name, builder in cases:
        if case_filter and name not in case_filter:
            continue
        # REBUILD_CASES do work EAGERLY while the DataFrame is built (the
        # components' verified-pair collect, the broadcast joins' dimension
        # collect), so for them each timed pass must rebuild — timing only
        # the final write would leave that driver work out of the leaf time.
        rebuild = name in REBUILD_CASES
        df = None if rebuild else builder(spark, SF_DIR)
        # noop sink: full materialization of every column (groupBy().count()
        # would let Catalyst prune the computed columns away).
        # best-of-2: the sandbox shows bursty 2-4x background variance and
        # charges first-touch page faults to whichever run touches a page
        # first, so a single pass conflates engine cost with host noise.
        dt = float("inf")
        for _ in range(2):
            if rebuild:
                # drop pass 1's persist()/checkpoint blocks BEFORE pass 2
                # builds: CacheManager plan-matches logically-identical
                # DataFrames, so a builder that persists would otherwise
                # reuse pass 1's still-cached blocks and best-of-2 would
                # record a warm cached scan instead of the end-to-end job
                spark.catalog.clearCache()
            t0 = time.perf_counter()
            if rebuild:
                df = builder(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            dt = min(dt, time.perf_counter() - t0)
        results[name] = round(dt, 3)
        if "n_hashed" in df.columns:
            # reduce-to-one-row CPU cases carry their processed-row count
            counters[f"{name}_rows"] = df.first()["n_hashed"]
        else:
            counters[f"{name}_rows"] = df.count()
        t_total += dt
        # drop whatever a case cached (the distributed component path
        # checkpoints) so one case's blocks don't squeeze the heap of
        # every case after it
        spark.catalog.clearCache()

    if "mvt_pyramid_z0_14" in results:
        counters["tiles_per_sec"] = round(
            counters["mvt_pyramid_z0_14_rows"] / results["mvt_pyramid_z0_14"], 1
        )
        # features encoded = pages x 15 zoom levels
        counters["encoded_features_per_sec"] = round(
            counters["geotag_rows"] * 15 / results["mvt_pyramid_z0_14"], 1
        ) if "geotag" in results else None
    if "pip_join" in results:
        counters["joined_rows_per_sec"] = round(
            counters["pip_join_rows"] / results["pip_join"], 1
        )

    out = {
        "metric": "tiles/sec + joined rows/sec, z0-z14 MVT pyramid + PIP/kNN joins + dedup/ANN",
        "value": round(t_total, 3),
        "unit": "sec",
        "queries": results,
        "sf": SF_DIR.rstrip("/").split("/")[-1],
        "cpus": CPUS,
        "code": _code_stamp(),
        "counters": {k: v for k, v in counters.items() if v is not None},
    }
    spark.stop()
    return out


def _mvt_pyramid(spark, sf_dir, z_min, z_max):
    """The point-tile encoder (tiler.encode_point_tiles_compact): only
    (packed key, fid, lang) ride the tile shuffle, derived columns
    reconstruct post-shuffle (tests/test_tiler_compact.py)."""
    from engine.pipeline import fixtures, index, tiler

    geo = index.with_feature_id(fixtures.geotag_df(fixtures.pages_df(spark, sf_dir)))
    return tiler.encode_point_tiles_compact(index.with_unit(geo), z_min, z_max)


def _polygon_tiles_z0_6(spark, sf_dir):
    from engine.pipeline import polytiler

    return polytiler.encode_polygon_tiles(spark, sf_dir, 0, 6)


BENCH_POLY_N = 50_000  # ~100x the sf0.1 polygon fixture
BENCH_POLY_N_XL = 1_000_000  # ~6.2M edges: past any sane broadcast size


def _pip_50k(spark, sf_dir, partitioned: bool):
    """PIP against a 50k-polygon (~362k-edge) dimension table — the
    broadcast-vs-shuffle crossover calibration point for pip_join_auto.
    Both variants use a 2-degree candidate grid (density-matched); only the
    join strategy differs, so the timing delta isolates the strategy."""
    from engine.pipeline import fixtures, joins

    edges = fixtures.polygon_edges_table(spark, BENCH_POLY_N)
    geo = fixtures.geotag_df(fixtures.pages_df(spark, sf_dir))
    if partitioned:
        # max_edges_per_poly from fixture stats (closed-form: <= 8),
        # the Iceberg-snapshot shape — no per-run detection job
        return joins.pip_join_partitioned(
            geo, edges, grid_deg=2.0, max_edges_per_poly=8
        )
    return joins.pip_join(geo, edges, grid_deg=2.0)


def _pip_1m(spark, sf_dir, partitioned: bool):
    """PIP against a 1M-polygon / 6.2M-edge dimension table (the country-
    scale OSM regime): the broadcast plan must ship the exploded cell table
    AND the edge table to every task; the partitioned plan shuffles both
    sides on (cell, salt) / (poly_id, salt)."""
    from engine.pipeline import fixtures, joins

    edges = fixtures.polygon_edges_table_bulk(spark, BENCH_POLY_N_XL)
    geo = fixtures.geotag_df(fixtures.pages_df(spark, sf_dir))
    if partitioned:
        return joins.pip_join_partitioned(
            geo, edges, grid_deg=0.5, max_edges_per_poly=8
        )
    return joins.pip_join(geo, edges, grid_deg=0.5)


def _knn_50k(spark, sf_dir, partitioned: bool):
    from engine.pipeline import fixtures, joins

    centers = fixtures.polygon_centers_table(spark, BENCH_POLY_N)
    geo = fixtures.geotag_df(fixtures.pages_df(spark, sf_dir))
    if partitioned:
        return joins.knn_join_partitioned(geo, centers, k=3, n_centers=BENCH_POLY_N)
    return joins.knn_join(geo, centers, k=3)


def _media_dims_x10(spark, sf_dir):
    """Second CPU-dominant scaling case, a DIFFERENT kernel from the sha256
    geotag: the pure-codegen binary container-header parse (hex/substring/
    conv/position over a generated binary column) over pages x10, reduced
    to one row — string/binary codegen scaling with no Python stage and no
    wide shuffle."""
    from engine.pipeline import fixtures
    from engine.textops import multimodal

    pages = fixtures.pages_df(spark, sf_dir).select("url", "html")
    rep = pages.selectExpr("explode(sequence(0, 9)) as r", "url", "html").selectExpr(
        "concat(url, '#', cast(r as string)) as url", "html"
    )
    dims = multimodal.media_dims_df(rep)
    return dims.selectExpr(
        "sum(width) as s1", "sum(height) as s2", "count(*) as n_hashed"
    )


def _geotag_hash_x40(spark, sf_dir):
    """CPU-dominant scaling case: the sha256 geotag pipeline over pages
    x40, reduced to one row (whole-stage codegen, no shuffle of note, no
    Python) — isolates the engine's compute scaling from this sandbox's
    serialized first-touch page faults (see BENCH/BASELINE.md notes). x40
    keeps the 4N-core run several seconds long so fixed stage-scheduling
    overhead does not masquerade as poor scaling."""
    from engine.pipeline import fixtures

    pages = fixtures.pages_df(spark, sf_dir).select("url")
    rep = pages.selectExpr("explode(sequence(0, 39)) as r", "url").selectExpr(
        "concat(url, '#', cast(r as string)) as url"
    )
    geo = rep.selectExpr(
        f"{fixtures.lat_expr('spark')} as lat", f"{fixtures.lon_expr('spark')} as lon"
    )
    return geo.selectExpr("sum(lat) as s1", "sum(lon) as s2", "count(*) as n_hashed")


def _subprocess_run(cpus: int, cases) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SF_DIR=SF_DIR)
    args = [sys.executable, os.path.abspath(__file__)]
    if cases is not None:
        args += ["--cases", ",".join(cases)]
    r = subprocess.run(
        args, capture_output=True, text=True, env=env, timeout=3600,
    )
    if r.returncode != 0:
        raise RuntimeError(
            f"bench child (cpus={cpus}) exited {r.returncode}; stderr tail:\n"
            + r.stderr[-2000:]
        )
    lines = [l for l in r.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(
            f"bench child (cpus={cpus}) produced no JSON; stdout tail:\n"
            + r.stdout[-2000:]
        )
    return json.loads(lines[-1])


def _harvest_prev_raws(path: str = "BENCH/BASELINE.md") -> list[dict]:
    """Raw per-run JSON lines recorded in the existing report: each
    regeneration re-harvests them, so minima ACCUMULATE across invocations
    (the sandbox's bursty background noise means more alternated runs =
    a tighter estimate of the engine's own cost).

    Guard: only runs whose "code" stamp equals THIS tree's clean git commit
    are merged — timings measured on older (or dirty) code never become
    sticky minima attributed to HEAD, so a regression always shows."""
    stamp = _code_stamp()
    if stamp.endswith("-dirty") or stamp == "unknown":
        return []
    try:
        text = open(path).read()
    except OSError:
        return []
    out = []
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("{") and '"queries"' in line:
            try:
                run = json.loads(line)
            except ValueError:
                continue
            if run.get("code") == stamp:
                out.append(run)
    return out


def _median_of(runs: list[dict], case: str) -> float:
    """Per-case median across recorded runs — published next to the minima
    so a same-direction drift across many cases (real regression) is
    distinguishable from the sandbox's bursty per-run variance (which moves
    minima little and medians a lot)."""
    import statistics

    vals = [r["queries"][case] for r in runs if case in r.get("queries", {})]
    # a case absent from every accumulated run (e.g. a local[8]-only case
    # when rendering the local[32] column) must render as nan, not crash —
    # same guard the min column gets via .get(case, nan)
    return statistics.median(vals) if vals else float("nan")


def _best_of(runs: list[dict]) -> dict:
    """Per-case minimum time across repeated runs — the sandbox has bursty
    background noise (2-4x run-to-run variance), so best-of-N is the
    faithful estimate of the engine's own cost. The headline total is
    recomputed from the merged minima so the table and the totals line
    always agree."""
    best = json.loads(json.dumps(runs[0]))
    for r in runs[1:]:
        for case, t in r["queries"].items():
            if t < best["queries"][case]:
                best["queries"][case] = t
    best["value"] = round(sum(best["queries"].values()), 3)
    return best


def scaling_report(pairs=((2, 8), (8, 32)), repeats: int = 3) -> None:
    """Same job at each parallelism level on identical input; efficiency =
    throughput(4N) / (4 * throughput(N)) per (N, 4N) pair. North-rule
    target >= 0.8, evidenced with TWO pairs: 2 -> 8 cores (the region where
    this sandbox VM itself scales) and 8 -> 32 (dominated by the VM's
    host-serialized first-touch page faults — see the environment-ceiling
    section). Runs alternate across core counts; best-of-``repeats`` each.

    ONE invocation regenerates the whole BENCH/BASELINE.md: the scaling
    tables, the pyramid per-stage breakdown, AND the local[8] / local[32]
    headline tables — so the headline, the scaling evidence, and the
    driver's BENCH_r*.json config cannot drift apart."""
    counts = sorted({c for p in pairs for c in p})
    cases = SCALING_CASES + STAGE_CASES
    prev = _harvest_prev_raws()
    runs: dict[int, list] = {c: [] for c in counts}
    for _ in range(repeats):
        for c in counts:
            runs[c].append(_subprocess_run(c, cases))
    needed = set(cases)
    for c in counts:
        runs[c] += [
            p
            for p in prev
            if p.get("cpus") == c and needed <= set(p.get("queries", {}))
        ]
    best = {c: _best_of(runs[c]) for c in counts}
    headline_raw = {c: [_subprocess_run(c, None)] for c in (8, 32)}
    headline = {}
    for c in (8, 32):
        hc = set(headline_raw[c][0]["queries"])
        headline_raw[c] += [
            p
            for p in prev
            if p.get("cpus") == c and hc <= set(p.get("queries", {}))
        ]
        headline[c] = _best_of(headline_raw[c])
    lines = [
        "# BENCH — scaling evidence (N vs 4N cores, sandbox substitute for executors)",
        "",
        f"Input: `{SF_DIR}` (identical at every level; fresh JVM per run).",
        f"Core counts measured: {', '.join(f'`local[{c}]`' for c in counts)}.",
        f"Times are best-of-{repeats} per config per invocation, accumulated",
        "with the raw JSON of prior invocations recorded below (alternated",
        "runs; the sandbox shows bursty 2-4x background variance, so minima",
        "over many runs estimate engine cost).",
    ]
    summary = {}
    for n, n4 in pairs:
        lo, hi = best[n], best[n4]
        lines += [
            "",
            f"## N = {n} -> 4N = {n4}",
            "",
            "| case | rows | t(N) s | t(4N) s | X(N) rows/s | X(4N) rows/s | efficiency |",
            "|---|---|---|---|---|---|---|",
        ]
        effs = []
        for case in SCALING_CASES:
            rows = lo["counters"][f"{case}_rows"]
            t_lo, t_hi = lo["queries"][case], hi["queries"][case]
            x_lo, x_hi = rows / t_lo, rows / t_hi
            eff = x_hi / (4 * x_lo)
            effs.append(eff)
            lines.append(
                f"| {case} | {rows} | {t_lo:.2f} | {t_hi:.2f} | {x_lo:,.0f} | {x_hi:,.0f} | {eff:.2f} |"
            )
        summary[f"{n}->{n4}"] = {
            c: round(e, 3) for c, e in zip(SCALING_CASES, effs)
        }
        lines.append(
            f"\nMean efficiency {n}->{n4}: **{sum(effs) / len(effs):.2f}** "
            "(target >= 0.8, BASELINE.json north_rule)."
        )
    lines += [
        "",
        "## Pyramid per-stage breakdown (which stage eats the efficiency)",
        "",
        "Cumulative-prefix timings of the z0-14 pyramid plan; per-stage cost",
        "is the successive difference, so each stage's own scaling is",
        "attributable: scan+geotag (map-side codegen, no Python), + zoom",
        "explode + tile shuffle + sort (wide exchange), + vectorized Python",
        "encode (Arrow + numpy + protobuf framing).",
        "",
        "| cores | scan+geotag s | +shuffle+sort s | full s | shuffle-stage s | encode-stage s |",
        "|---|---|---|---|---|---|",
        *[
            (
                lambda b: "| {c} | {s:.2f} | {sh:.2f} | {f:.2f} | {d1:.2f} | {d2:.2f} |".format(
                    c=c,
                    s=b["queries"]["pyramid_scan_geotag"],
                    sh=b["queries"]["pyramid_shuffled_sorted"],
                    f=b["queries"]["mvt_pyramid_z0_14"],
                    d1=b["queries"]["pyramid_shuffled_sorted"]
                    - b["queries"]["pyramid_scan_geotag"],
                    d2=b["queries"]["mvt_pyramid_z0_14"]
                    - b["queries"]["pyramid_shuffled_sorted"],
                )
            )(best[c])
            for c in counts
        ],
        "",
        "## Headline (full case set, one protocol, local[8] vs local[32])",
        "",
        "min = best across accumulated same-stamp runs (engine cost under",
        "sandbox noise); med = per-case median across those runs (what a",
        "single driver invocation should look like — compare the driver's",
        "BENCH_r*.json against med, not min).",
        "",
        "| case | t(8) min | t(8) med | t(32) min | t(32) med |",
        "|---|---|---|---|---|",
        *[
            f"| {case} | {headline[8]['queries'][case]:.2f} | "
            f"{_median_of(headline_raw[8], case):.2f} | "
            f"{headline[32]['queries'].get(case, float('nan')):.2f} | "
            f"{_median_of(headline_raw[32], case):.2f} |"
            for case in headline[8]["queries"]
        ],
        "",
        f"Totals (sum of the per-case minima above): local[8] "
        f"{headline[8]['value']:.1f}s, local[32] {headline[32]['value']:.1f}s. "
        f"Median totals: local[8] "
        f"{sum(_median_of(headline_raw[8], c) for c in headline[8]['queries']):.1f}s, "
        f"local[32] "
        f"{sum(_median_of(headline_raw[32], c) for c in headline[32]['queries']):.1f}s.",
        "",
        "Raw headline JSON (one line per RUN, git-stamped; regeneration",
        "merges only lines whose `code` matches the clean HEAD commit):",
        "```json",
        *[json.dumps(r) for c in (8, 32) for r in headline_raw[c]],
        "```",
    ]
    lines += [
        "",
        "## Environment ceiling (measured)",
        "",
        "This sandbox VM lazy-loads guest memory: the FIRST touch of any page",
        "costs ~0.4 ms and faults appear to serialize host-side (measured: a",
        "16 MB numpy buffer's first pass takes 1.79 s in a Spark worker, the",
        "next passes 3 ms; a pure-CPU 32-process microbench scales 22x while",
        "any fresh-page-heavy job gets SLOWER beyond ~8 threads regardless of",
        "partitioning). BENCH/encode_probe.py pins the pyramid ENCODE stage's",
        "former 8->32 regression on exactly this: the same kernel on the same",
        "inputs scales to 32 procs WARM (5.29s@2 -> 1.46s@8 -> 0.61s@32) but",
        "regresses COLD (2.52s@8 -> 3.19s@32, every buffer first-touch);",
        "capping the per-batch working set so later batches reuse the first",
        "batch's faulted arena makes even the cold pass scale (1.66s@8 ->",
        "0.97s@32) — shipped as the 16k-row Arrow batch default in",
        "engine.pipeline.session. Mitigations there (glibc arena retention +",
        "Arrow system pool, 4-9x on worker-side allocation churn) cannot",
        "remove the host-side serialization itself, so:",
        "",
        "- `geotag_hash_x40` (CPU-dominant, codegen, no Python) shows the",
        "  ENGINE's scaling when compute dominates — this is the number that",
        "  transfers to a real multi-executor cluster, where each executor",
        "  owns its memory subsystem and faults never serialize globally.",
        "- the memory-traffic-heavy cases (tile encode, PIP join, kNN",
        "  distance matrices) are bounded by the fault ceiling above ~8",
        "  cores in THIS sandbox — hence the 2->8 pair evidences the plans'",
        "  scaling and the 8->32 pair mostly measures the ceiling; the plans",
        "  shuffle once, broadcast the dimension side, and keep Python",
        "  vectorized, so the ceiling does not apply on real executors.",
        "- BENCH/transport_probe.py models the mapInArrow boundary itself",
        "  (OS pipe -> fresh per-batch buffers -> column reduce, no Spark):",
        "  at a FIXED 2 GB total, its 2->8 cold efficiency swings 0.32-0.67",
        "  run-to-run under the same bursty host noise — the encode stage's",
        "  residual 2->8 gap sits inside the envelope of moving bytes",
        "  between processes on this VM, independent of the plan. The",
        "  pandas-free mapInArrow encode (r6) removed the worker-side",
        "  object churn the plan DID control (9M-row string objects, per-",
        "  tile bytes objects, per-batch frame copies).",
        "- mvt_combined_tiles' historical 4.5-13s spread is the same ceiling",
        "  at stage granularity: its salted-partial encode runs ~2.3s",
        "  steady-state but 7-8s on a session's FIRST pass (32 Python",
        "  workers established concurrently, each first-touch faulting its",
        "  numpy/Arrow arena through the host-serialized fault path), so a",
        "  run's position in the case sequence decides which side of the",
        "  spread it lands on. The partials now run the same pandas-free",
        "  mapInArrow path as the pyramid encode, cutting both the",
        "  steady-state (~30%) and the cold premium.",
        "",
        "Raw JSON (one line per scaling RUN, git-stamped):",
        "```json",
        *[json.dumps(r) for c in counts for r in runs[c]],
        "```",
    ]
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps(summary))


def calibration_report() -> None:
    """Regenerate BENCH/CALIBRATION.md: every magic-number chooser constant
    next to the measurement that justifies it, re-run under the clearCache
    protocol by THIS invocation (code-stamped) — so a stale calibration is
    structurally visible instead of buried in old commit messages (the
    round-3 BROADCAST_CENTER_LIMIT bug class)."""
    import time

    from engine.pipeline.session import get_spark
    from engine.pipeline import fixtures, joins

    spark = get_spark(
        master=f"local[{CPUS}]", shuffle_partitions=2 * CPUS, app_name="calib"
    )
    spark.range(1000).count()
    geo = fixtures.geotag_df(fixtures.pages_df(spark, SF_DIR))

    def best_of(builder, n=2):
        best = float("inf")
        for _ in range(n):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            out = builder()
            out.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return best

    knn_rows = []
    for n in (10_000, 50_000, 100_000, 200_000, 500_000):
        centers = fixtures.polygon_centers_table_bulk(spark, n)
        hyb = best_of(lambda: joins.knn_join(geo, centers, k=3))
        part = best_of(
            lambda: joins.knn_join_partitioned(geo, centers, k=3, n_centers=n)
        )
        auto = (
            "hybrid"
            if n <= joins.broadcast_center_limit(spark)
            else "partitioned"
        )
        # near the crossover both plans cost the same; only flag a mis-route
        # when the auto-rejected plan wins by a real margin (>15%)
        margin = 1.15
        ok = (auto == "hybrid" and hyb <= part * margin) or (
            auto == "partitioned" and part <= hyb * margin
        )
        knn_rows.append(
            f"| {n} | {hyb:.2f} | {part:.2f} | {auto} | {'yes' if ok else 'NO'} |"
        )

    pip_rows = []
    for n, grid, mep in ((50_000, 2.0, 8), (1_000_000, 0.5, 8)):
        edges = (
            fixtures.polygon_edges_table(spark, n)
            if n <= 50_000
            else fixtures.polygon_edges_table_bulk(spark, n)
        )
        bc = best_of(lambda: joins.pip_join(geo, edges, grid_deg=grid))
        part = best_of(
            lambda: joins.pip_join_partitioned(
                geo, edges, grid_deg=grid, max_edges_per_poly=mep
            )
        )
        n_edges = n * 7  # ~avg edges/poly in both fixtures
        auto = (
            "broadcast" if n_edges <= joins.BROADCAST_EDGE_LIMIT else "partitioned"
        )
        # same crossover-margin rule as the kNN table. BROADCAST_EDGE_LIMIT
        # is a memory bound (driver collect + per-worker index), so a
        # broadcast win past it reads NO here until that bound is raised.
        ok = (auto == "broadcast" and bc <= part * margin) or (
            auto == "partitioned" and part <= bc * margin
        )
        pip_rows.append(
            f"| {n} polys (~{n_edges} edges) | {bc:.2f} | {part:.2f} | {auto} | {'yes' if ok else 'NO'} |"
        )

    lines = [
        "# CALIBRATION — chooser constants and their evidence",
        "",
        f"Regenerated by `python bench.py --calibration` at `local[{CPUS}]`,",
        f"sf dir `{SF_DIR}`, code `{_code_stamp()}`. All timings best-of-2",
        "under the clearCache protocol (fresh plan per pass, caches dropped",
        "between passes).",
        "",
        "## Constants (engine/pipeline/joins.py)",
        "",
        "| constant | value | role |",
        "|---|---|---|",
        f"| BROADCAST_EDGE_LIMIT | {joins.BROADCAST_EDGE_LIMIT} | pip_join_auto: broadcast vs partitioned |",
        f"| BROADCAST_CENTER_LIMIT_PER_CORE | {joins.BROADCAST_CENTER_LIMIT_PER_CORE} | knn_join_auto: hybrid vs partitioned, per core (x{CPUS} cores -> {joins.broadcast_center_limit(spark)} at this session) |",
        f"| BROADCAST_CENTER_COLLECT_CAP | {joins.BROADCAST_CENTER_COLLECT_CAP} | broadcast kNN's driver-collect/task-closure ceiling (~24 + ~48 B/center) |",
        f"| PIP_GRID_DEG | {joins.PIP_GRID_DEG} | PIP candidate-grid ceiling (pip_grid_deg adapts by edge count) |",
        f"| KNN_CELL_DEG | {joins.KNN_CELL_DEG} | kNN cell-width ceiling (density formula adapts by center count) |",
        f"| EDGE_SALT_EDGES_PER_POLY | {joins.EDGE_SALT_EDGES_PER_POLY} | selective mega-polygon salting threshold |",
        "",
        "## kNN: hybrid (center-cell probe + in-worker residue) vs partitioned (cogrouped kernel)",
        "",
        "Bulk center fixture (uniform over the +-60 lat band), sf0.1 pages.",
        "Both plans run the same kernel (knn.topk): the hybrid over the whole",
        "collected center table, the partitioned plan per (group cell, salt)",
        "over the centers its per-cell radius bound copies there.",
        "The auto chooser must route each row to the measured-faster plan.",
        "",
        "| centers | hybrid s | partitioned s | auto picks | auto correct? |",
        "|---|---|---|---|---|",
        *knn_rows,
        "",
        "## PIP: broadcast vs partitioned",
        "",
        "| dimension side | broadcast s | partitioned s | auto picks | auto correct? |",
        "|---|---|---|---|---|",
        *pip_rows,
        "",
        "Notes: the kNN hybrid's cost is driver-collect + O(residue x",
        "centers) matmul, so it grows with the center count; the",
        "partitioned plan's cost is its two exchanges, the center copies",
        "(a few tens per center) and the per-group kernel. knn_join_auto's",
        "threshold is per-core x defaultParallelism, capped by the",
        "driver-collect ceiling; its per-core constant was fitted at",
        "local[8] and local[32] against the relational cascade this plan",
        "replaced, so rerun this report at the target",
        "`SPARK_GRAFT_CPUS` before retuning it.",
        "The PIP width formula's 2.0-degree floor was probed as a",
        "secondary effect (adaptive width helps only past ~500k centers",
        "and hurts at 200k, so the floor stands). A `NO` in the last",
        "column = stale constant; recalibrate before shipping.",
    ]
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/CALIBRATION.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    spark.stop()
    print("wrote BENCH/CALIBRATION.md")


def plan_report() -> None:
    """Dump .explain('formatted') of the headline queries to BENCH/PLANS.md
    with the scale-relevant properties called out — the plan-shape audit
    (pushdown, broadcast, single shuffle, codegen spans)."""
    from contextlib import redirect_stdout
    import io

    from engine.pipeline.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8, app_name="plans")
    notes = {
        "geotag": "pure projection over the parquet scan: ReadSchema prunes to "
        "the needed columns, sha2/codegen in one WholeStageCodegen span, no shuffle.",
        "tile_counts_pyramid": "explode + integer tile math stays in codegen; "
        "ONE hash-aggregate pair (partial_count map-side before the shuffle).",
        "pip_join": "map-only: the edge table is collected once into a grid "
        "cell index that ships in the task closure; one MapInArrow over the "
        "(url, lat, lon) projection probes it — no exchange, join or "
        "aggregate above the page input (the one Exchange below is the "
        "page fixture's own repartition).",
        "knn_3_maponly": "map-only: the center table is collected once into a "
        "grid cell index that ships in the task closure; one MapInArrow over "
        "the (url, lat, lon) projection takes each page's candidates from its "
        "3x3 neighbor cells and ranks the pages it cannot prove against every "
        "center in the same worker — no exchange, join, window or cache above "
        "the page input (the one Exchange below is the page fixture's own "
        "repartition).",
        "knn_3_50k_partitioned": "partitioned kNN at 50k centers: building "
        "it collects one small table, the center count per 6-degree group "
        "cell, from which the driver bounds every grid cell's kNN radius in "
        "numpy; one MapInArrow copies each center to the group cells that "
        "need it (x N_SALT salts), pages project their group cell and url-"
        "hash salt, one Exchange per side on (gx, gy, _salt) feeds "
        "FlatMapCoGroupsInArrow, which runs the broadcast plan's kernel "
        "(knn.topk) per group — no join, window or cache.",
        "pip_join_1m_partitioned": "shuffle-both-sides plan for the 1M-polygon "
        "dimension table: no broadcast HINT on the polygon side — the salted "
        "cell equi-join and the poly_id edge join are planned as shuffle "
        "joins keyed on (cell, salt)/(poly_id). Catalyst remains free to "
        "broadcast whichever side it ESTIMATES under the threshold (below, "
        "it picks the locally-tiny PAGES side — correct here, and at 100 TB "
        "the fact-side estimate forces the shuffle join); the structural "
        "point is the plan never REQUIRES a broadcastable dimension side or "
        "a driver collect.",
        "mvt_pyramid_z0_14": "exactly one wide dependency: repartition on "
        "(z, x-expr, y-expr) + sortWithinPartitions feeding the pandas-free "
        "mapInArrow encode; only (z,u,v,fid,lang) ride the shuffle (compact "
        "encoder) — the (gid, qx, qy) projection reconstructs post-shuffle "
        "in whole-stage codegen; feature_id sha2 computed BEFORE the x15 "
        "zoom explode. Arrow batches are 16k rows so the encode workers' "
        "per-batch working set stays inside the first batch's already-"
        "faulted arena (BENCH/encode_probe.py).",
        "media_dims": "pure-codegen media header parse: the binary column, "
        "hex/substring/conv/position all inside one WholeStageCodegen span "
        "over the scan — no UDF, no shuffle, column-pruned read.",
        "mvt_combined_tiles": "two encode stages (salted point partials + "
        "polygon tiles) keyed straight into ONE merge shuffle on (z,x,y); "
        "the merge re-frames point partials with whole-array passes and "
        "wire-splices the polygon layers — the z0 mega-tile's encode is "
        "spread over salt tasks, never a single-task hot key.",
        "mvt_polygon_tiles_z0_6": "parquet polygon scan -> coverage/vertex "
        "explodes (codegen) -> one repartition(z,x,y) -> batched encode.",
        "events_asof": "as-of join as union + running last() window: one "
        "shuffle on the join key, sort-merge-shaped single pass.",
    }
    from engine.pipeline import queries as Q

    builders = dict(_cases())
    builders["tile_counts_pyramid"] = Q.q_tile_counts
    builders["events_asof"] = Q.q_events_asof
    lines = ["# PLANS — physical-plan audit of the headline queries", ""]
    for name, note in notes.items():
        df = builders[name](spark, SF_DIR)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        lines += [f"## {name}", "", note, "", "```", buf.getvalue().rstrip(), "```", ""]
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/PLANS.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    spark.stop()
    print("wrote BENCH/PLANS.md")


def main() -> None:
    if "--scaling" in sys.argv:
        scaling_report()
        return
    if "--plans" in sys.argv:
        plan_report()
        return
    if "--calibration" in sys.argv:
        calibration_report()
        return
    case_filter = None
    if "--cases" in sys.argv:
        case_filter = set(sys.argv[sys.argv.index("--cases") + 1].split(","))
    print(json.dumps(run_once(case_filter)))


if __name__ == "__main__":
    main()
