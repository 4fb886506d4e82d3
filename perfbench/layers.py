"""Per-layer metrics of a traced run, named after the engine module measured.

Every traced run reports every metric below. A layer the workload never
calls reads 0, which is the prediction for it: the tile layers on
``joins_dedup``, the join and text layers on ``tiles``.

Sources: spans recorded around this benchmark's engine calls, Spark's
stage/task/SQL metrics for the job group of each call (``sparkstats``),
and a few probes run after the timed loop (never inside it).
"""

from __future__ import annotations

import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import sparkstats
import workloads
from engine.mvtcodec import fastpoints
from engine.pipeline import fixtures, index, joins, manifest, polytiler
from engine.spatial import clipbatch

UNITS = {
    "index.scan_geotag_s": "s",
    "tiler.map_stage_s": "s",
    "tiler.reduce_stage_s": "s",
    "tiler.shuffle_write_mb": "MB",
    "tiler.spill_mb": "MB",
    "tiler.gc_s": "s",
    "tiler.scheduler_delay_s": "s",
    "tiler.task_s_p50": "s",
    "tiler.task_s_max": "s",
    "tiler.tiles_per_s": "1/s",
    "mvtcodec.encode_ns_per_feature": "ns",
    "mvtcodec.bytes_per_feature": "B",
    "mvtcodec.encode_share_pct": "%",
    "spatial.clip_ns_per_vertex": "ns",
    "polytiler.vertex_rows": "count",
    "polytiler.stage_s": "s",
    "tilemerge.combined_tiles_s": "s",
    "tilemerge.partial_rows": "count",
    "tilemerge.merge_stage_s": "s",
    "joins.pip_plan": "code",
    "joins.knn_plan": "code",
    "joins.build_s": "s",
    "joins.pip_candidates_per_match": "ratio",
    "joins.knn_candidates_per_row": "ratio",
    "joins.broadcast_mb": "MB",
    "joins.shuffle_write_mb": "MB",
    "joins.task_s_max": "s",
    "joins.gc_s": "s",
    "joins.joined_rows_per_s": "1/s",
    "manifest.tiles_write_s": "s",
    "manifest.commit_s": "s",
    "manifest.resume_s": "s",
    "manifest.bytes_per_tile": "B",
    "manifest.stored_bytes_per_mvt_byte": "ratio",
    "manifest.resume_done_tiles": "count",
    "manifest.resume_pending_rows": "count",
    "textops.build_s": "s",
    "textops.jobs": "count",
    "textops.shuffle_write_mb": "MB",
    "textops.spill_mb": "MB",
    "textops.gc_s": "s",
    "session.start_s": "s",
    "session.check_s": "s",
    "session.jvm_heap_peak_mb": "MB",
    "session.peak_rss_mb": "MB",
    "session.failed_tasks": "count",
    "trace.pass_s": "s",
    "trace.untraced_pass_s": "s",
    "trace.overhead_pct": "%",
}

JOIN_NODES = r"Join|CartesianProduct"
PROBE_PASS = -2


def watch(tracer) -> None:
    """Spans around the plan functions the join choosers call."""
    tracer.watch(joins, "pip_join", "pip_join_partitioned", "knn_join", "knn_join_partitioned")


def _median_over(passes, fn) -> float:
    vals = [fn(p) for p in passes]
    return statistics.median(vals) if vals else 0.0


def _timed_probe(ctx, fn, reps: int = 3) -> float:
    """Median wall time of ``fn``, run after the timed loop."""
    ctx.stats.pass_no = ctx.tracer.pass_no = PROBE_PASS
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _noop_op(ctx, name: str, build) -> None:
    """Build a DataFrame and run it into the noop sink as operation ``name``."""
    with ctx.op(name):
        workloads.noop(build())


def _ns_per(fn, n_units: int, min_s: float = 0.3) -> float:
    """Nanoseconds per unit of work of a driver-side call, repeated for at
    least ``min_s`` (first call untimed)."""
    fn()
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return dt / reps / max(1, n_units) * 1e9


def _encode_batch(points) -> tuple:
    """The z0-14 feature rows of ``points`` sorted by (z, x, y, feature_id),
    as arrays in the layout the encode stage hands to fastpoints."""
    u, v = points["u"].to_numpy(), points["v"].to_numpy()
    parts = []
    for z in range(15):
        n = float(1 << z)
        x = np.clip(np.floor(u * n), 0, (1 << z) - 1).astype(np.int64)
        y = np.clip(np.floor(v * n), 0, (1 << z) - 1).astype(np.int64)
        parts.append((np.full(len(u), z), x, y, np.arange(len(u)), u * n * 4096 - x * 4096.0,
                      v * n * 4096 - y * 4096.0))
    z, x, y, row, px, py = (np.concatenate(c) for c in zip(*parts))
    fid = points["feature_id"].to_numpy()[row]
    order = np.lexsort((fid, y, x, z))
    key = np.stack([z[order], x[order], y[order]], axis=1)
    new = np.ones(len(order), dtype=bool)
    new[1:] = np.any(key[1:] != key[:-1], axis=1)
    counts = np.diff(np.append(np.flatnonzero(new), len(order)))
    langs = points["lang"].to_numpy(dtype=object)[row][order]
    return (
        counts,
        fid[order],
        np.trunc(px[order]).astype(np.int64),
        np.trunc(py[order]).astype(np.int64),
        {"lang": ("string", langs)},
    )


def _rings(seed: int, n_rings: int = 2000, k: int = 12):
    """Convex pixel-space rings scattered around one buffered tile."""
    rng = np.random.default_rng([seed, 5])
    c = rng.uniform(-1024, 5120, (n_rings, 2))
    r = rng.uniform(64, 2048, n_rings)
    ang = np.sort(rng.uniform(0, 2 * np.pi, (n_rings, k)), axis=1)
    pts = np.stack(
        [c[:, :1] + r[:, None] * np.cos(ang), c[:, 1:] + r[:, None] * np.sin(ang)], axis=2
    ).reshape(-1, 2)
    return pts, np.repeat(np.arange(n_rings), k)


def _tile_layers(ctx, out: dict, passes, fails: list) -> None:
    st = ctx.stats

    def pyramid(p):
        return sparkstats.stage_summary(st.stages(st.gids("point_pyramid", p)))

    def split(p, op):
        stages = st.stages(st.gids(op, p))
        m = sum(s["wall_s"] for s in stages if s["shuffle_write_mb"] > 0)
        r = sum(s["wall_s"] for s in stages if s["shuffle_write_mb"] == 0)
        return m, r

    per = {p: pyramid(p) for p in passes}
    out["tiler.map_stage_s"] = _median_over(passes, lambda p: split(p, "point_pyramid")[0])
    out["tiler.reduce_stage_s"] = _median_over(passes, lambda p: split(p, "point_pyramid")[1])
    for key, src in (
        ("shuffle_write_mb", "shuffle_write_mb"),
        ("spill_mb", "spill_mb"),
        ("gc_s", "gc_s"),
        ("scheduler_delay_s", "sched_delay_s"),
        ("task_s_p50", "task_s_p50"),
        ("task_s_max", "task_s_max"),
    ):
        out[f"tiler.{key}"] = _median_over(passes, lambda p: per[p][src])

    def write_parts(p):
        execs = st.sql_executions(st.gids("ckpt_write", p))
        tiles = sum(e["wall_s"] for e in execs if "/ckpt/tiles" in e["plan"])
        commit = sum(e["wall_s"] for e in execs if "/ckpt/manifest" in e["plan"])
        return tiles, commit

    out["manifest.tiles_write_s"] = _median_over(passes, lambda p: write_parts(p)[0])
    out["manifest.commit_s"] = _median_over(passes, lambda p: write_parts(p)[1])
    out["manifest.resume_s"] = _median_over(passes, lambda p: ctx.tracer.total("ckpt_resume", p))
    for key in ("manifest.bytes_per_tile", "manifest.stored_bytes_per_mvt_byte"):
        out[key] = ctx.layer[key]

    # probes, after the timed loop: what a resume over the completed
    # checkpoint directory finds done, and what it leaves to encode
    done = manifest.completed_tiles(ctx.spark, f"{workloads.ckpt_dir(ctx)}/manifest")
    out["manifest.resume_done_tiles"] = float(done.count())
    out["manifest.resume_pending_rows"] = float(
        manifest.pending_features(workloads.indexed(ctx), done).count()
    )

    # the combined point+polygon tiles run only here, after the timed loop:
    # once cold against their DuckDB twin, then timed
    with ThreadPoolExecutor(max_workers=1) as pool:
        want = pool.submit(workloads.oracle_combined, ctx)
        ctx.stats.pass_no = ctx.tracer.pass_no = PROBE_PASS - 1
        fails += workloads.check_combined(workloads.combined_tiles(ctx, True), want.result())
    out["tilemerge.combined_tiles_s"] = _timed_probe(
        ctx, lambda: workloads.combined_tiles(ctx), reps=2
    )
    probe = st.gids("combined_tiles", PROBE_PASS)

    # the exchange nearest the sink of the combined job feeds the merge;
    # the stages after it (no shuffle write) are the merge stage
    def merge_rows(gid):
        for ex in st.sql_executions([gid]):
            for name, m in ex["nodes"]:
                if name == "Exchange":
                    return m.get("shuffle records written", 0.0)
        return 0.0

    out["tilemerge.partial_rows"] = _median_over(probe, merge_rows)
    out["tilemerge.merge_stage_s"] = _median_over(
        probe,
        lambda g: sum(s["wall_s"] for s in st.stages([g]) if s["shuffle_write_mb"] == 0),
    )

    out["polytiler.stage_s"] = _timed_probe(
        ctx,
        lambda: _noop_op(
            ctx,
            "probe.polytiler",
            lambda: polytiler.encode_polygon_tiles(ctx.spark, ctx.inp.docs_dir, 0, 3),
        ),
    )
    execs = st.sql_executions(st.gids("probe.polytiler", PROBE_PASS))
    out["polytiler.vertex_rows"] = sparkstats.node_metric(
        execs, r"^Exchange$", "shuffle records written"
    ) / max(1, len(st.gids("probe.polytiler", PROBE_PASS)))

    points = ctx.layer["points"]
    batch = _encode_batch(points)
    n_feat = int(batch[0].sum())
    out["mvtcodec.encode_ns_per_feature"] = _ns_per(
        lambda: fastpoints.encode_point_tiles_sorted(*batch, "pages", 4096), n_feat
    )
    out["mvtcodec.bytes_per_feature"] = ctx.items["mvt_bytes"] / ctx.items["features"]
    pts, rid = _rings(ctx.seed)
    out["spatial.clip_ns_per_vertex"] = _ns_per(
        lambda: clipbatch.clip_rings(pts, rid, -128.0, -128.0, 4224.0, 4224.0), len(pts)
    )


def _join_text_layers(ctx, out: dict, passes) -> None:
    st, tr = ctx.stats, ctx.tracer
    out["joins.pip_plan"] = 1.0 if tr.calls.get("joins.pip_join") else (
        2.0 if tr.calls.get("joins.pip_join_partitioned") else 0.0
    )
    out["joins.knn_plan"] = 1.0 if tr.calls.get("joins.knn_join") else (
        2.0 if tr.calls.get("joins.knn_join_partitioned") else 0.0
    )
    out["joins.build_s"] = _median_over(
        passes, lambda p: tr.total("pip.build", p) + tr.total("knn.build", p)
    )
    out["joins.pip_candidates_per_match"] = _median_over(
        passes,
        lambda p: sparkstats.node_rows(st.sql_executions(st.gids("pip", p)), JOIN_NODES)
        / ctx.items["pip"],
    )
    out["joins.knn_candidates_per_row"] = _median_over(
        passes,
        lambda p: sparkstats.node_rows(st.sql_executions(st.gids("knn", p)), JOIN_NODES)
        / ctx.items["knn"],
    )
    out["joins.broadcast_mb"] = _median_over(
        passes,
        lambda p: sparkstats.node_metric(
            st.sql_executions(st.gids("pip", p) + st.gids("knn", p)),
            r"^BroadcastExchange$",
            "data size",
        )
        / 2**20,
    )
    per = {
        p: sparkstats.stage_summary(st.stages(st.gids("pip", p) + st.gids("knn", p)))
        for p in passes
    }
    out["joins.shuffle_write_mb"] = _median_over(passes, lambda p: per[p]["shuffle_write_mb"])
    out["joins.task_s_max"] = _median_over(passes, lambda p: per[p]["task_s_max"])
    out["joins.gc_s"] = _median_over(passes, lambda p: per[p]["gc_s"])

    out["textops.build_s"] = _median_over(passes, lambda p: tr.total("dedup.build", p))
    out["textops.jobs"] = _median_over(passes, lambda p: st.n_jobs(st.gids("dedup", p)))
    text = {p: sparkstats.stage_summary(st.stages(st.gids("dedup", p))) for p in passes}
    out["textops.shuffle_write_mb"] = _median_over(passes, lambda p: text[p]["shuffle_write_mb"])
    out["textops.spill_mb"] = _median_over(passes, lambda p: text[p]["spill_mb"])
    out["textops.gc_s"] = _median_over(passes, lambda p: text[p]["gc_s"])


def _jvm_heap_peak_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    heap = jvm.java.lang.management.MemoryType.HEAP
    return sum(
        p.getPeakUsage().getUsed() for p in pools if p.getType().equals(heap)
    ) / 2**20


def per_layer(ctx, wl, passes) -> tuple[dict, list]:
    """Every per-layer metric as {name: (value, unit)}, and the failures of
    the checks run by the probes."""
    out = {name: 0.0 for name in UNITS}
    fails: list[str] = []
    if wl.name == "tiles":
        _tile_layers(ctx, out, passes, fails)
    else:
        _join_text_layers(ctx, out, passes)
    out["index.scan_geotag_s"] = _timed_probe(
        ctx,
        lambda: _noop_op(
            ctx,
            "probe.scan_geotag",
            lambda: index.with_unit(
                fixtures.geotag_df(fixtures.pages_df(ctx.spark, ctx.inp.docs_dir))
            ),
        ),
    )
    all_stages = [g for _, g, p in ctx.stats.groups if p >= 0]
    out["session.failed_tasks"] = float(
        sparkstats.stage_summary(ctx.stats.stages(all_stages))["failed_tasks"]
    )
    out["session.jvm_heap_peak_mb"] = _jvm_heap_peak_mb(ctx.spark)
    # session.peak_rss_mb is sampled from outside, by the supervisor
    return {
        name: (float(v), UNITS[name]) for name, v in out.items() if name != "session.peak_rss_mb"
    }, fails
