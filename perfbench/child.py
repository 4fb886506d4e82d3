"""One benchmark run inside its own process (started by run.py).

Set-up is timed from process start (``PERFBENCH_T0``, set by run.py just
before it starts this process): interpreter, imports, JVM launch, session
up, seeded inputs written. That is ``setup_s``; every run, and every user
run, pays it once. Then the check pass runs every job once, collecting
outputs and comparing them with the oracles; it is also the warm-up, and
is never timed. Then the jobs run back to back (one client, closed loop)
for about ``--seconds``, and the median of each job's times is reported.

With ``--trace 1`` passes alternate between untraced and traced, so the
run states its own tracing overhead, and per-layer metrics are read from
the traced passes.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor


def _on_sigterm(signum, frame):
    # unwinds through the finally blocks, which stop the session
    raise SystemExit(128 + signum)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def start_session():
    from engine.pipeline.session import get_spark

    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    spark = get_spark(master=f"local[{cpus}]", app_name="perfbench")
    spark.range(1).count()  # the session is up once it has run a job
    return spark


def setup(wl, seed: int, work: str, t0_wall: float):
    """Session up and inputs written; returns (spark, inputs, setup_s,
    session_s), both times counted from process start."""
    import workloads

    spark = start_session()
    session_s = time.time() - t0_wall
    inp = workloads.make_inputs(wl, seed, os.path.join(work, "inputs"))
    return spark, inp, time.time() - t0_wall, session_s


def stop_session() -> None:
    """Stop the session, if one started, then the JVM behind it, and wait
    for it to exit. A session half built when SIGTERM came is stopped too."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:  # the supervisor kills what is left
            proc.kill()


def check_pass(ctx, wl) -> list[str]:
    """Warm-up and check: every job once, collecting its output, while the
    oracles (DuckDB, outside the JVM) answer from the inputs in a thread."""
    with ThreadPoolExecutor(max_workers=1) as pool:
        answers = pool.submit(wl.oracle, ctx)
        outputs = {}
        for name, fn in wl.jobs:
            with ctx.tracer.span(f"check.{name}"):
                outputs[name] = fn(ctx, True)
            ctx.spark.catalog.clearCache()
        with ctx.tracer.span("check.oracles"):
            return wl.check(ctx, outputs, answers.result())


# untimed passes between the check pass and the timed ones: the first
# pass after the (cold) check pass still runs 10-30% slower than later ones
WARMUP_PASSES = 1


def timed_passes(ctx, wl, seconds: float, trace: bool, flag: str):
    """The timed passes; returns per-job seconds and pass seconds keyed by
    traced/untraced, both in pass order.

    The pass count comes from ``seconds`` and the workload's nominal pass
    time, not from the clock, so a faster or slower engine is timed over
    the same passes: at least two, and at least three in a traced run
    (untraced, traced, untraced), so the warm-up trend between passes
    cancels out of the tracing overhead.
    """
    ctx.tracer.enabled = ctx.stats.enabled = False
    for _ in range(WARMUP_PASSES):
        for _, fn in wl.jobs:
            fn(ctx)
    n_passes = max(3 if trace else 2, int(seconds // wl.nominal_pass_s))
    secs = {name: [] for name, _ in wl.jobs}
    pass_s = {True: [], False: []}
    open(flag, "w").close()  # the supervisor samples memory while it exists
    for i in range(n_passes):
        traced = trace and i % 2 == 1
        ctx.tracer.enabled = ctx.stats.enabled = traced
        ctx.tracer.pass_no = ctx.stats.pass_no = i
        t_pass = time.perf_counter()
        for name, fn in wl.jobs:
            t = time.perf_counter()
            with ctx.tracer.span(f"job.{name}"):
                fn(ctx)
            secs[name].append(time.perf_counter() - t)
        pass_s[traced].append(time.perf_counter() - t_pass)
    os.remove(flag)
    ctx.tracer.enabled = ctx.stats.enabled = trace
    return secs, pass_s


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _on_sigterm)
    t0_wall = float(os.environ["PERFBENCH_T0"])
    trace = bool(args.trace)

    import layers
    import sparkstats
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    try:
        spark, inp, setup_s, session_s = setup(wl, args.seed, args.work, t0_wall)
        tracer = sparkstats.Tracer(trace)
        ctx = workloads.Ctx(
            spark, tracer, sparkstats.SparkStats(spark, trace), inp, args.work, args.seed
        )
        if trace:
            layers.watch(tracer)

        t = time.perf_counter()
        fails = check_pass(ctx, wl)
        check_s = time.perf_counter() - t
        secs, pass_s = timed_passes(
            ctx, wl, args.seconds, trace, os.path.join(args.work, "timed")
        )
        passes = len(pass_s[True]) + len(pass_s[False])
        print(
            f"perfbench: setup {setup_s:.1f}s check {check_s:.1f}s passes {passes} "
            + " ".join(f"{k}={[round(x, 2) for x in v]}" for k, v in secs.items()),
            file=sys.stderr,
        )

        # job medians over the untraced passes (every pass of an untraced run)
        med = {name: _median(v[:: 2 if trace else 1]) for name, v in secs.items()}
        rates = workloads.throughput(ctx, med)
        if trace:
            metrics, probe_fails = layers.per_layer(ctx, wl, list(range(1, passes, 2)))
            fails += probe_fails
            for name, v in rates.items():
                layer = "tiler" if name == "tiles_per_s" else "joins"
                metrics[f"{layer}.{name}"] = (v, "1/s")
            if "point_pyramid" in med:
                # the driver-timed encode of the pyramid's features, as a
                # share of the whole job: how far an encoder change can move it
                ns = metrics["mvtcodec.encode_ns_per_feature"][0]
                share = 100.0 * ns * ctx.items["features"] / 1e9 / med["point_pyramid"]
                metrics["mvtcodec.encode_share_pct"] = (share, "%")
            traced, untraced = _median(pass_s[True]), _median(pass_s[False])
            metrics.update(
                {
                    "session.start_s": (session_s, "s"),
                    "session.check_s": (check_s, "s"),
                    "trace.pass_s": (traced, "s"),
                    "trace.untraced_pass_s": (untraced, "s"),
                    "trace.overhead_pct": (100.0 * (traced / untraced - 1.0), "%"),
                }
            )
            tracer.unwatch()
            tracer.dump(os.path.join(args.work, "spans.json"))
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "pass_s": (_median(pass_s[False]), "s"),
                **{f"job{i + 1}_s": (med[name], "s") for i, (name, _) in enumerate(wl.jobs)},
            }
        for msg in fails:
            print(f"CHECK FAILED [{wl.name}] {msg}", file=sys.stderr)
        named = {f"{name}_s": (v, "s") for name, v in med.items()}
        named.update({k: (v, "1/s") for k, v in rates.items()})
        result = {
            "correct": not fails,
            "attempted": len(wl.jobs) * (passes + 1 + WARMUP_PASSES),
            "failed": len(fails),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
            "passes": passes,
        }
        with open(args.result, "w") as f:
            json.dump(result, f)
        return 0 if not fails else 1
    finally:
        stop_session()


if __name__ == "__main__":
    sys.exit(main())
