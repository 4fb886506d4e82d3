"""Benchmark entry point: one workload, one seed, one fresh process tree.

    python3 perfbench/run.py --workload tiles --seed 1 --seconds 10 --trace 0

Runs ``child.py`` in a new session with Spark sized to this machine and
all scratch space inside the checkout, samples the resident memory of
every process of the run (driver, JVM, Python workers), and on any exit
(normal end, failure, timeout, SIGINT or SIGTERM) stops the child, kills
whatever it left behind and waits until no process of the run remains.

The last line of standard output is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Everything else (Spark's logs, the child's output) goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
TRACE_OUT = os.path.join(ROOT, ".perfbench_out")
# the whole command must end within 180 s; leave room for the teardown
CHILD_TIMEOUT_S = float(os.environ.get("PERFBENCH_TIMEOUT_S", "160"))
GRACE_S = 8.0


def _driver_mem() -> str:
    """1.5 GiB, or a quarter of physical RAM if less: the inputs are small,
    and every heap page a fresh JVM touches is a first-touch page fault."""
    ram_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20
    return f"{min(1536, ram_mb // 4)}m"


def _jvm_opts(mem: str) -> str:
    """A fixed heap, touched while the JVM starts. On a VM whose memory the
    host hands back lazily, a first touch costs several times a second
    one, and the host sets how much more; this keeps it out of the timed
    jobs, and keeps the heap from resizing during them."""
    return f"-Xms{mem} -XX:+AlwaysPreTouch"


def child_env(work: str, run_id: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = _driver_mem()
    env = dict(os.environ)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_GRAFT_DRIVER_MEM": mem,
            "SPARK_GRAFT_TMP": os.path.join(work, "fixtures"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "TMPDIR": tmp,
            "PYSPARK_SUBMIT_ARGS": (
                "--driver-java-options "
                f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData {_jvm_opts(mem)}' pyspark-shell"
            ),
            # the launcher JVM spark-submit starts first: no /tmp/hsperfdata
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            "PYTHONDONTWRITEBYTECODE": "1",
            procs.RUN_MARKER: run_id,
            "PERFBENCH_T0": repr(time.time()),
        }
    )
    return env


class RssSampler(threading.Thread):
    """Peak of the summed resident memory of the run's processes, sampled
    while ``flag`` exists: the child creates it for the timed passes only,
    so set-up and the checker's own memory (DuckDB, collected outputs) are
    left out."""

    def __init__(self, session_id: int, flag: str, period_s: float = 0.25):
        super().__init__(daemon=True)
        self.session_id, self.flag, self.period_s = session_id, flag, period_s
        self.peak_mb = 0.0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            if os.path.exists(self.flag):
                pids = procs.run_pids(self.session_id)
                self.peak_mb = max(self.peak_mb, procs.rss_mb(pids))
            self._halt.wait(self.period_s)

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=5)


def _terminate(child) -> None:
    """SIGTERM the child once: its handler unwinds through the finally that
    stops the session, and a second one could cut that short."""
    if getattr(child, "terminated", False):
        return
    child.terminated = True
    try:
        child.send_signal(signal.SIGTERM)
    except ProcessLookupError:
        pass


def supervise(args, work: str, run_id: str) -> tuple[int, dict | None]:
    """Run the child to completion or deadline; (exit code, result)."""
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable,
        os.path.join(HERE, "child.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
        "--result", result_path,
    ]
    stop = {"signal": None, "child": None}

    def on_signal(signum, frame):
        # a signal before the child exists is acted on once Popen returns
        stop["signal"] = signum
        if stop["child"] is not None:
            _terminate(stop["child"])

    # handlers first: from here on, any signal ends in the teardown below
    old = {s: signal.signal(s, on_signal) for s in (signal.SIGINT, signal.SIGTERM)}
    child = sampler = None
    try:
        child = stop["child"] = subprocess.Popen(
            cmd,
            cwd=work,
            env=child_env(work, run_id),
            stdin=subprocess.DEVNULL,
            stdout=sys.stderr.fileno(),
            stderr=sys.stderr.fileno(),
            start_new_session=True,
        )
        if stop["signal"] is not None:
            _terminate(child)
        # memory is a per-layer figure: sampled in traced runs only
        if args.trace:
            sampler = RssSampler(child.pid, os.path.join(work, "timed"))
            sampler.start()
        deadline = time.monotonic() + CHILD_TIMEOUT_S
        while child.poll() is None:
            if stop["signal"] is None and time.monotonic() > deadline:
                print(f"perfbench: child exceeded {CHILD_TIMEOUT_S:.0f} s, stopping it",
                      file=sys.stderr)
                stop["signal"] = "timeout"
                _terminate(child)
            if stop["signal"] is not None:
                try:
                    child.wait(timeout=GRACE_S)
                except subprocess.TimeoutExpired:
                    child.kill()
                    child.wait()
                break
            time.sleep(0.1)
    finally:
        if sampler:
            sampler.stop()
        left = procs.kill_run(child.pid, run_id) if child is not None else []
        for s, h in old.items():
            signal.signal(s, h)
    if left:
        print(f"perfbench: processes still alive after teardown: {left}", file=sys.stderr)
        return 1, None
    if stop["signal"] == "timeout":
        return 124, None
    if stop["signal"] is not None:
        return 128 + stop["signal"], None
    try:
        with open(result_path) as f:
            result = json.load(f)
    except (OSError, ValueError):
        return child.returncode or 1, None
    if args.trace:
        result["metrics"]["session.peak_rss_mb"] = {"value": sampler.peak_mb, "unit": "MB"}
    return child.returncode, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if not os.path.isfile(os.path.join(ROOT, "engine", "pipeline", "session.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    if not procs.become_subreaper():
        print("perfbench: cannot become a child subreaper; orphans go to init",
              file=sys.stderr)

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(WORK_ROOT, f"{args.workload}-{run_id}")
    os.makedirs(work)
    try:
        code, result = supervise(args, work, run_id)
        if args.trace and os.path.exists(os.path.join(work, "spans.json")):
            os.makedirs(TRACE_OUT, exist_ok=True)
            shutil.copy(
                os.path.join(work, "spans.json"),
                os.path.join(TRACE_OUT, f"spans-{args.workload}-seed{args.seed}.json"),
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass
    if result is None:
        return code or 1
    named = ", ".join(
        f"{k} = {v['value']:.4f} {v['unit']}" for k, v in result.pop("named", {}).items()
    )
    print(f"# {args.workload} seed {args.seed}, {result.pop('passes', 0)} timed passes: {named}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.stdout.flush()
    return code


if __name__ == "__main__":
    sys.exit(main())
