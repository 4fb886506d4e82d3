"""Tests of the benchmark itself: its checks bite, and it leaves no process.

    python3 -m pytest perfbench -q -p no:cacheprovider

The process tests start real Spark runs (about a minute each on 4 cores)
and carry the ``slow`` marker; ``-m "not slow"`` leaves them out.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import procs  # noqa: E402
from engine.mvtcodec import fastpoints  # noqa: E402


# ------------------------------------------------------ checks are not vacuous


def _points(n=400, seed=0) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "feature_id": rng.choice(2**62, n, replace=False).astype(np.int64),
            "lang": rng.choice(["en", "de", "zh"], n).astype(object),
            "u": rng.uniform(0.40, 0.45, n),
            "v": rng.uniform(0.30, 0.35, n),
        }
    )


def _engine_tiles(points: pd.DataFrame, z: int) -> pd.DataFrame:
    """Tiles of one zoom level encoded by the engine's point encoder."""
    n = float(1 << z)
    pts = points.assign(
        x=np.floor(points["u"] * n).astype(np.int64),
        y=np.floor(points["v"] * n).astype(np.int64),
    ).sort_values(["x", "y", "feature_id"])
    rows = []
    for (x, y), g in pts.groupby(["x", "y"], sort=True):
        px = np.trunc(g["u"].to_numpy() * n * 4096 - x * 4096.0).astype(np.int64)
        py = np.trunc(g["v"].to_numpy() * n * 4096 - y * 4096.0).astype(np.int64)
        mvt = fastpoints.encode_point_tile(
            "pages", 4096, g["feature_id"].to_numpy(), px, py,
            {"lang": ("string", g["lang"].to_numpy(dtype=object))},
        )
        rows.append((z, int(x), int(y), len(g), mvt))
    return pd.DataFrame(rows, columns=["z", "x", "y", "n_features", "mvt"])


def test_tile_check_catches_one_flipped_byte():
    points = _points()
    tiles = pd.concat([_engine_tiles(points, z) for z in (6, 9)], ignore_index=True)
    keys = checks.sample_tile_keys(tiles, seed=1)
    assert checks.point_tile_bytes(tiles, points, keys) is None

    victim = tiles.index[(tiles["z"] == keys[0][0]) & (tiles["x"] == keys[0][1])
                         & (tiles["y"] == keys[0][2])][0]
    data = bytearray(tiles.at[victim, "mvt"])
    data[len(data) // 2] ^= 0x01
    flipped = tiles.copy()
    flipped.at[victim, "mvt"] = bytes(data)
    assert checks.point_tile_bytes(flipped, points, keys) is not None
    # the per-tile feature counts alone cannot see it; the byte check must
    cols = ["z", "x", "y", "n_features"]
    assert checks.same_rows(flipped, tiles, cols) is None


def test_join_check_catches_one_dropped_row():
    rng = np.random.default_rng(2)
    want = pd.DataFrame(
        {
            "url": [f"https://site{i % 50:06d}.example/{i}" for i in range(300)],
            "poly_id": rng.integers(0, 1000, 300),
        }
    )
    got = want.sample(frac=1.0, random_state=3)  # same rows, other order
    assert checks.same_rows(got, want, ["url", "poly_id"]) is None
    assert checks.same_rows(got.iloc[1:], want, ["url", "poly_id"]) is not None


def test_join_check_catches_one_changed_value():
    want = pd.DataFrame({"url": ["a", "b"], "poly_id": [1, 2], "dist2": [0.5, 0.25]})
    got = want.copy()
    got.loc[1, "dist2"] = np.nextafter(0.25, 1.0)
    assert checks.same_rows(got, want, ["url", "poly_id", "dist2"]) is not None


# ------------------------------------------------------- no process survives


def _marked_pids() -> list[int]:
    """Every live process started by any benchmark run."""
    token = procs.RUN_MARKER.encode() + b"="
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                env = f.read().split(b"\0")
            with open(f"/proc/{name}/stat", "rb") as f:
                state = f.read().rsplit(b")", 1)[1].split()[0]
        except OSError:
            continue
        if state not in (b"Z", b"X") and any(e.startswith(token) for e in env):
            out.append(int(name))
    return out


def _bench(*args, env=None, **kw):
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=ROOT,
        env={**os.environ, **(env or {})},
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
        **kw,
    )


def _wait_for_jvm(proc, timeout_s=90.0) -> None:
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline and proc.poll() is None:
        for pid in _marked_pids():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    if b"java" in f.read():
                        return
            except OSError:
                continue
        time.sleep(0.5)
    raise AssertionError("no JVM appeared")


@pytest.fixture
def no_stray_runs():
    assert _marked_pids() == [], "another benchmark run is alive"


@pytest.mark.slow
def test_normal_run_leaves_nothing(no_stray_runs):
    proc = _bench("--workload", "tiles", "--seed", "5", "--seconds", "1")
    out, _ = proc.communicate(timeout=240)
    assert proc.returncode == 0
    assert '"correct": true' in out.strip().splitlines()[-1]
    assert _marked_pids() == []


@pytest.mark.slow
def test_forced_timeout_leaves_nothing(no_stray_runs):
    proc = _bench(
        "--workload", "joins_dedup", "--seed", "5", "--seconds", "1",
        env={"PERFBENCH_TIMEOUT_S": "25"},
    )
    out, _ = proc.communicate(timeout=120)
    assert proc.returncode == 124
    assert '"correct"' not in out
    assert _marked_pids() == []


@pytest.mark.slow
@pytest.mark.parametrize("sig", [signal.SIGINT, signal.SIGTERM])
def test_interrupt_leaves_nothing(no_stray_runs, sig):
    proc = _bench("--workload", "tiles", "--seed", "5", "--seconds", "1")
    _wait_for_jvm(proc)
    proc.send_signal(sig)
    out, _ = proc.communicate(timeout=60)
    assert proc.returncode == 128 + sig
    assert '"correct"' not in out
    assert _marked_pids() == []


def test_fails_without_engine_sources(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tiles", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert r.returncode != 0
    assert '"correct"' not in r.stdout
