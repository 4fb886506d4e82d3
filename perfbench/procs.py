"""Finding, measuring and stopping every process one benchmark run starts.

A run is one child Python process started in a new session. Everything it
starts inherits that session id: the Spark JVM (launched by PySpark with a
plain ``Popen``) and the ``pyspark.daemon`` the JVM forks (which only moves
itself to its own process *group*, so a group kill alone would miss it).
Each process also inherits ``RUN_MARKER`` in its environment, which catches
anything that did call ``setsid``.

The supervisor makes itself a child subreaper, so processes orphaned when
the child exits are re-parented to it and can be reaped here instead of
lingering as zombies of init.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

RUN_MARKER = "PERFBENCH_RUN_ID"
_PR_SET_CHILD_SUBREAPER = 36
_PAGE = os.sysconf("SC_PAGE_SIZE")


def become_subreaper() -> bool:
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, session id) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may contain spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    return fields[0], int(fields[3])


def _has_marker(pid: int, token: bytes) -> bool:
    try:
        with open(f"/proc/{pid}/environ", "rb") as f:
            return token in f.read().split(b"\0")
    except OSError:
        return False


def run_pids(session_id: int, run_id: str | None = None) -> list[int]:
    """Live (non-zombie) processes of the run, other than this one: those
    in its session and, when ``run_id`` is given, those carrying its
    marker (reading every environment is slower, so the sampler skips it)."""
    token = f"{RUN_MARKER}={run_id}".encode() if run_id else None
    me = os.getpid()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == me:
            continue
        pid = int(name)
        st = _stat(pid)
        if st is None or st[0] in ("Z", "X"):
            continue
        if st[1] == session_id or (token and _has_marker(pid, token)):
            out.append(pid)
    return out


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                total += int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue
    return total * _PAGE / 2**20


def reap_children() -> None:
    """Collect every exited child (orphans re-parented to us included)."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def kill_run(session_id: int, run_id: str, timeout_s: float = 30.0) -> list[int]:
    """SIGKILL every process of the run and wait until none is alive.

    Returns the pids still alive at the deadline (empty on success).
    """
    deadline = time.monotonic() + timeout_s
    while True:
        pids = run_pids(session_id, run_id)
        if not pids or time.monotonic() > deadline:
            reap_children()
            return pids
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
        reap_children()
