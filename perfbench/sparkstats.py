"""Observing a run from outside the engine: spans and Spark's own metrics.

``Tracer`` records spans (name, start, end, parent) around the calls this
benchmark makes into ``engine.*`` and keeps them in memory until the run
ends. ``SparkStats`` tags every action with its own job group and reads
that group's stages, tasks and SQL plan metrics back from Spark's status
stores, which stay queryable with ``spark.ui.enabled=false``. Both are
only switched on for a traced run, so an untraced run measures the engine
alone.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import threading
import time

from py4j.protocol import Py4JJavaError


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.pass_no = -1
        self.spans: list[dict] = []
        self._local = threading.local()  # per-thread stack of open span ids
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self.calls: dict[str, int] = {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            rec = {
                "id": len(self.spans),
                "name": name,
                "parent": stack[-1] if stack else None,
                "pass": self.pass_no,
                "start": time.perf_counter(),
                "end": None,
                **attrs,
            }
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def watch(self, module, *names: str) -> None:
        """Wrap ``module.<name>`` so each call records a span and a count.

        Engine code resolves these names through its module globals, so a
        chooser calling a plan function is seen too. ``unwatch`` restores
        them.
        """
        for name in names:
            orig = getattr(module, name)
            label = f"{module.__name__.rsplit('.', 1)[-1]}.{name}"

            def wrapper(*a, _orig=orig, _label=label, **kw):
                if not self.enabled:
                    return _orig(*a, **kw)
                self.calls[_label] = self.calls.get(_label, 0) + 1
                with self.span(_label):
                    return _orig(*a, **kw)

            self._patched.append((module, name, orig))
            setattr(module, name, wrapper)

    def unwatch(self) -> None:
        while self._patched:
            module, name, orig = self._patched.pop()
            setattr(module, name, orig)

    def total(self, name: str, pass_no: int) -> float:
        """Summed duration of the spans called ``name`` in one pass."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["pass"] == pass_no
        )

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A SQL UI metric string as a number (bytes for sizes, s for times).

    Sum metrics read "12,345"; size and timing metrics read
    "total (min, med, max ...)\\n12.3 MiB (...)" — the first figure after
    the header is the total.
    """
    body = text.split("\n", 1)[-1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", body)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkStats:
    """Per-action job groups and their stage, task and SQL metrics."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self._seq = itertools.count()
        self.pass_no = -1
        # (op, job group id, pass number) per traced action
        self.groups: list[tuple[str, str, int]] = []
        # each py4j read happens once: per group, per execution, and the
        # job -> execution index (rebuilt when executions were added)
        self._stage_cache: dict[str, list[dict]] = {}
        self._exec_cache: dict[int, dict] = {}
        self._job_exec: dict[int, object] = {}
        self._n_execs = -1

    @contextlib.contextmanager
    def group(self, op: str):
        """Run the body's actions under a fresh job group named after ``op``."""
        if not self.enabled:
            yield
            return
        gid = f"{op}#{next(self._seq)}"
        self.groups.append((op, gid, self.pass_no))
        sc = self.spark.sparkContext
        sc.setJobGroup(gid, op, False)
        try:
            yield
        finally:
            sc._jsc.clearJobGroup()

    # -- py4j plumbing ------------------------------------------------------

    def _jvm(self):
        return self.spark.sparkContext._jvm

    def _list(self, scala_seq) -> list:
        return list(self._jvm().scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))

    def _job_ids(self, gid: str) -> set[int]:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(gid))

    def gids(self, op: str, pass_no: int) -> list[str]:
        """Groups of ``op`` (and of its dotted sub-ops) in one pass."""
        return [
            g for o, g, p in self.groups
            if p == pass_no and (o == op or o.startswith(op + "."))
        ]

    def stages(self, gids: list[str]) -> list[dict]:
        """Every stage attempt that ran for the given job groups."""
        out = []
        for gid in gids:
            if gid not in self._stage_cache:
                self._stage_cache[gid] = self._read_stages(gid)
            out += self._stage_cache[gid]
        return out

    def _read_stages(self, gid: str) -> list[dict]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        no_q = sc._gateway.new_array(self._jvm().double, 0)
        empty = self._jvm().java.util.ArrayList()
        out = []
        seen = set()
        for jid in sorted(self._job_ids(gid)):
            info = sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = self._list(store.stageData(sid, False, empty, False, no_q))
                except Py4JJavaError:  # never ran, or evicted: no record
                    continue
                for st in attempts:
                    if st.status().toString() != "SKIPPED":
                        out.append(self._stage_record(store, st))
        return out

    def _stage_record(self, store, st) -> dict:
        sub, done = st.submissionTime(), st.completionTime()
        wall = (
            (done.get().getTime() - sub.get().getTime()) / 1e3
            if sub.isDefined() and done.isDefined()
            else 0.0
        )
        tasks = self._list(store.taskList(st.stageId(), st.attemptId(), 1 << 20))
        durations, delays = [], []
        for t in tasks:
            d = t.duration()
            durations.append(d.get() / 1e3 if d.isDefined() else 0.0)
            delays.append(t.schedulerDelay() / 1e3)
        return {
            "stage_id": st.stageId(),
            "wall_s": wall,
            "run_s": st.executorRunTime() / 1e3,
            "gc_s": st.jvmGcTime() / 1e3,
            "shuffle_read_mb": st.shuffleReadBytes() / 2**20,
            "shuffle_write_mb": st.shuffleWriteBytes() / 2**20,
            "spill_mb": st.diskBytesSpilled() / 2**20,
            "failed_tasks": st.numFailedTasks(),
            "task_s": durations,
            "sched_delay_s": sum(delays),
        }

    def n_jobs(self, gids: list[str]) -> int:
        return sum(len(self._job_ids(g)) for g in gids)

    def sql_executions(self, gids: list[str]) -> list[dict]:
        """SQL executions of the groups: wall time, plan text, node metrics."""
        if not gids:
            return []
        sql = self.spark._jsparkSession.sharedState().statusStore()
        if sql.executionsCount() != self._n_execs:
            self._n_execs = sql.executionsCount()
            self._job_exec = {
                int(j): ex
                for ex in self._list(sql.executionsList())
                for j in self._list(ex.jobs().keys())
            }
        by_id = {}
        for gid in gids:
            for j in self._job_ids(gid):
                if j in self._job_exec:
                    ex = self._job_exec[j]
                    by_id[ex.executionId()] = ex
        for eid, ex in by_id.items():
            if eid not in self._exec_cache:
                self._exec_cache[eid] = self._read_execution(sql, ex)
        return [self._exec_cache[eid] for eid in sorted(by_id)]

    def _read_execution(self, sql, ex) -> dict:
        eid = ex.executionId()
        values = dict(
            self._jvm().scala.jdk.javaapi.CollectionConverters.asJava(sql.executionMetrics(eid))
        )
        nodes = []
        for node in self._list(sql.planGraph(eid).allNodes()):
            metrics = {}
            for m in self._list(node.metrics()):
                raw = values.get(m.accumulatorId())
                if raw is not None:
                    metrics[m.name()] = parse_metric(raw)
            nodes.append((node.name(), metrics))
        done = ex.completionTime()
        wall = (done.get().getTime() - ex.submissionTime()) / 1e3 if done.isDefined() else 0.0
        return {"id": eid, "wall_s": wall, "plan": ex.physicalPlanDescription(), "nodes": nodes}


def stage_summary(stages: list[dict]) -> dict:
    """Totals over a set of stages, plus the task-time p50 and max."""
    tasks = sorted(t for s in stages for t in s["task_s"])
    return {
        "wall_s": sum(s["wall_s"] for s in stages),
        "gc_s": sum(s["gc_s"] for s in stages),
        "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        "spill_mb": sum(s["spill_mb"] for s in stages),
        "sched_delay_s": sum(s["sched_delay_s"] for s in stages),
        "failed_tasks": sum(s["failed_tasks"] for s in stages),
        "task_s_p50": tasks[len(tasks) // 2] if tasks else 0.0,
        "task_s_max": tasks[-1] if tasks else 0.0,
    }


def node_rows(executions: list[dict], name_re: str) -> float:
    """Sum of "number of output rows" over plan nodes whose name matches."""
    pat = re.compile(name_re)
    return sum(
        m.get("number of output rows", 0.0)
        for ex in executions
        for name, m in ex["nodes"]
        if pat.search(name)
    )


def node_metric(executions: list[dict], name_re: str, metric: str) -> float:
    pat = re.compile(name_re)
    return sum(
        m.get(metric, 0.0) for ex in executions for name, m in ex["nodes"] if pat.search(name)
    )
