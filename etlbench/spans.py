"""Spans for the traced run, and the fold of Spark's event log onto them.

A span records its name, layer, start, end, parent and the run id. In a
traced run each span also becomes the Spark job group while it is open,
so every job the event log records carries the id of the innermost span
that caused it. After the run the uncompressed local event log is read
back and its jobs, stages and task metrics are summed per span subtree.

The program is not edited: ``patch`` swaps each public function of the
named modules for a span-opening wrapper, in every module of the package
that bound the original, and puts the originals back afterwards. The
wrapper keeps the original's ``__module__``/``__qualname__`` and is the
module attribute while patched, so cloudpickle still ships it to Python
workers by reference (where it resolves to the unpatched original).
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc  # None: time spans only, no job groups
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"{self.run_id}:{len(self.spans)}",
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced


def public_functions(module) -> list[str]:
    return [
        n
        for n, f in vars(module).items()
        if inspect.isfunction(f)
        and not n.startswith("_")
        and f.__module__ == module.__name__
    ]


def patch(tracer: Tracer, targets, package: str):
    """Wrap ``(module, prefix, layer)`` targets' public functions; return
    an undo callable."""
    undo = []
    mods = [m for n, m in list(sys.modules.items()) if n.startswith(package) and m]
    for module, prefix, layer in targets:
        for n in public_functions(module):
            orig = getattr(module, n)
            wrapped = tracer.wrap(orig, f"{prefix}.{n}", layer)
            for m in mods:
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapped)
                        undo.append((m, attr, orig))

    def restore():
        for m, attr, orig in reversed(undo):
            setattr(m, attr, orig)

    return restore


# --------------------------------------------------------------------------
# Span arithmetic
# --------------------------------------------------------------------------
def dur(s: dict) -> float:
    return s["end"] - s["start"]


def children_index(spans):
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    return kids


def subtree_ids(span: dict, kids: dict) -> set:
    out, todo = set(), [span]
    while todo:
        s = todo.pop()
        out.add(s["id"])
        todo.extend(kids.get(s["id"], []))
    return out


def outermost_total(spans, name: str) -> float:
    """Total time in spans called ``name``, counting a self-nested call
    once (its outermost occurrence)."""
    by_id = {s["id"]: s for s in spans}
    total = 0.0
    for s in spans:
        if s["name"] != name:
            continue
        p = by_id.get(s["parent"])
        nested = False
        while p is not None:
            if p["name"] == name:
                nested = True
                break
            p = by_id.get(p["parent"])
        if not nested:
            total += dur(s)
    return total


def self_time_by_layer(spans) -> dict[str, float]:
    kids = children_index(spans)
    out: dict[str, float] = {}
    for s in spans:
        own = dur(s) - sum(dur(c) for c in kids.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


# --------------------------------------------------------------------------
# Event log
# --------------------------------------------------------------------------
def event_log_files(log_dir: str, app_id: str) -> list[str]:
    """Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` (rolling
    layout); older Spark a single ``<app>`` file."""
    files = sorted(
        glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    )
    return files or [os.path.join(log_dir, app_id)]


def read_events(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p, encoding="utf-8") as f:
            out.extend(json.loads(line) for line in f if line.strip())
    return out


class EventLog:
    """Jobs and per-stage task sums from one application's event log."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict] = {}
        self.plans: list[tuple[float, dict]] = []  # (start time, plan)
        exec_start: dict[int, float] = {}
        self.task_accums: dict[int, int] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                props = e.get("Properties") or {}
                self.jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": [],
                }
                for sid in e.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(e["Job ID"])
                if job is not None:
                    job["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                t = self.stage_tasks.setdefault(
                    e["Stage ID"],
                    {k: 0.0 for k in (
                        "tasks", "task_run_s", "task_cpu_s", "gc_s",
                        "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
                    )},
                )
                t["tasks"] += 1
                t["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                t["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                t["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                t["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if isinstance(acc.get("Update"), (int, str)):
                        try:
                            v = int(acc["Update"])
                        except ValueError:
                            continue
                        self.task_accums[acc["ID"]] = (
                            self.task_accums.get(acc["ID"], 0) + v
                        )
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                exec_start[e["executionId"]] = e["time"] / 1000.0
                self.plans.append((exec_start[e["executionId"]], e["sparkPlanInfo"]))
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                t = exec_start.get(e["executionId"], 0.0)
                self.plans.append((t, e["sparkPlanInfo"]))
        for sid, jid in stage_job.items():
            if sid in self.stage_tasks and jid in self.jobs:
                self.jobs[jid]["stages"].append(sid)

    def counters(self, job_ids, t0: float, t1: float, cores: int) -> dict:
        """Spark counters for the given jobs over the wall window."""
        c = {k: 0.0 for k in (
            "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
            "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
        )}
        intervals = []
        for jid in job_ids:
            job = self.jobs[jid]
            c["jobs"] += 1
            c["stages"] += len(job["stages"])
            for sid in job["stages"]:
                for k, v in self.stage_tasks[sid].items():
                    c[k] += v
            end = job["end"] if job["end"] is not None else t1
            intervals.append((max(t0, job["start"]), min(t1, end)))
        wall = max(t1 - t0, 1e-9)
        c["driver_s"] = max(0.0, wall - union_length(intervals))
        c["core_util"] = c["task_run_s"] / (wall * cores)
        return c

    def jobs_in_groups(self, groups: set) -> list[int]:
        return [j for j, job in self.jobs.items() if job["group"] in groups]

    def jobs_in_window(self, t0: float, t1: float) -> list[int]:
        return [
            j for j, job in self.jobs.items() if t0 <= job["start"] <= t1
        ]

    def exchange_mb(self, predicate, t0=float("-inf"), t1=float("inf")) -> float:
        """Shuffle bytes written by plan Exchange nodes matching
        ``predicate(node)`` in SQL executions started between ``t0`` and
        ``t1`` — SQL-metric accumulators summed over tasks."""
        ids = set()
        for start, plan in self.plans:
            if not t0 <= start <= t1:
                continue
            todo = [plan]
            while todo:
                node = todo.pop()
                todo.extend(node.get("children", []))
                if node.get("nodeName") == "Exchange" and predicate(node):
                    ids.update(
                        m["accumulatorId"]
                        for m in node.get("metrics", [])
                        if m.get("name") == "shuffle bytes written"
                    )
        return sum(self.task_accums.get(i, 0) for i in ids) / MB


def subtree_has(node: dict, test) -> bool:
    todo = list(node.get("children", []))
    while todo:
        n = todo.pop()
        if test(n):
            return True
        todo.extend(n.get("children", []))
    return False


def union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


COUNTERS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "driver_s", "core_util",
)


def fold_counters(log: EventLog, spans, pass_span, op_spans, cores) -> dict:
    """``pass.spark.*`` over the pass window (every job in it) and
    ``op.spark.*_p50`` as medians over the unit operations (each op's
    jobs are those whose group is a span in its subtree)."""
    kids = children_index(spans)
    out = {}
    p = log.counters(
        log.jobs_in_window(pass_span["start"], pass_span["end"]),
        pass_span["start"], pass_span["end"], cores,
    )
    for k in COUNTERS:
        out[f"pass.spark.{k}"] = p[k]
    per_op = [
        log.counters(
            log.jobs_in_groups(subtree_ids(s, kids)), s["start"], s["end"], cores
        )
        for s in op_spans
    ]
    for k in COUNTERS:
        out[f"op.spark.{k}_p50"] = (
            statistics.median(c[k] for c in per_op) if per_op else 0.0
        )
    return out
