"""Spans around public calls, attributed to Spark work through the event log.

A :class:`Tracer` keeps spans in memory (name, start, end, parent,
operation id) and, while a span is open on a thread, sets the span id as
that thread's Spark job group. After the session stops, the uncompressed
event log is read back and every job, stage and task is attributed to the
span whose id it carries; a span's metrics include its child spans'.

With tracing off, :meth:`Tracer.span` only yields, so the untraced run
pays nothing beyond a context-manager call.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict

GROUP_PREFIX = "bench-span-"

# per-layer metric families, in reporting order
FAMILIES = ("wall_s", "driver_s", "jobs", "tasks", "task_cpu_s", "gc_s",
            "shuffle_write_mb", "spill_mb", "input_mb", "output_mb")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.sc = None  # SparkContext, set once the session exists

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None):
        """Record one call into a public function. Yields the span dict
        (callers may add attributes, e.g. ``hits``) or ``None`` when off."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        span = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
                "op_id": op_id if op_id is not None else (parent or {}).get("op_id"),
                "start": time.time(), "end": None, "thread": threading.get_ident()}
        stack.append(span)
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{sid}")
        try:
            yield span
        finally:
            span["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    "spark.jobGroup.id",
                    f"{GROUP_PREFIX}{stack[-1]['id']}" if stack else None)
            with self._lock:
                self.spans.append(span)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned version — how calls the
        program makes internally (not through the benchmark) get spans."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, traced)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)


def read_event_log(event_dir: str) -> dict:
    """Jobs (group, submit, end), and per-group task metric sums."""
    files = sorted(p for p in glob.glob(os.path.join(event_dir, "**"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith("appstatus"))
    if not files:
        raise RuntimeError(f"no Spark event log in {event_dir}")
    jobs: dict[int, dict] = {}
    stage_group: dict[tuple, str] = {}
    tasks: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[ev["Job ID"]] = {"group": g, "start": ev["Submission Time"] / 1e3,
                                          "end": None}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    m = ev.get("Task Metrics")
                    if g is None or not m:
                        continue
                    t = tasks[g]
                    t["tasks"] += 1
                    t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    t["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0) / 2**20
                    t["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0)) / 2**20
                    inp = m.get("Input Metrics") or {}
                    t["input_mb"] += inp.get("Bytes Read", 0) / 2**20
                    t["input_records"] += inp.get("Records Read", 0)
                    t["output_mb"] += (m.get("Output Metrics") or {}).get(
                        "Bytes Written", 0) / 2**20
    return {"jobs": jobs, "tasks": tasks}


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def attribute(spans: list[dict], log: dict) -> dict[str, dict]:
    """Per span name: call count and per-call means of every family,
    each span inclusive of its descendants. ``driver_s`` is wall time
    not covered by any Spark job of the span's subtree."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    jobs_by_group = defaultdict(list)
    for j in log["jobs"].values():
        if j["group"] and j["end"] is not None:
            jobs_by_group[j["group"]].append(j)

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(children[x])
        return out

    agg: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    for s in spans:
        groups = [f"{GROUP_PREFIX}{x}" for x in subtree(s["id"])]
        wall = s["end"] - s["start"]
        jobs = [j for g in groups for j in jobs_by_group[g]]
        busy = _covered([(max(j["start"], s["start"]), min(j["end"], s["end"]))
                         for j in jobs if j["end"] > s["start"] and j["start"] < s["end"]])
        a = agg[s["name"]]
        a["calls"] += 1
        a["wall_s"] += wall
        a["driver_s"] += max(0.0, wall - busy)
        a["jobs"] += len(jobs)
        for g in groups:
            for k, v in log["tasks"].get(g, {}).items():
                a[k] += v
        a["hits"] += s.get("hits", 0)
    out = {}
    for name, a in agg.items():
        n = a["calls"]
        row = {f: a.get(f, 0.0) / n for f in FAMILIES}
        row["calls"] = n
        if a["hits"]:
            row["rows_scanned_per_hit"] = a["input_records"] / a["hits"]
        out[name] = row
    return out
