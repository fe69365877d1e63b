"""Spans around engine calls, and Spark event-log counts, for the traced run.

Spans come from wrappers that the benchmark installs around the engine's
public functions and methods; nothing inside the engine is edited. A span
records name, start, end, parent span and request id, and is kept in
memory until the run writes them out.

Wrappers are installed only for the duration of a ``patched`` block. The
query executors ship closures to Python workers by value, and a closure
that names a patched module global would carry the wrapper (and this
tracer) along; so module functions that such closures reference are only
patched while no Spark job runs (the interactive loop).

Spark-side counts for a timed call are read from Spark's own event log:
every job, stage and task whose start falls inside the call's wall-clock
window belongs to that call. The benchmark issues its calls one at a time,
so windows never overlap.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

class Tracer:
    def __init__(self):
        # (span_id, parent_id, request, name, start_s, end_s)
        self.spans: list[tuple] = []
        self.request: str | None = None
        self.observed: list[tuple] = []
        self._stack: list[tuple[int, str]] = []  # open spans: (id, name)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1][0] if self._stack else None
        self.spans.append(None)
        self._stack.append((sid, name))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid] = (
                sid, parent, self.request, name, t0, time.perf_counter()
            )

    def wrap(self, fn, name: str, observe=None):
        """``fn`` inside a span; ``observe(result)``, if given, is stored
        in ``observed`` with the span's name and its parent's name."""

        def traced(*args, **kwargs):
            parent = self._stack[-1][1] if self._stack else None
            with self.span(name):
                res = fn(*args, **kwargs)
            if observe is not None:
                self.observed.append((name, parent, observe(res)))
            return res

        return traced

    @contextmanager
    def patched(self, targets: list[tuple]):
        """Replace ``owner.attr`` by a traced wrapper for each
        ``(owner, attr, name[, observe])``; restore the originals on exit."""
        saved = [(t[0], t[1], getattr(t[0], t[1])) for t in targets]
        try:
            for t, (_, _, fn) in zip(targets, saved):
                setattr(t[0], t[1], self.wrap(fn, *t[2:]))
            yield
        finally:
            for owner, attr, fn in saved:
                setattr(owner, attr, fn)

    def totals_for(self, request_pred) -> dict[str, dict]:
        """Per span name, over spans whose request id satisfies
        ``request_pred``: call count, total and self seconds. Self time is
        the span's duration minus its direct children's durations; spans
        nest on one thread, so children never overlap each other."""
        child = [0.0] * len(self.spans)
        for _, parent, _, _, t0, t1 in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, dict] = {}
        for sid, _, req, name, t0, t1 in self.spans:
            if not request_pred(req):
                continue
            agg = out.setdefault(name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += t1 - t0
            agg["self_s"] += t1 - t0 - child[sid]
        return out

    def durations(self, name: str, parent: str) -> list[float]:
        """Durations of the spans called ``name`` whose parent is called
        ``parent``, in start order."""
        return [
            t1 - t0
            for _, p, _, n, t0, t1 in self.spans
            if n == name and p is not None and self.spans[p][3] == parent
        ]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, req, name, t0, t1 in self.spans:
                f.write(json.dumps({
                    "id": sid, "parent": parent, "request": req, "name": name,
                    "start_s": t0, "end_s": t1,
                }) + "\n")


def spark_call_counts(
    event_dir: str, windows: list[tuple[str, float, float]], slots: int
) -> dict[str, list[dict]]:
    """Per call name, one dict of Spark counts per call, from
    every event log under ``event_dir``. ``windows`` holds
    ``(name, start_epoch_s, end_epoch_s)`` of each timed call."""
    calls = [
        {"name": n, "t0": t0 * 1000, "t1": t1 * 1000, "jobs": 0, "stages": 0,
         "tasks": 0, "tasks_failed": 0, "task_run_s": 0.0, "task_max_s": 0.0,
         "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        for n, t0, t1 in windows
    ]

    def owner(ts_ms):
        for c in calls:
            if c["t0"] <= ts_ms <= c["t1"]:
                return c
        return None

    # one event-log directory (or file) per SparkContext of the run
    paths = glob.glob(f"{event_dir}/**", recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p)):
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    c = owner(ev["Submission Time"])
                    if c:
                        c["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    c = owner(ev["Stage Info"].get("Submission Time", -1))
                    if c:
                        c["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    c = owner(info["Launch Time"])
                    if not c:
                        continue
                    c["tasks"] += 1
                    c["tasks_failed"] += int(bool(info.get("Failed")))
                    m = ev.get("Task Metrics") or {}
                    c["task_run_s"] += m.get("Executor Run Time", 0) / 1000
                    c["task_max_s"] = max(
                        c["task_max_s"],
                        (info["Finish Time"] - info["Launch Time"]) / 1000,
                    )
                    c["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    c["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    c["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
    out: dict[str, list[dict]] = {}
    for c in calls:
        wall_s = (c["t1"] - c["t0"]) / 1000
        c["busy_share"] = c["task_run_s"] / (wall_s * slots) if wall_s > 0 else 0.0
        c["wall_s"] = wall_s
        out.setdefault(c["name"], []).append(c)
    return out
