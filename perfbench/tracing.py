"""Spans recorded from outside the program, plus Spark event-log attribution.

The traced run wraps public functions of the package (module attributes
and ``IndexSearcher`` methods) so that every call records a span: name,
start, end, parent span and the id of the benchmark operation it ran
under.  Spans stay in memory and are written out when the run ends.

Spark jobs and tasks are attributed to spans by time window, read from the
Spark event log after the session stops.  Job groups cannot do this: the
build submits jobs from ``ThreadPoolExecutor`` threads, which do not
inherit the caller's job group.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import Counter
from contextlib import contextmanager
from typing import Dict, Iterable, List, Optional, Tuple


class Tracer:
    def __init__(self):
        self.spans: List[dict] = []
        self.calls: Counter = Counter()
        self.op: Optional[str] = None
        self.phase = "setup"
        self._main_stack: List[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._undo: List[Tuple[object, str, object]] = []

    def _stack(self) -> List[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a span opened on a worker thread hangs under whatever the main
        # thread is running (the build's segment and manifest threads)
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = self._next_id
            self._next_id += 1
            self.calls[name] += 1
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "op": self.op, "phase": self.phase,
               "start": time.time(), "end": None}
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def install(self) -> List[str]:
        """Wrap the package's public entry points; returns the span names."""
        from tantivy4java_spark import (aggs, build, fsio, maintenance,
                                        manifest, parser, streaming)
        from tantivy4java_spark.searcher import IndexSearcher

        targets = [
            (build, "build_index", "build.build_index"),
            (streaming, "add_documents", "streaming.add_documents"),
            (streaming, "append_segment", "streaming.append_segment"),
            (manifest, "append_action", "manifest.append_action"),
            (manifest, "read_actions", "manifest.read_actions"),
            (parser, "parse_query", "parser.parse_query"),
            (aggs, "aggregate", "aggs.aggregate"),
            (IndexSearcher, "__init__", "searcher.open"),
            (IndexSearcher, "search", "searcher.search"),
            (IndexSearcher, "preload", "searcher.preload"),
        ]
        for fn in ("delete_by_query", "delete_by_term", "delete_all",
                   "garbage_collect", "rollback", "apply_deletes"):
            targets.append((maintenance, fn, f"maintenance.{fn}"))
        # the I/O functions; join/relpath/has_scheme are pure string helpers
        for fn in ("exists", "isdir_nonempty", "listdir", "makedirs",
                   "read_text", "write_text", "create_text_exclusive",
                   "append_text", "delete", "rename"):
            targets.append((fsio, fn, f"fsio.{fn}"))
        for owner, attr, name in targets:
            self.wrap(owner, attr, name)
        return [name for _, _, name in targets]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["start"]):
                f.write(json.dumps(rec) + "\n")


# -- interval helpers ----------------------------------------------------
def merge_intervals(iv: Iterable[Tuple[float, float]]) -> List[Tuple[float, float]]:
    out: List[List[float]] = []
    for s, e in sorted(iv):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [(s, e) for s, e in out]


def covered(iv: List[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the (merged) intervals."""
    return sum(max(0.0, min(e, hi) - max(s, lo)) for s, e in iv)


def self_times(spans: List[dict]) -> Dict[int, float]:
    """Span id -> its duration minus the part covered by its child spans."""
    children: Dict[int, List[Tuple[float, float]]] = {}
    for r in spans:
        if r["parent"] is not None:
            children.setdefault(r["parent"], []).append((r["start"], r["end"]))
    out = {}
    for r in spans:
        kids = merge_intervals(children.get(r["id"], []))
        out[r["id"]] = (r["end"] - r["start"]) - covered(kids, r["start"], r["end"])
    return out


def outermost(spans: List[dict], names) -> List[dict]:
    """Spans named in ``names`` that have no ancestor named in ``names``
    (so a nested call of the same function is not counted twice)."""
    names = {names} if isinstance(names, str) else set(names)
    by_id = {r["id"]: r for r in spans}
    out = []
    for r in spans:
        if r["name"] not in names:
            continue
        p = by_id.get(r["parent"])
        while p is not None and p["name"] not in names:
            p = by_id.get(p["parent"])
        if p is None:
            out.append(r)
    return out


# -- Spark event log -----------------------------------------------------
class EventLog:
    """Jobs and tasks from a Spark JSON event log (times in epoch seconds)."""

    def __init__(self, log_dir: str):
        self.jobs: Dict[int, dict] = {}
        self.tasks: List[dict] = []
        files = [p for p in glob.glob(os.path.join(log_dir, "**"),
                                      recursive=True) if os.path.isfile(p)]
        for path in files:
            with open(path) as f:
                for line in f:
                    self._event(json.loads(line))
        for j in self.jobs.values():
            j.setdefault("end", j["start"])

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[ev["Job ID"]] = {"start": ev["Submission Time"] / 1e3}
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.setdefault(ev["Job ID"],
                                       {"start": ev["Completion Time"] / 1e3})
            job["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info", {})
            m = ev.get("Task Metrics") or {}
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            self.tasks.append({
                "end": info.get("Finish Time", 0) / 1e3,
                "failed": bool(info.get("Failed")) or reason != "Success",
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
                "output_bytes": (m.get("Output Metrics") or {}).get(
                    "Bytes Written", 0),
            })

    def attribute(self, windows: List[Tuple[float, float]]) -> dict:
        """Jobs submitted and tasks finished inside the windows, and the
        window time not covered by any running job (driver-side gap)."""
        win = merge_intervals(windows)

        def inside(t):
            return any(s <= t <= e for s, e in win)

        jobs = [j for j in self.jobs.values() if inside(j["start"])]
        tasks = [t for t in self.tasks if inside(t["end"])]
        job_iv = merge_intervals((j["start"], j["end"])
                                 for j in self.jobs.values())
        wall = sum(e - s for s, e in win)
        busy = sum(covered(job_iv, s, e) for s, e in win)
        return {
            "wall_s": wall,
            "jobs": len(jobs),
            "tasks": len(tasks),
            "failed_tasks": sum(t["failed"] for t in tasks),
            "cpu_s": sum(t["cpu_s"] for t in tasks),
            "run_s": sum(t["run_s"] for t in tasks),
            "gc_s": sum(t["gc_s"] for t in tasks),
            "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
            "output_bytes": sum(t["output_bytes"] for t in tasks),
            "driver_gap_s": wall - busy,
        }
