"""Spans and counters recorded from the benchmark's own files.

The program is not edited: the traced run wraps the program's public
functions (module attributes) for the duration of the run, tags the
Spark jobs each span starts with a job group, and afterwards reads the
Spark event log to attribute shuffle, spill, GC and CPU to spans.

Spans live in memory and are written to one JSON file at the end. Each
records name, start, end, parent and trace id. A span's self time is its
duration minus the part of its interval that its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._next_id = 0
        self._trace_id = 0
        self._root: int | None = None  # outermost open span, for spans of other threads
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def new_trace(self) -> None:
        self._trace_id += 1

    @contextlib.contextmanager
    def span(self, name: str, job_group: bool = False):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = self._next_id
        self._next_id += 1
        rec = {
            "id": sid,
            "name": name,
            # a callback thread (e.g. a streaming foreachBatch) has no
            # stack of its own: it works for the outermost open span
            "parent": stack[-1] if stack else self._root,
            "trace": self._trace_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        stack.append(sid)
        is_root = self._root is None
        if is_root:
            self._root = sid
        sc = self.spark.sparkContext if (job_group and self.spark is not None) else None
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if is_root:
                self._root = None
            if sc is not None:
                if prev is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(prev, prev)

    def wrap(self, module, attr: str, name: str, job_group: bool = False, out_bytes: bool = False, post=None) -> None:
        """Replace ``module.attr`` with a wrapper that records a span per
        outermost call (recursive calls stay inside the outer span) and
        counts calls; ``out_bytes`` also sums ``len()`` of the result.
        ``post(args, kwargs)`` runs after the span closes, for counts
        that cost Spark jobs and must stay out of the span's time."""
        if not self.enabled:
            return
        fn = getattr(module, attr)
        tracer = self
        depth = threading.local()

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if getattr(depth, "n", 0):
                return fn(*a, **kw)
            depth.n = 1
            try:
                with tracer.span(name, job_group=job_group):
                    out = fn(*a, **kw)
                tracer.counters[name + ".calls"] += 1
                if out_bytes:
                    tracer.counters[name + ".bytes"] += len(out)
                if post is not None:
                    post(a, kw)
                return out
            finally:
                depth.n = 0

        self._patches.append((module, attr, fn))
        setattr(module, attr, wrapper)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._patches):
            setattr(module, attr, fn)
        self._patches.clear()

    # ------------------------------------------------------------ analysis

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.closed() if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        """span id → duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.closed():
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {}
        for s in self.closed():
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def self_total(self, name: str) -> float:
        st = self.self_times()
        return sum(st[s["id"]] for s in self.closed() if s["name"] == name)

    def layer_self_times(self) -> dict[str, float]:
        """Self time summed by layer (the span name's first component)."""
        st = self.self_times()
        out: dict[str, float] = defaultdict(float)
        for s in self.closed():
            out[s["name"].split(".", 1)[0]] += st[s["id"]]
        return dict(out)

    def dump(self, path: str, extra: dict | None = None) -> None:
        st = self.self_times()
        spans = [dict(s, self_s=st.get(s["id"])) for s in self.spans]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": spans, "counters": dict(self.counters), **(extra or {})}, fh)


def event_log_metrics(events_dir: str, from_ms: float, to_ms: float):
    """Sum task metrics of the jobs submitted in [from_ms, to_ms] (epoch
    ms) over the Spark event log: shuffle write bytes, spill bytes, JVM
    GC ms, executor CPU ms and job count — as totals, and per job group
    (``span-<id>``, set by :meth:`Tracer.span`)."""
    stage_group: dict[int, str] = {}
    totals: dict[str, float] = defaultdict(float)
    per_group: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in glob.glob(os.path.join(events_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if not from_ms <= ev.get("Submission Time", 0) <= to_ms:
                        continue
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                    per_group[group]["jobs"] += 1
                    totals["jobs"] += 1
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_group:
                    m = ev.get("Task Metrics") or {}
                    vals = {
                        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "executor_cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                    }
                    group = stage_group[ev["Stage ID"]]
                    for k, v in vals.items():
                        totals[k] += v
                        per_group[group][k] += v
    return dict(totals), {g: dict(v) for g, v in per_group.items()}
