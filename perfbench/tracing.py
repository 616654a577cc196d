"""Tracing for the benchmark's traced run: in-memory spans around calls
into the package's public functions, and a decoder for Spark's event log.

Spans are recorded from outside the program. `Patches` swaps a public
function for a wrapper in every package module that holds a reference
to it (so ``from ..operators.dedup import lsh_candidates`` call sites are
covered too) and restores the originals on exit. Nothing is written
until the run ends.
"""

from __future__ import annotations

import functools
import importlib
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path
from statistics import median


class Tracer:
    """Span recorder: name, start, end (epoch seconds) and parent span.

    Spans opened by a worker thread (``concurrency.build_concurrently``
    builds branches in a pool) take the main thread's innermost open span
    as their parent."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._main = threading.main_thread()

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        rec = {"name": name, "parent": parent, "start": time.time(), "end": None}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()


class Patches:
    """Replace package functions with span-recording wrappers while the
    context is active. ``calls[span_name]`` collects (span, args, kwargs,
    result) of every wrapped call, for counting a funnel's outputs after
    the timed pass."""

    def __init__(self, tracer: Tracer, package: str, targets: dict[str, str]):
        """``targets`` maps "module:function" to the span name."""
        self.tracer = tracer
        self.package = package
        self.targets = targets
        self.calls: dict[str, list] = defaultdict(list)
        self._saved: list[tuple[object, str, object]] = []

    def _wrap(self, fn, span_name):
        tracer, calls = self.tracer, self.calls

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(span_name) as rec:
                out = fn(*args, **kwargs)
            calls[span_name].append((rec, args, kwargs, out))
            return out

        return wrapper

    def __enter__(self):
        for target in self.targets:
            importlib.import_module(target.split(":")[0])
        modules = [
            m for n, m in list(sys.modules.items())
            if m is not None and (n == self.package or n.startswith(self.package + "."))
        ]
        for target, span_name in self.targets.items():
            mod_name, attr = target.split(":")
            orig = getattr(sys.modules[mod_name], attr)
            wrapper = self._wrap(orig, span_name)
            for m in modules:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._saved.append((m, k, v))
                        setattr(m, k, wrapper)
        return self

    def __exit__(self, *exc):
        for m, k, v in reversed(self._saved):
            setattr(m, k, v)
        self._saved.clear()


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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per layer (the span name's first dotted part): each
    span's duration minus the part of it its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        lo, hi = s["start"], s["end"]
        kids = [(max(lo, c["start"]), min(hi, c["end"])) for c in children[s["id"]]]
        kids = [(a, b) for a, b in kids if b > a]
        out[s["name"].split(".")[0]] += (hi - lo) - _covered(kids)
    return dict(out)


def read_event_log(log_dir: Path) -> list[dict]:
    """Decode the rolling event log Spark writes under ``log_dir``
    (``events_<n>_<appId>[.zstd]`` files, in order) into events."""
    import pyarrow as pa

    files = sorted(log_dir.glob("events_*"), key=lambda p: int(p.name.split("_")[1]))
    events = []
    for path in files:
        raw = pa.OSFile(str(path), "rb")
        stream = pa.CompressedInputStream(raw, "zstd") if path.suffix == ".zstd" else raw
        try:
            data = stream.read()
        finally:
            stream.close()
        events += [json.loads(line) for line in data.splitlines() if line.strip()]
    return events


def engine_metrics(events: list[dict], start: float, end: float) -> dict[str, float]:
    """Spark engine totals for jobs, stages and tasks launched inside
    the window [start, end] (epoch seconds)."""
    lo, hi = start * 1000.0, end * 1000.0
    m = defaultdict(float)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if lo <= ev.get("Submission Time", -1) <= hi:
                m["spark.jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            if lo <= ev["Stage Info"].get("Submission Time", -1) <= hi:
                m["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if not lo <= ev["Task Info"]["Launch Time"] <= hi:
                continue
            tm = ev.get("Task Metrics") or {}
            m["spark.tasks"] += 1
            m["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
            m["spark.executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["spark.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            sw = tm.get("Shuffle Write Metrics") or {}
            m["spark.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
            sr = tm.get("Shuffle Read Metrics") or {}
            m["spark.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / 1e6
            m["spark.spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 1e6
            m["io.scan_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
    m["spark.python_gap_s"] = m["spark.executor_run_s"] - m["spark.executor_cpu_s"]
    return dict(m)


def jobs_within(events: list[dict], windows: list[tuple[float, float]]) -> int:
    """Number of jobs submitted inside any of the windows."""
    n = 0
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            t = ev.get("Submission Time", -1) / 1000.0
            n += any(a <= t <= b for a, b in windows)
    return n


def median_of(dicts: list[dict], keys) -> dict[str, float]:
    return {k: median([d.get(k, 0.0) for d in dicts]) if dicts else 0.0 for k in keys}
