"""Traced mode: in-memory spans, wrappers around the engine's public
functions, self-time arithmetic and a Spark event-log reader.

Spans are recorded from outside the engine: ``install`` replaces every
public module-level function of the named modules with a ``_Traced``
callable that opens a span around the call. It must run before
``hi_csa_db_spark.queries`` is imported, because the query family
modules bind operators with ``from ... import`` at import time.
"""

from __future__ import annotations

import contextlib
import copy
import functools
import importlib
import inspect
import json
import sys
import threading
import time
from collections import defaultdict


class Tracer:
    """Spans kept in memory as dicts: name, layer, start, end, parent
    (index into ``spans`` or None), run (the timed pass it belongs to)
    and optional attrs.

    A span opened on a thread with no open span of its own (a
    streaming ``foreachBatch`` callback runs on a py4j thread) takes
    the main thread's innermost open span as its parent: that is the
    call that caused it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run: str | None = None
        self._main_stack: list[int] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            parent = self._main_stack[-1] if self._main_stack else None
        rec = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": parent,
            "run": self.run,
        }
        if attrs:
            rec["attrs"] = attrs
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Traced:
    """Callable stand-in for a module function that records a span per
    call. Pickles as the original function (``copy.copy`` of a function
    returns it unchanged), so a wrapped helper captured by a Python UDF
    reaches executors untraced and without the tracer."""

    def __init__(self, tracer: Tracer, layer: str, fn):
        functools.update_wrapper(self, fn)
        self._tracer = tracer
        self._layer = layer
        self._fn = fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._layer, self._fn.__name__):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return (copy.copy, (self._fn,))


def install(tracer: Tracer, targets: list[tuple[str, str]]) -> int:
    """Wrap the public functions of each (layer, module) target, then
    re-point names that already-imported engine modules bound to the
    originals. Returns the number of functions wrapped."""
    wrapped: dict[int, tuple[object, _Traced]] = {}
    for layer, modname in targets:
        mod = importlib.import_module(modname)
        for attr, fn in list(vars(mod).items()):
            if attr.startswith("_") or not inspect.isfunction(fn):
                continue
            if fn.__module__ != modname:
                continue
            w = _Traced(tracer, layer, fn)
            wrapped[id(fn)] = (fn, w)
            setattr(mod, attr, w)
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("hi_csa_db_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            hit = wrapped.get(id(val))
            if hit is not None and hit[0] is val:
                setattr(mod, attr, hit[1])
    return len(wrapped)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children on other threads may overlap each other; their union
    counts once, clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        clipped = [
            (max(lo, s["start"]), min(hi, s["end"]))
            for lo, hi in kids.get(i, ())
            if hi > s["start"] and lo < s["end"]
        ]
        out.append((s["end"] - s["start"]) - covered(clipped))
    return out


def outermost(spans: list[dict], idxs: list[int]) -> list[int]:
    """The spans of ``idxs`` with no ancestor in the same layer — their
    durations sum without counting a nested call twice."""
    out = []
    for i in idxs:
        layer = spans[i]["layer"]
        p = spans[i]["parent"]
        while p is not None and spans[p]["layer"] != layer:
            p = spans[p]["parent"]
        if p is None:
            out.append(i)
    return out


def under(spans: list[dict], i: int, layer: str) -> bool:
    """True if span ``i`` has an ancestor in ``layer`` or in one of its
    sub-layers ("operators" covers "operators.graph")."""
    p = spans[i]["parent"]
    while p is not None:
        name = spans[p]["layer"]
        if name == layer or name.startswith(layer + "."):
            return True
        p = spans[p]["parent"]
    return False


def parse_event_log(lines) -> dict[str, dict]:
    """Per job group totals from a Spark JSON event log.

    Returns {group: {jobs, stages, tasks, run_ms, cpu_ns, gc_ms,
    shuffle_read_b, shuffle_write_b, spill_b, job_ms, job_spans}}; jobs
    without a group land under "". ``job_spans`` holds each job's
    (submit_ms, end_ms) so callers can take the union of job time."""
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "run_ms": 0,
            "cpu_ns": 0,
            "gc_ms": 0,
            "shuffle_read_b": 0,
            "shuffle_write_b": 0,
            "spill_b": 0,
            "job_spans": [],
        }
    )
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = group
            job_submit[jid] = ev.get("Submission Time", 0)
            totals[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                totals[job_group[jid]]["job_spans"].append(
                    (job_submit[jid], ev.get("Completion Time", 0))
                )
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            totals[stage_group.get(sid, "")]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            t = totals[stage_group.get(ev.get("Stage ID"), "")]
            t["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            t["run_ms"] += m.get("Executor Run Time", 0)
            t["cpu_ns"] += m.get("Executor CPU Time", 0)
            t["gc_ms"] += m.get("JVM GC Time", 0)
            t["spill_b"] += m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
    return dict(totals)
