"""Spans around the program's public calls, and Spark work attributed to
them from the event log.

``Tracer.install`` wraps every public function and public method defined
in the program's ``session``, ``operators``, ``plans``, ``sources``,
``streaming`` and ``functions`` modules, and rebinds every module-level
reference to them, so calls the program makes internally are spanned
too. A span records name, layer, parent, thread and start/end; it sets
the Spark job group ``<workload>:<layer>.<call>`` for its duration, so
the event log names the call that submitted each job. Spans stay in
memory until the run ends.

The traced phase runs with the Spark event log on; ``parse_event_log``
reads it with the standard library and ``attribute`` hands every job,
with its stages and tasks, to the innermost span that submitted it.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

PACKAGE = "sales_etl_pipeline_spark"
LAYERS = ("session", "operators", "plans", "sources", "streaming", "functions")


def layer_of(module: str) -> str | None:
    parts = module.split(".")
    if parts[0] != PACKAGE or len(parts) < 2 or parts[1] not in LAYERS:
        return None
    return parts[1]


class Tracer:
    """In-memory spans of one run; ``enabled`` switches recording (and the
    job groups) on and off without unwrapping."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self.sc = None
        self.enabled = False
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._lock = threading.Lock()

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[dict]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, layer: str, call: str, kind: str = "call") -> dict:
        stack = self._stack()
        # a callback thread (foreachBatch) works for the main thread's
        # innermost call: there is a single caller, blocked in it
        parent = (stack or self._main_stack or [None])[-1]
        span = {
            "name": f"{self.workload}:{layer}.{call}", "layer": layer, "kind": kind,
            "parent": parent["id"] if parent else None,
            "thread": threading.get_ident(), "start": time.time(), "end": None,
        }
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        stack.append(span)
        self._set_group(span["name"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        stack.pop()
        self._set_group(stack[-1]["name"] if stack else None)

    def _set_group(self, name: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", name)

    @contextlib.contextmanager
    def span(self, layer: str, call: str, kind: str = "call"):
        if not self.enabled:
            yield None
            return
        span = self.begin(layer, call, kind)
        try:
            yield span
        finally:
            self.end(span)

    # -- wrapping ----------------------------------------------------
    def _wrap(self, fn, layer: str, call: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self.begin(layer, call)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        return traced

    def install(self) -> None:
        """Wrap every public function/method of the program's layers and
        rebind module-level references to them."""
        modules = [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE) and m is not None]
        replaced: dict[int, object] = {}
        for mod in modules:
            layer = layer_of(mod.__name__)
            if layer is None:
                continue
            for name, obj in list(vars(mod).items()):
                if name.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    call = f"{mod.__name__.split('.')[-1]}.{name}"
                    replaced[id(obj)] = self._wrap(obj, layer, call)
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    for attr, meth in list(vars(obj).items()):
                        if not attr.startswith("_") and inspect.isfunction(meth):
                            setattr(obj, attr, self._wrap(meth, layer, f"{name}.{attr}"))
        for mod in modules:
            for name, obj in list(vars(mod).items()):
                if id(obj) in replaced and inspect.isfunction(obj):
                    setattr(mod, name, replaced[id(obj)])


# -- event log ---------------------------------------------------------
PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def parse_event_log(path: str) -> dict:
    """Jobs, stages, tasks and streaming progress from an uncompressed
    Spark event log (one JSON object per line)."""
    jobs, stage_job, stages, epochs = {}, {}, {}, []
    tasks = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {"id": jid, "submit": ev["Submission Time"] / 1000.0,
                             "group": props.get("spark.jobGroup.id"), "stage_spans": [], "tasks": []}
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stages[info["Stage ID"]] = (info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks[ev["Stage ID"]].append({
                    "run_s": m.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                    "deser_s": m.get("Executor Deserialize Time", 0) / 1e3,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                                   + sw.get("Shuffle Bytes Written", 0)) / 2**20,
                    "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20,
                    "input_mb": (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20,
                    "output_mb": (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 2**20,
                    "failed": (ev.get("Task End Reason") or {}).get("Reason") != "Success",
                })
            elif kind == PROGRESS_EVENT:
                p = ev["progress"]
                d = p.get("durationMs") or {}
                epochs.append({"start": datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp(),
                               "trigger_s": d.get("triggerExecution", 0) / 1e3,
                               "add_batch_s": d.get("addBatch", 0) / 1e3})
    for sid, jid in stage_job.items():
        job = jobs[jid]
        if sid in stages:
            job["stage_spans"].append(stages[sid])
        job["tasks"].extend(tasks.get(sid, ()))
    return {"jobs": list(jobs.values()), "epochs": epochs}


def attribute(spans: list[dict], jobs: list[dict]) -> None:
    """Set ``job["span"]`` to the id of the span that submitted it: the
    innermost span named by its job group that was open at submission,
    else the innermost open span (streaming-thread jobs carry the query's
    own group)."""
    by_start = sorted((s for s in spans if s["end"] is not None), key=lambda s: s["start"])
    for job in jobs:
        t = job["submit"]
        open_spans = [s for s in by_start if s["start"] - 0.001 <= t <= s["end"] + 0.001]
        named = [s for s in open_spans if s["name"] == job["group"]]
        pick = named or open_spans
        job["span"] = max(pick, key=lambda s: s["start"])["id"] if pick else None


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
