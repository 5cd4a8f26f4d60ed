"""Per-layer numbers of the traced passes, from spans and the event log.

Every job is attributed to the innermost span that submitted it
(``spans.attribute``); a layer's numbers are those of the jobs attributed
to its spans. Self time of a span is its duration minus the durations of
its child spans. Each timed pass yields one value per metric; the run
reports the median over its traced passes.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import union_length

#: the per-layer metrics a traced run prints, with units. Absolute times
#: of layers that only one workload touches are in ``DETAIL`` instead:
#: they would read 0 on every run of the other workload.
PER_LAYER = {
    "session.start_s": "s",
    "session.tune_s": "s",
    "session.warmup_s": "s",
    "operators.self_share": "ratio",
    "operators.jobs": "count",
    "operators.validate_jobs": "count",
    "operators.transform_jobs": "count",
    "operators.summary_jobs": "count",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.build_gap_s": "s",
    "plans.self_share": "ratio",
    "plans.exec_jobs": "count",
    "plans.exec_tasks": "count",
    "sources.self_share": "ratio",
    "sources.write_jobs": "count",
    "sources.write_scan_mb": "MB",
    "sources.write_output_mb": "MB",
    "sources.catalog_txns": "count",
    "streaming.epochs": "count",
    "streaming.self_share": "ratio",
    "functions.self_share": "ratio",
    "functions.pyworker_cpu_share": "ratio",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.deser_s": "s",
    "exec.gc_s": "s",
    "exec.stage_s": "s",
    "exec.gap_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.failed_tasks": "count",
    "proc.driver_cpu_s": "s",
    "proc.jvm_cpu_s": "s",
    "trace.spans": "count",
    "trace.overhead_s": "s",
}

#: workload-specific times, written to the trace artifact only
DETAIL = {
    "operators.extract_s": "s",
    "operators.validate_s": "s",
    "operators.transform_s": "s",
    "operators.load_s": "s",
    "operators.summary_s": "s",
    "sources.write_csv_s": "s",
    "sources.write_parquet_s": "s",
    "sources.write_sqlite_s": "s",
    "sources.catalog_commit_s": "s",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "plans.exec_s": "s",
    "plans.exec_run_s": "s",
    "plans.exec_cpu_s": "s",
    "plans.exec_deser_s": "s",
    "plans.exec_gc_s": "s",
    "plans.exec_shuffle_mb": "MB",
    "plans.exec_spill_mb": "MB",
    "plans.exec_gap_s": "s",
    "plans.exec_core_util": "ratio",
    "functions.pyworker_cpu_s": "s",
}

#: span call name -> detail metric holding its summed duration
CALL_TIMES = {
    "AnalyticsPipeline.extract": "operators.extract_s",
    "AnalyticsPipeline.validate": "operators.validate_s",
    "AnalyticsPipeline.transform": "operators.transform_s",
    "AnalyticsPipeline.load": "operators.load_s",
    "AnalyticsPipeline.get_summary": "operators.summary_s",
    "writers.write_csv": "sources.write_csv_s",
    "writers.write_parquet": "sources.write_parquet_s",
    "writers.write_sqlite": "sources.write_sqlite_s",
    "TableCatalog.commit": "sources.catalog_commit_s",
}
CALL_JOBS = {
    "AnalyticsPipeline.validate": "operators.validate_jobs",
    "AnalyticsPipeline.transform": "operators.transform_jobs",
    "AnalyticsPipeline.get_summary": "operators.summary_jobs",
}


def _call(span: dict) -> str:
    return span["name"].split(":", 1)[1].split(".", 1)[1]


def _task_sums(jobs) -> dict:
    out = defaultdict(float)
    for job in jobs:
        for t in job["tasks"]:
            out["tasks"] += 1
            out["failed_tasks"] += t["failed"]
            for k in ("run_s", "cpu_s", "deser_s", "gc_s", "shuffle_mb", "spill_mb", "input_mb", "output_mb"):
                out[k] += t[k]
    return out


def _stage_cover(jobs, lo: float, hi: float) -> float:
    return union_length([iv for j in jobs for iv in j["stage_spans"]], lo, hi)


def pass_metrics(spans, jobs, epochs, window, meter: dict, ncpu: int) -> dict:
    """All per-layer and detail metrics of one traced pass."""
    lo, hi = window
    wall = hi - lo
    spans = [s for s in spans if s["end"] is not None and lo <= s["start"] <= hi]
    by_id = {s["id"]: s for s in spans}
    jobs = [j for j in jobs if lo <= j["submit"] <= hi]
    children = defaultdict(list)
    for s in spans:
        if s["parent"] in by_id:
            children[s["parent"]].append(s)

    def subtree_jobs(span):
        ids, todo = set(), [span]
        while todo:
            s = todo.pop()
            ids.add(s["id"])
            todo.extend(children[s["id"]])
        return [j for j in jobs if j.get("span") in ids]

    def outermost(pred):
        out = []
        for s in spans:
            if not pred(s):
                continue
            p = by_id.get(s["parent"])
            while p is not None and not pred(p):
                p = by_id.get(p["parent"])
            if p is None:
                out.append(s)
        return out

    m = defaultdict(float)
    for s in spans:
        dur = s["end"] - s["start"]
        self_s = dur - sum(c["end"] - c["start"] for c in children[s["id"]])
        m[f"{s['layer']}.self_s"] += self_s
        call = _call(s)
        if call in CALL_TIMES:
            m[CALL_TIMES[call]] += dur
        if call == "TableCatalog.commit":
            m["sources.catalog_txns"] += 1
    for layer in ("operators", "plans", "sources", "streaming", "functions"):
        m[f"{layer}.self_share"] = m[f"{layer}.self_s"] / wall
    span_of = {j["id"]: by_id.get(j.get("span")) for j in jobs}
    for j in jobs:
        s = span_of[j["id"]]
        if s is None:
            continue
        if s["layer"] == "plans":
            m["plans.exec_jobs" if s["kind"] == "exec" else "plans.build_jobs"] += 1
        else:
            m[f"{s['layer']}.jobs"] += 1
    for s in outermost(lambda s: _call(s) in CALL_JOBS):
        m[CALL_JOBS[_call(s)]] += len(subtree_jobs(s))
    for s in outermost(lambda s: s["layer"] == "plans" and s["kind"] == "call"):
        m["plans.build_s"] += s["end"] - s["start"]
        m["plans.build_gap_s"] += (s["end"] - s["start"]) - _stage_cover(subtree_jobs(s), s["start"], s["end"])
    writes = [j for s in outermost(lambda s: _call(s).startswith("writers.write_")) for j in subtree_jobs(s)]
    m["sources.write_jobs"] = len(writes)
    w = _task_sums(writes)
    m["sources.write_scan_mb"] = w["input_mb"]
    m["sources.write_output_mb"] = w["output_mb"]
    exec_spans = [s for s in spans if s["kind"] == "exec"]
    exec_jobs = [j for s in exec_spans for j in subtree_jobs(s)]
    e = _task_sums(exec_jobs)
    m["plans.exec_s"] = sum(s["end"] - s["start"] for s in exec_spans)
    m["plans.exec_tasks"] = e["tasks"]
    for k in ("run_s", "cpu_s", "deser_s", "gc_s", "shuffle_mb", "spill_mb"):
        m[f"plans.exec_{k}"] = e[k]
    m["plans.exec_gap_s"] = m["plans.exec_s"] - sum(
        _stage_cover(subtree_jobs(s), s["start"], s["end"]) for s in exec_spans)
    m["plans.exec_core_util"] = e["run_s"] / (m["plans.exec_s"] * ncpu) if m["plans.exec_s"] else 0.0
    a = _task_sums(jobs)
    m["exec.jobs"] = len(jobs)
    for k in ("tasks", "run_s", "cpu_s", "deser_s", "gc_s", "shuffle_mb", "spill_mb", "failed_tasks"):
        m[f"exec.{k}"] = a[k]
    m["exec.stage_s"] = _stage_cover(jobs, lo, hi)
    m["exec.gap_s"] = wall - m["exec.stage_s"]
    m["exec.core_util"] = a["run_s"] / (wall * ncpu)
    m["streaming.epochs"] = len(epochs)
    if epochs:
        m["streaming.trigger_s"] = statistics.median(e["trigger_s"] for e in epochs)
        m["streaming.add_batch_s"] = statistics.median(e["add_batch_s"] for e in epochs)
        m["streaming.overhead_s"] = statistics.median(e["trigger_s"] - e["add_batch_s"] for e in epochs)
    m["functions.pyworker_cpu_s"] = meter["pyworker_cpu_s"]
    m["functions.pyworker_cpu_share"] = meter["pyworker_cpu_s"] / max(meter["cpu_s"], 1e-9)
    m["proc.driver_cpu_s"] = meter["driver_cpu_s"]
    m["proc.jvm_cpu_s"] = meter["jvm_cpu_s"]
    m["trace.spans"] = len(spans)
    return dict(m)


def call_table(spans, jobs, windows) -> dict:
    """Per span name, averaged over the traced passes: calls, wall and
    self seconds, and jobs the span submitted itself. ``spans`` carry
    ``self_s`` (``with_self_time``)."""
    own_jobs = defaultdict(int)
    for j in jobs:
        own_jobs[j["span"]] += 1
    table = defaultdict(lambda: defaultdict(float))
    for s in spans:
        if any(lo <= s["start"] <= hi for lo, hi in windows):
            row = table[s["name"]]
            row["calls"] += 1
            row["wall_s"] += s["end"] - s["start"]
            row["self_s"] += s["self_s"]
            row["jobs"] += own_jobs[s["id"]]
    n = max(len(windows), 1)
    return {name: {k: v / n for k, v in row.items()} for name, row in sorted(table.items())}


def with_self_time(spans) -> list[dict]:
    """Every closed span with ``self_s``: its duration less its children's."""
    child_s = defaultdict(float)
    for s in spans:
        if s["end"] is not None:
            child_s[s["parent"]] += s["end"] - s["start"]
    return [{**s, "self_s": s["end"] - s["start"] - child_s[s["id"]]} for s in spans if s["end"] is not None]
