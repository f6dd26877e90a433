"""Spark event-log parser: per-job facts, attributed to benchmark spans by
time window.

The session writes its event log (``spark.eventLog.enabled``) as JSON
lines into a local directory; no UI and no REST API are needed. Jobs
started by helper threads carry no description, so a job belongs to the
innermost span whose window contains the job's submission time.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from perfbench.stats import clip, union_length


@dataclass
class Job:
    id: int
    start: float  # seconds since the epoch
    end: float | None = None
    stages: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    input_records: int = 0
    cache_rows: int = 0
    heap_peak: int = 0


def read_jobs(log_dir: str) -> list[Job]:
    """Every finished job in the event logs under ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    scan_accums: set[int] = set()
    for path in _log_files(log_dir):
        with open(path) as f:
            for line in f:
                _apply(json.loads(line), jobs, stage_job, scan_accums)
    return sorted((j for j in jobs.values() if j.end is not None), key=lambda j: j.start)


def _log_files(log_dir: str) -> list[str]:
    """Event files in write order: plain single-file logs, or the
    ``events_<n>_<app>`` parts of a rolling log directory."""
    out = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if os.path.isdir(path):
            parts = [n for n in os.listdir(path) if n.startswith("events_")]
            out += [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
        else:
            out.append(path)
    return out


def _scan_row_metrics(plan: dict, out: set[int]) -> None:
    """Accumulator ids of the row counters of in-memory (cached) scans."""
    if plan.get("nodeName", "").startswith("InMemoryTableScan"):
        out.update(m["accumulatorId"] for m in plan.get("metrics", []) if m["name"] == "number of output rows")
    for child in plan.get("children", []):
        _scan_row_metrics(child, out)


def _apply(ev: dict, jobs: dict[int, Job], stage_job: dict[int, int], scan_accums: set[int]) -> None:
    kind = ev.get("Event", "")
    if kind.endswith(("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")):
        _scan_row_metrics(ev.get("sparkPlanInfo") or {}, scan_accums)
    elif kind == "SparkListenerJobStart":
        job = Job(ev["Job ID"], ev["Submission Time"] / 1000)
        jobs[job.id] = job
        for sid in ev.get("Stage IDs", []):
            # a stage shared by later jobs runs its tasks for the first
            stage_job.setdefault(sid, job.id)
    elif kind == "SparkListenerJobEnd":
        job = jobs.get(ev["Job ID"])
        if job is not None:
            job.end = ev["Completion Time"] / 1000
    elif kind == "SparkListenerTaskEnd":
        job = jobs.get(stage_job.get(ev["Stage ID"], -1))
        if job is None:
            return
        job.stages.add(ev["Stage ID"])
        job.tasks += 1
        m = ev.get("Task Metrics") or {}
        job.run_s += m.get("Executor Run Time", 0) / 1000
        job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        job.gc_s += m.get("JVM GC Time", 0) / 1000
        sr = m.get("Shuffle Read Metrics") or {}
        job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        job.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        job.input_records += (m.get("Input Metrics") or {}).get("Records Read", 0)
        for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
            if acc.get("ID") in scan_accums:
                job.cache_rows += int(acc.get("Update") or 0)
        heap = (ev.get("Task Executor Metrics") or {}).get("JVMHeapMemory", 0)
        job.heap_peak = max(job.heap_peak, heap)
    elif kind == "SparkListenerStageExecutorMetrics":
        job = jobs.get(stage_job.get(ev.get("Stage ID", -1), -1))
        if job is not None:
            heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0)
            job.heap_peak = max(job.heap_peak, heap)


def in_window(jobs: list[Job], start: float, end: float) -> list[Job]:
    """Jobs submitted inside ``[start, end]``."""
    return [j for j in jobs if start <= j.start <= end]


def window_metrics(jobs: list[Job], start: float, end: float, cores: int) -> dict:
    """The ``spark.*`` metrics of one span: the jobs submitted inside it,
    their task totals, and the driver gap (span wall minus the union of
    the job intervals, clipped to the span)."""
    sel = in_window(jobs, start, end)
    wall = end - start
    busy = union_length(clip([(j.start, j.end) for j in sel], start, end))
    run_s = sum(j.run_s for j in sel)
    return {
        "wall_s": wall,
        "jobs_s": busy,
        "spark.jobs": len(sel),
        "spark.stages": sum(len(j.stages) for j in sel),
        "spark.tasks": sum(j.tasks for j in sel),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": sum(j.cpu_s for j in sel),
        "spark.gc_s": sum(j.gc_s for j in sel),
        "spark.shuffle_read_bytes": sum(j.shuffle_read for j in sel),
        "spark.shuffle_write_bytes": sum(j.shuffle_write for j in sel),
        "spark.input_records": sum(j.input_records for j in sel),
        "spark.cache_rows": sum(j.cache_rows for j in sel),
        "spark.heap_peak_mb": max((j.heap_peak for j in sel), default=0) / 2**20,
        "spark.driver_gap_s": wall - busy,
        "spark.core_busy_ratio": run_s / (wall * cores) if wall > 0 else 0.0,
    }


def innermost(spans: list[dict], t: float) -> dict | None:
    """The shortest span whose window contains time ``t``."""
    best = None
    for s in spans:
        if s["start"] <= t <= s["end"] and (best is None or s["end"] - s["start"] < best["end"] - best["start"]):
            best = s
    return best


#: spans of Python-side plan construction: the build time of a span is
#: the union of these spans inside its window
BUILD_SPANS = ("river.evaluate", "responder", "sink.plan")


def accounting(jobs: list[Job], spans: list[dict], span: dict) -> dict:
    """Split one span's wall into three terms measured apart: build time
    (the union of the ``BUILD_SPANS`` inside it, from Python's clock), job
    time (the union of its jobs' intervals, from the event log) and the
    gap (the wall covered by neither). Their sum exceeds the wall by the
    time build spans overlap Spark jobs, so ``accounted`` (the sum over
    the wall) leaves 1 when a build span hides Spark work."""
    start, end = span["start"], span["end"]
    build = clip([(s["start"], s["end"]) for s in spans
                  if s["name"] in BUILD_SPANS and s is not span and start <= s["start"] <= end], start, end)
    busy = clip([(j.start, j.end) for j in in_window(jobs, start, end)], start, end)
    wall = end - start
    build_s, jobs_s = union_length(build), union_length(busy)
    gap_s = wall - union_length(build + busy)
    return {"build_s": build_s, "jobs_s": jobs_s, "gap_s": gap_s,
            "accounted": (build_s + jobs_s + gap_s) / wall if wall > 0 else 1.0}


def span_table(jobs: list[Job], spans: list[dict], cores: int) -> list[dict]:
    """Per span: its own jobs (innermost attribution), its inclusive
    window metrics and its wall :func:`accounting`."""
    own: dict[int, int] = {}
    for j in jobs:
        s = innermost(spans, j.start)
        if s is not None:
            own[s["id"]] = own.get(s["id"], 0) + 1
    rows = []
    for s in sorted(spans, key=lambda s: s["start"]):
        m = window_metrics(jobs, s["start"], s["end"], cores)
        m.update(id=s["id"], parent=s["parent"], name=s["name"], attrs=s["attrs"], own_jobs=own.get(s["id"], 0))
        m.update(accounting(jobs, spans, s))
        rows.append(m)
    return rows
