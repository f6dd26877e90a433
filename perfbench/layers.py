"""Per-layer metrics of the traced run, from the benchmark's spans, the
Spark event log, streaming progress and the written outputs.

Every workload reports every name in ``NAMES``; a layer a workload never
enters reads 0.
"""

from __future__ import annotations

import statistics

from perfbench import eventlog
from perfbench.stats import clip, percentile, union_length

SPARK = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s", "spark.executor_cpu_s",
    "spark.gc_s", "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.heap_peak_mb",
    "spark.driver_gap_s", "spark.core_busy_ratio",
)
#: ``durationMs`` phases of StreamingQueryProgress, by metric name
STREAM_PHASES = {
    "stream.latest_offset_ms": "latestOffset",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.add_batch_ms": "addBatch",
}
QUERY = ("wall_s", "jobs", "executor_cpu_s", "shuffle_bytes", "driver_gap_s")
QUERIES = ("entity_resolution",)

#: name -> unit of every per-layer metric
NAMES = {
    "session.build_s": "s", "session.warm_s": "s", "inputs.stage_s": "s",
    "runtime.batch_s_p50": "s", "runtime.batch_s_p90": "s", "runtime.msgs_per_batch": "count",
    "runtime.cache_s": "s", "runtime.build_s": "s",
    **{name: "ms" for name in STREAM_PHASES},
    "river.evaluate_build_s": "s", "responder.build_s": "s",
    "sink.write_s": "s", "sink.rows": "count", "sink.plan_s": "s",
    "dlq.write_s": "s", "dlq.rows_per_msg": "ratio",
    "packet.calls": "count", "packet.listener_s_per_msg": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B", "spark.heap_peak_mb": "MB",
    "spark.driver_gap_s": "s", "spark.core_busy_ratio": "ratio",
    "fanout.rows_scanned_per_reply": "ratio",
    "duals.epoch_s_p50": "s", "duals.epoch_s_max": "s", "duals.compact_s": "s", "duals.read_s": "s",
    "duals.jobs_per_epoch": "count", "duals.driver_gap_s_per_epoch": "s",
    "store.write_amp": "ratio", "store.files_live": "count", "store.files_live_compacted": "count",
    "compact.bytes_rewritten": "B",
    **{f"query.{q}.{m}": ("count" if m == "jobs" else "B" if m == "shuffle_bytes" else "s")
       for q in QUERIES for m in QUERY},
    "gen.late_s_max": "s",
}


def _walls(spans) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def _span_s(bench, name: str, after: float = 0.0) -> float:
    return sum(_walls(bench.tracer.named(name, after)))


def base(bench, jobs, start: float, end: float) -> dict:
    """Zeros for every name, the session layer, and the ``spark.*``
    metrics of the jobs submitted inside ``[start, end]``."""
    out = dict.fromkeys(NAMES, 0.0)
    out["session.build_s"] = _span_s(bench, "session.build")
    out["session.warm_s"] = _span_s(bench, "session.warm")
    out["inputs.stage_s"] = _span_s(bench, "inputs.stage")
    window = eventlog.window_metrics(jobs, start, end, bench.cores)
    out.update({k: window[k] for k in SPARK})
    return out


def _jobs_s(jobs, start: float, end: float) -> float:
    return union_length(clip([(j.start, j.end) for j in eventlog.in_window(jobs, start, end)], start, end))


def rapid_layers(bench, t0: float, progress, replies, packet_snapshot, dlq_rows_per_msg: float) -> dict:
    """Layers of the micro-batches that started at or after ``t0``, from
    their spans, their ``StreamingQueryProgress`` records and their replies."""
    jobs = eventlog.read_jobs(bench.eventlog_dir)
    batches = bench.tracer.named("process_batch", t0)
    sinks = bench.tracer.named("sink.write", t0)
    out = base(bench, jobs, batches[0]["start"], batches[-1]["end"])
    n = len(batches)
    ids = {b["attrs"]["batch"] for b in batches}
    replies = [r for r in replies if r[0] in ids]
    progress = [p for p in progress if p["batchId"] in ids]
    walls = _walls(batches)
    out["runtime.batch_s_p50"] = statistics.median(walls)
    out["runtime.batch_s_p90"] = percentile(walls, 90)
    out["runtime.msgs_per_batch"] = sum(p["numInputRows"] for p in progress) / n
    cache, build = [], []
    for b in batches:
        first_sink = min(s["start"] for s in sinks if b["start"] <= s["start"] <= b["end"])
        job_s = _jobs_s(jobs, b["start"], first_sink)
        cache.append(job_s)
        build.append(first_sink - b["start"] - job_s)
    out["runtime.cache_s"] = statistics.mean(cache)
    out["runtime.build_s"] = statistics.mean(build)
    for name, phase in STREAM_PHASES.items():
        vals = [p["durationMs"].get(phase, 0) for p in progress if p["numInputRows"] > 0]
        out[name] = statistics.median(vals) if vals else 0.0
    out["river.evaluate_build_s"] = _span_s(bench, "river.evaluate", t0) / n
    out["responder.build_s"] = _span_s(bench, "responder", t0) / n
    out["sink.write_s"] = statistics.mean(_walls(sinks))
    out["sink.plan_s"] = _span_s(bench, "sink.plan", t0) / n
    out["sink.rows"] = len(replies) / n
    out["dlq.write_s"] = _span_s(bench, "dlq.write", t0) / n
    out["dlq.rows_per_msg"] = dlq_rows_per_msg
    calls = sum(t["count"] for t in packet_snapshot.values())
    secs = sum(t["total_seconds"] for t in packet_snapshot.values())
    out["packet.calls"] = calls
    out["packet.listener_s_per_msg"] = secs / calls if calls else 0.0
    scanned = sum(j.input_records + j.cache_rows for s in sinks for j in eventlog.in_window(jobs, s["start"], s["end"]))
    out["fanout.rows_scanned_per_reply"] = scanned / max(1, len(replies))
    return out


def dual_layers(bench, store_stats: dict) -> dict:
    jobs = eventlog.read_jobs(bench.eventlog_dir)
    measure = bench.tracer.named("measure")[0]
    t0 = measure["start"]  # spans before it belong to the warm-up
    out = base(bench, jobs, t0, measure["end"])
    epochs = bench.tracer.named("dual.epoch", t0)
    walls = _walls(epochs)
    out["duals.epoch_s_p50"] = statistics.median(walls)
    out["duals.epoch_s_max"] = max(walls)
    out["duals.compact_s"] = _span_s(bench, "er_compact_store", t0)
    out["duals.read_s"] = _span_s(bench, "er_current_entities", t0)
    per_epoch = [eventlog.window_metrics(jobs, s["start"], s["end"], bench.cores) for s in epochs]
    out["duals.jobs_per_epoch"] = statistics.mean(m["spark.jobs"] for m in per_epoch)
    out["duals.driver_gap_s_per_epoch"] = statistics.mean(m["spark.driver_gap_s"] for m in per_epoch)
    out.update(store_stats)
    for q in QUERIES:
        for s in bench.tracer.named(f"query.{q}", t0):
            m = eventlog.window_metrics(jobs, s["start"], s["end"], bench.cores)
            out[f"query.{q}.wall_s"] += m["wall_s"]
            out[f"query.{q}.jobs"] += m["spark.jobs"]
            out[f"query.{q}.executor_cpu_s"] += m["spark.executor_cpu_s"]
            out[f"query.{q}.shuffle_bytes"] += m["spark.shuffle_read_bytes"] + m["spark.shuffle_write_bytes"]
            out[f"query.{q}.driver_gap_s"] += m["spark.driver_gap_s"]
    return out
