#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload rapid_live --seed 1 --seconds 12 --trace 0

Run from the root of a checkout: the package is imported from there.
With ``--trace 0`` the last line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics of a traced run, and the
traced run's own end-to-end figures are printed above it next to the
last untraced run of the same workload and seed (the tracing overhead).
Working files go under ``.bench_work/`` in the checkout. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: end-to-end metric name -> unit
E2E = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}
WORKLOADS = ("rapid_live", "dual_epochs")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--driver-memory", default="6g", help="Spark driver heap (local mode: the whole JVM)")
    p.add_argument("--live-rate", type=float, default=100.0, help="offered msgs/s of rapid_live")
    return p.parse_args(argv)


def run(args):
    from perfbench.harness import Bench, end_descendants

    bench = Bench(ROOT, args.workload, args.seed, args.seconds, bool(args.trace), args.driver_memory)
    try:
        if args.workload == "rapid_live":
            from perfbench.rapids import rapid_live

            res = rapid_live(bench, args.live_rate)
        else:
            from perfbench.dual import dual_epochs

            res = dual_epochs(bench)
        if bench.trace:
            _dump_trace(bench)
    finally:
        try:
            bench.stop()
        finally:
            end_descendants()
            shutil.rmtree(bench.work, ignore_errors=True)
    return res


def _dump_trace(bench) -> None:
    """Write every span with its Spark attribution next to the results."""
    from perfbench import eventlog
    from perfbench.harness import write_json

    jobs = eventlog.read_jobs(bench.eventlog_dir)
    table = eventlog.span_table(jobs, bench.tracer.spans, bench.cores)
    path = os.path.join(ROOT, ".bench_work", "traces", f"{bench.workload}-seed{bench.seed}.json")
    write_json(path, table)
    worst = max(table, key=lambda row: abs(row["accounted"] - 1.0), default=None)
    off = sum(abs(row["accounted"] - 1.0) > 0.1 for row in table)
    print(f"trace: {len(table)} spans, {len(jobs)} jobs -> {os.path.relpath(path, ROOT)}; "
          f"(build + jobs + gap) / wall is off by more than 10% on {off} spans"
          + (f"; worst {worst['accounted']:.3f} on {worst['name']}" if worst else ""))


def main(argv=None) -> None:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "rapids_and_rivers_spark")):
        sys.exit(f"no rapids_and_rivers_spark package under {ROOT}: run from a full checkout")
    sys.path.insert(0, ROOT)
    from perfbench.harness import adopt_descendants, write_json
    from perfbench.layers import NAMES

    # a SIGTERM unwinds like an error, so run() stops what it started
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    adopt_descendants()
    res = run(args)
    e2e = {k: res.e2e[k] for k in E2E}
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}")
    for name, value, unit in res.report:
        print(f"  {name} = {value} {unit}".rstrip())
    print(f"  failed_share = {res.failed / res.attempted} ratio ({res.failed} of {res.attempted})")
    saved = os.path.join(ROOT, ".bench_work", "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    write_json(saved, e2e)
    untraced = saved.replace("-trace1.json", "-trace0.json")
    base = None
    if args.trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
    for name, unit in E2E.items():
        line = f"  {name} = {e2e[name]} {unit}"
        if base is not None:
            line += f"  (tracing overhead {e2e[name] - base[name]:+.4f} {unit} vs the untraced run)"
        print(line)
    metrics = (
        {k: {"value": res.layers[k], "unit": u} for k, u in NAMES.items()}
        if args.trace
        else {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    )
    print(json.dumps({"correct": res.failed == 0, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
