"""The ``rapid_live`` workload: an open-loop publisher feeds a file-source
rapid of five rivers; reply latency is timed from each message's
creation stamp to the sink commit that carried its reply."""

from __future__ import annotations

import collections
import json
import os
import random
import subprocess
import sys
import time

from perfbench import gen, layers
from perfbench.harness import Bench, Result, latency_metrics, wait_for
from perfbench.rivers import live_rivers
from perfbench.stats import reply_latencies

#: the live rapid's publishing period: one message file per tick
TICK_S = 0.25
#: publishing time before the timed window. The first micro-batches after
#: the warm-up are not the steady state: the first holds a single tick and
#: waits for nothing, and the JVM keeps compiling hot code, so batch walls
#: fall from about 4.5 s to about 3 s over the first 20 s. Messages created
#: in the lead-in are checked but not timed.
LEAD_S = 10.0
#: the warm-up: the live rapid's first (cold) micro-batch reads this many
#: files of this many messages. Spread over several files, it runs on as
#: many tasks, and so starts as many Python workers, as the timed batches.
WARM_FILES = 8
WARM_MSGS = 25
#: how long a run may wait for a micro-batch to commit
COMMIT_TIMEOUT_S = 90.0


class _Dispatch:
    """Wraps ``process_batch`` on a rapid instance and times its sink.

    Records, per micro-batch, the ``process_batch`` span and the commit
    time of the sink write and which batches have finished."""

    def __init__(self, bench: Bench, rapid, out_dir: str):
        self.bench = bench
        self.out_dir = out_dir
        self.batch = None
        self.commits: dict[int, float] = {}
        self.finished: set[int] = set()
        self._process = rapid.process_batch
        rapid.process_batch = self.process_batch
        rapid.set_sink(self.sink)

    def process_batch(self, df, batch_id: int) -> None:
        self.batch = batch_id
        with self.bench.span("process_batch", batch=batch_id):
            self._process(df, batch_id)
        self.finished.add(batch_id)

    def sink(self, df) -> None:
        with self.bench.span("sink.write", batch=self.batch):
            if self.bench.trace:
                with self.bench.span("sink.plan", batch=self.batch):
                    df._jdf.queryExecution().executedPlan()
            df.write.mode("append").parquet(os.path.join(self.out_dir, f"batch={self.batch}"))
            self.commits[self.batch] = time.time()


def _read_values(path: str) -> list[str]:
    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return []
    return pq.read_table(path, columns=["value"]).column("value").to_pylist()


def read_replies(out_dir: str) -> list[tuple[int, str, str]]:
    """``(batch_id, answered message id, river)`` for every reply written."""
    rows = []
    for name in os.listdir(out_dir):
        if name.startswith("batch="):
            batch = int(name.split("=", 1)[1])
            for value in _read_values(os.path.join(out_dir, name)):
                reply = json.loads(value)
                rows.append((batch, reply["@forårsaket_av"]["id"], reply["river"]))
    return rows


def rapid_live(bench: Bench, rate: float) -> Result:
    from rapids_and_rivers_spark.streaming.runtime import StreamingRapid

    spark = bench.session()
    in_dir = bench.dir("live", "in")
    tmp_dir = bench.dir("live", "tmp")
    out_dir = bench.dir("live", "out")
    dlq_dir = bench.path("live", "dlq")

    rapid = StreamingRapid.from_text_files(spark, in_dir, service_name="perfbench", instance_id="live-1")
    rapid.set_dlq_parquet(dlq_dir)
    rivers = live_rivers(lambda name, fn: bench.wrap("responder", fn, river=name))
    for river in rivers:
        if bench.trace:
            river.evaluate = bench.wrap("river.evaluate", river.evaluate, river=river.name)
        rapid.register(river)
    dispatch = _Dispatch(bench, rapid, out_dir)
    if bench.trace:
        rapid._dlq = bench.wrap("dlq.write", rapid._dlq)
    # the first micro-batch of a fresh JVM runs several times slower than
    # later ones: the warm-up files make it, untimed
    rng = random.Random(bench.seed + 1)
    warm = []
    for f in range(WARM_FILES):
        lines = [gen.message(rng, bench.seed + 1, len(warm) + i, time.time()) for i in range(WARM_MSGS)]
        gen.write_atomically(os.path.join(in_dir, f"warm-{f}.json"), [line for line, _ in lines], tmp_dir)
        warm += lines
    with bench.span("session.warm"):
        query = rapid.start(bench.path("live", "ckpt"), available_now=False)
        finished = wait_for(lambda: dispatch.finished or query.exception() is not None, COMMIT_TIMEOUT_S)
    try:
        if not finished or query.exception() is not None:
            raise RuntimeError(f"the warm-up micro-batch did not finish: {query.exception()}")
        # packet timers count the micro-batches after the warm-up only
        timer = rapid.enable_packet_timers() if bench.trace else None
        with bench.span("inputs.stage"):
            truth_path = bench.path("live", "truth.json")
            start_at = time.time() + 0.3
            publisher = subprocess.Popen(
                [sys.executable, "-m", "perfbench.gen", "publish", "--out", in_dir, "--tmp", tmp_dir,
                 "--seed", str(bench.seed), "--rate", str(rate), "--seconds", str(LEAD_S + bench.seconds),
                 "--tick", str(TICK_S), "--truth", truth_path, "--start-at", repr(start_at)],
                cwd=bench.root,
            )
        setup_s = start_at - bench.started
        try:
            with bench.span("measure"):
                if publisher.wait(timeout=LEAD_S + bench.seconds + 60) != 0:
                    raise RuntimeError("the publisher failed")
                with open(truth_path) as f:
                    truth = json.load(f)
                n = len(truth["messages"]) + len(warm)
                drained = wait_for(
                    lambda: query.exception() is not None
                    or sum(p["numInputRows"] for p in query.recentProgress) >= n,
                    COMMIT_TIMEOUT_S,
                )
            if query.exception() is not None:
                raise RuntimeError(f"the rapid failed: {query.exception()}")
            progress = list(query.recentProgress)
            rss = bench.peak_rss_mb()
        finally:
            if publisher.poll() is None:
                publisher.kill()
            publisher.wait()
    finally:
        StreamingRapid.stop_gracefully(query)
    packets = timer.snapshot() if timer is not None else None
    bench.stop()  # also closes the event log

    res = Result()
    messages = [t for _, t in warm] + truth["messages"]
    replies = read_replies(out_dir)
    dlq = _read_dlq(dlq_dir)
    res.attempted, res.failed, bad = check_live(messages, replies, dlq)
    window_start = start_at + LEAD_S
    timed = {m["id"]: m["stamp"] for m in truth["messages"] if m["stamp"] >= window_start}
    pairs = [(b, timed[mid]) for b, mid, _ in replies if mid in timed]
    lat = reply_latencies(pairs, dispatch.commits)
    res.e2e, note = latency_metrics(lat)
    last_commit = max(dispatch.commits[b] for b, _ in pairs)
    res.e2e["items_per_s"] = len(timed) / (last_commit - window_start)
    res.e2e["setup_s"] = setup_s
    res.e2e["peak_rss_mb"] = sum(rss)
    batches = bench.tracer.named("process_batch", start_at)
    res.report.append(("rss_jvm_mb, rss_driver_mb", rss, "MB"))
    res.report.append(("host_steal_share", bench.steal_share(), "ratio"))
    res.report += [
        ("reply_latency_p50_s", res.e2e["latency_p50_s"], "s"),
        ("reply_latency_p99_s", res.e2e["latency_p99_s"], "s"),
        ("msgs_per_s", res.e2e["items_per_s"], "msgs/s"),
        ("busy_msgs_per_s", (n - len(warm)) / sum(s["end"] - s["start"] for s in batches), "msgs/s"),
        ("batch_sizes", [p["numInputRows"] for p in progress if p["numInputRows"]], ""),
        ("batch_walls", [round(s["end"] - s["start"], 2) for s in bench.tracer.named("process_batch")], "s"),
        ("offered_msgs_per_s", rate, "msgs/s"),
        ("batches", len(batches), "count"),
        ("drained", drained, "bool"),
        ("gen.late_s_max", truth["late_s_max"], "s"),
        ("note", note, ""),
    ] + bad
    if bench.trace:
        for start, end in truth["publishes"]:
            bench.tracer.spans.append({"id": -1, "parent": None, "name": "gen.publish",
                                       "start": start, "end": end, "attrs": {}})
        res.layers = layers.rapid_layers(bench, window_start, progress, replies, packets,
                                         sum(dlq.values()) / len(messages))
        res.layers["gen.late_s_max"] = truth["late_s_max"]
    return res


def _read_dlq(dlq_dir: str) -> collections.Counter:
    import pyarrow.parquet as pq

    if not os.path.isdir(dlq_dir):
        return collections.Counter()
    t = pq.read_table(dlq_dir, columns=["river", "verdict"])
    return collections.Counter(zip(t.column("river").to_pylist(), t.column("verdict").to_pylist()))


def expected_dlq(messages: list[dict]) -> collections.Counter:
    """DLQ rows today's routing produces: every river that does not pass
    a message writes one row for it, so a valid message lands in the DLQ
    once per other river (4 rows with 5 rivers)."""
    want = collections.Counter()
    for m in messages:
        for river in gen.EVENT_TYPES:
            if m["kind"] == "unparseable":
                want[(river, "unparseable")] += 1
            elif river != m["type"]:
                want[(river, "precondition_failed")] += 1
            elif m["kind"] == "missing":
                want[(river, "validation_failed")] += 1
    return want


def check_live(messages, replies, dlq: collections.Counter):
    """Each valid message gets exactly one reply, from its own river; no
    other message gets any; DLQ rows per (river, verdict) match today's
    routing. Returns ``(attempted, failed, report lines)``."""
    got = collections.defaultdict(list)
    for _, mid, river in replies:
        got[mid].append(river)
    failed = 0
    for m in messages:
        want = [m["type"]] if m["kind"] == "ok" else []
        if sorted(got.pop(m["id"], [])) != want:
            failed += 1
    failed += len(got)  # replies to messages nobody sent
    want_dlq = expected_dlq(messages)
    wrong = [k for k in set(want_dlq) | set(dlq) if want_dlq[k] != dlq[k]]
    bad = [("wrong_dlq_group", f"{k}: want {want_dlq[k]} got {dlq[k]}", "") for k in sorted(wrong)]
    return len(messages) + len(want_dlq), failed + len(wrong), bad
