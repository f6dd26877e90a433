"""Tests of the benchmark's own logic: interval union, percentile choice,
the reply-to-commit join, and event-log attribution on a small log
captured from a local Spark session (``testdata/``).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog
from perfbench.stats import beyond, clip, percentile, reply_latencies, tail, union_length

DATA = os.path.join(os.path.dirname(__file__), "testdata")


def test_union_merges_overlaps_and_nesting():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)


def test_union_ignores_empty_and_handles_unsorted_input():
    assert union_length([(4, 4), (3, 2), (2, 3), (0, 1)]) == pytest.approx(2.0)
    assert union_length([]) == 0.0


def test_clip_keeps_only_the_window():
    assert clip([(0, 2), (3, 9), (10, 11)], 1, 5) == [(1, 2), (3, 5)]


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 99) == 99
    assert percentile([7], 99) == 7


def test_tail_needs_ten_samples_beyond_the_percentile():
    assert beyond(1000, 99) == 10
    assert beyond(999, 99) == 9
    enough = list(range(1000))
    assert tail(enough) == ("p99", 989)
    short = list(range(999))
    assert tail(short) == ("max", 998)


def test_reply_latency_joins_each_reply_to_its_batch_commit():
    commits = {0: 10.0, 1: 14.5}
    replies = [(0, 9.0), (1, 9.75), (1, 14.0)]
    assert reply_latencies(replies, commits) == pytest.approx([1.0, 4.75, 0.5])
    with pytest.raises(KeyError):
        reply_latencies([(2, 1.0)], commits)


@pytest.fixture(scope="module")
def captured():
    jobs = eventlog.read_jobs(os.path.join(DATA, "eventlog"))
    with open(os.path.join(DATA, "spans.json")) as f:
        spans = json.load(f)
    return jobs, {s["name"]: s for s in spans}


def test_captured_log_has_finished_jobs_with_tasks(captured):
    jobs, _ = captured
    assert len(jobs) >= 4
    for job in jobs:
        assert job.end >= job.start
        assert job.tasks >= 1 and job.run_s >= 0


def test_shuffle_bytes_land_in_the_shuffle_span(captured):
    jobs, spans = captured
    span = spans["shuffle"]
    m = eventlog.window_metrics(jobs, span["start"], span["end"], cores=2)
    assert m["spark.jobs"] >= 1
    assert m["spark.shuffle_write_bytes"] == m["spark.shuffle_read_bytes"]
    # a grouped count shuffles more than a global sum, whose partial
    # aggregates still cross one exchange
    plain = spans["range"]
    other = eventlog.window_metrics(jobs, plain["start"], plain["end"], cores=2)
    assert m["spark.shuffle_write_bytes"] > other["spark.shuffle_write_bytes"] > 0


def test_cached_scan_rows_are_counted(captured):
    jobs, spans = captured
    span = spans["cached_scan"]
    m = eventlog.window_metrics(jobs, span["start"], span["end"], cores=2)
    assert m["spark.cache_rows"] == 5000


def test_driver_gap_is_wall_minus_job_union(captured):
    jobs, spans = captured
    span = spans["gap"]
    m = eventlog.window_metrics(jobs, span["start"], span["end"], cores=2)
    busy = union_length(clip([(j.start, j.end) for j in eventlog.in_window(jobs, span["start"], span["end"])],
                             span["start"], span["end"]))
    assert m["spark.driver_gap_s"] == pytest.approx(m["wall_s"] - busy)
    # the span slept half a second between its two counts
    assert m["spark.driver_gap_s"] >= 0.5
    assert m["spark.jobs"] >= 2


def test_jobs_go_to_the_innermost_span(captured):
    jobs, spans = captured
    table = {row["name"]: row for row in eventlog.span_table(jobs, list(spans.values()), cores=2)}
    inner = sum(table[n]["own_jobs"] for n in ("range", "shuffle", "cached_scan", "gap"))
    assert table["all"]["own_jobs"] + inner == len(eventlog.in_window(jobs, spans["all"]["start"], spans["all"]["end"]))
    assert table["shuffle"]["own_jobs"] >= 1
    # no build spans in the capture: job time and gap split every wall
    for row in table.values():
        assert row["build_s"] == 0.0
        assert row["jobs_s"] + row["gap_s"] == pytest.approx(row["wall_s"])


def _span(i, name, start, end, parent=None):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end, "attrs": {}}


def test_accounting_splits_a_wall_into_build_jobs_and_gap():
    batch = _span(1, "process_batch", 0.0, 10.0)
    spans = [batch, _span(2, "river.evaluate", 1.0, 3.0, 1), _span(3, "sink.plan", 6.0, 6.5, 1)]
    jobs = [eventlog.Job(0, 4.0, 5.0), eventlog.Job(1, 7.0, 9.0)]
    row = eventlog.accounting(jobs, spans, batch)
    assert (row["build_s"], row["jobs_s"], row["gap_s"]) == pytest.approx((2.5, 3.0, 4.5))
    assert row["accounted"] == pytest.approx(1.0)


def test_accounting_flags_a_build_span_that_runs_jobs():
    batch = _span(1, "process_batch", 0.0, 10.0)
    spans = [batch, _span(2, "responder", 1.0, 5.0, 1)]
    jobs = [eventlog.Job(0, 2.0, 4.0)]
    row = eventlog.accounting(jobs, spans, batch)
    # the job's 2 s count as build and as job time
    assert row["accounted"] == pytest.approx(1.2)


def test_document_sample_and_epoch_split_follow_the_seed():
    from perfbench import gen

    a, b, c = gen.documents(1, 50), gen.documents(1, 50), gen.documents(2, 50)
    assert len(a) == 50 and list(a["doc_id"]) == list(b["doc_id"])
    assert set(a["doc_id"]) != set(c["doc_id"])
    assert len(gen.documents(1)) == 5000
    split = [gen.epoch_of(1, d, 4) for d in a["doc_id"]]
    assert set(split) == {0, 1, 2, 3}


def test_end_descendants_stops_and_reaps_orphaned_grandchildren():
    import subprocess
    import sys
    import textwrap

    # in a process of its own: a subreaper stays one for its lifetime
    script = textwrap.dedent("""
        import os, subprocess, time
        from perfbench.harness import _children, adopt_descendants, end_descendants
        adopt_descendants()
        # the shell exits at once; its sleep is orphaned and comes back to us
        subprocess.run(["sh", "-c", "sleep 300 & exit 0"], check=True)
        time.sleep(0.2)
        assert _children(os.getpid()), "the orphan did not come back"
        end_descendants(grace_s=0.2, term_s=2.0)
        print(_children(os.getpid()))
    """)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", script], cwd=root, capture_output=True, text=True, timeout=30)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "[]"
