"""Small statistics used by the metrics: percentiles, interval unions, the
reply-to-commit join."""

from __future__ import annotations

import math


def percentile(values, q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(q / 100 * len(s)))
    return s[rank - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``-th percentile."""
    return n - max(1, math.ceil(q / 100 * n))


def tail(values, q: float = 99.0, min_beyond: int = 10) -> tuple[str, float]:
    """The ``q``-th percentile when at least ``min_beyond`` samples lie
    beyond it; otherwise the sample maximum. Returns ``(label, value)``."""
    if beyond(len(values), q) >= min_beyond:
        return f"p{q:g}", percentile(values, q)
    return "max", max(values)


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, start: float, end: float) -> list[tuple[float, float]]:
    """The parts of ``intervals`` that fall inside ``[start, end]``."""
    return [(max(s, start), min(e, end)) for s, e in intervals if e > start and s < end]


def reply_latencies(replies, commits: dict) -> list[float]:
    """Latency of each reply: commit time of the sink write that carried
    it minus the creation stamp of the message it answers.

    ``replies`` is an iterable of ``(batch_id, created_at)``; ``commits``
    maps a batch id to its sink commit time. A reply from a batch with no
    recorded commit raises ``KeyError``: it cannot be timed."""
    return [commits[batch] - created for batch, created in replies]
