"""Seeded inputs: rapid messages, the open-loop publisher, documents.

Everything here is a pure function of ``--seed``. The publisher runs as
its own process (``python3 -m perfbench.gen publish ...``) so its schedule
never slows when the system under test slows.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys
import time

#: event-type mix of the live rapid: view >> click >> purchase >> signup ~ refund
EVENT_MIX = (("view", 0.62), ("click", 0.24), ("purchase", 0.09), ("signup", 0.025), ("refund", 0.025))
EVENT_TYPES = tuple(t for t, _ in EVENT_MIX)
MISSING_KEY_SHARE = 0.05
UNPARSEABLE_SHARE = 0.005
#: keys every river validates; a "missing key" message lacks one of them
REQUIRED_KEYS = ("user_id", "value")

#: a copy of the sf0.1 ``documents`` table of the repository's test data
#: (see TESTDATA.md), so the benchmark reads nothing outside its checkout
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


def _pick(rng: random.Random, weighted) -> str:
    x = rng.random()
    for name, w in weighted:
        x -= w
        if x < 0:
            return name
    return weighted[-1][0]


def message(rng: random.Random, seed: int, i: int, stamp: float) -> tuple[str, dict]:
    """One rapid message and its ground truth.

    Returns ``(line, truth)``; ``truth`` holds ``id``, ``type``, the
    creation ``stamp`` and ``kind`` (``ok``, ``missing`` or
    ``unparseable``)."""
    etype = _pick(rng, EVENT_MIX)
    msg_id = f"{seed}-{i}"
    body = {
        "@event_name": etype,
        "@id": msg_id,
        "event_id": i,
        "user_id": rng.randrange(5000),
        "value": round(rng.random() * 200, 2),
        "gen_ts": stamp,
    }
    x = rng.random()
    truth = {"id": msg_id, "type": etype, "kind": "ok", "stamp": stamp}
    if x < UNPARSEABLE_SHARE:
        # a JSON object cut off mid-way: one line, never parses
        return json.dumps(body)[:-12], truth | {"kind": "unparseable"}
    if x < UNPARSEABLE_SHARE + MISSING_KEY_SHARE:
        del body[rng.choice(REQUIRED_KEYS)]
        return json.dumps(body), truth | {"kind": "missing"}
    return json.dumps(body), truth


def write_atomically(path: str, lines: list[str], tmp_dir: str) -> None:
    """Write a message file under ``tmp_dir`` and rename it to ``path``,
    so a file source watching ``path``'s directory never sees it partial."""
    tmp = os.path.join(tmp_dir, os.path.basename(path))
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, path)


def publish(out_dir: str, tmp_dir: str, seed: int, rate: float, seconds: float,
            tick_s: float, truth_path: str, start_at: float) -> None:
    """Open-loop publisher: every ``tick_s`` from ``start_at`` one file of
    ``rate * tick_s`` messages becomes visible in ``out_dir``, whether or
    not the rapid keeps up. Each message is stamped with its tick's due
    time, so lateness of this process counts into reply latency. Writes
    the ground truth, its own lateness and the wall-clock window of each
    publish to ``truth_path`` at the end."""
    rng = random.Random(seed)
    per_tick = max(1, round(rate * tick_s))
    ticks = max(1, round(seconds / tick_s))
    truth: list[dict] = []
    publishes: list[tuple[float, float]] = []
    late_max = 0.0
    i = 0
    for k in range(ticks):
        due = start_at + k * tick_s
        now = time.time()
        if now < due:
            time.sleep(due - now)
        began = time.time()
        late_max = max(late_max, began - due)
        lines = []
        for _ in range(per_tick):
            line, t = message(rng, seed, i, due)
            lines.append(line)
            truth.append(t)
            i += 1
        write_atomically(os.path.join(out_dir, f"tick-{k:05d}.json"), lines, tmp_dir)
        publishes.append((began, time.time()))
    with open(truth_path + ".tmp", "w") as f:
        json.dump({"messages": truth, "late_s_max": late_max, "ticks": ticks, "publishes": publishes,
                   "first_due": start_at, "last_due": start_at + (ticks - 1) * tick_s}, f)
    os.rename(truth_path + ".tmp", truth_path)


def _hash(seed: int, doc_id: int) -> int:
    return int.from_bytes(hashlib.md5(f"{seed}:{doc_id}".encode()).digest()[:4], "little")


def documents(seed: int, n: int | None = None):
    """The sf0.1 documents (``doc_id, text, lang, source, n_chars``), or
    a seeded sample of ``n`` of them chosen by a hash of ``doc_id``."""
    import pyarrow.parquet as pq

    docs = pq.read_table(DOCUMENTS).to_pandas()
    if n is not None:
        keep = sorted(docs["doc_id"], key=lambda d: _hash(seed, d))[:n]
        docs = docs[docs["doc_id"].isin(keep)].reset_index(drop=True)
    return docs


def epoch_of(seed: int, doc_id: int, epochs: int) -> int:
    """Seeded hash split of the documents into ingest epochs."""
    return _hash(seed + 1, doc_id) % epochs


def main(argv: list[str]) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    pub = sub.add_parser("publish", help="run the open-loop publisher")
    pub.add_argument("--out", required=True)
    pub.add_argument("--tmp", required=True)
    pub.add_argument("--seed", type=int, required=True)
    pub.add_argument("--rate", type=float, required=True)
    pub.add_argument("--seconds", type=float, required=True)
    pub.add_argument("--tick", type=float, required=True)
    pub.add_argument("--truth", required=True)
    pub.add_argument("--start-at", type=float, required=True)
    a = p.parse_args(argv)
    publish(a.out, a.tmp, a.seed, a.rate, a.seconds, a.tick, a.truth, a.start_at)


if __name__ == "__main__":
    main(sys.argv[1:])
