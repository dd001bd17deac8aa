"""Open-loop event generator for the trend_stream workload.

Lands event-wire JSON files (``streaming.sources.EVENT_WIRE_DDL``) into
a landing directory on a fixed schedule, regardless of how fast the
system under test consumes them. File ``i`` holds the events created in
``[i / FILES_PER_S, (i + 1) / FILES_PER_S)`` seconds after ``t0`` and is
due at the end of that interval. An event's creation time is its
offset ``c`` after ``t0``; its event time is ``BASE + c - lateness``,
where a share of events arrive late by up to ``MAX_LATENESS_S`` (below
the watermark delay, so none may be dropped). ``user_id`` and
``event_type`` are Zipf-skewed.

Run as a separate process:

    python3 perfbench/gen_events.py --seed N --files F --t0 T \
        --landing DIR --staging DIR --manifest FILE

It writes each file under ``--staging`` and renames it into
``--landing`` when due, then writes ``--manifest``: one
``[due, landed]`` wall-clock pair per file.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import time

import numpy as np

RATE_EPS = 2000
FILES_PER_S = 10
EVENTS_PER_FILE = RATE_EPS // FILES_PER_S
LATE_SHARE = 0.2
MAX_LATENESS_S = 1.0
USERS = 2000
EVENT_TYPES = ("view", "click", "purchase", "signup", "error", "share", "search", "logout")
#: Event time of creation offset 0.
BASE = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
BASE_MS = int(BASE.timestamp() * 1000)


def file_events(seed: int, i: int) -> list[tuple]:
    """Events of file ``i``: (event_id, ts_ms, user_id, event_type,
    value, k, created_s). A pure function of (seed, i)."""
    rng = np.random.default_rng([seed, i])
    n = EVENTS_PER_FILE
    created = (i + (np.arange(n) + 0.5) / n) / FILES_PER_S
    late = rng.random(n) < LATE_SHARE
    lateness = np.where(late, rng.random(n) * MAX_LATENESS_S, 0.0)
    ts_ms = BASE_MS + np.floor((created - lateness) * 1000).astype(np.int64)
    users = (rng.zipf(1.3, n) - 1) % USERS
    types = (rng.zipf(1.6, n) - 1) % len(EVENT_TYPES)
    values = rng.integers(0, 56_000, n) / 100.0
    ks = rng.integers(0, 100, n)
    first_id = i * n
    return [
        (first_id + j, int(ts_ms[j]), int(users[j]), EVENT_TYPES[types[j]],
         float(values[j]), int(ks[j]), float(created[j]))
        for j in range(n)
    ]


def _iso(ts_ms: int) -> str:
    t = dt.datetime.fromtimestamp(ts_ms / 1000, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts_ms % 1000:03d}Z"


def render(seed: int, i: int) -> str:
    lines = []
    for eid, ts_ms, user, etype, value, k, _ in file_events(seed, i):
        lines.append(json.dumps({
            "event_id": eid, "ts": _iso(ts_ms), "user_id": user,
            "event_type": etype, "value": value, "props": f'{{"k": {k}}}',
        }))
    return "\n".join(lines) + "\n"


def file_name(i: int) -> str:
    return f"events-{i:06d}.json"


def land(text: str, name: str, staging: str, landing: str) -> None:
    tmp = os.path.join(staging, name)
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, os.path.join(landing, name))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--files", type=int, required=True)
    p.add_argument("--t0", type=float, required=True)
    p.add_argument("--landing", required=True)
    p.add_argument("--staging", required=True)
    p.add_argument("--manifest", required=True)
    a = p.parse_args()
    texts = [render(a.seed, i) for i in range(a.files)]
    record = []
    for i, text in enumerate(texts):
        due = a.t0 + (i + 1) / FILES_PER_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        land(text, file_name(i), a.staging, a.landing)
        record.append([due, time.time()])
    with open(a.manifest, "w") as f:
        json.dump(record, f)


if __name__ == "__main__":
    main()
