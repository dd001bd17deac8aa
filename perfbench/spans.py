"""In-memory spans and counters for the traced run.

A span records (name, start, end, parent, run id). Spans stay in memory
until the run ends and are then written out as JSON lines. A layer's
self time is the time its spans cover minus the part their child spans
cover. The untraced run uses a disabled tracer whose ``span`` does
nothing, so the end-to-end figures carry no tracing cost.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "name": name,
                        "start": start,
                        "end": end,
                        "parent": parent,
                        "run": self.run_id,
                    }
                )

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that opens span ``name``
        around each call. Undone by ``unpatch``. No-op when tracing is
        off."""
        if not self.enabled:
            return
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.replace(owner, attr, wrapper)

    def replace(self, owner, attr: str, new) -> None:
        """Set ``owner.attr = new`` until ``unpatch``; tracing only."""
        if self.enabled:
            self._restore.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, new)

    def unpatch(self) -> None:
        while self._restore:
            owner, attr, original = self._restore.pop()
            setattr(owner, attr, original)

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def self_s(self, name: str) -> float:
        """Σ over spans named ``name`` of duration minus the union of
        their children's intervals."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            covered = 0.0
            cur_s = cur_e = None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            total += (s["end"] - s["start"]) - covered
        return total

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
