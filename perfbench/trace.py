"""In-memory spans for the traced run.

A span is recorded around a call into one layer: name, start, end, parent
span and the id of the request (query or transaction) it belongs to.
Each span runs under its own Spark job group, so the jobs a span launched
while it was the innermost open span are read back from the status store
and attached to it (``settle``).  Spans stay in memory and are written out
once, when the run ends (``dump``).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from dataclasses import asdict

from perfbench.ledger import Ledger, SparkCounts


class Tracer:
    def __init__(self, ledger: Ledger) -> None:
        self.ledger = ledger
        self.enabled = False
        self.request: str | None = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._settled = 0
        self._requests = 0

    def begin(self, what: str) -> None:
        """Start a new request: later spans share its id."""
        self._requests += 1
        self.request = f"{self._requests}:{what}"

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span around
        each call while tracing is enabled."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def settle(self) -> list[dict]:
        """Attach Spark counts to the spans closed since the last call and
        return them.  Call right after each request, before the status
        store can evict its stages."""
        new = self.spans[self._settled:]
        self._settled = len(self.spans)
        if new:
            self.ledger.drain()
            for rec in new:
                rec["spark"] = asdict(self.ledger.counts(rec["group"]))
        return new

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name
        self.rec: dict | None = None

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return None
        sid = len(t.spans) + len(t._stack) + 1
        self.rec = {
            "id": sid,
            "name": self.name,
            "parent": t._stack[-1]["id"] if t._stack else None,
            "request": t.request,
            "group": f"perfbench-span-{sid}",
        }
        self._prev_group = t.ledger.current_group()
        t.ledger.set_group(self.rec["group"])
        t._stack.append(self.rec)
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc) -> None:
        if self.rec is None:
            return
        t = self.tracer
        self.rec["end"] = time.perf_counter()
        t._stack.pop()
        t.ledger.set_group(self._prev_group)
        t.spans.append(self.rec)


def duration(rec: dict) -> float:
    return rec["end"] - rec["start"]


def inclusive_counts(spans: list[dict]) -> dict[int, SparkCounts]:
    """Spark counts of each span plus all its descendants."""
    by_id = {r["id"]: r for r in spans}
    out = {sid: SparkCounts(**r["spark"]) for sid, r in by_id.items()}
    # children close before their parents, so they precede them in `spans`
    for r in spans:
        parent = r["parent"]
        if parent in out:
            out[parent] += out[r["id"]]
    return out


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name not covered by child spans."""
    child = defaultdict(float)
    for r in spans:
        if r["parent"] is not None:
            child[r["parent"]] += duration(r)
    out: dict[str, float] = defaultdict(float)
    for r in spans:
        out[r["name"]] += duration(r) - child[r["id"]]
    return dict(out)
