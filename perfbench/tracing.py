"""In-memory spans recorded around calls into the engine's public functions.

A span is (id, parent, name, job, start, end). Spans nest through a
per-thread stack; a span opened on a thread with an empty stack (the
engine's own pool threads) takes the current job's root span as parent, so
every span of one drain or request shares that job's id. Nothing is written
until the run ends (``dump``).

``Tracer.wrap`` replaces a class attribute with a timing wrapper. The
wrapper records only while the tracer is enabled, so one process can
alternate traced and untraced jobs.
"""

from __future__ import annotations

import functools
import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._job_root: dict | None = None
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, job: str | None = None, root: bool = False):
        if not self.enabled:
            yield None
            return
        st = self._stack()
        parent = st[-1] if st else self._job_root
        sp = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "name": name,
            "job": job if job is not None else (parent or {}).get("job"),
            "start": time.perf_counter(),
            "end": None,
        }
        if root:
            self._job_root = sp
        st.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            st.pop()
            if root:
                self._job_root = None
            with self._lock:
                self.spans.append(sp)

    def add_span(self, name: str, start: float, end: float) -> None:
        """Record an interval measured elsewhere, under the current span."""
        if not self.enabled:
            return
        st = self._stack()
        parent = st[-1] if st else self._job_root
        sp = {
            "id": next(self._ids), "parent": parent["id"] if parent else None, "name": name,
            "job": (parent or {}).get("job"), "start": start, "end": end,
        }
        with self._lock:
            self.spans.append(sp)

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] = self.counts.get(name, 0) + n

    # ------------------------------------------------------------ wrapping
    def patch(self, owner, attr: str, replacement) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        self.patch(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ------------------------------------------------------------ analysis
    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1000 for s in self.by_name(name)]

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total of (duration minus the part of the span's
        interval that its children cover). Children may run concurrently on
        other threads, so covered time is the union of their intervals,
        clipped to the parent."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            own = (s["end"] - s["start"] - covered) * 1000
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        rows = [
            {**s, "start": round(s["start"] - t0, 6), "end": round(s["end"] - t0, 6)}
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({"spans": rows, "counts": self.counts, "self_ms": self.self_times_ms()}, f)


def median(xs, default=None):
    xs = list(xs)
    return statistics.median(xs) if xs else default
