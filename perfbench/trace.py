"""In-memory span tracer for the traced benchmark run.

Spans are recorded from the benchmark's own code only: :func:`Tracer.patch`
swaps a public function of a layer for a wrapper that opens a span around
the call, and :func:`Tracer.restore` puts the originals back. Each span has
an id, its parent (the innermost open span of the same thread), a name, a
start and an end; spans of one unit of work share the unit's id. Nothing is
written until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        #: seconds spent in span bookkeeping, outside the wrapped calls
        self.bookkeeping_s = 0.0

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, unit: str | None = None, **attrs):
        b0 = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        sp = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "unit": unit or (parent["unit"] if parent else None),
            "name": name,
            **attrs,
        }
        st.append(sp)
        b1 = time.perf_counter()
        sp["start"] = b1
        try:
            yield sp
        finally:
            e0 = time.perf_counter()
            sp["end"] = e0
            st.pop()
            with self._lock:
                self.spans.append(sp)
                self.bookkeeping_s += (b1 - b0) + (time.perf_counter() - e0)

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counts[name] += n

    # -- wrapping -----------------------------------------------------------
    def patch(self, owner: object, attr: str, name: str, attrs=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records span ``name``.
        ``attrs(args, kwargs)`` may return extra span attributes."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            extra = attrs(args, kwargs) if attrs else {}
            with tracer.span(name, **extra):
                return orig(*args, **kwargs)

        # restore() puts back what owner itself held: a class-level method
        # patched on an instance is deleted again instead
        self._patched.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, wrapper)

    def wrap_fn(self, fn, name: str, **attrs):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        return wrapper

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    # -- analysis -----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children of one span never overlap: they run on its
        thread, one after another)."""
        child_time: dict[int, float] = defaultdict(float)
        for sp in self.spans:
            if sp["parent"] is not None:
                child_time[sp["parent"]] += sp["end"] - sp["start"]
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp["name"]] += (sp["end"] - sp["start"]) - child_time[sp["id"]]
        return dict(out)

    def total(self, name: str) -> float:
        return sum(sp["end"] - sp["start"] for sp in self.spans if sp["name"] == name)

    def wall_s(self) -> float:
        """Seconds from the first span's start to the last span's end."""
        if not self.spans:
            return 0.0
        return max(sp["end"] for sp in self.spans) - min(sp["start"] for sp in self.spans)

    def calls(self, name: str) -> int:
        return sum(1 for sp in self.spans if sp["name"] == name)

    def dump(self, path: str, summary: dict) -> None:
        t0 = min((sp["start"] for sp in self.spans), default=0.0)
        spans = [
            {**sp, "start": round(sp["start"] - t0, 6), "end": round(sp["end"] - t0, 6)}
            for sp in sorted(self.spans, key=lambda s: s["start"])
        ]
        with open(path, "w") as f:
            json.dump({**summary, "spans": spans}, f, indent=1, default=str)


_MISSING = object()


def format_self_time_table(self_times: dict[str, float], wall_s: float) -> str:
    """Human-readable per-layer self-time table, largest first. Shares are
    of ``wall_s``; spans on concurrent threads can sum past 100%."""
    rows = sorted(self_times.items(), key=lambda kv: -kv[1])
    width = max((len(k) for k, _ in rows), default=10)
    lines = [f"{'span':<{width}}  self_s    share_of_wall"]
    for k, v in rows:
        share = 100.0 * v / wall_s if wall_s else 0.0
        lines.append(f"{k:<{width}}  {v:8.3f}  {share:6.1f}%")
    return "\n".join(lines)
