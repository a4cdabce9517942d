"""In-memory span tracer for the single-process reference run.

A span is (name, start_ns, end_ns, parent, trace_id, count). Spans are
recorded around calls into the program's public functions, kept in a
list, and written out once at the end. A span's self time is its
duration minus the durations of its direct children (one thread, so
children never overlap).

``NullTracer`` has the same interface and records nothing; the untraced
reference run and the traced one execute the same code.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

_now = time.perf_counter_ns


class NullTracer:
    def call(self, name, fn, *args, trace_id=None, **kw):
        return fn(*args, **kw)

    def begin(self, name, trace_id=None):
        return None

    def end(self, i, count=None):
        pass

    @contextmanager
    def patched(self):
        yield


class Tracer(NullTracer):
    def __init__(self):
        self.names: list[str] = []
        self.start: list[int] = []
        self.stop: list[int] = []
        self.parent: list[int] = []
        self.trace: list[object] = []
        self.count: list[int | None] = []
        self.child_ns: list[int] = []
        self._stack: list[int] = []

    def begin(self, name, trace_id=None):
        i = len(self.names)
        parent = self._stack[-1] if self._stack else -1
        if trace_id is None and parent >= 0:
            trace_id = self.trace[parent]
        self.names.append(name)
        self.parent.append(parent)
        self.trace.append(trace_id)
        self.count.append(None)
        self.child_ns.append(0)
        self.stop.append(0)
        self._stack.append(i)
        self.start.append(_now())
        return i

    def end(self, i, count=None):
        t = _now()
        self.stop[i] = t
        self.count[i] = count
        self._stack.pop()
        p = self.parent[i]
        if p >= 0:
            self.child_ns[p] += t - self.start[i]

    def call(self, name, fn, *args, trace_id=None, **kw):
        i = self.begin(name, trace_id)
        out = fn(*args, **kw)
        self.end(i)
        return out

    @contextmanager
    def patched(self):
        """Route the program's own nested selector calls through spans:
        ``PH.find`` (dom) and the ``find_nodes`` it calls (matcher).
        Restored on exit."""
        from parse_html_spark import dom

        orig_find, orig_nodes = dom.PH.find, dom.find_nodes
        tr = self

        def find(ph, selector):
            i = tr.begin("dom.PH.find")
            out = orig_find(ph, selector)
            tr.end(i, len(out.nodes))
            return out

        def find_nodes(doc, plan, scopes):
            i = tr.begin("matcher.find_nodes")
            out = orig_nodes(doc, plan, scopes)
            tr.end(i, len(out))
            return out

        dom.PH.find, dom.find_nodes = find, find_nodes
        try:
            yield
        finally:
            dom.PH.find, dom.find_nodes = orig_find, orig_nodes

    # -- summaries -------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        """Inclusive seconds of every span called ``name``."""
        return [
            (self.stop[i] - self.start[i]) / 1e9
            for i, n in enumerate(self.names)
            if n == name
        ]

    def inclusive(self, names: set[str]) -> float:
        """Inclusive seconds of spans named in ``names``, counting a span
        only when its parent is not itself one of ``names``."""
        s = 0
        for i, n in enumerate(self.names):
            p = self.parent[i]
            if n in names and (p < 0 or self.names[p] not in names):
                s += self.stop[i] - self.start[i]
        return s / 1e9

    def counts(self, name: str) -> int:
        return sum(c or 0 for n, c in zip(self.names, self.count) if n == name)

    def self_by_layer(self) -> dict[str, float]:
        """Self seconds summed per layer (the span name's first part)."""
        out: dict[str, float] = {}
        for i, n in enumerate(self.names):
            layer = n.split(".")[0]
            own = self.stop[i] - self.start[i] - self.child_ns[i]
            out[layer] = out.get(layer, 0.0) + own / 1e9
        return out

    def write(self, path: str) -> None:
        """One JSON line per span."""
        with open(path, "w") as f:
            for i, n in enumerate(self.names):
                f.write(
                    json.dumps(
                        {
                            "name": n,
                            "start_ns": self.start[i],
                            "end_ns": self.stop[i],
                            "parent": self.parent[i],
                            "trace_id": self.trace[i],
                            "count": self.count[i],
                        }
                    )
                    + "\n"
                )
