"""Span tracing for the traced run, installed from the benchmark's own
files around the public entry points of each layer.

Every wrapped call records a span: name, start, end, parent span,
the operation it belongs to, and the Spark job id before and after.
Spans stay in memory and are written out when the run ends. Calls made
from a thread pool (the per-asset executor) have no open span on their
own thread; their parent is the innermost open span of the main
thread, which is blocked waiting for the pool.

Laziness: most wrapped functions only build a DataFrame plan. A span
around one measures plan building; the plan's execution is charged to
the first eager consumer -- ``TagStore.merge`` (its checkpoint),
``export.write_report``, or the benchmark's own read spans
(``read.*``, ``coverage.collect``). The traced run additionally forces
each fused-executor plan to a noop sink (``dynamic.fused_force``) so
the fused executor's own cost can be seen apart from the merge.

Work the harness does for its own counting runs inside ``harness``
spans: they count as children (so they leave the parent's self time)
and their Spark jobs are excluded from every job count.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from perfbench import stats

HARNESS = "harness"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    jobs0: int
    end: float = 0.0
    jobs1: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, job_counter):
        self.job_counter = job_counter
        self.spans: list[Span] = []
        self.op: int | None = None
        self.enabled = True
        self.excluded: list[tuple[int, int]] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sp = Span(next(self._ids), name, parent.id if parent else None, self.op,
                  time.perf_counter(), self.job_counter(), attrs=attrs)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.jobs1 = self.job_counter()
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    @contextmanager
    def own(self):
        """Harness work: a child span whose Spark jobs are excluded."""
        with self.span(HARNESS) as sp:
            yield sp
        with self._lock:
            self.excluded.append((sp.jobs0, sp.jobs1))

    # -- wrapping ----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a traced version. ``after(span,
        args, kwargs, result)`` runs once the span has closed, for
        counting that must not be charged to the layer."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if after is not None:
                after(sp, args, kwargs, out)
            return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, fn))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- output ------------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(sp), default=str) + "\n")

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = defaultdict(list)
        for sp in self.spans:
            if sp.parent is not None:
                kids[sp.parent].append(sp)
        return kids

    def self_times(self) -> dict[int, float]:
        kids = self.children()
        return {sp.id: stats.self_time(sp.start, sp.end, [(c.start, c.end) for c in kids[sp.id]])
                for sp in self.spans}

    def by_name(self, *names: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name in names]

    def total(self, *names: str) -> float:
        return sum(sp.end - sp.start for sp in self.by_name(*names))

    def jobs_in(self, spans: list[Span]) -> int:
        """Spark jobs submitted while any of ``spans`` ran, grouped by
        operation: per operation the window runs from the earliest
        start to the latest end (pool spans overlap, so their deltas
        must not be summed)."""
        windows: dict[object, list[int]] = {}
        for sp in spans:
            key = sp.op if sp.op is not None else ("span", sp.id)
            w = windows.setdefault(key, [sp.jobs0, sp.jobs1])
            w[0], w[1] = min(w[0], sp.jobs0), max(w[1], sp.jobs1)
        return sum(stats.job_delta(a, b, self.excluded) for a, b in windows.values())
