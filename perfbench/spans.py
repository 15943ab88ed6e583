"""Spans for the traced run, recorded from the benchmark's own files.

A :class:`Tracer` keeps spans in memory (name, start, end, parent,
request id) and the benchmark writes them out when the run ends.
Layers are traced by wrapping the public functions of each module.
``cli`` binds ``load_table``, ``vis_view``, ``render_png`` and
``render_figure`` by name at import, so :meth:`Tracer.patch` replaces a
function under every name it is bound to in the ``shadems_spark``
modules, not only in its defining module.  ``Tracer.restore`` undoes
every patch.

Spans around functions that only build a lazy plan (``vis_view``,
``gopher_rules``, ...) measure plan building; the Spark jobs the plan
later runs are charged to the span around the action that triggers
them (``render.collect``, ``sources.write``, ``queries.execute``).
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections import defaultdict
from dataclasses import dataclass

from engine import union_length


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval that its
    direct children cover (children may overlap each other)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        clipped = sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids[s.id]
        )
        out[s.id] = (s.end - s.start) - union_length([(lo, hi) for lo, hi in clipped if hi > lo])
    return out


class Tracer:
    """In-memory span recorder.  ``active`` switches recording on and
    off without removing the wrappers, so one session can run the same
    request with and without tracing."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self.request: int | None = None
        self._stack: list[int] = []
        self._next = 0
        self._patches: list[tuple[object, str, object]] = []
        #: per-request counters recorded at layer boundaries
        self.counts: dict[int | None, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    # -- recording -------------------------------------------------
    def begin(self, name: str) -> int:
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, time.perf_counter(), 0.0, parent, self.request))
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> None:
        self._stack.pop()
        self.spans[sid].end = time.perf_counter()

    def count(self, key: str, n: float = 1) -> None:
        if self.active:
            self.counts[self.request][key] += n

    def inside(self, *names: str) -> bool:
        return any(self.spans[sid].name in names for sid in self._stack)

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around the ``with`` body (nothing when inactive)."""
        if not self.active:
            yield
            return
        sid = self.begin(name)
        try:
            yield
        finally:
            self.end(sid)

    def traced(self, name: str, fn, after=None):
        """``fn`` wrapped in a span named ``name``; ``after(result,
        args, kwargs)`` runs outside the span to record counters."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                result = fn(*args, **kwargs)
            if after is not None:
                after(result, args, kwargs)
            return result

        wrapper.__wrapped_by_tracer__ = True
        return wrapper

    # -- patching --------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def patch(self, module, attr: str, name: str, after=None) -> None:
        """Wrap ``module.attr`` and rebind every ``shadems_spark``
        module attribute that refers to the same function object."""
        orig = getattr(module, attr)
        wrapped = self.traced(name, orig, after)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith("shadems_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    self._set(mod, k, wrapped)

    def patch_method(self, cls, attr: str, name: str, after=None) -> None:
        self._set(cls, attr, self.traced(name, getattr(cls, attr), after))

    def patch_call(self, cls, attr: str, wrapper_factory) -> None:
        self._set(cls, attr, wrapper_factory(getattr(cls, attr)))

    def restore(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    # -- summaries -------------------------------------------------
    def totals(self, request_ids=None) -> dict[str, float]:
        """Inclusive seconds per span name, counting a name once where
        it nests inside itself."""
        by_id = {s.id: s for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if request_ids is not None and s.request not in request_ids:
                continue
            p, nested = s.parent, False
            while p is not None:
                if by_id[p].name == s.name:
                    nested = True
                    break
                p = by_id[p].parent
            if not nested:
                out[s.name] += s.end - s.start
        return out

    def self_totals(self, request_ids, group_of) -> dict[str, float]:
        """Self seconds per group; ``group_of(name, parent_name,
        parent_group)`` maps a span to its group given its parent."""
        st = self_times(self.spans)
        groups: dict[int, str] = {}
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:  # parents precede their children
            parent = self.spans[s.parent].name if s.parent is not None else None
            groups[s.id] = group_of(s.name, parent, groups.get(s.parent))
            if s.request in request_ids:
                out[groups[s.id]] += st[s.id]
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "request": s.request}
            for s in self.spans
        ]
