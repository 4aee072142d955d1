"""In-memory spans recorded around calls into the engine's layers.

A span has a name, a start and an end (epoch seconds, the clock Spark's
event log uses) and the span that was open when it began. While a span is
open its id and name are the Spark job description, so every job in the
event log names the innermost span that submitted it.

Wrapping is done from the benchmark's side only: ``Tracer.wrap`` swaps a
module attribute for a timing wrapper and restores it when the tracer's
patches are undone. The engine's code does not change.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field

DESCRIPTION_PREFIX = "perfbench-span:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start

    def covers(self, t: float) -> bool:
        return self.start <= t <= (self.end if self.end is not None else float("inf"))


def description(span: Span) -> str:
    return f"{DESCRIPTION_PREFIX}{span.id}:{span.name}"


def span_id_of(job_description: str | None) -> int | None:
    """The span id a job description names, or None for untagged jobs."""
    if not job_description or not job_description.startswith(DESCRIPTION_PREFIX):
        return None
    return int(job_description[len(DESCRIPTION_PREFIX) :].split(":", 1)[0])


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it covered by its children.

    Children may overlap each other; their union is subtracted once, and
    only the part that lies inside the parent counts."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        covered, cursor = 0.0, s.start
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, cursor), min(c.end if c.end is not None else end, end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (end - s.start) - covered
    return out


class Tracer:
    """Records spans; optionally tags Spark jobs with the innermost span."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patches = contextlib.ExitStack()

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def _tag(self) -> None:
        if self.sc is not None:
            top = self.current
            self.sc.setJobDescription(description(top) if top else None)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self.current
        s = Span(next(self._ids), name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._tag()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag()

    def add(self, name: str, start: float, end: float, parent: Span) -> Span:
        """Record a span after the fact, e.g. an interval between commits."""
        s = Span(next(self._ids), name, parent.id, start, end)
        self.spans.append(s)
        return s

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span
        named ``name``. ``on_return(span, args, kwargs, result)`` may record
        counts on the span. Undone by :meth:`unpatch`."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                result = fn(*args, **kwargs)
                if on_return is not None:
                    on_return(s, args, kwargs, result)
                return result

        self._patches.callback(setattr, owner, attr, fn)
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        self._patches.close()

    def descendants(self, root: Span) -> list[Span]:
        """``root`` and every span nested under it."""
        ids, out = {root.id}, [root]
        for s in sorted(self.spans, key=lambda s: s.start):
            if s.parent in ids and s.id not in ids:
                ids.add(s.id)
                out.append(s)
        return out
