"""In-memory span recorder for the traced run.

Spans are recorded around calls into the repository's modules by
rebinding a module attribute to a wrapper (``SpanRecorder.wrap``), so the
program itself is not edited. Each open span also holds a Spark job tag
(``on_enter``/``on_exit`` hooks, supplied by the caller): every job the
span starts carries the tag in the event log, which is how the event-log
parser attributes jobs to spans by job id. Nothing here imports Spark, so
the self-time arithmetic is testable on its own.
"""

from __future__ import annotations

import functools
import time
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def tag(self) -> str:
        return f"pb-span-{self.sid}"


def merged_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of closed intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class SpanRecorder:
    def __init__(
        self,
        on_enter: Callable[[Span], None] | None = None,
        on_exit: Callable[[Span], None] | None = None,
        clock: Callable[[], float] = time.perf_counter,
    ) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._on_enter = on_enter
        self._on_exit = on_exit
        self._clock = clock
        self._patched: list[tuple[object, str, object]] = []

    def open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent, self._clock())
        self.spans.append(span)
        if parent is not None:
            self.spans[parent].children.append(span.sid)
        self._stack.append(span.sid)
        if self._on_enter:
            self._on_enter(span)
        return span

    def close(self, span: Span) -> None:
        if self._on_exit:
            self._on_exit(span)
        span.end = self._clock()
        popped = self._stack.pop()
        if popped != span.sid:
            raise RuntimeError(f"span {span.name} closed out of order")

    @contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Rebind ``owner.attr`` to a wrapper recording span ``name``."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        covered = merged_length([(self.spans[c].start, self.spans[c].end) for c in span.children])
        return span.duration - covered

    def descendants(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.spans[cur].children)
        return out
