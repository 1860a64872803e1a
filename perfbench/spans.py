"""In-memory span recording for the traced run.

Public functions of each layer are wrapped in place (module attribute,
class attribute, and every module that imported the name), so the
program itself carries no tracing code. Spans are (name, start, end,
parent, op) tuples kept in a list and summarised once at the end.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span, None at op level
    op: int | None
    error: str | None = None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    # -- recording -------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        except BaseException as e:
            self.spans[idx].error = type(e).__name__
            raise
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrapped(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def inner(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        inner.__perfbench_original__ = fn
        return inner

    # -- installation ----------------------------------------------------

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a recording wrapper; when ``owner``
        is a module, also rebind the name in every loaded module that
        imported the same function object."""
        orig = getattr(owner, attr)
        w = self.wrapped(name, orig)
        self._set(owner, attr, w)
        if isinstance(owner, type):
            return
        for mod in list(sys.modules.values()):
            if mod is None or mod is owner:
                continue
            d = getattr(mod, "__dict__", None)
            if d is not None and d.get(attr) is orig:
                self._set(mod, attr, w)

    def _set(self, owner, attr, value) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def unpatch(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    # -- summaries -------------------------------------------------------

    def self_times(self, ops: set[int] | None = None) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        durations of its direct children."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if ops is not None and s.op not in ops:
                continue
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def totals(self, ops: set[int] | None = None) -> dict[str, float]:
        """Total inclusive time per span name (nested calls of the same
        name are counted once, at the outermost)."""
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if ops is not None and s.op not in ops:
                continue
            p, nested = s.parent, False
            while p is not None:
                if self.spans[p].name == s.name:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                out[s.name] += s.end - s.start
        return dict(out)

    def counts(self, ops: set[int] | None = None) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if ops is None or s.op in ops:
                out[s.name] += 1
        return dict(out)

    def errors(self, name: str, ops: set[int] | None = None) -> dict[str, int]:
        out: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if s.name == name and s.error and (ops is None or s.op in ops):
                out[s.error] += 1
        return dict(out)
