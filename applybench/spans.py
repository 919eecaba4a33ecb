"""Spans recorded from outside the engine, around its public functions.

A ``Tracer`` swaps a module (or class) attribute for a timing wrapper for
the duration of a ``with`` block and restores it afterwards; nothing in
``binlog_spark`` is edited. Functions that return a lazy DataFrame get
their output persisted and counted inside the span, so the span holds
that layer's own work instead of deferring it to whoever acts next.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import contextlib
import threading
import time
from dataclasses import dataclass

# span around the benchmark's own counting work, so that it is subtracted
# from the self time of the layer that encloses it
COUNT_SPAN = "trace.count"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span, None at top level
    batch: str | None
    counts: dict

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
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


def self_times(spans: list) -> list:
    """Per span: its duration minus the part its child spans cover."""
    kids: dict = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return [s.dur - covered(kids.get(i, ())) for i, s in enumerate(spans)]


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list = []
        self.batch = None
        self.enabled = True
        self._stack = threading.local()
        self._persisted: list = []

    def _parents(self) -> list:
        if not hasattr(self._stack, "v"):
            self._stack.v = []
        return self._stack.v

    @contextlib.contextmanager
    def span(self, name: str):
        """Record one span; the body may add counts to the yielded dict."""
        if not self.enabled:
            yield {}
            return
        stack = self._parents()
        idx = len(self.spans)
        sp = Span(name, self.clock(), 0.0, stack[-1] if stack else None,
                  self.batch, {})
        self.spans.append(sp)
        stack.append(idx)
        try:
            yield sp.counts
        finally:
            stack.pop()
            sp.end = self.clock()

    def wrap_eager(self, name: str, fn, counter=None):
        """Time an eager call; ``counter(result, args, kwargs)`` may
        return counts to attach to the span, computed after it ends in a
        span of its own."""
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as counts:
                out = fn(*args, **kwargs)
            if counter is not None:
                with tracer.span(COUNT_SPAN):
                    counts.update(counter(out, args, kwargs))
            return out
        return wrapper

    def wrap_lazy(self, name: str, fn, counter=None):
        """Time a call that returns a DataFrame: persist and count the
        output inside the span (``rows`` count). ``counter(df, args,
        kwargs)`` may add more counts, computed after the span ends in a
        span of its own."""
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name) as counts:
                df = fn(*args, **kwargs).persist()
                tracer._persisted.append(df)
                counts["rows"] = df.count()
            if counter is not None:
                with tracer.span(COUNT_SPAN):
                    counts.update(counter(df, args, kwargs))
            return df
        return wrapper

    def release(self):
        """Unpersist the outputs the lazy wrappers cached."""
        while self._persisted:
            self._persisted.pop().unpersist()

    @contextlib.contextmanager
    def patched(self, replacements):
        """Swap ``(owner, attr, wrapper_factory)`` attributes for the
        block; ``wrapper_factory(original)`` builds the replacement.
        Originals are restored even if the block raises."""
        saved = []
        try:
            for owner, attr, factory in replacements:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, factory(orig))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)
            self.release()

    def rows(self) -> list:
        """Spans as plain dicts with self time, for writing out."""
        out = []
        for s, st in zip(self.spans, self_times(self.spans)):
            out.append({"name": s.name, "start": s.start, "end": s.end,
                        "parent": s.parent, "batch": s.batch,
                        "self_s": st, **s.counts})
        return out
