"""Span tracing from outside the program.

The benchmark wraps public functions of each layer (and Spark's action
entry points) at run time; the program's source is untouched. A span
records its name, the span that caused it, the operation it belongs to
and its start and end. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import inspect
import re
import time
from dataclasses import dataclass

ACTION = "engine.action"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of *intervals*, clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.duration - covered(children.get(s.sid, []), s.start, s.end)
            for s in spans}


class Tracer:
    """Collects spans for the operations run while it is enabled.

    ``enabled`` is on only while a timed operation runs, so set-up,
    maintenance and checks leave no spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op = -1
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self.action_frames: dict[int, list] = {}

    def _open(self, name: str) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, parent, self.op, time.perf_counter())
        self.spans.append(span)
        self._stack.append(span.sid)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()

    def wrap(self, fn, name: str, on_enter=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            span = self._open(name)
            if on_enter is not None:
                on_enter(span, args)
            try:
                return fn(*args, **kwargs)
            finally:
                self._close(span)
        return traced

    def patch(self, owner, attr: str, name: str, on_enter=None) -> None:
        """Replace ``owner.attr`` by a traced wrapper until :meth:`restore`."""
        orig = inspect.getattr_static(owner, attr)
        fn = orig.__func__ if isinstance(orig, (staticmethod, classmethod)) else orig
        wrapped = self.wrap(fn, name, on_enter)
        if isinstance(orig, staticmethod):
            wrapped = staticmethod(wrapped)
        elif isinstance(orig, classmethod):
            wrapped = classmethod(wrapped)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def patch_module(self, module, name: str) -> None:
        """Trace every public function defined in *module* under one
        span name (the layer's plan-building time)."""
        for attr, obj in list(vars(module).items()):
            if (not attr.startswith("_") and inspect.isfunction(obj)
                    and obj.__module__ == module.__name__):
                self.patch(module, attr, name)

    def patch_actions(self, dataframe_cls, writer_cls) -> None:
        """Trace Spark's action entry points as ``engine.action`` and
        remember each outermost action's DataFrame for plan inspection."""
        def remember_df(span, args):
            if span.parent is not None and self.spans[span.parent].name == ACTION:
                return
            df = args[0] if isinstance(args[0], dataframe_cls) else args[0]._df
            self.action_frames.setdefault(span.op, []).append(df)

        for attr in ("collect", "count", "toPandas"):
            self.patch(dataframe_cls, attr, ACTION, remember_df)
        for attr in ("save", "parquet", "saveAsTable", "insertInto"):
            self.patch(writer_cls, attr, ACTION, remember_df)

    def restore(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)


_EXCHANGE = re.compile(r"[+:-] (?:Broadcast)?Exchange ")


def count_exchanges(plan: str) -> int:
    """Exchanges in a physical plan string; for an adaptive plan that
    has run, only those of its final plan."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return len(_EXCHANGE.findall(plan))


def summarize(spans: list[Span], ops: int) -> dict[str, dict[str, float]]:
    """Per span name: self and inclusive seconds per operation, and
    calls per operation, over *ops* traced operations."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        agg = out.setdefault(s.name, {"self_s": 0.0, "incl_s": 0.0, "calls": 0.0})
        agg["self_s"] += selfs[s.sid]
        agg["calls"] += 1
        # inclusive time counts only the outermost span of a name, so a
        # recursive or nested call is not counted twice
        p = s.parent
        while p is not None and spans[p].name != s.name:
            p = spans[p].parent
        if p is None:
            agg["incl_s"] += s.duration
    for agg in out.values():
        for k in agg:
            agg[k] /= max(ops, 1)
    return out
