"""In-memory spans around the package's public callables, and the
statistics the benchmark reports from them.

Tracing lives entirely in the benchmark: :class:`Tracer` swaps module
attributes for timing wrappers (``install``) and puts them back
(``uninstall``). Spans nest per thread — the foreachBatch callback runs
on a py4j thread, so a batch's children hang off its own batch span.
Each span records name, start, end, parent, run id and thread; nothing
is written until the benchmark asks for the summary.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import math
import threading
import time
from dataclasses import dataclass, field


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``,
    the same rule as ``numpy.percentile``'s default."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str | None
    thread: int
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover
    (children clipped to the parent's interval; overlaps counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.sid: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is not None:
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids.setdefault(p.sid, []).append((lo, hi))
    return {s.sid: s.duration - covered(kids.get(s.sid, [])) for s in spans}


class Tracer:
    """Records spans while ``enabled``; wrappers stay cheap when not."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.run_id: str | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def wrap(self, name: str, fn, batch_arg: int | None = None):
        """``fn`` recording a span named ``name``; ``batch_arg`` names the
        positional argument to keep as the span's ``batch_id``."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            attrs = {} if batch_arg is None else {"batch_id": int(args[batch_arg])}
            with tracer.span(name, **attrs):
                return fn(*args, **kwargs)

        return wrapper

    def wrap_factory(self, name: str, factory, batch_arg: int):
        """``factory`` whose returned callable is wrapped as by ``wrap``;
        attributes set on the returned callable stay reachable."""
        tracer = self

        @functools.wraps(factory)
        def wrapper(*args, **kwargs):
            made = factory(*args, **kwargs)
            wrapped = tracer.wrap(name, made, batch_arg)
            wrapped.__dict__.update(made.__dict__)
            return wrapped

        return wrapper

    def install(
        self, targets: dict[str, str], factories: dict[str, tuple[str, int]] | None = None
    ) -> None:
        """Wrap each ``"module:attr"`` or ``"module:Class.method"`` target
        (``targets`` maps target to span name); ``factories`` maps a
        target to (span name, batch argument) for ``wrap_factory``."""
        plan = [(t, lambda f, n=n: self.wrap(n, f)) for t, n in targets.items()]
        plan += [
            (t, lambda f, n=n, a=a: self.wrap_factory(n, f, a))
            for t, (n, a) in (factories or {}).items()
        ]
        for target, make in plan:
            mod_name, attr = target.split(":")
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf]
            setattr(owner, leaf, make(orig))
            self._patched.append((owner, leaf, orig))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._patched):
            setattr(owner, leaf, orig)
        self._patched.clear()


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict) -> None:
        self.t, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        st = self.t._stack()
        self.parent = st[-1] if st else None
        self.sid = next(self.t._ids)
        st.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.t._stack().pop()
        span = Span(
            self.sid, self.name, self.start, end, self.parent,
            self.t.run_id, threading.get_ident(), self.attrs,
        )
        with self.t._lock:
            self.t.spans.append(span)
        return False
