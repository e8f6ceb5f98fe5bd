"""In-memory spans for the traced run.

A span has a name, a start, an end, a parent span and the id of the
call it belongs to. Spans are opened by the benchmark around its calls
into the engine, and by hooks bound to engine functions.

Hooks are bound by code object: the function object keeps its identity
and only its ``__code__`` is swapped for a trampoline, so every
reference to it sees the hook. This matters because operator modules
``from``-import ``load_table``: rebinding the module attribute would
miss those calls. The original code runs unchanged inside the span.
"""

from __future__ import annotations

import time
import types
from contextlib import contextmanager
from dataclasses import dataclass, field

_HOOK = "__perfbench_span_hook__"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    call: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder with a stack of open spans (one driver thread)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.call: int | None = None
        self._stack: list[Span] = []
        self._bound: dict[str, tuple] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent,
                 self.call, attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            # An exception may have left inner spans open; close the
            # stack down to this span so later spans get the right parent.
            while self._stack and self._stack.pop() is not s:
                pass

    def bind(self, fn: types.FunctionType, name: str, probe=None) -> None:
        """Record a span named ``name`` around every call of ``fn``.

        ``probe``, if given, is called before and after each call; the
        difference of its two results is stored as the span's ``delta``.
        """
        code = fn.__code__
        if code.co_freevars:
            raise ValueError(f"cannot bind closure {fn.__qualname__}")
        orig = types.FunctionType(
            code, fn.__globals__, fn.__name__, fn.__defaults__
        )
        orig.__kwdefaults__ = fn.__kwdefaults__
        key = f"{fn.__module__}.{fn.__qualname__}"
        self._bound[key] = (fn, code, orig, name, probe)
        fn.__globals__[_HOOK] = self._dispatch
        ns: dict = {}
        exec(
            f"def {fn.__name__}(*args, **kwargs):\n"
            f"    return {_HOOK}({key!r}, args, kwargs)\n",
            ns,
        )
        fn.__code__ = ns[fn.__name__].__code__

    def unbind_all(self) -> None:
        for fn, code, _, _, _ in self._bound.values():
            fn.__code__ = code
            fn.__globals__.pop(_HOOK, None)
        self._bound.clear()

    def _dispatch(self, key: str, args: tuple, kwargs: dict):
        _, _, orig, name, probe = self._bound[key]
        with self.span(name) as s:
            before = probe() if probe else None
            try:
                return orig(*args, **kwargs)
            finally:
                if probe:
                    s.attrs["delta"] = probe() - before

    def children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def self_times(self) -> dict[int, float]:
        """Per span: its duration minus the time its children cover."""
        kids = self.children()
        return {
            s.id: s.dur - covered([(c.start, c.end) for c in kids.get(s.id, [])],
                                  s.start, s.end)
            for s in self.spans
        }

    def to_records(self, origin: float) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start - origin,
             "end": s.end - origin, "parent": s.parent, "call": s.call,
             **s.attrs}
            for s in self.spans
        ]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
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
