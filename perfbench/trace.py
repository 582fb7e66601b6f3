"""Benchmark-owned span recorder and call wrappers.

Spans are recorded around calls into the program's public functions
from outside: :func:`patch` swaps a wrapped function into every loaded
module of the package that holds a reference to it (plan modules bind
``load_table`` and friends at import time), and :func:`unpatch`
restores the originals. Spans stay in memory until the run writes them
out.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records spans while ``enabled``; otherwise ``span`` costs one branch."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sp = Span(len(self.spans), name, time.perf_counter(), 0.0,
                      stack[-1] if stack else None, self.op)
            self.spans.append(sp)
        stack.append(sp.sid)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def wrap(self, name: str, fn, after=None):
        """``fn`` inside a span; ``after(result, args, kwargs)`` runs in the span."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                result = fn(*args, **kwargs)
                if after is not None:
                    after(result, args, kwargs)
                return result

        wrapper.__wrapped_original__ = fn
        return wrapper

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: total duration minus the part its children cover.

    Children may overlap (threads); the covered part is the union of the
    children's intervals clipped to the parent's.
    """
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        kids = [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.sid, [])]
        kids = [(a, b) for a, b in kids if b > a]
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered(kids)
    return out


def patch(package: str, targets: dict[object, object]) -> list[tuple[object, str, object]]:
    """Replace every module-level reference to each key of ``targets``.

    Returns the undo list for :func:`unpatch`.
    """
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
            continue
        for attr, value in list(vars(mod).items()):
            for original, wrapper in targets.items():
                if value is original:
                    setattr(mod, attr, wrapper)
                    undo.append((mod, attr, original))
    return undo


def unpatch(undo: list[tuple[object, str, object]]) -> None:
    for mod, attr, original in reversed(undo):
        setattr(mod, attr, original)
