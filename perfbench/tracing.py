"""Spans and counters recorded from outside the program.

The benchmark never edits program code. ``Tracer.wrap_function`` swaps a
module-level function for a timing wrapper in every module of the
package that bound it (plans import ``load_table`` by name, so patching
``sources.tables`` alone would miss their calls); ``Tracer.wrap_method``
does the same for a class attribute. ``Tracer.restore`` puts every
original back.

A span has a name, start, end, parent and run id. Spans are kept in
memory and written out once, at the end. A layer's self time is its
spans' total duration minus the part of each span that its children
cover.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

PACKAGE = "ccxt_ohlcv_fetcher_spark"
_INHERITED = object()


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer wraps nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        # parent for spans opened on threads the program starts itself
        # (ingest_exchange's writer pool), which have no stack of their own
        self.thread_root: int | None = None

    # --- recording ------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counters[name] += n

    # --- patching -------------------------------------------------------

    def _wrapper(self, fn, name: str, on_result=None, before=None):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with tracer.span(name) as s:
                if before is not None:
                    before(s)
                out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(args, kwargs, out, s)
            return out

        wrapped.__wrapped_original__ = fn
        return wrapped

    def wrap_function(self, module, attr: str, name: str, on_result=None, before=None) -> None:
        """Wrap ``module.attr`` and every other binding of the same
        function object in the package's loaded modules."""
        if not self.enabled:
            return
        orig = getattr(module, attr)
        wrapped = self._wrapper(orig, name, on_result, before)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    self._patches.append((mod, key, orig))
                    setattr(mod, key, wrapped)

    def wrap_method(self, cls, attr: str, name: str, on_result=None, before=None) -> None:
        """Wrap ``cls.attr``; an inherited method is shadowed on ``cls``."""
        if not self.enabled:
            return
        self._patches.append((cls, attr, cls.__dict__.get(attr, _INHERITED)))
        setattr(cls, attr, self._wrapper(getattr(cls, attr), name, on_result, before))

    def restore(self) -> None:
        for owner, key, orig in reversed(self._patches):
            if orig is _INHERITED:
                delattr(owner, key)
            else:
                setattr(owner, key, orig)
        self._patches.clear()

    # --- analysis -------------------------------------------------------

    def durations_ms(self, name: str) -> list[float]:
        return [s.dur * 1000 for s in self.spans if s.name == name]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        union of its children's intervals (children on several threads
        may overlap; the union counts covered time once)."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = 0.0
            cur_start = cur_end = None
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s.name] += (s.dur - covered) * 1000
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.sid, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run": s.run_id,
                }) + "\n")


class _SpanCtx:
    __slots__ = ("tracer", "name", "sid", "parent", "start")

    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return self
        st = t._stack()
        self.parent = st[-1] if st else t.thread_root
        self.sid = next(t._ids)
        st.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t = self.tracer
        if not t.enabled:
            return False
        end = time.perf_counter()
        t._stack().pop()
        with t._lock:
            t.spans.append(Span(self.sid, self.name, self.start, end, self.parent, t.run_id))
        return False


def calibrate_span_cost(n: int = 20000) -> float:
    """Seconds of bookkeeping one wrapped call adds, measured on a no-op."""
    t = Tracer("calibrate", True)
    fn = t._wrapper(lambda: None, "noop")
    t0 = time.perf_counter()
    for _ in range(n):
        fn()
    traced = time.perf_counter() - t0
    bare = lambda: None  # noqa: E731
    t0 = time.perf_counter()
    for _ in range(n):
        bare()
    return max(0.0, (traced - (time.perf_counter() - t0)) / n)
