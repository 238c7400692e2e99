"""In-memory spans around the calls into the program's modules.

The tracer wraps public functions and methods of ``dataweb_spark`` from
outside: every module namespace that holds the function object (the
defining module and each ``from … import`` site) gets the wrapper, so
calls through either name are recorded. A span has a name, start, end,
parent and the client's current query id. Spans opened on a thread with
no open span of its own (a Flight server's gRPC thread serving a hop)
take as parent the innermost span still open on another thread — the
synchronous caller that is waiting for it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import sys
import threading
import time
from collections import Counter, defaultdict

import stats


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "qid")

    def __init__(self, sid, name, start, parent, qid):
        self.sid, self.name, self.start = sid, name, start
        self.parent, self.qid, self.end = parent, qid, None


class Tracer:
    def __init__(self):
        self.enabled = False
        self.qid = None              # set by the client before each query
        self.spans: list[Span] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._open: list[Span] = []
        self._lock = threading.Lock()
        self._patched: list = []

    # -- recording ------------------------------------------------------

    def start(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            if stack:
                parent = stack[-1].sid
            else:
                parent = self._open[-1].sid if self._open else None
            s = Span(next(self._ids), name, time.perf_counter(), parent,
                     self.qid)
            self._open.append(s)
        stack.append(s)
        return s

    def finish(self, s: Span | None) -> None:
        if s is None:
            return
        s.end = time.perf_counter()
        self._local.stack.remove(s)
        with self._lock:
            self._open.remove(s)
            self.spans.append(s)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.start(name)
        try:
            yield
        finally:
            self.finish(s)

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    # -- wrapping -------------------------------------------------------

    def wrap_function(self, module, attr: str, name: str,
                      after=None) -> None:
        """Wrap ``module.attr`` and every other ``dataweb_spark`` module
        binding of the same function object. ``after(result)`` runs on
        each traced call's result."""
        orig = getattr(module, attr)
        wrapper = self._wrapper(orig, lambda *a, **k: name, after)
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("dataweb_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, key, wrapper)
                    self._patched.append((mod, key, orig))

    def wrap_method(self, cls, attr: str, name_of) -> None:
        """Wrap a method; ``name_of(self, *args)`` names each span."""
        orig = cls.__dict__[attr]
        setattr(cls, attr, self._wrapper(orig, name_of, None))
        self._patched.append((cls, attr, orig))

    def _wrapper(self, orig, name_of, after):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            s = tracer.start(name_of(*args, **kwargs)) if tracer.enabled \
                else None
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.finish(s)
            if s is not None and after is not None:
                after(out)
            return out
        return wrapper

    def unpatch(self) -> None:
        for owner, key, orig in reversed(self._patched):
            setattr(owner, key, orig)
        self._patched.clear()

    # -- reading --------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part its child spans cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append((s.start, s.end))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += stats.self_time(s.start, s.end, kids[s.sid])
        return out

    def totals(self) -> tuple[dict[str, float], dict[str, int]]:
        """Wall time and call count per span name."""
        wall: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s in self.spans:
            wall[s.name] += s.end - s.start
            calls[s.name] += 1
        return wall, calls

    def coverage(self, root: str, names) -> float:
        """Share of the ``root`` spans' wall time that spans named in
        ``names`` (any thread, same query id) cover."""
        by_qid = defaultdict(list)
        for s in self.spans:
            if s.name in names:
                by_qid[s.qid].append((s.start, s.end))
        wall = cov = 0.0
        for s in self.spans:
            if s.name == root:
                wall += s.end - s.start
                cov += stats.covered(by_qid[s.qid], s.start, s.end)
        return cov / wall if wall else 0.0
