"""Span tracing for the benchmark's traced runs.

The tracer wraps public functions of the package's layers from the
outside: nothing inside the package is instrumented. Each call to a
wrapped function records one span ``(name, start, end, parent, op)``
in memory; the spans are written out when the run ends. A span's
self time is its duration minus the part of it that its child spans
cover.

Two counters ride along:

- py4j commands sent from the driver, excluding the ``m`` memory-
  release commands that Python's garbage collector sends at times of
  its own choosing, so a plan build's count repeats exactly;
- ``os.link`` calls, the put-if-absent publish every lake commit
  goes through, with the ``EEXIST`` conflicts among them.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "incubator_gobblin_spark"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    py4j: int = 0  # py4j commands sent while the span was open


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled`` switches recording on and
    off at run time, so one run can interleave traced and untraced
    passes of the same work."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    calls: dict[str, int] = field(default_factory=dict)
    op: str | None = None
    py4j_commands: int = 0
    links: int = 0
    link_conflicts: int = 0
    _local: threading.local = field(default_factory=threading.local)
    _undo: list = field(default_factory=list)

    # ---- spans -----------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        st = self._stack()
        self.spans.append(Span(
            name, time.perf_counter(), 0.0, st[-1] if st else None, self.op,
            self.py4j_commands,
        ))
        st.append(len(self.spans) - 1)
        return st[-1]

    def _close(self, idx: int | None) -> None:
        if idx is None:
            return
        s = self.spans[idx]
        s.end = time.perf_counter()
        s.py4j = self.py4j_commands - s.py4j
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    # ---- wrapping ----------------------------------------------------
    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module or class) with a recording
        wrapper, and rebind every package module that already bound
        the original with ``from x import f``, so no caller misses it."""
        orig = getattr(owner, attr)
        key = f"{owner.__name__}.{attr}"
        self.calls.setdefault(key, 0)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if tracer.enabled:
                tracer.calls[key] += 1
            idx = tracer._open(name)
            try:
                return orig(*a, **kw)
            finally:
                tracer._close(idx)

        self._rebind(owner, attr, orig, wrapper)
        if isinstance(owner, type):
            return
        for mod in list(sys.modules.values()):
            if mod is owner or not getattr(mod, "__name__", "").startswith(PACKAGE):
                continue
            for binding, val in list(vars(mod).items()):
                if val is orig:
                    self._rebind(mod, binding, orig, wrapper)

    def _rebind(self, owner, attr, orig, new) -> None:
        setattr(owner, attr, new)
        self._undo.append((owner, attr, orig))

    def uncovered(self) -> list[str]:
        """Wrapped functions that saw no call while tracing was on: a
        layer metric built on them would silently read zero."""
        return sorted(n for n, c in self.calls.items() if c == 0)

    def count_py4j(self) -> None:
        """Count py4j commands the driver sends, minus memory releases."""
        import py4j.clientserver as cs
        import py4j.java_gateway as jg

        tracer = self
        for cls in (cs.ClientServerConnection, jg.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, _orig=orig):
                if tracer.enabled and not command.startswith("m\n"):
                    tracer.py4j_commands += 1
                return _orig(conn, command)

            self._rebind(cls, "send_command", orig, send_command)

    def count_links(self) -> None:
        """Count ``os.link`` publishes and their EEXIST conflicts."""
        orig = os.link
        tracer = self

        def link(src, dst, *a, **kw):
            idx = tracer._open("commit.publish")
            try:
                orig(src, dst, *a, **kw)
            except FileExistsError:  # EEXIST: another writer won the race
                tracer.link_conflicts += tracer.enabled
                raise
            else:
                tracer.links += tracer.enabled
            finally:
                tracer._close(idx)

        self._rebind(os, "link", orig, link)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ---- analysis ----------------------------------------------------
    def children(self) -> list[list[int]]:
        kids: list[list[int]] = [[] for _ in self.spans]
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                kids[s.parent].append(i)
        return kids

    def totals(self) -> dict[str, tuple[float, float]]:
        """Per span name: (inclusive seconds, self seconds). A span nested
        inside another span of the same name is not counted twice."""
        kids = self.children()
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            if _has_ancestor_named(self.spans, i, s.name):
                continue
            dur = s.end - s.start
            covered = _union([(self.spans[k].start, self.spans[k].end) for k in kids[i]])
            acc = out.setdefault(s.name, [0.0, 0.0])
            acc[0] += dur
            acc[1] += dur - covered
        return {k: (v[0], v[1]) for k, v in out.items()}

    def nesting_ok(self) -> bool:
        """Every child span lies inside its parent's interval."""
        for s in self.spans:
            if s.parent is not None:
                p = self.spans[s.parent]
                if s.start < p.start or s.end > p.end:
                    return False
        return all(s.end >= s.start for s in self.spans)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "op": s.op, "py4j": s.py4j,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        self.idx = self.tracer._open(self.name)
        return self

    def __exit__(self, *exc):
        self.tracer._close(self.idx)
        return False


def _has_ancestor_named(spans: list[Span], i: int, name: str) -> bool:
    p = spans[i].parent
    while p is not None:
        if spans[p].name == name:
            return True
        p = spans[p].parent
    return False


def _union(intervals: list[tuple[float, float]]) -> float:
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
