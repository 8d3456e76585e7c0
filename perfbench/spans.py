"""In-memory spans, call-time wrapping of the program's layers, and the
arithmetic the report needs (self time, tail percentile).

The program is never edited: `Spans.install` replaces functions on their
modules and classes for the traced operations only, and `uninstall`
puts the originals back. Spans are kept in a list and written out once,
when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Spans:
    """Span log for one closed-loop client.

    `request` names the client operation in flight. With one client
    there is at most one, so spans opened in the server's handler thread
    take it as their request id; parents are tracked per thread.
    """

    def __init__(self) -> None:
        self.records: list[Span] = []
        self.request: str | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.records.append(
                    Span(sid, name, start, end, parent, self.request)
                )

    def install(self, targets: list[tuple[object, str, str]]) -> None:
        """Wrap each `(owner, attribute, span name)` in a span."""
        for owner, attr, name in targets:
            original = getattr(owner, attr)
            setattr(owner, attr, self._wrap(original, name))
            self._patched.append((owner, attr, original))

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.records:
                f.write(json.dumps(asdict(s)) + "\n")


def self_ms(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover
    (overlapping children are counted once)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return (span.end - span.start - covered) * 1000.0


def layer_times(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: summed total ms, summed self ms and call count."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s.name, {"ms": 0.0, "self_ms": 0.0, "calls": 0})
        row["ms"] += s.ms
        row["self_ms"] += self_ms(s, children.get(s.id, []))
        row["calls"] += 1
    return out


def tail(values: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    `(value, percentile)`; None when there are ten samples or fewer."""
    n = len(values)
    if n <= 10:
        return None
    ordered = sorted(values)
    rank = n - 10  # samples at or below the tail value
    return ordered[rank - 1], 100.0 * rank / n
