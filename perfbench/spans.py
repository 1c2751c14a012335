"""In-memory span recorder for the benchmark's traced run.

Spans are recorded around calls into the engine's public layer functions,
which ``Tracer.wrap`` replaces on their modules and classes from here: no
engine file is edited. A span holds its name, start, end, parent span and
request id; spans of one HTTP request share the id the client sends in the
``X-Bench-Rid`` header. A span is recorded while ``Tracer.on`` is set, or
on a thread serving a request that carries an id, so traced and untraced
requests can interleave and an untraced one pays only two flag tests per
wrapped call.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None


class Tracer:
    def __init__(self) -> None:
        self.on = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def set_rid(self, rid: str | None) -> None:
        """Mark this thread as serving request ``rid`` (None: no request);
        a thread serving a request with an id records spans."""
        self._tls.rid = rid

    def active(self) -> bool:
        return self.on or getattr(self._tls, "rid", None) is not None

    def call(self, name: str, fn, *args, **kwargs):
        """Run fn inside a span named ``name`` (plain call when inactive)."""
        if not self.active():
            return fn(*args, **kwargs)
        sid = next(self._ids)
        st = self._stack()
        parent = st[-1] if st else None
        st.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            st.pop()
            self.spans.append(Span(sid, name, t0, t1, parent,
                                   getattr(self._tls, "rid", None)))

    def record(self, name: str, start: float, end: float,
               rid: str | None) -> None:
        """Add a span timed by the caller (the client's request wall)."""
        self.spans.append(Span(next(self._ids), name, start, end, None,
                                   rid))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace owner.attr by a wrapper that records span ``name``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        setattr(owner, attr, traced)

    def self_times(self, spans: list[Span] | None = None
                   ) -> dict[str, list[float]]:
        """Per span name, each span's self time in seconds: its duration
        minus the part of it that its direct children cover. The client's
        request span adopts the server's root span of the same request id
        as its child, so client self time is the HTTP and client cost."""
        spans = self.spans if spans is None else spans
        kids: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        roots_by_rid: dict[str, list[Span]] = {}
        for s in spans:
            if s.parent is None and s.rid is not None and s.name != "client":
                roots_by_rid.setdefault(s.rid, []).append(s)
        out: dict[str, list[float]] = {}
        for s in spans:
            ch = list(kids.get(s.sid, ()))
            if s.name == "client" and s.rid is not None:
                ch += roots_by_rid.get(s.rid, [])
            covered = 0.0
            cur_s = cur_e = None
            for c in sorted(ch, key=lambda c: c.start):
                a, b = max(c.start, s.start), min(c.end, s.end)
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.setdefault(s.name, []).append((s.end - s.start) - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
