"""In-memory span tracer for the benchmark's traced run.

Spans are recorded at the boundaries where the benchmark (or a wrapped
module function) calls into an engine layer: name, start, end, parent id and
an optional work count (values encoded or decoded). They stay in memory and
are written out once, when the run ends. A span's self time is its duration
minus the part its direct children cover; children of one span never overlap
(the traced code is single-threaded), so self times within one root add up
to the root's duration exactly.

Wrappers are installed on module attributes *in the namespace that calls
them* (``from x import f`` binds ``f`` in the caller's module) and removed
again on exit, so the engine's own files are never edited.
"""

from __future__ import annotations

import importlib
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, clock=time.process_time):
        self.clock = clock
        # [id, parent_id, name, start, end, n]
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, n: int = 0):
        sid = len(self.spans)
        rec = [sid, self._stack[-1] if self._stack else -1, name, 0.0, 0.0, n]
        self.spans.append(rec)
        self._stack.append(sid)
        rec[3] = self.clock()
        try:
            yield rec
        finally:
            rec[4] = self.clock()
            self._stack.pop()

    def wrap(self, name: str, fn, count=None):
        clock, spans, stack = self.clock, self.spans, self._stack

        def traced(*args, **kwargs):
            sid = len(spans)
            rec = [sid, stack[-1] if stack else -1, name, 0.0, 0.0,
                   count(args, kwargs) if count else 0]
            spans.append(rec)
            stack.append(sid)
            rec[3] = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                rec[4] = clock()
                stack.pop()

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def installed(self, targets):
        """``targets``: (module name, attribute, span name, count fn or None).
        Every patched attribute is restored on exit, also on error."""
        saved = []
        try:
            for mod_name, attr, span_name, count in targets:
                mod = importlib.import_module(mod_name)
                orig = getattr(mod, attr)
                saved.append((mod, attr, orig))
                setattr(mod, attr, self.wrap(span_name, orig, count))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)

    def summary(self, root: str) -> dict[str, dict]:
        """Per span name, over every tree whose root span is named ``root``:
        calls, total and self seconds, and the work count and inclusive
        seconds of the outermost calls (a kernel that recurses into itself,
        such as a nested length-table encode, is counted once)."""
        spans = self.spans
        child_cover = [0.0] * len(spans)
        root_of = [-1] * len(spans)
        for sid, parent, _name, start, end, _n in spans:
            if parent >= 0:
                child_cover[parent] += end - start
                root_of[sid] = root_of[parent]
            else:
                root_of[sid] = sid
        out: dict[str, dict] = {}
        for sid, parent, name, start, end, n in spans:
            if spans[root_of[sid]][2] != root:
                continue
            s = out.setdefault(
                name, {"calls": 0, "total_s": 0.0, "self_s": 0.0, "outer_s": 0.0, "outer_n": 0}
            )
            dur = end - start
            s["calls"] += 1
            s["total_s"] += dur
            s["self_s"] += dur - child_cover[sid]
            p = parent
            while p >= 0 and spans[p][2] != name:
                p = spans[p][1]
            if p < 0:
                s["outer_s"] += dur
                s["outer_n"] += n
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {"fields": ["id", "parent", "name", "start", "end", "n"], "spans": self.spans},
                fh,
            )
