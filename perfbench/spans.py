"""In-memory spans recorded around calls into the engine's public
functions. Spans are written out when the run ends; nothing is
instrumented inside the engine itself."""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    """Spans (id, name, parent, start, end, attrs) plus the wrappers that
    record them. ``wrap`` replaces a module or class attribute by a
    recording wrapper; ``restore`` puts every original back."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sp = {"id": len(self.spans), "name": name,
              "parent": self._stack[-1] if self._stack else None,
              "start": time.perf_counter(), "end": None, "attrs": {}}
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            self._stack.pop()
            sp["end"] = time.perf_counter()

    def wrap(self, owner, attr: str, name: str, on_call=None) -> None:
        """Record a span named ``name`` around every call of
        ``owner.attr``; ``on_call(span, args, result)`` may add attrs."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
                if on_call is not None:
                    on_call(sp, args, result)
                return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def total(self, name: str, since: int = 0) -> float:
        """Summed duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans[since:]
                   if s["name"] == name)

    def self_time(self, sp: dict) -> float:
        """Duration minus the union of the intervals its children cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == sp["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return sp["end"] - sp["start"] - covered

    def coverage(self, sp: dict) -> float:
        """Share of the span's duration covered by its child spans."""
        return 1.0 - self.self_time(sp) / (sp["end"] - sp["start"])

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump([dict(s, start=s["start"] - t0, end=s["end"] - t0)
                       for s in self.spans], f, indent=1)
