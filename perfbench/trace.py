"""In-memory spans for the traced pass.

A span records name, start, end, parent span and request id. The benchmark
opens spans around its own calls into each layer; ``patch`` additionally
rebinds a few module globals of ``deluge_spark`` so that calls the program
makes internally (query tokenization, TAAT/WAND scoring, auto-compaction)
get spans too, without editing the package. Only driver-side calls are
visible: Spark Python workers import unpatched modules. Spans are written
out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.overhead_s = 0.0   # time spent recording spans
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = self.spans[parent]["request"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "request": request, "start": None, "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    def patch(self, module, attr: str, name: str) -> None:
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def unpatch(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    # -- derived views ----------------------------------------------------
    def children(self) -> dict[int, list[dict]]:
        out: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                out.setdefault(s["parent"], []).append(s)
        return out

    @staticmethod
    def duration(s: dict) -> float:
        return s["end"] - s["start"]

    def self_time(self, s: dict, kids: dict[int, list[dict]]) -> float:
        """Duration minus the part of it that child spans cover (children
        of one span run one after another in this single-client driver)."""
        covered = sum(min(c["end"], s["end"]) - max(c["start"], s["start"])
                      for c in kids.get(s["id"], []))
        return self.duration(s) - covered

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class NullTracer:
    """Untraced passes: spans cost one no-op context manager."""

    overhead_s = 0.0

    @staticmethod
    def span(name: str, request: int | None = None):
        return contextlib.nullcontext()
