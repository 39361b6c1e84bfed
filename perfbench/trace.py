"""Spans recorded by the benchmark around each call into a layer.

A span is (name, start, end, parent, op): ``op`` identifies one timed
operation, and every span opened inside it shares that id. When a Spark
session is attached, entering an op also sets the Spark job description to
the op id, so the event-log parser can group task metrics by op. Spans stay
in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: str | None = None
        self._spark = None

    def attach(self, spark) -> None:
        """Route op ids to this session's job descriptions (None detaches)."""
        self._spark = spark

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Time a call. ``op`` starts a new operation; nested spans inherit
        the enclosing one. Yields the span record; ``end`` is set on exit."""
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": op or self._op,
        }
        outer_op = self._op
        if op is not None:
            self._op = op
            if self.enabled and self._spark is not None:
                self._spark.sparkContext.setJobDescription(op)
        if self.enabled:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
            self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if self.enabled:
                self._stack.pop()
            if op is not None:
                self._op = outer_op
                if self.enabled and self._spark is not None:
                    self._spark.sparkContext.setJobDescription(outer_op)

    def durations(self, name: str, upto: int | None = None) -> list[float]:
        """Durations of the spans called ``name`` among the first ``upto``."""
        return [s["end"] - s["start"] for s in self.spans[:upto] if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")
