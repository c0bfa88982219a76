"""In-memory spans recorded by the benchmark around its calls into each
layer of the engine.

A span has a name, start and end (seconds since the tracer was made),
the index of the span that was open when it started, and optional
attributes. With ``group`` set, the span also sets Spark's job group for
its duration (restoring the enclosing one after), so the event-log fold
can charge jobs to it. A disabled tracer records nothing and sets no
job group, which is how the untraced runs measure end-to-end metrics.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._groups: list[str] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext if group and self.spark else None
        if sc is not None:
            sc.setJobGroup(group, name)
            self._groups.append(group)
        rec = {
            "name": name,
            "start": time.perf_counter() - self._t0,
            "parent": self._open[-1] if self._open else None,
            "group": group,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._open.pop()
            if sc is not None:
                self._groups.pop()
                if self._groups:
                    sc.setJobGroup(self._groups[-1], name)
                else:
                    sc._jsc.clearJobGroup()

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: Path, **extra) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1) + "\n")
