"""In-memory spans, written out once when the benchmark ends.

A span has a name, a start and an end (epoch seconds, the clock Spark's
event log uses), the id of the span that caused it, and free-form
attributes. Spans of one operation share its ``op`` attribute.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        span_id = next(self._ids)
        self.spans.append(
            {"id": span_id, "name": name, "start": start, "end": end, "parent": parent, **attrs}
        )
        return span_id

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Record the enclosed block; yields the span's id for children."""
        span_id = next(self._ids)
        record = {"id": span_id, "name": name, "start": time.time(), "end": None,
                  "parent": parent, **attrs}
        self.spans.append(record)
        try:
            yield span_id
        finally:
            record["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans}, f, separators=(",", ":"))
