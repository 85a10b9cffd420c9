"""In-memory spans around the benchmark's calls into each layer.

A span has a name, an id, its parent's id, and epoch start/end times
(epoch, so that they line up with the Spark event log). Spans are kept
in memory and written out once, when the benchmark ends. An ``op`` span
also becomes the Spark job group of everything it runs, which is how
the event log's jobs are attributed to operations afterwards.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field

from eventlog import covered_s


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans while ``enabled``; otherwise every call is a no-op."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(len(self.spans), self._stack[-1] if self._stack else None, name, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        job_group = name == "op" and self.sc is not None
        if job_group:
            self.sc.setJobGroup(str(s.id), attrs.get("what", name))
        try:
            yield s
        finally:
            if job_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            s.end = time.time()
            self._stack.pop()

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(c.start, c.end) for c in self.children(span.id)]
        return span.duration - covered_s(kids, span.start, span.end)

    def dump(self, path: str) -> None:
        rows = [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w") as f:
            json.dump(rows, f, indent=0)
