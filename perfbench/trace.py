"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start and end (``time.perf_counter`` seconds), the id
of the span that caused it, and the run / pass / op it belongs to. Spans
stay in memory and are written out once, when the run ends. With tracing
off, ``span`` only yields, so untimed bookkeeping costs nothing.
"""

from __future__ import annotations

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
    run: str
    pass_no: int | None
    op: str | None


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.pass_no: int | None = None
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        s = Span(sid, name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None,
                 self.run_id, self.pass_no, self.op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def as_dicts(self) -> list[dict]:
        return [asdict(s) for s in self.spans]
