"""In-memory spans recorded around each call into a layer of the package.

With tracing on, entering a span also sets it as the Spark job group, so
the event-log ledger (``eventlog.read_ledger``) can charge every job, stage
and task to the innermost open span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run_id: str
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self.sc = None  # SparkContext whose job group follows the open span

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1].id if self._open else None
        s = Span(f"{len(self.spans)}:{name}", name, parent, self.run_id, 0.0)
        self.spans.append(s)
        self._open.append(s)
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(s.id, name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()
            if self.enabled and self.sc is not None:
                if self._open:
                    self.sc.setJobGroup(self._open[-1].id, self._open[-1].name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
