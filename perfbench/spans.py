"""In-memory spans, written out once when the benchmark ends.

A span is (id, parent, name, start, end, attrs); times are epoch
seconds. Self time is a span's duration minus the part of it that its
child spans cover.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field

from status import union_length


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Trace:
    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        self.spans.append(Span(len(self.spans), parent, name, start, end,
                               attrs))
        return len(self.spans) - 1

    def self_times(self) -> list[float]:
        kids: dict[int, list[tuple[float, float]]] = {}
        for c in self.spans:
            if c.parent is not None:
                kids.setdefault(c.parent, []).append((c.start, c.end))
        return [(s.end - s.start)
                - union_length(kids.get(s.id, []), s.start, s.end)
                for s in self.spans]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) | {"self_s": t}
                       for s, t in zip(self.spans, self.self_times())], fh)
