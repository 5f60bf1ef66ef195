"""In-memory spans for the traced run, written out once the run ends.

A span has an id, a name, the id of the span that caused it, wall-clock
start and end (epoch seconds, so spans rebuilt from Spark's streaming
progress timestamps line up with the ones timed here) and the counts
measured at that boundary."""

from __future__ import annotations

import json


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []

    def add(self, name: str, parent: int | None, start: float, end: float,
            **attrs) -> int:
        span_id = len(self.spans)
        self.spans.append({"id": span_id, "parent": parent, "name": name,
                           "start": start, "end": end, "attrs": attrs})
        return span_id

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
