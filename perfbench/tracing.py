"""In-memory spans around the benchmark's calls into the program.

A span records a name, start, end, the span that was open when it
began, and the run id shared by every span of one run. Spans stay in
memory and are written out once, when the run ends. A span's self time
is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager

__all__ = ["Tracer"]


class Tracer:
    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_time(self, span: dict) -> float:
        covered = 0.0
        reach = span["start"]
        for start, end in sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]
        ):
            start = max(start, reach)
            if end > start:
                covered += end - start
                reach = end
        return span["end"] - span["start"] - covered

    def write(self, path: str) -> None:
        rows = [
            dict(s, duration_s=s["end"] - s["start"], self_s=self.self_time(s))
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f, indent=1)
