"""In-memory span recorder for the traced run.

A span has a name, start, end, parent span and run id, plus whatever
attributes the caller attaches (the op name, counts taken at the same
boundary). Spans stay in memory and are written out once, when the run
ends. A disabled tracer records nothing and costs one no-op context
manager per call.
"""

from __future__ import annotations

import contextlib
import json
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, within: set[int] | None = None) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the duration of
        its direct children. ``within`` restricts the sum to the given span
        ids and their descendants."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        keep = None
        if within is not None:
            keep = set(within)
            for s in self.spans:  # parents precede children in self.spans
                if s["parent"] in keep:
                    keep.add(s["id"])
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is None or (keep is not None and s["id"] not in keep):
                continue
            out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, default=str) + "\n")
