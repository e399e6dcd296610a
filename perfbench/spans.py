"""In-memory spans around the benchmark's calls into each library layer.

A span records (name, layer, start, end, parent, run id). Spans stay in
memory and are written once, when the run ends. A disabled tracer
records nothing, so end-to-end runs measure with tracing off.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "id": idx,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def self_seconds(self, skip_under: str | None = None) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part of it
        its child spans cover, summed by layer. Spans below a top-level
        span named ``skip_under`` are left out."""
        covered = [0.0] * len(self.spans)
        root = [0] * len(self.spans)
        for s in self.spans:
            p = s["parent"]
            root[s["id"]] = s["id"] if p is None else root[p]
            if p is not None:
                covered[p] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c, r in zip(self.spans, covered, root):
            if self.spans[r]["name"] == skip_under:
                continue
            own = max(0.0, s["end"] - s["start"] - c)
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "summary": summary}, f, indent=1)
