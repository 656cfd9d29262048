"""In-memory spans around the benchmark's calls into each layer.

A span is ``(name, start, end, parent, run_id)`` plus free-form
attributes; spans stay in memory and are written as JSON lines when the
run ends. With tracing off the same ``span`` calls cost one context
manager and record nothing, so the untraced run times the same code.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: List[Dict] = []
        self._ids = itertools.count(1)
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Dict]:
        """Time the body; yields the attribute dict so the body can add
        counts measured at the same boundary."""
        if not self.enabled:
            yield attrs
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans.append({"id": sid, "name": name, "start": start,
                               "end": time.time(), "parent": parent,
                               "run_id": self.run_id, **attrs})

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a span whose bounds were observed elsewhere (a file's
        scheduled arrival and its batch commit), under the open span."""
        if self.enabled:
            self.spans.append({"id": next(self._ids), "name": name,
                               "start": start, "end": end,
                               "parent": self._stack[-1] if self._stack else None,
                               "run_id": self.run_id, **attrs})

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
