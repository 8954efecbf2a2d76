"""In-memory spans around the benchmark's calls into each layer.

A span has a name, start, end and the id of the span open when it began.
Spans stay in memory; :meth:`Tracer.dump` writes them once, at exit, with
each span's self time (its duration minus what its child spans cover).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: str) -> None:
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = []
        for s in self.spans:
            dur = (s["end"] or s["start"]) - s["start"]
            out.append({**s, "self": dur - child_time.get(s["id"], 0.0)})
        with open(path, "w") as fh:
            json.dump(out, fh)
