"""In-memory spans recorded around calls into the library's layers."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    """Spans with a name, start, end, parent and iteration id. They stay in
    memory until :meth:`dump` writes them out at the end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.iteration: str | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "iteration": self.iteration,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str, workload: str) -> list[float]:
        """Durations of the spans called ``name`` in ``workload``'s
        iterations (iteration ids start with the workload name)."""
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (s["iteration"] or "").startswith(f"{workload}-")
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def prefix_self_times(prefix_times: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each layer in a ladder of growing plan prefixes: the
    prefix's time minus the previous prefix's (the first prefix is its own
    self time). Spark is lazy, so a layer is timed as the extra work its
    prefix adds to one action."""
    out: dict[str, float] = {}
    prev = 0.0
    for name, t in prefix_times:
        out[name] = t - prev
        prev = t
    return out
