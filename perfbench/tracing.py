"""Spans around the program's public functions, recorded from outside.

`Tracer.wrap(owner, attr, name)` replaces `owner.attr` with a wrapper
that records a span (name, start, end, parent, run id, ok) per call.
Spans stay in memory and are written as JSON lines when the run ends.
`restore()` puts every original back.

The tracer also measures its own cost — wrapper bookkeeping plus the
Spark job-count queries it makes — so a traced run can report how much
of its wall time tracing added.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[tuple] = []  # (name, start, end, parent_index, run_id, ok)
        self.self_time = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def charge(self, seconds: float) -> None:
        """Add time spent on tracing to the tracer's own cost."""
        with self._lock:
            self.self_time += seconds

    def open(self, name: str) -> int:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else -1
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.time(), None, parent, self.run_id, True))
        stack.append(idx)
        self.charge(time.perf_counter() - t0)
        return idx

    def close(self, idx: int, ok: bool = True) -> None:
        t0 = time.perf_counter()
        end = time.time()
        self._stack().pop()
        with self._lock:
            name, start, _, parent, run_id, _ = self.spans[idx]
            self.spans[idx] = (name, start, end, parent, run_id, ok)
        self.charge(time.perf_counter() - t0)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = tracer.open(name)
            try:
                out = orig(*args, **kwargs)
            except BaseException:
                tracer.close(idx, ok=False)
                raise
            tracer.close(idx)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def durations(self, name: str) -> list[float]:
        """Durations of the closed, successful spans called `name`."""
        return [s[2] - s[1] for s in self.spans if s[0] == name and s[2] is not None and s[5]]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, start, end, parent, run_id, ok) in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {"id": i, "name": name, "start": start, "end": end,
                         "parent": parent, "run": run_id, "ok": ok}
                    )
                    + "\n"
                )


class JobCounter:
    """Spark jobs launched under a job group, read from the status
    tracker (works with the UI disabled)."""

    def __init__(self, sc, tracer: Tracer) -> None:
        self.sc = sc
        self.tracer = tracer
        self._n = itertools.count()  # thread-safe group numbering

    def begin(self, label: str) -> str:
        t0 = time.perf_counter()
        group = f"perfbench-{self.tracer.run_id}-{next(self._n)}-{label}"
        self.sc.setJobGroup(group, label)
        self.tracer.charge(time.perf_counter() - t0)
        return group

    def count(self, group: str) -> int:
        t0 = time.perf_counter()
        n = len(self.sc.statusTracker().getJobIdsForGroup(group))
        self.tracer.charge(time.perf_counter() - t0)
        return n
