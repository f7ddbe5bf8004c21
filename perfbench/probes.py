"""Benchmark-side observation: in-memory spans and a peak-RSS sampler.

Spans are recorded around the benchmark's calls into the program's layers,
kept in memory, and written out once when the run ends.  The RSS sampler
reads the driver's whole process tree (Python driver, JVM, Python workers)
from ``/proc`` on a background thread.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time


class NullTracer:
    """Tracing off: spans cost one generator frame and record nothing."""

    @contextlib.contextmanager
    def span(self, name: str, plans: bool = False, **attrs):
        yield {}


class Tracer:
    """Spans with name, start, end, parent and run id, plus attributes.

    ``plans=True`` spans collect, as child rows, the executed plans of the
    Spark queries that finished inside them, drained from ``plan_source``
    (a ``plans.PlanListener``) when the span closes."""

    def __init__(self, run_id: str, plan_source=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.plan_source = plan_source

    @contextlib.contextmanager
    def span(self, name: str, plans: bool = False, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "run_id": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if plans and self.plan_source is not None:
                rec["plans"] = self.plan_source.drain()

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by children."""
        child_ms: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + (s["end"] - s["start"]) * 1e3
        out: dict[str, float] = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) * 1e3 - child_ms.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, default=str)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_rss_bytes(root: int) -> int:
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Peak summed RSS of a process tree, sampled every ``interval`` s."""

    def __init__(self, root: int | None = None, interval: float = 0.1):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
