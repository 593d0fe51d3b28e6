"""Span recorder, latency statistics and the process-tree RSS sampler.

Spans are kept in memory and written out once, when the run ends, so the
recorder adds two clock reads and a list append per call it wraps.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Records (name, start, end, parent, run) spans around calls."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self, name: str) -> list[float]:
        """Self time of every span called ``name``: its duration minus the
        part of it that its child spans cover."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        return [s["end"] - s["start"] - child.get(s["id"], 0.0)
                for s in self.spans if s["name"] == name]

    def median_self(self, name: str) -> float:
        xs = self.self_times(name)
        return statistics.median(xs) if xs else 0.0

    def median_wall(self, name: str) -> float:
        xs = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return statistics.median(xs) if xs else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def tail(xs: list[float]) -> dict:
    """The highest percentile that has at least ten samples beyond it, with
    the sample count; ``None`` when there are too few samples for one."""
    n = len(xs)
    if n < 11:
        return {"pct": None, "value": None, "n": n}
    return {"pct": round(100.0 * (n - 10) / n, 1), "value": sorted(xs)[n - 11],
            "n": n}


def summary(xs: list[float]) -> dict:
    return {"n": len(xs), "median": statistics.median(xs) if xs else None,
            "tail": tail(xs), "samples": xs}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed it
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


RSS_INTERVAL_S = 0.2
RSS_HOLD = 5   # samples: a peak must last one second to count


class RssSampler(threading.Thread):
    """Samples the summed RSS of a process and all its descendants (the
    benchmark process, the JVM it starts and the JVM's Python workers)."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root = root
        self.series: list[tuple[float, int, int]] = []
        self.pids: set[int] = set()
        self._halt = threading.Event()

    def sample(self) -> None:
        tree = process_tree(self.root)
        self.pids.update(tree)
        rss = sum(_rss_bytes(p) for p in tree)
        self.series.append((time.perf_counter(), len(tree), rss))

    def peak(self) -> int:
        """The highest RSS held for RSS_HOLD consecutive samples: a spike
        shorter than the sampling interval is caught or missed by chance,
        one held that long is not."""
        xs = [s[2] for s in self.series]
        return max((min(xs[i:i + RSS_HOLD]) for i in range(len(xs) - RSS_HOLD + 1)),
                   default=max(xs, default=0))

    def run(self) -> None:
        while not self._halt.wait(RSS_INTERVAL_S):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()
