"""Spans, Spark scheduler counts and process-tree accounting.

A span records name, layer, start, end, parent and run id. Spans are kept
in memory and written as JSON once the run ends. A layer's self time is
its spans' durations minus the part their child spans cover.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from dataclasses import asdict, dataclass

LAYERS = (
    "bench", "streaming", "filters", "sinks", "programs",
    "operators.crossmatch", "operators.fit", "operators.incremental",
    "operators.sample", "functions.text", "operators.dedup",
)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    run_id: str
    id: int


class Tracer:
    """Collects spans for one run. ``enabled=False`` makes ``span`` a
    plain pass-through, so untraced and traced passes run the same code."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            s = Span(name, layer, time.perf_counter(), 0.0,
                     stack[-1] if stack else None, self.run_id, sid)
            self.spans.append(s)
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            s.end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self seconds per layer: span time not covered by child spans."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])]
            )
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under a job group
    (``statusTracker`` keeps the last 1000 jobs, far above one run)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


# ---------------------------------------------------------- process tree

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo += _children(p)
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of this process and every descendant (JVM, Python
    workers), including reaped children's time folded into their parent."""
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 (1-based)
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
