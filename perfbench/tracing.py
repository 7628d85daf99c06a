"""Driver-side tracing for the traced run, plus the process-tree RSS probe.

* :class:`Tracer` keeps spans (name, start, end, parent) in memory and
  writes them out when the run ends.  A span's layer is the part of its
  name before the first dot; a layer's self time is its spans' durations
  minus the part covered by their child spans.
* :class:`JobCounter` counts Spark jobs, stages and tasks per operation
  from ``statusTracker`` job groups.
* :class:`RssSampler` samples the summed RSS of this process and all its
  descendants (the JVM and the Python workers) from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans.  Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer.  Children of one span run one
        after another, so their durations add up to the covered part."""
        covered = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, cov in zip(self.spans, covered):
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"] - cov)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class JobCounter:
    """Spark jobs, stages and tasks of each operation, via job groups."""

    def __init__(self, sc):
        self.sc = sc
        self.ops = 0
        self.jobs = self.stages = self.tasks = self.failed_tasks = 0
        self._n = 0

    @contextmanager
    def group(self):
        gid = f"perfbench-{os.getpid()}-{self._n}"
        self._n += 1
        self.sc.setJobGroup(gid, "perfbench operation")
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._collect(gid)

    def _collect(self, gid: str) -> None:
        st = self.sc.statusTracker()
        stage_ids = set()
        jobs = st.getJobIdsForGroup(gid)
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is None or info.numCompletedTasks + info.numFailedTasks \
                    == 0:
                continue               # skipped (reused shuffle output)
            self.stages += 1
            self.tasks += info.numCompletedTasks
            self.failed_tasks += info.numFailedTasks
        self.jobs += len(jobs)
        self.ops += 1


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live descendant process of ``root``."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass                       # exited between listing and read
    return total


class RssSampler:
    """Background thread tracking the peak summed RSS of the process tree.
    :meth:`reset` restarts the peak; :meth:`stop` joins the thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.interval):
            rss = tree_rss_bytes(me)
            with self._lock:
                self.peak = max(self.peak, rss)

    def reset(self) -> None:
        with self._lock:
            self.peak = tree_rss_bytes(os.getpid())

    def peak_mb(self) -> float:
        with self._lock:
            return self.peak / (1 << 20)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
