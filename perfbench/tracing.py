"""Spans, Spark job counts, process-tree memory and sample summaries.

Spans are recorded from the benchmark's side of each call into a layer:
the benchmark materialises the layer's input first, so a span's duration
is that layer's self time. Each span labels its Spark jobs with a job
group and reads the job, stage and task counts for that group from the
public ``statusTracker()`` once the span ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """Keeps spans in memory; ``dump`` writes them as JSON."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[str] = []

    def attach(self, sc) -> None:
        """Use ``sc`` for labels and counts; labels the open span, if any."""
        self.sc = sc
        if self._stack:
            self._label(self._stack[-1])

    def _group(self, name: str) -> str:
        return f"{self.run_id}:{name}"

    def _label(self, name: str) -> None:
        self.sc.setJobGroup(self._group(name), name)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        if self.sc is not None:
            self._label(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            t0 = time.perf_counter()
            counts = self._counts(name)
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self._label(parent)
            self.overhead_s += time.perf_counter() - t0
            self.spans.append({"name": name, "start": start, "end": end,
                               "parent": parent, "run_id": self.run_id,
                               **counts})

    def _counts(self, name: str) -> dict:
        counts = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        if self.sc is None:
            return counts
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self._group(name))
        stage_ids: set[int] = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        counts["jobs"] = len(jobs)
        for s in stage_ids:
            info = st.getStageInfo(s)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped: its output was reused from an earlier stage
            counts["stages"] += 1
            counts["tasks"] += info.numCompletedTasks
            counts["failed_tasks"] += info.numFailedTasks
        return counts

    def seconds(self, name: str) -> float:
        span = next(s for s in self.spans if s["name"] == name)
        return span["end"] - span["start"]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident memory of ``root`` and all its descendants."""
    kids = _children()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE_BYTES
        except OSError:
            continue
    return total


class RssSampler:
    """Samples this process tree's resident memory on a background thread
    (the driver, its JVM and the Python workers the JVM forks)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


def summary(values: list[float]) -> str:
    """Median, sample count and the highest percentile with at least ten
    samples beyond it (none below 11 samples: the maximum is shown)."""
    n = len(values)
    med = statistics.median(values)
    if n >= 11:
        p = int(100 * (1 - 10 / n))
        tail = f"p{p}={statistics.quantiles(values, n=100)[p - 1]:.4g}"
    else:
        tail = f"max={max(values):.4g}"
    return f"median={med:.4g} {tail} n={n}"
