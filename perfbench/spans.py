"""Per-layer spans over Spark's status store, and process-tree RSS.

A span tags every Spark job it launches with one job group, then reads the
group's jobs and stages back from ``statusTracker`` and
``statusStore().lastStageAttempt`` once the listener bus has drained.
Nothing here adds a Spark action; with no span open nothing is recorded.
"""

from __future__ import annotations

import itertools
import os
import threading
import time
from contextlib import contextmanager

GENERIC = (
    # (suffix, unit, better)
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("stages", "count", "lower"),
    ("tasks", "count", "lower"),
    ("failed_tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("core_util", "ratio", "higher"),
    ("shuffle_write_mb", "MB", "lower"),
    ("shuffle_read_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("rows_out", "count", "lower"),
)

_MB = 1e6


class Tracer:
    """Collects one record of GENERIC metrics per span name."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.records: dict[str, dict] = {}
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        group = f"perfbench-{name}-{next(self._ids)}"
        self.sc.setJobGroup(group, name)
        rec: dict = {}
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec.update(self._collect(group, wall))
        self.records[name] = rec

    def _collect(self, group: str, wall: float) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        job_ids = list(tracker.getJobIdsForGroup(group))
        stage_ids = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = failed = run_ms = write_b = read_b = spill_b = 0
        for sid in sorted(stage_ids):
            # a job lists every stage of its DAG; stages whose shuffle
            # output an earlier job already wrote are stored as SKIPPED
            # (or stay PENDING) and ran no task
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() in ("SKIPPED", "PENDING"):
                continue
            stages += 1
            tasks += sd.numTasks()
            failed += sd.numFailedTasks()
            run_ms += sd.executorRunTime()
            write_b += sd.shuffleWriteBytes()
            read_b += sd.shuffleReadBytes()
            spill_b += sd.diskBytesSpilled()
        run_s = run_ms / 1000.0
        return {
            "wall_s": wall,
            "jobs": len(job_ids),
            "stages": stages,
            "tasks": tasks,
            "failed_tasks": failed,
            "executor_run_s": run_s,
            "core_util": run_s / (wall * self.cores) if wall > 0 else 0.0,
            "shuffle_write_mb": write_b / _MB,
            "shuffle_read_mb": read_b / _MB,
            "spill_mb": spill_b / _MB,
        }


def dir_mb(path: str) -> float:
    """Bytes of all files under ``path``, in MB."""
    total = 0
    for parent, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(parent, name)).st_size
            except OSError:
                pass
    return total / _MB


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants, read from /proc."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_mb(root: int) -> float:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total / _MB


RSS_PERIOD_S = 0.1


class RssSampler:
    """Samples the RSS of a process tree every ``RSS_PERIOD_S`` seconds
    while inside ``sampling()``; ``peak_mb`` is the largest sample of the
    last window opened."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            if self._active.is_set():
                self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))

    @contextmanager
    def sampling(self):
        self.peak_mb = tree_rss_mb(self.root)
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join()
