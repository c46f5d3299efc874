"""Measurements taken from outside the program: spans around calls into
its layers (traced runs only), and process, host and JVM readings
(every run).

Spans are wrappers installed on the program's public entry points; each
records (label, start, end, parent) in memory. Spark is lazy, so a span
around an action carries all the work of that action's lineage.
"""

from __future__ import annotations

import functools
import os
import threading
import time

# localCheckpoint calls in run_round, in call order
CHECKPOINT_LABELS = ("plan", "results", "cands", "admitted")


class Spans:
    """In-memory span recorder; ``enabled`` gates recording per step."""

    def __init__(self):
        self.enabled = False
        self.records: list[dict] = []
        self.checkpoints: list = []  # DataFrames returned by localCheckpoint
        self._stack: list[int] = []

    def reset(self) -> None:
        self.records, self.checkpoints, self._stack = [], [], []

    def _timed(self, label_of, fn):
        spans = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not spans.enabled:
                return fn(*args, **kwargs)
            rec = {"label": label_of(args), "parent": spans._stack[-1] if spans._stack else None}
            spans.records.append(rec)
            spans._stack.append(len(spans.records) - 1)
            rec["start"] = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                rec["end"] = time.perf_counter()
                spans._stack.pop()
            if rec["label"].startswith("checkpoint."):
                spans.checkpoints.append(out)
            return out

        return wrapper

    def _patch(self, owner, name: str, label_of) -> None:
        raw = owner.__dict__[name]
        if isinstance(raw, classmethod):
            setattr(owner, name, classmethod(self._timed(label_of, raw.__func__)))
        else:
            setattr(owner, name, self._timed(label_of, raw))

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from twawler_spark.io_catalog import Catalog
        from twawler_spark.operators.seen_filter import BroadcastBloom

        self._patch(Catalog, "append", lambda a: f"append.{a[2]}")
        self._patch(Catalog, "write_snapshot", lambda a: "io_catalog.snapshot")
        self._patch(Catalog, "commit_round", lambda a: "io_catalog.commit")
        for m in ("build", "load", "update", "save"):
            self._patch(BroadcastBloom, m, lambda a, m=m: f"seen_filter.{m}")

        def checkpoint_label(_args):
            n = sum(r["label"].startswith("checkpoint.") for r in self.records)
            return "checkpoint." + (
                CHECKPOINT_LABELS[n] if n < len(CHECKPOINT_LABELS) else str(n)
            )

        self._patch(DataFrame, "localCheckpoint", checkpoint_label)

    def self_times(self) -> dict[str, float]:
        """label -> summed self time (span minus its child spans)."""
        child = [0.0] * len(self.records)
        for r in self.records:
            if r["parent"] is not None:
                child[r["parent"]] += r["end"] - r["start"]
        out: dict[str, float] = {}
        for r, c in zip(self.records, child):
            out[r["label"]] = out.get(r["label"], 0.0) + (r["end"] - r["start"] - c)
        return out


# ------------------------------------------------------------------ /proc
def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss pages) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), int(fields[21]))
    return out


def descendants(root_pid: int) -> dict[int, int]:
    """pid -> rss pages for ``root_pid`` and every process below it."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1]
            todo.extend(children.get(pid, ()))
    return out


class RssSampler:
    """Peak resident memory of this process tree, sampled in a thread."""

    PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            mb = sum(descendants(pid).values()) * self.PAGE_MB
            self.peak_mb = max(self.peak_mb, mb)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def steal_seconds() -> float:
    """Host-wide CPU steal so far, in CPU-seconds (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def process_age_s() -> float:
    """Seconds since this process started: boot-clock time now minus the
    process's start time in clock ticks after boot (/proc/self/stat)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def catalog_files(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under the catalog root."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) new or rewritten between two ``catalog_files`` walks."""
    new = [p for p, v in after.items() if before.get(p) != v]
    return len(new), sum(after[p][0] for p in new)


# ------------------------------------------------------------------ JVM
def gc_seconds(spark) -> float:
    """Total JVM garbage-collection time so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def job_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = [tracker.getStageInfo(s) for s in stage_ids]
    ran = [s for s in stages if s is not None and s.numCompletedTasks > 0]
    return {
        "jobs": len(jobs),
        "stages": len(ran),
        "tasks": sum(s.numCompletedTasks for s in ran),
    }


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()
