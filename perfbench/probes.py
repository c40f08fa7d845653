"""Measurements taken from outside the engine: spans kept in memory,
counts read from Spark's own status APIs, and the resident memory of the
process tree read from /proc."""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024


class Tracer:
    """Spans (name, start, end, parent, counts) kept in memory; written out
    once when the run ends. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> None:
        """Set each span's ``self_s``: its duration minus the time its
        children cover (children of one span never overlap)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            s["self_s"] = s["end"] - s["start"] - child_s.get(s["id"], 0.0)


class SparkStatus:
    """Job, stage, storage and executor counts from the driver's status
    tracker and status store (both work with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def settle(self) -> None:
        """Wait until the status listener has seen every event so far."""
        self.jsc.listenerBus().waitUntilEmpty()

    def group_stats(self, group: str) -> dict:
        """Totals over the jobs launched under ``group``."""
        tracker = self.sc.statusTracker()
        store = self.jsc.statusStore()
        out = dict.fromkeys(
            ("jobs", "job_s", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb"),
            0,
        )
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            job = store.job(jid)
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out["job_s"] += (job.completionTime().get().getTime() - job.submissionTime().get().getTime()) / 1e3
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: the stage never ran an attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["task_run_s"] += st.executorRunTime() / 1e3
            out["task_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / MB
            out["input_mb"] += st.inputBytes() / MB
        return out

    def storage(self) -> tuple[int, float]:
        """(RDDs holding cached or checkpointed blocks, their MB)."""
        held = [r for r in self.jsc.getRDDStorageInfo() if r.numCachedPartitions() > 0]
        return len(held), sum(r.memSize() + r.diskSize() for r in held) / MB

    def gc_s(self) -> float:
        """Cumulative GC time of the JVM (driver and local executor). The
        executor summary only counts GC inside tasks, which misses the
        driver-side work that dominates short queries."""
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1e3


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and its Python workers) on a background thread
    that only reads /proc."""

    def __init__(self, interval_s: float = 0.1, rescan_every: int = 10):
        self.interval_s = interval_s
        self.rescan_every = rescan_every
        self.peak_bytes = 0
        self.peak_by_process: dict[str, int] = {}  # "pid comm" -> MB at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        tick, tree = 0, [me]
        while not self._stop.is_set():
            if tick % self.rescan_every == 0:  # the process list changes rarely
                tree = [me] + descendants(me)
            tick += 1
            sizes = {p: _rss_bytes(p) for p in tree}
            total = sum(sizes.values())
            if total > self.peak_bytes:
                self.peak_bytes = total
                self.peak_by_process = {f"{p} {_comm(p)}": b // MB for p, b in sizes.items() if b}
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
