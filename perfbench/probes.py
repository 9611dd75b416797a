"""Readers for the numbers the benchmark reports, taken from outside the
library: ``/proc`` for the host and the process tree, Spark's status
store and query-execution tracker for jobs, stages and Catalyst phases,
and a streaming listener for micro-batch progress.

Nothing here imports ``data_table_spark``; every reader takes the live
SparkSession (or a pid) it should look at.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")
_MB = float(1 << 20)


# --------------------------------------------------------------------------
# /proc
# --------------------------------------------------------------------------

def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int) -> dict[int, float]:
    """CPU-seconds (user + system, own + reaped children) of each process
    in the tree under ``root``, keyed by pid."""
    out = {}
    for pid in descendants(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of proc(5): utime stime cutime cstime
            out[pid] = sum(int(v) for v in st[11:15]) / _TICK
    return out


def cpu_between(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU-seconds the tree spent between two ``tree_cpu`` readings; a
    process born in between counts from zero."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


# --------------------------------------------------------------------------
# Spark
# --------------------------------------------------------------------------

def _scala_items(seq):
    return (seq.apply(i) for i in range(seq.size()))


class SparkProbe:
    """Counters of one SparkSession read from its status store, its JVM's
    management beans and its catalog."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc
        self._jsc = jsc
        self._store = jsc.sc().statusStore()
        self._bus = jsc.sc().listenerBus()
        self._gc_beans = list(
            spark.sparkContext._jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()
        )
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.drain()
        self._last_job = self._max_job_id()

    def drain(self) -> None:
        """Block until the listener bus has delivered every posted event,
        so the status store and streaming listeners are up to date."""
        self._bus.waitUntilEmpty(60_000)

    def _max_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def new_jobs(self) -> list:
        """Jobs started since the previous call, found by diffing the job
        list (ids only grow; the list is newest first). Counts every job,
        whatever its job group."""
        self.drain()
        jobs = self._store.jobsList(None)
        out = []
        for job in _scala_items(jobs):
            if job.jobId() <= self._last_job:
                break
            out.append(job)
        if out:
            self._last_job = out[0].jobId()
        return out

    def stage_totals(self, jobs) -> dict[str, float]:
        """Task counters summed over the stages of ``jobs`` that ran."""
        tot = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "task_cpu_s", "task_run_s",
             "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"), 0.0)
        seen = set()
        for job in jobs:
            for sid in _scala_items(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks()
                tot["failed_tasks"] += st.numFailedTasks()
                tot["task_cpu_s"] += st.executorCpuTime() / 1e9
                tot["task_run_s"] += st.executorRunTime() / 1e3
                tot["gc_s"] += st.jvmGcTime() / 1e3
                tot["shuffle_read_mb"] += st.shuffleReadBytes() / _MB
                tot["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                tot["spill_mb"] += st.diskBytesSpilled() / _MB
        return tot

    def jvm_gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1e3

    def persisted_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()

    def catalog_tables(self) -> int:
        """Tables and temporary views visible in the session's catalog
        (memory-sink tables of finished streams show up here)."""
        cat = self.spark._jsparkSession.sessionState().catalog()
        return cat.listTables(cat.getCurrentDatabase()).size()


def catalyst_ms(jdf) -> dict[str, float]:
    """Analysis, optimization and planning milliseconds recorded by the
    tracker of an executed Dataset's QueryExecution."""
    phases = jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def progress_listener():
    """A StreamingQueryListener that keeps the durations and input rows of
    every progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self):
            self.events: list[tuple[dict, int]] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append((dict(p.durationMs), int(p.numInputRows)))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


def progress_totals(events) -> dict[str, float]:
    tot = dict.fromkeys(("batches", "trigger_ms", "add_batch_ms",
                         "query_planning_ms", "wal_commit_ms", "input_rows"),
                        0.0)
    for dur, rows in events:
        tot["batches"] += 1
        tot["trigger_ms"] += dur.get("triggerExecution", 0)
        tot["add_batch_ms"] += dur.get("addBatch", 0)
        tot["query_planning_ms"] += dur.get("queryPlanning", 0)
        tot["wal_commit_ms"] += dur.get("walCommit", 0)
        tot["input_rows"] += rows
    return tot


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans (run -> op -> build/force/check), written out once
    at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()

    def open(self, name: str, parent: int | None = None, **attrs) -> dict:
        span = {"id": len(self.spans), "parent": parent, "name": name,
                "start_s": time.perf_counter() - self._t0, "end_s": None}
        span.update(attrs)
        self.spans.append(span)
        return span

    def close(self, span: dict, **attrs) -> dict:
        span["end_s"] = time.perf_counter() - self._t0
        span.update(attrs)
        return span

