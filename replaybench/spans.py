"""Spans around the benchmark's calls into ``replay_spark``, with the
Spark work each one caused read from Spark's own status store.

A span gives its calls a job group and description of their own, so
every job they launch can be traced back to it, and restores the
caller's local properties when it ends. As soon as a span closes it
reads its jobs and their stages from the status store
(``statusTracker().getJobIdsForGroup`` and
``statusStore().job / lastStageAttempt``); no UI or REST endpoint is
involved. Spans stay in memory until the run writes its record.

The untraced path uses ``NullTracer``, whose ``span`` is an empty
context manager: no Spark properties are set and nothing is read.
"""

from __future__ import annotations

import contextlib
import os
import time
from typing import Iterator, List, Optional

# local properties a span overrides and must give back
_PROPS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)

#: counters every span records (summed over the jobs it caused)
COUNTERS = (
    "wall_s",
    "self_s",
    "jobs",
    "stages",
    "tasks",
    "exec_cpu_s",
    "shuffle_bytes",
    "driver_s",
    "gc_s",
    "failed_tasks",
)


class NullTracer:
    """The untraced path: spans cost one empty ``with``."""

    def span(self, site: str):
        return contextlib.nullcontext({})


class Tracer:
    """Nested spans, each a job group of its own."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._prefix = f"rb-{os.getpid()}"
        self._seq = 0
        self._stack: List[dict] = []
        self.spans: List[dict] = []
        self.groups: set = set()

    @contextlib.contextmanager
    def span(self, site: str) -> Iterator[dict]:
        self._seq += 1
        group = f"{self._prefix}-{self._seq}"
        self.groups.add(group)
        parent = self._stack[-1] if self._stack else None
        saved = {k: self.sc.getLocalProperty(k) for k in _PROPS}
        desc = "/".join([s["site"] for s in self._stack] + [site])
        self.sc.setJobGroup(group, desc, interruptOnCancel=False)
        rec = {
            "site": site,
            "group": group,
            "parent": parent["group"] if parent else None,
            "t0": time.time(),
            "_intervals": [],
            "_child_wall": 0.0,
        }
        self._stack.append(rec)
        start = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - start
            rec["t1"] = time.time()
            self._stack.pop()
            for key, value in saved.items():
                self.sc.setLocalProperty(key, value)
            self._close(rec, parent)

    # -- status store -----------------------------------------------------

    def _close(self, rec: dict, parent: Optional[dict]) -> None:
        ids = list(self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
        if ids:
            # job and stage ends reach the store through the listener
            # bus; drain it so the counters are final
            self._bus.waitUntilEmpty()
        own = {c: 0 for c in COUNTERS if c not in ("wall_s", "self_s", "driver_s")}
        intervals = rec.pop("_intervals")
        for jid in ids:
            job = self._store.job(jid)
            own["jobs"] += 1
            submitted = _opt_time(job.submissionTime())
            completed = _opt_time(job.completionTime())
            if submitted is not None:
                intervals.append((submitted, completed or rec["t1"]))
            stage_ids = job.stageIds()
            for i in range(stage_ids.length()):
                stage = self._stage(stage_ids.apply(i))
                if stage is None:  # skipped: its output was reused
                    continue
                own["stages"] += 1
                own["tasks"] += stage.numTasks()
                own["failed_tasks"] += stage.numFailedTasks()
                own["exec_cpu_s"] += stage.executorCpuTime() / 1e9
                own["gc_s"] += stage.jvmGcTime() / 1e3
                own["shuffle_bytes"] += (
                    stage.shuffleReadBytes() + stage.shuffleWriteBytes()
                )
        rec["job_ids"] = ids
        rec.update(own)
        rec["self_s"] = rec["wall_s"] - rec.pop("_child_wall")
        rec["driver_s"] = rec["wall_s"] - _covered(
            intervals, rec["t0"], rec["t1"]
        )
        if parent is not None:
            parent["_intervals"].extend(intervals)
            parent["_child_wall"] += rec["wall_s"]
        self.spans.append(rec)

    def _stage(self, stage_id: int):
        try:
            return self._store.lastStageAttempt(stage_id)
        except Exception:  # py4j: NoSuchElementException for skipped
            return None

    def foreign_jobs(self, windows) -> List[int]:
        """Ids of jobs submitted inside any ``(t0, t1)`` window whose
        group is not one of this tracer's spans: work no span can
        account for. Reads the store's full job list, so call it once,
        after the timed region."""
        self._bus.waitUntilEmpty()
        out = []
        jobs = self._store.jobsList(None)
        for i in range(jobs.length()):
            job = jobs.apply(i)
            submitted = _opt_time(job.submissionTime())
            if submitted is None or not any(
                t0 <= submitted <= t1 for t0, t1 in windows
            ):
                continue
            group = job.jobGroup()
            if not group.isDefined() or group.get() not in self.groups:
                out.append(job.jobId())
        return sorted(out)


def _opt_time(opt) -> Optional[float]:
    """scala ``Option[java.util.Date]`` -> epoch seconds."""
    return opt.get().getTime() / 1e3 if opt.isDefined() else None


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


# -- process-level gauges ----------------------------------------------------


def persisted_frames(spark) -> int:
    """Number of RDDs the session currently holds persisted."""
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def cached_mb(spark) -> float:
    """MB of persisted RDD blocks the session holds in memory."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(infos[i].memSize() for i in range(len(infos))) / 2**20


def _children(pid: int) -> List[int]:
    """Child processes forked by any thread of ``pid``."""
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(p) for p in fh.read().split())
        except OSError:
            pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def peak_rss_mb() -> dict:
    """VmHWM in MB of this process (``driver``), of the JVMs below it
    (``jvm``) and of every other process below it, the Python workers
    (``workers``)."""
    me = os.getpid()
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    seen, todo = set(), [me]
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        kind = "driver" if pid == me else (
            "jvm" if _comm(pid) == "java" else "workers"
        )
        out[kind] += _hwm_kb(pid) / 1024.0
        todo.extend(_children(pid))
    return out
