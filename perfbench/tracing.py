"""Tracing for the per-layer run: spans around the benchmark's own calls into
each module, engine counters read from outside the program.

- Each span tags its Spark jobs with its own job group, so job, stage, task
  and failed-task counts come from ``statusTracker`` after the call.
- Streaming durations come from a ``StreamingQueryListener``.
- Spans (name, start, end, parent, op id) stay in memory and are written
  once, by :meth:`Tracer.dump`, when the run ends.

With tracing off, :class:`Tracer` records nothing and sets no job groups.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    op_id: str
    parent: str | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seq = 0

    @contextmanager
    def span(self, name: str, op_id: str, parent: str | None = None):
        """Time the body; with tracing on, give its jobs their own group and
        read their counters back from the status tracker afterwards."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"pb-{self._seq}-{name}"
        sc.setJobGroup(group, f"{op_id} {name}")
        sp = Span(name, op_id, parent, time.perf_counter())
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._count_jobs(sp, group)
            self.spans.append(sp)

    def _count_jobs(self, sp: Span, group: str) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            sp.jobs += 1
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is None:
                    continue
                sp.stages += 1
                sp.tasks += st.numTasks
                sp.failed_tasks += st.numFailedTasks

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "name": s.name, "op_id": s.op_id, "parent": s.parent,
                    "start": s.start, "end": s.end, "jobs": s.jobs,
                    "stages": s.stages, "tasks": s.tasks,
                    "failed_tasks": s.failed_tasks}) + "\n")


class StreamProgress(StreamingQueryListener):
    """Collects every micro-batch's ``durationMs`` and counts terminated
    queries, so the caller can wait until a finished query's last events
    have been delivered (the listener bus is asynchronous)."""

    def __init__(self):
        self.batches: list[dict] = []
        self.terminated = 0
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cv:
            self.batches.append({"batch_id": p.batchId,
                                 "rows": p.numInputRows,
                                 **{k: int(v) for k, v in p.durationMs.items()}})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self.terminated += 1
            self._cv.notify_all()

    def wait_terminated(self, n: int, timeout: float = 10.0) -> None:
        with self._cv:
            self._cv.wait_for(lambda: self.terminated >= n, timeout)


def vm_hwm_mb(pid: int | str) -> float:
    """High-water resident set size of a process, from /proc, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


_TICKS = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this process
    and every live descendant: the driver, its JVM and the JVM's Python
    workers. Time stolen by other guests on a shared host is not CPU time,
    so this stays steady where wall time does not."""
    stats: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:  # exited while we looked
            continue
        f = s[s.rindex(")") + 2:].split()
        stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / _TICKS
