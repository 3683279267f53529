"""In-memory spans and Spark job statistics for the traced run.

A span records name, start, end, parent span and op id; attributes carry
the per-job Spark counters. Spans are appended under a lock (the serve
workload records from client and server threads) and written out once,
when the run ends.

Spark work is attributed per op through job groups: the caller tags the
submitting thread with ``spark_group(...)`` and, after the op, reads
every job of that group back from the status store
(``statusTracker().getJobIdsForGroup`` → ``statusStore().job`` /
``lastStageAttempt``). The status store is kept with the UI disabled, so
no listener jar is needed.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass, field
from typing import Any, Iterator

from py4j.protocol import Py4JJavaError

# Stage counters summed per job (status-store field → span attribute).
_STAGE_COUNTERS = (
    ("numTasks", "tasks"),
    ("executorRunTime", "executor_run_ms"),
    ("executorCpuTime", "executor_cpu_ns"),
    ("jvmGcTime", "gc_ms"),
    ("inputBytes", "input_bytes"),
    ("shuffleReadBytes", "shuffle_read_bytes"),
    ("shuffleWriteBytes", "shuffle_write_bytes"),
    ("diskBytesSpilled", "spill_bytes"),
)


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _ms(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds, or None."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    """Span recorder. With ``enabled`` false every call is a no-op, so
    the untraced path pays nothing but an attribute test."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self.local = threading.local()  # .op, .parent on the current thread

    def _add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs) -> Iterator[dict]:
        """Record one span around the block; the yielded dict becomes its
        attributes, so the block can add counters it measured."""
        if not self.enabled:
            yield attrs
            return
        op = op if op is not None else getattr(self.local, "op", None)
        parent = getattr(self.local, "parent", None)
        sid = next(self._ids)
        prev = (getattr(self.local, "op", None), parent)
        self.local.op, self.local.parent = op, sid
        start = time.time()
        try:
            yield attrs
        finally:
            end = time.time()
            self.local.op, self.local.parent = prev
            self._add(Span(sid, name, op, parent, start, end, attrs))

    @contextlib.contextmanager
    def spark_group(self) -> Iterator[None]:
        """Tag the Spark jobs the block submits from this thread, then
        record one span per job (child of the enclosing span)."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._ids)}"
        op, parent = getattr(self.local, "op", None), getattr(self.local, "parent", None)
        sc.setJobGroup(group, f"perfbench op {op}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            for job in self._jobs(group):
                self._add(Span(next(self._ids), "spark.job", op, parent,
                               job.pop("start"), job.pop("end"), job))

    def _jobs(self, group: str) -> list[dict]:
        sc = self.spark.sparkContext
        status = sc._jsc.sc().statusStore()
        out = []
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            jd = status.job(jid)
            start, end = _ms(jd.submissionTime()), _ms(jd.completionTime())
            if start is None or end is None:
                continue
            rec: dict[str, Any] = {"start": start, "end": end, "job_id": jid,
                                   "stages": 0, "stages_skipped": 0,
                                   "stage_wait_s": 0.0}
            rec.update({name: 0 for _, name in _STAGE_COUNTERS})
            stage_ids = jd.stageIds()
            for i in range(stage_ids.size()):
                try:
                    sd = status.lastStageAttempt(stage_ids.apply(i))
                except Py4JJavaError:  # stage already evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    rec["stages_skipped"] += 1
                    continue
                rec["stages"] += 1
                for src, name in _STAGE_COUNTERS:
                    rec[name] += getattr(sd, src)()
                sub, first = _ms(sd.submissionTime()), _ms(sd.firstTaskLaunchedTime())
                if sub is not None and first is not None:
                    rec["stage_wait_s"] += max(0.0, first - sub)
            out.append(rec)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)

    def children(self) -> dict[int | None, list[Span]]:
        kids: dict[int | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        return kids
