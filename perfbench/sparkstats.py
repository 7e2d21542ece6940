"""Read what Spark did from outside the program.

- :class:`StatusReader` reads job and stage metrics from the driver's
  status store, which Spark keeps with the UI disabled. A pass's jobs
  are those with ids above the last one seen before it; the benchmark
  runs one thing at a time, so this is exact. Within a traced pass the
  job group the benchmark sets around each call tells build-time jobs
  from action-time ones; jobs a streaming query runs on its own thread
  carry that query's group instead.
- :func:`plan_stats` reads Catalyst phase times and exchange counts from a
  DataFrame's query execution.
- :class:`ProgressListener` records streaming micro-batch progress.

Failures are never read from log text: the benign ``Failed to update
accumulator ... (Unknown class)`` ERROR lines that some queries log
are not failures. An operation fails only if it raises or its output
differs from the expected value.
"""

from __future__ import annotations

import re
import threading
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Job:
    id: int
    group: str | None
    stage_ids: list[int]


@dataclass
class StageTotals:
    """Summed metrics of the stages that ran for a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem_bytes: int = 0  # a high-water mark: max, not sum


def _option(opt):
    return opt.get() if opt.isDefined() else None


class StatusReader:
    """Job and stage metrics of one SparkContext's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._empty = gw.jvm.java.util.ArrayList()
        self._quantiles = gw.new_array(gw.jvm.double, 0)
        self._stage_cache: dict[int, list[tuple]] = {}

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())),
                   default=-1)

    def jobs_after(self, job_id: int) -> list[Job]:
        """Jobs with an id above ``job_id``."""
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= job_id:
                continue
            seq = j.stageIds()
            out.append(Job(jid, _option(j.jobGroup()),
                           [seq.apply(k) for k in range(seq.size())]))
        return sorted(out, key=lambda job: job.id)

    def _stage_rows(self, wanted: set[int]) -> dict[int, list[tuple]]:
        """Metric rows of each attempt of the ``wanted`` stages. Read
        after the jobs have ended, so a row never changes once read."""
        missing = wanted - self._stage_cache.keys()
        if missing:
            stages = self._store.stageList(self._empty, False, False,
                                           self._quantiles, self._empty)
            for i in range(stages.size()):
                s = stages.apply(i)
                sid = s.stageId()
                if sid not in missing:
                    continue
                self._stage_cache.setdefault(sid, []).append((
                    s.status().toString(), s.numCompleteTasks(),
                    s.executorRunTime(), s.executorCpuTime() / 1e6,
                    s.jvmGcTime(), s.shuffleWriteBytes(),
                    s.shuffleReadBytes(),
                    s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    s.peakExecutionMemory()))
        return {sid: self._stage_cache.get(sid, []) for sid in wanted}

    def totals(self, jobs: list[Job]) -> StageTotals:
        """Sum the stage metrics of ``jobs``; skipped stages add nothing."""
        out = StageTotals(jobs=len(jobs))
        wanted = {sid for job in jobs for sid in job.stage_ids}
        for rows in self._stage_rows(wanted).values():
            for (status, tasks, run_ms, cpu_ms, gc_ms, sw, sr, spill,
                 peak) in rows:
                if status == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += tasks
                out.run_ms += run_ms
                out.cpu_ms += cpu_ms
                out.gc_ms += gc_ms
                out.shuffle_write_bytes += sw
                out.shuffle_read_bytes += sr
                out.spill_bytes += spill
                out.peak_exec_mem_bytes = max(out.peak_exec_mem_bytes, peak)
        return out


_NODE = r"^[\s:|+\-*]*"
_EXCHANGE = re.compile(_NODE + r"(?:Exchange|BroadcastExchange)\b", re.M)


def plan_stats(df) -> dict[str, float]:
    """Catalyst phase time and exchange count of ``df``'s physical plan.

    Forces the plan of ``df``'s own query execution (not the one a
    write wraps around it), so call it outside any timed region.
    Exchanges are counted in the initial adaptive plan.
    """
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    it = phases.iterator()
    catalyst_ms = 0
    while it.hasNext():
        catalyst_ms += it.next()._2().durationMs()
    return {
        "catalyst_ms": catalyst_ms,
        "exchanges": len(_EXCHANGE.findall(plan)),
    }


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Collects per-batch progress of every streaming query it sees."""

    def __init__(self):
        self._started: dict[str, float] = {}
        self._ended: set[str] = set()
        self._batches: list[dict] = []
        self._cond = threading.Condition()

    def onQueryStarted(self, event):
        with self._cond:
            self._started[str(event.runId)] = _epoch(event.timestamp)

    def onQueryProgress(self, event):
        p = event.progress
        row = {"run_id": str(p.runId), "batch_id": p.batchId,
               "start": _epoch(p.timestamp),
               "duration_ms": dict(p.durationMs)}
        with self._cond:
            self._batches.append(row)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self._ended.add(str(event.runId))
            self._cond.notify_all()

    def take(self, since: float, timeout: float = 30.0) -> list[dict]:
        """Batches of the queries started at or after ``since`` (epoch
        seconds), once all of them have terminated; forgets everything
        seen so far. Listener events arrive asynchronously, after
        ``awaitTermination`` has returned."""
        def runs():
            return {r for r, t in self._started.items() if t >= since}

        with self._cond:
            if not self._cond.wait_for(
                    lambda: runs() and runs() <= self._ended, timeout=timeout):
                raise TimeoutError("streaming listener events did not arrive")
            mine = runs()
            out = [b for b in self._batches if b["run_id"] in mine]
            self._started.clear()
            self._ended.clear()
            self._batches.clear()
            return out
