"""Reader for Spark's own status store (``AppStatusStore``).

Everything the benchmark reports about Spark work — jobs, stages, tasks,
executor run time, shuffle bytes written — comes from the store the
driver keeps whether or not the UI is enabled. Reads are by id only:
``store.job(id)`` and ``store.lastStageAttempt(id)`` are key lookups,
so the cost of a read grows with the jobs of the window being read, never
with the jobs the session has run before it (a scan of the whole job
list made pass time creep with every pass).

Job ids are dense and increase per SparkContext, so a window is the range
of job ids between two calls of :meth:`StatusStore.window`. A job's new
stages have ids above every stage id allocated before the job was
submitted; stages below the window's floor are shuffle outputs reused
from earlier windows (skipped, no tasks) and are not counted again.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class StageStat:
    stage_id: int
    tasks: int
    run_ms: int
    shuffle_write_bytes: int


@dataclass
class JobStat:
    job_id: int
    group: str | None
    stages: list[StageStat] = field(default_factory=list)


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0

    def add(self, job: JobStat) -> None:
        self.jobs += 1
        for s in job.stages:
            self.stages += 1
            self.tasks += s.tasks
            self.task_s += s.run_ms / 1000.0
            self.shuffle_bytes += s.shuffle_write_bytes


class StatusStore:
    """Windows of jobs read from one SparkContext's status store.

    ``window()`` drains the listener bus, reads every job submitted since
    the previous call and returns them; call it once to open a window and
    once to close it."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._next_job = 0
        self._stage_floor = 0

    def _job(self, job_id: int) -> JobStat | None:
        try:
            data = self._store.job(job_id)
        except Py4JJavaError:  # NoSuchElementException: not submitted yet
            return None
        group = data.jobGroup().toString()  # "Some(g)" or "None"
        ids = data.stageIds().mkString(",")
        job = JobStat(job_id, group[5:-1] if group.startswith("Some(")
                      else None)
        for sid in sorted(int(s) for s in ids.split(",") if s):
            if sid < self._stage_floor:
                continue  # reused output of an earlier window
            stage = self._store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            job.stages.append(StageStat(sid, stage.numCompleteTasks(),
                                        stage.executorRunTime(),
                                        stage.shuffleWriteBytes()))
        return job

    def window(self) -> list[JobStat]:
        """Every job submitted since the previous call, in id order. A
        stage shared by several jobs of the window is credited to the
        first of them."""
        self._bus.waitUntilEmpty()
        jobs: list[JobStat] = []
        seen: set[int] = set()
        top = self._stage_floor
        while True:
            job = self._job(self._next_job)
            if job is None:
                break
            job.stages = [s for s in job.stages if s.stage_id not in seen]
            seen.update(s.stage_id for s in job.stages)
            top = max([top] + [s.stage_id + 1 for s in job.stages])
            jobs.append(job)
            self._next_job += 1
        self._stage_floor = top
        return jobs


def totals(jobs: list[JobStat]) -> Totals:
    out = Totals()
    for j in jobs:
        out.add(j)
    return out
