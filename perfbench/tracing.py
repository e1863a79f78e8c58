"""Spark job accounting for the traced run.

Every call the benchmark makes into a layer can run under its own Spark job
group; afterwards the group's jobs, stages and tasks are counted through
``SparkContext.statusTracker()`` and their executor run time and shuffle
bytes read from the JVM status store. All reads happen after the timed
region; inside it only the job group is set.
"""

from __future__ import annotations

from collections import defaultdict


class JobAccounting:
    """Counts what Spark ran for a job group or a set of job ids."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._jsc = self.sc._jsc.sc()

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    def drain(self) -> None:
        """Wait until the status store has seen every finished event."""
        self._jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.tracker.getJobIdsForGroup(group))

    def batch_jobs(self, run_id: str) -> dict[int, list[int]]:
        """Micro-batch id -> ids of the jobs it ran, from the batch number
        streaming writes into every job description of a run."""
        out: dict[int, list[int]] = defaultdict(list)
        jobs = self._jsc.statusStore().jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            desc = job.description()
            text = desc.get() if desc.isDefined() else ""
            if f"runId = {run_id}" not in text or "batch = " not in text:
                continue
            out[int(text.rsplit("batch = ", 1)[1].split()[0])].append(job.jobId())
        return out

    def cost(self, job_ids: list[int]) -> dict[str, float]:
        """jobs, stages run, tasks run, failed tasks, executor run ms and
        shuffle bytes written, summed over the jobs."""
        store = self._jsc.statusStore()
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "run_ms": 0.0, "shuffle_bytes": 0}
        for sid in stage_ids:
            info = self.tracker.getStageInfo(sid)
            if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                continue  # skipped: its output was reused
            out["stages"] += 1
            out["tasks"] += info.numCompletedTasks
            out["failed_tasks"] += info.numFailedTasks
            data = store.lastStageAttempt(sid)
            out["run_ms"] += data.executorRunTime()
            out["shuffle_bytes"] += data.shuffleWriteBytes()
        return out
