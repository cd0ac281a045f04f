"""Read Spark's own accounting for the jobs an operation caused.

Everything here goes through py4j to the driver JVM's
``AppStatusStore`` (which Spark fills from its listener bus even with
``spark.ui.enabled=false``) and ``SparkContext.getRDDStorageInfo``.  No
engine code is involved: an operation is identified by the range of job
ids the DAG scheduler handed out while it ran.  The benchmark drives
the program from one client thread, so every job in that range belongs
to the operation, including jobs its own thread pools submitted.
"""

from __future__ import annotations

import time
from typing import Dict, List, Tuple

from py4j.protocol import Py4JError

#: stage states whose task metrics are final
_DONE_STAGES = ("COMPLETE", "FAILED")


class StatusStore:
    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def next_job_id(self) -> int:
        """Id the next submitted job will get; an operation's jobs are
        ``[next_job_id() before, next_job_id() after)``."""
        return int(self._sc.dagScheduler().nextJobId())

    def _caught_up(self, first: int, end: int) -> bool:
        for job_id in range(first, end):
            try:
                job = self._store.job(job_id)
            except Py4JError:  # not in the store yet
                return False
            if str(job.status()) == "RUNNING":
                return False
        return True

    def wait_for(self, first: int, end: int, timeout_s: float = 30.0) -> None:
        """Block until the listener bus has delivered the end of every
        job in ``[first, end)`` to the status store."""
        deadline = time.monotonic() + timeout_s
        while True:
            self._sc.listenerBus().waitUntilEmpty(int(timeout_s * 1000))
            if self._caught_up(first, end):
                return
            if time.monotonic() > deadline:
                raise TimeoutError(f"status store missed jobs {first}..{end}")
            time.sleep(0.01)

    def jobs(self, first: int, end: int) -> List[Dict]:
        """Per job: id, submit/complete epoch seconds, stage ids."""
        out = []
        for job_id in range(first, end):
            job = self._store.job(job_id)
            submitted, completed = job.submissionTime(), job.completionTime()
            stage_ids = job.stageIds()
            out.append({
                "job_id": job_id,
                "start": submitted.get().getTime() / 1e3,
                "end": completed.get().getTime() / 1e3,
                "stage_ids": [int(stage_ids.apply(i))
                              for i in range(stage_ids.size())],
            })
        return out

    def profile(self, first: int, end: int) -> Tuple[Dict, List[Dict]]:
        """Totals over the stages that ran for jobs ``[first, end)``
        (skipped stages reuse earlier output and are not counted), and
        the job list."""
        self.wait_for(first, end)
        jobs = self.jobs(first, end)
        totals = {"jobs": len(jobs), "stages": 0, "tasks": 0,
                  "task_run_s": 0.0, "task_cpu_s": 0.0, "gc_s": 0.0,
                  "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                  "spill_bytes": 0}
        seen = set()
        for job in jobs:
            for stage_id in job["stage_ids"]:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                try:
                    stage = self._store.lastStageAttempt(stage_id)
                except Py4JError:  # skipped here, and gone with an older job
                    continue
                if str(stage.status()) not in _DONE_STAGES:
                    continue
                totals["stages"] += 1
                totals["tasks"] += int(stage.numCompleteTasks())
                totals["task_run_s"] += stage.executorRunTime() / 1e3
                totals["task_cpu_s"] += stage.executorCpuTime() / 1e9
                totals["gc_s"] += stage.jvmGcTime() / 1e3
                totals["shuffle_write_bytes"] += int(stage.shuffleWriteBytes())
                totals["shuffle_read_bytes"] += int(stage.shuffleReadBytes())
                totals["spill_bytes"] += int(stage.memoryBytesSpilled()
                                             + stage.diskBytesSpilled())
        return totals, jobs

    def storage_bytes(self) -> int:
        """Bytes of cached and checkpointed blocks held right now."""
        return sum(int(info.memSize() + info.diskSize())
                   for info in self._sc.getRDDStorageInfo())
