"""Spark's own counters for the jobs of one job group.

Every benchmarked operation runs under its own job group; after it returns
the group's jobs are looked up with ``statusTracker().getJobIdsForGroup``
and each stage's last attempt is read from the application status store,
which is kept even with the UI disabled.
"""

from __future__ import annotations

from contextlib import contextmanager
from dataclasses import dataclass, fields


@dataclass
class Counters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    executor_run_s: float = 0.0
    speculative_tasks: int = 0
    failed_tasks: int = 0

    def __add__(self, other: "Counters") -> "Counters":
        return Counters(
            *(getattr(self, f.name) + getattr(other, f.name) for f in fields(self))
        )


@contextmanager
def job_group(sc, group: str):
    """Run the body's Spark actions under ``group``; restores the caller's
    group afterwards, so groups nest."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    prev_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if prev is None:  # a null value removes the property
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev_desc or prev)


def counters(sc, group: str) -> Counters:
    """Counters of every job run under ``group`` so far. Waits for the
    listener bus to drain, so the last job's stage metrics are final."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = Counters()
    seen = set()
    for job_id in tracker.getJobIdsForGroup(group):
        out.jobs += 1
        info = tracker.getJobInfo(job_id)
        for sid in info.stageIds if info is not None else []:
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never attempted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numTasks()
            out.input_bytes += st.inputBytes()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.executor_run_s += st.executorRunTime() / 1000.0
            out.failed_tasks += st.numFailedTasks()
            attempts = st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
            if attempts > st.numTasks():
                tl = store.taskList(sid, st.attemptId(), attempts)
                out.speculative_tasks += sum(
                    1 for i in range(tl.size()) if tl.apply(i).speculative()
                )
    return out
