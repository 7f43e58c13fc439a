"""Spark counters read from outside the program, by job-id window.

An operation's jobs are those whose ids fall between the scheduler's
next job id before and after it. This catches jobs started from helper
threads (overlapped holds, streaming) that job groups would miss. Per
job, the counters of the last attempt of each of its stages are summed
from the application status store, which is kept even with the UI off.
"""

from __future__ import annotations

COUNTERS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "shuffle_bytes", "spill_bytes")


def _ms(opt) -> int | None:
    return int(opt.get().getTime()) if opt.isDefined() else None


def _union_s(spans: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of (start, end) millisecond spans."""
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


class SparkStats:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def drain(self) -> None:
        """Wait until the listener has seen every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def window(self, lo: int, hi: int) -> dict[str, float]:
        """Summed counters of jobs ``lo <= id < hi`` (call ``drain`` first),
        plus ``stage_wall_s``: the wall time during which at least one of
        their stages had tasks running."""
        store = self._sc.statusStore()
        out = dict.fromkeys(COUNTERS, 0.0)
        running: list[tuple[int, int]] = []
        for job_id in range(lo, hi):
            try:
                stage_ids = store.job(job_id).stageIds()
            except Exception:  # noqa: BLE001 — job evicted or never registered
                continue
            out["jobs"] += 1
            for i in range(stage_ids.size()):
                try:
                    st = store.lastStageAttempt(stage_ids.apply(i))
                except Exception:  # noqa: BLE001 — stage never attempted
                    continue
                if st.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["task_run_s"] += st.executorRunTime() / 1e3
                out["task_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                start, end = _ms(st.firstTaskLaunchedTime()), _ms(st.completionTime())
                if start is not None and end is not None:
                    running.append((start, end))
        out["stage_wall_s"] = _union_s(running)
        return out

    def held_bytes(self) -> int:
        """Bytes of persisted and checkpointed blocks, memory plus disk."""
        return sum(int(i.memSize()) + int(i.diskSize()) for i in self._sc.getRDDStorageInfo())
