"""Per-job-group Spark counters read from the driver's own status store.

Every traced phase runs under its own job group
(``SparkContext.setJobGroup``). After the phase, ``read_group`` waits for
the listener bus to drain and sums the counters of that group's jobs and
stages from ``sc.statusTracker()`` and the JVM ``AppStatusStore``
(``sc._jsc.sc().statusStore()``). Reading per group, right after the
phase, keeps the figures exact however many jobs the run has issued: the
store keeps only ``spark.ui.retainedJobs``/``retainedStages`` entries
(1000 by default), so pass-level deltas of global totals wrap once a run
goes past that.

Nothing here needs the UI or a network port; the store is the in-process
one that ``statusTracker`` already reads.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields


@dataclass
class GroupCounters:
    """Counters of the Spark jobs one job group ran."""

    jobs: int = 0
    stages: int = 0  # stages that ran (skipped stages excluded)
    tasks: int = 0
    task_s: float = 0.0  # summed executor run time
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0  # memory + disk bytes spilled
    input_bytes: int = 0
    output_bytes: int = 0
    # (submission, completion) of every job, epoch seconds
    intervals: list[tuple[float, float]] = field(default_factory=list)

    def add(self, other: "GroupCounters") -> None:
        for f in fields(self):
            if f.name == "intervals":
                self.intervals.extend(other.intervals)
            else:
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class StatusReader:
    """Reads ``GroupCounters`` for job groups of one SparkContext."""

    def __init__(self, sc):
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        # py4j cannot use Scala default arguments: Spark 4.1's
        # stageData(stageId, details, taskStatus, withSummaries,
        # unsortedQuantiles) must get all five.
        self._no_status = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def drain(self) -> None:
        """Block until the listener bus has delivered every event so far,
        so the store holds the final metrics of finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def read_group(self, group: str) -> GroupCounters:
        self.drain()
        out = GroupCounters()
        seen_stages: set[int] = set()
        for job_id in self._tracker.getJobIdsForGroup(group):
            out.jobs += 1
            job = self._store.job(job_id)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            info = self._tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else []:
                if stage_id in seen_stages:
                    continue
                seen_stages.add(stage_id)
                attempts = self._store.stageData(
                    int(stage_id), False, self._no_status, False, self._no_quantiles
                )
                for i in range(attempts.size()):
                    self._add_stage(out, attempts.apply(i))
        return out

    @staticmethod
    def _add_stage(out: GroupCounters, sd) -> None:
        if sd.status().toString() == "SKIPPED":
            return
        out.stages += 1
        out.tasks += sd.numCompleteTasks() + sd.numFailedTasks()
        out.task_s += sd.executorRunTime() / 1e3
        out.shuffle_write_bytes += sd.shuffleWriteBytes()
        out.shuffle_read_bytes += sd.shuffleReadBytes()
        out.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out.input_bytes += sd.inputBytes()
        out.output_bytes += sd.outputBytes()
