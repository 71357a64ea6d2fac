"""Readings taken from outside the program: the kernel's CPU and memory
counters, and Spark's own status store.

The status store keeps only ``spark.ui.retainedJobs`` jobs and
``spark.ui.retainedStages`` stages (1000 each by default), so callers
read a call's or a pass's jobs as soon as it ends.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

#: the counters summed over a set of jobs, each also a per-pass
#: ``spark.*`` metric of traced runs
COUNTERS = (
    "jobs", "stages", "skipped_stages", "tasks", "executor_run_ms",
    "executor_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user and nice
    return fields[7], sum(fields[:8])


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (``VmHWM``) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


@dataclass
class JobSummary:
    """Counters summed over a set of Spark jobs, plus each job's
    submission-to-completion interval in epoch milliseconds."""

    counts: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    intervals: list = field(default_factory=list)
    #: jobs the status store no longer held when they were read
    evicted: int = 0


class StatusStore:
    """Job and stage counters from the SparkContext's status store, which
    exists with the UI off."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()

    def next_job_id(self) -> int:
        """The id the next submitted job will get; the difference of two
        readings counts the jobs run in between, with no job group."""
        return int(self._dag.nextJobId())

    def group_job_ids(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def summarize(self, job_ids) -> JobSummary:
        # the store is fed by the listener bus, which can lag the action
        # that just returned; read only once the bus has caught up
        self._bus.waitUntilEmpty(60_000)
        out = JobSummary()
        seen_stages = set()
        for jid in job_ids:
            try:
                job = self._store.job(jid)
            except Py4JJavaError:
                out.evicted += 1
                continue
            out.counts["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append(
                    (sub.get().getTime(), done.get().getTime())
                )
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid not in seen_stages:
                    seen_stages.add(sid)
                    self._add_stage(out.counts, sid)
        return out

    def _add_stage(self, counts: dict, sid: int) -> None:
        counts["stages"] += 1
        try:
            st = self._store.lastStageAttempt(sid)
        except Py4JJavaError:
            # a stage that never ran has no attempt to read
            counts["skipped_stages"] += 1
            return
        if st.status().toString() == "SKIPPED":
            counts["skipped_stages"] += 1
            return
        counts["tasks"] += st.numTasks()
        counts["executor_run_ms"] += st.executorRunTime()
        counts["executor_cpu_ms"] += st.executorCpuTime() / 1e6
        counts["gc_ms"] += st.jvmGcTime()
        counts["shuffle_read_bytes"] += st.shuffleReadBytes()
        counts["shuffle_write_bytes"] += st.shuffleWriteBytes()


def covered_ms(intervals, start_ms: float, end_ms: float) -> float:
    """Length of the part of [start_ms, end_ms] that the union of
    ``intervals`` covers."""
    total, cursor = 0.0, start_ms
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end_ms)
        if b > a:
            total += b - a
            cursor = b
    return total


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())
