"""Counters read from the Spark driver: jobs and tasks per job group,
JVM GC time, and the JVM's peak resident set size."""

from __future__ import annotations


class SparkCounters:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.groups: set[str] = set()

    def tag(self, group: str) -> None:
        """Put the calling thread's next Spark jobs in ``group``."""
        self.groups.add(group)
        self.sc.setJobGroup(group, group)

    def job_ids(self, group: str) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(group))

    def all_job_ids(self) -> set[int]:
        out: set[int] = set()
        for g in self.groups:
            out |= self.job_ids(g)
        return out

    def tasks(self, job_ids) -> int:
        n = 0
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    n += st.numCompletedTasks
        return n

    def gc_ms(self) -> int:
        beans = (self.sc._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return int(sum(b.getCollectionTime() for b in beans))

    def jvm_peak_rss_mb(self) -> float:
        pid = self.sc._gateway.proc.pid
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")
