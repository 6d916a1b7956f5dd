"""Spans and per-call counters for the FPM benchmark, read from outside
the engine.

Every public engine call the benchmark times runs inside
:meth:`Tracer.call`. Untraced, that is only a wall clock. Traced, the
call also runs under its own Spark job group, and on exit the tracer
reads Spark's status store (jobs, stages, tasks, executor run/CPU/GC
time, shuffle bytes) and ``/proc`` (CPU time of the Python workers)
for exactly that call. Spans are kept in memory and written out when
the run ends.
"""

from __future__ import annotations

import glob
import os
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# Spark's MLlib FP-growth builds its conditional trees map-side in the
# stage with this call site; the stage reading that shuffle mines.
_MLLIB_TREE_STAGE = "flatMap at FPGrowth.scala"


def _descendants(root: int) -> list[int]:
    """PIDs of every live process below ``root`` (the JVM and the
    Python daemon and workers it forks)."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for children in glob.glob(f"/proc/{pid}/task/*/children"):
            try:
                with open(children) as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:  # the process or thread has exited
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def _read_stat(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    head, tail = stat.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def python_worker_cpu_s() -> float:
    """CPU seconds of this process's Python descendants (the PySpark
    daemon, its live workers, and workers it has reaped)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _descendants(os.getpid()):
        st = _read_stat(pid)
        if st is None or not st[0].startswith("python"):
            continue
        utime, stime, cutime, cstime = (int(x) for x in st[1][11:15])
        total += utime + stime + cutime + cstime
    return total / tick


def host_cpu_shares(before: list[int], after: list[int]) -> dict:
    """Steal and iowait as shares of all CPU time between two
    ``/proc/stat`` samples."""
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta) or 1
    return {"iowait_share": delta[4] / total, "steal_share": delta[7] / total}


def proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class Tracer:
    """Times calls; when ``traced``, also attributes Spark work to them."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[dict] = []
        self._t0 = time.perf_counter()
        self._seq = 0
        self._stack: list[tuple[str, str]] = []  # (job group, name) of open spans

    @contextmanager
    def call(self, name: str, iteration: int | str, mine: str | None = None):
        """Span one public call. ``mine`` names the mining stage to
        profile per task: ``"pfp"`` (the engine's PFP kernel) or
        ``"mllib"``. Yields the span dict; callers may add counts."""
        self._seq += 1
        gid = f"fpmbench-{self._seq}"
        span = {"id": self._seq, "name": name, "iteration": iteration,
                "parent": self._stack[-1][0] if self._stack else None, "group": gid}
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(gid, name)
            cpu0 = python_worker_cpu_s()
        self._stack.append((gid, name))
        start = time.perf_counter()
        try:
            yield span
        finally:
            end = time.perf_counter()
            self._stack.pop()
            span["start"] = start - self._t0
            span["end"] = end - self._t0
            span["wall_s"] = end - start
            if self.traced:
                # Work after this call belongs to the enclosing span.
                if self._stack:
                    sc.setJobGroup(*self._stack[-1])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                span["python_cpu_s"] = python_worker_cpu_s() - cpu0
                span.update(self._spark_stats(gid, mine))
            self.spans.append(span)

    def plan_phases(self, df) -> dict:
        """Catalyst phase times of a DataFrame this benchmark forced."""
        if not self.traced:
            return {}
        phases = df._jdf.queryExecution().tracker().phases()
        out = {}
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            out[f"plan.{phase}_ms"] = p.get().durationMs() if p.isDefined() else 0
        return out

    def _spark_stats(self, gid: str, mine: str | None) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        # Status-store updates arrive through the listener bus; drain it
        # so the call's last stages are recorded before reading them.
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        job_ids = sorted(tracker.getJobIdsForGroup(gid))
        stages = []  # (job, StageData) of stages that ran
        for j in job_ids:
            info = tracker.getJobInfo(j)
            for s in sorted(info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(s)
                except Py4JJavaError:  # the stage was never submitted
                    continue
                if sd.status().toString() == "COMPLETE":
                    stages.append((j, sd))
        stats = {
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks": sum(sd.numCompleteTasks() for _, sd in stages),
            "executor_run_ms": sum(sd.executorRunTime() for _, sd in stages),
            "executor_cpu_ms": sum(sd.executorCpuTime() for _, sd in stages) / 1e6,
            "gc_ms": sum(sd.jvmGcTime() for _, sd in stages),
            "shuffle_write_bytes": sum(sd.shuffleWriteBytes() for _, sd in stages),
        }
        mine_sd = None
        if mine == "pfp":
            # The kernel pins its mining stage to 4·groups tasks, the
            # widest stage of the call that reads a shuffle.
            reading = [sd for _, sd in stages if sd.shuffleReadRecords() > 0]
            if reading:
                mine_sd = max(reading, key=lambda sd: (sd.numTasks(), sd.executorRunTime()))
        elif mine == "mllib":
            tree_jobs = {j for j, sd in stages if sd.name().startswith(_MLLIB_TREE_STAGE)}
            after = [sd for j, sd in stages if j in tree_jobs
                     and not sd.name().startswith(_MLLIB_TREE_STAGE)
                     and sd.shuffleReadRecords() > 0]
            if after:
                mine_sd = after[0]
        if mine_sd is not None:
            stats["mine"] = self._task_profile(store, mine_sd)
        return stats

    def _task_profile(self, store, sd) -> dict:
        tasks = store.taskList(sd.stageId(), sd.attemptId(), 100_000)
        runs, nonempty = [], []
        for i in range(tasks.size()):
            metrics = _opt(tasks.apply(i).taskMetrics())
            if metrics is None:
                continue
            run = metrics.executorRunTime()
            runs.append(run)
            if metrics.shuffleReadMetrics().recordsRead() > 0:
                nonempty.append(run)
        submitted = _opt(sd.submissionTime())
        completed = _opt(sd.completionTime())
        wall_ms = (completed.getTime() - submitted.getTime()) if submitted and completed else 0
        slots = self.spark.sparkContext.defaultParallelism
        busy = nonempty or [0]
        return {
            "stage_id": sd.stageId(),
            "tasks": len(runs),
            "tasks_nonempty": len(nonempty),
            "task_p50_ms": statistics.median(busy),
            "task_max_ms": max(busy),
            "stage_wall_ms": wall_ms,
            "busy_share": sum(runs) / (slots * wall_ms) if wall_ms else 0.0,
            "shuffle_read_records": sd.shuffleReadRecords(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
        }
