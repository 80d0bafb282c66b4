"""Process-tree and Spark status-store probes, plus the in-memory span
recorder the traced runs use.

Every probe reads state from outside the program: ``/proc`` for the
process tree (driver Python, the JVM, the Python workers the JVM forks)
and Spark's live status store for per-stage task metrics. The status
store is filled with ``spark.ui.enabled=false`` too.
"""

from __future__ import annotations

import os
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parens: split after the last ')'
    return raw.rsplit(")", 1)[1].split()


def process_tree(root: int | None = None) -> list[int]:
    """Pids of ``root`` (default: this process) and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live process tree, including the
    reaped children each process has waited for."""
    total = 0
    for pid in process_tree():
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_peak_rss_mb(by_command: bool = False) -> float | dict:
    """Sum over the live process tree of each process's peak resident
    set (``VmHWM``); with ``by_command``, one sum per command name."""
    kb: dict[str, int] = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                name = fh.readline().split()[1]
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb[name] = kb.get(name, 0) + int(line.split()[1])
                        break
        except OSError:
            continue
    if by_command:
        return {k: v / 1024.0 for k, v in kb.items()}
    return sum(kb.values()) / 1024.0


def host_steal_s() -> float:
    """Cumulative hypervisor steal of the whole host, in CPU seconds."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()
    return int(parts[8]) / _CLK


def child_pids() -> list[int]:
    """Live descendants of this process."""
    return [p for p in process_tree() if p != os.getpid()]


def clear_job_group(spark) -> None:
    sc = spark.sparkContext
    for key in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(key, None)


class StageTotals:
    """Per-job-group sums of stage task metrics from the live status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self.store = self.sc._jsc.sc().statusStore()

    def drain(self) -> None:
        # listener events are applied asynchronously; wait until the
        # store holds every job that has already finished
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def totals(self, group: str) -> dict:
        self.drain()
        jobs = self.store.jobsList(self.jvm.java.util.ArrayList())
        stage_ids = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            if g.isDefined() and g.get() == group:
                ids = job.stageIds()
                stage_ids.update(ids.apply(k) for k in range(ids.size()))
        stages = self.store.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList(),
        )
        out = dict.fromkeys(
            ("run_s", "jvm_cpu_s", "shuffle_read_mb", "shuffle_write_mb",
             "spill_mb", "peak_exec_mb", "stages"), 0.0)
        mb = 1024.0 * 1024.0
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() not in stage_ids:
                continue
            out["stages"] += 1
            out["run_s"] += s.executorRunTime() / 1e3
            out["jvm_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += s.shuffleReadBytes() / mb
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
            out["peak_exec_mb"] = max(out["peak_exec_mb"], s.peakExecutionMemory() / mb)
        return out


class Tracer:
    """Spans kept in memory: name, start, end, parent and run id, plus the
    process-tree CPU and status-store totals of the jobs run inside.

    Each span runs its jobs under its own Spark job group, so the status
    store attributes every stage to exactly one span.
    """

    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.stages = StageTotals(spark)
        self.spans: list[dict] = []

    def span(self, name: str, parent: str | None = None) -> "_Span":
        return _Span(self, name, parent)


class _Span:
    def __init__(self, tracer: Tracer, name: str, parent: str | None):
        self.tracer = tracer
        self.rec = {"name": name, "parent": parent, "run": tracer.run_id}
        self.group = f"{tracer.run_id}/{name}/{len(tracer.spans)}"

    def __enter__(self) -> dict:
        sc = self.tracer.spark.sparkContext
        sc.setJobGroup(self.group, self.group)
        self.cpu0 = tree_cpu_s()
        self.rec["start"] = time.perf_counter()
        return self.rec

    def __exit__(self, *exc) -> None:
        self.rec["end"] = time.perf_counter()
        self.rec["wall_s"] = self.rec["end"] - self.rec["start"]
        self.rec["cpu_s"] = tree_cpu_s() - self.cpu0
        clear_job_group(self.tracer.spark)
        self.rec.update(self.tracer.stages.totals(self.group))
        self.tracer.spans.append(self.rec)
