"""Measurement probes: process-tree CPU, driver peak RSS, Spark counters
and per-layer spans.

Nothing here reaches inside ``etl_cotrip_signs_spark``: spans wrap calls
into the program's public functions, and Spark counters come from the
scheduler's id counters and the status store.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, float] | None:
    """(parent pid, CPU seconds of the process and its reaped children)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended while the tree was read
        return None
    # fields[1] is ppid; [11:15] are utime, stime, cutime, cstime
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _CLK_TCK


def process_tree() -> dict[int, float]:
    """This process and all its descendants (the Python driver, the Spark
    JVM and the Python workers it forks), each with its CPU seconds."""
    stats = {pid: s for pid in os.listdir("/proc") if pid.isdigit() and (s := _stat(pid))}
    children = defaultdict(list)
    for pid, (ppid, _) in stats.items():
        children[str(ppid)].append(pid)
    tree, todo = {}, [str(os.getpid())]
    while todo:
        pid = todo.pop()
        if pid in stats:
            tree[int(pid)] = stats[pid][1]
        todo += children[pid]
    return tree


def tree_cpu_s() -> float:
    return sum(process_tree().values())


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot. Steal is time the
    hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def reset_peak_rss() -> None:
    """Restart the driver's peak-RSS counter (Linux clear_refs, value 5)."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc/self/status")


@dataclass
class SparkWork:
    """Spark work done between two marks."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    task_run_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


class SparkCounters:
    """Counts jobs and stages from the scheduler's id ranges and sums the
    status store's per-stage metrics over a stage-id range.

    The status store keeps only the newest ``spark.ui.retainedStages``
    (1000) stages, so its list size is not a count; it is read right after
    each range closes, while the range's stages are still retained.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        dag = self._sc.dagScheduler()
        return dag.nextJobId(), dag.nextStageId()

    def since(self, start: tuple[int, int]) -> SparkWork:
        end = self.mark()
        self._sc.listenerBus().waitUntilEmpty()
        work = SparkWork(jobs=end[0] - start[0], stages=end[1] - start[1])
        stages = self._sc.statusStore().stageList(None, False, False, self._no_quantiles, None)
        for i in range(stages.size()):  # newest first
            s = stages.apply(i)
            if s.stageId() >= end[1]:
                continue
            if s.stageId() < start[1]:
                break
            work.tasks += s.numCompleteTasks()
            work.task_cpu_s += s.executorCpuTime() / 1e9
            work.task_run_s += s.executorRunTime() / 1e3
            work.shuffle_write_mb += s.shuffleWriteBytes() / 1e6
            work.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
        return work


class Tracer:
    """Spans around calls into the program's layers. Each span records its
    wall time and the Spark work done inside it; counts are added by name.
    A disabled tracer's spans run the body and record nothing."""

    def __init__(self, counters: SparkCounters | None):
        self.counters = counters
        self.spans: dict[str, tuple[float, SparkWork]] = {}
        self.counts: dict[str, float] = {}

    @property
    def on(self) -> bool:
        return self.counters is not None

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        mark = self.counters.mark()
        t0 = time.perf_counter()
        yield
        wall = time.perf_counter() - t0
        self.spans[name] = (wall, self.counters.since(mark))

    def count(self, name: str, value: float) -> None:
        if self.on:
            self.counts[name] = value
