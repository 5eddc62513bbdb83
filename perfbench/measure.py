"""Measurement helpers for the dedup benchmark.

- `SparkStatus` reads per-job-group numbers from Spark's in-process
  status store (works with the UI disabled).
- `tree_cpu_s` / `tree_peak_rss_mb` read /proc for this process and
  every descendant: the driver, the JVM it launched and the JVM's
  Python workers.
- `fingerprint` is the order-insensitive output hash the correctness
  gate compares.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """/proc/<pid>/stat fields from field 3 (state) on; None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def process_tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def running(pid: int) -> bool:
    """Whether `pid` exists and has not yet exited (zombies have)."""
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def tree_cpu_s() -> float:
    """User+system CPU seconds of the process tree, including children
    that already exited and were reaped inside the tree."""
    ticks = 0
    for pid in process_tree():
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(x) for x in fields[11:15])  # utime..cstime
    return ticks / _CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM)."""
    kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def fingerprint(df, cols: list[str] | None = None) -> int | None:
    """bit_xor(xxhash64(cols...)) over all rows: order-insensitive."""
    from pyspark.sql import functions as F

    cols = cols or df.columns
    return df.agg(F.bit_xor(F.xxhash64(*cols)).alias("fp")).collect()[0]["fp"]


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest nearest-rank percentile with at
    least ten samples above it; the maximum (percentile 100) when there
    are ten samples or fewer."""
    ordered = sorted(values)
    rank = len(ordered) - 10
    if rank < 1:
        return ordered[-1], 100.0
    return ordered[rank - 1], 100.0 * rank / len(ordered)


@dataclass
class GroupStats:
    """Spark work attributed to one job group."""

    jobs: int = 0
    stages: int = 0          # stage attempts that ran (skipped ones excluded)
    task_s: float = 0.0      # summed executorRunTime
    shuffle_bytes: int = 0   # shuffle read + write
    input_bytes: int = 0
    output_bytes: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    def job_covered_s(self) -> float:
        """Seconds covered by the union of the jobs' run intervals."""
        covered, end = 0.0, float("-inf")
        for start, stop in sorted(self.job_intervals):
            if stop > end:
                covered += stop - max(start, end)
                end = stop
        return covered


class SparkStatus:
    """Reads the in-process status store of a live SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        # the store's records go over py4j as one JSON string each read:
        # a py4j round trip per field of every job and stage takes seconds
        scala = getattr(self._jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "MODULE$"))

    def _records(self, seq) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(seq))

    def set_group(self, group: str) -> None:
        self._sc.setJobGroup(group, group)

    def read(self, groups: list[str]) -> dict[str, GroupStats]:
        """Per job group, the sum over every job of that group."""
        # the listener bus is asynchronous: drain it so finished jobs
        # and stages are in the store before reading
        self._bus.waitUntilEmpty()
        out = {g: GroupStats() for g in groups}
        owners: dict[int, set[str]] = {}
        for job in self._records(self._store.jobsList(self._jvm.java.util.ArrayList())):
            group = job.get("jobGroup")
            if group not in out:
                continue
            out[group].jobs += 1
            for stage_id in job["stageIds"]:
                owners.setdefault(stage_id, set()).add(group)
            if job.get("submissionTime") and job.get("completionTime"):
                out[group].job_intervals.append((job["submissionTime"] / 1000.0,
                                                 job["completionTime"] / 1000.0))
        if not owners:
            return out
        # the five-argument form: py4j cannot fill in Scala defaults, and
        # None for the list arguments fails on the JVM side
        statuses = self._jvm.java.util.ArrayList()
        status_enum = self._jvm.org.apache.spark.status.api.v1.StageStatus
        statuses.add(status_enum.COMPLETE)
        statuses.add(status_enum.FAILED)
        stages = self._store.stageList(
            statuses, False, False,
            self._sc._gateway.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        )
        for stage in self._records(stages):
            for group in owners.get(stage["stageId"], ()):
                g = out[group]
                g.stages += 1
                g.task_s += stage["executorRunTime"] / 1000.0
                g.shuffle_bytes += stage["shuffleReadBytes"] + stage["shuffleWriteBytes"]
                g.input_bytes += stage["inputBytes"]
                g.output_bytes += stage["outputBytes"]
        return out
