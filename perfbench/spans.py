"""Span recorder for ``--trace 1`` runs, and /proc readers.

One span per layer call made from the benchmark: name, start, end, parent
span and request id, plus the Spark jobs and tasks it ran (each span runs
under its own job group; jobs submitted from the engine's own worker
threads carry no group and are attributed to the span they ran inside),
and the CPU seconds the JVM and the driver spent inside it. Spans stay in
memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """utime + stime of one process, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM (per-process RSS high-water mark) over ``root_pid`` and
    all its descendants: the driver, the JVM it launched and the JVM's
    Python workers."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children[ppid].append(int(name))
    total_kb, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class Tracer:
    """Records spans when enabled; ``span`` is a no-op context otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._jvm_pid: int | None = None
        self._claimed: set[int] = set()  # ungrouped jobs already attributed
        self.overhead_s = 0.0  # time spent recording, inside traced spans

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def jvm_cpu_s(self) -> float:
        return proc_cpu_s(self._jvm_pid) if self._jvm_pid else 0.0

    @contextmanager
    def span(self, name: str, rid: str | None = None):
        if not self.enabled:
            yield
            return
        t_enter = time.perf_counter()
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent]["rid"]
        rec = {"id": sid, "name": name, "parent": parent, "rid": rid}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self._sc
        if sc is not None:
            sc.setJobGroup(f"perfbench-{sid}", name)
            before = set(sc.statusTracker().getJobIdsForGroup(None))
        jvm0, py0 = self.jvm_cpu_s(), time.process_time()
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_enter
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            rec["jvm_cpu_s"] = self.jvm_cpu_s() - jvm0
            rec["py_cpu_s"] = time.process_time() - py0
            self._stack.pop()
            if sc is not None:
                self._count_jobs(rec, sid, before)
                if parent is not None:
                    sc.setJobGroup(f"perfbench-{parent}", self.spans[parent]["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            self.overhead_s += time.perf_counter() - rec["end"]

    def _count_jobs(self, rec: dict, sid: int, before: set[int]) -> None:
        """Jobs of the span's own group, plus ungrouped jobs that started
        inside it and no inner span has claimed (inner spans end first)."""
        tracker = self._sc.statusTracker()
        ids = set(tracker.getJobIdsForGroup(f"perfbench-{sid}"))
        new = set(tracker.getJobIdsForGroup(None)) - before - self._claimed
        self._claimed |= new
        ids |= new
        tasks = 0
        for jid in ids:
            job = tracker.getJobInfo(jid)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                tasks += stage.numTasks if stage else 0
        rec["jobs"] = len(ids)
        rec["tasks"] = tasks

    def self_times(self) -> dict[str, dict[str, float]]:
        """Per span name: count, total and self seconds (self = duration
        minus the time its child spans cover), jobs and tasks."""
        child_s = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            row = out.setdefault(
                s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0, "jobs": 0, "tasks": 0}
            )
            dur = s["end"] - s["start"]
            row["count"] += 1
            row["total_s"] += dur
            row["self_s"] += dur - child_s[s["id"]]
            row["jobs"] += s.get("jobs", 0)
            row["tasks"] += s.get("tasks", 0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
