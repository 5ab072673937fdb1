"""Measurement plumbing: spans, Spark status-store counts, process-tree memory.

Spans are kept in memory as (name, start, end, parent) and written out
when the run ends.  Spark counts come from the Spark driver's status store,
keyed by the job group each timed call runs under; it works with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    """Spans (name, start, end, parent index, pass id) of the traced
    passes.  Each span's Spark jobs run under the job group
    ``<name>#<pass_id>``, so their counts can be read back."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.pass_id = 0
        self.spans: list[tuple[str, float, float, int | None, int]] = []
        self._stack: list[tuple[int, str]] = []

    def label(self, name: str) -> str:
        return f"{name}#{self.pass_id}"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1][0] if self._stack else None
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), float("nan"), parent, self.pass_id))
        self._stack.append((idx, self.label(name)))
        sc.setJobGroup(self._stack[-1][1], self._stack[-1][1])
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx] = (name, self.spans[idx][1], time.perf_counter(), parent, self.pass_id)
            if self._stack:
                sc.setJobGroup(self._stack[-1][1], self._stack[-1][1])
            else:
                clear_job_group(sc)

    def self_times(self, name: str) -> dict[int, float]:
        """pass id -> summed self time (duration minus child spans) of
        the spans called ``name`` in that pass."""
        child = [0.0] * len(self.spans)
        for _, start, end, parent, _ in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: dict[int, float] = {}
        for i, (n, start, end, _, pass_id) in enumerate(self.spans):
            if n == name:
                out[pass_id] = out.get(pass_id, 0.0) + end - start - child[i]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


@contextlib.contextmanager
def job_group(spark, label: str):
    """Run a block's Spark jobs under job group ``label``."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    try:
        yield
    finally:
        clear_job_group(sc)


def clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def spark_counts(spark, label: str, wall: tuple[float, float] | None = None) -> dict:
    """Jobs, stages and task totals of the jobs run under job group ``label``.

    ``wall`` is the (start, end) epoch-seconds interval of the call;
    ``sched_gap_s`` is the part of it no stage of the call covered.
    """
    sc = spark.sparkContext
    jobs = list(sc.statusTracker().getJobIdsForGroup(label))
    stage_ids = set()
    for j in jobs:
        info = sc.statusTracker().getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    jvm = spark._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        spark.sparkContext._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    out = {
        "jobs": len(jobs), "stages": 0, "tasks": 0, "task_run_s": 0.0,
        "task_cpu_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
        "input_records": 0, "stage_walls": [],
    }
    intervals = []
    for st in (stages.apply(i) for i in range(stages.size())):
        if st.stageId() not in stage_ids or st.status().toString() != "COMPLETE":
            continue
        out["stages"] += 1
        out["tasks"] += st.numCompleteTasks()
        out["task_run_s"] += st.executorRunTime() / 1e3
        out["task_cpu_s"] += st.executorCpuTime() / 1e9
        out["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 1e6
        out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        out["input_records"] += st.inputRecords()
        sub, done = st.submissionTime(), st.completionTime()
        if sub.isDefined() and done.isDefined():
            iv = (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
            intervals.append(iv)
            out["stage_walls"].append((st.numTasks(), iv[1] - iv[0], st.executorRunTime() / 1e3))
    if wall is not None:
        out["sched_gap_s"] = (wall[1] - wall[0]) - _covered(intervals, *wall)
    return out


def _covered(intervals, lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class MemSampler:
    """Peak summed proportional set size (PSS) of this process and all its
    descendants.  PSS splits a shared page among the processes mapping
    it, so Python workers forked from one daemon are not counted twice
    (summed RSS would swing with how many workers happen to be alive).
    Reading a process's PSS holds its memory-map lock for milliseconds,
    so samples are sparse."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_mb

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        total_kb = 0
        for pid in descendants(os.getpid()) | {os.getpid()}:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total_kb += int(line.split()[1])
                            break
            except (OSError, IndexError, ValueError):
                continue  # the process ended between listing and reading
        self.peak_mb = max(self.peak_mb, total_kb / 1e3)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants, including children they have already reaped.  Time the
    host steals from a virtual CPU is not charged, so on a shared box it
    moves far less than wall time does."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(os.getpid()) | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended between listing and reading
        fields = stat[stat.rindex(")") + 2 :].split()
        total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / tick


def descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out
