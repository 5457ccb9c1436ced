"""Tracing for the benchmark's traced run.

``Tracer`` records spans (name, layer, start, end, parent, operation id)
around the benchmark's calls into each layer, holds them in memory and
writes them out once at the end.  ``SparkProbe`` reads the engine's own
counters through public or read-only APIs: the StatusTracker for jobs,
stages and tasks of a job group, the codegen compile counter, the
persisted-RDD table, and the event log for task CPU, run, GC, shuffle and
spill.  ``peak_rss_gb`` reads peak resident memory from ``/proc``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "layer": layer,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_seconds(self) -> dict[str, float]:
        """Per layer: span durations minus the time their child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - c
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")

    @contextlib.contextmanager
    def split_collect(self, layer: str):
        """While active, every ``DataFrame.collect()`` the program makes
        first forces its own ``executedPlan`` (a ``plan`` span), then runs
        (an ``exec`` span).  ``collect`` executes the Dataset's own
        QueryExecution, so the plan is made once, as without tracing.
        Yields the seconds of both, summed over the calls."""
        seconds = {"plan": 0.0, "exec": 0.0}
        if not self.enabled:
            yield seconds
            return
        from pyspark.sql.classic.dataframe import DataFrame

        original = DataFrame.collect

        def collect(df):
            t0 = time.perf_counter()
            with self.span("plan", layer):
                df._jdf.queryExecution().executedPlan()
            t1 = time.perf_counter()
            with self.span("exec", layer):
                rows = original(df)
            seconds["plan"] += t1 - t0
            seconds["exec"] += time.perf_counter() - t1
            return rows

        DataFrame.collect = collect
        try:
            yield seconds
        finally:
            DataFrame.collect = original


class SparkProbe:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.jvm = spark._jvm
        self.grouped = False

    def set_group(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description)
        self.grouped = True

    def clear_group(self) -> None:
        if self.grouped:
            self.sc._jsc.clearJobGroup()
            self.grouped = False

    def jobs_stages_tasks(self, group: str) -> tuple[int, int, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages: set[int] = set()
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return len(jobs), len(stages), tasks

    def codegen_compiles(self) -> int:
        metrics = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        return int(metrics.METRIC_COMPILATION_TIME().getCount())

    def persisted_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())


def event_log_totals(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Sum task metrics of every job in one of ``groups`` from the
    uncompressed event log(s) under ``log_dir``."""
    stage_in_group: set[int] = set()
    totals = {"cpu_s": 0.0, "run_s": 0.0, "gc_s": 0.0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    # Spark writes a rolling directory eventlog_v2_<app>/events_<n>_<app>.
    for path in sorted(glob.glob(os.path.join(log_dir, "*", "events_*"))):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") in groups:
                        stage_in_group.update(ev.get("Stage IDs", []))
                elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_in_group:
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics") or {}
                    wr = m.get("Shuffle Write Metrics") or {}
                    totals["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    totals["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    totals["shuffle_mb"] += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    ) / 2**20
                    totals["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    return totals


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (FileNotFoundError, ProcessLookupError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def peak_rss_gb(jvm_pid: int) -> float:
    """Peak resident memory of the Spark driver JVM, its Python workers and this
    process, each read from its ``VmHWM``."""
    pids = [os.getpid(), jvm_pid, *children(jvm_pid)]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 2**20
