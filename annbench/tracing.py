"""Per-call layer metrics read from outside the program.

Each timed public call runs under a job group of its own. After the call the
tracer reads that group's jobs, stages and tasks from Spark's status REST
API (stdlib ``urllib``), samples process-tree CPU around the call, and
attributes executor time to the package module whose code triggered each
job, from the stage's call site.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone
from statistics import median

from annbench.sysstat import tree_cpu_s

# call-site file -> layer; other package files are DiskANN's own helpers
_SITE = re.compile(r"pgvectorscale_spark/(?:operators/)?(\w+)\.py")
MODULES = ("similarity", "sbq", "knn", "diskann")


def module_of(call_site: str) -> str:
    """Layer a stage belongs to, from its call site; ``unattributed`` when no
    package frame triggered it (JVM-side writes, counts, broadcasts)."""
    m = _SITE.search(call_site or "")
    if m is None:
        return "unattributed"
    return m.group(1) if m.group(1) in MODULES else "diskann"


def _epoch(ts: str) -> float:
    # status API timestamps look like 2026-01-01T12:00:00.123GMT
    return datetime.strptime(ts[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(tzinfo=timezone.utc).timestamp()


def covered_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class SparkTracer:
    """Times calls under job groups and turns each group's REST records into
    per-call metrics. Create one per SparkSession."""

    def __init__(self, spark, timeout_s: float = 30.0):
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        self.timeout_s = timeout_s
        self._n = 0

    def _get(self, rel: str):
        with urllib.request.urlopen(f"{self.base}/{rel}", timeout=self.timeout_s) as r:
            return json.load(r)

    @contextmanager
    def call(self, name: str, out: dict):
        """Run the body as one traced call; fills ``out`` with its metrics."""
        self._n += 1
        group = f"annbench-{self._n}-{name}"
        self.sc.setJobGroup(group, name)
        cpu0, t0 = tree_cpu_s(), time.time()
        try:
            yield out
        finally:
            t1, cpu1 = time.time(), tree_cpu_s()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        out.update(wall_s=t1 - t0, cpu_s=cpu1 - cpu0)
        out.update(self._group_metrics(group, t0, t1))

    def _group_jobs(self, group: str) -> list[dict]:
        """The group's jobs once the status store has recorded all of them."""
        deadline = time.time() + self.timeout_s
        while True:
            expected = set(self.sc.statusTracker().getJobIdsForGroup(group))
            jobs = [j for j in self._get("jobs") if j.get("jobGroup") == group]
            done = {j["jobId"] for j in jobs if j["status"] != "RUNNING"}
            if expected <= done or time.time() > deadline:
                return jobs
            time.sleep(0.05)

    def _group_metrics(self, group: str, t0: float, t1: float) -> dict:
        jobs = self._group_jobs(group)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in self._get("stages?details=false")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        durations: list[float] = []
        intervals = []
        by_module = dict.fromkeys((*MODULES, "unattributed"), 0.0)
        for s in stages:
            tasks = self._get(
                f"stages/{s['stageId']}/{s['attemptId']}/taskList?length=1000000"
            )
            durations.extend(t["duration"] / 1000.0 for t in tasks if "duration" in t)
            if "submissionTime" in s and "completionTime" in s:
                intervals.append((_epoch(s["submissionTime"]), _epoch(s["completionTime"])))
            by_module[module_of(s.get("name", ""))] += s["executorRunTime"] / 1000.0
        med = median(durations) if durations else 0.0
        # a search call's shard probe is its last stage that writes shuffle
        # output: the candidates feeding the top-k window. It runs one task
        # per shard block.
        writers = [s for s in stages if s["shuffleWriteBytes"] > 0]
        probe = max(writers, key=lambda s: s["stageId"], default=None)
        return {
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_run_s": sum(by_module.values()),
            "driver_s": (t1 - t0) - covered_s(intervals, t0, t1),
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / 1e6,
            "spill_mb": sum(s["diskBytesSpilled"] for s in stages) / 1e6,
            "task_skew": max(durations) / med if med > 0 else 0.0,
            "probe_tasks": probe["numCompleteTasks"] if probe else 0,
            "modules": by_module,
        }
