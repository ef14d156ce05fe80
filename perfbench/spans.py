"""Spans, Spark job groups and per-group stage metrics for the traced run.

A span records (name, start, end, parent) in memory. While a span is open,
every Spark job the benchmark triggers carries the span's name as its job
group, so the stage metrics the UI/REST server keeps can be summed per
layer afterwards. The untraced run opens no spans.
"""

from __future__ import annotations

import json
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

#: extra session conf of the traced run; the untraced run keeps the shipped
#: ``spark.ui.enabled=false``
TRACE_CONF = {
    "spark.ui.enabled": "true",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

MB = 1024 * 1024


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter() - self.t0}
        self._stack.append(name)
        self._set_group(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(rec)

    def _set_group(self, name: str | None) -> None:
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(name, name)

    def wall(self, name: str) -> float:
        """Summed seconds of every closed span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


class StageMetrics:
    """Stage metrics of the live application, summed per job group, read
    from the REST API of the traced run's UI server."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def collect(self, timeout_s: float = 20.0) -> dict[str, dict]:
        """{group: {jobs, tasks, task_cpu_s, run_s, gc_s, shuffle_write_mb,
        spill_mb}} for every job group seen so far. Waits until the status
        store has caught up with every finished job."""
        deadline = time.perf_counter() + timeout_s
        while True:
            jobs = self._get("/jobs")
            stages = self._get("/stages")
            busy = any(j["status"] == "RUNNING" for j in jobs) or any(
                s["status"] == "ACTIVE" for s in stages
            )
            if not busy or time.perf_counter() > deadline:
                break
            time.sleep(0.5)
        group_of: dict[int, str] = {}
        out: dict[str, dict] = defaultdict(
            lambda: {"jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
                     "run_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
        )
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            g = j.get("jobGroup") or "(none)"
            out[g]["jobs"] += 1
            for sid in j["stageIds"]:
                group_of.setdefault(sid, g)
        for s in stages:
            g = group_of.get(s["stageId"], "(none)")
            m = out[g]
            m["tasks"] += s.get("numCompleteTasks", 0)
            m["task_cpu_s"] += s.get("executorCpuTime", 0) / 1e9
            m["run_s"] += s.get("executorRunTime", 0) / 1e3
            m["gc_s"] += s.get("jvmGcTime", 0) / 1e3
            m["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) / MB
            m["spill_mb"] += (s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)) / MB
        return dict(out)

    def storage_mb(self) -> float:
        """Memory + disk held by persisted blocks right now."""
        rdds = self._get("/storage/rdd")
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / MB


def sum_groups(groups: dict[str, dict], names, key: str) -> float:
    return sum(groups.get(n, {}).get(key, 0) for n in names)
