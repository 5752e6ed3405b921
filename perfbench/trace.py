"""Spans around the benchmark's calls into the package's layers.

Untraced runs use ``Tracer(None)``: every span is a no-op, so end-to-end
numbers carry no tracing cost. In the traced run each span also tags the
Spark jobs it starts with ``setJobGroup(<trace id>:<span name>)``, so two traced jobs of one
session keep their Spark jobs apart; afterwards
``group_metrics`` reads per-group task counts from ``StatusTracker`` and
stage metrics (run time, GC, shuffle bytes, task-time quantiles) from the
Spark REST API on localhost. Spans stay in memory until ``dump`` writes them.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse


class Tracer:
    def __init__(self, sc, trace_id: str = ""):
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list = []
        self._stack: list = []
        self._groups: dict = {}
        self._rest = None
        if sc is not None and sc.uiWebUrl:
            port = urlparse(sc.uiWebUrl).port
            self._rest = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(self._gid(name), name)
        self._stack.append(name)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(self._gid(parent), parent)
            self.spans.append(
                {"trace": self.trace_id, "name": name, "parent": parent,
                 "start": start, "end": end}
            )

    def _gid(self, name: str) -> str:
        return f"{self.trace_id}:{name}"

    def seconds(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    # ------------------------------------------------------------ Spark metrics
    def _get(self, path: str):
        with urllib.request.urlopen(self._rest + path, timeout=10) as r:
            return json.load(r)

    def _settled_jobs(self, job_ids: list) -> None:
        """Wait until the UI's listener has recorded every job as ended."""
        want = set(job_ids)
        deadline = time.monotonic() + 10
        while want and time.monotonic() < deadline:
            done = {
                j["jobId"] for j in self._get("/jobs")
                if j["jobId"] in want and j["status"] != "RUNNING"
            }
            if done == want:
                return
            time.sleep(0.1)

    def group_metrics(self, group: str) -> dict:
        """Task counts, executor run time, GC, shuffle writes and the task
        skew (slowest over median task run time in the group's busiest
        stage) of every Spark job tagged with ``group``; computed once."""
        if group not in self._groups:
            self._groups[group] = self._group_metrics(group)
        return self._groups[group]

    def _group_metrics(self, group: str) -> dict:
        st = self.sc.statusTracker()
        job_ids = list(st.getJobIdsForGroup(self._gid(group)))
        stage_ids = []
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stage_ids.extend(info.stageIds)
        out = {"jobs": len(job_ids), "tasks": 0, "failed_tasks": 0,
               "executor_run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
               "task_skew": 0.0}
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            if info is not None:
                out["tasks"] += info.numCompletedTasks + info.numFailedTasks
                out["failed_tasks"] += info.numFailedTasks
        if self._rest is None or not job_ids:
            return out
        self._settled_jobs(job_ids)
        busiest, busiest_ms = None, -1
        for sid in set(stage_ids):
            for att in self._get(f"/stages/{sid}"):
                if att["status"] == "SKIPPED":
                    continue
                out["executor_run_s"] += att["executorRunTime"] / 1000
                out["gc_s"] += att["jvmGcTime"] / 1000
                out["shuffle_write_bytes"] += att["shuffleWriteBytes"]
                if att["executorRunTime"] > busiest_ms:
                    busiest, busiest_ms = (sid, att["attemptId"]), att["executorRunTime"]
        if busiest is not None:
            q = self._get(
                f"/stages/{busiest[0]}/{busiest[1]}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            out["task_skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        return out



def dump(path: str, tracers: list) -> None:
    """Write the spans and group metrics of ``tracers`` to one file."""
    with open(path, "w") as f:
        json.dump({
            "spans": [s for t in tracers for s in t.spans],
            "groups": {t.trace_id: t._groups for t in tracers},
        }, f, indent=1)
