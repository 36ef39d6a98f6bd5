"""Spans around the benchmark's calls into the engine, and the Spark UI
REST records they are matched with.

A span records name, layer, start, end, parent and run id, and runs its
body under a Spark job group named after the span, so jobs started from
the calling thread can be attributed.  Spans stay in memory until the
benchmark writes them out at exit.  A disabled tracer records nothing and
sets no job group: the untraced measurement pays only a no-op context
manager per call.
"""

from __future__ import annotations

import contextlib
import json
import time
import urllib.request


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "run_id": self.run_id, "group": f"{self.run_id}:{sid}:{name}"}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is None:
                self.sc._jsc.clearJobGroup()  # no Python-side twin
            else:
                p = self.spans[parent]
                self.sc.setJobGroup(p["group"], p["name"])

    def group_layers(self) -> dict:
        return {s["group"]: s["layer"] for s in self.spans}

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def _settled(base: str, since: float, settle_s: float, sql: bool) -> tuple:
    """Jobs (and SQL executions, if ``sql``) submitted at or after
    ``since`` (epoch s), once the listener bus has marked them all
    finished (or after ``settle_s``)."""
    from layers import parse_time

    deadline = time.time() + settle_s
    while True:
        jobs = [j for j in _get(f"{base}/jobs")
                if parse_time(j["submissionTime"]) >= since]
        execs = [e for e in _get(
            f"{base}/sql?details=true&planDescription=true&length=100000")
            if parse_time(e["submissionTime"]) >= since] if sql else []
        busy = any(j["status"] == "RUNNING" for j in jobs) or any(
            e["status"] == "RUNNING" for e in execs)
        if not busy or time.time() > deadline:
            return jobs, execs
        time.sleep(0.2)


def _base(sc) -> str:
    return f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"


def _stages(base: str, jobs: list) -> list:
    wanted = {sid for j in jobs for sid in j.get("stageIds", [])}
    return [s for s in _get(f"{base}/stages?status=complete")
            if s["stageId"] in wanted]


def shuffle_write_bytes(sc, since: float, settle_s: float = 10.0) -> int:
    """Shuffle bytes the stages of jobs submitted since ``since`` wrote."""
    base = _base(sc)
    jobs, _ = _settled(base, since, settle_s, sql=False)
    return sum(s.get("shuffleWriteBytes", 0) for s in _stages(base, jobs))


def fetch_rest(sc, since: float, settle_s: float = 10.0) -> dict:
    """Jobs, stages (with task durations) and SQL executions submitted at
    or after ``since`` (epoch s), from the live UI's REST API."""
    base = _base(sc)
    jobs, sql = _settled(base, since, settle_s, sql=True)
    stages = _stages(base, jobs)
    for s in stages:
        tasks = _get(f"{base}/stages/{s['stageId']}/{s['attemptId']}"
                     "/taskList?length=100000")
        s["taskRunTimes"] = [
            t["taskMetrics"]["executorRunTime"] for t in tasks
            if t.get("taskMetrics")
        ]
    rdds = _get(f"{base}/storage/rdd")
    return {"jobs": jobs, "stages": stages, "sql": sql, "rdds": rdds}
