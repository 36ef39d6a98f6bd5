"""Metric math for the benchmark, kept free of Spark so it is testable on
canned REST JSON.

* percentiles, and the rule for which percentile a sample supports;
* interval unions: driver time is wall time minus the union of the stage
  intervals inside it, and a span's self time is its duration minus the
  union of its children;
* attribution of Spark UI REST records (``/jobs``, ``/stages``, ``/sql``)
  to engine layers.  Jobs started from ``TierPipeline.finalize``'s thread
  pool carry no job group, so SQL executions are attributed by the tier
  table their write command targets, and jobs and stages follow their
  execution.
"""

from __future__ import annotations

import re
import statistics
from datetime import datetime, timezone

MB = 1024 * 1024


# ---------------------------------------------------------------- samples
def quantile(values: list, q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest percentile (as a fraction, in whole percent) with at least
    ``beyond`` of ``n`` samples above it; None when even the median
    lacks them."""
    for pct in range(99, 49, -1):
        if n * (100 - pct) >= beyond * 100:
            return pct / 100
    return None


# -------------------------------------------------------------- intervals
def union_length(intervals: list, lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals`` [(start, end)], clipped to
    [lo, hi] when given."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_time(start: float, end: float, stage_intervals: list) -> float:
    """Wall time of [start, end] during which no stage ran: planning,
    collects, listing and commits on the driver."""
    return (end - start) - union_length(stage_intervals, start, end)


def self_times(spans: list) -> dict:
    """span id -> duration minus the union of its direct children."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_length(kids.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


# -------------------------------------------------------- REST parsing
_UNITS = {
    "B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": 1024 * 1024 * MB,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
}


def parse_metric(value: str) -> float:
    """A SQL node metric string as a number: rows ('8,630'), bytes in B
    ('215.5 KiB'), times in s ('811 ms', '6.8 s').  Per-task metrics read
    'total (min, med, max ...)\\n<total> (<min>, ...)': the total is
    taken."""
    lines = value.strip().splitlines()
    text = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = re.match(r"\s*([-\d,.]+)\s*([A-Za-z]*)", text)
    if not m:
        raise ValueError(f"unparsable metric {value!r}")
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2), 1.0)


def parse_time(ts: str) -> float:
    """'2026-10-16T17:29:07.643GMT' -> epoch seconds."""
    dt = datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


# the write node's detail block: "(14) Execute InsertIntoHadoopFs...
# \nInput: []\nArguments: file:/.../t_daily/data, false, ..."
_WRITE = re.compile(
    r"Execute InsertIntoHadoopFsRelationCommand\n(?:Input.*\n)?Arguments: ([^,\s]+)"
)


def write_target(plan: str) -> str | None:
    m = _WRITE.search(plan or "")
    return m.group(1) if m else None


# tier table suffix -> layer of the execution that writes it
_TIER_LAYERS = (
    ("_hourly/data", "rollup.hourly"),
    ("_daily/data", "rollup.daily"),
    ("_packed/data", "encode"),
)


def layer_of_path(path: str | None) -> str | None:
    for suffix, layer in _TIER_LAYERS:
        if path and (path.rstrip("/").endswith(suffix) or suffix + "/" in path):
            return layer
    return None


def node_metrics(execution: dict, node_name: str) -> dict:
    """Summed metrics of every node named ``node_name`` in an execution."""
    out: dict = {}
    for n in execution.get("nodes", []):
        if n.get("nodeName") != node_name:
            continue
        for m in n.get("metrics", []):
            try:
                out[m["name"]] = out.get(m["name"], 0.0) + parse_metric(m["value"])
            except ValueError:
                continue
    return out


def stage_interval(stage: dict) -> tuple | None:
    s = stage.get("firstTaskLaunchedTime") or stage.get("submissionTime")
    e = stage.get("completionTime")
    return (parse_time(s), parse_time(e)) if s and e else None


def attribute(executions: list, jobs: list, stages: list,
              group_layers: dict) -> dict:
    """Layer -> {"executions", "jobs", "stages"} lists.

    An execution writing a tier table belongs to that tier's layer; any
    other execution, and any job outside an execution, belongs to the
    layer its job group maps to in ``group_layers`` (job group -> layer),
    else to "other".  Stages follow their job."""
    job_by_id = {j["jobId"]: j for j in jobs}
    out: dict = {}

    def bucket(layer):
        return out.setdefault(layer, {"executions": [], "jobs": [], "stages": []})

    job_layer = {}
    for ex in executions:
        ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
               + ex.get("runningJobIds", []))
        layer = layer_of_path(write_target(ex.get("planDescription")))
        if layer is None:
            groups = {job_by_id[i].get("jobGroup") for i in ids if i in job_by_id}
            layer = next((group_layers[g] for g in groups if g in group_layers),
                         "other")
        bucket(layer)["executions"].append(ex)
        for i in ids:
            job_layer[i] = layer
    for j in jobs:
        layer = job_layer.get(j["jobId"]) or group_layers.get(j.get("jobGroup"), "other")
        bucket(layer)["jobs"].append(j)
    stage_layer = {
        sid: job_layer.get(j["jobId"]) or group_layers.get(j.get("jobGroup"), "other")
        for j in jobs for sid in j.get("stageIds", [])
    }
    for st in stages:
        if st["stageId"] in stage_layer:
            bucket(stage_layer[st["stageId"]])["stages"].append(st)
    return out


def stage_totals(stages: list) -> dict:
    """Summed task metrics of ``stages`` in seconds and MB."""
    def tot(k):
        return sum(s.get(k, 0) or 0 for s in stages)

    return {
        "task_s": tot("executorRunTime") / 1e3,
        "cpu_s": tot("executorCpuTime") / 1e9,
        "gc_s": tot("jvmGcTime") / 1e3,
        "shuffle_mb": tot("shuffleWriteBytes") / MB,
        "shuffle_records": tot("shuffleWriteRecords"),
        "spill_mb": (tot("memoryBytesSpilled") + tot("diskBytesSpilled")) / MB,
    }


def write_stage_ids(execution: dict, jobs: list) -> list:
    """The stage running each write command: the last stage of the last
    job of a write execution (AQE runs the write as its final job)."""
    ids = set(execution.get("successJobIds", []))
    last = [j for j in jobs if j["jobId"] in ids]
    if not last:
        return []
    job = max(last, key=lambda j: j["jobId"])
    return [max(job["stageIds"])] if job.get("stageIds") else []


def task_skew(durations: list) -> float:
    """Slowest task over the median task; 1.0 for a single task."""
    if not durations:
        return 0.0
    med = statistics.median(durations)
    return max(durations) / med if med > 0 else 0.0
