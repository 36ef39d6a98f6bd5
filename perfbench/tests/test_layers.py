"""Metric math of the benchmark on canned Spark UI REST records; no Spark.

Run: python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers as L  # noqa: E402

T0 = 1_700_000_000.0  # 2023-11-14T22:13:20Z


def ts(offset_s: float) -> str:
    from datetime import datetime, timezone

    dt = datetime.fromtimestamp(T0 + offset_s, tz=timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{dt.microsecond // 1000:03d}GMT"


def test_parse_time_round_trips_rest_format():
    assert L.parse_time(ts(1.25)) == pytest.approx(T0 + 1.25)


def test_percentile_needs_ten_samples_beyond():
    assert L.supported_percentile(100) == 0.90
    assert L.supported_percentile(1000) == 0.99
    assert L.supported_percentile(250) == 0.96
    assert L.supported_percentile(99) == 0.89
    assert L.supported_percentile(20) == 0.50
    assert L.supported_percentile(19) is None


def test_quantile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert L.quantile(xs, 0.5) == 2.5
    assert L.quantile(xs, 0.9) == pytest.approx(3.7)
    assert L.quantile([7.0], 0.9) == 7.0
    with pytest.raises(ValueError):
        L.quantile([], 0.5)


def test_driver_time_is_wall_minus_union_of_stages():
    stages = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0), (-2.0, -1.0)]
    # window [0, 10]: stages cover [1,4] + [6,7] + [9.5,10] = 4.5 s
    assert L.driver_time(0.0, 10.0, stages) == pytest.approx(5.5)
    assert L.driver_time(0.0, 10.0, []) == 10.0


def test_union_length_merges_nested_and_touching():
    assert L.union_length([(0, 10), (2, 3), (10, 12)]) == 12
    assert L.union_length([(5, 1)]) == 0


def test_self_time_is_span_minus_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "parent": 1, "start": 1.5, "end": 2.0},
    ]
    own = L.self_times(spans)
    assert own[0] == pytest.approx(5.0)  # children cover [1, 6]
    assert own[1] == pytest.approx(2.5)  # grandchild does not count twice
    assert own[2] == pytest.approx(3.0)
    assert own[3] == pytest.approx(0.5)


def test_parse_metric_formats():
    assert L.parse_metric("8,630") == 8630
    assert L.parse_metric("215.5 KiB") == 215.5 * 1024
    assert L.parse_metric("811 ms") == pytest.approx(0.811)
    assert L.parse_metric("6.8 s") == 6.8
    per_task = "total (min, med, max (stageId: taskId))\n1.2 s (0.1 s, 0.3 s, 0.5 s (stage 3.0: task 7))"
    assert L.parse_metric(per_task) == 1.2
    with pytest.raises(ValueError):
        L.parse_metric("n/a")


def _plan(path):
    return (
        "== Physical Plan ==\nAdaptiveSparkPlan (9)\n...\n\n"
        "(8) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
        f"Arguments: file:{path}, false, [cell_id#1], Parquet, [], Overwrite\n\n"
        "(9) AdaptiveSparkPlan\n"
    )


def _write_node(rows, files, size):
    return {"nodeName": "Execute InsertIntoHadoopFsRelationCommand", "metrics": [
        {"name": "number of output rows", "value": rows},
        {"name": "number of written files", "value": files},
        {"name": "written output", "value": size},
    ]}


# one traced finalize: the daily and packed writes run on pool threads, so
# their jobs carry no job group; a read query runs under its span's group
EXECUTIONS = [
    {"id": 1, "submissionTime": ts(0), "successJobIds": [10, 11],
     "planDescription": _plan("/w/wh/t_hourly/data/batch_id=0"),
     "nodes": [{"nodeName": "Generate", "metrics": [
         {"name": "number of output rows", "value": "455,415"}]},
         _write_node("8,630", "64", "215.5 KiB")]},
    {"id": 2, "submissionTime": ts(3), "successJobIds": [12],
     "planDescription": _plan("/w/wh/t_daily/data"),
     "nodes": [_write_node("4,248", "69", "185.2 KiB")]},
    {"id": 3, "submissionTime": ts(3), "successJobIds": [13, 14],
     "planDescription": _plan("/w/wh/t_packed/data"),
     "nodes": [{"nodeName": "ArrowEvalPython", "metrics": [
         {"name": "time to run Python workers", "value": "481 ms"},
         {"name": "data sent to Python workers", "value": "1.0 MiB"}]},
         {"nodeName": "ArrowEvalPython", "metrics": [
             {"name": "time to run Python workers", "value": "19 ms"}]},
         _write_node("4,089", "69", "394.7 KiB")]},
    {"id": 4, "submissionTime": ts(6), "successJobIds": [15],
     "planDescription": "== Physical Plan ==\nScan parquet\n", "nodes": []},
]
JOBS = [
    {"jobId": 10, "jobGroup": "r:1:TierPipeline.run", "stageIds": [20, 21]},
    {"jobId": 11, "jobGroup": "r:1:TierPipeline.run", "stageIds": [21, 22]},
    {"jobId": 12, "jobGroup": None, "stageIds": [23, 24]},
    {"jobId": 13, "jobGroup": None, "stageIds": [25]},
    {"jobId": 14, "jobGroup": None, "stageIds": [25, 26]},
    {"jobId": 15, "jobGroup": "r:2:gap_fill", "stageIds": [27]},
    {"jobId": 16, "jobGroup": "r:1:TierPipeline.run", "stageIds": [28]},
]
STAGES = [
    {"stageId": i, "executorRunTime": 1000 * (i - 19), "executorCpuTime": 5e8,
     "shuffleWriteBytes": 1024 * 1024, "shuffleWriteRecords": 10}
    for i in range(20, 29)
]
GROUPS = {"r:1:TierPipeline.run": "pipeline", "r:2:gap_fill": "gapfill"}


def test_write_target_reads_the_write_node_arguments():
    assert L.write_target(EXECUTIONS[1]["planDescription"]) == "file:/w/wh/t_daily/data"
    assert L.write_target(EXECUTIONS[3]["planDescription"]) is None
    assert L.layer_of_path("file:/w/wh/t_hourly/data/batch_id=3") == "rollup.hourly"
    assert L.layer_of_path("file:/w/wh/t_hourly__compacting/data") is None


def test_attribution_by_write_path_and_job_group():
    by = L.attribute(EXECUTIONS, JOBS, STAGES, GROUPS)
    ids = {k: sorted(s["stageId"] for s in v["stages"]) for k, v in by.items()}
    # the pool-thread jobs (no group) follow their execution's write path
    assert ids["rollup.daily"] == [23, 24]
    assert ids["encode"] == [25, 26]
    # a write execution wins over its job group
    assert ids["rollup.hourly"] == [20, 21, 22]
    # jobs outside any execution, and reads, follow their job group
    assert ids["pipeline"] == [28]
    assert ids["gapfill"] == [27]
    assert [j["jobId"] for j in by["encode"]["jobs"]] == [13, 14]
    assert L.stage_totals(by["encode"]["stages"])["task_s"] == 13.0


def test_node_metrics_sum_over_nodes():
    arrow = L.node_metrics(EXECUTIONS[2], "ArrowEvalPython")
    assert arrow["time to run Python workers"] == pytest.approx(0.5)
    assert arrow["data sent to Python workers"] == 1024 * 1024
    gen = L.node_metrics(EXECUTIONS[0], "Generate")
    assert gen["number of output rows"] == 455415
    write = L.node_metrics(EXECUTIONS[1], "Execute InsertIntoHadoopFsRelationCommand")
    assert write["number of written files"] == 69


def test_write_stage_is_last_stage_of_last_job():
    assert L.write_stage_ids(EXECUTIONS[2], JOBS) == [26]
    assert L.write_stage_ids(EXECUTIONS[0], JOBS) == [22]
    assert L.write_stage_ids({"successJobIds": [99]}, JOBS) == []


def test_task_skew():
    assert L.task_skew([100, 100, 400]) == 4.0
    assert L.task_skew([50]) == 1.0
    assert L.task_skew([]) == 0.0


def test_stage_interval_prefers_first_task_launch():
    st = {"submissionTime": ts(0), "firstTaskLaunchedTime": ts(0.5),
          "completionTime": ts(2)}
    lo, hi = L.stage_interval(st)
    assert (lo - T0, hi - T0) == pytest.approx((0.5, 2.0))
    assert L.stage_interval({"submissionTime": ts(0)}) is None


def test_benchmark_json_names_every_emitted_metric():
    import json

    import run
    from workloads import PER_LAYER

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == PER_LAYER
    unit = {"unit_s": 2.0, "points_per_s": 50.0, "queries_ms": [1.0, 3.0],
            "bytes_per_point": 1.5, "errors": [], "peak_rss": 2**30}
    e2e = run.e2e_metrics(
        [unit, None, dict(unit, unit_s=4.0, points_per_s=30.0, peak_rss=2**32),
         dict(unit, unit_s=3.0, points_per_s=40.0, peak_rss=2**31)], 9.0)
    assert {k: v["unit"] for k, v in e2e.items()} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e["wall_s"]["value"] == 3.0
    assert e2e["tokens_per_s"]["value"] == 40.0
    # the median of the units' peaks, not the run's maximum
    assert e2e["peak_rss_mb"]["value"] == 2048


def test_docset_closed_forms_follow_retention():
    import numpy as np

    from gen import DocSet

    # 150 tokens: hours 0-2; 60 tokens: hour 0 only
    ds = DocSet(["a", "b"], [np.arange(150, dtype=np.int32),
                             np.ones(60, dtype=np.int32)], {"a": 1, "b": 1})
    assert ds.cell_totals() == {1: (210, sum(range(150)) + 60)}
    assert ds.hourly_rows(1) == 4
    assert ds.dense_rows(1) == 2 * 3
    assert ds.colloc_rows(1) == 2
    kept = ds.expired(2)  # drops hours 0 and 1: b entirely, a's first 120
    assert kept.cell_totals() == {1: (30, sum(range(120, 150)))}
    assert kept.hourly_rows() == 1 and kept.dense_rows(1) == 1
    assert ds.hourly_rows() - kept.hourly_rows() == 3
