"""Warehouse.read (parquet twin, current state) is pinned to the table's
last commit: repeat reads reuse the planned DataFrame, every commit
re-plans, and a table without a sidecar is never pinned."""

import time
import uuid

from repurpose_spark.plans.compaction import compact_table
from repurpose_spark.plans.retention import expire_tier
from repurpose_spark.sources.tables import Warehouse


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched).  A marker job in a second
    group runs after fn: the status store handles job events in order, so
    once the marker shows up, every job of fn has too."""
    sc = spark.sparkContext
    group, marker = f"pin-{uuid.uuid4()}", f"pin-{uuid.uuid4()}"
    sc.setJobGroup(group, "pinned read test")
    try:
        out = fn()
        sc.setJobGroup(marker, "pinned read test marker")
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.05)
    return out, len(tracker.getJobIdsForGroup(group))


def _frame(spark, ks, cell="a"):
    return spark.createDataFrame([(k, cell) for k in ks], "k long, cell string")


def _ks(wh, t):
    return sorted(r["k"] for r in wh.read(t).collect())


def test_repeat_read_launches_no_job(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.write(_frame(spark, [1, 2]), "t", partition_by=["cell"])
    first, n_first = _jobs(spark, lambda: wh.read("t"))
    second, n_second = _jobs(spark, lambda: wh.read("t"))
    assert n_first > 0  # the planning job the pin saves
    assert n_second == 0
    assert second is first


def test_every_commit_replans(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    t = "t"
    wh.write(_frame(spark, [1, 2]), t, partition_by=["cell"])
    assert _ks(wh, t) == [1, 2]
    wh.write(_frame(spark, [3, 4]), t, partition_by=["cell"])
    assert _ks(wh, t) == [3, 4]
    wh.append(_frame(spark, [5], "b"), t, partition_by=["cell"])
    assert _ks(wh, t) == [3, 4, 5]
    wh.overwrite_partitions(
        _frame(spark, [6], "b"), t, ["cell"], touched_partitions=[{"cell": "b"}]
    )
    assert _ks(wh, t) == [3, 4, 6]
    wh.overwrite_partitions(_frame(spark, [7]), t, ["cell"])
    assert _ks(wh, t) == [6, 7]
    wh.merge_into(_frame(spark, [8]), t, ["k"], ["cell"])
    assert _ks(wh, t) == [6, 7, 8]
    compact_table(wh, t, transform=lambda df: df.where("k != 7"))
    assert _ks(wh, t) == [6, 8]
    expire_tier(wh, t, 7, tick_col="k")
    assert _ks(wh, t) == [8]
    # a file added behind the API stays unseen until the next commit
    _frame(spark, [9], "z").write.parquet(f"{wh.path(t)}/cell=z")
    assert _ks(wh, t) == [8]
    assert wh.expire_snapshots(t, keep_last=2)["expired"] > 0
    assert _ks(wh, t) == [8, 9]
    wh.drop(t)
    wh.write(_frame(spark, [10]), t, partition_by=["cell"])
    assert _ks(wh, t) == [10]

    b = "batched"
    wh.write_batch_partition(_frame(spark, [1]), b, 0, partition_by=["cell"])
    assert _ks(wh, b) == [1]
    wh.write_batch_partition(_frame(spark, [2]), b, 1, partition_by=["cell"])
    assert _ks(wh, b) == [1, 2]


def test_table_without_sidecar_is_relisted(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    path = wh.path("raw")
    _frame(spark, [1]).write.parquet(path)
    assert _ks(wh, "raw") == [1]
    _, n_again = _jobs(spark, lambda: wh.read("raw"))
    assert n_again > 0
    _frame(spark, [2]).write.mode("append").parquet(path)
    assert _ks(wh, "raw") == [1, 2]
