"""Small-file compaction: fewer files, identical rows, layout kept."""

import os

from pyspark.sql import functions as F

from repurpose_spark.plans.compaction import compact_table
from repurpose_spark.plans.retention import expire_tier
from repurpose_spark.sources.tables import Warehouse


def _rows(df):
    return sorted(map(tuple, df.collect()))


def table_file_stats(wh, table):
    files = wh.live_files(table)
    return {"n_files": len(files), "total_bytes": sum(files.values())}


def test_compact_reduces_files_keeps_rows_and_layout(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    t = "hourly"
    # simulate many-batch appends: 6 appends × several shuffle files
    for b in range(6):
        df = (
            spark.range(b * 100, (b + 1) * 100)
            .select(
                F.col("id").alias("k"),
                (F.col("id") % 4).cast("string").alias("cell_id"),
            )
            .repartition(8)
        )
        wh.append(df, t, partition_by=["cell_id"])
    before = table_file_stats(wh, t)
    expect = _rows(wh.read(t))
    assert before["n_files"] > 20

    m = compact_table(wh, t)
    after = table_file_stats(wh, t)
    assert after["n_files"] < before["n_files"] / 3
    assert m["files_before"] == before["n_files"]
    assert m["files_after"] == after["n_files"]
    # identical rows, hive layout preserved (cell_id still a partition col)
    got = wh.read(t)
    assert _rows(got) == expect
    assert "cell_id" in got.columns
    import os

    assert any(
        d.startswith("cell_id=") for d in os.listdir(wh.path(t))
    )
    # compaction committed as a snapshot
    assert wh.snapshots(t)[-1]["op"] == "compact"


def test_compact_unpartitioned(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    for _ in range(4):
        wh.append(spark.range(50).repartition(6), "flat")
    expect = _rows(wh.read("flat"))
    compact_table(wh, "flat")
    assert _rows(wh.read("flat")) == expect
    assert table_file_stats(wh, "flat")["n_files"] <= 4


def test_compact_sort_by_clusters_rowgroups(spark, tmp_path):
    """sort_by=tick clusters each output file so parquet min/max stats
    make time-range predicates prunable."""
    import glob

    import pyarrow.parquet as pq

    wh = Warehouse(spark, str(tmp_path))
    # shuffled ticks across several appends
    for b in range(3):
        wh.append(
            spark.range(1000)
            .select(
                ((F.col("id") * 7919 + b) % 5000).alias("tick"),
                F.lit(b).alias("v"),
            )
            .repartition(5),
            "t",
        )
    expect = _rows(wh.read("t"))
    compact_table(wh, "t", sort_by=["tick"])
    assert _rows(wh.read("t")) == expect
    # every output file is internally sorted by tick
    for f in glob.glob(wh.path("t") + "/*.parquet"):
        ticks = pq.read_table(f, columns=["tick"])["tick"].to_pylist()
        assert ticks == sorted(ticks), f


def test_compact_writes_one_file_per_cell_on_many_tasks(
    spark, tmp_path, write_batch
):
    """A partitioned compaction makes exactly one file per partition
    value — 64 cells, 64 files — and spreads the cells over several write
    tasks (a written file's ``part-NNNNN`` is its task's partition), not
    one task sized from the table's bytes."""
    wh = Warehouse(spark, str(tmp_path))
    t = "cells"
    for b in range(2):
        write_batch(
            wh,
            spark.range(6400).select(
                F.col("id").alias("k"), (F.col("id") % 64).cast("int").alias("cell_id")
            ).repartition(4),
            t, b, ["cell_id"],
        )
    expect = _rows(wh.read(t).drop("batch_id"))
    m = compact_table(
        wh, t, transform=lambda df: df.withColumn("batch_id", F.lit(-1))
    )
    assert m["files_before"] > m["files_after"] == 64
    files = wh.live_files(t)
    assert len({os.path.dirname(f) for f in files}) == 64
    assert len({os.path.basename(f).split("-")[1] for f in files}) > 1
    assert _rows(wh.read(t).drop("batch_id")) == expect


def test_pipeline_compact_collapses_batches(spark, tmp_path, write_batch):
    """TierPipeline.compact() collapses completed batch partitions into
    batch_id=-1 (files per batch -> a few range files), keeping the
    batch_id= hive layout so later batches append cleanly; tier data
    (minus the synthetic batch label) reads identically."""
    import os

    from pyspark.sql import functions as F  # noqa: F811

    from repurpose_spark.config import EngineConfig
    from repurpose_spark.plans.pipeline import TierPipeline
    from repurpose_spark.sources.synthetic import synth_sequences

    wh = Warehouse(spark, str(tmp_path))
    pipe = TierPipeline(spark, wh, EngineConfig(n_cells=8), job_id="j")
    pipe.run(synth_sequences(spark, 400), n_batches=3)
    t = pipe.hourly_table()
    before = table_file_stats(wh, t)
    expect = _rows(wh.read(t).drop("batch_id"))

    m = pipe.compact()
    after = table_file_stats(wh, t)
    assert m[t]["files_after"] == after["n_files"] < before["n_files"]
    got = wh.read(t)
    assert _rows(got.drop("batch_id")) == expect
    assert {r["batch_id"] for r in got.select("batch_id").distinct().collect()} == {-1}
    # layout depth preserved: batch_id= dirs still the first level
    assert all(
        d.startswith(("batch_id=", "_", "."))
        for d in os.listdir(wh.path(t))
    )
    # a later batch still appends cleanly next to the collapsed one
    write_batch(
        wh,
        wh.read(t).where("cell_id = 0").withColumn("batch_id", F.lit(9)).drop("batch_id"),
        t, 9, [],
    )
    assert wh.read(t).where("batch_id = 9").count() > 0


def test_compact_with_zorder_key(spark, tmp_path):
    """compact_table accepts a z-order Column as the sort key: rows
    survive unchanged and the rewrite is clustered in BOTH dimensions."""
    from repurpose_spark.functions.zorder import zorder_sort_key

    wh = Warehouse(spark, str(tmp_path))
    t = "ev"
    df = spark.range(5000).select(
        (F.col("id") % 64).alias("u"),
        ((F.col("id") * 7) % 64).alias("h"),
        F.xxhash64("id").alias("shuffle"),
    ).orderBy("shuffle").drop("shuffle").repartition(8)
    wh.write(df, t)
    expect = sorted(tuple(r) for r in wh.read(t).collect())
    key = zorder_sort_key(wh.read(t), ["u", "h"])
    m = compact_table(wh, t, sort_by=[key])
    assert m["files_after"] <= m["files_before"]
    got = sorted(tuple(r) for r in wh.read(t).collect())
    assert got == expect
    assert any(s.get("op") == "compact" for s in wh.snapshots(t))


def test_compact_commits_snapshot_manifest(spark, tmp_path):
    """The compact commit carries a file manifest: pre-compact snapshots
    expire with a clear error (their files are rewritten), but the
    post-compact state participates in time travel like any commit."""
    import pytest as _pytest

    wh = Warehouse(spark, str(tmp_path))
    t = "tt"
    wh.write(
        spark.range(100).select(
            F.col("id").alias("k"),
            (F.col("id") % 4).cast("string").alias("cell_id"),
        ).repartition(8),
        t, partition_by=["cell_id"],
    )
    pre_ids = wh.snapshot_ids(t)
    compact_table(wh, t)
    ids = wh.snapshot_ids(t)
    assert len(ids) == len(pre_ids) + 1
    snap = wh.read(t, snapshot_id=ids[-1])
    assert snap.count() == 100
    with _pytest.raises(ValueError, match="expired"):
        wh.read(t, snapshot_id=pre_ids[-1])


def test_rewrites_leave_no_staging_and_commit_one_manifest(spark, tmp_path):
    """compact_table and expire_tier rewrite through one Warehouse
    primitive: nothing staged is left under the warehouse root, and each
    adds exactly one manifest line to the live table's sidecar."""
    import os

    wh = Warehouse(spark, str(tmp_path))
    t = "tt"
    wh.write(
        spark.range(40).select(
            F.col("id").alias("k"), (F.col("id") % 4).alias("cell_id")
        ).repartition(4),
        t, partition_by=["cell_id"],
    )
    for rewrite in (
        lambda: compact_table(wh, t),
        lambda: expire_tier(wh, t, 10, tick_col="k"),
    ):
        lines, ids = len(wh.snapshots(t)), wh.snapshot_ids(t)
        rewrite()
        assert len(wh.snapshots(t)) == lines + 1
        assert wh.snapshot_ids(t) == ids + [ids[-1] + 1]
        assert os.listdir(tmp_path) == [t]
        assert sorted(os.listdir(tmp_path / t)) == ["_snapshots.jsonl", "data"]
    assert sorted(r["k"] for r in wh.read(t).collect()) == list(range(10, 40))
    # the chain outlives expire_snapshots: its checkpoint line carries it
    wh.expire_snapshots(t, keep_last=1)
    compact_table(wh, t)
    parts = [d for d in os.listdir(tmp_path / t / "data") if "=" in d]
    assert sorted(parts) == [f"cell_id={c}" for c in range(4)]
