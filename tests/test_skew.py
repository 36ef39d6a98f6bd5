"""Salted two-phase rollup must be bit-identical to the unsalted rollup
(SURVEY.md §7.3: salting commutes with associative partials), on the
skewed synthetic table where a few giant docs create hot cells.

Under hash bucketing a hot cell comes from one enormous series, so the
salt must come from a within-series column (``pos``) — a doc_id salt
cannot split a single giant doc."""

import pytest
from pyspark.sql import functions as F

from repurpose_spark.config import EngineConfig
from repurpose_spark.operators.reorient import sequences_to_points
from repurpose_spark.operators.rollup import rollup_points
from repurpose_spark.operators.skew import (
    SALT,
    detect_hot_keys,
    rollup_points_salted,
    salt_for,
)
from repurpose_spark.sources.synthetic import synth_sequences

CFG = EngineConfig(n_cells=16)


@pytest.fixture(scope="module")
def skewed_points(spark):
    seqs = synth_sequences(spark, 300, skew=True)
    return sequences_to_points(seqs, CFG, with_ts=False).cache()


def test_detect_hot_keys_finds_giant_doc_cells(skewed_points):
    hot = detect_hot_keys(skewed_points, ["cell_id"], threshold=0.10)
    assert len(hot) >= 1
    # hot cells are exactly where the giant docs (i % 101 == 0) land
    giant_cells = {
        r["cell_id"]
        for r in skewed_points.where(
            F.col("doc_id").isin("doc00000000", "doc00000101", "doc00000202")
        )
        .select("cell_id")
        .distinct()
        .collect()
    }
    assert {r["cell_id"] for r in hot} <= giant_cells


def _sorted_rows(df):
    return sorted(
        tuple(r) for r in df.select(
            "cell_id", "tick", "n_points", "sum_v", "min_v", "max_v"
        ).collect()
    )


def test_salted_equals_unsalted(skewed_points):
    plain = rollup_points(
        skewed_points, 3600, key_cols=["cell_id"],
        dt_seconds=CFG.dt_seconds, epoch=CFG.epoch,
    )
    hot = detect_hot_keys(skewed_points, ["cell_id"], threshold=0.10)
    salted = rollup_points_salted(
        skewed_points, 3600, key_cols=["cell_id"], fine_col="pos",
        buckets=8, hot_keys=hot,
        dt_seconds=CFG.dt_seconds, epoch=CFG.epoch,
    )
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salt_all_keys_equals_unsalted(skewed_points):
    plain = rollup_points(
        skewed_points, 86400, key_cols=["cell_id"],
        dt_seconds=CFG.dt_seconds, epoch=CFG.epoch,
    )
    salted = rollup_points_salted(
        skewed_points, 86400, key_cols=["cell_id"], fine_col="pos",
        buckets=4, hot_keys=None,
        dt_seconds=CFG.dt_seconds, epoch=CFG.epoch,
    )
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salted_partials_fan_out(skewed_points):
    """The salt must actually split the hot cell (and only the hot cell)."""
    hot = detect_hot_keys(skewed_points, ["cell_id"], threshold=0.10)
    assert hot
    hot_cells = {r["cell_id"] for r in hot}
    salted = skewed_points.withColumn(
        SALT, salt_for("pos", 8, hot, ["cell_id"])
    )
    per_cell = {
        r["cell_id"]: r["n_salts"]
        for r in salted.groupBy("cell_id")
        .agg(F.countDistinct(SALT).alias("n_salts"))
        .collect()
    }
    for c, n_salts in per_cell.items():
        if c in hot_cells:
            assert n_salts > 1, f"hot cell {c} did not fan out"
        else:
            assert n_salts == 1, f"cold cell {c} was salted"


def test_ordered_export_salted_spreads_hot_key_and_stays_sorted(spark):
    """The salted clustered export: hot key fans over several slices,
    every slice is internally sorted on (key, order), row multiset
    unchanged, and cold keys keep exactly one slice (salt 0)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from repurpose_spark.operators.skew import ordered_export_salted

    # key 0 hot (half of all rows), keys 1..7 cold
    df = spark.range(80_000).select(
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise((F.col("id") % 7) + 1)
        .cast("int")
        .alias("cell_id"),
        (F.col("id") * 37 % 9973).alias("doc_id"),
        (F.col("id") % 1000).alias("pos"),
        F.col("id").alias("v"),
    )
    out = ordered_export_salted(
        df, key_cols=["cell_id"], order_cols=["doc_id", "pos"],
        fine_col="pos", buckets=8, hot_keys=[{"cell_id": 0}],
    )
    tagged = out.withColumn("__pid", F.spark_partition_id()).cache()
    # multiset preserved
    assert tagged.count() == 80_000
    # hot key spread over >1 slice; every cold key in exactly 1
    spread = {
        r["cell_id"]: r["n"]
        for r in tagged.groupBy("cell_id")
        .agg(F.count_distinct("__pid").alias("n"))
        .collect()
    }
    assert spread[0] > 1
    assert all(v == 1 for k, v in spread.items() if k != 0)
    # every slice internally sorted on (cell_id, doc_id, pos)
    w = Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
    key = F.struct("cell_id", "doc_id", "pos")
    bad = (
        tagged.select((key < F.lag(key).over(w)).cast("int").alias("b"))
        .agg(F.sum("b"))
        .first()[0]
    )
    assert not bad
    tagged.unpersist()
