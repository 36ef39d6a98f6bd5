"""Exact tier-wise point-match of the FULL durable pipeline output
(warehouse tables, after checkpointed batches) against the
single-process numpy oracle — the BASELINE.json correctness criterion
("every rolled-up point must match the reference implementation's
output at each tier"), plus decode(pack) == hourly bit-exactness."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from repurpose_spark.config import EngineConfig
from repurpose_spark.operators.encode import decode_series
from repurpose_spark.oracle.numpy_oracle import oracle_points, oracle_rollup
from repurpose_spark.plans.pipeline import TierPipeline
from repurpose_spark.sources.synthetic import synth_sequences, synth_sequences_pandas
from repurpose_spark.sources.tables import Warehouse

CFG = EngineConfig(n_cells=8)
N = 150


@pytest.fixture(scope="module")
def tier_tables(spark, tmp_path_factory):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("wh")))
    pipe = TierPipeline(spark, wh, CFG, job_id="pm")
    pipe.run(synth_sequences(spark, N), n_batches=3)
    return wh, pipe


def _oracle_tier(unit: str) -> pd.DataFrame:
    pts = oracle_points(
        synth_sequences_pandas(N), CFG.dt_seconds, CFG.epoch
    )
    return oracle_rollup(pts, unit, key_cols=("doc_id",))


def _spark_tier(df, drop=("cell_id", "batch_id")):
    pdf = (
        df.drop(*[c for c in drop if c in df.columns])
        .toPandas()
        .sort_values(["doc_id", "tick"])
        .reset_index(drop=True)
    )
    return pdf[["doc_id", "tick", "n_points", "sum_v", "min_v", "max_v"]]


def test_hourly_points_match_oracle(spark, tier_tables):
    wh, pipe = tier_tables
    got = _spark_tier(wh.read(pipe.hourly_table()))
    exp = (
        _oracle_tier("hour")
        .sort_values(["doc_id", "tick"])
        .reset_index(drop=True)[got.columns]
    )
    got["tick"] = pd.to_datetime(got["tick"]).dt.tz_localize(None)
    pd.testing.assert_frame_equal(
        got.astype({"n_points": "int64", "sum_v": "int64"}),
        exp.astype({"n_points": "int64", "sum_v": "int64"}),
        check_dtype=False,
    )


def test_daily_points_match_oracle(spark, tier_tables):
    wh, pipe = tier_tables
    got = _spark_tier(wh.read(pipe.daily_table()))
    exp = (
        _oracle_tier("day")
        .sort_values(["doc_id", "tick"])
        .reset_index(drop=True)[got.columns]
    )
    got["tick"] = pd.to_datetime(got["tick"]).dt.tz_localize(None)
    pd.testing.assert_frame_equal(
        got.astype({"n_points": "int64", "sum_v": "int64"}),
        exp.astype({"n_points": "int64", "sum_v": "int64"}),
        check_dtype=False,
    )


def test_packed_decodes_to_exact_hourly(spark, tier_tables):
    wh, pipe = tier_tables
    hourly = wh.read(pipe.hourly_table()).drop("batch_id")
    packed = wh.read(pipe.packed_table())
    dec = decode_series(
        packed, int_cols=["sum_v", "n_points"], float_cols=["avg_v"]
    )
    a = hourly.select(
        "cell_id", "doc_id", F.col("tick").cast("long").alias("t"),
        "sum_v", "n_points",
        (F.col("sum_v") / F.col("n_points")).alias("avg_v"),
    )
    b = dec.select(
        "cell_id", "doc_id", F.col("tick").cast("long").alias("t"),
        "sum_v", "n_points", "avg_v",
    )
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
