"""Tier rollups vs the numpy oracle: raw→hourly exact match, daily from
hourly partials == daily from raw (partial+final exactness), gap-fill."""

import pandas as pd
from pyspark.sql import functions as F

from repurpose_spark.config import EngineConfig
from repurpose_spark.operators.gapfill import gap_fill
from repurpose_spark.operators.reorient import sequences_to_points
from repurpose_spark.operators.rollup import rollup, rollup_from_partials
from repurpose_spark.oracle.numpy_oracle import oracle_points, oracle_rollup
from repurpose_spark.sources.synthetic import synth_sequences, synth_sequences_pandas

CFG = EngineConfig(n_cells=16)
KEYS = ["doc_id"]


def _pd_sorted(df, cols):
    return df[cols].sort_values(cols).reset_index(drop=True)


def test_hourly_matches_oracle(spark):
    n = 40
    pts = sequences_to_points(synth_sequences(spark, n), CFG)
    got = rollup(pts, "hour", key_cols=KEYS).toPandas()
    exp = oracle_rollup(
        oracle_points(synth_sequences_pandas(n), CFG.dt_seconds, CFG.epoch),
        "hour",
        key_cols=KEYS,
    )
    cols = ["doc_id", "tick", "n_points", "sum_v", "min_v", "max_v"]
    g, e = _pd_sorted(got, cols), _pd_sorted(exp, cols)
    pd.testing.assert_frame_equal(
        g.astype({"sum_v": "int64"}), e.astype({"sum_v": "int64"}),
        check_dtype=False,
    )


def test_daily_from_partials_equals_daily_from_raw(spark):
    pts = sequences_to_points(synth_sequences(spark, 60), CFG)
    hourly = rollup(pts, "hour", key_cols=KEYS)
    daily_partial = rollup_from_partials(hourly, "day", key_cols=KEYS)
    daily_raw = rollup(pts, "day", key_cols=KEYS)
    assert daily_partial.exceptAll(daily_raw).count() == 0
    assert daily_raw.exceptAll(daily_partial).count() == 0


def test_gap_fill_dense(spark):
    # two docs with different lengths → short doc has hourly gaps to fill
    pts = sequences_to_points(synth_sequences(spark, 5), CFG)
    hourly = rollup(pts, "hour", key_cols=KEYS)
    dense = gap_fill(hourly, "hour", key_cols=KEYS, fill_values={"n_points": 0})
    n_keys = hourly.select(*KEYS).distinct().count()
    n_ticks = hourly.select("tick").distinct().count()
    lo, hi = hourly.agg(F.min("tick"), F.max("tick")).collect()[0]
    axis_len = int((hi - lo).total_seconds() // 3600) + 1
    assert n_ticks <= axis_len
    assert dense.count() == n_keys * axis_len
    assert dense.where(F.col("n_points").isNull()).count() == 0
    # observed rows unchanged
    obs_back = dense.where(F.col("sum_v").isNotNull()).select(hourly.columns)
    assert obs_back.exceptAll(hourly).count() == 0
    assert hourly.exceptAll(obs_back).count() == 0


def test_gap_fill_explicit_bounds(spark):
    """start/end bounds extend the dense axis beyond the observed range."""
    from pyspark.sql import functions as F

    from repurpose_spark.operators.gapfill import gap_fill

    tier = spark.createDataFrame(
        [("a", "2020-01-01 01:00:00", 5), ("a", "2020-01-01 03:00:00", 7)],
        "doc_id string, tick string, n_points long",
    ).withColumn("tick", F.col("tick").cast("timestamp"))
    dense = gap_fill(
        tier, "hour", key_cols=["doc_id"],
        start="2020-01-01 00:00:00", end="2020-01-01 05:00:00",
        fill_values={"n_points": 0},
    )
    rows = {r["tick"].hour: r["n_points"] for r in dense.collect()}
    assert rows == {0: 0, 1: 5, 2: 0, 3: 7, 4: 0, 5: 0}


def test_gap_fill_partial_bounds(spark):
    """A lone start OR end bounds that side; the other derives from the
    data (used to be silently ignored — VERDICT r2 #3)."""
    from repurpose_spark.operators.gapfill import gap_fill

    tier = spark.createDataFrame(
        [("a", "2020-01-01 01:00:00", 5), ("a", "2020-01-01 03:00:00", 7)],
        "doc_id string, tick string, n_points long",
    ).withColumn("tick", F.col("tick").cast("timestamp"))
    start_only = gap_fill(
        tier, "hour", key_cols=["doc_id"],
        start="2020-01-01 00:00:00", fill_values={"n_points": 0},
    )
    rows = {r["tick"].hour: r["n_points"] for r in start_only.collect()}
    assert rows == {0: 0, 1: 5, 2: 0, 3: 7}
    end_only = gap_fill(
        tier, "hour", key_cols=["doc_id"],
        end="2020-01-01 05:00:00", fill_values={"n_points": 0},
    )
    rows = {r["tick"].hour: r["n_points"] for r in end_only.collect()}
    assert rows == {1: 5, 2: 0, 3: 7, 4: 0, 5: 0}


def test_distinct_sketch_tiers_merge_within_error(spark):
    """HLL distinct-count tiers: union of hourly sketches agrees with a
    sketch built directly from raw at the daily grain to within the
    sketch error (estimates are partition-layout-sensitive within the
    bound — documented caveat), n_points partials re-aggregate exactly,
    and both estimates stay within the published HLL error of exact."""
    from pyspark.sql import functions as F

    from repurpose_spark.operators.rollup import (
        rollup_distinct_sketch,
        rollup_from_partials,
        with_distinct_estimate,
    )

    # 2 cells x 3 days, users recur across hours (the shape where
    # sum-of-hourly-distincts would badly overcount)
    pts = spark.range(200_000).select(
        (F.col("id") % 2).alias("cell_id"),
        F.timestamp_seconds(
            F.lit(1_600_000_000) + (F.col("id") % 259_200)
        ).alias("ts"),
        (F.xxhash64("id") % 5000).alias("user"),
    )
    hourly = rollup_distinct_sketch(pts, "hour", "user").cache()
    daily_merged = with_distinct_estimate(
        rollup_from_partials(hourly, "day", key_cols=["cell_id"])
    )
    daily_direct = with_distinct_estimate(
        rollup_distinct_sketch(pts, "day", "user")
    )
    a = {
        (r["cell_id"], r["tick"]): (r["n_distinct_est"], r["n_points"])
        for r in daily_merged.collect()
    }
    b = {
        (r["cell_id"], r["tick"]): (r["n_distinct_est"], r["n_points"])
        for r in daily_direct.collect()
    }
    assert set(a) == set(b)
    exact = {
        (r["cell_id"], r["tick"]): r["n"]
        for r in pts.groupBy(
            "cell_id", F.date_trunc("day", "ts").alias("tick")
        ).agg(F.count_distinct("user").alias("n")).collect()
    }
    assert set(a) == set(exact)
    for k, (est, n_pts) in a.items():
        est_d, n_pts_d = b[k]
        assert n_pts == n_pts_d  # count partials re-aggregate EXACTLY
        # merged vs direct: same value set, estimates within 2x rse
        assert abs(est - est_d) / exact[k] < 0.033
        # both within the published bound of the exact answer
        assert abs(est - exact[k]) / exact[k] < 0.05  # lg_k=12 ~1.6% rse
        assert abs(est_d - exact[k]) / exact[k] < 0.05
    hourly.unpersist()


def test_distinct_sketch_survives_parquet_roundtrip(spark, tmp_path):
    """The sketch column is plain binary: tiers persist and re-merge
    after a parquet round trip (the retention-tier storage contract)."""
    from pyspark.sql import functions as F

    from repurpose_spark.operators.rollup import (
        rollup_distinct_sketch,
        rollup_from_partials,
        with_distinct_estimate,
    )

    pts = spark.range(50_000).select(
        F.lit(0).alias("cell_id"),
        # midnight-aligned base so the day tier holds exactly one tick
        F.timestamp_seconds(
            F.lit(1_599_955_200) + (F.col("id") % 86_400)
        ).alias("ts"),
        (F.col("id") % 777).alias("user"),
    )
    p = str(tmp_path / "hourly")
    rollup_distinct_sketch(pts, "hour", "user").write.parquet(p)
    daily = with_distinct_estimate(
        rollup_from_partials(
            spark.read.parquet(p), "day", key_cols=["cell_id"]
        )
    ).collect()
    assert len(daily) == 1
    est = daily[0]["n_distinct_est"]
    assert abs(est - 777) / 777 < 0.05


def test_fill_forward_and_interpolate(spark):
    """LOCF + linear interpolation semantics on a hand-checkable frame:
    interior holes blend time-weighted, leading holes stay NULL in both
    (locf) / interpolation never extrapolates past the last observation."""
    from repurpose_spark.operators.gapfill import (
        fill_forward,
        fill_interpolate,
        gap_fill,
    )

    df = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:00", 10.0),
            ("a", "2024-01-01 03:00:00", 40.0),
            ("b", "2024-01-01 01:00:00", 5.0),
        ],
        "k string, tick string, v double",
    ).withColumn("tick", F.col("tick").cast("timestamp"))
    dense = gap_fill(df, "hour", key_cols=["k"], tick_col="tick")
    out = fill_interpolate(
        fill_forward(dense, ["k"], "tick", ["v"]), ["k"], "tick", ["v"]
    )
    rows = {
        (r.k, r.tick.hour): (r.v_locf, r.v_interp) for r in out.collect()
    }
    assert rows[("a", 0)] == (10.0, 10.0)
    assert rows[("a", 1)] == (10.0, 20.0)   # 1/3 of the way 10→40
    assert rows[("a", 2)] == (10.0, 30.0)
    assert rows[("a", 3)] == (40.0, 40.0)
    assert rows[("b", 0)] == (None, None)   # leading hole: no fill
    assert rows[("b", 2)] == (5.0, None)    # trailing: locf yes, interp no
    assert rows[("b", 3)] == (5.0, None)
