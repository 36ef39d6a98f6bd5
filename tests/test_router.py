"""Tier router: route a bucket-width query to the coarsest exact tier.

Exactness oracle is algebraic: integer partials re-aggregate without
error, so the routed answer from ANY correctly-routed tier must equal
the direct raw aggregate row-for-row — asserted for 6 h-from-hourly and
1 w-from-daily on a deterministic synthetic point set with awkward
values (negatives, duplicates, empty-bucket gaps).
"""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from repurpose_spark.operators.rollup import rollup, rollup_from_partials
from repurpose_spark.plans.router import (
    choose_tier,
    routed_rollup,
)

RES = {"hourly": 3600, "daily": 86400, "raw": None}


def test_choose_tier_matrix():
    assert choose_tier(21600, RES) == "hourly"  # 6 h
    assert choose_tier(3600, RES) == "hourly"  # equal width
    assert choose_tier(604800, RES) == "daily"  # 1 w
    assert choose_tier(86400, RES) == "daily"
    assert choose_tier(172800, RES) == "daily"  # 2 d
    assert choose_tier(5400, RES) is None  # 90 min: nothing divides
    assert choose_tier(1800, RES) is None  # finer than any tier
    with pytest.raises(ValueError):
        choose_tier(0, RES)


def _points(spark):
    base = datetime(2024, 3, 1)
    rows = []
    for i in range(500):
        # ~21-day span, irregular spacing with gaps; signed values; dupes
        ts = base + timedelta(hours=i, minutes=7 * (i % 13) + (i % 3))
        rows.append(("a" if i % 3 else "b", ts, (i * 31) % 97 - 40))
    return spark.createDataFrame(rows, "grp string, ts timestamp, v long")


def _routed_vs_raw(spark, pts, width, want_source):
    hourly = rollup(pts, "hour", key_cols=["grp"], value_col="v")
    daily = rollup_from_partials(hourly, "day", key_cols=["grp"])
    out, source = routed_rollup(
        width,
        {"hourly": (hourly, 3600), "daily": (daily, 86400)},
        raw=pts,
        key_cols=["grp"],
        ts_col="ts",
        value_col="v",
    )
    assert source == want_source
    direct, direct_source = routed_rollup(
        width, {}, raw=pts, key_cols=["grp"], ts_col="ts", value_col="v"
    )
    assert direct_source == "raw"
    key = lambda r: (r["grp"], r["tick"])  # noqa: E731
    got = sorted(out.collect(), key=key)
    want = sorted(direct.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) > 3


def test_routed_6h_from_hourly_matches_raw(spark):
    _routed_vs_raw(spark, _points(spark), 21600, "hourly")


def test_routed_weekly_from_daily_matches_raw(spark):
    _routed_vs_raw(spark, _points(spark), 7 * 86400, "daily")


def test_unroutable_width_falls_back_to_raw(spark):
    _routed_vs_raw(spark, _points(spark), 5400, "raw")


def test_unroutable_width_without_raw_raises(spark):
    pts = _points(spark)
    hourly = rollup(pts, "hour", key_cols=["grp"], value_col="v")
    with pytest.raises(ValueError, match="no tier divides"):
        routed_rollup(5400, {"hourly": (hourly, 3600)}, key_cols=["grp"])


def test_tier_missing_partials_raises(spark):
    bad = _points(spark).withColumnRenamed("ts", "tick")
    with pytest.raises(ValueError, match="lacks mergeable partials"):
        routed_rollup(7200, {"hourly": (bad, 3600)}, key_cols=["grp"])


def test_routed_plan_is_one_exchange(spark):
    """The routed read is the same partial+final hash-agg shape as the
    tier build: exactly one exchange of bucket partials, no raw scan."""
    pts = _points(spark)
    hourly = rollup(pts, "hour", key_cols=["grp"], value_col="v")
    hourly.write.mode("overwrite").parquet("/tmp/router_tier_hourly")
    tier = spark.read.parquet("/tmp/router_tier_hourly")
    out, source = routed_rollup(
        21600, {"hourly": (tier, 3600)}, key_cols=["grp"]
    )
    assert source == "hourly"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "router_tier_hourly" in plan  # reads the tier, not raw


def test_sketch_partial_carries_through_route(spark):
    """A uniq_sketch HLL partial on the tier merges through the routed
    re-aggregation; estimates stay within HLL error of exact uniques."""
    pts = _points(spark)
    hourly = (
        pts.groupBy(
            "grp", F.date_trunc("hour", F.col("ts")).alias("tick")
        ).agg(
            F.count("v").alias("n_points"),
            F.sum("v").alias("sum_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
            F.hll_sketch_agg("v", F.lit(12)).alias("uniq_sketch"),
        )
    )
    out, source = routed_rollup(
        21600, {"hourly": (hourly, 3600)}, key_cols=["grp"]
    )
    assert source == "hourly"
    est = out.select(
        "grp",
        "tick",
        F.hll_sketch_estimate("uniq_sketch").alias("est"),
    )
    exact = pts.groupBy(
        "grp",
        F.timestamp_seconds(
            F.floor(F.unix_timestamp("ts") / 21600) * 21600
        ).alias("tick"),
    ).agg(F.countDistinct("v").alias("exact"))
    joined = est.join(exact, ["grp", "tick"]).collect()
    assert joined
    for r in joined:
        assert abs(r["est"] - r["exact"]) <= max(2.0, 0.05 * r["exact"])


def test_quantile_sketch_partial_carries_through_route(spark):
    """A q_sketch KLL partial merges through the routed re-aggregation
    exactly as through the calendar merge: a 1-day route from hourly
    keeps the column, its n_points equal rollup_from_partials(day)'s,
    and its estimates stay within rank error of the exact day values."""
    import numpy as np

    from repurpose_spark.operators.rollup import quantile_rows, rollup_points

    # 2 groups × 3000 one-minute positions: two full days + 2 h, ~1440
    # values per (group, day) — above k, so the daily merge compacts
    pts = spark.range(6000).select(
        (F.col("id") % 2).alias("grp"),
        (F.col("id") / 2).cast("long").alias("pos"),
        ((F.col("id") * 7919) % 1000).alias("v"),
    )
    hourly = rollup_points(
        pts, 3600, key_cols=["grp"], value_col="v",
        sketch_distinct=True, sketch_quantiles=True,
    )
    out, source = routed_rollup(
        86400, {"hourly": (hourly, 3600)}, key_cols=["grp"]
    )
    assert source == "hourly"
    assert "q_sketch" in out.columns
    calendar = rollup_from_partials(hourly, "day", key_cols=["grp"])
    n_cal = {(r["grp"], r["tick"]): r["n_points"] for r in calendar.collect()}
    rows = quantile_rows(out).collect()
    assert {(r["grp"], r["tick"]): r["n_points"] for r in rows} == n_cal
    exact = {}
    for i in range(6000):
        exact.setdefault((i % 2, (i // 2) * 60 // 86400), []).append(
            (i * 7919) % 1000
        )
    days = sorted({t for _, t in n_cal})
    for r in rows:
        data = np.sort(exact[(r["grp"], days.index(r["tick"]))])
        assert r["n_points"] == len(data)
        lo = np.searchsorted(data, r["value_est"], side="left") / len(data)
        hi = np.searchsorted(data, r["value_est"], side="right") / len(data)
        q = {"p50": 0.5, "p90": 0.9, "p99": 0.99}[r["q"]]
        assert lo - 0.02 <= q <= hi + 0.02, (r, lo, hi)


def _realtime_check(spark, wm):
    from repurpose_spark.plans.router import realtime_rollup

    pts = _points(spark)
    hourly = rollup(
        pts.where(F.col("ts") < F.lit(wm)),
        "hour",
        key_cols=["grp"],
        value_col="v",
    )
    out, source = realtime_rollup(
        21600,
        {"hourly": (hourly, 3600)},
        raw=pts,
        materialized_until=wm,
        key_cols=["grp"],
        ts_col="ts",
        value_col="v",
    )
    assert source == "hourly"
    direct, _ = routed_rollup(
        21600, {}, raw=pts, key_cols=["grp"], ts_col="ts", value_col="v"
    )
    key = lambda r: (r["grp"], r["tick"])  # noqa: E731
    got = sorted(out.collect(), key=key)
    want = sorted(direct.collect(), key=key)
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_realtime_rollup_unaligned_watermark(spark):
    """The watermark's own (partial) bucket must come wholly from raw."""
    _realtime_check(spark, datetime(2024, 3, 11, 13, 47, 9))


def test_realtime_rollup_aligned_watermark(spark):
    _realtime_check(spark, datetime(2024, 3, 9, 6, 0, 0))


def test_realtime_rollup_watermark_before_all_data(spark):
    _realtime_check(spark, datetime(2023, 1, 1))


def test_realtime_rollup_watermark_after_all_data(spark):
    _realtime_check(spark, datetime(2025, 1, 1))


def test_realtime_rollup_unroutable_raises(spark):
    from repurpose_spark.plans.router import realtime_rollup

    pts = _points(spark)
    hourly = rollup(pts, "hour", key_cols=["grp"], value_col="v")
    with pytest.raises(ValueError, match="no tier divides"):
        realtime_rollup(
            5400,
            {"hourly": (hourly, 3600)},
            raw=pts,
            materialized_until=datetime(2024, 3, 5),
            key_cols=["grp"],
        )
