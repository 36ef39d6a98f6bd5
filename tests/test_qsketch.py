"""Mergeable KLL quantile sketch: rank-error bounds against exact numpy
quantiles (direct, merged, after serde), quantile_disc parity while
uncompacted, and the Spark percentile tier path — hourly → daily merge
within rank error of exact, partition-layout invariance OF THE BOUND,
and parquet round trips of the sketch column."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from repurpose_spark.functions.qsketch import QuantileSketch

QS = [0.5, 0.9, 0.99]


def _rank_of(est, data):
    """Empirical rank bracket of an estimate: the tightest [lo, hi]
    rank interval the value occupies (ties widen it — that slack is the
    data's, not the sketch's)."""
    s = np.sort(data)
    lo = np.searchsorted(s, est, side="left") / len(s)
    hi = np.searchsorted(s, est, side="right") / len(s)
    return lo, hi


def _assert_rank_close(sk, data, eps):
    for q, est in zip(QS, sk.quantiles(QS)):
        lo, hi = _rank_of(est, data)
        assert lo - eps <= q <= hi + eps, (q, est, lo, hi)


def test_exact_while_uncompacted():
    """Below capacity the sketch retains everything — estimates must
    EQUAL nearest-rank (quantile_disc) exactly, ties included."""
    rng = np.random.default_rng(3)
    data = np.round(rng.random(300) * 50, 1)  # heavy ties
    sk = QuantileSketch(512).update(data)
    assert sk.n_retained == 300
    s = np.sort(data)
    for q, est in zip(QS, sk.quantiles(QS)):
        assert est == s[int(np.ceil(q * 300)) - 1]


def test_direct_and_merged_rank_error():
    """Worst rank error over seeds stays ≤1% at k=512 — both the
    single-sketch path and a 32-shard interleaved merge (the shape the
    partial+final tier produces)."""
    for seed in range(8):
        rng = np.random.default_rng(seed)
        data = np.round(np.exp(rng.normal(3.5, 1.0, 150_000)), 2)
        _assert_rank_close(QuantileSketch(512).update(data), data, 0.01)
        shards = [
            QuantileSketch(512).update(data[i::32]) for i in range(32)
        ]
        merged = shards[0]
        for s in shards[1:]:
            merged.merge(s)
        assert merged.n == len(data)
        _assert_rank_close(merged, data, 0.01)


def test_serde_roundtrip_and_nan_nulls():
    rng = np.random.default_rng(11)
    data = rng.normal(0, 100, 50_000)
    sk = QuantileSketch(512).update(data)
    sk.update(np.array([np.nan, np.nan]))  # nulls dropped, n unchanged
    assert sk.n == 50_000
    back = QuantileSketch.from_bytes(sk.to_bytes())
    assert back.n == sk.n
    np.testing.assert_array_equal(back.quantiles(QS), sk.quantiles(QS))
    with pytest.raises(ValueError, match="KLL1"):
        QuantileSketch.from_bytes(b"nope" + sk.to_bytes())


def test_merge_is_weight_preserving():
    """n after any merge tree equals total inputs, and retained samples
    stay bounded (~k-scale, never O(n))."""
    rng = np.random.default_rng(5)
    parts = [
        QuantileSketch(256).update(rng.random(10_000)) for _ in range(16)
    ]
    total = parts[0]
    for p in parts[1:]:
        total.merge(p)
    assert total.n == 160_000
    assert total.n_retained < 256 * 4


@pytest.fixture(scope="module")
def tier_fixture(spark):
    """Deterministic events: 3 types × 4 days, ~2500 points per (type,
    day) — above k so compaction genuinely engages — with a heavy-tailed
    closed-form value."""
    ev = spark.range(30_000).select(
        F.concat(F.lit("t"), (F.col("id") % 3).cast("string")).alias(
            "event_type"
        ),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + (F.col("id") * 7919) % (4 * 86400)
        ).alias("ts"),
        # closed-form heavy tail: quadratic in a pseudo-random residue
        (((F.col("id") * 104729) % 1000) ** 2 / 1000.0).alias("value"),
    )
    return ev.cache()


def _exact_by_group(ev):
    pdf = ev.select(
        "event_type", F.date_trunc("day", "ts").alias("tick"), "value"
    ).toPandas()
    return {
        k: g["value"].to_numpy()
        for k, g in pdf.groupby(["event_type", "tick"])
    }


def test_tier_daily_from_hourly_within_rank_error(spark, tier_fixture):
    from repurpose_spark.operators.rollup import (
        quantile_rows,
        rollup_from_partials,
        rollup_quantile_sketch,
    )

    hourly = rollup_quantile_sketch(
        tier_fixture, "hour", "value", key_cols=["event_type"]
    )
    daily = rollup_from_partials(hourly, "day", key_cols=["event_type"])
    rows = quantile_rows(daily).collect()
    exact = _exact_by_group(tier_fixture)
    assert len(rows) == len(exact) * 3
    for r in rows:
        data = exact[(r.event_type, r.tick)]
        assert r.n_points == len(data)
        q = {"p50": 0.5, "p90": 0.9, "p99": 0.99}[r.q]
        lo, hi = _rank_of(r.value_est, data)
        assert lo - 0.02 <= q <= hi + 0.02, (r, lo, hi)


def test_kll_only_tier_merges_without_join(spark, tier_fixture):
    """A tier holding only n_points + q_sketch merges through the KLL
    fold alone: no JVM aggregate joined back, just the daily merge
    (exchange → MapInPandas) on top of the hourly partial+final."""
    import re

    from repurpose_spark.operators.rollup import (
        rollup_from_partials,
        rollup_quantile_sketch,
    )

    hourly = rollup_quantile_sketch(
        tier_fixture, "hour", "value", key_cols=["event_type"]
    )
    daily = rollup_from_partials(hourly, "day", key_cols=["event_type"])
    assert daily.columns == ["event_type", "tick", "q_sketch", "n_points"]
    plan = daily._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"MapInPandas|Exchange|Join", plan) == [
        "MapInPandas", "Exchange", "MapInPandas", "Exchange", "MapInPandas"
    ]


def test_tier_partition_layout_changes_bytes_not_bound(spark, tier_fixture):
    """Re-running at a different partition count may change sketch BYTES
    (documented, like HLL) but every estimate stays within the rank
    bound — the invariant the engine actually promises."""
    from repurpose_spark.operators.rollup import (
        quantile_rows,
        rollup_quantile_sketch,
    )

    exact = _exact_by_group(tier_fixture)
    for nparts in (1, 7):
        hourly = rollup_quantile_sketch(
            tier_fixture.repartition(nparts),
            "day",  # single-level: straight to daily
            "value",
            key_cols=["event_type"],
        )
        for r in quantile_rows(hourly).collect():
            data = exact[(r.event_type, r.tick)]
            assert r.n_points == len(data)
            q = {"p50": 0.5, "p90": 0.9, "p99": 0.99}[r.q]
            lo, hi = _rank_of(r.value_est, data)
            assert lo - 0.02 <= q <= hi + 0.02


def test_sketch_survives_parquet_roundtrip(spark, tier_fixture, tmp_path):
    from repurpose_spark.operators.rollup import (
        quantile_rows,
        rollup_from_partials,
        rollup_quantile_sketch,
    )

    hourly = rollup_quantile_sketch(
        tier_fixture, "hour", "value", key_cols=["event_type"]
    )
    path = str(tmp_path / "hourly_q")
    hourly.write.parquet(path)
    daily = rollup_from_partials(
        spark.read.parquet(path), "day", key_cols=["event_type"]
    )
    rows = quantile_rows(daily).collect()
    exact = _exact_by_group(tier_fixture)
    for r in rows:
        data = exact[(r.event_type, r.tick)]
        q = {"p50": 0.5, "p90": 0.9, "p99": 0.99}[r.q]
        lo, hi = _rank_of(r.value_est, data)
        assert lo - 0.02 <= q <= hi + 0.02
