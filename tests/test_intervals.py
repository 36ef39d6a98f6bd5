"""Bucketed interval join (operators/intervals.py).

Correctness contract: identical row multiset to the naive theta-join
(ts BETWEEN start AND end), for every bucket width — the bucket is an
execution detail, never a semantics knob.  Plan contract: the join is
an EQUI hash/broadcast join on (keys, bucket), not a nested-loop —
asserted on the executed plan text.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from repurpose_spark.operators.intervals import (
    interval_join,
    interval_point_counts,
)


def _ts(h, m=0, s=0, us=0):
    return dt.datetime(2024, 1, 1, h, m, s, us)


@pytest.fixture()
def frames(spark):
    pts = spark.createDataFrame(
        [
            (1, "a", _ts(9, 59, 59, 999999)),   # 1µs before w1
            (2, "a", _ts(10, 0)),               # exactly at w1.start
            (3, "a", _ts(11, 30)),              # inside w1
            (4, "a", _ts(12, 0)),               # exactly at w1.end → OUT
            (5, "b", _ts(11, 30)),              # wrong key for w1
            (6, "b", _ts(3, 0)),                # inside w2
            (7, "a", _ts(23, 59)),              # matches nothing
        ],
        "pid long, grp string, ts timestamp",
    )
    ivs = spark.createDataFrame(
        [
            ("w1", "a", _ts(10, 0), _ts(12, 0)),
            ("w2", "b", _ts(2, 0), _ts(4, 0)),
            ("w3", "a", _ts(11, 0), _ts(11, 0)),  # empty [x, x) → nothing
            ("w4", "b", _ts(5, 0), _ts(4, 0)),    # inverted → nothing
        ],
        "iid string, grp string, start timestamp, end timestamp",
    )
    return pts, ivs


def _pairs(df):
    return sorted((r["pid"], r["iid"]) for r in df.collect())


def test_half_open_matches_naive(frames):
    pts, ivs = frames
    got = interval_join(pts, ivs, on=["grp"], bucket_seconds=3600)
    naive = pts.join(
        ivs,
        (pts["grp"] == ivs["grp"])
        & (pts["ts"] >= ivs["start"])
        & (pts["ts"] < ivs["end"]),
    )
    assert _pairs(got) == _pairs(naive) == [(2, "w1"), (3, "w1"), (6, "w2")]


@pytest.mark.parametrize("w", [1, 7, 60, 3600, 86400 * 7])
def test_bucket_width_is_semantics_free(frames, w):
    pts, ivs = frames
    got = interval_join(pts, ivs, on=["grp"], bucket_seconds=w)
    assert _pairs(got) == [(2, "w1"), (3, "w1"), (6, "w2")]


def test_end_inclusive(frames):
    pts, ivs = frames
    got = interval_join(
        pts, ivs, on=["grp"], bucket_seconds=3600, end_inclusive=True
    )
    # pid 4 at exactly w1.end now matches; the degenerate [x, x] window
    # w3 is valid under closed semantics but contains no sample ts
    assert _pairs(got) == [(2, "w1"), (3, "w1"), (4, "w1"), (6, "w2")]


def test_left_join_keeps_unmatched_points(frames):
    pts, ivs = frames
    got = interval_join(pts, ivs, on=["grp"], bucket_seconds=3600, how="left")
    rows = {r["pid"]: r["iid"] for r in got.collect()}
    assert len(rows) == 7  # every point exactly once (matched or not)
    assert rows[3] == "w1" and rows[1] is None and rows[7] is None


def test_no_keys_and_broadcast(frames):
    pts, ivs = frames
    got = interval_join(
        pts,
        ivs.drop("grp"),
        bucket_seconds=1800,
        broadcast_intervals=True,
    )
    # without the grp key, w1 also captures pid 5 and w2 captures nothing new
    assert _pairs(got) == [(2, "w1"), (3, "w1"), (5, "w1"), (6, "w2")]


def test_plan_is_equi_join_not_nested_loop(frames):
    pts, ivs = frames
    plan = interval_join(
        pts, ivs, on=["grp"], bucket_seconds=3600
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "Join" in plan


def test_column_clash_raises(frames):
    pts, ivs = frames
    with pytest.raises(ValueError, match="disjoint"):
        interval_join(pts, ivs.withColumnRenamed("iid", "pid"), on=["grp"])


def test_bad_args(frames):
    pts, ivs = frames
    with pytest.raises(ValueError, match="how"):
        interval_join(pts, ivs, how="outer")
    with pytest.raises(ValueError, match="positive"):
        interval_join(pts, ivs, bucket_seconds=0)


# ---------------------------------------------------------------- union


class TestIntervalUnion:
    def _run(self, spark, rows):
        from repurpose_spark.operators.intervals import interval_union

        df = spark.createDataFrame(
            rows, "grp string, start timestamp, end timestamp"
        )
        out = interval_union(df, by=("grp",))
        return {r["grp"]: r.asDict() for r in out.collect()}

    def test_overlap_nested_disjoint(self, spark):
        got = self._run(
            spark,
            [
                # a: [9,11) ∪ [10,12) ∪ [10:30,10:45) → [9,12) = 3h, depth 3
                ("a", _ts(9), _ts(11)),
                ("a", _ts(10), _ts(12)),
                ("a", _ts(10, 30), _ts(10, 45)),
                # b: disjoint hours → 2h, depth 1
                ("b", _ts(1), _ts(2)),
                ("b", _ts(3), _ts(4)),
            ],
        )
        assert got["a"]["n_intervals"] == 3
        assert got["a"]["covered_us"] == 3 * 3600 * 1_000_000
        assert got["a"]["max_concurrency"] == 3
        assert got["b"]["covered_us"] == 2 * 3600 * 1_000_000
        assert got["b"]["max_concurrency"] == 1

    def test_touching_is_end_exclusive(self, spark):
        # [1,2) and [2,3): union 2h, but they never stack (close sorts
        # before open at the shared tick)
        got = self._run(
            spark, [("a", _ts(1), _ts(2)), ("a", _ts(2), _ts(3))]
        )
        assert got["a"]["covered_us"] == 2 * 3600 * 1_000_000
        assert got["a"]["max_concurrency"] == 1

    def test_invalid_intervals_dropped(self, spark):
        got = self._run(
            spark,
            [
                ("a", _ts(5), _ts(5)),   # zero-length: end !> start
                ("a", _ts(7), _ts(6)),   # inverted
                ("a", _ts(1), _ts(2)),
            ],
        )
        assert got["a"]["n_intervals"] == 1
        assert got["a"]["covered_us"] == 3600 * 1_000_000

    def test_requires_key(self, spark):
        from repurpose_spark.operators.intervals import interval_union

        df = spark.createDataFrame([], "start timestamp, end timestamp")
        with pytest.raises(ValueError, match="by"):
            interval_union(df, by=())


def _sweep_and_join(pts, ivs):
    sweep = interval_point_counts(
        pts, ivs, on=["k"], sum_col="v", id_cols=["iid"]
    )
    join = (
        interval_join(pts, ivs, on=["k"], bucket_seconds=10)
        .groupBy("iid")
        .agg(F.count(F.lit(1)).alias("n_in"), F.sum("v").alias("sum_v"))
    )
    rows = lambda df: sorted(  # noqa: E731
        tuple(r) for r in df.select("iid", "n_in", "sum_v").collect()
    )
    return rows(sweep), rows(join)


def test_point_counts_null_sum_matches_join(spark):
    """An interval whose points all carry NULL values sums to NULL, as
    the join's sum() does; count still counts them."""
    pts = spark.createDataFrame(
        [("a", _ts(0, 0, 1), None), ("a", _ts(0, 0, 2), None),
         ("a", _ts(0, 0, 5), 7)],
        "k string, ts timestamp, v long",
    )
    ivs = spark.createDataFrame(
        [("i0", "a", _ts(0, 0, 0), _ts(0, 0, 3)),
         ("i1", "a", _ts(0, 0, 0), _ts(0, 0, 6))],
        "iid string, k string, start timestamp, end timestamp",
    )
    sweep, join = _sweep_and_join(pts, ivs)
    assert sweep == join == [("i0", 2, None), ("i1", 3, 7)]


def test_point_counts_match_join_random_with_nulls(spark):
    import random

    rng = random.Random(2024)
    pts = spark.createDataFrame(
        [
            (rng.choice("abc"), _ts(0, 0, rng.randrange(60)),
             None if rng.random() < 0.5 else rng.randrange(-50, 50))
            for _ in range(80)
        ],
        "k string, ts timestamp, v long",
    )
    ivs = []
    for i in range(30):  # short windows, some empty or inverted
        a = rng.randrange(2, 60)
        b = a + rng.randrange(-2, 8)
        ivs.append(
            (f"i{i}", rng.choice("abc"), _ts(0, 0, a), _ts(0, *divmod(b, 60)))
        )
    ivs = spark.createDataFrame(
        ivs, "iid string, k string, start timestamp, end timestamp"
    )
    sweep, join = _sweep_and_join(pts, ivs)
    assert sweep == join
    assert any(r[2] is None for r in sweep)  # the input exercises NULLs
