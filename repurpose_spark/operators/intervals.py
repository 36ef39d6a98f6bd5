"""Bucketed interval (range-overlap) join: points × [start, end) windows.

Spark has no native interval-containment join — expressed naively
(``points.join(intervals, ts.between(start, end))``) Catalyst plans a
BroadcastNestedLoopJoin or a cartesian product: O(|points| × |intervals|)
comparisons, the canonical scale-killer for "which maintenance window /
session / incident does this sample fall in" queries.  The reference
hits the same shape when matching observation timestamps into image
time windows (``src/repurpose/img2ts.py:652-668`` hands each cell's
points to a window-bounded resampler); this operator is the
set-oriented generalization.

Strategy — the standard bucketed range join (the same decomposition
Databricks' range-join hints and PostGIS tile joins use):

1. pick a bucket width ``W`` (seconds); a point belongs to exactly ONE
   bucket ``floor(epoch_micros(ts) / W·1e6)``;
2. explode each interval into the buckets it overlaps —
   ``sequence(bucket(start), bucket(end − 1µs))`` — a fan-out of
   ``ceil(len/W) + 1`` rows per interval, bounded and chosen by the
   caller to match the median interval length;
3. hash-join on ``(on_keys…, bucket)`` — an EQUI-join Catalyst can
   shuffle or broadcast — then refine with the exact
   ``start ≤ ts < end`` predicate.

Because a point has exactly one bucket and an interval covers that
bucket at most once, every true (point, interval) pair appears exactly
once — no post-join dedup.  At 100 TB the shuffle carries points once
(hashed on keys+bucket) and intervals ``len/W`` times; with dim-sized
interval sets (maintenance windows, incident lists) pass
``broadcast_intervals=True`` and the points never shuffle at all.
Hot buckets (a burst hour) are ordinary hash-join skew — AQE's skew
split applies, or choose a finer ``W``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_BUCKET = "_ivj_bucket"


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    on: list | None = None,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int = 3600,
    end_inclusive: bool = False,
    how: str = "inner",
    broadcast_intervals: bool = False,
) -> DataFrame:
    """Join point rows to every interval row whose ``[start, end)``
    (or ``[start, end]`` with ``end_inclusive``) contains the point's
    ``ts_col``, optionally also matching the equi-keys ``on``.

    ``how``: ``inner`` (matching pairs) or ``left`` (keep unmatched
    points with null interval columns).  Interval rows with
    ``end < start`` (or ``end ≤ start`` when end-exclusive) match
    nothing by construction and are dropped up front.

    Column names must be disjoint between the two frames apart from the
    ``on`` keys (same protected-name contract as collocate, SURVEY P6)
    — a shared name would make the refine predicate ambiguous.
    """
    on = list(on or [])
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    clash = (set(points.columns) & set(intervals.columns)) - set(on)
    if clash:
        raise ValueError(
            f"point/interval column names must be disjoint apart from the "
            f"join keys; shared: {sorted(clash)}"
        )
    w_us = F.lit(int(bucket_seconds) * 1_000_000)

    def _us(c):
        # exact integer epoch micros (no float epoch math); the cast
        # lifts TIMESTAMP_NTZ (what parquet scans yield) to TIMESTAMP —
        # a monotonic map applied identically to both sides, so bucket
        # containment is preserved regardless of session timezone
        return F.unix_micros(F.col(c).cast("timestamp"))

    pts = points.withColumn(_BUCKET, F.floor(_us(ts_col) / w_us))
    end_us = _us(end_col) - (F.lit(0) if end_inclusive else F.lit(1))
    valid = (
        F.col(end_col) >= F.col(start_col)
        if end_inclusive
        else (F.col(end_col) > F.col(start_col))
    )
    ivs = (
        intervals.where(valid)
        .withColumn(
            _BUCKET,
            F.explode(
                F.sequence(F.floor(_us(start_col) / w_us), F.floor(end_us / w_us))
            ),
        )
    )
    if broadcast_intervals:
        ivs = F.broadcast(ivs)

    in_range = (pts[ts_col] >= ivs[start_col]) & (
        pts[ts_col] <= ivs[end_col]
        if end_inclusive
        else pts[ts_col] < ivs[end_col]
    )
    cond = pts[_BUCKET] == ivs[_BUCKET]
    for k in on:
        cond = cond & pts[k].eqNullSafe(ivs[k])
    joined = pts.join(ivs, cond & in_range, how)
    keep_pts = [pts[c] for c in points.columns]
    keep_ivs = [ivs[c] for c in intervals.columns if c not in on]
    return joined.select(*keep_pts, *keep_ivs)

def interval_point_counts(
    points: DataFrame,
    intervals: DataFrame,
    *,
    on: list,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    sum_col: str | None = None,
    id_cols: list | None = None,
    count_alias: str = "n_in",
    sum_alias: str = "sum_v",
) -> DataFrame:
    """Per-interval point count (and sum) over ``[start, end)`` — the
    prefix-sum sweep equivalent of ``interval_join(...).groupBy(id)
    .agg(count(*), sum(col))`` for inner-join semantics (intervals with
    zero points are omitted, exactly like the join).

    Guide §8 shape: the bucketed join materializes the full
    points×intervals fan-out (quadratic per key — measured 12M
    intermediate rows for 1M events at sf1.0) only to collapse it
    again.  The aggregate only needs ``F(end) − F(start)`` of the
    per-key running point count/sum, so this sweeps once instead:
    aggregate points per (key, ts), plant two probe rows per interval
    (start, end), one window sort per key computes running totals, and
    the per-interval difference is exact int64 arithmetic.  Cost is
    O((points + intervals) log) with ONE shuffle on the keys, versus
    the join's O(points × intervals-per-bucket) intermediate.

    Probe rows order BEFORE point rows at equal timestamp, so a probe
    at ``x`` sees exactly the points with ``ts < x`` — making the
    difference count ``start ≤ ts < end`` inclusively/exclusively
    identical to the join's refine predicate.  Parallelism is bounded
    by the key cardinality (one window partition per key); for few,
    huge keys the bucketed join may still win — keep both.
    """
    on = list(on)
    id_cols = list(id_cols or [])
    s = F.col(sum_col) if sum_col is not None else F.lit(0)
    # _n counts non-null sum values, so an interval whose values are all
    # NULL sums to NULL, as the join's sum() does
    pts = points.groupBy(
        *on, F.col(ts_col).alias("_t")
    ).agg(
        F.count(F.lit(1)).alias("_c"), F.count(s).alias("_n"),
        F.sum(s).alias("_s"),
    ).select(
        *on,
        "_t",
        F.lit(1).alias("_pr"),
        "_c",
        "_n",
        "_s",
        F.lit(0).alias("_sign"),
        *[F.lit(None).cast(intervals.schema[c].dataType).alias(c)
          for c in id_cols],
    )
    valid = intervals.where(F.col(end_col) > F.col(start_col))

    def probe(col, sign):
        return valid.select(
            *on,
            F.col(col).alias("_t"),
            F.lit(0).alias("_pr"),
            F.lit(0).cast("long").alias("_c"),
            F.lit(0).cast("long").alias("_n"),
            F.lit(0).cast("long").alias("_s"),
            F.lit(sign).alias("_sign"),
            *id_cols,
        )

    allr = pts.unionByName(probe(start_col, -1)).unionByName(
        probe(end_col, 1)
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy(*on)
        .orderBy("_t", "_pr")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = allr.select(
        *on,
        *id_cols,
        "_sign",
        "_pr",
        (F.col("_sign") * F.sum("_c").over(w)).alias("_dc"),
        (F.col("_sign") * F.sum("_n").over(w)).alias("_dn"),
        (F.col("_sign") * F.sum("_s").over(w)).alias("_ds"),
    ).where(F.col("_pr") == 0)
    out = (
        cum.groupBy(*id_cols, *on)
        .agg(
            F.coalesce(F.sum("_dc"), F.lit(0).cast("long")).alias(
                count_alias
            ),
            F.when(F.sum("_dn") > 0, F.sum("_ds")).alias(sum_alias),
        )
        .where(F.col(count_alias) > 0)
    )
    return out


def interval_union(
    intervals: DataFrame,
    *,
    by: list | tuple = (),
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Per-key sweep-line union of ``[start, end)`` intervals: total
    covered time, interval count, and peak concurrency — the
    "how much of the day was under an incident / maintenance window /
    session, and how deep did they stack" rollup (reference analog:
    the per-cell coverage metadata img2ts accumulates while matching
    observation windows, ``src/repurpose/img2ts.py:652-668`` — here as
    a set-oriented aggregate instead of a per-cell loop).

    Returns one row per ``by`` key:

    * ``n_intervals``  — valid (end > start) interval count,
    * ``covered_us``   — length of the UNION of the intervals in
      integer epoch micros (overlaps counted once),
    * ``max_concurrency`` — the sweep's peak open-interval depth.

    Plan: ONE shuffle on ``by`` and ONE window sort — every interval
    becomes two ±1 boundary edges (ends sort before starts at an
    equal tick: end-exclusive semantics), and a single sweep yields
    all three outputs at once: the running ±1 sum is the depth (peak
    = max), and the union length is Σ (next_t − t) over edges whose
    depth is positive — ``lead`` rides the same partition/order as
    the running sum, so Catalyst plans one sort, no self-join.
    Every quantity is integer micros end to end, so the aggregate is
    EXACT (no float epoch math).  At scale this is the same shape as
    any per-key ordered scan (collocate, sessionize): skewed keys are
    ordinary sort-skew, AQE-splittable, and the output is one row per
    key so nothing downstream reshuffles.
    """
    from pyspark.sql import Window

    by = list(by)
    if not by:
        raise ValueError("interval_union needs at least one 'by' key")

    def _us(c):
        # exact integer epoch micros; cast lifts TIMESTAMP_NTZ exactly
        # as interval_join does, so both operators agree on the axis
        return F.unix_micros(F.col(c).cast("timestamp"))

    iv = intervals.where(F.col(end_col) > F.col(start_col)).select(
        *by, _us(start_col).alias("_s"), _us(end_col).alias("_e")
    )
    edges = iv.select(
        *by,
        F.explode(
            F.array(
                F.struct(F.col("_s").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("_e").alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("ev"),
    ).select(*by, F.col("ev.t").alias("t"), F.col("ev.d").alias("d"))

    w_order = Window.partitionBy(*by).orderBy("t", "d")
    w_sweep = w_order.rowsBetween(Window.unboundedPreceding, 0)
    depth = F.sum("d").over(w_sweep)
    gap = F.lead("t").over(w_order) - F.col("t")  # null on the last edge
    swept = edges.select(
        *by,
        F.col("d"),
        depth.alias("_depth"),
        F.when(depth > 0, gap).otherwise(F.lit(0)).alias("_covered"),
    )
    return swept.groupBy(*by).agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_intervals"),
        F.sum("_covered").alias("covered_us"),
        F.max("_depth").cast("int").alias("max_concurrency"),
    )
