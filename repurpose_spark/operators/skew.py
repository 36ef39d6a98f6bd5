"""Explicit skew salting: two-phase (salted partial → final merge) rollups.

The reference processes each 5-deg cell as one whole unit of work, so a
giant cell is simply a slow straggler (no mitigation exists; SURVEY.md §4
"skew handling: absent").  At 10^12 sequences a hot cell would stall an
entire stage, so salting is first-class here (BASELINE.json north_rule:
"partitioning / shuffle / skew handled explicitly").

Design rules (SURVEY.md §7.3): salting must **commute** with the
aggregation — all tier partials (count/sum/min/max) are associative and
commutative, so

    groupBy(keys)        ==  groupBy(keys, salt) |> merge on keys

exactly, for any salt assignment.  Order-sensitive ops (first-per-slot
dedup) are expressed as ``min_by`` over a total order *before* salting, so
they stay associative too.

Two layers:

* :func:`detect_hot_keys` — a cheap count sketch (optionally on a sample)
  that returns the keys whose row share exceeds ``threshold``.  At cluster
  scale this reads a tiny aggregate, never the raw data twice (feed it the
  finest tier, which is ~unit/dt smaller than raw points).
* :func:`rollup_points_salted` — the two-phase aggregate (salted
  partials, then rollup.py's one partial merge on the true keys).  Salt
  is derived from a *fine* column (``doc_id``) via ``xxhash64`` so rows
  of a hot coarse key spread over ``buckets`` reducers; non-hot keys
  keep salt 0 (single partial each) so the merge stage stays tiny.

Note Spark's hash aggregation already does map-side partial aggregation,
which absorbs skew when group cardinality is low; explicit salting is the
scale path for *high-cardinality-within-hot-key* shapes — e.g. per-cell
tick series where one cell holds 30% of all docs — and for
``applyInPandas`` stages that have no partial-agg escape hatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from repurpose_spark.config import EPOCH_STR
from repurpose_spark.functions.cells import salt_expr
from repurpose_spark.operators.rollup import merge_tier, rollup_points
from repurpose_spark.plans.parallelism import write_partitions

SALT = "__salt"


def detect_hot_keys(
    df: DataFrame,
    key_cols: list = ("cell_id",),
    threshold: float = 0.05,
    sample_fraction: float | None = None,
) -> list:
    """Keys holding more than ``threshold`` of all rows.

    Returns a list of Row objects (one per hot key).  With
    ``sample_fraction`` the sketch runs on a bernoulli sample — shares are
    ratios, so sampling is unbiased and the scan cost is bounded.
    """
    key_cols = list(key_cols)
    d = df.sample(sample_fraction) if sample_fraction else df
    counts = d.groupBy(*key_cols).agg(F.count("*").alias("__n"))
    total = counts.agg(F.sum("__n")).collect()[0][0] or 0
    if not total:
        return []
    hot = counts.where(F.col("__n") > threshold * total).select(*key_cols)
    return hot.collect()


def salt_for(
    fine_col: str,
    buckets: int,
    hot_keys: list | None = None,
    key_cols: list = ("cell_id",),
) -> F.Column:
    """Salt expression: ``salt_expr(fine, buckets)`` for rows whose coarse
    key is hot, 0 otherwise (None hot_keys = salt everything)."""
    s = salt_expr(fine_col, buckets)
    if hot_keys is None:
        return s
    if not hot_keys:
        return F.lit(0)
    key_cols = list(key_cols)
    pred = F.lit(False)
    for row in hot_keys:
        match = F.lit(True)
        for k in key_cols:
            match = match & (F.col(k) == F.lit(row[k]))
        pred = pred | match
    return F.when(pred, s).otherwise(F.lit(0))


def ordered_export_salted(
    df: DataFrame,
    key_cols: list = ("cell_id",),
    order_cols: list = ("doc_id", "pos"),
    fine_col: str = "pos",
    buckets: int = 16,
    hot_keys: list | None = None,
) -> DataFrame:
    """Per-key clustered export with hot keys fanned out — the shape
    where salting measurably wins (artifacts/BENCH_SKEW.json: 1.35× at a 21% hot
    cell; rollups DON'T need it, map-side combine absorbs them).

    ``repartition(key)`` + sort-within-partition puts a hot key's
    entire row set into ONE task's sort; here hot keys (from
    :func:`detect_hot_keys`; None = salt everything) spread over
    ``buckets`` slices, each still internally sorted on
    (key, *order_cols) — parquet row-group min/max pruning is preserved
    per output file, at the cost of ≤``buckets`` files per hot key (the
    standard files-vs-stragglers trade).  Cold keys keep salt 0: one
    slice each, exactly the unsalted layout."""
    key_cols = list(key_cols)
    n = write_partitions(df.sparkSession)
    parts = [F.col(c) for c in key_cols] + [
        salt_for(fine_col, buckets, hot_keys, key_cols)
    ]
    return df.repartition(n, *parts).sortWithinPartitions(
        *key_cols, *order_cols
    )


def rollup_points_salted(
    points: DataFrame,
    unit_seconds: int,
    key_cols: list = ("cell_id",),
    fine_col: str = "doc_id",
    buckets: int = 8,
    hot_keys: list | None = None,
    pos_col: str = "pos",
    value_col: str = "token",
    dt_seconds: int = 60,
    epoch: str = EPOCH_STR,
) -> DataFrame:
    """Two-phase salted rollup, bit-identical to the unsalted rollup.

    Phase 1 groups on ``(keys..., salt, bucket)`` — hot keys fan out over
    ``buckets`` reducers; phase 2 merges the ≤buckets partials per
    (key, tick).  The merge input is tiny (one row per salt per tick), so
    phase 2 never skews regardless of the raw distribution.
    """
    key_cols = list(key_cols)
    salted = points.withColumn(
        SALT, salt_for(fine_col, buckets, hot_keys, key_cols)
    )
    partial = rollup_points(
        salted,
        unit_seconds,
        key_cols=[*key_cols, SALT],
        pos_col=pos_col,
        value_col=value_col,
        dt_seconds=dt_seconds,
        epoch=epoch,
    )
    # same tick — the merge only collapses the salt
    return merge_tier(partial, key_cols, F.col("tick"))
