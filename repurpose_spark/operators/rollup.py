"""Continuous aggregates: raw → hourly → daily retention tiers (A4).

The reference leaves temporal downsampling to a user ``preprocess`` hook
(``df.resample('1D').mean()``, ts2img.py:284-303 and
tests/test_ts2img.py:170-177); here it is first-class.  Two scale rules:

1. **partial+final**: each coarser tier is computed from the next finer
   tier's *partials* (sum/count/min/max), never from raw again — daily
   reads hourly, which is ~3600x smaller than raw points.  avg is derived
   at read time as sum/count, so re-aggregation stays exact.
2. the groupBy keys start with ``cell_id`` so the tier tables inherit the
   cell partitioning and downstream per-cell consumers shuffle nothing.

This module is the one place that says what a tier partial is and how
it merges: :data:`PARTIALS` lists each column's raw aggregate and merge,
and :func:`merge_tier` is the one partials → coarser merge the calendar
tiers, the query router and the salted rollup all call.  Every partial
but ``q_sketch`` is a built-in JVM aggregate (hash agg + map-side
combine via Catalyst); the KLL ``q_sketch`` is folded in Python by
:func:`group_fold`.
"""

from __future__ import annotations

import operator
from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from repurpose_spark.config import EPOCH_STR
from repurpose_spark.functions.qsketch import QuantileSketch

# The tier-partial rule, stated once: column → (aggregate of raw values,
# merge of finer partials).  ``q_sketch`` is the one partial built and
# merged in Python (KLL, see _qsketch_tier and merge_tier).
PARTIALS = {
    "n_points": (lambda v, lg_k: F.count(v), F.sum),
    "sum_v": (lambda v, lg_k: F.sum(v), F.sum),
    "min_v": (lambda v, lg_k: F.min(v), F.min),
    "max_v": (lambda v, lg_k: F.max(v), F.max),
    "uniq_sketch": (
        lambda v, lg_k: F.hll_sketch_agg(v, F.lit(lg_k)),
        lambda c: F.hll_union_agg(c, F.lit(False)),
    ),
}
# the exact partials every tier carries; the sketches are optional
MERGEABLE = tuple(c for c in PARTIALS if c != "uniq_sketch")


def raw_partials(value_col: str, cols=MERGEABLE, lg_k: int = 12) -> list:
    """Aggregates building the tier partials ``cols`` from raw values of
    ``value_col`` (``lg_k`` sizes the HLL ``uniq_sketch``)."""
    return [PARTIALS[c][0](value_col, lg_k).alias(c) for c in cols]


def seconds_bucket(
    seconds: Column, width: int, epoch_sec: int, name: str = "tick"
) -> tuple:
    """Integer bucket: group on ``b = floor(seconds / width)`` and build
    the tick ``epoch_sec + b * width`` only after aggregation — one
    timestamp per group instead of one per input row.  Returns the
    ``(group, tick)`` pair that :func:`bucketed` and :func:`merge_tier`
    take."""
    start = F.col("__b") * width
    if epoch_sec:
        start = F.lit(epoch_sec) + start
    return (
        F.floor(seconds / width).alias("__b"),
        F.timestamp_seconds(start).alias(name),
    )


def _with_tick(df: DataFrame, key_cols: list, tick: Column | None) -> DataFrame:
    """Swap the bucket column after ``key_cols`` for ``tick`` (None: the
    bucket already is the tick)."""
    if tick is None:
        return df
    return df.select(*key_cols, tick, *df.columns[len(key_cols) + 1:])


def bucketed(
    df: DataFrame, key_cols: list, aggs: list, group: Column, tick
) -> DataFrame:
    """``aggs`` per (keys…, group), the group then replaced by ``tick``."""
    return _with_tick(df.groupBy(*key_cols, group).agg(*aggs), key_cols, tick)


def merge_tier(
    tier: DataFrame, key_cols: list, group: Column, tick=None
) -> DataFrame:
    """The one merge of tier partials into coarser buckets.

    Groups ``tier`` on ``key_cols`` + ``group`` and merges every partial
    column it carries by its :data:`PARTIALS` rule, in the tier's column
    order; other columns (batch ids, salts) are dropped.  ``tick`` is
    built after aggregation (see :func:`seconds_bucket`).  A ``q_sketch``
    merges by KLL in :func:`group_fold` and joins back on the group keys
    NULL-safely; a tier holding only ``n_points`` + ``q_sketch`` merges
    through the KLL fold alone — no JVM aggregate, no join."""
    key_cols = list(key_cols)
    jvm_cols = [c for c in tier.columns if c in PARTIALS]
    jvm = bucketed(
        tier, key_cols, [PARTIALS[c][1](c).alias(c) for c in jvm_cols],
        group, tick,
    )
    if "q_sketch" not in tier.columns:
        return jvm
    rows = _with_tick(
        tier.select(*key_cols, group, "q_sketch", "n_points"), key_cols, tick
    )
    gcols = rows.columns[:-2]
    qt = group_fold(rows, gcols, _KLL_OUT, _kll_merge, _kll_emit)
    if jvm_cols == ["n_points"]:
        return qt
    return _join_sketch(jvm, qt.drop("n_points"), gcols)


def rollup(
    points: DataFrame,
    unit: str,
    key_cols: list = ("cell_id", "doc_id"),
    ts_col: str = "ts",
    value_col: str = "token",
) -> DataFrame:
    """Finest rollup from raw points: one row per (keys, date_trunc(unit, ts))."""
    key_cols = list(key_cols)
    return points.groupBy(
        *key_cols, F.date_trunc(unit, F.col(ts_col)).alias("tick")
    ).agg(*raw_partials(value_col))


def rollup_points(
    points: DataFrame,
    unit_seconds: int,
    key_cols: list = ("cell_id", "doc_id"),
    pos_col: str = "pos",
    value_col: str = "token",
    dt_seconds: int = 60,
    epoch: str = EPOCH_STR,
    sketch_distinct: bool = False,
    sketch_lg_k: int = 12,
    sketch_quantiles: bool = False,
    sketch_q_k: int = 512,
) -> DataFrame:
    """Rollup for the derived positional time axis (ts = epoch + pos*dt).

    ``sketch_distinct=True`` adds a ``uniq_sketch`` HLL partial of
    ``value_col`` per group (distinct-vocabulary tiers; see
    :func:`rollup_distinct_sketch` for semantics and the determinism
    caveat).

    ``sketch_quantiles=True`` additionally joins in a ``q_sketch``
    mergeable KLL partial of ``value_col`` per group (percentile tiers;
    see :func:`rollup_quantile_sketch`).  The sketch is computed by a
    hand-built partial+final pass over the same slim projection and
    equi-joined on the group keys — both sides are tier-sized (raw
    never shuffles for the sketch), and downstream maintenance
    (daily derivation, compaction, incremental refresh) carries the
    column like any other mergeable partial.

    Groups on the integer bucket ``floor(pos*dt / unit)`` and converts to a
    tick timestamp only after aggregation (160k groups instead of 8M rows
    through timestamp codegen) — identical output to
    ``rollup(points_with_ts, unit)`` whenever ``epoch`` is aligned to the
    unit boundary (asserted in tests).  ~4x cheaper per token than
    per-row ``date_trunc``.
    """
    key_cols = list(key_cols)
    epoch_sec = _epoch_seconds(epoch)
    if epoch_sec % unit_seconds != 0:
        raise ValueError("epoch must be aligned to the rollup unit")
    group, tick = seconds_bucket(
        F.col(pos_col).cast("long") * dt_seconds, unit_seconds, epoch_sec
    )
    # uniq_sketch: the only way a non-key column's distinct count
    # survives the partial+final tiers without raw re-reads
    cols = MERGEABLE + (("uniq_sketch",) if sketch_distinct else ())
    jvm = bucketed(
        points, key_cols, raw_partials(value_col, cols, sketch_lg_k),
        group, tick,
    )
    if not sketch_quantiles:
        return jvm
    slim = _with_tick(
        points.select(
            *key_cols, group, F.col(value_col).cast("double").alias("_v")
        ),
        key_cols,
        tick,
    )
    qt = _qsketch_tier(slim, key_cols + ["tick"], sketch_q_k).drop(
        "n_points"  # jvm side already carries the exact count
    )
    return _join_sketch(jvm, qt, key_cols + ["tick"])


def _epoch_seconds(epoch: str) -> int:
    import calendar
    from datetime import datetime

    return calendar.timegm(datetime.fromisoformat(epoch).timetuple())


def rollup_from_partials(
    tier: DataFrame,
    unit: str,
    key_cols: list = ("cell_id", "doc_id"),
    tick_col: str = "tick",
) -> DataFrame:
    """Coarser tier from a finer tier's mergeable partials (exact re-agg;
    a ``uniq_sketch`` column, when present, merges via HLL union, and a
    ``q_sketch`` column via KLL merge — see :func:`merge_tier`)."""
    return merge_tier(
        tier, key_cols, F.date_trunc(unit, F.col(tick_col)).alias("tick")
    )


def _join_sketch(jvm: DataFrame, qt: DataFrame, cols: list) -> DataFrame:
    """Join the sketch column back onto the JVM aggregates NULL-SAFELY:
    groupBy keeps NULL-keyed groups, so a plain equi-join would leave
    their q_sketch NULL and crash the first from_bytes downstream."""
    return jvm.join(qt, on=null_safe_on(jvm, qt, cols), how="left").select(
        *[jvm[c] for c in jvm.columns], qt["q_sketch"]
    )


def with_avg(tier: DataFrame) -> DataFrame:
    """Derive mean at read time — exact under re-aggregation."""
    return tier.withColumn("avg_v", F.col("sum_v") / F.col("n_points"))


# ---------------------------------------------------- distinct-count tiers
def rollup_distinct_sketch(
    points: DataFrame,
    unit: str,
    distinct_col: str,
    key_cols: list = ("cell_id",),
    ts_col: str = "ts",
    lg_k: int = 12,
) -> DataFrame:
    """Finest distinct-count tier: one HLL sketch per (keys, tick).

    Exact ``count_distinct`` does NOT re-aggregate (distinct counts are
    not mergeable partials), so an exact daily-uniques tier would have
    to re-read raw — the one aggregate the partial+final architecture
    cannot carry.  Apache DataSketches HLL closes the gap: sketches ARE
    mergeable (union-of-hourly ≈ sketch-of-raw-day within the sketch
    error — test-enforced), ~2^lg_k bytes each, relative standard error
    ~1.04/sqrt(2^lg_k) (~1.6% at the default lg_k=12).  The TimescaleDB
    continuous-aggregate pattern for distinct counts, on Spark's
    built-in ``hll_sketch_agg`` (JVM, map-side partial merge — no UDF).

    Determinism caveat (deliberate exception to SURVEY §7.3): Spark
    builds per-partition partial sketches and merges them, and HLL_4
    merge results vary with the partition layout WITHIN the error
    bound — estimates are error-bounded, not byte-stable.  This is the
    engine's one approximate, partitioning-sensitive aggregate; use
    exact ``count_distinct`` (or the salted two-phase distinct) where
    byte-stable answers are required and a raw re-read is affordable.
    """
    key_cols = list(key_cols)
    return points.groupBy(
        *key_cols, F.date_trunc(unit, F.col(ts_col)).alias("tick")
    ).agg(*raw_partials(distinct_col, ("uniq_sketch", "n_points"), lg_k))


def with_distinct_estimate(tier: DataFrame) -> DataFrame:
    """Read-time estimate column from the sketch (keeps the sketch for
    further unions — estimates themselves never re-aggregate)."""
    return tier.withColumn(
        "n_distinct_est", F.hll_sketch_estimate("uniq_sketch")
    )


# ------------------------------------------------------- percentile tiers
def rollup_quantile_sketch(
    points: DataFrame,
    unit: str,
    value_col: str,
    key_cols: list = ("cell_id",),
    ts_col: str = "ts",
    k: int = 512,
) -> DataFrame:
    """Finest percentile tier: one mergeable KLL sketch per (keys, tick).

    Exact percentiles are the other non-mergeable aggregate (after
    distinct counts): a daily p99 is not a function of hourly p99s, so
    an exact percentile tier would re-read raw.  The KLL sketch
    (`functions/qsketch.py`) is mergeable with ~O(1/k) RANK error, so
    coarser tiers union finer sketches without raw — the TimescaleDB
    `percentile_agg` continuous-aggregate pattern.

    Scale shape (the part that matters at 100 TB): this is a hand-built
    partial+final aggregate.  Phase 1 runs inside ``mapInPandas`` and
    folds each PARTITION's rows into per-(keys, tick) partial sketches —
    raw values never cross the wire.  Phase 2 groups the
    O(partitions × groups) sketch blobs (~4 KB each at k=512) and merges
    them per group.  Executor memory holds one sketch per live group per
    partition (bounded: ~550 retained float64 at k=512), the same
    footprint contract as the packing partials
    (`operators/packing.py:36`).

    Like the HLL tier, estimates are error-bounded, not byte-stable:
    partition layout changes insert order, which changes which samples
    survive compaction (rank error stays within bound — test-enforced).
    """
    key_cols = list(key_cols)
    slim = points.select(
        *key_cols,
        F.date_trunc(unit, F.col(ts_col)).alias("tick"),
        F.col(value_col).cast("double").alias("_v"),
    )
    return _qsketch_tier(slim, key_cols + ["tick"], k)


def _qsketch_tier(slim: DataFrame, gcols: list, k: int) -> DataFrame:
    """Partial+final over a (gcols..., _v) frame: per-partition partial
    sketches (raw never shuffles), then a per-group merge of the
    O(partitions × groups) blobs."""

    def partial(state, grp):
        sk = QuantileSketch(k) if state is None else state[0]
        sk.update(grp["_v"].to_numpy(dtype=np.float64, na_value=np.nan))
        return sk, sk.n

    return group_fold(slim, gcols, _KLL_OUT, _kll_merge, _kll_emit, partial)


# KLL partial state: (sketch, n_points).  The merge is sample- and
# weight-preserving, so a daily sketch merged from hourly ones equals
# (within rank error) a sketch built directly on the day's raw.
_KLL_OUT = "q_sketch binary, n_points long"


def _kll_merge(state, grp):
    sk, n = (None, 0) if state is None else state
    for b in grp["q_sketch"]:
        other = QuantileSketch.from_bytes(bytes(b))
        sk = other if sk is None else sk.merge(other)
    return sk, n + int(grp["n_points"].sum())


def _kll_emit(state):
    return [(state[0].to_bytes(), state[1])]


# ----------------------------------------------- Python partial+final fold
def group_fold(
    df: DataFrame, gcols: list, out: str, merge, emit, partial=None
) -> DataFrame:
    """Fold rows into one Python state per ``gcols`` group, partial+final.

    ``partial(state, grp)`` folds one pandas group of a map partition's
    raw rows into the group's state (``None`` on first sight), so raw
    never shuffles; ``emit(state)`` gives the state's rows, tuples of
    the ``out`` columns (DDL, appended to ``gcols``).  The emitted rows
    hash-shuffle on ``gcols`` and ``merge(state, grp)`` folds them.
    Without ``partial``, ``df`` already holds emitted rows (a finer
    tier) and only the shuffle + merge run.

    ONE mapInPandas call per partition folds every group it holds.  The
    obvious ``groupBy().applyInPandas`` spelling invokes Python once
    PER GROUP (one Arrow round-trip each) — measured 3-4x the whole
    query's wall at sf0.1's 3,600 hourly groups.  ``repartition(gcols)``
    gives the same all-rows-of-a-key-in-one-task guarantee with
    O(shuffle partitions) Python calls instead of O(groups); executor
    memory holds one state per live group per task."""
    import pandas as pd

    gcols = list(gcols)
    names = gcols + [c.split()[0] for c in out.split(",")]
    schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in gcols
    ) + ", " + out

    def fold(step):
        def run(batches):
            acc: dict[tuple, object] = {}
            for pdf in batches:
                for key, grp in pdf.groupby(gcols, dropna=False, sort=False):
                    kt = key if isinstance(key, tuple) else (key,)
                    acc[kt] = step(acc.get(kt), grp)
            rows = [(*kt, *r) for kt, st in acc.items() for r in emit(st)]
            if rows:
                yield pd.DataFrame(rows, columns=names)

        run.__name__ = step.__name__  # names the phase in query plans
        return run

    if partial is not None:
        df = df.mapInPandas(fold(partial), schema)
    return df.repartition(*gcols).mapInPandas(fold(merge), schema)


def null_safe_on(left: DataFrame, right: DataFrame, cols: list) -> Column:
    """NULL-safe equality join condition over shared column names: a
    NULL group key is a real group (GROUP BY keeps it), which a plain
    equi-join would silently drop."""
    return reduce(
        operator.and_, (left[c].eqNullSafe(right[c]) for c in cols)
    )


def quantile_rows(
    tier: DataFrame, qs: dict | None = None
) -> DataFrame:
    """Long-form read-time estimates: one row per (keys, tick, q label).
    ``qs`` maps label → quantile, default {'p50': .5, 'p90': .9,
    'p99': .99}.  Labels are strings so exact-column alignment never
    trips on float bit patterns."""
    import pandas as pd

    if qs is None:
        qs = {"p50": 0.5, "p90": 0.9, "p99": 0.99}
    labels = list(qs)
    probs = [qs[c] for c in labels]
    passthrough = [
        f.name for f in tier.schema.fields
        if f.name not in ("q_sketch",)
    ]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in tier.schema.fields
        if f.name != "q_sketch"
    ) + ", q string, value_est double"

    def fn(batches):
        for pdf in batches:
            outs = []
            vals = np.empty((len(pdf), len(probs)))
            for i, b in enumerate(pdf["q_sketch"]):
                vals[i] = QuantileSketch.from_bytes(bytes(b)).quantiles(probs)
            for j, lab in enumerate(labels):
                out = pdf[passthrough].copy()
                out["q"] = lab
                out["value_est"] = vals[:, j]
                outs.append(out)
            yield pd.concat(outs, ignore_index=True)

    return tier.mapInPandas(fn, schema)
