"""Query-side tier routing for continuous aggregates.

The pipeline maintains raw → hourly → daily tiers (operators/rollup.py);
this module answers the read-side question: *given a requested bucket
width, which tier can serve it — and serve it exactly?*  The reference
leaves that choice to the caller (you open the hourly or daily image
stack by path, img2ts.py's per-resolution output dirs); TimescaleDB-style
engines route it.  Here routing is a pure plan-time decision:

* a tier whose resolution **divides** the requested bucket width can be
  re-aggregated to it with zero error (the partials are exact mergeable
  sums/counts/mins/maxes — rollup.py rule 1), so the router picks the
  *coarsest* such tier: a 6 h query reads hourly (~3600× smaller than
  raw), a weekly query reads daily (~86400× smaller);
* any other width (e.g. 90 min over hourly tiers) falls back to raw —
  correctness is never traded for the shortcut.

At 100 TB this is the difference between a dashboard query scanning a
ledger-sized tier table and one re-scanning the raw point corpus; the
routed plan is the same partial+final hash aggregate shape as the tier
build itself (one exchange of bucket partials, test-asserted).

Bucket arithmetic is integer: ``floor(unix_seconds(tick) / width)`` per
TIER row (never per raw point), with the tick reconstituted only after
aggregation — the same trick as rollup_points' positional buckets.
Exactness of re-aggregated sums is the caller's dtype contract: integer
or decimal ``sum_v`` partials re-aggregate bit-exactly (the engine's
tiers use int64 token sums / decimal event sums); float partials would
be shuffle-order-dependent, which is why the tiers never store them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from repurpose_spark.operators.rollup import (
    MERGEABLE,
    bucketed,
    merge_tier,
    raw_partials,
    seconds_bucket,
)


def choose_tier(bucket_seconds: int, resolutions: dict) -> str | None:
    """Name of the coarsest registered tier whose resolution divides
    ``bucket_seconds`` exactly, or ``None`` when only raw can serve it.

    ``resolutions`` maps tier name → resolution in seconds (a falsy
    resolution marks a raw/point tier and never wins the route).  Ties
    cannot occur (two tiers with one resolution would be duplicates).
    """
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    best = None
    for name, res in resolutions.items():
        if res and bucket_seconds % int(res) == 0:
            if best is None or int(res) > int(resolutions[best]):
                best = name
    return best


def routed_rollup(
    bucket_seconds: int,
    tiers: dict,
    raw: DataFrame | None = None,
    key_cols: list = ("cell_id", "doc_id"),
    ts_col: str = "ts",
    value_col: str = "token",
    tick_col: str = "tick",
) -> tuple:
    """Answer a bucket-width query from the cheapest tier that is exact.

    ``tiers`` maps name → ``(tier_df, resolution_seconds)`` where each
    ``tier_df`` holds the MERGEABLE partial columns keyed by
    ``key_cols + [tick_col]``; ``uniq_sketch`` / ``q_sketch`` partials,
    when present, merge along (rollup.py::merge_tier).  Returns
    ``(DataFrame, source)`` where ``source`` is the routed tier name or
    ``"raw"`` — callers (and tests) can assert the route, not just the
    rows.

    When no tier divides the width, ``raw`` (point rows with ``ts_col``
    / ``value_col``) is aggregated directly; omitting it raises rather
    than silently approximating.
    """
    chosen = choose_tier(
        bucket_seconds, {n: r for n, (_, r) in tiers.items()}
    )
    if chosen is not None:
        df, _res = tiers[chosen]
        missing = [c for c in MERGEABLE if c not in df.columns]
        if missing:
            raise ValueError(
                f"tier {chosen!r} lacks mergeable partials: {missing}"
            )
        return _merge_bucketed(df, bucket_seconds, key_cols, tick_col), chosen
    if raw is None:
        raise ValueError(
            f"no tier divides bucket_seconds={bucket_seconds} and no raw "
            "source was provided"
        )
    key_cols = list(key_cols)
    group, tick = seconds_bucket(
        F.unix_timestamp(F.col(ts_col)), int(bucket_seconds), 0, tick_col
    )
    return bucketed(raw, key_cols, raw_partials(value_col), group, tick), "raw"


def _merge_bucketed(
    tier: DataFrame, bucket_seconds: int, key_cols: list, tick_col: str
) -> DataFrame:
    """Arbitrary-width buckets from a tier's partials: integer unix-second
    buckets, so any width works once routed (the tier's resolution
    divides it; UTC unix buckets are midnight-aligned, so calendar widths
    coincide with ``date_trunc``'s).  Every partial the tier carries,
    sketches included, merges by rollup.py's one rule."""
    group, tick = seconds_bucket(
        F.unix_timestamp(F.col(tick_col)), int(bucket_seconds), 0, tick_col
    )
    return merge_tier(tier, key_cols, group, tick)


def realtime_rollup(
    bucket_seconds: int,
    tiers: dict,
    raw: DataFrame,
    materialized_until,
    key_cols: list = ("cell_id", "doc_id"),
    ts_col: str = "ts",
    value_col: str = "token",
    tick_col: str = "tick",
) -> tuple:
    """Real-time continuous aggregate: tiers for history, raw for the tail.

    Continuous-aggregate tiers are materialized up to some watermark; a
    live query still wants the minutes since.  This serves buckets that
    end at or before the watermark's bucket boundary from the routed
    tier (cheap, ledger-sized) and everything from that boundary on from
    raw (whose pushed-down ``ts >= cut`` filter prunes the scan to the
    recent partitions — at 100 TB the raw side touches only the tail).
    The cut is BUCKET-ALIGNED: the bucket containing the watermark is
    served wholly from raw, so no bucket is ever split across sources —
    double counting and seams are impossible by construction, and the
    union equals the all-raw aggregate exactly (test- and
    oracle-asserted).

    ``materialized_until`` is a datetime (or unix seconds) up to which
    the tiers are complete.  Returns ``(DataFrame, source)`` with
    ``source`` the routed tier name feeding the history side.
    """
    from datetime import datetime, timezone

    if isinstance(materialized_until, datetime):
        wm = materialized_until
        if wm.tzinfo is None:
            wm = wm.replace(tzinfo=timezone.utc)
        wm_sec = int(wm.timestamp())
    else:
        wm_sec = int(materialized_until)
    cut = (wm_sec // int(bucket_seconds)) * int(bucket_seconds)

    chosen = choose_tier(
        bucket_seconds, {n: r for n, (_, r) in tiers.items()}
    )
    if chosen is None:
        raise ValueError(
            f"no tier divides bucket_seconds={bucket_seconds}; serve "
            "directly from raw via routed_rollup instead"
        )
    tier_df, _res = tiers[chosen]
    # the raw tail carries no sketch column, so neither does the history:
    # only the exact partials are merged (callers needing a sketch must
    # route fully-materialized ranges)
    hist = _merge_bucketed(
        tier_df.where(F.unix_timestamp(F.col(tick_col)) < cut).select(
            *key_cols, tick_col, *MERGEABLE
        ),
        bucket_seconds,
        key_cols,
        tick_col,
    )
    tail, _ = routed_rollup(
        bucket_seconds,
        {},
        raw=raw.where(F.unix_timestamp(F.col(ts_col)) >= cut),
        key_cols=key_cols,
        ts_col=ts_col,
        value_col=value_col,
        tick_col=tick_col,
    )
    return hist.unionByName(tail), chosen
