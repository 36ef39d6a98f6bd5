"""Cross-tier integrity audit: prove the continuous aggregates agree.

The pipeline writes lineage and row-count metrics alongside every
snapshot (the ledger); this module is the tool that CHECKS them — the
ops answer to "is the daily tier actually consistent with hourly, or
did a crash/compaction race leave a silent gap?"

Two independent invariants, each a bounded Spark job:

1. **tier ≡ re-derivation** — the stored coarse tier, its batch slices
   merged (``rollup_from_partials(daily, "day")``: daily is a partial
   tier, one row per batch that delivered a doc), must row- and
   value-match ``rollup_from_partials(fine)``.  Mergeable partials are
   exact integers/decimals, so the comparison is byte-equality, not a
   tolerance.  Sketch blobs are excluded (HLL/KLL bytes are
   merge-order-dependent by design; their row presence still checks).
2. **ledger ≡ tier** — per-cell ``sum(n_points)`` recorded by the batch
   lineage rows must equal the hourly tier's actual per-cell sums.

All joins are tier×tier or tier×ledger (the ledger is O(batches ×
cells) rows built driver-side) — nothing here re-reads raw points, so
the audit stays ledger-sized at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from repurpose_spark.operators.rollup import MERGEABLE, rollup_from_partials


def diff_tiers(
    fine: DataFrame,
    coarse: DataFrame,
    unit: str,
    key_cols: list = ("cell_id", "doc_id"),
    tick_col: str = "tick",
) -> DataFrame:
    """Mismatch rows between a stored coarse tier and its re-derivation
    from the fine tier — empty result == consistent.

    Each row carries the group keys, the tick, a ``kind`` of
    ``missing`` (derived but absent from the stored tier), ``extra``
    (stored but underivable), or ``value`` (present in both, partials
    differ), and both sides' partial structs for triage.
    """
    key_cols = list(key_cols)
    on = key_cols + [tick_col]
    want = rollup_from_partials(
        fine, unit, key_cols=key_cols, tick_col=tick_col
    ).select(*on, F.struct(*MERGEABLE).alias("_want"))
    have = coarse.select(
        *[F.col(c).cast(want.schema[c].dataType) for c in on],
        F.struct(*MERGEABLE).alias("_have"),
    )
    cond = None
    for c in on:
        piece = want[c].eqNullSafe(have[c])
        cond = piece if cond is None else cond & piece
    joined = want.join(have, on=cond, how="full_outer")
    kind = (
        F.when(have["_have"].isNull(), F.lit("missing"))
        .when(want["_want"].isNull(), F.lit("extra"))
        .when(~want["_want"].eqNullSafe(have["_have"]), F.lit("value"))
    )
    return (
        joined.select(
            *[F.coalesce(want[c], have[c]).alias(c) for c in on],
            kind.alias("kind"),
            want["_want"].alias("expected"),
            have["_have"].alias("actual"),
        )
        .where(F.col("kind").isNotNull())
    )


def audit_pipeline(pipe, sample_cells: int | None = None) -> dict:
    """Run the two invariants against a :class:`TierPipeline`'s
    warehouse state; returns a report dict with per-invariant mismatch
    counts and an overall ``ok``.

    ``sample_cells``: optionally restrict invariant 1 to that many
    cells (deterministic take of the distinct cell ids) — the routine
    sampling mode for very large tiers; the ledger check is already
    ledger-sized and always runs in full.
    """
    hourly = pipe.wh.read(pipe.hourly_table()).drop("batch_id")
    daily = rollup_from_partials(
        pipe.wh.read(pipe.daily_table()).drop("batch_id"), "day"
    )

    if sample_cells is not None:
        cells = [
            r["cell_id"]
            for r in hourly.select("cell_id")
            .distinct()
            .orderBy("cell_id")
            .limit(sample_cells)
            .collect()
        ]
        hourly_scope = hourly.where(F.col("cell_id").isin(cells))
        daily_scope = daily.where(F.col("cell_id").isin(cells))
    else:
        hourly_scope, daily_scope = hourly, daily

    tier_mismatches = diff_tiers(
        hourly_scope, daily_scope, "day", key_cols=["cell_id", "doc_id"]
    ).count()

    cell_rows = [
        {"cell_id": r["cell_id"], "n_points": r["n_points"]}
        for r in pipe.ledger_rows()
        if r.get("status") == "cell"
    ]
    ledger_mismatches = 0
    if cell_rows:
        led = (
            pipe.spark.createDataFrame(
                cell_rows, "cell_id long, n_points long"
            )
            .groupBy("cell_id")
            .agg(F.sum("n_points").alias("led_points"))
        )
        act = hourly.groupBy(
            F.col("cell_id").cast("long").alias("cell_id")
        ).agg(F.sum("n_points").alias("act_points"))
        ledger_mismatches = (
            led.join(act, "cell_id", "full_outer")
            .where(
                ~F.col("led_points").eqNullSafe(F.col("act_points"))
            )
            .count()
        )

    report = {
        "tier_mismatches": tier_mismatches,
        "ledger_mismatches": ledger_mismatches,
        "sampled_cells": sample_cells,
    }
    report["ok"] = tier_mismatches == 0 and ledger_mismatches == 0
    return report
