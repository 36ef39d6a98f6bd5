"""Retention: expire finer-tier data beyond its horizon.

The reference has no retention (netCDF files accumulate forever); ours is
the TimescaleDB-style policy implied by the tier design — raw beyond the
hourly horizon is dropped, hourly beyond the daily horizon, etc.  The
coarser tier already holds the aggregates, so expiry loses nothing the
policy promised to keep.

With Iceberg this is a metadata-only ``DELETE WHERE tick < horizon`` on a
day-partitioned table (partition drop + snapshot expiry); the Parquet twin
rewrites the table filtered through ``Warehouse.rewrite`` — same
semantics, and the lineage sidecar records rows kept/dropped either way.
"""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from repurpose_spark.sources.tables import Warehouse


def expire_tier(
    wh: Warehouse,
    table: str,
    horizon_tick,
    tick_col: str = "tick",
) -> dict:
    """Drop rows with tick < horizon_tick; returns kept/dropped counts."""
    kept = F.col(tick_col) >= F.lit(horizon_tick)
    counts = [F.count(F.lit(1)).alias("t"), F.count(F.when(kept, 1)).alias("k")]
    if wh.use_iceberg:
        # metadata-only partition drop when the predicate aligns with the
        # partition spec (cluster-only branch; no runtime jar here)
        n = wh.read(table).agg(*counts).first()
        wh.spark.sql(
            f"DELETE FROM {wh._ident(table)} "
            f"WHERE {tick_col} < TIMESTAMP '{horizon_tick}'"
        )
        metrics = {
            "op": "expire", "horizon": str(horizon_tick),
            "n_kept": n["k"], "n_dropped": n["t"] - n["k"],
        }
        wh._commit(table, "expire", metrics)
        return metrics
    # Parquet has no in-place delete: rewrite the kept rows.  Both counts
    # ride the rewrite's own write job (Observation), so the tier is
    # scanned once
    obs = Observation()

    def metrics(_files):
        n = obs.get
        return {
            "op": "expire", "horizon": str(horizon_tick),
            "n_kept": n["k"], "n_dropped": n["t"] - n["k"],
        }

    keep = wh.read(table).observe(obs, *counts).where(kept)
    return wh.rewrite(keep, table, "expire", metrics)
