"""Retention: expire finer-tier data beyond its horizon.

The reference has no retention (netCDF files accumulate forever); ours is
the TimescaleDB-style policy implied by the tier design — raw beyond the
hourly horizon is dropped, hourly beyond the daily horizon, etc.  The
coarser tier already holds the aggregates, so expiry loses nothing the
policy promised to keep.

With Iceberg this is a metadata-only ``DELETE WHERE tick < horizon`` on a
day-partitioned table (partition drop + snapshot expiry); the Parquet twin
rewrites the table filtered — same semantics, and the lineage sidecar
records rows kept/dropped either way.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from repurpose_spark.sources.tables import Warehouse


def _infer_partition_cols(data_dir: str) -> list:
    """Recover the hive partition columns (``k=v`` directory chain) of an
    existing parquet table so a rewrite preserves its layout."""
    cols = []
    d = data_dir
    while os.path.isdir(d):
        sub = [s for s in os.listdir(d) if "=" in s and not s.startswith("_")]
        if not sub:
            break
        cols.append(sub[0].split("=", 1)[0])
        d = os.path.join(d, sub[0])
    return cols


def expire_tier(
    wh: Warehouse,
    table: str,
    horizon_tick,
    tick_col: str = "tick",
    partition_by: list | None = None,
) -> dict:
    """Drop rows with tick < horizon_tick; returns kept/dropped counts."""
    if wh.use_iceberg:
        # metadata-only partition drop when the predicate aligns with the
        # partition spec (cluster-only branch; no runtime jar here)
        counts = wh.read(table).agg(
            F.count("*").alias("t"),
            F.count(F.when(F.col(tick_col) >= F.lit(horizon_tick), 1)).alias("k"),
        ).first()
        wh.spark.sql(
            f"DELETE FROM {wh._ident(table)} "
            f"WHERE {tick_col} < TIMESTAMP '{horizon_tick}'"
        )
        metrics = {
            "op": "expire", "horizon": str(horizon_tick),
            "n_kept": counts["k"], "n_dropped": counts["t"] - counts["k"],
        }
        wh._commit(table, "expire", metrics)
        return metrics
    df = wh.read(table)
    keep = df.where(F.col(tick_col) >= F.lit(horizon_tick))
    n_keep = keep.count()
    n_total = df.count()
    # Parquet has no in-place delete: stage the kept rows (preserving the
    # live table's hive partition chain unless overridden), then swap by
    # rename: live → __old, staged → live, delete __old.  A crash leaves
    # either the old or the new directory in place — never neither (the
    # earlier rmtree-then-rename order had a window with no table at all).
    live_data = wh.path(table)
    if partition_by is None:
        partition_by = _infer_partition_cols(live_data) or None
    staged = f"{table}__staged"
    wh.drop(staged)
    wh.write(keep, staged, partition_by=partition_by)
    old = live_data + "__old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(live_data, old)
    os.rename(wh.path(staged), live_data)
    shutil.rmtree(old)
    shutil.rmtree(os.path.dirname(wh.path(staged)), ignore_errors=True)
    metrics = {
        "op": "expire",
        "horizon": str(horizon_tick),
        "n_kept": n_keep,
        "n_dropped": n_total - n_keep,
    }
    # the rewrite replaced every file: its manifest must ride the commit
    # (as compact_table's does), or the newest manifest names deleted files
    wh._commit(table, "expire", {**metrics, **wh._snapshot_state(table)})
    return metrics
