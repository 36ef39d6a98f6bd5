"""Small-file compaction: rewrite a table so each partition holds few,
right-sized files.

The tier pipeline appends one file set per batch per cell — correct and
idempotent, but after many batches a cell directory holds
O(batches · shuffle_partitions) small parquet files, and at 10^12
sequences the scan's file-listing and per-file open costs dominate.
Compaction is the standard maintenance job (Iceberg: rewrite_data_files;
Delta: OPTIMIZE): rewrite the same rows into ~target-sized files,
preserving the partition layout, committed as a snapshot.

Parquet twin mechanics: ``Warehouse.rewrite`` — the one whole-table
rewrite retention also uses (staged files, crash-safe rename swap, one
full manifest).  The file count per partition comes from
``repartition(n, *partition_chain)``; n is sized from the table's live
bytes / target_file_bytes (``Warehouse.live_files`` — the twin's analog
of reading Iceberg's file-size metadata).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from repurpose_spark.sources.tables import Warehouse


def compact_table(
    wh: Warehouse,
    table: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list | None = None,
    transform=None,
    zorder_by: list | None = None,
) -> dict:
    """Rewrite ``table`` into ~target-sized files; returns before/after
    file counts.  Iceberg branch: delegates to the engine's
    rewrite_data_files procedure (cluster-only).

    ``sort_by``: cluster rows within each output file by these columns
    (``sortWithinPartitions``) so parquet row-group min/max statistics
    prune range predicates — e.g. sorting the hourly tier by ``tick``
    lets a time-range query skip whole row groups without reading them.

    ``transform``: fn(df) -> df applied before the rewrite — e.g.
    remapping a partition column's values to merge partitions (the tier
    pipeline collapses completed ``batch_id`` partitions this way) while
    keeping the hive layout depth identical.

    ``zorder_by``: cluster rows by a Morton key over these columns, with
    bounds read from the LIVE files' parquet footers (metadata only) —
    the whole compaction does one data pass, no bounds scan
    (VERDICT r3 #2).  Appended after any explicit ``sort_by``.
    """
    if wh.use_iceberg:
        wh.spark.sql(
            f"CALL {wh.catalog}.system.rewrite_data_files("
            f"table => '{table}', "
            f"options => map('target-file-size-bytes', "
            f"'{target_file_bytes}'))"
        )
        wh._commit(table, "compact", {"op": "compact"})
        return {"op": "compact"}

    before = wh.live_files(table)
    chain = wh.partition_chain(table)
    df = wh.read(table)
    if transform is not None:
        df = transform(df)
    if zorder_by:
        from repurpose_spark.functions.zorder import (
            parquet_footer_bounds,
            zorder_sort_key,
        )

        bounds = parquet_footer_bounds(wh.path(table), zorder_by)
        # df=df (not None): a zorder column that is hive-partitioned has
        # no footer stats — those columns alone fall back to the agg scan
        sort_by = list(sort_by or []) + [
            zorder_sort_key(df, zorder_by, bounds=bounds)
        ]
    n_out = max(1, -(-sum(before.values()) // target_file_bytes))
    # hive layout: one shuffle keyed on the partition chain; files per
    # partition ≈ n_out · (partition's share of rows)
    df = df.repartition(n_out, *[F.col(c) for c in chain])
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    # the commit carries the post-compact manifest: pre-compact snapshots
    # expire (their files are gone — Iceberg keeps them until expiry),
    # but the POST-compact state is time-travelable
    return wh.rewrite(df, table, "compact", lambda files: {
        "op": "compact",
        "files_before": len(before),
        "files_after": len(files),
        "bytes": sum(files.values()),
    })
