"""Small-file compaction: rewrite a table into few, right-sized files.

The tier pipeline appends a file set per batch — correct and idempotent,
but after many batches the table holds O(batches) small parquet files,
and at 10^12 sequences the scan's file-listing and per-file open costs
dominate.  Compaction is the standard maintenance job (Iceberg:
rewrite_data_files; Delta: OPTIMIZE): rewrite the same rows into
~target-sized files, preserving the partition layout, committed as a
snapshot.

Parquet twin mechanics: ``Warehouse.rewrite`` — the one whole-table
rewrite retention also uses (appended files, one full manifest, then the
old files deleted).  A range-laid-out table (a tier: ``cell_id`` is a
data column) is rewritten as ``range_sorted`` files that AQE's coalescing
sizes by bytes.  A table hive-partitioned on other columns is rewritten
through ``repartition(write_partitions, *partition_chain)``: the hash on
the chain sends each partition value to one task, so every partition
comes out as exactly ONE file.  ``TARGET_FILE_BYTES`` sizes an
unpartitioned table without ``cell_id`` (n = live bytes / target, from
the manifest's file entries).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from repurpose_spark.plans.parallelism import write_partitions
from repurpose_spark.sources.tables import (
    Warehouse,
    cluster_sorted,
    is_range_layout,
    range_partitioned,
)

# output file size of an unpartitioned compaction, and the Iceberg
# rewrite_data_files target
TARGET_FILE_BYTES = 128 * 1024 * 1024


def compact_table(
    wh: Warehouse,
    table: str,
    sort_by: list | None = None,
    transform=None,
    zorder_by: list | None = None,
) -> dict:
    """Rewrite ``table`` into range-sorted byte-sized files (the range
    layout), one file per partition (other partitioned tables) or
    ~``TARGET_FILE_BYTES`` files (unpartitioned); returns before/after
    file counts.  Iceberg branch: delegates to the engine's
    rewrite_data_files procedure (cluster-only).

    ``sort_by``: cluster rows within each output file by these columns
    (``sortWithinPartitions``) so parquet row-group min/max statistics
    prune range predicates — e.g. sorting the hourly tier by ``tick``
    lets a time-range query skip whole row groups without reading them.

    ``transform``: fn(df) -> df applied before the rewrite — e.g.
    remapping a partition column's values to merge partitions (the tier
    pipeline collapses its ``batch_id`` slices this way) while keeping
    the hive layout depth identical.  A range-laid-out table applies it
    between the range shuffle and the sort, so a merge keyed on
    ``(cell_id, doc_id, ...)`` shuffles nothing more.

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
            f"'{TARGET_FILE_BYTES}'))"
        )
        wh._commit(table, "compact", {"op": "compact"})
        return {"op": "compact"}

    before = wh.files(table)
    chain = wh.partition_chain(table)
    df = wh.read(table)
    ranged = is_range_layout(df, chain)
    if transform is not None and not ranged:
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
    if ranged:
        df = range_partitioned(df)
        if transform is not None:
            df = transform(df)
        df = cluster_sorted(df, *(sort_by or []))
    else:
        # hive layout: one shuffle keyed on the partition chain, one
        # file per partition value on every core; unpartitioned:
        # bytes-sized files
        n_out = write_partitions(wh.spark) if chain else max(1, -(-sum(
            (e or {}).get("bytes", 0) for e in before.values()
        ) // TARGET_FILE_BYTES))
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
        "bytes": sum(e["bytes"] for e in files.values()),
    })
