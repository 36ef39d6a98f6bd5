"""History-aware dedup ingest — the production loop the incremental
probe exists for, closed end-to-end over the Warehouse.

Reference analog: repurpose's append-new-dates ingest loop
(img2ts.py:798-802) extends a cell store with only the novel slice; this
is the training-corpus generalization, where "already have it" means
exact OR near-duplicate of any document in history, and the history
index is the LSH state materialized by
:func:`operators.dedup.materialize_dedup_index`.

Per ingest batch:

1. within-batch EXACT dedup — window-min over the content fingerprint
   (one shuffle, the curation-stage pattern);
2. within-batch NEAR dedup — :func:`dedup_minhash_lsh` on the survivors,
   greedy keep-first (drop the larger id of every verified pair);
3. history probe — :func:`minhash_probe_indexed` against the
   materialized index (partition-pruned, batch side broadcast): any
   batch doc near-duplicating history is dropped.  Exact re-deliveries
   of history docs land here too (Jaccard 1.0 ≥ threshold) — the exact
   stage is deliberately within-batch only, so history needs no
   fingerprint table;
4. accepted docs APPEND to the warehouse table, the stage-by-stage
   row counts riding the snapshot sidecar as lineage metrics;
5. accepted docs' band/shingle rows APPEND to the index
   (:func:`append_dedup_index`) — the extended index is
   indistinguishable from a from-scratch build over the grown corpus,
   so the next batch's probe sees this one (probe-equality
   test-enforced in tests/test_ingest.py).

Scale shape: stages 1-2 shuffle the BATCH only; stage 3 reads
O(batch-colliding partitions) of index state; stages 4-5 append without
touching existing files.  Nothing in the loop rescans history — the
per-ingest cost contract at 10^12-sequence corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from repurpose_spark.functions.text import fingerprint64
from repurpose_spark.operators.dedup import (
    append_dedup_index,
    dedup_minhash_lsh,
    materialize_dedup_index,
    minhash_probe_indexed,
)


def ingest_with_dedup(
    wh,
    new_docs: DataFrame,
    table: str = "documents",
    index_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    minhash_kwargs: dict | None = None,
) -> dict:
    """Ingest ``new_docs`` into ``wh.<table>``, keeping only documents
    that duplicate neither the batch nor history.  Returns the lineage
    metrics dict (also committed with the table snapshot):
    ``n_in / n_exact_dropped / n_within_near_dropped /
    n_history_near_dropped / n_accepted``.

    ``index_path`` defaults to ``<wh.root>/<table>__dedup_index``.  On
    the FIRST ingest (table absent) the batch bootstraps both the table
    and the index.  ``minhash_kwargs`` forwards to the LSH family
    (k/bands/shingle_n/threshold/step/use_md5) and must stay constant
    across a table's lifetime — the index is keyed by it."""
    import os

    mh = dict(minhash_kwargs or {})
    threshold = mh.pop("threshold", 0.6)
    if index_path is None:
        index_path = os.path.join(wh.root, f"{table}__dedup_index")

    n_in = new_docs.count()
    exact = within = accepted = None
    try:
        # 1. within-batch exact dedup (min-id copy per fingerprint)
        fp = new_docs.withColumn("__fp", fingerprint64(text_col))
        exact = (
            fp.withColumn(
                "__keep", F.min(id_col).over(Window.partitionBy("__fp"))
            )
            .where(F.col(id_col) == F.col("__keep"))
            .drop("__fp", "__keep")
            .persist()
        )
        n_exact = exact.count()

        # 2. within-batch near dedup (greedy keep-first over verified pairs)
        pairs = dedup_minhash_lsh(
            exact, id_col=id_col, text_col=text_col, threshold=threshold, **mh
        )
        losers = pairs.select(F.col("doc_b").alias(id_col)).distinct()
        within = exact.join(losers, id_col, "left_anti").persist()
        n_within = within.count()

        bootstrap = not wh.exists(table)
        if bootstrap:
            accepted, n_accepted = within, n_within
        else:
            # 3. probe the materialized history index (pruned scan, batch
            # side broadcast; exact re-deliveries surface as jaccard 1.0)
            hits = minhash_probe_indexed(
                wh.spark,
                index_path,
                within,
                id_col=id_col,
                text_col=text_col,
                threshold=threshold,
                **mh,
            )
            dup_ids = hits.select(F.col("new_id").alias(id_col)).distinct()
            accepted = within.join(dup_ids, id_col, "left_anti").persist()
            n_accepted = accepted.count()
        metrics = {
            "n_in": n_in,
            "n_exact_dropped": n_in - n_exact,
            "n_within_near_dropped": n_exact - n_within,
            "n_history_near_dropped": n_within - n_accepted,
            "n_accepted": n_accepted,
        }

        # 4. + 5. append accepted docs and their index rows (bootstrap
        # creates both).  The table write commits the metrics as snapshot
        # lineage; the index write uses the identical LSH family so the
        # extended index equals a fresh build over the grown corpus.
        if n_accepted:
            if bootstrap:
                wh.write(accepted, table, mode="overwrite", metrics=metrics)
                materialize_dedup_index(
                    accepted, index_path, id_col=id_col, text_col=text_col,
                    **mh,
                )
            else:
                wh.append(accepted, table, metrics=metrics)
                append_dedup_index(
                    accepted, index_path, id_col=id_col, text_col=text_col,
                    **mh,
                )
        elif wh.exists(table):
            # all-duplicate batch: record the rejected ingest as lineage
            wh._commit(table, "noop-ingest", metrics)
    finally:
        for df in (exact, within, accepted):
            if df is not None:
                df.unpersist()
    return metrics
