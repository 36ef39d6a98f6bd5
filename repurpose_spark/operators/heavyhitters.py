"""Heavy hitters: exact per-group top-k via a Misra–Gries candidate pass.

The third non-mergeable aggregate family the tier architecture hits
(after distinct counts → HLL, percentiles → KLL): "top-k items per
group" cannot be computed from per-partition top-k lists (an item
ranked k+1 everywhere can be the global #1).  The naive exact plan
shuffles EVERY distinct (group, item) pair — at 100 TB with URL- or
user-grade item cardinality that is billions of rows through the
exchange for an answer of k rows per group.

This operator runs the production two-phase shape instead:

1. **Candidates** (Misra–Gries): each partition folds its rows into an
   MG summary of capacity ``m`` per group (mapInPandas, pure dicts);
   partial summaries merge per group.  MG's guarantee: any item with
   true frequency > n/m SURVIVES, and estimates undercount by at most
   n/m.  The shuffle carries O(partitions × groups × m) rows — bounded
   by construction, independent of item cardinality.
2. **Exact verify**: the ≤m candidates per group broadcast back onto
   the raw items (semi-join, map-side), and ONLY their counts aggregate
   exactly (map-side combined → O(groups × m) final rows).  The emitted
   top-k counts are therefore EXACT, not estimates — same
   sketch-then-verify discipline as the MinHash pipeline
   (operators/dedup.py).

3. **Self-certification**: the result carries ``guaranteed`` per group
   — true iff the kth exact count exceeds n_group/m, in which case MG
   provably could not have dropped any true top-k item (or boundary
   tie), so the output is certified exact with no second opinion.  When
   false, the caller should raise ``m`` (the honest failure mode —
   never a silently wrong answer flagged right).

Reference analog: per-cell attribute summaries (stack.py min/max
metadata); the frequent-items generalization is the DataSketches /
TimescaleDB companion of the HLL and KLL tiers.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from repurpose_spark.operators.rollup import group_fold, null_safe_on


def _mg_fold(counts: dict, items, weights, m: int) -> None:
    """Fold weighted items into an MG summary of capacity m (in place).

    Classic decrement generalized to weights: when the table overflows,
    subtract the (m+1)-th largest count from everyone and drop ≤0 —
    equivalent to len(counters)-minus-m rounds of the unit decrement.
    """
    for it, w in zip(items, weights):
        counts[it] = counts.get(it, 0) + int(w)
    if len(counts) > m:
        kth = sorted(counts.values(), reverse=True)[m]
        for it in list(counts):
            c = counts[it] - kth
            if c > 0:
                counts[it] = c
            else:
                del counts[it]


def topk_frequent(
    items_df: DataFrame,
    item_col: str,
    key_cols: list,
    k: int = 5,
    m: int = 256,
) -> DataFrame:
    """(keys…, item) frame → exact per-group top-k with tie-break
    (count desc, item asc) and the per-group ``guaranteed`` flag.
    Output: keys…, item_col, n, rnk, guaranteed."""
    key_cols = list(key_cols)
    gcols = key_cols
    slim = items_df.select(*key_cols, F.col(item_col).alias("_it"))

    def partial(d, grp):
        d = {} if d is None else d
        batch_counts = Counter(grp["_it"])
        _mg_fold(d, batch_counts.keys(), batch_counts.values(), m)
        return d

    def merge(d, grp):
        # rows per group here are bounded by O(map partitions × m), so
        # the per-task footprint is tiny
        d = {} if d is None else d
        _mg_fold(d, grp[item_col], grp["est_n"], m)
        return d

    cands = group_fold(
        slim, gcols, f"{item_col} string, est_n long", merge, dict.items,
        partial,
    ).select(*gcols, item_col)

    # exact verify: only candidate items aggregate — map-side combined,
    # O(groups × m) rows through the exchange regardless of raw volume.
    # Joins are NULL-SAFE: a NULL group key is a real group (GROUP BY
    # keeps it; plain equi-join would silently drop it).
    raw = slim.withColumnRenamed("_it", item_col)
    semi_cond = null_safe_on(raw, cands, gcols + [item_col])
    exact = (
        raw.join(F.broadcast(cands), on=semi_cond, how="leftsemi")
        .groupBy(*gcols, item_col)
        .agg(F.count("*").alias("n"))
    )
    totals = slim.groupBy(*gcols).agg(F.count("*").alias("_total"))

    w = Window.partitionBy(*gcols).orderBy(
        F.desc("n"), F.asc(item_col)
    )
    t_alias = totals.alias("_tot")
    ranked_base = exact.alias("_rk").withColumn(
        "rnk", F.row_number().over(w)
    ).where(F.col("rnk") <= k)
    ranked = ranked_base.join(
        F.broadcast(t_alias),
        on=null_safe_on(ranked_base, t_alias, gcols),
    ).select(
        *[ranked_base[c] for c in gcols],
        item_col, "n", "rnk", "_total",
    )
    wk = Window.partitionBy(*gcols)
    # guaranteed requires BOTH: a full slate of k emitted rows (fewer
    # means MG's merge may have decremented away true top-k candidates
    # — min-over-emitted would not be the kth exact count) AND the kth
    # count exceeding n/m (MG provably retains anything above it)
    return (
        ranked.withColumn(
            "guaranteed",
            (F.count("*").over(wk) >= k)
            & ((F.min("n").over(wk) * m) > F.col("_total")),
        )
        .drop("_total")
        .select(*gcols, item_col, "n", "rnk", "guaranteed")
    )


def top_words(
    docs: DataFrame,
    text_col: str = "text",
    key_cols: list = ("lang", "source"),
    k: int = 5,
    m: int = 256,
) -> DataFrame:
    """Convenience: whitespace words of ``text_col`` as the item stream
    — literally the BPE word pass (`bpe.word_items`), one shared
    tokenization that cannot drift between the two consumers."""
    from repurpose_spark.operators.bpe import word_items

    key_cols = list(key_cols)
    items = word_items(docs, text_col, key_cols)
    return topk_frequent(items, "word", key_cols, k=k, m=m)
