"""SemDeDup-style semantic deduplication over an embedding column.

The dedup tiers so far catch LEXICAL overlap (exact fingerprints,
MinHash/SimHash shingles, duplicate lines); semantic dedup catches
documents that say the same thing in different words — the published
recipe (SemDeDup, Abbas et al. 2023, arXiv:2303.09540) clusters the
embedding space and drops, within each cluster, every member with a
too-similar higher-priority neighbour.  Keeping the member with LOW
similarity to the cluster centroid (the paper's best-performing keep
rule) biases the surviving corpus toward cluster edges — more diverse
training data per retained token.

Determinism is the engineering constraint here: k-means with random
init gives a different kept-set per run, which poisons resumability,
lineage, and oracle certification alike.  This operator therefore
seeds clusters with MEDOIDS chosen by the content-stable hash rank the
sampling/split family already uses (bottom-k by ``md5(id || seed)``,
operators/sampling.py) — the same corpus always produces the same
clusters, on any cluster size, at any partitioning.  An optional Lloyd
refinement (``ivf_centroids``/``kmeans_fit`` in similarity.py) exists
for quality-over-determinism runs; the certified default is 0 rounds.

Plan shape (the 100 TB audit):

1. seed selection: one ``orderBy(hash).limit(k)`` — TakeOrdered, no
   full sort, k rows to the driver (k is a constant, like the IVF
   training sample, similarity.py:212).
2. assignment: the k seed vectors ride the plan as LITERAL arrays and
   each row picks ``argmax cosine`` via ``array_min(array(struct(-cos,
   sid)))`` — the ivf_assign pattern (similarity.py:252): pure JVM,
   in-row, ZERO shuffle, no k× row inflation.
3. prune: one self-join shuffled on ``cluster_id``.  Within-cluster
   work is quadratic in cluster size — bounded by corpus/k on average;
   k is the operator's scale knob (the paper runs k ≈ corpus/10⁴).  For
   skewed embedding spaces compose with the hyperplane-LSH signature
   (similarity.py:66) as a sub-bucket inside each cluster, the same
   escalation bound_lsh_buckets applies to the near-dup self-join.

Cosine doubles are computed by the same sequential fold on both
engines (Spark ``F.aggregate`` / DuckDB ``list_dot_product``), so the
kept-set — thresholds and argmax compare UNROUNDED doubles — is
bitwise-reproducible against the SQL oracle; only displayed values are
rounded.

Reference analog: repurpose subsets work by deterministic cell lists
(grid.py); this is the embedding-space equivalent — content-addressed
cluster seeds instead of a fixed geographic grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from repurpose_spark.plans import cache

from .sampling import sample_hash_expr
from .similarity import _dot, _norm


def seed_medoids(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "r5",
) -> list:
    """The k deterministic cluster seeds: rows ranking smallest by
    ``md5(id || seed)`` (ties by id).  Returns ``[(sid, id, [float,…]),
    …]`` with sid = 0..k-1 in rank order.  One TakeOrdered job, k rows
    collected — bounded by the constant k, never by data volume."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    rows = (
        emb.select(
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_v"),
            sample_hash_expr(id_col, seed).alias("_h"),
        )
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    return [
        (sid, r["_id"], [float(x) for x in r["_v"]])
        for sid, r in enumerate(rows)
    ]


def assign_to_seeds(
    emb: DataFrame,
    seeds: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-seed assignment by cosine: adds ``cluster_id`` (the seed's
    sid; ties → lowest sid) and ``centroid_cos`` (unrounded double) to
    every row.  In-row JVM expression over literal seed arrays — zero
    shuffle, zero row inflation (the ivf_assign pattern with cosine in
    place of squared distance)."""
    v = F.col(vec_col)
    nv = _norm(v)
    cands = []
    for sid, _id, vec in seeds:
        cv = F.array(*[F.lit(float(x)) for x in vec])
        cos = _dot(v, cv) / (nv * _norm(cv))
        cands.append(
            F.struct((-cos).alias("negcos"), F.lit(sid).alias("sid"))
        )
    best = F.array_min(F.array(*cands))
    return emb.withColumn("cluster_id", best["sid"]).withColumn(
        "centroid_cos", -best["negcos"]
    )


def refine_seeds(
    emb: DataFrame,
    seeds: list,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list:
    """Distributed Lloyd refinement of the medoid seeds — the opt-in
    quality path (the certified default is 0 rounds: Lloyd's cluster
    means are distributed float sums, so the refined centroids are
    partition-order-sensitive in the last bits and deliberately NOT in
    the exact-oracle contract; determinism-critical pipelines skip it).

    Each round is ONE aggregate: in-row nearest-seed assignment (no
    shuffle) → groupBy(cluster) of dim per-element means (map-side
    partials; k×dim cells to the driver — constants, never data).
    Empty clusters keep their previous centroid.  Returns the same
    ``[(sid, id, vector)]`` shape (id = None for moved centroids) for
    :func:`assign_to_seeds` / :func:`semantic_dedup`.
    """
    if iters <= 0:
        return seeds
    dim = len(seeds[0][2])
    cur = seeds
    for _ in range(iters):
        asg = assign_to_seeds(
            emb.select(id_col, vec_col), cur, id_col, vec_col
        )
        rows = (
            asg.groupBy("cluster_id")
            .agg(
                *[
                    F.avg(F.col(vec_col)[j]).alias(f"m{j}")
                    for j in range(dim)
                ]
            )
            .collect()
        )
        moved = {
            r["cluster_id"]: [float(r[f"m{j}"]) for j in range(dim)]
            for r in rows
        }
        cur = [
            (sid, None if sid in moved else _id, moved.get(sid, vec))
            for sid, _id, vec in cur
        ]
    return cur


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "r5",
    round_to: int = 4,
    lloyd_iters: int = 0,
) -> DataFrame:
    """SemDeDup over ``emb``: hash-seeded medoid clustering, then within
    each cluster drop every member that has a HIGHER-PRIORITY neighbour
    at ``cosine >= threshold``.  Priority is the paper's keep-low rule:
    (centroid_cos ASC, id ASC) — the member least like its centroid
    survives its duplicate set, biasing retention toward cluster edges.

    The drop rule is declarative, not sequential-greedy: a member is
    dropped iff ANY higher-priority member sits within the threshold
    (the same semantics as the LSH keep-first tier in
    ingest.py/dedup.py — order-free, partition-independent).

    Returns one row per input: ``(id, cluster_id, centroid_cos
    [rounded], kept)``.  Downstream keeps ``kept`` rows; the full frame
    is the audit/lineage surface (how much each cluster shed).

    ``lloyd_iters > 0`` refines the medoid seeds with that many
    distributed Lloyd rounds first (:func:`refine_seeds`) — better
    clusters, but the kept-set inherits the float-sum partition
    sensitivity of the cluster means and leaves the exact-oracle
    contract; the certified default is 0.
    """
    seeds = seed_medoids(emb, k, id_col, vec_col, seed)
    if lloyd_iters:
        seeds = refine_seeds(emb, seeds, lloyd_iters, id_col, vec_col)
    # the assignment frame feeds three plan legs (both self-join sides
    # and the output)
    asg = cache.persist(
        assign_to_seeds(emb.select(id_col, vec_col), seeds, id_col, vec_col)
    )
    a = asg.select(
        F.col(id_col).alias("_aid"),
        F.col(vec_col).alias("_avec"),
        F.col("cluster_id").alias("_acl"),
        F.col("centroid_cos").alias("_accos"),
    )
    b = asg.select(
        F.col(id_col).alias("_bid"),
        F.col(vec_col).alias("_bvec"),
        F.col("cluster_id").alias("_bcl"),
        F.col("centroid_cos").alias("_bccos"),
    )
    prio = (F.col("_accos") < F.col("_bccos")) | (
        (F.col("_accos") == F.col("_bccos"))
        & (F.col("_aid") < F.col("_bid"))
    )
    pair_cos = _dot(F.col("_avec"), F.col("_bvec")) / (
        _norm(F.col("_avec")) * _norm(F.col("_bvec"))
    )
    dropped = (
        a.join(b, on=[F.col("_acl") == F.col("_bcl")])
        .where(prio & (pair_cos >= F.lit(float(threshold))))
        .select(F.col("_bid").alias(id_col))
        .distinct()
    )
    out = (
        asg.join(
            dropped.withColumn("_dropped", F.lit(True)), on=id_col, how="left"
        )
        .select(
            F.col(id_col),
            F.col("cluster_id").cast("int").alias("cluster_id"),
            F.round("centroid_cos", round_to).alias("centroid_cos"),
            F.coalesce(~F.col("_dropped"), F.lit(True)).alias("kept"),
        )
    )
    return out


def cluster_profile(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "r5",
) -> DataFrame:
    """Per-cluster audit frame for the hash-seeded assignment:
    ``(cluster_id, n, min_centroid_cos, max_centroid_cos)``.  Min/max
    (order statistics of bitwise-reproducible doubles) rather than a
    mean keep the profile EXACTLY oracle-able — a distributed float sum
    is partition-order-dependent, an extreme is not."""
    seeds = seed_medoids(emb, k, id_col, vec_col, seed)
    asg = assign_to_seeds(emb.select(id_col, vec_col), seeds, id_col, vec_col)
    return (
        asg.groupBy(F.col("cluster_id").cast("int").alias("cluster_id"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("centroid_cos"), 4).alias("min_centroid_cos"),
            F.round(F.max("centroid_cos"), 4).alias("max_centroid_cos"),
        )
    )
