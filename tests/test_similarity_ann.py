"""IVF ANN + embedding near-dup: determinism and recall vs brute force."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from repurpose_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    ivf_assign,
    ivf_centroids,
    ivf_topk,
)

DIM = 8


@pytest.fixture(scope="module")
def emb(spark):
    """3 well-separated clusters + a few exact-duplicate vectors."""
    rng = np.random.default_rng(42)
    centers = np.array(
        [[10.0] * DIM, [-10.0] * DIM, [10.0, -10.0] * (DIM // 2)]
    )
    rows = []
    for i in range(120):
        c = centers[i % 3]
        v = c + rng.normal(0, 0.5, DIM)
        rows.append((i, [float(x) for x in v]))
    # near-dup pairs: 200/201 and 202/203 identical
    rows.append((200, rows[0][1]))
    rows.append((201, rows[0][1]))
    rows.append((202, rows[1][1]))
    rows.append((203, rows[1][1]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).cache()


def test_ivf_assign_partitions_clusters(spark, emb):
    cent = ivf_centroids(emb, n_clusters=3, iters=8)
    assigned = emb.withColumn("cid", ivf_assign("embedding", cent))
    # every (vec_id % 3) class maps to exactly one cluster id
    m = (
        assigned.where(F.col("vec_id") < 120)
        .groupBy((F.col("vec_id") % 3).alias("cls"))
        .agg(F.count_distinct("cid").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in m)


def test_ivf_topk_matches_brute_force(spark, emb):
    cent = ivf_centroids(emb, n_clusters=3, iters=8)
    q = emb.where(F.col("vec_id") == 0).first()["embedding"]
    exact = [r["vec_id"] for r in brute_force_topk(emb, q, k=5).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_topk(emb, q, cent, k=5, nprobe=1).collect()
    ]
    # the query's own cluster holds all true top-5 (well-separated data)
    assert approx == exact


def test_near_dup_pairs_find_planted_dups(spark, emb):
    pairs = {
        (r["vec_a"], r["vec_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(
            emb, threshold=0.999999, n_planes=6
        ).collect()
    }
    assert (200, 201) in pairs and pairs[(200, 201)] == 1.0
    assert (202, 203) in pairs and pairs[(202, 203)] == 1.0
    assert (0, 200) in pairs  # duplicate of row 0 itself


def test_materialized_index_prunes_and_matches(spark, emb, tmp_path):
    """The persisted ANN index must (a) return exactly the inline
    results and (b) actually partition-prune the scan (PartitionFilters
    carries the sig/cid predicate)."""
    from repurpose_spark.operators.similarity import (
        ivf_topk_indexed,
        lsh_topk,
        lsh_topk_indexed,
        materialize_ann_index,
    )

    cent = ivf_centroids(emb, n_clusters=3, iters=8)
    idx = str(tmp_path / "ann_index")
    materialize_ann_index(emb, idx, n_planes=4, centroids=cent)

    q = emb.where(F.col("vec_id") == 1).first()["embedding"]

    inline = [
        (r["vec_id"], r["cosine"])
        for r in lsh_topk(emb, q, k=5, n_planes=4).collect()
    ]
    indexed_df = lsh_topk_indexed(spark, idx, q, k=5, n_planes=4)
    indexed = [(r["vec_id"], r["cosine"]) for r in indexed_df.collect()]
    assert indexed == inline

    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert pf and any("sig" in ln for ln in pf)

    exact = [
        (r["vec_id"], r["cosine"])
        for r in ivf_topk(emb, q, cent, k=5, nprobe=1).collect()
    ]
    idx_ivf_df = ivf_topk_indexed(spark, idx, q, cent, k=5, nprobe=1)
    assert [(r["vec_id"], r["cosine"]) for r in idx_ivf_df.collect()] == exact
    plan2 = idx_ivf_df._jdf.queryExecution().executedPlan().toString()
    pf2 = [ln for ln in plan2.split("\n") if "PartitionFilters" in ln]
    assert pf2 and any("cid" in ln for ln in pf2)


def test_knn_label_vote_separable_clusters(spark):
    """Two well-separated label clusters: every vector's bucket
    neighbours share its label, so the vote is always correct."""
    import numpy as np

    from repurpose_spark.operators.similarity import knn_label_vote

    rng = np.random.default_rng(3)
    rows = []
    for i in range(30):
        base = np.zeros(16); base[0] = 10.0      # cluster A along +x
        rows.append((i, (base + rng.normal(0, 0.1, 16)).tolist(), 0))
    for i in range(30, 60):
        base = np.zeros(16); base[1] = -10.0     # cluster B along -y
        rows.append((i, (base + rng.normal(0, 0.1, 16)).tolist(), 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = knn_label_vote(emb, k=3, n_planes=4, dim=16).collect()
    assert len(out) == 60
    assert all(r["is_correct"] for r in out)
    assert all(r["n_votes"] <= 3 for r in out)


def test_bucket_guard_bounds_adversarial_bucket(spark):
    """VERDICT r2 #4: an adversarial fixture where (nearly) ALL vectors
    share one coarse LSH bucket must not produce an unbounded quadratic
    in-bucket join — oversized buckets re-split on extra planes, and the
    verified near-dup output is unchanged."""
    from repurpose_spark.operators.similarity import (
        _hyperplanes,
        bound_lsh_buckets,
        lsh_signature,
    )

    n_planes, cap = 2, 10
    planes = _hyperplanes(DIM, n_planes, seed=7)
    rng = np.random.default_rng(0)
    x = rng.standard_normal((600, DIM))
    sigs = ((x @ planes.T) >= 0) @ (1 << np.arange(n_planes))
    # the most crowded coarse bucket — every row collides
    common = np.bincount(sigs).argmax()
    grp = x[sigs == common]
    rows = [(i, [float(v) for v in r]) for i, r in enumerate(grp)]
    # planted near-identical pairs (ids 1000+i duplicate row i)
    for i in range(5):
        rows.append((1000 + i, [float(v) + 1e-09 for v in grp[i]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    n = len(rows)
    assert n > 10 * cap  # genuinely adversarial: one bucket, n >> cap

    sig_df = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        lsh_signature("embedding", DIM, n_planes, 7).alias("sig"),
    ).persist()
    sizes_before = sig_df.groupBy("sig").count().collect()
    assert max(r["count"] for r in sizes_before) == n
    bounded = bound_lsh_buckets(sig_df, cap, n_planes, DIM, vec_col="v")
    sizes = [r["count"] for r in bounded.groupBy("sig").count().collect()]
    assert sum(sizes) == n  # no rows lost
    assert max(sizes) <= cap  # quadratic join bounded by construction
    # candidate volume: sum n_b^2 collapses from n^2 to <= n*cap
    assert sum(s * s for s in sizes) <= n * cap

    guarded = embedding_near_dup_pairs(
        emb, threshold=0.999, n_planes=n_planes, max_bucket=cap
    )
    unguarded = embedding_near_dup_pairs(
        emb, threshold=0.999, n_planes=n_planes, max_bucket=None
    )
    g = {(r["vec_a"], r["vec_b"]) for r in guarded.collect()}
    u = {(r["vec_a"], r["vec_b"]) for r in unguarded.collect()}
    assert g == u
    assert {(i, 1000 + i) for i in range(5)} <= g


def test_materialized_index_one_file_per_bucket(spark, emb, tmp_path):
    """The partitioned index write clusters rows by bucket first: one
    right-sized file per sig dir, not one per (task x bucket) — the
    pre-fix layout made the build SLOWER with more cores."""
    import glob
    import os

    from repurpose_spark.operators.similarity import materialize_ann_index

    path = str(tmp_path / "idx")
    materialize_ann_index(emb, path, n_planes=4)
    dirs = glob.glob(path + "/sig=*")
    assert dirs
    for d in dirs:
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1


def test_materialized_index_writes_on_many_tasks(spark, tmp_path):
    """The index write clusters rows by bucket over several tasks (a
    written file's ``part-NNNNN`` is its task's partition), still one
    file per bucket dir — not one task that writes every bucket."""
    import glob
    import os

    from repurpose_spark.operators.similarity import materialize_ann_index

    rng = np.random.default_rng(5)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(400)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "idx")
    materialize_ann_index(emb, path, n_planes=6)
    files = glob.glob(path + "/sig=*/*.parquet")
    dirs = {os.path.dirname(f) for f in files}
    assert len(dirs) > 8 and len(files) == len(dirs)
    assert len({os.path.basename(f).split("-")[1] for f in files}) > 1


class TestInt8Quantize:
    def test_matches_numpy_brute_force(self, spark):
        import numpy as np

        from repurpose_spark.operators.similarity import (
            int8_quantize_embeddings,
        )

        rng = np.random.default_rng(413)
        dim = 6
        vecs = rng.normal(size=(40, dim)).astype(np.float32)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r for r in
               int8_quantize_embeddings(df, dim=dim).collect()}
        mn = vecs.min(axis=0).astype(np.float64)
        mx = vecs.max(axis=0).astype(np.float64)
        for i in range(40):
            x = vecs[i].astype(np.float64)
            codes = np.floor((x - mn) * 255.0 / (mx - mn) + 0.5).astype(int)
            assert list(got[i]["codes"]) == list(codes), i
            recon = mn + codes * (mx - mn) / 255.0
            sse = float(((x - recon) ** 2).sum())
            assert got[i]["sse"] == pytest.approx(sse, rel=1e-12)

    def test_constant_dim_codes_zero(self, spark):
        from repurpose_spark.operators.similarity import (
            int8_quantize_embeddings,
        )

        rows = [(1, [1.5, 2.0]), (2, [1.5, 4.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r for r in
               int8_quantize_embeddings(df, dim=2).collect()}
        assert got[1]["codes"][0] == 0 and got[2]["codes"][0] == 0
        # constant dim reconstructs exactly -> contributes 0 error
        assert got[1]["codes"][1] == 0 and got[2]["codes"][1] == 255

    def test_extremes_land_on_0_and_255(self, spark):
        from repurpose_spark.operators.similarity import (
            int8_quantize_embeddings,
        )

        rows = [(i, [float(i)]) for i in range(11)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r["codes"][0] for r in
               int8_quantize_embeddings(df, dim=1).collect()}
        assert got[0] == 0 and got[10] == 255
        assert all(0 <= c <= 255 for c in got.values())

    def test_double_input_keeps_float64(self, spark):
        from repurpose_spark.operators.similarity import (
            int8_quantize_embeddings,
        )

        # 0.7 + 3e-9 scales to 178.5000008 in float64 (code 179); a
        # float32 narrowing rounds it to 0.7f and codes 178
        x = 0.7 + 3e-9
        rows = [(0, [0.0]), (1, [1.0]), (2, [x])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {r["vec_id"]: r for r in
               int8_quantize_embeddings(df, dim=1).collect()}
        assert got[2]["codes"] == [179]
        d = x - 179 * 1.0 / 255.0
        assert got[2]["sse"] == d * d

    def test_null_vector_gets_null_codes_and_sse(self, spark):
        from repurpose_spark.operators.similarity import (
            int8_quantize_embeddings,
        )

        rows = [(1, [0.0, 2.0]), (2, None), (3, [1.0, 4.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {r["vec_id"]: r for r in
               int8_quantize_embeddings(df, dim=2).collect()}
        assert got[2]["codes"] is None and got[2]["sse"] is None
        assert got[1]["codes"] == [0, 0] and got[3]["codes"] == [255, 255]
        assert got[1]["sse"] == 0.0 and got[3]["sse"] == 0.0
