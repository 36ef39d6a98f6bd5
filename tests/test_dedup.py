"""Dedup operators: MinHash-LSH (both hash families), SimHash single-pass
parity, exact-dup grouping.

Reference behavior analog: repurpose deduplicates observations per slot
(img2ts.py drop-duplicate semantics); these are the training-data-scale
generalizations (SURVEY.md training-data extension surface).
"""

import pytest
from pyspark.sql import functions as F

from repurpose_spark.functions.text import simhash64
from repurpose_spark.operators.dedup import (
    dedup_minhash_lsh,
    dedup_simhash,
    exact_dup_groups,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to hide from the loud hunters"
    )
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("green", "dark")),  # near dup of 0
        (3, "completely different text about spark sql engines and joins"),
        (4, "yet another unrelated document mentioning parquet files only"),
        (5, base.replace("quick", "swift").replace("lazy", "idle")),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def _pairs(df):
    return {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in df.collect()}


def test_minhash_lsh_finds_planted_pairs(spark, docs):
    got = _pairs(dedup_minhash_lsh(docs, k=8, bands=8, threshold=0.3, step=1))
    assert (0, 1) in got and got[(0, 1)] == 1.0
    assert (0, 2) in got and 0.3 <= got[(0, 2)] < 1.0
    # unrelated docs never pass verification
    assert all(a not in (3, 4) and b not in (3, 4) for a, b in got)


def test_minhash_md5_family_matches_xxhash_on_verified_pairs(spark, docs):
    """The hash family changes candidate generation, never verification:
    any pair surfaced by both families carries the identical exact
    Jaccard."""
    xx = _pairs(dedup_minhash_lsh(docs, k=8, bands=4, threshold=0.2, step=1))
    md = _pairs(
        dedup_minhash_lsh(
            docs, k=4, bands=4, threshold=0.2, step=1, use_md5=True
        )
    )
    assert (0, 1) in xx and (0, 1) in md
    for p in set(xx) & set(md):
        assert xx[p] == md[p]


def test_minhash_band_join_ships_ids_only(spark, docs):
    """Scale guard: the band-bucket self-join must not carry shingle
    arrays — only the two id-verify joins may exchange `sh`."""
    plan = dedup_minhash_lsh(docs, threshold=0.3)._jdf.queryExecution().toString()
    exchanges = [
        blk for blk in plan.split("Exchange") if "hashpartitioning" in blk
    ]
    shingle_exchanges = [b for b in exchanges if "sh#" in b.split("\n")[0]]
    # id-verify joins re-shuffle base(id, sh) at most twice; the banded
    # self-join (bucket keys) never does
    assert len(shingle_exchanges) <= 2


def test_simhash_single_pass_matches_per_bit_reference(spark, docs):
    """The one-aggregate vote-array formulation must reproduce the naive
    per-bit (64 aggregate passes) fingerprint bit-for-bit."""

    def reference(text_col):
        t = F.trim(F.lower(F.col(text_col)))
        words = F.filter(F.split(t, r"\s+"), lambda s: F.length(s) > 0)
        hashes = F.transform(words, lambda w: F.xxhash64(w))
        fp = F.lit(0).cast("long")
        for b in range(64):
            vote = F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1  # noqa: B023
                ).otherwise(-1),
            )
            fp = fp.bitwiseOR(
                F.shiftleft(
                    F.when(vote > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
                    b,
                )
            )
        return fp

    rows = docs.select(
        "doc_id",
        simhash64("text").alias("fast"),
        reference("text").alias("ref"),
    ).collect()
    assert rows and all(r["fast"] == r["ref"] for r in rows)


def test_simhash_pairs_find_exact_dups(spark, docs):
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup_simhash(docs, max_hamming=3).collect()
    }
    assert got[(0, 1)] == 0


def test_exact_dup_groups(spark, docs):
    g = {r["doc_id"]: r for r in exact_dup_groups(docs).collect()}
    assert g[0]["canonical_id"] == 0 and g[1]["canonical_id"] == 0
    assert g[0]["group_size"] == 2
    assert g[3]["group_size"] == 1


def test_simhash_md5_family_finds_exact_dups(spark, docs):
    """The md5-chunk family (oracle parity) must behave like the xxhash64
    family on exact duplicates: hamming 0, found via chunk collision."""
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup_simhash(docs, max_hamming=3, use_md5=True).collect()
    }
    assert got[(0, 1)] == 0
    # near-dup 0/2 differs in one word; both families should keep it close
    far = dedup_simhash(docs, max_hamming=64, use_md5=True)
    all_h = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in far.collect()}
    assert all_h[(0, 2)] < all_h.get((0, 3), 64)


def test_minhash_probe_finds_cross_pairs(spark, docs):
    from repurpose_spark.operators.dedup import minhash_probe

    index = docs.where("doc_id <= 2")  # base + exact dup + near dup
    batch = docs.where("doc_id >= 3")  # 5 is a near-dup of 0/1
    got = {
        (r["new_id"], r["index_id"]): r["jaccard"]
        for r in minhash_probe(
            index, batch, k=8, bands=8, threshold=0.3, step=1
        ).collect()
    }
    assert (5, 0) in got and (5, 1) in got
    assert all(n == 5 for n, _ in got)  # 3, 4 stay unmatched


def test_minhash_probe_equals_full_self_join_on_cross_pairs(spark, docs):
    """The incremental probe must find EXACTLY the pairs the full
    corpus self-join finds across the index/batch cut — same bands,
    same buckets, same verification; splitting the corpus loses
    nothing and invents nothing."""
    from repurpose_spark.operators.dedup import minhash_probe

    index = docs.where("doc_id % 2 = 0")
    batch = docs.where("doc_id % 2 = 1")
    full = _pairs(dedup_minhash_lsh(docs, k=8, bands=8, threshold=0.2, step=1))
    cross = {
        tuple(sorted(p)): j for p, j in full.items() if (p[0] % 2) != (p[1] % 2)
    }
    probe = {
        tuple(sorted((r["new_id"], r["index_id"]))): r["jaccard"]
        for r in minhash_probe(
            index, batch, k=8, bands=8, threshold=0.2, step=1
        ).collect()
    }
    assert probe == cross and probe  # non-vacuous: the cut crosses dups


def test_minhash_probe_ignores_within_batch_dups(spark, docs):
    from repurpose_spark.operators.dedup import minhash_probe

    index = docs.where("doc_id = 3")
    batch = docs.where("doc_id in (0, 1)")  # exact dups of each other
    assert (
        minhash_probe(index, batch, k=8, bands=8, threshold=0.3, step=1).count()
        == 0
    )


def test_indexed_probe_equals_plain_probe(spark, docs, tmp_path):
    """minhash_probe_indexed against a materialized index returns EXACTLY
    the plain probe's pairs and jaccards, and both scans are
    partition-pruned (PartitionFilters carry the batch's band/bprefix
    set and the candidates' idb set)."""
    from repurpose_spark.operators.dedup import (
        materialize_dedup_index,
        minhash_probe,
        minhash_probe_indexed,
    )

    index = docs.where("doc_id <= 2")
    batch = docs.where("doc_id >= 3")
    path = str(tmp_path / "dedup_index")
    materialize_dedup_index(
        index, path, k=8, bands=8, step=1, n_prefix=8, n_id_buckets=8
    )
    plain = {
        (r["new_id"], r["index_id"]): r["jaccard"]
        for r in minhash_probe(
            index, batch, k=8, bands=8, threshold=0.3, step=1
        ).collect()
    }
    idx_df = minhash_probe_indexed(
        spark, path, batch, k=8, bands=8, threshold=0.3, step=1,
        n_prefix=8, n_id_buckets=8,
    )
    indexed = {
        (r["new_id"], r["index_id"]): r["jaccard"] for r in idx_df.collect()
    }
    assert indexed == plain and (5, 0) in indexed

    plan = idx_df._jdf.queryExecution().executedPlan().toString()
    pf = [ln for ln in plan.split("\n") if "PartitionFilters" in ln]
    assert any("bprefix" in ln for ln in pf)
    assert any("idb" in ln for ln in pf)


def test_dedup_index_writer_discipline(spark, docs, tmp_path):
    """One right-sized file per partition dir — rows are clustered by
    their output partition before the partitioned write."""
    import glob
    import os

    from repurpose_spark.operators.dedup import materialize_dedup_index

    path = str(tmp_path / "dedup_index")
    materialize_dedup_index(docs, path, k=8, bands=4, n_prefix=4,
                            n_id_buckets=4)
    for d in glob.glob(path + "/bands/band=*/bprefix=*") + glob.glob(
        path + "/shingles/idb=*"
    ):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, d


def test_dedup_index_writes_on_many_tasks(spark, tmp_path):
    """Both index tables cluster rows by partition over several write
    tasks (a written file's ``part-NNNNN`` is its task's partition), one
    file per partition dir — not one task that writes every dir."""
    import glob
    import os
    import random

    from repurpose_spark.operators.dedup import materialize_dedup_index

    rng = random.Random(11)
    words = [f"w{i}" for i in range(500)]
    docs = spark.createDataFrame(
        [(i, " ".join(rng.choice(words) for _ in range(40)))
         for i in range(200)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "dedup_index")
    materialize_dedup_index(docs, path, k=8, bands=4, n_prefix=16,
                            n_id_buckets=16)
    for table in ("bands", "shingles"):
        files = glob.glob(f"{path}/{table}/**/*.parquet", recursive=True)
        dirs = {os.path.dirname(f) for f in files}
        assert len(dirs) > 8 and len(files) == len(dirs), table
        parts = {os.path.basename(f).split("-")[1] for f in files}
        assert len(parts) > 1, table


# ---------------------------------------------------------------------------
# source_overlap
# ---------------------------------------------------------------------------

def test_source_overlap_hand_values(spark):
    from repurpose_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        [(1, "cc"), (2, "cc"), (3, "books"), (4, "wiki"), (5, "books")],
        "doc_id long, source string",
    )
    pairs = spark.createDataFrame(
        [(1, 2, 0.9), (1, 3, 0.5), (3, 1, 0.7), (2, 4, 0.31), (3, 5, 1.0)],
        "doc_a long, doc_b long, jaccard double",
    )
    got = {
        (r["source_a"], r["source_b"]): r
        for r in source_overlap(pairs, docs).collect()
    }
    # unordered source pair: (1,3) cc-books and (3,1) books-cc merge
    bc = got[("books", "cc")]
    assert bc["n_pairs"] == 2
    assert bc["sum_sim_e4"] == 5000 + 7000
    assert (bc["min_sim"], bc["max_sim"]) == (0.5, 0.7)
    assert got[("cc", "cc")]["n_pairs"] == 1
    assert got[("cc", "wiki")]["sum_sim_e4"] == 3100
    assert got[("books", "books")]["max_sim"] == 1.0
    assert len(got) == 4


def test_source_overlap_mean_recoverable_and_invariant(spark):
    from repurpose_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        [(i, "s%d" % (i % 3)) for i in range(60)], "doc_id long, source string"
    )
    import random

    rnd = random.Random(3)
    pairs = spark.createDataFrame(
        [
            (a, b, round(rnd.uniform(0.3, 1.0), 4))
            for a in range(0, 60, 3)
            for b in range(a + 1, 60, 7)
        ],
        "doc_a long, doc_b long, jaccard double",
    )

    def run(p):
        return sorted(map(tuple, source_overlap(p, docs).collect()))

    one, many = run(pairs.repartition(1)), run(pairs.repartition(11))
    assert one == many  # int64-tick sum: shuffle-order-free
    for r in one:
        n, ticks = r[2], r[3]
        assert 0.3 <= ticks / 1e4 / n <= 1.0  # mean recoverable


def test_edit_distance_pairs_exact_and_relative_cut(spark, docs):
    from repurpose_spark.operators.dedup import edit_distance_pairs

    got = {
        (r["doc_a"], r["doc_b"]): (r["edit_dist"], r["edit_sim"])
        for r in edit_distance_pairs(
            docs, min_sim=0.8, k=8, bands=8, step=1
        ).collect()
    }
    # exact dup: zero edits, similarity 1
    assert got[(0, 1)] == (0, 1.0)
    # near dup: "green"→"dark" is a 5↔4-char substitution block
    d02, s02 = got[(0, 2)]
    assert d02 == 5 and 0.8 <= s02 < 1.0
    # unrelated docs never survive the relative cut
    assert all(a != 3 and b != 3 for a, b in got)


def test_edit_distance_thresholded_kernel_is_output_identical(spark, docs):
    """The banded-DP scale path (max_dist cap ≥ the similarity budget)
    must be byte-identical to the oracle-exact full kernel."""
    from repurpose_spark.operators.dedup import edit_distance_pairs

    full = sorted(
        map(
            tuple,
            edit_distance_pairs(
                docs, min_sim=0.8, k=8, bands=8, step=1, max_dist=None
            ).collect(),
        )
    )
    capped = sorted(
        map(
            tuple,
            edit_distance_pairs(
                docs, min_sim=0.8, k=8, bands=8, step=1, max_dist=64
            ).collect(),
        )
    )
    auto = sorted(
        map(
            tuple,
            edit_distance_pairs(
                docs, min_sim=0.8, k=8, bands=8, step=1, max_dist="auto"
            ).collect(),
        )
    )
    assert full == capped == auto and len(full) >= 2


def test_edit_distance_length_gap_prune_is_exact(spark):
    """A pair whose length gap alone blows the similarity budget is
    pruned before the DP — and that prune is semantics-free: lev(a,b)
    >= |len(a)-len(b)| always, so no surviving pair is lost."""
    from repurpose_spark.operators.dedup import edit_distance_pairs

    long_tail = "x" * 200
    rows = [
        (0, "shared prefix of twenty words " * 4),
        (1, "shared prefix of twenty words " * 4 + long_tail),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = edit_distance_pairs(df, min_sim=0.8, k=8, bands=8, step=1)
    # gap = 200 > 0.2 * max_len (320) → pruned; and indeed true
    # edit_sim = 1 - 200/320 = 0.375 < 0.8, so the prune lost nothing
    assert out.count() == 0


class TestNoveltyRate:
    def _run(self, spark, docs, window=3):
        from repurpose_spark.operators.dedup import novelty_rate

        df = spark.createDataFrame(docs, "doc_id long, text string")
        return {r["doc_id"]: r for r in novelty_rate(
            df, id_col="doc_id", text_col="text", window=window
        ).collect()}

    def test_fresh_vs_recrawl(self, spark):
        out = self._run(spark, [
            (1, "a b c d"),           # grams: "a b c", "b c d" — all novel
            (2, "a b c d"),           # exact re-crawl: nothing novel
            (3, "x y z a b c"),       # "x y z","y z a","z a b" novel, "a b c" not
        ])
        assert (out[1]["n_grams"], out[1]["n_novel"]) == (2, 2)
        assert out[1]["novelty"] == 1.0
        assert (out[2]["n_grams"], out[2]["n_novel"]) == (2, 0)
        assert out[2]["novelty"] == 0.0
        assert (out[3]["n_grams"], out[3]["n_novel"]) == (4, 3)
        assert out[3]["novelty"] == 0.75

    def test_within_doc_repeat_counts_once(self, spark):
        # "a b a b a" grams: "a b a","b a b","a b a" → distinct = 2, both novel
        out = self._run(spark, [(1, "a b a b a")])
        assert (out[1]["n_grams"], out[1]["n_novel"]) == (2, 2)

    def test_short_doc_omitted(self, spark):
        out = self._run(spark, [(1, "a b"), (2, "a b c")])
        assert set(out) == {2}

    def test_order_decides_attribution(self, spark):
        # same gram in docs 5 and 2: novelty belongs to MIN doc_id
        out = self._run(spark, [(5, "p q r"), (2, "p q r")])
        assert out[2]["n_novel"] == 1 and out[5]["n_novel"] == 0


class TestOverlapCoeffPairs:
    def test_quote_inclusion_beats_jaccard(self, spark):
        # deterministic fixture: with the md5 family, the repeated "aa"
        # filler's few distinct shingles all hash above the quote's band
        # minima, so the pair IS an LSH candidate (verified offline);
        # the quote is fully contained -> overlap exactly 1.0 while
        # Jaccard is diluted to ~0.81 by the filler shingles
        from repurpose_spark.operators.dedup import (
            dedup_minhash_lsh,
            overlap_coeff_pairs,
        )

        short = "alpha beta gamma delta epsilon zeta eta theta"
        long = short + " " + " ".join(["aa"] * 40)
        df = spark.createDataFrame(
            [(1, short), (2, long)], "doc_id long, text string"
        )
        kw = dict(k=4, bands=2, shingle_n=8, step=1, use_md5=True)
        oc = overlap_coeff_pairs(df, threshold=0.99, **kw).collect()
        assert len(oc) == 1 and oc[0]["overlap"] == 1.0
        j = dedup_minhash_lsh(df, threshold=0.0, **kw).collect()
        assert j and j[0]["jaccard"] < 0.82  # strictly diluted below oc

    def test_symmetric_identical_docs(self, spark):
        from repurpose_spark.operators.dedup import overlap_coeff_pairs

        t = "one two three four five six seven eight nine ten"
        df = spark.createDataFrame(
            [(1, t), (2, t)], "doc_id long, text string"
        )
        out = overlap_coeff_pairs(
            df, k=4, bands=2, shingle_n=8, threshold=0.5, step=1,
            use_md5=True,
        ).collect()
        assert [(r["doc_a"], r["doc_b"], r["overlap"])
                for r in out] == [(1, 2, 1.0)]

    def test_threshold_filters(self, spark):
        from repurpose_spark.operators.dedup import overlap_coeff_pairs

        a = "aaa bbb ccc ddd eee fff ggg hhh"
        b = "aaa bbb ccc ddd xxx yyy zzz www"
        df = spark.createDataFrame(
            [(1, a), (2, b)], "doc_id long, text string"
        )
        kw = dict(k=4, bands=2, shingle_n=4, step=1, use_md5=True)
        lo = overlap_coeff_pairs(df, threshold=0.0, **kw).collect()
        hi = overlap_coeff_pairs(df, threshold=0.99, **kw).collect()
        if lo:  # candidate collision depends on the md5 band draw
            assert all(r["overlap"] < 0.99 for r in lo)
        assert hi == []
