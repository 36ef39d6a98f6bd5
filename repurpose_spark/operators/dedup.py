"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first (each is a ``queries()`` entry with an oracle
where SQL-expressible):

* exact        — fingerprint64 groupBy; keeps min doc_id per group
* minhash LSH  — banded MinHash signatures → bucket equi-join → verified
                 Jaccard on candates only (the classic shingle→minhash→
                 band→bucket-join pipeline; no all-pairs shuffle)
* simhash      — 64-bit fingerprints; near-dups = small Hamming distance,
                 candidates via band equi-join on 4x16-bit chunks
* n-gram Jaccard — exact verification kernel used by the LSH path

Scale notes: every candidate-generation step is an equi-join on a derived
bucket key (shuffle on bucket, never cross join); verification runs only
on bucket-colliding pairs.  ``a.doc_id < b.doc_id`` keeps pairs unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from repurpose_spark.functions.text import (
    fingerprint64,
    minhash_signature,
    simhash64,
)
from repurpose_spark.plans import cache
from repurpose_spark.plans.parallelism import (
    ensure_parallelism,
    write_partitions,
)


def dedup_exact(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized text: one row per distinct content,
    canonical = min id (deterministic)."""
    return (
        docs.withColumn("__fp", fingerprint64(text_col))
        .groupBy("__fp")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
        .drop("__fp")
    )


def exact_dup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-doc canonical assignment: (doc_id, canonical_id, group_size)."""
    fp = docs.select(id_col, fingerprint64(text_col).alias("__fp"))
    canon = fp.groupBy("__fp").agg(
        F.min(id_col).alias("canonical_id"), F.count("*").alias("group_size")
    )
    return fp.join(canon, "__fp").drop("__fp")


def shingles(text_col: str, n: int = 8, step: int = 1):
    """Character n-gram shingle array (JVM transform).

    ``step`` > 1 strides the shingle start positions — standard recall/cost
    trade for LSH candidate generation (verification stays exact)."""
    t = F.col(text_col)
    idx = F.sequence(
        F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)), F.lit(step)
    )
    return F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(n))))


def ngram_jaccard(pairs: DataFrame, left: str = "sh_a", right: str = "sh_b"):
    """Exact Jaccard on shingle arrays — the verification kernel.

    Inputs are :func:`shingles` outputs (distinct by construction), so
    ``|A∪B| = |A| + |B| − |A∩B|`` exactly — the union is derived from
    sizes instead of materializing a second per-pair hash set via
    ``array_union`` (guide §1.2 per-task work: at ~1M candidate pairs
    the union build+materialize was half the verification kernel)."""
    inter = F.size(F.array_intersect(F.col(left), F.col(right)))
    union = F.size(F.col(left)) + F.size(F.col(right)) - inter
    return inter / F.greatest(union, F.lit(1))


def _minhash_base_bands(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    bands: int,
    shingle_n: int,
    step: int,
    use_md5: bool,
):
    """Shared LSH front end: (base(id, sh), banded(id, band, bucket)).
    Factored out so the self-join dedup and the incremental probe band
    their inputs with byte-identical keys (a probe against an index
    banded by a different family would silently find nothing)."""
    rows = k // bands
    # shingling+hashing is CPU-bound: widen a narrow scan (e.g. a
    # single-file table) before paying for it; wide scans pass through
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"),
        shingles(text_col, shingle_n, step=step).alias("sh"),
    )
    if use_md5:
        sig_elems = [
            F.array_min(
                F.transform(
                    "sh",
                    lambda s: F.md5(F.concat(F.lit(str(seed)), s)),
                )
            )
            for seed in range(k)
        ]
        band_keys = [
            F.concat_ws("|", *sig_elems[b * rows : (b + 1) * rows])
            for b in range(bands)
        ]
    else:
        sig_elems = [
            F.array_min(
                F.transform("sh", lambda s: F.xxhash64(F.lit(seed), s))
            )
            for seed in range(k)
        ]
        band_keys = [
            F.xxhash64(*sig_elems[b * rows : (b + 1) * rows]).cast("string")
            for b in range(bands)
        ]
    banded = base.select(
        "id",
        F.posexplode(F.array(*band_keys)).alias("band", "bucket"),
    )
    return base, banded


def minhash_probe(
    index_docs: DataFrame,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 8,
    threshold: float = 0.6,
    step: int = 2,
    use_md5: bool = False,
) -> DataFrame:
    """Incremental near-dup detection: (new_id, index_id, jaccard) pairs
    of incoming documents that near-duplicate the EXISTING corpus — the
    production dedup shape, where every ingest batch is checked against
    history instead of re-running the self-join over the whole corpus.

    Both sides are banded with the identical hash family (shared front
    end), so the candidate join is ``new.banded ⋈ index.banded`` on
    (band, bucket) — the batch side is ingest-sized, the index side is
    bucket-pruned by the join, and nothing is ever compared all-pairs.
    Shuffle discipline matches :func:`dedup_minhash_lsh`: the band join
    carries ONLY (id, band, bucket); shingles re-join per side for the
    verified candidates.  At steady state the index's (id, band, bucket)
    frame is a materialized table (one column triple per band per doc)
    and the probe never rescans history text except for the verified
    candidates' rows.

    Within-batch duplicates are deliberately NOT reported — run
    :func:`dedup_minhash_lsh` on the batch for that; the two results
    together cover the full pair space of (index ∪ batch).
    """
    base_i, band_i = _minhash_base_bands(
        index_docs, id_col, text_col, k, bands, shingle_n, step, use_md5
    )
    base_n, band_n = _minhash_base_bands(
        new_docs, id_col, text_col, k, bands, shingle_n, step, use_md5
    )
    cand_ids = (
        band_n.alias("n")
        .join(
            band_i.alias("i"),
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bucket") == F.col("i.bucket")),
        )
        .select(
            F.col("n.id").alias("new_id"),
            F.col("i.id").alias("index_id"),
        )
        .dropDuplicates(["new_id", "index_id"])
    )
    cands = cand_ids.join(
        base_n.select(F.col("id").alias("new_id"), F.col("sh").alias("sh_a")),
        "new_id",
    ).join(
        base_i.select(F.col("id").alias("index_id"), F.col("sh").alias("sh_b")),
        "index_id",
    )
    return (
        cands.withColumn("jaccard", ngram_jaccard(cands))
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "index_id", F.round("jaccard", 4).alias("jaccard"))
    )


def _bucket_prefix(n_prefix: int):
    """Coarse partition key over the (string) band bucket — the dedup
    index's pruning axis.  pmod(xxhash64) works for both hash families
    (md5 hex and xxhash64-as-string buckets alike)."""
    return F.pmod(F.xxhash64(F.col("bucket")), F.lit(n_prefix)).cast("int")


def _id_bucket(col, n_id_buckets: int):
    return F.pmod(
        F.xxhash64(col.cast("string")), F.lit(n_id_buckets)
    ).cast("int")


def materialize_dedup_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 8,
    step: int = 2,
    use_md5: bool = False,
    n_prefix: int = 64,
    n_id_buckets: int = 64,
) -> None:
    """Persist the incremental-dedup scale path: the corpus's LSH state
    as two partition-pruned tables under ``path``.

    * ``path/bands`` — (id, band, bucket) PARTITIONED BY (band, bprefix)
      where bprefix = pmod(xxhash64(bucket), n_prefix): a probe batch's
      distinct (band, bprefix) set lands in PartitionFilters, so a small
      ingest batch reads only the slice of band state it can possibly
      collide with.
    * ``path/shingles`` — (id, sh) PARTITIONED BY idb =
      pmod(xxhash64(id), n_id_buckets): the verify leg reads only the
      id-buckets holding actual candidates, and never re-shingles
      history text (the shingle arrays are precomputed — the batch
      probe's biggest per-ingest CPU term gone).

    One-time cost amortized across every ingest; steady state appends
    the accepted batch's own rows to both tables (same schema, same
    partition keys).  Writer discipline mirrors
    ``similarity.materialize_ann_index``: rows are clustered by their
    output partition before the partitioned write, so each directory
    gets one right-sized file instead of one per (task × partition)."""
    _write_dedup_index(
        docs, path, "overwrite", id_col, text_col, k, bands, shingle_n,
        step, use_md5, n_prefix, n_id_buckets,
    )


def append_dedup_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 8,
    step: int = 2,
    use_md5: bool = False,
    n_prefix: int = 64,
    n_id_buckets: int = 64,
) -> None:
    """The steady-state half of :func:`materialize_dedup_index`: append
    an ACCEPTED ingest batch's band/shingle rows to an existing index —
    same schema, same partition keys, so the extended index is
    indistinguishable from a from-scratch build over the grown corpus
    (probe-equality test-enforced).  LSH parameters MUST match the
    original build."""
    _write_dedup_index(
        docs, path, "append", id_col, text_col, k, bands, shingle_n,
        step, use_md5, n_prefix, n_id_buckets,
    )


def _write_dedup_index(
    docs, path, mode, id_col, text_col, k, bands, shingle_n, step,
    use_md5, n_prefix, n_id_buckets,
) -> None:
    base, banded = _minhash_base_bands(
        docs, id_col, text_col, k, bands, shingle_n, step, use_md5
    )
    # one write task per partition value, over write_partitions tasks
    # (with no count AQE coalesces the shuffle into ONE writing task)
    n = write_partitions(docs.sparkSession)
    bands_df = banded.withColumn("bprefix", _bucket_prefix(n_prefix))
    bands_df.repartition(n, F.col("band"), F.col("bprefix")).write.mode(
        mode
    ).partitionBy("band", "bprefix").parquet(path + "/bands")
    sh_df = base.withColumn("idb", _id_bucket(F.col("id"), n_id_buckets))
    sh_df.repartition(n, F.col("idb")).write.mode(mode).partitionBy(
        "idb"
    ).parquet(path + "/shingles")


def _band_self_join(banded):
    """Candidate ids from the banded frame: (band, bucket) equi-self-join,
    ordered ids, deduped — carries ONLY (id, band, bucket).

    The explicit repartition BEFORE the dedup does double duty: it
    satisfies the dedup aggregate's required distribution (so no second
    exchange is planned), and — being user-specified with an explicit
    count — AQE does not coalesce it.  Without it the dedup exchange
    coalesced by BYTES (candidate ids are ~16 B/row) while every
    surviving row feeds a heavyweight verify kernel (set intersection
    or banded edit DP, ~100 µs+ each): measured at sf1.0 the verify
    stage ran on 8 post-coalesce tasks out of 32 cores (guide §2.5,
    cheap-bytes/expensive-rows).  Raw (pre-dedup) pairs shuffle instead
    of deduped ones, but band duplicates are <1% here and bounded by
    the band count in general."""
    n = int(
        banded.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    return (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
        )
        .repartition(n, F.col("doc_a"), F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def minhash_probe_indexed(
    spark,
    index_path: str,
    new_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 8,
    threshold: float = 0.6,
    step: int = 2,
    use_md5: bool = False,
    n_prefix: int = 64,
    n_id_buckets: int = 64,
    broadcast_batch: bool = True,
) -> DataFrame:
    """:func:`minhash_probe` against a :func:`materialize_dedup_index`
    table — identical pairs and jaccards, different physical plan:

    * the batch's distinct (band, bprefix) set (≤ bands × n_prefix
      values, one tiny job) prunes the ``bands`` scan via
      PartitionFilters — the index side of the candidate join reads
      only colliding-possible state, not the corpus;
    * the batch side broadcasts (``broadcast_batch``; an ingest batch is
      dim-sized by assumption), so the surviving index state never
      shuffles;
    * candidate index ids map to their idb buckets (second tiny collect)
      and prune the ``shingles`` scan the same way — the verify leg
      reads precomputed shingle arrays for candidate buckets only
      instead of re-shingling the whole corpus.

    k/bands/shingle_n/step/use_md5 MUST match the index build — the
    shared ``_minhash_base_bands`` front end guarantees byte-identical
    keys when they do.  The batch bands and the candidates frame are
    persisted: each feeds a collect and the returned verify join."""
    base_n, band_n = _minhash_base_bands(
        new_docs, id_col, text_col, k, bands, shingle_n, step, use_md5
    )
    band_n = cache.persist(
        band_n.withColumn("bprefix", _bucket_prefix(n_prefix))
    )
    probe_keys = [
        f"{r['band']}#{r['bprefix']}"
        for r in band_n.select("band", "bprefix").distinct().collect()
    ]
    part_key = F.concat_ws(
        "#", F.col("band").cast("string"), F.col("bprefix").cast("string")
    )
    idx_bands = (
        spark.read.parquet(index_path + "/bands")
        .where(part_key.isin(probe_keys))
    )
    n_side = F.broadcast(band_n) if broadcast_batch else band_n
    cand_ids = cache.persist(
        n_side.alias("n")
        .join(
            idx_bands.alias("i"),
            (F.col("n.band") == F.col("i.band"))
            & (F.col("n.bucket") == F.col("i.bucket")),
        )
        .select(
            F.col("n.id").alias("new_id"),
            F.col("i.id").alias("index_id"),
        )
        .dropDuplicates(["new_id", "index_id"])
    )
    idbs = [
        r[0]
        for r in cand_ids.select(
            _id_bucket(F.col("index_id"), n_id_buckets).alias("idb")
        )
        .distinct()
        .collect()
    ]
    idx_sh = (
        spark.read.parquet(index_path + "/shingles")
        .where(F.col("idb").isin(idbs))
    )
    cands = cand_ids.join(
        base_n.select(F.col("id").alias("new_id"), F.col("sh").alias("sh_a")),
        "new_id",
    ).join(
        idx_sh.select(
            F.col("id").alias("index_id"), F.col("sh").alias("sh_b")
        ),
        "index_id",
    )
    return (
        cands.withColumn("jaccard", ngram_jaccard(cands))
        .where(F.col("jaccard") >= threshold)
        .select("new_id", "index_id", F.round("jaccard", 4).alias("jaccard"))
    )


def dedup_minhash_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 8,
    threshold: float = 0.6,
    step: int = 2,
    use_md5: bool = False,
) -> DataFrame:
    """Near-dup pairs via banded MinHash LSH, Jaccard-verified.

    k signatures split into ``bands`` bands of k/bands rows; docs agreeing
    on any whole band become candidates (equi-join on the band hash);
    candidates are verified with exact shingle Jaccard.  Returns
    (doc_a, doc_b, jaccard).

    Shuffle discipline: the band explode and the candidate self-join carry
    ONLY (id, band, bucket) — never the shingle arrays.  Shingles are
    re-derived from the (projected, pushed-down) scan and joined back by id
    once per side for the verification kernel, so shuffle bytes stay
    O(candidates · avg_shingles), not O(docs · bands · avg_shingles).

    ``use_md5=True`` switches the hash family to md5(seed || shingle) —
    byte-identical to :func:`functions.text.minhash_signature`, so an ANSI
    SQL oracle can reproduce candidates AND verification exactly
    (the default xxhash64 family is the cheap scale path)."""
    base, banded = _minhash_base_bands(
        docs, id_col, text_col, k, bands, shingle_n, step, use_md5
    )
    # persisted: both band self-join sides read the signatures, which
    # would otherwise be recomputed per side (guide §2.4)
    banded = cache.persist(banded)
    cand_ids = _band_self_join(banded)
    cands = cand_ids.join(
        base.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    ).join(
        base.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # single-element explode barrier: a predicate cannot be pushed below
    # a Generate, so the per-pair set intersection is evaluated exactly
    # ONCE (measured: the collapsed Filter+Project shape re-evaluated it
    # per reference — 2x the verification kernel at ~1M candidates)
    sized = cands.select(
        "doc_a",
        "doc_b",
        F.size("sh_a").alias("_za"),
        F.size("sh_b").alias("_zb"),
        F.explode(F.array(inter)).alias("_i"),
    )
    # |A∪B| = |A| + |B| − |A∩B| exactly (shingle arrays are distinct),
    # same formula as ngram_jaccard over the barriered intersection
    j = F.col("_i") / F.greatest(
        F.col("_za") + F.col("_zb") - F.col("_i"), F.lit(1)
    )
    return (
        sized.where(j >= threshold)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


def dedup_simhash(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    use_md5: bool = False,
) -> DataFrame:
    """Near-dup pairs via SimHash banding (4 x 16-bit chunks).

    With <=3 differing bits, at least one of 4 chunks is identical
    (pigeonhole), so the chunk equi-join finds all such pairs; Hamming
    distance verified with bit_count(xor).

    ``use_md5=True`` switches the token-hash family to md5
    (functions.text.simhash_md5_chunks) so a DuckDB oracle recomputes
    fingerprints, candidates and Hamming verification exactly; the
    default xxhash64 family is the cheap scale path."""
    docs = ensure_parallelism(docs)
    if use_md5:
        from repurpose_spark.functions.text import simhash_md5_chunks

        fps = docs.select(
            F.col(id_col).alias("id"),
            simhash_md5_chunks(text_col).alias("ch"),
        )
        chunk_cols = [F.element_at("ch", c + 1) for c in range(4)]
    else:
        fps = docs.select(
            F.col(id_col).alias("id"), simhash64(text_col).alias("fp")
        )
        chunk_cols = [
            F.shiftright("fp", 16 * c).bitwiseAND(F.lit(0xFFFF))
            for c in range(4)
        ]
    chunked = fps.select(
        "id",
        *[c.alias(f"c{i}") for i, c in enumerate(chunk_cols)],
        F.posexplode(F.array(*chunk_cols)).alias("chunk", "ckey"),
    )
    hamming = sum(
        F.bit_count(
            F.col(f"a.c{i}").bitwiseXOR(F.col(f"b.c{i}")).bitwiseAND(
                F.lit(0xFFFF)
            )
        )
        for i in range(4)
    )
    pairs = (
        chunked.alias("a")
        .join(
            chunked.alias("b"),
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ckey") == F.col("b.ckey"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplicated-span detection (the fifth dedup tier —
    Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better": remove any token span of length ≥ L occurring more than
    once in the corpus; reference analog: repurpose keeps ONE point per
    grid slot, src/repurpose/img2ts.py:740-744 — this is the
    within-document generalization).

    Pipeline (all pure-JVM, every step an equi-shuffle):
      1. word-split each doc, emit every length-``window`` word window
         as (gram, doc, start) — ``transform(sequence(...))`` over the
         words array, fused into the scan's codegen span;
      2. corpus-wide count per gram (partial+final — map-side combine
         bounds the exchange by DISTINCT grams per partition);
      3. windows whose gram count ≥ ``min_count`` join back (shuffle on
         the gram key — candidates only, never the corpus);
      4. per-doc gaps-and-islands merge: window [j, j+L−1] overlaps the
         running span iff j ≤ cummax(end of predecessors); a running
         max + conditional-sum window numbers maximal spans, one
         aggregate emits (doc, span_start, span_end, n_windows).

    At cluster scale the gram key would be ``xxhash64(gram)`` (8 B on
    the wire instead of ~50 B of words); the string key is kept here so
    the DuckDB oracle certifies the ALGORITHM with no hash-parity
    assumption — swapping the key expression changes no other line.

    Output span bounds are 0-based WORD indices, inclusive."""
    from pyspark.sql import Window as W

    words = F.split(F.col(text_col), r"\s+")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(words, lambda w: w != "").alias("w"),
    )
    grams = base.where(F.size("w") >= window).select(
        "doc_id",
        F.posexplode(
            F.transform(
                # docs shorter than `window` are filtered above —
                # sequence(0, negative) would generate DESCENDING steps
                F.sequence(F.lit(0), F.size("w") - window),
                lambda j: F.array_join(
                    F.slice("w", j + 1, window), " "
                ),
            )
        ).alias("start", "gram"),
    )
    hot = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= min_count)
    )
    dup = grams.join(hot, "gram").select("doc_id", "start")
    ordw = W.partitionBy("doc_id").orderBy("start")
    prev_end = F.max(F.col("start") + window - 1).over(
        ordw.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = dup.withColumn(
        "new_span",
        F.when(
            prev_end.isNull() | (F.col("start") > prev_end), 1
        ).otherwise(0),
    ).withColumn(
        "span_id",
        F.sum("new_span").over(
            ordw.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy("doc_id", "span_id")
        .agg(
            F.min("start").alias("span_start"),
            (F.max("start") + window - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("span_id")
    )


def source_overlap(
    pairs: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    sim_col: str = "jaccard",
) -> DataFrame:
    """Cross-source duplicate overlap matrix: which corpora duplicate
    which.  Curation teams read this before setting mixture weights —
    a source pair with heavy near-dup overlap (a CommonCrawl snapshot
    vs its re-crawl, a books corpus vs a pirate mirror) double-counts
    tokens unless one side is down-weighted or deduped first; the
    published pipelines (RefinedWeb, Dolma) all report exactly this
    table.

    ``pairs`` is any verified near-dup pair frame ((doc_a, doc_b,
    <sim_col>) — minhash/simhash/semdedup tiers all qualify); ``docs``
    maps id → source.  Each pair fetches its endpoints' sources (two
    equi-joins: the PAIR side is the small one at any realistic dup
    rate, so AQE broadcasts it and the corpus never shuffles), then one
    partial+final aggregate per unordered source pair.

    Determinism: n_pairs is an exact count; the similarity mass is
    aggregated as ``sum_sim_e4`` — the 4dp-rounded similarities scaled
    to exact int64 ticks, so the sum is shuffle-order-free (a float sum
    would not be) and the mean is recoverable as sum_sim_e4 / 1e4 /
    n_pairs; min/max ride as order statistics.  Output: (source_a,
    source_b [lexicographic], n_pairs, sum_sim_e4, min_sim, max_sim).
    """
    src = docs.select(
        F.col(id_col).alias("_sid"), F.col(source_col).alias("_src")
    )
    p = (
        pairs.join(src, pairs["doc_a"] == F.col("_sid"))
        .select(
            "doc_a", "doc_b", sim_col, F.col("_src").alias("_src_a")
        )
        .join(src, F.col("doc_b") == F.col("_sid"))
        .select(
            F.least("_src_a", "_src").alias("source_a"),
            F.greatest("_src_a", "_src").alias("source_b"),
            F.col(sim_col).alias("_sim"),
        )
    )
    return p.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.round(F.col("_sim") * 10000).cast("long")).alias(
            "sum_sim_e4"
        ),
        F.min("_sim").alias("min_sim"),
        F.max("_sim").alias("max_sim"),
    )


def edit_distance_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_sim: float = 0.8,
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 8,
    step: int = 2,
    use_md5: bool = False,
    max_dist: int | str | None = "auto",
) -> DataFrame:
    """Character-level verification tier: Levenshtein distance over LSH
    candidates (the sixth dedup tier — edit similarity is the classic
    "same page, small diff" check that shingle Jaccard under-reports
    when the diff is a single long insertion; reference analog: repurpose
    verifies collocated points with an exact distance predicate after the
    cheap spatial bucket join, src/repurpose/resample.py:230-244).

    Candidates come from the shared banded-MinHash front end (identical
    keys to :func:`dedup_minhash_lsh`), so the pair space is bounded by
    bucket collisions — the O(n·m) DP kernel never sees an all-pairs
    shuffle.  Two exact prunes run before the DP, both pure JVM:

    * length gap — ``lev(a, b) >= |len(a) - len(b)|`` always, so a pair
      whose length gap already exceeds the similarity budget is dropped
      by an integer comparison, no DP;
    * banded DP (scale path) — ``max_dist`` caps the kernel via Spark's
      thresholded ``levenshtein(l, r, threshold)`` (early-exit banded
      DP, returns -1 past the cap).  ``None`` runs the full kernel;
      ``"auto"`` derives the exact-safe cap ``ceil((1−min_sim) ·
      max_len)`` from one projected min/max scan of the corpus (no
      shuffle; any pair's budget is ≤ that cap, so the banded kernel
      is output-identical BY CONSTRUCTION — measured 3.9× at sf0.1,
      artifacts/BENCH_EDIT_r05.json); pytest additionally pins that any explicit
      cap ≥ the similarity budget matches the full kernel.

    Similarity is relative: ``edit_sim = 1 - dist / greatest(len_a,
    len_b)``; pairs with ``edit_sim >= min_sim`` survive.  Returns
    (doc_a, doc_b, edit_dist, edit_sim) with edit_sim rounded to 4dp.

    Shuffle discipline matches the LSH tier: the band self-join carries
    only (id, band, bucket); text joins back by id for the surviving
    candidates only, so shuffle bytes stay O(candidates · avg_len).
    """
    base, banded = _minhash_base_bands(
        docs, id_col, text_col, k, bands, shingle_n, step, use_md5
    )
    banded = cache.persist(banded)
    cand_ids = _band_self_join(banded)
    texts = ensure_parallelism(docs).select(
        F.col(id_col).alias("id"), F.col(text_col).alias("txt")
    )
    cands = (
        cand_ids.join(
            texts.select(
                F.col("id").alias("doc_a"), F.col("txt").alias("t_a")
            ),
            "doc_a",
        )
        .join(
            texts.select(
                F.col("id").alias("doc_b"), F.col("txt").alias("t_b")
            ),
            "doc_b",
        )
        .withColumn(
            "mx", F.greatest(F.length("t_a"), F.length("t_b"))
        )
        # exact prune: dist >= |len gap|, so sim < min_sim is decided
        # before the DP whenever the gap alone blows the budget
        .where(
            F.abs(F.length("t_a") - F.length("t_b"))
            <= (F.lit(1.0) - F.lit(min_sim)) * F.col("mx")
        )
    )
    if max_dist == "auto":
        # per-PAIR exact-safe cap: the survival filter below keeps only
        # dist <= (1-min_sim)·mx, an integer bound of floor((1-min_sim)
        # ·mx) for this pair — so the banded DP can stop at that row
        # budget instead of the corpus-wide ceil((1-min_sim)·max_len)
        # (guide §1.2 per-task work: halves the DP band at typical
        # lengths, and the corpus max-length pre-scan job disappears).
        # levenshtein(l, r, t) returns -1 past the cap, which the
        # edit_dist >= 0 filter drops — output-identical BY CONSTRUCTION
        # for any cap >= the pair's own budget.
        cands = cands.withColumn(
            "__bud",
            F.greatest(
                F.floor((F.lit(1.0) - F.lit(min_sim)) * F.col("mx")),
                F.lit(1),
            ).cast("int"),
        )
        dist = F.expr("levenshtein(t_a, t_b, __bud)")
    elif max_dist is None:
        dist = F.levenshtein("t_a", "t_b")
    else:
        dist = F.levenshtein("t_a", "t_b", max_dist)
    # single-element explode barrier (see dedup_minhash_lsh): edit_dist
    # is referenced by two filter conjuncts and two output columns, and
    # predicate pushdown re-inlines a projected expression per reference
    # — without the barrier the DP kernel runs up to four times per pair
    withd = cands.select(
        "doc_a",
        "doc_b",
        "mx",
        F.explode(F.array(dist.cast("long"))).alias("edit_dist"),
    )
    out = (
        withd.where(
            (F.col("edit_dist") >= 0)
            & (
                F.col("edit_dist")
                <= (F.lit(1.0) - F.lit(min_sim)) * F.col("mx")
            )
        )
        .select(
            "doc_a",
            "doc_b",
            "edit_dist",
            F.round(
                F.lit(1.0)
                - F.col("edit_dist") / F.greatest(F.col("mx"), F.lit(1)),
                4,
            ).alias("edit_sim"),
        )
    )
    return out


def novelty_rate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """First-occurrence novelty per document — the incremental-crawl
    dual of :func:`duplicate_spans`: a word n-gram is NOVEL in the doc
    holding its minimum ``id_col`` corpus-wide (ingest order), and each
    doc's novelty is its share of novel grams among its DISTINCT
    grams.  "How much genuinely new content does this shard add" —
    near 1 for fresh text, near 0 for a re-crawl or template flood;
    the per-doc companion of source_overlap's pairwise matrix, ranked
    exactly where dup_spans only flags span membership.

    Same word-window construction as duplicate_spans (and the same
    string-vs-xxhash64 key note: the string key keeps the DuckDB twin
    hash-parity-free; swapping in a fingerprint changes one
    expression).  Two corpus-sized equi-shuffles, both inherent to
    exact first-occurrence attribution: gram (whole-partition MIN
    window — the arbiter), then doc (the final aggregate).  Counts
    int64, novelty ONE IEEE division — EXACT.  Docs shorter than
    ``window`` words have no grams and are omitted (the oracle mirrors
    the same filter).  Returns (doc_id, n_grams, n_novel, novelty).
    """
    from pyspark.sql import Window as W

    words = F.split(F.col(text_col), r"\s+")
    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.filter(words, lambda w: w != "").alias("w"),
    )
    grams = base.where(F.size("w") >= window).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - window),
                    lambda j: F.array_join(F.slice("w", j + 1, window), " "),
                )
            )
        ).alias("gram"),
    )
    first = F.min("doc_id").over(W.partitionBy("gram"))
    flagged = grams.withColumn("_novel", (F.col("doc_id") == first))
    agg = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("_novel"), 1).otherwise(0)).alias("n_novel"),
    )
    return agg.select(
        "doc_id",
        "n_grams",
        "n_novel",
        (
            F.col("n_novel").cast("double") / F.col("n_grams").cast("double")
        ).alias("novelty"),
    )


def overlap_coeff_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    shingle_n: int = 8,
    threshold: float = 0.5,
    step: int = 2,
    use_md5: bool = False,
) -> DataFrame:
    """Asymmetric near-dup pairs by the overlap (Szymkiewicz–Simpson)
    coefficient |A∩B| / min(|A|,|B|) — what Jaccard structurally
    misses: a short doc quoted VERBATIM inside a long one scores 1.0
    here but |A|/|B| ≈ 0 on Jaccard, so this is the quote-inclusion /
    subset-contamination detector (the pairwise sibling of
    duplicate_spans' corpus-wide hot windows).

    Candidate generation reuses :func:`dedup_minhash_lsh`'s banded
    signature join (same shuffle discipline: bands carry (id, band,
    bucket) only; shingles re-join per side for verified candidates
    only).  Honest recall note: MinHash bands collide with probability
    driven by JACCARD, so high-containment/low-Jaccard pairs at extreme
    length ratios can escape candidacy — the production containment
    path would band the SMALLER side's shingles only; at the driver
    corpus's length spread the md5-family oracle certifies the
    implemented semantics exactly.
    """
    base, banded = _minhash_base_bands(
        docs, id_col, text_col, k, bands, shingle_n, step, use_md5
    )
    banded = cache.persist(banded)
    cand_ids = _band_self_join(banded)
    cands = cand_ids.join(
        base.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a")),
        "doc_a",
    ).join(
        base.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b")),
        "doc_b",
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    # same single-evaluation explode barrier as dedup_minhash_lsh
    sized = cands.select(
        "doc_a",
        "doc_b",
        F.size("sh_a").alias("_za"),
        F.size("sh_b").alias("_zb"),
        F.explode(F.array(inter)).alias("_i"),
    )
    oc = F.col("_i") / F.greatest(
        F.least(F.col("_za"), F.col("_zb")), F.lit(1)
    )
    return (
        sized.where(oc >= threshold)
        .select("doc_a", "doc_b", F.round(oc, 4).alias("overlap"))
    )
