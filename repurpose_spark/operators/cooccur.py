"""Token co-occurrence statistics over the documents corpus.

The association-mining tier of the text stack (alongside the trigram
LM in ``perplexity.py`` and the heavy-hitters pass): which adjacent
token pairs occur far more often than their unigram frequencies
predict — collocations, boilerplate signatures, templated spam.  The
standard score is pointwise mutual information; we emit its EXACT
rational core instead of the log:

    lift(w1, w2) = P(w1, w2) / (P(w1) · P(w2))
                 = (c_xy · N) / (c_x · c_y),        PMI = ln(lift)

``ln`` is the one step libm implementations are allowed to round
differently, so certifying log-PMI bitwise across engines is not
possible; lift carries the identical ordering and IS certifiable —
one IEEE division of two double-exact int64 products (each < 2^53 at
any realistic vocab/corpus ratio; the counts themselves are exact).
Callers wanting PMI apply ``ln`` to the returned lift.

Reference analog: repurpose's per-image statistics hooks compute
exactly this kind of corpus-level association table driver-side; here
the counting is two partial+final HashAggregates over the exploded
token stream and the unigram table rides a broadcast-eligible join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from repurpose_spark.plans import cache

__all__ = ["bigram_lift", "token_entropy", "trending_terms"]

_WS = r"\s+"


def _tokens(df: DataFrame, text_col: str):
    """Whitespace tokens of the lowercased text, empties removed —
    the corpus-wide tokenization convention (matches the DuckDB twin
    ``regexp_split_to_array(lower(text), '\\s+')`` + empty filter used
    by doc_top_words / the BPE family)."""
    toks = F.split(F.lower(F.col(text_col)), _WS)
    return F.filter(toks, lambda x: x != F.lit(""))


def bigram_lift(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` adjacent token pairs by lift (exact PMI core), among
    pairs seen at least ``min_count`` times.

    Plan shape, 100 TB reading:

    * bigram construction is per-row ``arrays_zip`` of two slices —
      map-side, no positional self-join, no shuffle;
    * bigram and unigram counts are each ONE partial+final
      HashAggregate (map-side combine absorbs the per-document
      repetition before the exchange);
    * the corpus total is an O(vocab)-input one-row aggregate;
    * the two count joins are vocab-sized vs pair-vocab-sized — AQE
      broadcasts the unigram side when it fits, plain co-partitioned
      shuffle otherwise; the raw token stream is never joined;
    * top-k is ``orderBy().limit()`` → TakeOrderedAndProject (per-
      partition heaps + driver merge of k rows, never a full sort).

    Ordering is fully deterministic: lift values are byte-identical
    across engines (module docstring) and ties break on (w1, w2).
    """
    toks = df.select(_tokens(df, text_col).alias("l")).where(
        F.size("l") >= 2
    )
    n_l = F.size("l")
    bigrams = toks.select(
        F.explode(
            F.arrays_zip(
                F.slice("l", 1, n_l - 1).alias("w1"),
                F.slice("l", 2, n_l - 1).alias("w2"),
            )
        ).alias("bg")
    ).select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    # vocab-sized and consumed three times (two count joins + the
    # corpus total); persisted so the corpus is scanned exactly TWICE
    # (one bigram pass + one unigram pass) — unpersisted it re-derives
    # per consumer (4+ scans, .explain-verified).
    uni = cache.persist(
        df.select(F.explode(_tokens(df, text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cb = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .where(F.col("c_xy") >= int(min_count))
    )
    total = uni.agg(F.sum("c").alias("n_tok"))
    scored = (
        cb.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_x",
            "c_y",
            (
                (F.col("c_xy") * F.col("n_tok")).cast("double")
                / (F.col("c_x") * F.col("c_y")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), F.col("w1"), F.col("w2")
    ).limit(int(k))


def token_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document unigram (Shannon) entropy of the whitespace tokens
    — the distribution-level repetition signal (Gopher-style filters
    threshold it: templated/boilerplate documents have low entropy even
    when no single n-gram repeats verbatim):

        H(d) = ln(N_d) − (1/N_d) · Σ_w c_w · ln(c_w)

    Plan shape: explode → (doc, token) partial+final count aggregate →
    per-doc aggregate (exact int64 n, float Σ c·ln c) — two exchanges,
    both keyed on doc_id so AQE coalesces them; no joins, no Python.
    The ln terms are libm-dependent and the Σ c·ln c float sum is
    shuffle-order-dependent at the ~1e-16 level, so the oracle
    certifies with a 1e-9 relative bound (the EWMA contract) rather
    than bitwise.
    """
    toks = df.select(
        F.col("doc_id"), F.explode(_tokens(df, text_col)).alias("w")
    )
    counts = toks.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("c")
    )
    agg = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double")))
        .alias("_slc"),
    )
    h = F.log(F.col("n_tok").cast("double")) - F.col("_slc") / F.col("n_tok")
    return agg.select("doc_id", "n_tok", h.alias("entropy"))


_UNIT_SECONDS = {"minute": 60, "hour": 3600, "day": 86400, "week": 604800}


def trending_terms(
    points: DataFrame,
    unit: str = "hour",
    term_col: str = "token",
    ts_col: str = "ts",
    k: int = 20,
    smoothing: int = 1,
) -> DataFrame:
    """Bucket-over-bucket frequency lift per term — "what's trending
    this hour/day": the temporal twin of :func:`bigram_lift`.

        lift(term, t) = (c_t + s) / (c_{t-1} + s)

    with additive smoothing ``s`` (integer) so brand-new terms score a
    finite ``c_t + s`` burst instead of dividing by zero; ``c_{t-1}``
    is the count in the IMMEDIATELY preceding bucket — a term silent
    for a gap re-enters as new (lag alone would compare against a
    stale bucket, silently understating the burst).  The division is
    one IEEE op over exact int64 counts, so the score — and therefore
    the per-bucket ranking — is byte-stable across engines and
    partitionings (the bigram_lift / z-score certification discipline).

    Plan shape: one partial+final count aggregate is the ONLY pass
    over raw points; the adjacency lag rides one window exchange on
    the term and the per-bucket top-k one more on the bucket — both
    O(terms × buckets), ledger-sized at 100 TB.  Buckets are integer
    unix-second arithmetic (the router convention), only
    second-regular units: no calendar ambiguity, no timezone seams.
    """
    if unit not in _UNIT_SECONDS:
        raise ValueError(
            f"unit must be one of {sorted(_UNIT_SECONDS)}, got {unit!r}"
        )
    if smoothing < 1:
        raise ValueError(f"smoothing must be a positive int, got {smoothing}")
    from pyspark.sql import Window

    step = _UNIT_SECONDS[unit]
    b = (F.unix_timestamp(F.col(ts_col)) / step).cast("long")
    counts = (
        points.groupBy(F.col(term_col), b.alias("_b"))
        .agg(F.count("*").alias("c_now"))
    )
    wt = Window.partitionBy(term_col).orderBy("_b")
    prev = F.when(
        F.lag("_b").over(wt) == F.col("_b") - 1, F.lag("c_now").over(wt)
    ).otherwise(F.lit(0))
    s = F.lit(int(smoothing))
    scored = counts.withColumn("c_prev", prev).withColumn(
        "lift",
        (F.col("c_now") + s).cast("double") / (F.col("c_prev") + s).cast("double"),
    )
    wb = Window.partitionBy("_b").orderBy(
        F.col("lift").desc(), F.col(term_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") <= int(k))
        .select(
            F.timestamp_seconds(F.col("_b") * step).alias("tick"),
            term_col,
            "c_now",
            "c_prev",
            "lift",
            "rn",
        )
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    by: list | tuple = ("source",),
    min_freq: int = 2,
) -> DataFrame:
    """Zipf's-law fit per corpus slice — the classic corpus-health
    monitor: natural text sits near slope −1 on the log-log
    rank-frequency line; tokenizer bugs, boilerplate floods, and
    template spam bend it (reference analog: per-cell summary
    attributes computed during conversion, src/repurpose/img2ts.py
    metadata path — a per-partition health statistic, not a data
    transform).

    OLS of ln(freq) on ln(rank) over the ``freq >= min_freq``
    vocabulary (the hapax tail is rank-ordering noise, standard cut).
    Plan: tokenize → (by, word) count → per-slice rank (ONE window
    sort on the vocabulary, corpus never re-shuffles) → the five OLS
    moments as one partial+final aggregate → closed-form slope.
    Returns (by…, n_ranks, zipf_slope); slices with < 2 ranks yield
    NULL.  Float contract: the moment sums are IEEE doubles (order-
    dependent), so the driver certifies this entry under the
    error-bound oracle mode (rel 1e-6 ≫ shuffle noise ~1e-12; any
    logic bug — wrong cut, unsorted rank, off-by-one — moves the
    slope by orders more)."""
    from repurpose_spark.plans.parallelism import ensure_parallelism

    by = list(by)
    df = ensure_parallelism(df)  # tokenize is CPU-bound: widen a narrow scan
    toks = _tokens(df, text_col)
    words = df.select(*by, F.explode(toks).alias("w"))
    c = (
        words.groupBy(*by, "w")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= min_freq)
    )
    from pyspark.sql import Window

    rnk = F.row_number().over(
        Window.partitionBy(*by).orderBy(F.desc("n"), F.asc("w"))
    )
    r = c.select(
        *by,
        F.log(rnk.cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    a = r.groupBy(*by).agg(
        F.count("*").alias("n_ranks"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_ranks").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return a.select(
        *by,
        "n_ranks",
        F.when(F.col("n_ranks") > 1, slope).alias("zipf_slope"),
    )

def heaps_slope(
    df: DataFrame,
    text_col: str = "text",
    by: list | tuple = ("source",),
    id_col: str = "doc_id",
) -> DataFrame:
    """Heaps'-law fit per corpus slice — Zipf's companion health
    monitor: vocabulary grows as V ≈ K·N^β with β ≈ 0.4–0.6 for
    natural text; dedup failures and template floods flatten the
    curve, tokenizer explosions steepen it (reference analog: the
    same per-partition summary-metadata family as :func:`zipf_slope`,
    src/repurpose/img2ts.py metadata path).

    Scans the slice in ``id_col`` order, recording at every document
    boundary the cumulative token count N and the cumulative distinct
    vocabulary V, then OLS-fits ln V on ln N.  V's increments come
    from first occurrences — per (slice, word) the minimal ``id_col``
    — so the curve needs NO stateful distinct scan: one vocabulary
    aggregate + one per-slice cumulative window over document rows.

    Plan: tokenize → (by, word) min(id) [the only corpus-sized
    shuffle] → new-word count per doc → join onto per-doc token
    counts → per-slice cumulative window ordered by ``id_col`` →
    five OLS moments as one partial+final aggregate.  Returns
    (by…, n_docs, vocab, heaps_beta): ``n_docs``/``vocab`` are
    byte-exact int64; ``heaps_beta`` certifies under the error-bound
    oracle (rel 1e-6 — same ln/moment-sum float contract as
    zipf_slope).  Slices with < 2 usable boundaries yield NULL."""
    from pyspark.sql import Window

    from repurpose_spark.plans.parallelism import ensure_parallelism

    by = list(by)
    df = ensure_parallelism(df)  # tokenize is CPU-bound: widen a narrow scan
    toks = _tokens(df, text_col)
    words = df.select(*by, F.col(id_col), F.explode(toks).alias("w"))
    first = words.groupBy(*by, "w").agg(F.min(id_col).alias(id_col))
    new_per_doc = first.groupBy(*by, id_col).agg(F.count("*").alias("_new"))

    per_doc = df.select(*by, F.col(id_col), F.size(toks).alias("_nt")).join(
        new_per_doc, [*by, id_col], "left"
    )
    w_cum = (
        Window.partitionBy(*by)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = per_doc.select(
        *by,
        F.sum("_nt").over(w_cum).alias("_N"),
        F.sum(F.coalesce("_new", F.lit(0))).over(w_cum).alias("_V"),
    ).where((F.col("_N") >= 1) & (F.col("_V") >= 1))

    pts = cum.select(
        *by,
        F.log(F.col("_N").cast("double")).alias("x"),
        F.log(F.col("_V").cast("double")).alias("y"),
        F.col("_N").alias("_N"),
        F.col("_V").alias("_V"),
    )
    a = pts.groupBy(*by).agg(
        F.count("*").alias("n_docs"),
        F.max("_V").alias("vocab"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n_docs").cast("double")
    beta = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return a.select(
        *by,
        "n_docs",
        "vocab",
        F.when(F.col("n_docs") > 1, beta).alias("heaps_beta"),
    )

def gini_concentration(
    df: DataFrame,
    weight_col: str,
    by: list | tuple = ("source",),
    id_col: str = "doc_id",
) -> DataFrame:
    """Gini coefficient of a nonnegative weight per corpus slice — the
    concentration companion to :func:`zipf_slope` / :func:`heaps_slope`:
    is this source's token mass spread across documents (G → 0) or
    locked in a few megadocs (G → 1)?  A data-mixture monitor — a
    source whose G jumps grew a boilerplate whale.

    G = Σᵢ (2i − n − 1)·xᵢ / (n·Σx) over weights sorted ascending
    (i = 1-based rank).  For tied weights the numerator is
    tie-order-invariant (equal x, any order), so ``row_number`` with
    the ``id_col`` tiebreak is semantics, not a hack.  The numerator
    is assembled from TWO exact int64 sums — Σ i·xᵢ and Σx — as
    ``2·Σi·xᵢ − (n+1)·Σx``, so the only float op is the final
    correctly-rounded IEEE division of two exact integers:
    byte-identical across engines, certified EXACT.  (Overflow bound:
    Σ i·xᵢ ≤ n²·max_x — int64-safe to ~3·10⁹ docs/slice at 1k tokens
    each; slices beyond that should pre-aggregate or shard.)

    Plan: ONE window sort per slice (rank assignment) + one
    partial+final aggregate.  Returns (by…, n_docs, total_w, gini);
    slices with n < 2 or zero total weight yield NULL gini."""
    by = list(by)
    from pyspark.sql import Window

    w = Window.partitionBy(*by).orderBy(F.col(weight_col).asc(), id_col)
    i = F.row_number().over(w).cast("long")
    x = F.col(weight_col).cast("long")
    ranked = df.select(*by, x.alias("_x"), (i * x).alias("_ix"))
    a = ranked.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_x").alias("total_w"),
        F.sum("_ix").alias("_six"),
    )
    n = F.col("n_docs")
    num = (F.lit(2) * F.col("_six") - (n + 1) * F.col("total_w")).cast("double")
    den = (n * F.col("total_w")).cast("double")
    gini = F.when((n > 1) & (F.col("total_w") > 0), num / den)
    return a.select(*by, "n_docs", "total_w", gini.alias("gini"))

def unigram_kl(
    df: DataFrame,
    text_col: str = "text",
    by: str = "source",
    alpha: float = 0.5,
) -> DataFrame:
    """Pairwise KL divergence between corpus slices' unigram language
    models — the distributional drift matrix ("which sources read
    alike, which one quietly changed register") complementing the
    duplicate-based overlap matrix: two sources can share zero
    documents yet be distributionally identical, and vice versa.

    KL(pₐ‖q_b) over slice a's OBSERVED vocabulary: pₐ is the MLE
    (c/Nₐ), q_b is additively smoothed over the GLOBAL vocabulary
    (q_b(w) = (c_bw + α)/(N_b + α·|V|)) so unseen words cost a finite
    ln, never ∞ — the standard held-out LM-eval shape.

    Plan: tokenize → (slice, word) count [the one corpus-sized
    shuffle] → per-slice totals (tiny, broadcast) → a-side words
    equi-joined to b-side counts ON word then cross-paired with the
    slice-total dim — every post-vocab frame is O(|V|·slices) or
    smaller, never corpus-sized.  Returns (src_a, src_b, n_types,
    kl_nats) for ordered pairs a ≠ b; ``n_types`` (a's distinct
    observed words) certifies byte-exactly, ``kl_nats`` rides the
    error-bound oracle (rel 1e-6 — ln/moment-sum float contract, as
    zipf/heaps)."""
    from repurpose_spark.plans.parallelism import ensure_parallelism

    df = ensure_parallelism(df)
    words = df.select(F.col(by).alias("s"), F.explode(_tokens(df, text_col)).alias("w"))
    c = words.groupBy("s", "w").agg(F.count("*").alias("n"))
    totals = c.groupBy("s").agg(F.sum("n").alias("N"))
    # |V| as an in-plan 1-row broadcast (no eager driver action, no
    # second scan of the corpus)
    vsz = c.agg(F.count_distinct("w").cast("double").alias("_vsz"))

    a_side = c.select(
        F.col("s").alias("src_a"), "w", F.col("n").alias("n_a")
    ).join(
        F.broadcast(totals.select(F.col("s").alias("src_a"), F.col("N").alias("tot_a"))),
        "src_a",
    )
    b_counts = c.select(F.col("s").alias("src_b"), "w", F.col("n").alias("n_b"))
    b_tot = totals.select(F.col("s").alias("src_b"), F.col("N").alias("tot_b"))

    # pair every a-word with every b slice (|V_a| × slices rows), then
    # pick up b's count for that word where it exists
    paired = (
        a_side.crossJoin(F.broadcast(b_tot))
        .where(F.col("src_a") != F.col("src_b"))
        .join(b_counts, ["src_b", "w"], "left")
        .crossJoin(F.broadcast(vsz))
    )
    p_a = F.col("n_a").cast("double") / F.col("tot_a").cast("double")
    q_b = (F.coalesce(F.col("n_b"), F.lit(0)).cast("double") + F.lit(alpha)) / (
        F.col("tot_b").cast("double") + F.lit(alpha) * F.col("_vsz")
    )
    term = p_a * (F.log(p_a) - F.log(q_b))
    return (
        paired.groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum(term).alias("kl_nats"),
        )
    )

def oov_rate(
    df: DataFrame,
    text_col: str = "text",
    by: list | tuple = ("source",),
    vocab_k: int = 1000,
) -> DataFrame:
    """Out-of-vocabulary rate per corpus slice against the corpus-wide
    top-``vocab_k`` vocabulary — the tokenizer-coverage monitor: a
    source whose OOV share jumps is drifting away from the vocabulary
    the downstream tokenizer was fit on (new language, new template,
    mojibake flood).

    The reference vocabulary is DETERMINISTIC: the ``vocab_k`` most
    frequent corpus words under the (count desc, word asc) total
    order — so the whole query is integer counts plus ONE
    correctly-rounded division and certifies EXACT.

    Plan: one corpus tokenize feeding BOTH sides of a common
    subexpression — the global vocab count (ranked, limited to a
    broadcast-sized frame) and the per-slice token stream — joined
    with a broadcast LEFT join (corpus never reshuffles for
    membership); one partial+final aggregate.  Returns
    (by…, n_tokens, n_oov, oov_rate)."""
    from repurpose_spark.plans.parallelism import ensure_parallelism

    by = list(by)
    if vocab_k < 1:
        raise ValueError(f"vocab_k must be >= 1, got {vocab_k}")
    df = ensure_parallelism(df)
    words = df.select(*by, F.explode(_tokens(df, text_col)).alias("w"))
    counts = words.groupBy("w").agg(F.count("*").alias("n"))
    # orderBy().limit() plans as TakeOrderedAndProject — a distributed
    # partial top-k, never a one-task sort of the full vocabulary (a
    # 100-TB corpus has a 10⁸-word vocab; a global row_number window
    # would funnel it through one partition)
    vocab = (
        counts.orderBy(F.desc("n"), F.asc("w"))
        .limit(int(vocab_k))
        .select("w", F.lit(1).alias("_in"))
    )
    tagged = words.join(F.broadcast(vocab), "w", "left")
    a = tagged.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
    )
    rate = F.when(
        F.col("n_tokens") > 0,
        F.col("n_oov").cast("double") / F.col("n_tokens").cast("double"),
    )
    return a.select(*by, "n_tokens", "n_oov", rate.alias("oov_rate"))
