"""Lexical retrieval scoring (Okapi BM25) over the documents corpus.

The missing third leg of the retrieval stack next to embedding ANN
(``similarity.py``) and overlapping chunking (``packing.py::
chunk_documents``): score every document against a small query term
set with the classic tf/idf saturation formula

    score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    idf(t)      = ln(1 + (N − df + 0.5) / (df + 0.5))       (always > 0)

Plan shape — the corpus text is scanned ONCE and never shuffled:

- one map-side pass projects (doc, doclen, matched-term) with the
  query terms inlined into a ``filter`` predicate BEFORE the explode,
  so the exchange under the tf aggregate carries only query-term hits
  (O(hits), not O(tokens));
- corpus stats (N, avgdl) are a single-row aggregate, broadcast;
- per-term document frequencies come from the tf table itself
  (O(terms) rows), broadcast back;
- the per-doc score sums ≤|query| float contributions via an in-row
  ORDERED fold over the term-sorted struct array (the PSI discipline)
  — no shuffle-order float sum.

Exactness: tf/df/dl/N are exact int64 and avgdl one IEEE division,
but idf takes ``ln`` — the one libm step engines may legitimately
round differently — so the oracle certifies score with the 1e-9
relative error bound (the entropy/EWMA contract); doc_id, dl, and
n_hits byte-match.

Reference analog: repurpose has no retrieval surface; this extends the
engine the way SURVEY §2's training-data addenda (dedup, ANN, quality)
do — corpus-scale scoring a 100 TB curation pipeline needs for query-
targeted slicing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from repurpose_spark.operators.cooccur import _tokens
from repurpose_spark.plans import cache

__all__ = ["bm25_scores"]


def bm25_scores(
    docs: DataFrame,
    query_terms: list,
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """(id, dl, n_hits, score) for every document matching ≥1 query
    term.  ``query_terms`` is a small literal set (a user query or a
    targeting lexicon), matched against the corpus tokenization
    convention (lowercased whitespace tokens)."""
    terms = sorted({str(t).lower() for t in query_terms})
    if not terms:
        raise ValueError("query_terms must be non-empty")
    toks = _tokens(docs, text_col)
    term_arr = F.array(*[F.lit(t) for t in terms])

    # one scan: doclen + matched tokens only reach the explode
    hits = docs.select(
        F.col(id_col),
        F.size(toks).alias("dl"),
        F.explode(F.filter(toks, lambda x: F.array_contains(term_arr, x))).alias(
            "term"
        ),
    )
    # persisted: two consumers (the scored rows + the df table derived
    # from it) would otherwise each re-run the corpus scan — plan-
    # audited, this is what holds the query at TWO text scans total
    # (tf + the stats aggregate), the bigram_lift discipline
    tf = cache.persist(
        hits.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))
    )

    stats = docs.select(
        F.count("*").alias("n_docs"),
        F.avg(F.size(toks)).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "dl",
            "term",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * (1.0 + k1))
                / (
                    F.col("tf")
                    + k1
                    * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("contrib"),
        )
    )
    # ordered in-row fold: term-sorted contributions, never a
    # shuffle-order float sum (contribs are > 0, so the 0.0 seed is
    # below every partial sum — same certifiable shape as PSI)
    return (
        scored.groupBy(id_col, "dl")
        .agg(
            F.count("*").alias("n_hits"),
            F.sort_array(F.collect_list(F.struct("term", "contrib"))).alias(
                "_tc"
            ),
        )
        .select(
            id_col,
            "dl",
            "n_hits",
            F.aggregate(
                "_tc",
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score"),
        )
    )
