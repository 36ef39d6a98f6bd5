"""Persisted-frame lifetime (plans/cache.py): a long-lived session holds
at most ``KEEP`` cache entries however many operator calls it makes, and
a result held lazily across ``KEEP - 1`` later registering calls still
runs from its cache.  Each test's corpus is distinct, so no plan here
matches a frame another test registered."""

import os
import random

import pytest
from pyspark.sql import functions as F

from repurpose_spark.config import EngineConfig
from repurpose_spark.operators.cooccur import bigram_lift
from repurpose_spark.operators.curation import curate_documents
from repurpose_spark.operators.dedup import dedup_minhash_lsh
from repurpose_spark.operators.ingest import ingest_with_dedup
from repurpose_spark.operators.retrieval import bm25_scores
from repurpose_spark.plans.cache import KEEP
from repurpose_spark.plans.pipeline import TierPipeline
from repurpose_spark.sources.synthetic import synth_sequences
from repurpose_spark.sources.tables import Warehouse

WORDS = ("the data cache plan frame query spark index batch table cell "
         "token score series window shard").split()


def _docs(spark, seed, n=24):
    """Tiny corpus with a near-duplicate of every fourth document; the
    seed keeps each test's rows (and so its plans) distinct."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        words = [rng.choice(WORDS) for _ in range(30)]
        rows.append((seed * 1000 + i, " ".join(words)))
        if i % 4 == 0:
            rows.append((seed * 1000 + 500 + i, " ".join(words[:-1] + ["x"])))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _entries(spark):
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _loaded(spark):
    """Cached RDDs that hold at least one materialized partition."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(1 for i in infos if i.numCachedPartitions() > 0)


def test_text_operators_stay_bounded(spark):
    spark.catalog.clearCache()
    docs = _docs(spark, seed=1)
    for r in range(KEEP):
        sub = docs.where(F.col("doc_id") % (KEEP + 1) != r)
        bigram_lift(sub, min_count=1).collect()
        assert _entries(spark) <= KEEP
        bm25_scores(sub, ["data", "cache"]).collect()
        assert _entries(spark) <= KEEP
        curate_documents(sub, min_quality=0.0).collect()
        assert _entries(spark) <= KEEP


def test_ingest_batches_stay_bounded(spark, tmp_path):
    spark.catalog.clearCache()
    wh = Warehouse(spark, str(tmp_path / "wh"))
    docs = _docs(spark, seed=2)
    for b in range(3):
        ingest_with_dedup(wh, docs.where(F.col("doc_id") % 3 == b))
        assert _entries(spark) <= KEEP
    assert wh.read("documents").count() > 0


def test_lazy_result_survives_keep_minus_one_calls(spark):
    spark.catalog.clearCache()
    docs = _docs(spark, seed=3)
    held = dedup_minhash_lsh(docs, threshold=0.5)
    for r in range(KEEP - 1):
        bigram_lift(docs.where(F.col("doc_id") % KEEP != r)).collect()
    rows = sorted(held.collect())
    plan = held._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # ``held``'s frame is now the oldest of KEEP.  A call with the same
    # plan takes its place: the shared entry, already loaded, survives
    loaded = _loaded(spark)
    again = dedup_minhash_lsh(docs, threshold=0.5)
    assert _loaded(spark) == loaded
    eager = sorted(again.collect())
    assert rows == eager and rows
    plan = again._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


def test_failed_batch_write_releases_its_frame(spark, tmp_path):
    """A batch whose hourly write fails still releases the tier frame it
    cached: a plain file where the table directory belongs makes the
    Warehouse write raise, and the session's cache count is unchanged."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, EngineConfig(n_cells=4), job_id="t")
    with open(os.path.join(wh.root, pipe.hourly_table()), "w") as f:
        f.write("not a table directory")
    before = _entries(spark)
    with pytest.raises(Exception):
        pipe.run(synth_sequences(spark, 20), n_batches=1)
    assert pipe.completed_batches() == set()
    assert _entries(spark) == before
