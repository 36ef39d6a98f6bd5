"""Cross-tier integrity audit (plans/audit.py): the checker for the
lineage + row-count metrics the pipeline writes alongside each snapshot.
A healthy pipeline must audit clean; each of the two invariants must
trip on exactly the corruption it guards against."""

import pytest
from pyspark.sql import functions as F

from repurpose_spark.config import EngineConfig
from repurpose_spark.plans.audit import audit_pipeline, diff_tiers
from repurpose_spark.plans.pipeline import TierPipeline
from repurpose_spark.sources.synthetic import synth_sequences
from repurpose_spark.sources.tables import Warehouse

CFG = EngineConfig(n_cells=8)
N_DOCS = 120


@pytest.fixture()
def pipe(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    p = TierPipeline(spark, wh, CFG, job_id="aud")
    p.run(synth_sequences(spark, N_DOCS), n_batches=2)
    return p


def _overwrite_daily(pipe, df):
    # cache first: the new content must be computed BEFORE the
    # overwrite truncates the parquet files it reads from
    rows = df.collect()
    pipe.wh.write(
        pipe.spark.createDataFrame(rows, df.schema), pipe.daily_table()
    )


def test_healthy_pipeline_audits_clean(pipe):
    report = audit_pipeline(pipe)
    assert report["ok"] is True
    assert report["tier_mismatches"] == 0
    assert report["ledger_mismatches"] == 0


def test_value_corruption_detected(pipe):
    daily = pipe.wh.read(pipe.daily_table())
    first = daily.orderBy("cell_id", "doc_id", "tick").limit(1)
    key = first.collect()[0]
    bad = daily.withColumn(
        "sum_v",
        F.when(
            (F.col("cell_id") == key["cell_id"])
            & (F.col("doc_id") == key["doc_id"])
            & (F.col("tick") == key["tick"]),
            F.col("sum_v") + F.lit(1),
        ).otherwise(F.col("sum_v")),
    )
    _overwrite_daily(pipe, bad)
    report = audit_pipeline(pipe)
    assert report["ok"] is False
    assert report["tier_mismatches"] == 1
    hourly = pipe.wh.read(pipe.hourly_table()).drop("batch_id")
    kinds = {
        r["kind"]
        for r in diff_tiers(hourly, pipe.wh.read(pipe.daily_table()), "day")
        .collect()
    }
    assert kinds == {"value"}


def test_missing_row_detected(pipe):
    daily = pipe.wh.read(pipe.daily_table())
    key = daily.orderBy("cell_id", "doc_id", "tick").limit(1).collect()[0]
    dropped = daily.where(
        ~(
            (F.col("cell_id") == key["cell_id"])
            & (F.col("doc_id") == key["doc_id"])
            & (F.col("tick") == key["tick"])
        )
    )
    _overwrite_daily(pipe, dropped)
    hourly = pipe.wh.read(pipe.hourly_table()).drop("batch_id")
    diffs = diff_tiers(hourly, pipe.wh.read(pipe.daily_table()), "day").collect()
    assert len(diffs) == 1 and diffs[0]["kind"] == "missing"
    assert diffs[0]["doc_id"] == key["doc_id"]
    assert not audit_pipeline(pipe)["ok"]


def test_extra_row_detected(pipe):
    daily = pipe.wh.read(pipe.daily_table())
    ghost = daily.limit(1).withColumn("doc_id", F.lit("ghost-doc"))
    _overwrite_daily(pipe, daily.unionByName(ghost))
    hourly = pipe.wh.read(pipe.hourly_table()).drop("batch_id")
    diffs = diff_tiers(hourly, pipe.wh.read(pipe.daily_table()), "day").collect()
    assert len(diffs) == 1 and diffs[0]["kind"] == "extra"
    assert diffs[0]["doc_id"] == "ghost-doc"


def test_ledger_tamper_detected(pipe):
    # replace one real per-cell lineage row (ledger_rows keeps the LAST
    # attempt per (batch, cell)) with an inflated count
    cell_rows = [r for r in pipe.ledger_rows() if r["status"] == "cell"]
    victim = cell_rows[0]
    pipe.wh._commit(
        pipe._ledger_table(),
        "append",
        {
            "status": "cell",
            "batch_id": victim["batch_id"],
            "cell_id": victim["cell_id"],
            "n_points": victim["n_points"] + 7,
        },
    )
    report = audit_pipeline(pipe)
    assert report["ok"] is False
    assert report["ledger_mismatches"] == 1
    assert report["tier_mismatches"] == 0


def test_sampled_audit_runs_and_passes(pipe):
    report = audit_pipeline(pipe, sample_cells=2)
    assert report["ok"] is True
    assert report["sampled_cells"] == 2
