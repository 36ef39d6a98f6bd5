"""F1 preprocess hooks (applyInPandas grouped-map) + P6 reserved-name
validation in collocate."""

import pytest
from pyspark.sql import functions as F

from repurpose_spark.config import EngineConfig
from repurpose_spark.operators.collocate import collocate
from repurpose_spark.operators.hooks import apply_per_series
from repurpose_spark.operators.reorient import sequences_to_points
from repurpose_spark.sources.synthetic import synth_sequences

CFG = EngineConfig(n_cells=8)


def test_hooks_chain_and_sort(spark):
    pts = sequences_to_points(synth_sequences(spark, 20), CFG, with_ts=False)

    def diff(pdf):  # needs sorted input
        return pdf.assign(d=pdf.token.diff().fillna(0))

    def scale(pdf):
        return pdf.assign(d=pdf.d * 2)[["doc_id", "pos", "d"]]

    out = apply_per_series(
        pts.select("doc_id", "pos", "token"),
        [diff, scale],
        "doc_id string, pos int, d double",
        key_cols=["doc_id"],
        sort_within="pos",
    )
    rows = {
        (r["doc_id"], r["pos"]): r["d"]
        for r in out.where(F.col("doc_id") == "doc00000002").collect()
    }
    # tokens step by 7 per pos (closed form) → diff*2 == 14 except pos 0
    assert rows[("doc00000002", 0)] == 0.0
    assert all(
        v == 14.0 for (d, p), v in rows.items() if p > 0
    )


def test_non_callable_hook_rejected(spark):
    pts = sequences_to_points(synth_sequences(spark, 5), CFG, with_ts=False)
    with pytest.raises(TypeError, match="not callable"):
        apply_per_series(pts, ["not-a-fn"], "doc_id string", ["doc_id"])


def test_collocate_reserved_names(spark):
    obs = spark.createDataFrame(
        [("a", "2020-01-01 00:30:00", 1.0)],
        "doc_id string, obs_ts string, timedelta_seconds double",
    ).withColumn("obs_ts", F.col("obs_ts").cast("timestamp"))
    with pytest.raises(ValueError, match="reserved"):
        collocate(obs, ["2020-01-01 00:00:00", "2020-01-01 01:00:00"])


def test_postprocess_batch_hooks_chain(spark):
    """F2: postprocess hooks run on the finished batch (plan-level
    df.transform chain, ts2img.py:304-320 analog)."""
    from repurpose_spark.operators.hooks import apply_batch_hooks

    pts = sequences_to_points(synth_sequences(spark, 10), CFG, with_ts=False)

    def add_flag(df):
        return df.withColumn("flag", F.col("token") % 2 == 0)

    def drop_odd(df):
        return df.where("flag")

    out = apply_batch_hooks(pts, [add_flag, drop_odd])
    assert out.where(F.col("token") % 2 == 1).count() == 0
    assert "flag" in out.columns

    with pytest.raises(TypeError, match="not callable"):
        apply_batch_hooks(pts, ["nope"])
    with pytest.raises(TypeError, match="must return a DataFrame"):
        apply_batch_hooks(pts, [lambda df: 42])


def test_tier_pipeline_postprocess_applies_to_daily(spark, tmp_path):
    from repurpose_spark.plans.pipeline import TierPipeline
    from repurpose_spark.sources.tables import Warehouse

    def tag(df):
        return df.withColumn("tagged", F.lit(True))

    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t", postprocess=[tag])
    pipe.run(synth_sequences(spark, 30), n_batches=2)
    daily = wh.read(pipe.daily_table())
    assert "tagged" in daily.columns
    assert daily.where(~F.col("tagged")).count() == 0


def test_attach_static_broadcast_join(spark):
    """Static (time-invariant) variables join: every tick of a series
    carries its per-series metadata (stack.py:208-213 analog); the static
    side is broadcast (no Exchange on the fact side)."""
    from repurpose_spark.operators.static import attach_static, static_from_first

    pts = sequences_to_points(synth_sequences(spark, 20), CFG, with_ts=False)
    static = static_from_first(pts, ["source"], key_cols=["doc_id"]).select(
        "doc_id", F.col("source").alias("origin"),
        (F.length("doc_id") * 0 + 42).alias("site_elevation"),
    )
    out = attach_static(pts.drop("source"), static, key_cols=["doc_id"])
    assert out.count() == pts.count()
    assert out.where(F.col("site_elevation") != 42).count() == 0
    # per-series constancy: one distinct origin per doc
    bad = (
        out.groupBy("doc_id")
        .agg(F.count_distinct("origin").alias("n"))
        .where("n != 1")
        .count()
    )
    assert bad == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    with pytest.raises(ValueError, match="collide"):
        attach_static(pts, static.withColumnRenamed("origin", "token"),
                      key_cols=["doc_id"])
