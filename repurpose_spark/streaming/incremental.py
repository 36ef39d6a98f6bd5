"""Structured-Streaming twin of the batch tier pipeline.

The reference is strictly batch; its ``imgbuffer`` chunk loop
(img2ts.py:801) is morally a micro-batch pipeline (SURVEY.md §2.10).
This module is that pipeline as an actual Structured Streaming job: new
*point* files (the exploded long layout — what an ingest feed naturally
delivers) appearing under a directory are incrementally rolled up into
hourly partials.

The watermark plays the role the collocation tolerance plays in the
batch path — the lateness bound ("data assigned to same image
DISCARDED", ts2img.py:118-124): rows older than max-event-time −
watermark are dropped, and a window's partial is emitted (append mode)
once the watermark passes its end, i.e. once the tier row can no longer
change.  Downstream tiers re-aggregate these partials exactly like the
batch path (rollup_from_partials).

``Trigger.AvailableNow`` drains whatever exists and stops — one
resumable batch run, checkpointed by Spark's offset log instead of our
ledger; rerunning after new files land processes only the delta.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from repurpose_spark.config import DEFAULT, EngineConfig
from repurpose_spark.functions.cells import cell_id_expr
from repurpose_spark.operators.rollup import MERGEABLE, raw_partials

POINTS_SCHEMA = "doc_id string, ts timestamp, token int"


def incremental_hourly_rollup(
    spark: SparkSession,
    input_dir: str,
    cfg: EngineConfig = DEFAULT,
    watermark: str = "1 hour",
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """readStream(points dir) → hourly windowed partials per series.

    NB: append mode emits a window only once a *later* micro-batch runs
    with the advanced watermark — a drain whose data fits one micro-batch
    flushes nothing until the next drain (standard watermark semantics);
    size max_files_per_trigger accordingly.

    Ingest contract: the watermark bounds EVENT-TIME DISORDER ACROSS
    MICRO-BATCHES, and with a file source each file is a batch — so
    files must arrive roughly time-ordered, with cross-file disorder
    under ``watermark``.  An uncoalesced multi-file append violates
    this (every part-file spans the chunk's whole time range; the
    watermark ratchets past the later files' older rows and drops them
    as late — correctly, per the lateness bound).  Real feeds append
    one time-ordered file per ingest step; fixtures must do the same."""
    pts = (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        pts.withColumn("cell_id", cell_id_expr("doc_id", cfg.n_cells))
        .withWatermark("ts", watermark)
        .groupBy(
            "cell_id", "doc_id", F.window("ts", "1 hour").alias("w")
        )
        .agg(*raw_partials("token"))
        .select("cell_id", "doc_id", F.col("w.start").alias("tick"), *MERGEABLE)
    )


EVENTS_SCHEMA = "event_type string, ts timestamp, user_id long"


def incremental_uniques_rollup(
    spark: SparkSession,
    input_dir: str,
    watermark: str = "1 hour",
    window: str = "1 day",
    lg_k: int = 12,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Streaming twin of the batch HLL distinct-count tier
    (rollup.py::rollup_distinct_sketch): new event files are folded into
    per-(event_type, window) HLL sketches incrementally — the sketch IS
    the streaming state, so a day's unique-user count updates micro-batch
    by micro-batch without ever re-reading the day's raw events (exact
    count_distinct cannot do this: distinct counts are not mergeable
    partials, which in streaming means either unbounded per-key state or
    a full re-scan).  ``hll_sketch_agg`` is a typed imperative aggregate
    — Spark's state store checkpoints its partial sketch between
    micro-batches, same mergeability the batch tier exploits.

    Emits (event_type, tick, n_points, n_distinct_est) in append mode
    once the watermark passes a window's end.  Estimates are
    error-bounded (rse ~1.04/sqrt(2^lg_k)), not byte-stable — certified
    by the error-bound oracle, like the batch sketch tier."""
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    return (
        ev.withWatermark("ts", watermark)
        .groupBy("event_type", F.window("ts", window).alias("w"))
        .agg(*raw_partials("user_id", ("uniq_sketch", "n_points"), lg_k))
        .select(
            "event_type",
            F.col("w.start").alias("tick"),
            "n_points",
            F.hll_sketch_estimate("uniq_sketch").alias("n_distinct_est"),
        )
    )


def run_available_now(
    stream_df: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    timeout_sec: int = 300,
) -> None:
    """Drain all available input into parquet and stop — one resumable
    micro-batch run."""
    q = (
        stream_df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
