"""Reference-shaped facade: the three entry points a repurpose user knows.

* ``Img2Ts(...).calc()``   — img2ts.py:78-306 / :642-771: reshuffle the
  input into cell-partitioned per-series storage (here: packed Gorilla
  series per cell + tier tables, resumable batches).
* ``Ts2Img(...).calc()``   — ts2img.py:161-460: time series back to a
  dense, gap-filled per-timestamp layout, one slice directory per tick.
* ``resample_to_grid(...)`` — resample.py:152-246: spatial k-NN
  resampling of point data onto a target grid.

Each facade is a thin composition of the engine operators (reorient,
rollup, gapfill, encode, slices, resample) with reference-flavored
parameter names; new code should use the operators directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from repurpose_spark.config import DEFAULT, EngineConfig
from repurpose_spark.operators.gapfill import gap_fill
from repurpose_spark.operators.hooks import apply_batch_hooks, apply_per_series
from repurpose_spark.operators.slices import export_slices
from repurpose_spark.plans.pipeline import TierPipeline
from repurpose_spark.sources.tables import Warehouse


class Img2Ts:
    """Sequences table → cell-partitioned tier + packed storage.

    Reference signature analog (img2ts.py:78-306): input dataset,
    output path, cell sizing, buffer size (→ batches), n_proc (→ the
    cluster's parallelism, not a parameter here)."""

    def __init__(
        self,
        input_df: DataFrame | str,
        outputpath: str,
        cellsize: int = 64,          # n_cells (5-deg-grid analog)
        imgbuffer: int = 4,          # → number of resumable batches
        cfg: EngineConfig | None = None,
        job_id: str = "img2ts",
        spark: SparkSession | None = None,
        sketch_distinct: bool = False,
        sketch_quantiles: bool = False,
    ):
        """``input_df`` may be a DataFrame (hash-sliced batches) or a
        parquet path string — the scale path: batches slice by whole
        input files and each scans only its own ~1/imgbuffer of the
        table (TierPipeline.plan_batches).  ``spark`` is required only
        for the path form."""
        self.input_df = input_df if not isinstance(input_df, str) else None
        self.input_path = input_df if isinstance(input_df, str) else None
        self._spark = spark
        self.outputpath = outputpath
        self.batches = imgbuffer
        self.cfg = cfg or EngineConfig(n_cells=cellsize)
        self.job_id = job_id
        self.sketch_distinct = sketch_distinct
        self.sketch_quantiles = sketch_quantiles

    def calc(self) -> dict:
        """Run (or resume) the tier pipeline; returns
        :meth:`TierPipeline.run`'s counts, which cover only the cells
        this call refreshed (a finished job returns 0 for each)."""
        spark = (
            self.input_df.sparkSession
            if self.input_df is not None
            else (self._spark or SparkSession.active())
        )
        wh = Warehouse(spark, self.outputpath)
        pipe = TierPipeline(
            spark, wh, self.cfg, job_id=self.job_id,
            sketch_distinct=self.sketch_distinct,
            sketch_quantiles=self.sketch_quantiles,
        )
        return pipe.run(
            self.input_df,
            n_batches=self.batches,
            input_path=self.input_path,
        )


class Ts2Img:
    """Tier table → dense gap-filled image slices, one dir per tick.

    Reference signature analog (ts2img.py:161-183): ts source, target
    axis/unit, fill values, preprocess hooks (applied per series before
    the densify, ts2img.py:284-303) and postprocess hooks (applied to the
    finished dense batch after conversion, ts2img.py:304-320)."""

    def __init__(
        self,
        tier_df: DataFrame,
        outputpath: str,
        unit: str = "hour",
        key_cols: list = ("cell_id", "doc_id"),
        fill_values: dict | None = None,
        preprocess: list | None = None,
        preprocess_schema: str | None = None,
        postprocess: list | None = None,
    ):
        self.tier_df = tier_df
        self.outputpath = outputpath
        self.unit = unit
        self.key_cols = list(key_cols)
        self.fill_values = fill_values
        self.preprocess = preprocess or []
        self.preprocess_schema = preprocess_schema
        self.postprocess = postprocess or []

    def calc(self, single_file_per_slice: bool = False) -> str:
        df = self.tier_df
        if self.preprocess:
            if not self.preprocess_schema:
                raise ValueError("preprocess hooks need preprocess_schema")
            df = apply_per_series(
                df, self.preprocess, self.preprocess_schema,
                key_cols=self.key_cols, sort_within="tick",
            )
        dense = gap_fill(
            df, self.unit, key_cols=self.key_cols,
            fill_values=self.fill_values,
        )
        dense = apply_batch_hooks(dense, self.postprocess)
        export_slices(
            dense, self.outputpath,
            single_file_per_slice=single_file_per_slice,
        )
        return self.outputpath


def resample_to_grid(
    src: DataFrame,
    target_points: list,
    source_points: list,
    value_cols: list,
    search_rad: float,
    neighbours: int = 4,
    min_neighbours: int = 1,
    weight_radius: float | None = None,
    key_col: str = "key",
) -> DataFrame:
    """Spatial k-NN resample (resample.py:152-246 analog): NN when
    neighbours == 1, Hamming-weighted mean otherwise."""
    from repurpose_spark.operators.resample import (
        build_neighbor_pairs,
        hamming_weight,
        resample_nn,
        resample_weighted,
    )

    spark = src.sparkSession
    pairs = build_neighbor_pairs(
        spark, target_points, source_points, k=neighbours,
        max_dist=search_rad,
    )
    if neighbours == 1:
        return resample_nn(
            src, pairs, value_cols, key_col=key_col, max_dist=search_rad
        )
    w = hamming_weight(F.col("dist"), weight_radius or search_rad)
    return resample_weighted(
        src, pairs, value_cols, key_col=key_col,
        weight=w, min_neighbours=min_neighbours,
    )
