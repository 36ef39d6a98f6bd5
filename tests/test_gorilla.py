"""Codec round-trip bit-exactness (SURVEY.md §7.1 step 5) — property-based
via hypothesis for the numpy codecs, plus a Spark-level packed-layout
round trip on the tier table."""

import math

import numpy as np
import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from repurpose_spark.config import EngineConfig
from repurpose_spark.functions.gorilla import (
    dod_decode,
    dod_encode,
    xor_decode,
    xor_encode,
)
from repurpose_spark.operators.encode import decode_series, encode_series
from repurpose_spark.operators.reorient import sequences_to_points
from repurpose_spark.operators.rollup import rollup
from repurpose_spark.sources.synthetic import synth_sequences


@given(st.lists(st.integers(-(2**40), 2**40), max_size=500))
# regular streams (fixed step): every DoD width is zero
@example(list(range(1577836800, 1577836800 + 2 * 3600, 3600)))
@example(list(range(-7, -7 + 3 * 60, 60)))
@example(list(range(5, 5 + 300 * 13, 13)))
@settings(max_examples=200, deadline=None)
def test_dod_round_trip(xs):
    a = np.array(xs, dtype=np.int64)
    assert (dod_decode(dod_encode(a)) == a).all()


@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=400
    )
)
@settings(max_examples=200, deadline=None)
def test_xor_round_trip(xs):
    a = np.array(xs, dtype=np.float64)
    b = xor_decode(xor_encode(a))
    # bit-exact, incl. NaN payloads
    assert (a.view(np.uint64) == b.view(np.uint64)).all()


def test_dod_compresses_regular_streams():
    ts = np.arange(0, 86400, 60, dtype=np.int64) + 1577836800  # 1-min ticks
    enc = dod_encode(ts)
    assert len(enc) < ts.nbytes / 20  # constant-delta stream ~ header only
    assert (dod_decode(enc) == ts).all()


def test_xor_compresses_smooth_streams():
    v = np.full(1000, 3.25)
    assert len(xor_encode(v)) < v.nbytes / 20


def test_spark_packed_round_trip(spark):
    cfg = EngineConfig(n_cells=8)
    pts = sequences_to_points(synth_sequences(spark, 30), cfg)
    hourly = rollup(pts, "hour").withColumn(
        "avg_v", F.col("sum_v") / F.col("n_points")
    )
    tier = hourly.select("cell_id", "doc_id", "tick", "sum_v", "avg_v")
    packed = encode_series(
        tier, int_cols=["sum_v"], float_cols=["avg_v"]
    )
    back = decode_series(
        packed, int_cols=["sum_v"], float_cols=["avg_v"]
    ).select("cell_id", "doc_id", "tick", "sum_v", "avg_v")
    assert back.exceptAll(tier).count() == 0
    assert tier.exceptAll(back).count() == 0
    # packed table is 1 row per series
    assert packed.count() == tier.select("doc_id").distinct().count()


def test_quantized_scale_offset_round_trip(spark):
    """CF scale/offset int packing (ts2img.py:333-340 analog): grid-aligned
    values round-trip exactly; arbitrary values within scale/2; quantized
    ints ride the DoD stream, not the XOR float path."""
    from pyspark.sql import Row

    rows = [
        Row(cell_id=0, doc_id="d0", tick=i, v=round(0.25 * i, 2), w=1.0 + i / 7.0)
        for i in range(50)
    ]
    tier = spark.createDataFrame(rows)
    packed = encode_series(
        tier,
        tick_col="tick",
        quantize_cols={"v": (0.01, 0.0), "w": (0.001, 1.0)},
    )
    # only DoD binaries present (no *_xor float stream for quantized cols)
    assert {"v_bin", "w_bin", "ts_bin"} <= set(packed.columns)
    out = decode_series(
        packed,
        tick_col="tick",
        tick_is_timestamp=False,
        quantize_cols={"v": (0.01, 0.0), "w": (0.001, 1.0)},
    )
    got = {r["tick"]: (r["v"], r["w"]) for r in out.collect()}
    assert len(got) == 50
    for i in range(50):
        v, w = got[i]
        assert abs(v - 0.25 * i) < 1e-9          # on the 0.01 grid: exact
        assert abs(w - (1.0 + i / 7.0)) <= 0.0005 + 1e-12  # scale/2 bound
