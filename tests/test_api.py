"""Reference-shaped facade: Img2Ts / Ts2Img / resample_to_grid compose
the engine operators end-to-end."""

import os

from pyspark.sql import functions as F

from repurpose_spark.api import Img2Ts, Ts2Img, resample_to_grid
from repurpose_spark.config import EngineConfig
from repurpose_spark.sources.synthetic import synth_sequences
from repurpose_spark.sources.tables import Warehouse

CFG = EngineConfig(n_cells=8)


def test_img2ts_calc(spark, tmp_path):
    out = str(tmp_path / "wh")
    res = Img2Ts(
        synth_sequences(spark, 60), out, cellsize=8, imgbuffer=2
    ).calc()
    assert res["n_packed"] == 60
    wh = Warehouse(spark, out)
    hourly = wh.read("img2ts_hourly")
    assert hourly.select("doc_id").distinct().count() == 60
    assert os.path.exists(os.path.join(out, "img2ts_hourly"))


def test_ts2img_calc_with_hook(spark, tmp_path):
    whp = str(tmp_path / "wh")
    Img2Ts(synth_sequences(spark, 40), whp, cellsize=8, imgbuffer=2).calc()
    hourly = Warehouse(spark, whp).read("img2ts_hourly").drop("batch_id")

    def halve(pdf):
        return pdf.assign(sum_v=pdf.sum_v // 2)

    out_dir = str(tmp_path / "slices")
    Ts2Img(
        hourly.select("cell_id", "doc_id", "tick", "sum_v"),
        out_dir,
        unit="hour",
        fill_values={"sum_v": 0},
        preprocess=[halve],
        preprocess_schema="cell_id int, doc_id string, tick timestamp, sum_v long",
    ).calc()
    back = spark.read.parquet(out_dir)
    # densified: every doc has a row at every tick of the global axis
    n_ticks = back.select("tick").distinct().count()
    per_doc = back.groupBy("doc_id").count().select("count").distinct()
    assert per_doc.count() == 1 and per_doc.first()[0] == n_ticks
    # hook applied: totals are halved-ish (integer div) and fills are 0
    src_sum = hourly.agg(F.sum(F.floor(F.col("sum_v") / 2))).first()[0]
    assert back.agg(F.sum("sum_v")).first()[0] == src_sum


def test_resample_to_grid_nn_and_weighted(spark):
    targets = [(t, float(t % 3), float(t // 3)) for t in range(9)]
    sources = [(s, (s % 5) * 0.5, (s // 5) * 0.5) for s in range(25)]
    src = spark.createDataFrame(
        [(s, float(s)) for s, _, _ in sources], "key long, v double"
    )
    nn = resample_to_grid(
        src, targets, sources, ["v"], search_rad=0.3, neighbours=1
    )
    got = {r["target_key"]: r["v"] for r in nn.collect()}
    for t, x, y in targets:
        s_exact = int(y * 2) * 5 + int(x * 2)
        assert got[t] == float(s_exact)
    wt = resample_to_grid(
        src, targets, sources, ["v"], search_rad=0.75, neighbours=4,
        min_neighbours=2,
    )
    assert wt.count() == 9


def test_img2ts_path_input_file_sliced(spark, tmp_path):
    """Img2Ts accepts a parquet path: batches slice by input files (the
    prunable scale path) and match the DataFrame-mode result."""
    from repurpose_spark.sources.tables import Warehouse

    seqs = synth_sequences(spark, 40)
    inp = str(tmp_path / "in")
    seqs.repartition(4).write.parquet(inp)
    res = Img2Ts(
        inp, str(tmp_path / "whp"), cellsize=8, imgbuffer=2, spark=spark
    ).calc()
    assert res["n_packed"] == 40
    ref = Img2Ts(seqs, str(tmp_path / "whd"), cellsize=8, imgbuffer=2).calc()
    a = Warehouse(spark, str(tmp_path / "whp")).read("img2ts_hourly")
    b = Warehouse(spark, str(tmp_path / "whd")).read("img2ts_hourly")
    cols = ["cell_id", "doc_id", "tick", "n_points", "sum_v"]
    assert sorted(map(tuple, a.select(*cols).collect())) == sorted(
        map(tuple, b.select(*cols).collect())
    )
