"""Scaling-efficiency evidence for the BASELINE.json north rule.

No real cluster exists in this sandbox, so N-vs-4N executors is evidenced
by running the identical job at two parallelism levels on the same input
(driver instruction).  Three measurements, each at local[2] / local[8] /
local[32]:

1. ``pipeline``  — the full durable tier pipeline (TierPipeline.run:
   explode → salt-safe hourly rollup → parquet commit per batch → daily →
   gorilla pack), tokens/sec end-to-end.
2. ``compute``   — the same logical tier computation with a noop sink
   (no durable writes): isolates the distributed compute that actually
   scales with executors on a real cluster, from the parquet-twin's
   driver-serial file commits (Iceberg commits metadata; object-store
   writes scale per-executor).
3. ``hardware``  — a Spark-free multiprocessing sha256 probe: the ceiling
   this oversubscribed VM can physically deliver (32 advertised vCPUs do
   NOT deliver 4x the throughput of 8 — measured, not assumed).

Plus per-query levels (local[2] vs local[8]) for the round-2-added
headline operators — curation, pack assignments, decontamination, ANN
index build/query — on an 8x-replicated fixture (the raw sf fixture
finishes sub-second and would measure JVM constants, not scaling).

Efficiency(N→4N) = throughput(4N) / (4 * throughput(N)).

Usage: python scripts/bench_scaling.py [--docs 500000] [--levels 2,8]
       [--pipeline-trials 2] [--out artifacts/BENCH_SCALING.json]
Each Spark level runs in a subprocess (fresh JVM per master).  The 2,8
axis is the hardware-valid N-vs-4N evidence on this host (the probe
shows 32 advertised vCPUs deliver only ~2x the throughput of 8).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import multiprocessing as mp
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COMPUTE_JOB = """
import sys, time; sys.path.insert(0, {repo!r})
from repurpose_spark.session import get_spark
from pyspark.sql import functions as F
spark = get_spark(master="local[{cpus}]", shuffle_partitions=2*{cpus})
spark.sparkContext.setLogLevel("ERROR")
from repurpose_spark.config import EngineConfig
from repurpose_spark.sources.synthetic import synth_sequences
from repurpose_spark.operators.reorient import sequences_to_points
from repurpose_spark.operators.rollup import rollup_points, rollup_from_partials, with_avg
from repurpose_spark.operators.encode import encode_series
cfg = EngineConfig(n_cells=64)
# warm-up (JIT + python workers), untimed
w = rollup_points(sequences_to_points(synth_sequences(spark, 2000), cfg, with_ts=False), 3600)
encode_series(with_avg(w), int_cols=["sum_v","n_points"], float_cols=["avg_v"]).write.format("noop").mode("overwrite").save()
seqs = synth_sequences(spark, {docs}, skew=True, numPartitions=64)
n_tokens = seqs.agg(F.sum("n_tok")).collect()[0][0]
best = None
for trial in range({trials}):
    t0 = time.time()
    pts = sequences_to_points(seqs, cfg, with_ts=False)
    hourly = rollup_points(pts, 3600, dt_seconds=cfg.dt_seconds, epoch=cfg.epoch).cache()
    hourly.count()
    rollup_from_partials(hourly, "day").write.format("noop").mode("overwrite").save()
    encode_series(with_avg(hourly), int_cols=["sum_v","n_points"], float_cols=["avg_v"]).write.format("noop").mode("overwrite").save()
    dt = time.time() - t0
    hourly.unpersist()
    best = dt if best is None or dt < best else best
print(__import__("json").dumps({{"wall_sec": round(best,3), "n_tokens": int(n_tokens), "tokens_per_sec": round(n_tokens/best,1)}}))
"""


QUERY_JOB = """
import sys, time, json, tempfile, shutil; sys.path.insert(0, {repo!r})
from repurpose_spark.session import get_spark
from pyspark.sql import functions as F
spark = get_spark(master="local[{cpus}]", shuffle_partitions=2*{cpus})
spark.sparkContext.setLogLevel("ERROR")
import __spark_entry__ as entry
# blow the fixture up {scale_k}x with distinct ids (untimed prep): the raw
# sf fixture finishes sub-second at local[2], which measures JVM constants,
# not distributed work — scaling evidence needs minutes-of-work inputs
orig = {sf_dir!r}
sf = tempfile.mkdtemp(prefix="qscale_")
# embeddings scale 8x harder: per-vector work is tiny, so matching the
# documents factor leaves the ANN legs constant-dominated
for tbl, idc, k in (("documents", "doc_id", {scale_k}),
                    ("embeddings", "vec_id", {scale_k} * 8)):
    d = spark.read.parquet(orig + "/" + tbl + ".parquet")
    n = d.agg(F.max(idc)).first()[0] + 1
    big = (
        d.crossJoin(spark.range(k).withColumnRenamed("id", "__k"))
        .withColumn(idc, F.col(idc) + F.col("__k") * n)
    )
    if tbl == "documents":
        # replicas must NOT be byte-identical: exact dedup would
        # otherwise collapse the corpus back to its original size
        # before the heavy near-dup stage (measured r4: doc_curation
        # wall was flat from 8x to 64x for exactly this reason).  A
        # replica suffix keeps fingerprints distinct while replicas
        # stay near-dups of each other — the realistic crawl-corpus
        # shape (families of near-identical documents).
        big = big.withColumn(
            "text", F.concat(F.col("text"), F.lit(" v"),
                             F.col("__k").cast("string")))
    big = big.drop("__k")
    # FIXED split count across parallelism levels (identical input layout)
    big.repartition(64).write.parquet(sf + "/" + tbl + ".parquet")
qs = entry.queries()
names = ["doc_curation", "doc_pack_assignments", "doc_contamination"]
# warm-up pass (JIT + python workers), untimed
for n in names:
    qs[n](spark, sf).write.format("noop").mode("overwrite").save()
out = {{}}
for n in names:
    per = []
    for _ in range({trials}):
        t0 = time.time()
        qs[n](spark, sf).write.format("noop").mode("overwrite").save()
        per.append(round(time.time() - t0, 3))
    out[n] = min(per)
# ANN index build (the distributed heavy half of the indexed path) +
# the partition-pruned indexed query against it
from repurpose_spark.operators.similarity import (
    materialize_ann_index, lsh_topk_indexed)
emb = spark.read.parquet(sf + "/embeddings.parquet")
qv = [float(x) for x in emb.orderBy("vec_id").select("embedding").first()[0]]
root = tempfile.mkdtemp(prefix="annidx_")
materialize_ann_index(emb, root + "/w", n_planes=8)  # warm-up, untimed
per = []
for i in range({trials}):
    t0 = time.time()
    materialize_ann_index(emb, root + f"/i{{i}}", n_planes=8)
    per.append(round(time.time() - t0, 3))
out["ann_index_build"] = min(per)
per = []
for _ in range({trials}):
    t0 = time.time()
    lsh_topk_indexed(spark, root + "/i0", qv, k=10, n_planes=8).collect()
    per.append(round(time.time() - t0, 3))
out["ann_query_indexed"] = min(per)
shutil.rmtree(root, ignore_errors=True)
shutil.rmtree(sf, ignore_errors=True)
print(json.dumps(out))
"""


def run_queries(cpus: int, sf_dir: str, trials: int, scale_k: int = 8) -> dict:
    code = QUERY_JOB.format(
        repo=REPO, cpus=cpus, sf_dir=sf_dir, trials=trials, scale_k=scale_k
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=5400, cwd=REPO,
    )
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def run_compute(cpus: int, docs: int, trials: int) -> dict:
    code = COMPUTE_JOB.format(repo=REPO, cpus=cpus, docs=docs, trials=trials)
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        timeout=1200,
    )
    line = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def run_pipeline(cpus: int, docs: int, trials: int = 1) -> dict:
    """Best-of-N full durable runs (fresh JVM + warehouse each): the host
    shows multi-second steal bursts, and a single long run can absorb one
    whole (BASELINE.md noise narrative) — min-of-N is the same estimator
    the compute/query levels already use."""
    best = None
    for _ in range(trials):
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "run_tiers.py"),
             "--docs", str(docs), "--cpus", str(cpus), "--batches", "2",
             "--cells", "64", "--parts", "64", "--json"],
            capture_output=True, text=True, timeout=1200,
        )
        line = [ln for ln in out.stdout.strip().splitlines()
                if ln.startswith("{")][-1]
        rec = json.loads(line)
        if best is None or rec["wall_sec"] < best["wall_sec"]:
            best = rec
    return best


def _burn(n: int) -> int:
    h = b"x" * 64
    for _ in range(n):
        h = hashlib.sha256(h).digest()
    return h[0]


def run_hardware(workers: int, total_ops: int = 12_800_000) -> dict:
    per = total_ops // workers
    t0 = time.time()
    with mp.Pool(workers) as p:
        p.map(_burn, [per] * workers)
    dt = time.time() - t0
    return {"wall_sec": round(dt, 3), "ops_per_sec": round(total_ops / dt, 1)}


def eff(lo: dict, hi: dict, key: str, factor: int = 4) -> float:
    return round(hi[key] / (factor * lo[key]), 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=500000)
    ap.add_argument("--pipeline-docs", type=int, default=None,
                    help="doc count for the durable-pipeline levels "
                         "(default: same as --docs)")
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--pipeline-trials", type=int, default=1)
    ap.add_argument("--levels", default="2,8,32",
                    help="comma-separated local[N] levels; the 2,8 axis is "
                         "the hardware-valid N-vs-4N evidence on this host "
                         "(32 vCPUs deliver only ~2x of 8 — see probe)")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1",
                    help="fixture for the per-query scaling levels")
    ap.add_argument("--no-queries", action="store_true",
                    help="skip the per-query scaling levels")
    ap.add_argument("--scale-k", type=int, default=8,
                    help="fixture replication for the per-query levels; "
                         "raise until the slowest query runs >=30s at "
                         "local[2] so JVM constants stop dominating "
                         "(VERDICT r3 next #6)")
    ap.add_argument("--only-queries", action="store_true",
                    help="run ONLY the per-query scaling levels")
    ap.add_argument("--out", default=os.path.join(REPO, "artifacts", "BENCH_SCALING.json"))
    args = ap.parse_args()

    levels = [int(x) for x in args.levels.split(",")]
    res: dict = {"docs": args.docs, "levels": levels,
                 "scale_k": args.scale_k}
    if args.only_queries:
        for c in (2, 8):
            res[f"queries_{c}"] = run_queries(
                c, args.sf_dir, args.trials, args.scale_k)
            print(f"queries local[{c}]: {res[f'queries_{c}']}", flush=True)
        res["efficiency"] = {}
        for q, t2 in res["queries_2"].items():
            t8 = res["queries_8"][q]
            res["efficiency"][f"q_{q}_2_to_8"] = round(t2 / (4 * t8), 3)
        with open(args.out, "w") as f:
            json.dump(res, f, indent=2)
        print(json.dumps(res["efficiency"]))
        return
    for c in levels:
        res[f"hardware_{c}"] = run_hardware(c)
    for c in levels:
        res[f"compute_{c}"] = run_compute(c, args.docs, args.trials)
        print(f"compute local[{c}]: {res[f'compute_{c}']}", flush=True)
    pdocs = args.pipeline_docs or args.docs
    res["pipeline_docs"] = pdocs
    for c in levels:
        res[f"pipeline_{c}"] = run_pipeline(c, pdocs, args.pipeline_trials)
        print(f"pipeline local[{c}]: {res[f'pipeline_{c}']}", flush=True)
    if not args.no_queries:
        # per-query scaling for the r2-added headline ops (VERDICT r2 #8):
        # fixed sf0.1 input, so efficiency = t_lo / (4 * t_hi)
        for c in (2, 8):
            res[f"queries_{c}"] = run_queries(
                c, args.sf_dir, args.trials, args.scale_k)
            print(f"queries local[{c}]: {res[f'queries_{c}']}", flush=True)

    res["efficiency"] = {}
    for lo, hi in zip(levels, levels[1:]):
        f = hi // lo
        res["efficiency"][f"hardware_{lo}_to_{hi}"] = eff(
            res[f"hardware_{lo}"], res[f"hardware_{hi}"], "ops_per_sec", f)
        res["efficiency"][f"compute_{lo}_to_{hi}"] = eff(
            res[f"compute_{lo}"], res[f"compute_{hi}"], "tokens_per_sec", f)
        res["efficiency"][f"pipeline_{lo}_to_{hi}"] = eff(
            res[f"pipeline_{lo}"], res[f"pipeline_{hi}"], "tokens_per_sec", f)
    if 2 in levels and 8 in levels:
        res["efficiency"]["compute_2_to_8_vs_hw_ceiling"] = round(
            eff(res["compute_2"], res["compute_8"], "tokens_per_sec")
            / eff(res["hardware_2"], res["hardware_8"], "ops_per_sec"), 3)
    if "queries_2" in res:
        for q, t2 in res["queries_2"].items():
            t8 = res["queries_8"][q]
            # fixed work: throughput ∝ 1/wall, eff(2→8) = t2 / (4·t8)
            res["efficiency"][f"q_{q}_2_to_8"] = round(t2 / (4 * t8), 3)
    with open(args.out, "w") as f:
        json.dump(res, f, indent=2)
    print(json.dumps(res["efficiency"]))


if __name__ == "__main__":
    main()
