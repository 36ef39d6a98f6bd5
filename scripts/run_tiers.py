"""spark-submit entry for the tier pipeline.

Cluster launch (the BASELINE.json north_rule contract):

    cd /root/repo && zip -qr /tmp/repurpose_spark.zip repurpose_spark
    spark-submit --master <cluster> --py-files /tmp/repurpose_spark.zip \
        scripts/run_tiers.py --input <sequences table/path> \
        --warehouse <path> --batches 64

Local (this sandbox) the same file runs under plain python; --cpus picks
the local[N] parallelism, which is how the N-vs-4N scaling efficiency is
evidenced (no real cluster here):

    python scripts/run_tiers.py --docs 200000 --cpus 8  --json
    python scripts/run_tiers.py --docs 200000 --cpus 32 --json

Prints one JSON line with wall seconds, token count and tokens/sec through
the full raw→hourly→daily(+packed) pipeline including the durable writes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from pyspark.sql import functions as F  # noqa: E402

from repurpose_spark.config import EngineConfig  # noqa: E402
from repurpose_spark.plans.pipeline import TierPipeline  # noqa: E402
from repurpose_spark.session import get_spark  # noqa: E402
from repurpose_spark.sources.synthetic import synth_sequences  # noqa: E402
from repurpose_spark.sources.tables import Warehouse  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None,
                    help="parquet path of a (doc_id,tokens,n_tok,source) table; "
                         "default: deterministic synthetic table")
    ap.add_argument("--docs", type=int, default=50000,
                    help="synthetic doc count when --input is not given")
    ap.add_argument("--skew", action="store_true", default=True)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--warehouse", default=None,
                    help="warehouse root (default: fresh temp dir)")
    ap.add_argument("--cells", type=int, default=64,
                    help="cell bucket count; keep FIXED when comparing "
                         "parallelism levels (file/commit layout must be "
                         "identical for a fair scaling measurement)")
    ap.add_argument("--parts", type=int, default=64,
                    help="input split count; FIXED across parallelism "
                         "levels so task granularity (and skew wave "
                         "balance) is identical")
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()

    spark = get_spark(
        app_name=f"tiers_local{args.cpus}", master=f"local[{args.cpus}]",
        shuffle_partitions=2 * args.cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    wh_root = args.warehouse or tempfile.mkdtemp(prefix="tiers_wh_")
    cleanup = args.warehouse is None
    cfg = EngineConfig(n_cells=args.cells)
    wh = Warehouse(spark, wh_root)
    pipe = TierPipeline(spark, wh, cfg, job_id="tiers")

    if args.input:
        seqs = spark.read.parquet(args.input)
    else:
        seqs = synth_sequences(spark, args.docs, skew=args.skew, numPartitions=args.parts)
    n_tokens = seqs.agg(F.sum("n_tok")).collect()[0][0]

    # untimed warm-up on a miniature input: JVM JIT + python-worker spawn
    # are one-time constants a long-running job amortizes to zero; without
    # this they dominate small-scale wall clock and poison the scaling
    # comparison
    warm_wh = Warehouse(spark, tempfile.mkdtemp(prefix="tiers_warm_"))
    TierPipeline(spark, warm_wh, cfg, job_id="warm").run(
        synth_sequences(spark, 1000), n_batches=1
    )
    shutil.rmtree(warm_wh.root, ignore_errors=True)

    t0 = time.time()
    if args.input:
        # table input → file-sliced batches: each batch scans only its own
        # ~1/n_batches of the input files (the prunable scale path)
        out = pipe.run(input_path=args.input, n_batches=args.batches)
    else:
        out = pipe.run(seqs, n_batches=args.batches)
    dt = time.time() - t0

    rec = {
        "cpus": args.cpus,
        "docs": args.docs if not args.input else None,
        "batches": args.batches,
        "n_tokens": int(n_tokens),
        "wall_sec": round(dt, 3),
        "tokens_per_sec": round(n_tokens / dt, 1),
        **out,
    }
    spark.stop()
    if cleanup:
        shutil.rmtree(wh_root, ignore_errors=True)
    if args.json:
        print(json.dumps(rec))
    else:
        for k, v in rec.items():
            print(f"{k}: {v}")


if __name__ == "__main__":
    main()
