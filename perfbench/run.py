"""Benchmark of the spark-repurpose engine.

    python3 perfbench/run.py --workload ingest_hotcell --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout.  One run starts a
``local[<cores>]`` session sized to the host, builds the workload's seeded
inputs (set-up), repeats the workload's unit of work until ``--seconds``
have passed, checks every output, and prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one more
traced unit after the timed loop and reports the per-layer metrics
instead (see perfbench/README.md).  The line before it holds the run's
details: host settings, host probes, sample counts and failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

from layers import quantile, supported_percentile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


class RssSampler:
    """Resident memory of this process and all its descendants (the
    driver JVM and its Python workers), sampled from /proc.  Each process
    counts its proportional set size, so pages the forked Python workers
    share with their daemon count once."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.samples: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree_bytes() -> int:
        parent = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process exited mid-scan
        mine, frontier = set(), {os.getpid()}
        while frontier:
            mine |= frontier
            frontier = {p for p, pp in parent.items() if pp in frontier} - mine
        total = 0
        for pid in mine:
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(
                        int(ln.split()[1]) for ln in f if ln.startswith("Pss:")
                    ) * 1024
            except (OSError, StopIteration, ValueError):
                continue
        return total

    def _run(self):
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), self.tree_bytes()))
            self._stop.wait(self.period_s)

    def peak(self, start: float, end: float) -> int | None:
        """Highest sample taken in [start, end] (perf_counter s)."""
        return max((b for t, b in self.samples if start <= t <= end), default=None)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def host_settings(fixed_heap: bool) -> dict:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    # a quarter of the host, 1-2 GB: the inputs are small, and the
    # machine is shared (session.py's 32g default is sized for sf1.0)
    mem_gb = min(2, max(1, total_kb // (4 * 1024 * 1024)))
    return {
        "master": f"local[{cores}]",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        # -Xms at the driver memory: G1 neither grows nor shrinks the heap
        # (see the workload's FIXED_HEAP)
        "spark.driver.extraJavaOptions": f"-Xms{mem_gb}g" if fixed_heap else "",
        "host_cores": cores,
        "host_mem_gb": round(total_kb / 1024 / 1024, 1),
    }


def start_spark(settings: dict):
    for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS"):
        os.environ[k] = settings[k]
    os.makedirs(settings["SPARK_LOCAL_DIRS"], exist_ok=True)
    from repurpose_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=settings["master"],
        extra_conf={k: settings[k] for k in (
            "spark.ui.showConsoleProgress", "spark.driver.extraJavaOptions")},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def e2e_metrics(results: list, setup_s: float) -> dict:
    ok = [r for r in results if r is not None]
    wall = statistics.median(r["unit_s"] for r in ok)
    queries = [q for r in ok for q in r["queries_ms"]]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "wall_s": {"value": wall, "unit": "s"},
        "tokens_per_s": {
            "value": statistics.median(r["points_per_s"] for r in ok),
            "unit": "tokens/s"},
        "query_p50_ms": {"value": statistics.median(queries), "unit": "ms"},
        "storage_bytes_per_point": {
            "value": statistics.median(r["bytes_per_point"] for r in ok),
            "unit": "B"},
        # each unit's peak, median over the units: one unit's spike does
        # not set the run's figure
        "peak_rss_mb": {
            "value": statistics.median(r["peak_rss"] for r in ok) / 2**20,
            "unit": "MB"},
    }


def run_one(work, tracer, rss, results: list, failures: list) -> None:
    start = time.perf_counter()
    try:
        r = work.iteration(tracer)
    except Exception:  # a failed unit counts against the run; go on
        failures.append(traceback.format_exc(limit=3))
        results.append(None)
        return
    r["peak_rss"] = rss.peak(start, time.perf_counter()) or rss.tree_bytes()
    if r["errors"]:
        failures.append("; ".join(r["errors"]))
    results.append(r)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "repurpose_spark", "session.py")):
        print(f"no engine source next to {HERE}: run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]
    from bench import _hw_probe
    from spans import Tracer, fetch_rest
    from workloads import PER_LAYER, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    settings = host_settings(WORKLOADS[args.workload].FIXED_HEAP)
    probe = {"before": _hw_probe(settings["host_cores"], 800_000)}

    t0 = time.perf_counter()
    spark = start_spark(settings)
    try:
        session_s = time.perf_counter() - t0
        work = WORKLOADS[args.workload](spark, args.seed, os.path.join(WORK, "wl"))
        info = work.setup()
        setup_s = time.perf_counter() - t0
        info["session_start_s"] = round(session_s, 3)

        results, failures, self_s = [], [], {}
        off = Tracer(spark.sparkContext, "", enabled=False)
        with RssSampler() as rss:
            start = time.perf_counter()
            while not results or time.perf_counter() - start < args.seconds:
                run_one(work, off, rss, results, failures)
                if len(failures) >= 3 and all(r is None for r in results[-3:]):
                    break
        if all(r is None for r in results):
            print("\n".join(failures), file=sys.stderr)
            return 1
        metrics = e2e_metrics(results, setup_s)
        if args.trace:
            run_id = f"{args.workload}-{args.seed}"
            tracer = Tracer(spark.sparkContext, run_id, enabled=True)
            run_one(work, tracer, rss, results, failures)
            if results[-1] is None:
                print("\n".join(failures), file=sys.stderr)
                return 1
            rest = fetch_rest(spark.sparkContext, tracer.spans[0]["start"] - 0.001)
            lay = dict.fromkeys((n for n, _ in PER_LAYER), 0)
            lay.update(work.layers(tracer, rest))
            lay["trace.overhead_s"] = (
                results[-1]["unit_s"] - metrics["wall_s"]["value"])
            units = dict(PER_LAYER)
            metrics = {k: {"value": v, "unit": units[k]} for k, v in lay.items()}
            tracer.write(os.path.join(OUT, f"spans-{run_id}.json"))
            with open(os.path.join(OUT, f"rest-{run_id}.json"), "w") as f:
                json.dump(rest, f)
            self_s = _self_by_layer(tracer)
    finally:
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    probe["after"] = _hw_probe(settings["host_cores"], 800_000)

    latencies = [q for r in results if r for q in r["queries_ms"]]
    # the highest percentile with at least ten samples beyond it, if any
    pct = supported_percentile(len(latencies))
    tail = {"pct": pct, "ms": quantile(latencies, pct)} if pct else None
    failed = sum(1 for r in results if r is None or r["errors"])
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "settings": settings,
        "hw_probe": probe, "workload_info": info,
        "unit_s": [round(r["unit_s"], 3) if r else None for r in results],
        "query_samples": len(latencies), "query_tail": tail,
        "unit_peak_rss_mb": [round(r["peak_rss"] / 2**20) if r else None
                             for r in results],
        "failed_ratio": failed / len(results),
        "self_s_by_layer": self_s,
        "failures": failures[:5],
    }, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(results), "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _self_by_layer(tracer) -> dict:
    from layers import self_times

    own = self_times(tracer.spans)
    out: dict = {}
    for s in tracer.spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]]
    return out


if __name__ == "__main__":
    sys.exit(main())
