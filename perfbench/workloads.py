"""The benchmark's workloads.

Each workload has ``setup()`` (untimed by the loop, reported as
``setup_s``), ``iteration(tracer)`` (one unit of work plus its output
checks) and ``layers(tracer, rest)`` (per-layer metrics of the traced
iteration, from its spans and the Spark UI REST records).  An iteration returns::

    {"unit_s": wall of the unit of work, "points_per_s": input points
     it processed per second of its main call, "queries_ms": latencies
     of its read queries, "bytes_per_point": bytes it wrote to disk per
     input point, "errors": failed output checks}
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import numpy as np

import gen
import layers as L
from spans import Tracer, shuffle_write_bytes

CATALOG = {  # query -> (engine module, input table)
    "ev_interval_join": ("intervals", "events"),
    "ev_ks_drift": ("drift", "events"),
    "ev_haar_energy": ("downsample", "events"),
    "ev_trimmed_daily": ("robust", "events"),
    "ev_value_quantiles": ("qsketch", "events"),
    "doc_heaps_beta": ("cooccur", "documents"),
    "doc_systematic_sample": ("sampling", "documents"),
    "doc_edit_dup_pairs": ("dedup", "documents"),
    "doc_minhash_pairs": ("dedup", "documents"),
    "doc_canonical": ("graph", "documents"),
    "emb_topk": ("similarity", "embeddings"),
    "emb_int8_roundtrip": ("similarity", "embeddings"),
}
# every per-layer metric, in BENCHMARK.json order; a layer a workload
# does not exercise reports 0
PER_LAYER = [
    ("reorient.points_out", "count"),
    ("rollup.hourly_task_s", "s"), ("rollup.hourly_cpu_s", "s"),
    ("rollup.hourly_shuffle_mb", "MB"), ("rollup.hourly_shuffle_records", "count"),
    ("rollup.hourly_rows", "count"), ("rollup.daily_task_s", "s"),
    ("rollup.daily_rows", "count"),
    ("encode.task_s", "s"), ("encode.py_run_s", "s"), ("encode.py_start_s", "s"),
    ("encode.arrow_out_mb", "MB"), ("encode.arrow_in_mb", "MB"),
    ("encode.packed_rows", "count"), ("encode.bytes_per_point", "B"),
    ("encode.decode_query_ms", "ms"),
    ("skew.hot_cells", "count"), ("skew.finalize_task_skew", "ratio"),
    ("skew.hourly_task_skew", "ratio"), ("skew.refresh_hot_cells", "count"),
    ("tables.files_written", "count"), ("tables.output_mb", "MB"),
    ("tables.write_task_s", "s"), ("tables.expire_snapshots_s", "s"),
    ("pipeline.run_s", "s"), ("pipeline.batch_s", "s"),
    ("pipeline.finalize_s", "s"), ("pipeline.driver_s", "s"),
    ("pipeline.jobs", "count"), ("pipeline.refresh_s", "s"),
    ("pipeline.refreshed_cells", "count"), ("pipeline.refresh_useful_ratio", "ratio"),
    ("compaction.compact_s", "s"), ("compaction.files_before", "count"),
    ("compaction.files_after", "count"),
    ("retention.expire_s", "s"), ("retention.rows_dropped", "count"),
    ("gapfill.query_ms", "ms"), ("gapfill.dense_per_obs", "ratio"),
    ("collocate.query_ms", "ms"), ("collocate.rows_out", "count"),
] + [(f"{m}.{q}_s", "s") for q, (m, _) in CATALOG.items()] + [
    ("session.gc_s", "s"), ("session.spill_mb", "MB"),
    ("session.driver_share", "ratio"), ("session.persistent_rdds", "count"),
    ("session.storage_mb", "MB"),
    ("trace.overhead_s", "s"),
]

EPOCH = datetime(2020, 1, 1)
# the 6 h axis of the collocate query
AXIS = [EPOCH + timedelta(hours=h) for h in range(0, 96, 6)]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
    )


def _session_layers(sc, tr, rest) -> dict:
    """Session-wide figures over the traced iteration (the root span)."""
    root = tr.spans[0]
    tot = L.stage_totals(rest["stages"])
    ivals = [i for i in map(L.stage_interval, rest["stages"]) if i]
    wall = root["end"] - root["start"]
    return {
        "session.gc_s": tot["gc_s"],
        "session.spill_mb": tot["spill_mb"],
        "session.driver_share":
            L.driver_time(root["start"], root["end"], ivals) / wall,
        "session.persistent_rdds": len(sc._jsc.getPersistentRDDs()),
        "session.storage_mb": sum(
            (r.get("memoryUsed", 0) + r.get("diskUsed", 0)) for r in rest["rdds"]
        ) / L.MB,
    }


def _query(tr, name: str, layer: str, latencies: list, build) -> list:
    """Run one read query (build the DataFrame, collect it) in a span;
    append its latency in ms."""
    t = time.perf_counter()
    with tr.span(name, layer):
        rows = build().collect()
    latencies.append((time.perf_counter() - t) * 1e3)
    return rows


def _span(tr, name: str) -> dict | None:
    return next((s for s in tr.spans if s["name"] == name), None)


def _span_s(tr, name: str) -> float:
    s = _span(tr, name)
    return s["end"] - s["start"] if s else 0.0


def _median_ms(tr, name: str) -> float:
    return statistics.median(
        (s["end"] - s["start"]) * 1e3 for s in tr.spans if s["name"] == name)


class IngestHotcell:
    """The Img2Ts write path, whole.  One unit of work, on a fresh
    warehouse:

    1. durable ``TierPipeline.run`` over seeded parquet in which one cell
       holds ~30 % of the tokens, so finalize salts its tier writes;
    2. a small seeded file set whose doc_ids hash into a few cells (never
       the hot one) lands in the input directory;
    3. ``run_incremental`` refreshes just those cells (each ~1/8 of the
       refresh scope, under the 0.2 hot-cell threshold: no salting);
    4. ``compact`` of the hourly tier, ``apply_retention`` dropping its
       first hours, and ``expire_snapshots``.

    Then three read queries (packed decode, hourly gap-fill, 6 h
    collocation) on the hot cell and on seeded appended cells."""

    name = "ingest_hotcell"
    N_CELLS = 64
    N_DOCS = 4000
    N_FILES = 8
    N_BATCHES = 2
    N_APPEND_CELLS = 8
    N_APPEND_PER_CELL = 40
    HORIZON_H = 2  # hourly retention drops hours 0 and 1
    # cells a timed unit reads (the hot one and appended ones): 9 read
    # queries, so their median does not hang on one or two of them
    N_READ_CELLS = 3
    # a heap that starts small keeps growing through the timed unit (G1
    # committed ~0.8 GB after warm-up, ~1.4 GB two units later), so the
    # unit touches ~170 k fresh pages, against ~40 k with -Xms at the
    # driver memory.  On a VM that demand-pages guest memory, fresh pages
    # are slow in bad windows: the slowest unit seen (26 s against a
    # median of 16 s) was the one whose heap grew most.  Ten-run sets
    # spread 0.09-0.11 in wall_s this way, against 0.27 without it.  The
    # heap is not pre-touched, but G1 comes to touch all of it, so
    # peak_rss_mb here reads about the heap plus the Python workers and
    # off-heap memory
    FIXED_HEAP = True

    def __init__(self, spark, seed: int, work: str):
        from repurpose_spark.config import EngineConfig

        self.spark, self.seed, self.work = spark, seed, work
        self.rng = np.random.default_rng(seed)
        self.cfg = EngineConfig(n_cells=self.N_CELLS)
        self.k = 0

    def setup(self) -> dict:
        docs, self.hot = gen.hot_cell(
            self.spark, self.rng, f"s{self.seed}_", self.N_DOCS, self.N_CELLS)
        self.targets = sorted(int(c) for c in self.rng.choice(
            [c for c in range(self.N_CELLS) if c != self.hot],
            self.N_APPEND_CELLS, replace=False))
        self.add = gen.localized(self.spark, self.rng, f"s{self.seed}_add",
                                 self.N_APPEND_PER_CELL, self.N_CELLS, self.targets)
        self.input = os.path.join(self.work, "input")
        gen.write_parquet(docs, self.input, self.N_FILES)
        self.append = gen.write_parquet(
            self.add, os.path.join(self.work, "append"), 2, name="append")
        self.base = docs
        # warm-up: one whole unit on the timed input, so JIT, codegen,
        # AQE's plans and Python workers are hot before timing, as in a
        # long-lived ingest service (after a unit on an eighth of the
        # input, the first timed unit still ran up to 20 % slower)
        t = time.perf_counter()
        r = self._unit(Tracer(None, "", enabled=False), self.input, docs, 2)
        if r["errors"]:
            raise RuntimeError(f"warm-up unit failed its checks: {r['errors']}")
        share = docs.cell_totals()[self.hot][0] / docs.n_tokens
        return {"warm_up_s": round(time.perf_counter() - t, 3),
                "hot_cell": self.hot, "hot_share": round(share, 4),
                "append_cells": self.targets, "tokens": docs.n_tokens,
                "append_tokens": self.add.n_tokens, "docs": len(docs.doc_ids)}

    def iteration(self, tr) -> dict:
        return self._unit(tr, self.input, self.base, self.N_READ_CELLS)

    def _unit(self, tr, input_dir: str, base: gen.DocSet, n_read: int) -> dict:
        full = base + self.add
        kept = full.expired(self.HORIZON_H)
        root = os.path.join(self.work, f"wh{self.k}")
        self.k += 1
        wh, pipe = self._pipe(root)
        errors, queries = [], []
        horizon = str(EPOCH + timedelta(hours=self.HORIZON_H))
        with tr.span("iteration", "bench"):
            t = time.perf_counter()
            with tr.span("TierPipeline.run", "pipeline"):
                pipe.run(input_path=input_dir, n_batches=self.N_BATCHES)
            run_s = time.perf_counter() - t
            # what finalize saw (ledger rows only, no Spark job); the
            # append below dilutes the hot share
            self.hot_cells = len(pipe._hot_cells())
            appended = [shutil.copy(f, input_dir) for f in self.append]
            try:
                with tr.span("TierPipeline.run_incremental", "refresh"):
                    inc = pipe.run_incremental(input_dir)
                with tr.span("TierPipeline.compact", "compaction"):
                    comp = pipe.compact()[pipe.hourly_table()]
                with tr.span("TierPipeline.apply_retention", "retention"):
                    ret = pipe.apply_retention({"hourly": horizon})["hourly"]
                with tr.span("TierPipeline.expire_snapshots", "tables"):
                    pipe.expire_snapshots(keep_last=2)
                unit_s = time.perf_counter() - t
            finally:
                # the next unit's run must see the base input only
                for f in appended:
                    os.remove(f)
            self.refresh_hot_cells = len(pipe._hot_cells(self.targets))
            if self.hot_cells < 1:
                errors.append("no hot cell: the salted finalize path was not taken")
            if self.refresh_hot_cells:
                errors.append(f"{self.refresh_hot_cells} hot cells in the refresh")
            if inc.get("n_refreshed_cells") != len(self.targets):
                errors.append(f"refreshed {inc.get('n_refreshed_cells')} cells, "
                              f"not the {len(self.targets)} appended ones")
            if not comp["files_after"] < comp["files_before"]:
                errors.append("compaction did not reduce the hourly files")
            dropped = full.hourly_rows() - kept.hourly_rows()
            if ret["n_dropped"] != dropped:
                errors.append(f"retention dropped {ret['n_dropped']} rows, not {dropped}")
            storage = self._storage(wh, pipe)
            errors += self._check_totals(wh, pipe, {
                pipe.hourly_table(): kept.cell_totals(),
                pipe.daily_table(): full.cell_totals()})
            # reads on the hot cell and on seeded appended cells
            self.read = dict.fromkeys(("dense", "obs", "col"), 0)
            cells = self.rng.choice(self.targets, n_read - 1, replace=False)
            for cell in (self.hot, *map(int, cells)):
                errors += self._reads(tr, wh, pipe, cell, full, kept, queries)
        shutil.rmtree(root, ignore_errors=True)
        self.maint = {"refreshed": inc.get("n_refreshed_cells", 0), "comp": comp,
                      "dropped": ret["n_dropped"]}
        return {"unit_s": unit_s, "points_per_s": base.n_tokens / run_s,
                "queries_ms": queries,
                "bytes_per_point": storage / full.n_tokens,
                "errors": errors}

    def _pipe(self, root: str):
        from repurpose_spark.plans.pipeline import TierPipeline
        from repurpose_spark.sources.tables import Warehouse

        wh = Warehouse(self.spark, root)
        return wh, TierPipeline(self.spark, wh, self.cfg, job_id="tiers")

    @staticmethod
    def _storage(wh, pipe) -> int:
        """On-disk bytes of the hourly, daily and packed tiers."""
        return sum(dir_bytes(wh.path(t)) for t in (
            pipe.hourly_table(), pipe.daily_table(), pipe.packed_table()))

    @staticmethod
    def _check_totals(wh, pipe, want: dict) -> list:
        """want: table -> {cell: (sum(n_points), sum(sum_v))}."""
        from pyspark.sql import functions as F

        errors = []
        for table, totals in want.items():
            got = {
                r["cell_id"]: (r["n"], r["s"])
                for r in wh.read(table).groupBy("cell_id")
                .agg(F.sum("n_points").alias("n"), F.sum("sum_v").alias("s"))
                .collect()
            }
            if got != totals:
                errors.append(f"{table}: per-cell totals differ")
        return errors

    def _reads(self, tr, wh, pipe, cell: int, full: gen.DocSet,
               kept: gen.DocSet, queries: list) -> list:
        """The three read queries on one cell, each opening its tier
        table: ``decode_series`` of packed, ``gap_fill`` of hourly and
        ``collocate`` of hourly onto the 6 h axis.  ``full`` is what the
        packed tier holds, ``kept`` what hourly holds after retention."""
        from pyspark.sql import functions as F

        from repurpose_spark.operators.collocate import collocate
        from repurpose_spark.operators.encode import decode_series
        from repurpose_spark.operators.gapfill import gap_fill

        def tier(table):
            return wh.read(table).where(F.col("cell_id") == cell)

        dec = _query(tr, "decode_series", "decode", queries, lambda: decode_series(
            tier(pipe.packed_table()),
            int_cols=["sum_v", "n_points"], float_cols=["avg_v"]))
        dense = _query(tr, "gap_fill", "gapfill", queries, lambda: gap_fill(
            tier(pipe.hourly_table()).select(
                "cell_id", "doc_id", "tick", "n_points", "sum_v"), "hour"))
        col = _query(tr, "collocate", "collocate", queries, lambda: collocate(
            tier(pipe.hourly_table()).select(
                "doc_id", F.col("tick").alias("obs_ts"), "sum_v"), AXIS))

        errors = []
        obs = {
            (r["doc_id"], r["tick"], r["n_points"], r["sum_v"])
            for r in dense if r["n_points"] is not None
        }
        if len(dec) != full.hourly_rows(cell) or \
                sum(r["n_points"] for r in dec) != full.cell_totals()[cell][0]:
            errors.append(f"cell {cell}: packed rows or points differ")
        if any(r["avg_v"] != r["sum_v"] / r["n_points"] for r in dec):
            errors.append(f"cell {cell}: decoded avg_v differs")
        # every series starts at the epoch: the decoded rows from the
        # retention horizon on must equal the hourly rows, value for value
        start = min(r["tick"] for r in dec) + timedelta(hours=kept.horizon)
        back = {(r["doc_id"], r["tick"], r["n_points"], r["sum_v"])
                for r in dec if r["tick"] >= start}
        if back != obs:
            errors.append(f"cell {cell}: packed decode differs from hourly")
        if len(obs) != kept.hourly_rows(cell) or \
                sum(o[2] for o in obs) != kept.cell_totals()[cell][0]:
            errors.append(f"cell {cell}: hourly rows or points differ")
        if len(dense) != kept.dense_rows(cell):
            errors.append(f"cell {cell}: gap_fill rows != keys x ticks")
        if len(col) != kept.colloc_rows(cell):
            errors.append(f"cell {cell}: collocate rows differ")
        for k, n in (("dense", len(dense)), ("obs", len(obs)), ("col", len(col))):
            self.read[k] += n
        return errors

    def _tier_layers(self, tr, rest, run_span: str) -> dict:
        """Layers of the traced pipeline call ``run_span``: the hourly
        rollup, the daily and packed finalize writes (attributed by the
        tier table they write, as finalize's thread pool drops the job
        group), the tier writes, pipeline phases and the read queries."""
        by = L.attribute(rest["sql"], rest["jobs"], rest["stages"],
                         tr.group_layers())
        empty = {"executions": [], "jobs": [], "stages": []}
        hourly, daily, packed = (by.get(k, empty) for k in
                                 ("rollup.hourly", "rollup.daily", "encode"))
        stage_by_id = {s["stageId"]: s for s in rest["stages"]}

        def write_stages(group):
            return [stage_by_id[i] for ex in group["executions"]
                    for i in L.write_stage_ids(ex, rest["jobs"])
                    if i in stage_by_id]

        def written(group, metric):
            return sum(L.node_metrics(ex, "Execute InsertIntoHadoopFsRelationCommand")
                       .get(metric, 0) for ex in group["executions"])

        arrow: dict = {}
        for ex in packed["executions"]:
            for k, v in L.node_metrics(ex, "ArrowEvalPython").items():
                arrow[k] = arrow.get(k, 0) + v
        tiers = {"executions": hourly["executions"] + daily["executions"]
                 + packed["executions"]}
        run = _span(tr, run_span)
        fin = [L.parse_time(e["submissionTime"])
               for e in daily["executions"] + packed["executions"]]
        fin_start = min(fin) if fin else run["end"]
        ivals = [i for i in map(L.stage_interval, rest["stages"]) if i]
        h = L.stage_totals(hourly["stages"])
        return {
            "reorient.points_out": sum(
                L.node_metrics(ex, "Generate").get("number of output rows", 0)
                for ex in hourly["executions"]),
            "rollup.hourly_task_s": h["task_s"],
            "rollup.hourly_cpu_s": h["cpu_s"],
            "rollup.hourly_shuffle_mb": h["shuffle_mb"],
            "rollup.hourly_shuffle_records": h["shuffle_records"],
            "rollup.hourly_rows": written(hourly, "number of output rows"),
            "rollup.daily_task_s": L.stage_totals(daily["stages"])["task_s"],
            "rollup.daily_rows": written(daily, "number of output rows"),
            "encode.task_s": L.stage_totals(packed["stages"])["task_s"],
            "encode.py_run_s": arrow.get("time to run Python workers", 0),
            "encode.py_start_s": arrow.get("time to start Python workers", 0)
            + arrow.get("time to initialize Python workers", 0),
            "encode.arrow_out_mb": arrow.get("data sent to Python workers", 0) / L.MB,
            "encode.arrow_in_mb":
                arrow.get("data returned from Python workers", 0) / L.MB,
            "encode.packed_rows": written(packed, "number of output rows"),
            "encode.bytes_per_point": written(packed, "written output")
            / max(written(hourly, "number of output rows"), 1),
            "encode.decode_query_ms": _median_ms(tr, "decode_series"),
            "skew.hot_cells": self.hot_cells,
            "skew.finalize_task_skew": max(
                [L.task_skew(s["taskRunTimes"])
                 for s in write_stages(daily) + write_stages(packed)] or [0]),
            "skew.hourly_task_skew": max(
                [L.task_skew(s["taskRunTimes"]) for s in write_stages(hourly)]
                or [0]),
            "tables.files_written": written(tiers, "number of written files"),
            "tables.output_mb": written(tiers, "written output") / L.MB,
            "tables.write_task_s": sum(
                s.get("executorRunTime", 0) for s in
                write_stages(hourly) + write_stages(daily) + write_stages(packed)
            ) / 1e3,
            "tables.expire_snapshots_s":
                _span_s(tr, "TierPipeline.expire_snapshots"),
            "pipeline.run_s": run["end"] - run["start"],
            "pipeline.batch_s": fin_start - run["start"],
            "pipeline.finalize_s": run["end"] - fin_start,
            "pipeline.driver_s": L.driver_time(run["start"], run["end"], ivals),
            "pipeline.jobs": sum(
                1 for j in rest["jobs"]
                if run["start"] <= L.parse_time(j["submissionTime"]) <= run["end"]),
            "gapfill.query_ms": _median_ms(tr, "gap_fill"),
            "gapfill.dense_per_obs": self.read["dense"] / self.read["obs"],
            "collocate.query_ms": _median_ms(tr, "collocate"),
            "collocate.rows_out": self.read["col"],
            **_session_layers(self.spark.sparkContext, tr, rest),
        }

    def layers(self, tr, rest) -> dict:
        out = self._tier_layers(tr, rest, "TierPipeline.run")
        m = self.maint
        out.update({
            "pipeline.refresh_s": _span_s(tr, "TierPipeline.run_incremental"),
            "pipeline.refreshed_cells": m["refreshed"],
            "pipeline.refresh_useful_ratio":
                len(self.targets) / m["refreshed"] if m["refreshed"] else 0,
            "skew.refresh_hot_cells": self.refresh_hot_cells,
            "compaction.compact_s": _span_s(tr, "TierPipeline.compact"),
            "compaction.files_before": m["comp"]["files_before"],
            "compaction.files_after": m["comp"]["files_after"],
            "retention.expire_s": _span_s(tr, "TierPipeline.apply_retention"),
            "retention.rows_dropped": m["dropped"],
        })
        return out


class QueryCatalog:
    """One long-lived session running the fixed list of registry queries
    on the bundled sf0.01 events/documents/embeddings tables (a copy of
    the read-only test data, so the run stays inside its checkout).  The
    seed sets only the query order.  Set-up computes each query's DuckDB
    oracle, as tools/check_entry.py does, and warms the session with
    ``WARM_ROUNDS`` rounds of every query; every timed result must pass
    its oracle."""

    name = "query_catalog"
    SF = "sf0.01"
    TABLES = ("events", "documents", "embeddings")
    # a pass after one warm-up round still runs ~35 % slower than after
    # three, and how far it has warmed varies from run to run
    WARM_ROUNDS = 3
    # a pass takes few fresh page faults either way (~15-40 k), and runs
    # with -Xms spread no less
    FIXED_HEAP = False

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.rng = np.random.default_rng(seed)
        self.data = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "data", self.SF)

    def setup(self) -> dict:
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        self.qs = {**entry.queries(), **entry.extra_queries()}
        self.rows = {t: pq.read_metadata(os.path.join(self.data, f"{t}.parquet"))
                     .num_rows for t in self.TABLES}
        # warm-up: every query on the timed input, so JIT, codegen, AQE's
        # plans and Python workers are hot before timing, as in a
        # long-lived session.  The queries share no session state (no temp
        # views or conf changes), so they warm up side by side, one per
        # core, while DuckDB computes the oracles
        t = time.perf_counter()
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            oracles = pool.submit(self._oracles, entry)
            for _ in range(self.WARM_ROUNDS):
                list(pool.map(
                    lambda q: self.qs[q](self.spark, self.data).collect(), CATALOG))
            self.oracle = oracles.result()
        return {"data": f"perfbench/data/{self.SF}", "queries": len(CATALOG),
                "input_rows": self.rows, "warm_up_rounds": self.WARM_ROUNDS,
                "warm_up_s": round(time.perf_counter() - t, 3)}

    def _oracles(self, entry) -> dict:
        """query -> (oracle spec, columns, rows) from DuckDB."""
        import duckdb

        sql = {**entry.oracle_sql(self.data), **entry.extra_oracle_sql()}
        bounds = entry.error_bound_oracles()
        con = duckdb.connect()
        for t in self.TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for name in CATALOG:
            spec = {"sql": sql[name]} if name in sql else bounds[name]
            res = con.sql(spec["sql"])
            out[name] = (spec, res.columns, res.fetchall())
        return out

    def _vs_oracle(self, name, scols, srows) -> str | None:
        from check_entry import _norm, _rows_to_set

        spec, dcols, drows = self.oracle[name]
        if len(srows) != len(drows):
            return f"rowcount {len(srows)} vs {len(drows)}"
        est = spec.get("est_col")
        if est is None:
            if sorted(scols) != sorted(dcols):
                return "columns differ"
            if _rows_to_set(scols, [[r[c] for c in scols] for r in srows]) != \
                    _rows_to_set(dcols, drows):
                return "values differ"
            return None
        # error-bound oracle: exact columns match; the estimate lies
        # within rel_err of the exact value, or inside [lo, hi]
        exact = sorted(c for c in scols if c != est)
        didx = {c: i for i, c in enumerate(dcols)}
        a = sorted((tuple(_norm(r[c]) for c in exact), float(r[est])) for r in srows)
        br = spec.get("bracket")
        if br:
            b = sorted((tuple(_norm(r[didx[c]]) for c in exact),
                        (float(r[didx[br["lo_col"]]]), float(r[didx[br["hi_col"]]])))
                       for r in drows)
            tol = 1e-9
            ok = all(ka == kb and lo - tol - abs(lo) * tol <= v <= hi + tol + abs(hi) * tol
                     for (ka, v), (kb, (lo, hi)) in zip(a, b))
        else:
            b = sorted((tuple(_norm(r[didx[c]]) for c in exact), float(r[didx[est]]))
                       for r in drows)
            ok = all(ka == kb and abs(va - vb) <= spec["rel_err"] * vb + 1
                     for (ka, va), (kb, vb) in zip(a, b))
        return None if ok else "estimate outside its error bound"

    def iteration(self, tr) -> dict:
        errors, queries = [], []
        order = list(CATALOG)
        self.rng.shuffle(order)
        self.times = {}
        since = time.time()
        t0 = time.perf_counter()
        with tr.span("iteration", "bench"):
            for name in order:
                t = time.perf_counter()
                with tr.span(name, CATALOG[name][0]):
                    df = self.qs[name](self.spark, self.data)
                    cols, rows = df.columns, df.collect()
                dt = time.perf_counter() - t
                queries.append(dt * 1e3)
                self.times[name] = dt
                err = self._vs_oracle(name, cols, rows)
                if err:
                    errors.append(f"{name}: {err}")
        unit_s = time.perf_counter() - t0
        points = sum(self.rows[CATALOG[q][1]] for q in order)
        # the pass writes no table: the bytes it puts on local disk are
        # its shuffle files
        return {"unit_s": unit_s, "points_per_s": points / unit_s,
                "queries_ms": queries,
                "bytes_per_point":
                    shuffle_write_bytes(self.spark.sparkContext, since) / points,
                "errors": errors}

    def layers(self, tr, rest) -> dict:
        out = {f"{m}.{q}_s": self.times[q] for q, (m, _) in CATALOG.items()}
        out.update(_session_layers(self.spark.sparkContext, tr, rest))
        return out


WORKLOADS = {w.name: w for w in (IngestHotcell, QueryCatalog)}
