"""Warehouse.read (parquet twin, current state) is pinned to the table's
last commit: repeat reads reuse the planned DataFrame, every commit
re-plans, and a table without a sidecar is never pinned.  Planning reads
the schema the manifests recorded, so a read after a commit launches no
Spark job."""

import json
import time
import uuid

import pytest

from repurpose_spark.config import EngineConfig
from repurpose_spark.plans.compaction import compact_table
from repurpose_spark.plans.pipeline import TierPipeline
from repurpose_spark.plans.retention import expire_tier
from repurpose_spark.sources.synthetic import synth_sequences
from repurpose_spark.sources.tables import Warehouse


def _opt(o):
    return o.get() if o.isDefined() else None


def _job_log(spark, fn):
    """(fn(), every Spark job fn launched from any thread), each job as
    {"group", "description", "sql"} (its SQL execution id, None for a job
    outside one).  A marker job runs before and after fn: job ids follow
    submission order and the status store handles job events in order,
    so the jobs between the markers are fn's, and all of them have
    reported once the second marker has."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker():
        g = f"pin-{uuid.uuid4()}"
        sc.setJobGroup(g, "pinned read test marker")
        try:
            sc.parallelize([0], 1).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        deadline = time.monotonic() + 30
        while not tracker.getJobIdsForGroup(g):
            assert time.monotonic() < deadline, "marker job never reported"
            time.sleep(0.05)
        return tracker.getJobIdsForGroup(g)[0]

    lo = marker()
    group = f"pin-{uuid.uuid4()}"
    sc.setJobGroup(group, "pinned read test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    hi = marker()
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    jobs = []
    for i in range(lo + 1, hi):
        t = store.jobWithAssociatedSql(i)
        jobs.append({
            "group": _opt(t._1().jobGroup()),
            "description": _opt(t._1().description()),
            "sql": _opt(t._2()),
        })
    return out, jobs


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched)."""
    out, jobs = _job_log(spark, fn)
    return out, len(jobs)


def _planning(jobs):
    """(listing jobs, schema-inference jobs) among ``jobs``: a parallel
    file listing carries its own description; a parquet footer read is
    the one job a plan launches outside any SQL execution."""
    listing = [j for j in jobs if (j["description"] or "").startswith(
        "Listing leaf files")]
    schema = [j for j in jobs if j["sql"] is None and j not in listing]
    return len(listing), len(schema)


def _frame(spark, ks, cell="a"):
    return spark.createDataFrame([(k, cell) for k in ks], "k long, cell string")


def _ks(wh, t):
    return sorted(r["k"] for r in wh.read(t).collect())


def test_repeat_read_launches_no_job(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    wh.write(_frame(spark, [1, 2]), "t", partition_by=["cell"])
    first, n_first = _jobs(spark, lambda: wh.read("t"))
    second, n_second = _jobs(spark, lambda: wh.read("t"))
    assert n_first == 0  # the recorded schema spares the inference job
    assert n_second == 0
    assert second is first


def test_every_commit_replans(spark, tmp_path, write_batch):
    wh = Warehouse(spark, str(tmp_path))
    t = "t"
    wh.write(_frame(spark, [1, 2]), t, partition_by=["cell"])
    assert _ks(wh, t) == [1, 2]
    wh.write(_frame(spark, [3, 4]), t, partition_by=["cell"])
    assert _ks(wh, t) == [3, 4]
    wh.append(_frame(spark, [5], "b"), t, partition_by=["cell"])
    assert _ks(wh, t) == [3, 4, 5]
    wh.overwrite_partitions(
        _frame(spark, [6], "b"), t, ["cell"], touched_partitions=[{"cell": "b"}]
    )
    assert _ks(wh, t) == [3, 4, 6]
    wh.overwrite_partitions(_frame(spark, [7]), t, ["cell"])
    assert _ks(wh, t) == [6, 7]
    wh.merge_into(_frame(spark, [8]), t, ["k"], ["cell"])
    assert _ks(wh, t) == [6, 7, 8]
    compact_table(wh, t, transform=lambda df: df.where("k != 7"))
    assert _ks(wh, t) == [6, 8]
    expire_tier(wh, t, 7, tick_col="k")
    assert _ks(wh, t) == [8]
    # a file added behind the API is never read: no manifest names it,
    # and expire_snapshots deletes it
    _frame(spark, [9], "z").write.parquet(f"{wh.path(t)}/cell=z")
    assert _ks(wh, t) == [8]
    assert wh.expire_snapshots(t, keep_last=2)["expired"] > 0
    assert _ks(wh, t) == [8]
    assert not [f for f in wh.live_files(t) if f.startswith("cell=z/")]
    wh.drop(t)
    wh.write(_frame(spark, [10]), t, partition_by=["cell"])
    assert _ks(wh, t) == [10]

    b = "batched"
    write_batch(wh, _frame(spark, [1]), b, 0, ["cell"])
    assert _ks(wh, b) == [1]
    write_batch(wh, _frame(spark, [2]), b, 1, ["cell"])
    assert _ks(wh, b) == [1, 2]


def test_first_read_after_each_commit_plans_no_job(
    spark, tmp_path, write_batch
):
    """Every commit kind records the read schema: the first read after it
    launches no Spark job (no listing, no footer read) and plans the
    schema inference would."""
    wh = Warehouse(spark, str(tmp_path))
    t, b = "t", "batched"

    def check(table):
        df, n = _jobs(spark, lambda: wh.read(table))
        assert n == 0
        assert df.schema == spark.read.parquet(wh.path(table)).schema

    wh.write(_frame(spark, [1, 2]), t, partition_by=["cell"])
    check(t)
    wh.append(_frame(spark, [3], "b"), t, partition_by=["cell"])
    check(t)
    wh.overwrite_partitions(_frame(spark, [4, 5]), t, ["cell"])
    check(t)
    wh.overwrite_partitions(
        _frame(spark, [6], "b"), t, ["cell"], touched_partitions=[{"cell": "b"}]
    )
    check(t)
    wh.merge_into(_frame(spark, [7]), t, ["k"], ["cell"])
    check(t)
    compact_table(wh, t)
    check(t)
    expire_tier(wh, t, 5, tick_col="k")
    check(t)
    wh.expire_snapshots(t, keep_last=2)
    check(t)
    assert _ks(wh, t) == [5, 6, 7]
    for batch in range(2):
        write_batch(wh, _frame(spark, [batch]), b, batch, ["cell"])
        check(b)


def _seqs_input(spark, tmp_path, n_docs=120, name="input"):
    path = str(tmp_path / name)
    synth_sequences(spark, n_docs).repartition(4).write.parquet(path)
    return path


def _crash_after_first_batch(pipe, path):
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.run(input_path=path, n_batches=2, fail_after_batch=1)


def test_file_sliced_run_plans_its_input_once(spark, tmp_path):
    """The first plan infers the input schema and ledgers it: the rest
    of the run, its resume and an increment list and plan with no
    listing or schema-inference job."""
    path = _seqs_input(spark, tmp_path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, EngineConfig(n_cells=8), job_id="t")
    _, crashed = _job_log(spark, lambda: _crash_after_first_batch(pipe, path))
    _, resumed = _job_log(
        spark, lambda: pipe.run(input_path=path, n_batches=2)
    )
    assert _planning(crashed) == (0, 1)  # the first plan's inference
    assert _planning(resumed) == (0, 0)
    synth_sequences(spark, 30).repartition(1).write.mode("append").parquet(path)
    out, appended = _job_log(spark, lambda: pipe.run_incremental(path))
    assert out["n_new_files"] == 1
    assert _planning(appended) == (0, 0)


def test_plan_rows_without_schema_still_resume(spark, tmp_path):
    """A ledger whose plan rows carry no input schema (written before
    the rows recorded one) resumes by inferring it, and the resumed run
    equals a single shot."""
    path = _seqs_input(spark, tmp_path)
    cfg = EngineConfig(n_cells=8)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, cfg, job_id="t")
    _crash_after_first_batch(pipe, path)
    ledger = wh._meta(pipe._ledger_table())
    with open(ledger) as f:
        recs = [json.loads(line) for line in f]
    assert all("schema" in r for r in recs if r.get("status") == "plan")
    with open(ledger, "w") as f:
        for r in recs:
            r.pop("schema", None)
            f.write(json.dumps(r) + "\n")
    pipe.run(input_path=path, n_batches=2)
    assert pipe.completed_batches() == {0, 1}
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    TierPipeline(spark, wh2, cfg, job_id="t").run(input_path=path, n_batches=2)
    for table in ("t_hourly", "t_daily", "t_packed"):
        a, b = wh.read(table), wh2.read(table)
        assert a.schema == b.schema
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_tier_writes_carry_the_callers_group(spark, tmp_path):
    """run overlaps each batch's hourly, daily and packed writes on pool
    threads; every job runs under the job group set around the call."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, EngineConfig(n_cells=8), job_id="t")
    sc = spark.sparkContext

    def grouped_run():
        sc.setJobGroup("run-under-test", "run")
        return pipe.run(synth_sequences(spark, 60), n_batches=1)

    out, jobs = _job_log(spark, grouped_run)
    assert out["n_packed"] == 60
    assert jobs and {j["group"] for j in jobs} == {"run-under-test"}


def test_expire_tier_runs_only_its_write(spark, tmp_path):
    """Retention counts kept and dropped rows on its rewrite's own write
    job: after a pinned read, expire_tier launches one Spark job."""
    wh = Warehouse(spark, str(tmp_path))
    wh.write(_frame(spark, [1, 2, 3]), "t", partition_by=["cell"])
    wh.read("t")
    m, n_jobs = _jobs(spark, lambda: expire_tier(wh, "t", 2, tick_col="k"))
    assert (m["n_kept"], m["n_dropped"]) == (2, 1)
    assert n_jobs == 1
    assert _ks(wh, "t") == [2, 3]


def test_table_without_sidecar_is_relisted(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    path = wh.path("raw")
    _frame(spark, [1]).write.parquet(path)
    assert _ks(wh, "raw") == [1]
    _, n_again = _jobs(spark, lambda: wh.read("raw"))
    assert n_again > 0
    _frame(spark, [2]).write.mode("append").parquet(path)
    assert _ks(wh, "raw") == [1, 2]
