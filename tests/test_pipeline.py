"""Checkpoint/resume contract (SURVEY.md §7.1 step 7, BASELINE.json):
a crashed tier job resumed from its per-cell ledger produces exactly the
single-shot result; ledger carries per-cell row-count lineage; retention
expiry drops only what the horizon says."""

import pytest
from pyspark.sql import functions as F

from repurpose_spark.config import EngineConfig
from repurpose_spark.plans.pipeline import TierPipeline
from repurpose_spark.plans.retention import expire_tier
from repurpose_spark.sources.synthetic import synth_sequences
from repurpose_spark.sources.tables import Warehouse

CFG = EngineConfig(n_cells=8)
N_DOCS = 200


def _sorted(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


TIER_COLS = ["cell_id", "doc_id", "tick", "n_points", "sum_v", "min_v", "max_v"]


@pytest.fixture()
def seqs(spark):
    return synth_sequences(spark, N_DOCS)


def test_single_shot(spark, seqs, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t1")
    out = pipe.run(seqs, n_batches=3)
    assert out["n_daily"] > 0 and out["n_packed"] == N_DOCS
    hourly = wh.read(pipe.hourly_table())
    # every doc present exactly once per (doc, tick)
    assert hourly.groupBy("doc_id", "tick").count().where("count > 1").count() == 0
    assert hourly.select("doc_id").distinct().count() == N_DOCS
    # ledger has per-cell lineage rows + done markers for all 3 batches
    rows = pipe.ledger_rows()
    assert {r["batch_id"] for r in rows if r["status"] == "done"} == {0, 1, 2}
    cell_rows = [r for r in rows if r["status"] == "cell"]
    assert sum(r["n_points"] for r in cell_rows) == hourly.agg(
        F.sum("n_points")
    ).collect()[0][0]


def test_crash_resume_equals_single_shot(spark, seqs, tmp_path):
    wh_a = Warehouse(spark, str(tmp_path / "a"))
    TierPipeline(spark, wh_a, CFG, job_id="t").run(seqs, n_batches=3)

    wh_b = Warehouse(spark, str(tmp_path / "b"))
    pipe_b = TierPipeline(spark, wh_b, CFG, job_id="t")
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe_b.run(seqs, n_batches=3, fail_after_batch=1)
    assert pipe_b.completed_batches() == {0}
    # resume: batch 0 must be skipped (ledger), 1..2 processed
    pipe_b.run(seqs, n_batches=3)
    assert pipe_b.completed_batches() == {0, 1, 2}

    a = wh_a.read("t_hourly").drop("batch_id")
    b = wh_b.read("t_hourly").drop("batch_id")
    assert _sorted(a, TIER_COLS) == _sorted(b, TIER_COLS)
    ad = wh_a.read("t_daily")
    bd = wh_b.read("t_daily")
    assert _sorted(ad, TIER_COLS) == _sorted(bd, TIER_COLS)


def test_rerun_incomplete_batch_is_idempotent(spark, seqs, tmp_path):
    """Data written but ledger not committed (crash between the two) must
    not double rows on resume — dynamic partition overwrite replaces it."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(seqs, n_batches=2)
    n_before = wh.read(pipe.hourly_table()).count()
    # simulate: erase the ledger (data remains) → both batches re-run
    import os

    os.remove(wh._meta(pipe._ledger_table()))
    assert pipe.completed_batches() == set()
    pipe.run(seqs, n_batches=2)
    assert wh.read(pipe.hourly_table()).count() == n_before


def test_retention_expiry(spark, seqs, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(seqs, n_batches=2)
    hourly = wh.read(pipe.hourly_table())
    horizon = "2020-01-01 02:00:00"
    n_old = hourly.where(F.col("tick") < horizon).count()
    n_total = hourly.count()
    assert 0 < n_old < n_total
    m = expire_tier(wh, pipe.hourly_table(), horizon)
    assert m["n_dropped"] == n_old and m["n_kept"] == n_total - n_old
    left = wh.read(pipe.hourly_table())
    assert left.count() == n_total - n_old
    assert left.where(F.col("tick") < horizon).count() == 0
    # lineage sidecar recorded the expiry
    assert any(s.get("op") == "expire" for s in wh.snapshots(pipe.hourly_table()))


def test_apply_retention_policy(spark, seqs, tmp_path):
    """Tier-wise retention: hourly expires past its horizon while daily
    keeps everything (the coarser tier retains what the finer drops)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(seqs, n_batches=2)
    n_daily = wh.read(pipe.daily_table()).count()
    out = pipe.apply_retention({"hourly": "2020-01-01 02:00:00"})
    assert out["hourly"]["n_dropped"] > 0
    left = wh.read(pipe.hourly_table())
    assert left.where(F.col("tick") < "2020-01-01 02:00:00").count() == 0
    # daily untouched (no horizon given)
    assert wh.read(pipe.daily_table()).count() == n_daily


def test_refresh_after_retention_keeps_daily_history(spark, seqs, tmp_path):
    """The coarser tiers keep what hourly retention drops: once retention
    has run, an increment that finds no new file and a re-run of the
    finished job have no batch to refresh, so they leave the daily and
    packed rows as they were."""
    path = _write_input(spark, seqs, tmp_path, n_files=4)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(input_path=path, n_batches=2)
    cols = ["cell_id", "doc_id", "n_points"]
    tiers = (pipe.daily_table(), pipe.packed_table())
    before = {t: _sorted(wh.read(t), cols) for t in tiers}
    pipe.apply_retention({"hourly": "2020-01-01 02:00:00"})
    out = pipe.run_incremental(path)
    pipe.run(input_path=path, n_batches=2)
    for t in tiers:
        assert _sorted(wh.read(t), cols) == before[t], t
    assert out["n_new_files"] == 0 and out["n_refreshed_cells"] == 0


def test_increment_after_retention_keeps_daily_and_packed_history(
    spark, tmp_path
):
    """The coarser tiers keep what hourly retention drops, also when an
    increment then touches every cell: each batch seals its own daily
    and packed rows, so after retention at 02:00 and 20 held-back docs
    the tiers equal a single shot over all the input (a rebuild of the
    touched cells from the hours retention left read 10,926 daily points
    here, against 32,959)."""
    seqs = synth_sequences(spark, N_DOCS + 20)
    path = str(tmp_path / "input")
    held_back = F.col("doc_id") >= f"doc{N_DOCS:08d}"
    seqs.where(~held_back).repartition(4).write.parquet(path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(input_path=path, n_batches=2)
    pipe.apply_retention({"hourly": "2020-01-01 02:00:00"})
    seqs.where(held_back).repartition(1).write.mode("append").parquet(path)
    out = pipe.run_incremental(path)
    assert out["n_new_files"] == 1 and out["n_refreshed_cells"] == 8

    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    TierPipeline(spark, wh2, CFG, job_id="t").run(input_path=path, n_batches=3)
    cols = ["cell_id", "doc_id", "n_points"]
    assert _sorted(wh.read("t_daily"), cols) == _sorted(
        wh2.read("t_daily"), cols
    )
    total = wh.read("t_daily").agg(F.sum("n_points")).collect()[0][0]
    assert total == 32_959
    packed = [c for c in wh2.read("t_packed").columns if c != "batch_id"]
    assert _sorted(wh.read("t_packed"), packed) == _sorted(
        wh2.read("t_packed"), packed
    )
    assert wh.read("t_packed").count() == N_DOCS + 20


def test_crash_between_hourly_and_daily_commits_resumes(
    spark, seqs, tmp_path, monkeypatch
):
    """A batch whose hourly slice committed but whose daily commit
    crashed has no done marker: the resume re-runs it, replacing each
    tier's slice, and every tier equals a single shot's."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    commit = wh.overwrite_partitions

    def crash(df, table, *args, **kwargs):
        if table == pipe.daily_table():
            raise RuntimeError("crash before the daily commit")
        return commit(df, table, *args, **kwargs)

    monkeypatch.setattr(wh, "overwrite_partitions", crash)
    with pytest.raises(RuntimeError, match="before the daily commit"):
        pipe.run(seqs, n_batches=2)
    monkeypatch.undo()
    assert pipe.completed_batches() == set()
    assert wh.files(pipe.hourly_table()) and not wh.files(pipe.daily_table())
    pipe.run(seqs, n_batches=2)
    assert pipe.completed_batches() == {0, 1}

    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    TierPipeline(spark, wh2, CFG, job_id="t").run(seqs, n_batches=2)
    for table in ("t_hourly", "t_daily", "t_packed"):
        cols = sorted(wh2.read(table).columns)
        assert _sorted(wh.read(table), cols) == _sorted(
            wh2.read(table), cols
        ), table


def test_doc_delivered_in_two_batches_merges_on_compaction(spark, tmp_path):
    """Daily is a partial tier: a doc_id delivered again in a later batch
    has one daily row per batch, whose merge equals a single shot's, and
    compact() merges them into that one row.  Packed keeps one Gorilla
    block per series and batch."""
    from repurpose_spark.operators.rollup import rollup_from_partials

    seqs = synth_sequences(spark, 30)
    again = F.col("doc_id") == "doc00000003"
    path = str(tmp_path / "input")
    seqs.repartition(1).write.parquet(path)
    seqs.where(again).repartition(1).write.mode("append").parquet(path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(input_path=path, n_batches=2)
    wh1 = Warehouse(spark, str(tmp_path / "one"))
    TierPipeline(spark, wh1, CFG, job_id="t").run(input_path=path, n_batches=1)
    want = {t: _sorted(wh1.read(t), TIER_COLS) for t in ("t_hourly", "t_daily")}

    daily = wh.read("t_daily")
    n_days = wh1.read("t_daily").where(again).count()
    assert n_days and daily.where(again).count() == 2 * n_days
    assert daily.where(again).select("batch_id").distinct().count() == 2
    merged = rollup_from_partials(daily.drop("batch_id"), "day")
    assert _sorted(merged, TIER_COLS) == want["t_daily"]

    pipe.compact()
    for table in ("t_hourly", "t_daily"):
        assert _sorted(wh.read(table), TIER_COLS) == want[table], table
    assert wh.read("t_packed").where(again).count() == 2


def test_refuses_an_unpartitioned_daily_tier(spark, tmp_path):
    """A daily tier written before each batch wrote its own slice
    (unpartitioned range files) is refused with a clear error, not mixed
    with batch slices; the batch stays undone."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    old = synth_sequences(spark, 10).select(
        F.lit(1).alias("cell_id"), "doc_id"
    )
    wh.write(old, "t_daily")
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    with pytest.raises(ValueError, match="older layout"):
        pipe.run(synth_sequences(spark, 20), n_batches=1)
    assert pipe.completed_batches() == set()


def test_a_legacy_finalize_row_is_ignored(spark, seqs, tmp_path):
    """A 'finalize' coverage row, as ledgers kept when a separate pass
    derived the daily and packed tiers, changes nothing: each batch still
    writes its own daily and packed slices, equal to a single-shot
    run's."""
    wh_a = Warehouse(spark, str(tmp_path / "a"))
    TierPipeline(spark, wh_a, CFG, job_id="t").run(seqs, n_batches=2)

    wh = Warehouse(spark, str(tmp_path / "b"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    wh._commit(
        pipe._ledger_table(), "finalize",
        {"status": "finalize", "batches": [0, 1], "packed": []},
    )
    out = pipe.run(seqs, n_batches=2)
    assert out["n_packed"] == N_DOCS
    for table in (pipe.daily_table(), pipe.packed_table()):
        cols = sorted(wh_a.read(table).columns)
        assert _sorted(wh.read(table), cols) == _sorted(
            wh_a.read(table), cols
        ), table


def test_retention_commits_its_manifest(spark, seqs, tmp_path):
    """Retention rewrites every file of the tier, so its commit must
    carry the new manifest: after compact + retention, and again after
    expire_snapshots, the newest snapshot reads back as the current state
    and names no file that retention deleted."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(seqs, n_batches=2)
    pipe.compact()
    pipe.apply_retention({"hourly": "2020-01-01 02:00:00"})
    t = pipe.hourly_table()
    for _ in range(2):
        cur = wh.read(t)
        snap = wh.read(t, snapshot_id=wh.snapshot_ids(t)[-1]).select(*cur.columns)
        assert snap.exceptAll(cur).count() == 0
        assert cur.exceptAll(snap).count() == 0
        wh.expire_snapshots(t, keep_last=2)


def test_retention_preserves_partition_layout_and_appends(spark, seqs, tmp_path):
    """expire_tier must rewrite with the live table's hive layout
    (batch_id=), so later batch appends land in a consistent directory
    tree Spark can still read (ADVICE r1)."""
    import os

    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(seqs, n_batches=2)
    expire_tier(wh, pipe.hourly_table(), "2020-01-01 02:00:00")
    top = sorted(
        d for d in os.listdir(wh.path(pipe.hourly_table()))
        if not d.startswith(("_", "."))
    )
    assert all(d.startswith("batch_id=") for d in top)
    # a new batch appended after expiry must coexist with the rewrite
    extra = synth_sequences(spark, N_DOCS + 37).where(
        F.col("doc_id") > f"doc{N_DOCS - 1:08d}"
    )
    # ledger says batches 0-1 are done; run 3 batches so the new docs land
    pipe.run(extra, n_batches=3)
    hourly = wh.read(pipe.hourly_table())
    assert hourly.where(F.col("tick") < "2020-01-01 02:00:00").select(
        "doc_id"
    ).distinct().count() <= 37
    assert {c for c in ("batch_id", "cell_id")} <= set(hourly.columns)


def test_retention_past_all_data_keeps_tier_readable(
    spark, tmp_path, write_batch
):
    """An expiry that drops every row writes no parquet file: the tier
    must still read (zero rows, its columns), a second expiry must keep
    the recorded batch_id/cell_id layout, and a later batch appends."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = "t_hourly"
    rows = spark.createDataFrame(
        [(c, "2020-01-01 01:00:00", 1) for c in range(3)],
        "cell_id int, tick string, n_points long",
    ).withColumn("tick", F.col("tick").cast("timestamp"))
    write_batch(wh, rows, t, 0, ["cell_id"])
    cols = wh.read(t).columns
    for _ in range(2):
        assert expire_tier(wh, t, "2099-01-01")["n_kept"] == 0
        left = wh.read(t)
        assert left.columns == cols and left.count() == 0
    write_batch(wh, rows, t, 1, ["cell_id"])
    assert sorted(
        (r["batch_id"], r["cell_id"]) for r in wh.read(t).collect()
    ) == [(1, 0), (1, 1), (1, 2)]


def test_recorded_schema_reads_as_inference(spark, seqs, tmp_path):
    """Tier reads plan from the schema the manifests recorded; after a
    run, an increment, compaction, retention and expiry every tier reads
    the schema and rows a footer-inferring scan of its directory does."""
    path = _write_input(spark, seqs, tmp_path, n_files=4)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")

    def same():
        for table in (
            pipe.hourly_table(), pipe.daily_table(), pipe.packed_table()
        ):
            got = wh.read(table)
            want = spark.read.parquet(wh.path(table))
            assert got.schema == want.schema, table
            assert sorted(map(str, got.collect())) == sorted(
                map(str, want.collect())
            ), table

    pipe.run(input_path=path, n_batches=2)
    same()
    synth_sequences(spark, N_DOCS + 40).where(
        F.col("doc_id") >= f"doc{N_DOCS:08d}"
    ).repartition(1).write.mode("append").parquet(path)
    assert pipe.run_incremental(path)["n_new_files"] == 1
    same()
    pipe.compact()
    same()
    pipe.apply_retention({"hourly": "2020-01-01 02:00:00"})
    same()
    pipe.expire_snapshots(keep_last=2)
    same()


def test_ledger_last_attempt_wins(spark, seqs, tmp_path):
    """A batch re-run must not double-count lineage: ledger_rows keeps
    only the newest cell row per (batch_id, cell_id)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(seqs, n_batches=2)
    rows1 = [r for r in pipe.ledger_rows() if r["status"] == "cell"]
    # simulate a pre-marker crash followed by a re-run: the same batch's
    # cell rows appear twice in the sidecar
    dup = [dict(r) for r in rows1 if r["batch_id"] == 0]
    wh._commit_many(pipe._ledger_table(), "append", dup)
    rows2 = [r for r in pipe.ledger_rows() if r["status"] == "cell"]
    assert len(rows2) == len(rows1)
    assert sum(r["n_points"] for r in rows2) == sum(
        r["n_points"] for r in rows1
    )


def test_torn_ledger_line_is_ignored(spark, seqs, tmp_path):
    """A crash mid-append can truncate the sidecar's trailing line; the
    unacknowledged record must read as absent, not crash the reader."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(seqs, n_batches=2)
    with open(wh._meta(pipe._ledger_table()), "a") as f:
        f.write('{"batch_id": 9, "status": "do')  # torn write
    assert pipe.completed_batches() == {0, 1}


def test_empty_batches_are_handled(spark, tmp_path):
    """Doc-hash slices with no rows (the missing-day analog,
    tests/test_img2ts.py:367-401) must commit cleanly and resume."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    out = pipe.run(synth_sequences(spark, 5), n_batches=16)
    assert out["n_packed"] == 5
    assert pipe.completed_batches() == set(range(16))
    hourly = wh.read(pipe.hourly_table())
    assert hourly.select("doc_id").distinct().count() == 5


# -- file-sliced batches (the prunable scale path) --------------------------

def _write_input(spark, seqs, tmp_path, n_files=6):
    path = str(tmp_path / "input")
    seqs.repartition(n_files).write.parquet(path)
    return path


def test_file_sliced_batches_prune_input(spark, seqs, tmp_path):
    """Each batch's scan must read ~1/n_batches of the input FILES —
    batch membership is physical, not a full-scan hash filter (VERDICT
    r2 scale-killer #1)."""
    path = _write_input(spark, seqs, tmp_path, n_files=6)
    all_files = set(spark.read.parquet(path).inputFiles())
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    plan = pipe.plan_batches(path, 3)
    assert set(plan) == {0, 1, 2}
    sizes = {b: len(fs) for b, fs in plan.items()}
    assert all(s == 2 for s in sizes.values())
    # disjoint, complete
    flat = [f for fs in plan.values() for f in fs]
    assert len(flat) == len(set(flat)) == len(all_files)
    assert set(flat) == all_files
    # the actual per-batch scan node reads exactly the planned files
    batch_df = spark.read.option("basePath", path).parquet(*plan[1])
    assert set(batch_df.inputFiles()) == set(plan[1])


def test_file_sliced_run_matches_dataframe_mode(spark, seqs, tmp_path):
    path = _write_input(spark, seqs, tmp_path)
    wh_f = Warehouse(spark, str(tmp_path / "f"))
    TierPipeline(spark, wh_f, CFG, job_id="t").run(
        input_path=path, n_batches=3
    )
    wh_d = Warehouse(spark, str(tmp_path / "d"))
    TierPipeline(spark, wh_d, CFG, job_id="t").run(seqs, n_batches=3)
    a = wh_f.read("t_hourly")
    b = wh_d.read("t_hourly")
    assert _sorted(a, TIER_COLS) == _sorted(b, TIER_COLS)
    assert _sorted(wh_f.read("t_daily"), TIER_COLS) == _sorted(
        wh_d.read("t_daily"), TIER_COLS
    )


def test_file_sliced_crash_resume_and_plan_stability(spark, seqs, tmp_path):
    """Resume reuses the LEDGERED file plan: files that appear after the
    first planning pass must not shift batch membership mid-job."""
    path = _write_input(spark, seqs, tmp_path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.run(input_path=path, n_batches=3, fail_after_batch=1)
    assert pipe.completed_batches() == {0}
    plan_before = pipe.plan_batches(path, 3)
    # a late-arriving file (e.g. a concurrent ingest) lands in the dir
    synth_sequences(spark, 7).repartition(1).write.mode("append").parquet(path)
    pipe.run(input_path=path, n_batches=3)
    plan_after = pipe.plan_batches(path, 3)
    assert plan_after == plan_before  # ledgered plan, not a fresh listing
    hourly = wh.read(pipe.hourly_table())
    assert hourly.select("doc_id").distinct().count() == N_DOCS
    # single-shot equivalence on the ORIGINAL file set
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    pipe2 = TierPipeline(spark, wh2, CFG, job_id="t")
    wh2._commit_many(
        pipe2._ledger_table(), "plan",
        [
            {"batch_id": b, "status": "plan", "n_batches": 3,
             "input_path": path, "files": fs}
            for b, fs in plan_before.items()
        ],
    )
    pipe2.run(input_path=path, n_batches=3)
    assert _sorted(wh2.read("t_hourly"), TIER_COLS) == _sorted(
        hourly, TIER_COLS
    )


def test_file_sliced_n_batches_mismatch_raises(spark, seqs, tmp_path):
    path = _write_input(spark, seqs, tmp_path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.plan_batches(path, 3)
    with pytest.raises(ValueError, match="n_batches"):
        pipe.run(input_path=path, n_batches=4)


def test_file_sliced_more_batches_than_files(spark, tmp_path):
    """Empty batches (fewer files than batches) commit cleanly."""
    small = synth_sequences(spark, 20)
    path = str(tmp_path / "input")
    small.repartition(2).write.parquet(path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    out = pipe.run(input_path=path, n_batches=5)
    assert out["n_packed"] == 20
    assert pipe.completed_batches() == set(range(5))


def test_run_requires_exactly_one_input(spark, seqs, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    with pytest.raises(ValueError, match="exactly one"):
        pipe.run()
    with pytest.raises(ValueError, match="exactly one"):
        pipe.run(seqs, input_path=str(tmp_path / "input"))


def test_file_sliced_plan_balances_bytes(spark, tmp_path):
    """Batch assignment is size-aware (greedy LPT over file bytes), not
    count-based: one big file plus several small ones must not stack the
    big file together with small ones while another batch sits idle."""
    from urllib.parse import urlparse

    import os

    path = str(tmp_path / "in")
    synth_sequences(spark, 400).coalesce(1).write.parquet(path)  # 1 big
    synth_sequences(spark, 30).repartition(3).write.mode("append").parquet(
        path
    )  # 3 small
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    plan = pipe.plan_batches(path, 2)

    def nbytes(fs):
        return sum(os.path.getsize(urlparse(f).path) for f in fs)

    sizes = {b: nbytes(fs) for b, fs in plan.items()}
    big_batch = max(plan, key=lambda b: sizes[b])
    # the big file is isolated; all three small files share the other batch
    assert len(plan[big_batch]) == 1
    assert len(plan[1 - big_batch]) == 3


def test_incremental_ingest_appends_new_files(spark, seqs, tmp_path):
    """run_incremental: files that appear after the planned run become
    NEW ledgered batches (old batches untouched — never re-read), tiers
    re-derive, and the result equals a single shot over all files."""
    path = _write_input(spark, seqs, tmp_path, n_files=4)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(input_path=path, n_batches=2)

    extra = synth_sequences(spark, N_DOCS + 50).where(
        F.col("doc_id") >= f"doc{N_DOCS:08d}"
    )
    extra.repartition(2).write.mode("append").parquet(path)
    out = pipe.run_incremental(path)
    assert out["n_new_files"] == 2
    assert pipe.completed_batches() == {0, 1, 2}  # one new batch (2 files)
    hourly = wh.read(pipe.hourly_table())
    assert hourly.select("doc_id").distinct().count() == N_DOCS + 50

    # nothing new → no-op on data
    n = hourly.count()
    out2 = pipe.run_incremental(path)
    assert out2["n_new_files"] == 0
    assert wh.read(pipe.hourly_table()).count() == n

    # single-shot equivalence over the full file set
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    TierPipeline(spark, wh2, CFG, job_id="t").run(input_path=path, n_batches=3)
    assert _sorted(wh2.read("t_hourly"), TIER_COLS) == _sorted(
        hourly, TIER_COLS
    )


def test_incremental_ingest_crash_resume(spark, seqs, tmp_path):
    """A crash mid-increment resumes from the ledgered increment plan."""
    path = _write_input(spark, seqs, tmp_path, n_files=4)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(input_path=path, n_batches=2)
    extra = synth_sequences(spark, N_DOCS + 60).where(
        F.col("doc_id") >= f"doc{N_DOCS:08d}"
    )
    extra.repartition(2).write.mode("append").parquet(path)
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.run_incremental(path, files_per_batch=1, fail_after_batch=1)
    assert pipe.completed_batches() == {0, 1, 2}
    pipe.run_incremental(path)  # resume completes batch 3
    assert pipe.completed_batches() == {0, 1, 2, 3}
    hourly = wh.read(pipe.hourly_table())
    assert hourly.select("doc_id").distinct().count() == N_DOCS + 60


def test_incremental_requires_prior_plan(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    with pytest.raises(ValueError, match="no ledgered batch plan"):
        pipe.run_incremental(str(tmp_path / "nope"))


@pytest.fixture()
def small_files(spark):
    """AQE coalesces shuffle partitions to a few KB, so a small tier
    spans several range files (at most the session's 8 shuffle
    partitions)."""
    keys = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1k",
    }
    for k, v in keys.items():
        spark.conf.set(k, v)
    yield
    for k in keys:
        spark.conf.unset(k)


def _meets(entry, cells):
    lo, hi = entry["cell_id"]
    return any(lo <= c <= hi for c in cells)


def test_incremental_finalize_refreshes_only_affected_cells(
    spark, tmp_path, small_files
):
    """An increment writes only its own batch slice of the daily and
    packed tiers: it removes no file of the earlier batches (every one
    keeps its name, entry and mtime), every file it adds lies under its
    new ``batch_id=``, and the result equals a full recompute."""
    import os

    cfg = EngineConfig(n_cells=64)
    path = str(tmp_path / "in")
    synth_sequences(spark, 150).repartition(4).write.parquet(path)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, cfg, job_id="t")
    pipe.run(input_path=path, n_batches=2)
    tiers = (pipe.daily_table(), pipe.packed_table())

    def snap(table):
        base = wh.path(table)
        return {f: (e, os.path.getmtime(os.path.join(base, f)))
                for f, e in wh.files(table).items()}

    before = {t: snap(t) for t in tiers}
    assert all(len(before[t]) >= 2 for t in tiers)
    # 3 new docs → at most 3 affected cells (cell = hash of doc_id)
    extra = synth_sequences(spark, 153).where(F.col("doc_id") >= "doc00000150")
    extra.repartition(1).write.mode("append").parquet(path)
    out = pipe.run_incremental(path)
    assert 0 < out["n_refreshed_cells"] <= 3
    assert pipe.completed_batches() == {0, 1, 2}
    for t in tiers:
        after = snap(t)
        for f in before[t]:  # identical file names, entries AND mtimes
            assert after[f] == before[t][f]
        added = set(after) - set(before[t])
        assert added and all(f.startswith("batch_id=2/") for f in added), t

    # equality with a full recompute over the combined input
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    TierPipeline(spark, wh2, cfg, job_id="t").run(input_path=path, n_batches=3)
    assert _sorted(wh2.read("t_daily"), TIER_COLS) == _sorted(
        wh.read(pipe.daily_table()), TIER_COLS
    )
    assert (
        wh2.read("t_packed").count()
        == wh.read(pipe.packed_table()).count()
        == 153
    )


def test_pipeline_expire_snapshots(spark, seqs, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(seqs, n_batches=3)
    out = pipe.expire_snapshots(keep_last=1)
    assert out[pipe.hourly_table()]["expired"] >= 1
    # current state still reads exactly
    assert wh.read(pipe.hourly_table()).select("doc_id").distinct().count() == N_DOCS
    ids = wh.snapshot_ids(pipe.hourly_table())
    assert len(ids) == 1
    assert wh.read(pipe.hourly_table(), snapshot_id=ids[-1]).count() == wh.read(
        pipe.hourly_table()
    ).count()


def test_lpt_assign_heap_matches_naive_argmin():
    """Heap-based LPT (VERDICT r3 #1) must be bit-identical to the naive
    O(n·b) greedy argmin it replaced, on adversarial size mixes."""
    import random

    from repurpose_spark.plans.pipeline import lpt_assign

    rng = random.Random(7)
    files = [f"f{i:05d}" for i in range(500)]
    sizes = {
        f: rng.choice([1, 10, 1000, 10**6, 10**9]) + rng.randrange(100)
        for f in files
    }

    def naive(files, sizes, n):
        plan = {b: [] for b in range(n)}
        load = [0] * n
        for f in sorted(files, key=lambda f: (-sizes[f], f)):
            b = min(range(n), key=lambda i: (load[i], i))
            plan[b].append(f)
            load[b] += sizes[f]
        return plan

    for n in (1, 2, 7, 32, 499, 600):
        assert lpt_assign(files, sizes, n) == naive(files, sizes, n)
    # balance: no batch exceeds avg + the largest file
    plan = lpt_assign(files, sizes, 8)
    loads = [sum(sizes[f] for f in fs) for fs in plan.values()]
    assert max(loads) <= sum(loads) / 8 + max(sizes.values())


def test_incremental_heals_crash_before_finalize(spark, seqs, tmp_path):
    """ADVICE r3 medium #1: the original run crashes before its end
    (some batches done, some not), then new files arrive.  The increment
    completes the unfinished batch as well as its new one, and the daily
    and packed tiers match a full recompute."""
    path = _write_input(spark, seqs, tmp_path, n_files=4)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.run(input_path=path, n_batches=2, fail_after_batch=1)
    assert pipe.completed_batches() == {0}

    extra = synth_sequences(spark, N_DOCS + 50).where(
        F.col("doc_id") >= f"doc{N_DOCS:08d}"
    )
    extra.repartition(2).write.mode("append").parquet(path)
    pipe.run_incremental(path)
    assert pipe.completed_batches() == {0, 1, 2}

    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    TierPipeline(spark, wh2, CFG, job_id="t").run(input_path=path, n_batches=3)
    assert _sorted(wh.read("t_daily"), TIER_COLS) == _sorted(
        wh2.read("t_daily"), TIER_COLS
    )
    assert (
        wh.read(pipe.packed_table()).count()
        == wh2.read("t_packed").count()
        == N_DOCS + 50
    )


def test_incremental_heals_despite_compaction(spark, seqs, tmp_path):
    """ADVICE r4 medium: compact() remaps the batches' slices of every
    tier to batch_id=-1.  A compaction between a crashed run and the
    increment that resumes it must not drop or double any batch's daily
    and packed rows: the result matches a full recompute."""
    path = _write_input(spark, seqs, tmp_path, n_files=4)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    with pytest.raises(RuntimeError, match="injected crash"):
        pipe.run(input_path=path, n_batches=2, fail_after_batch=2)
    assert pipe.completed_batches() == {0, 1}
    pipe.compact()  # maintenance lands in the crash window
    hourly = wh.read(pipe.hourly_table())
    assert hourly.select("batch_id").distinct().collect()[0][0] == -1

    extra = synth_sequences(spark, N_DOCS + 50).where(
        F.col("doc_id") >= f"doc{N_DOCS:08d}"
    )
    extra.repartition(2).write.mode("append").parquet(path)
    pipe.run_incremental(path)

    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    TierPipeline(spark, wh2, CFG, job_id="t").run(input_path=path, n_batches=3)
    assert _sorted(wh.read("t_daily"), TIER_COLS) == _sorted(
        wh2.read("t_daily"), TIER_COLS
    )
    assert (
        wh.read(pipe.packed_table()).count()
        == wh2.read("t_packed").count()
        == N_DOCS + 50
    )


def test_compaction_drops_an_unfinished_batch(spark, seqs, tmp_path):
    """A batch that committed its tier slices but crashed before its
    ledger rows has no done marker: a compaction in that window drops its
    slices instead of collapsing them into batch_id=-1, so the resume
    that writes them again doubles no row."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    commit = pipe._commit_batch

    def crash(batch_id, per_cell):
        if batch_id == 1:
            raise RuntimeError("crash before the ledger commit")
        return commit(batch_id, per_cell)

    pipe._commit_batch = crash
    with pytest.raises(RuntimeError, match="before the ledger commit"):
        pipe.run(seqs, n_batches=2)
    pipe._commit_batch = commit
    assert pipe.completed_batches() == {0}
    pipe.compact()
    pipe.run(seqs, n_batches=2)

    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    TierPipeline(spark, wh2, CFG, job_id="t").run(seqs, n_batches=2)
    for table in ("t_hourly", "t_daily"):
        assert _sorted(wh.read(table), TIER_COLS) == _sorted(
            wh2.read(table), TIER_COLS
        ), table
    assert wh.read("t_packed").count() == N_DOCS


def test_assign_files_mixed_schemes_falls_back_round_robin(spark, tmp_path):
    """ADVICE r3 low #3: a listing with no common '/'-ancestor (mixed URI
    schemes) must fall back to round-robin, not loop forever."""
    pipe = TierPipeline(spark, Warehouse(spark, str(tmp_path)), CFG)
    files = ["file:/a/p1.parquet", "s3a://bkt/p2.parquet", "hdfs://nn/p3.parquet"]
    plan = pipe._assign_files(sorted(files), 2)
    assert sorted(f for fs in plan.values() for f in fs) == sorted(files)


def test_hot_cell_spreads_over_range_files(spark, tmp_path, small_files):
    """Tier files are range-partitioned on (cell_id, doc_id) and sorted
    by (cell_id, doc_id, tick): a hot cell's rows spread over more than
    one file of each tier, with no salting, and every file's rows come
    in key order."""
    import pyarrow.parquet as pq

    skewed = synth_sequences(spark, 200, skew=True)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    pipe.run(skewed, n_batches=2)
    hot = pipe._hot_cells()
    assert hot, "skewed fixture must trip the ledger-based detector"
    # lineage-share check: the detector's shares come from the ledger,
    # which sums to the hourly tier's points
    total = sum(
        r["n_points"] for r in pipe.ledger_rows() if r["status"] == "cell"
    )
    assert total == wh.read("t_hourly").agg(F.sum("n_points")).collect()[0][0]
    for table, keys in (("t_hourly", ["cell_id", "doc_id", "tick"]),
                        ("t_daily", ["cell_id", "doc_id", "tick"]),
                        ("t_packed", ["cell_id", "doc_id"])):
        files = wh.files(table)
        assert len(
            [f for f, e in files.items() if _meets(e, [hot[0]["cell_id"]])]
        ) >= 2, table
        for f in files:
            rows = pq.read_table(f"{wh.path(table)}/{f}", columns=keys)
            got = list(zip(*(rows[k].to_pylist() for k in keys)))
            assert got == sorted(got), (table, f)


def test_refuses_a_tier_written_with_cell_directories(
    spark, tmp_path, write_batch
):
    """A hourly tier written with one directory per cell (partition chain
    batch_id/cell_id) is refused with a clear error, not mixed with the
    range layout."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    old = synth_sequences(spark, 10).select(
        F.lit(1).alias("cell_id"), "doc_id"
    )
    write_batch(wh, old, "t_hourly", 0, ["cell_id"])
    pipe = TierPipeline(spark, wh, CFG, job_id="t")
    with pytest.raises(ValueError, match="older layout"):
        pipe.run(synth_sequences(spark, 20), n_batches=1)


def test_pipeline_sketch_distinct_tier(spark, seqs, tmp_path):
    """Opt-in distinct-vocabulary tier: the hourly tier carries an HLL
    uniq_sketch partial and the daily tier unions it — per (cell, day)
    the estimated distinct-token count sits within the sketch error of
    the exact answer computed from raw (which the tiers never re-read)."""
    from pyspark.sql import functions as F  # noqa: F811

    from repurpose_spark.operators.reorient import sequences_to_points
    from repurpose_spark.operators.rollup import with_distinct_estimate

    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t", sketch_distinct=True)
    pipe.run(seqs, n_batches=2)
    hourly = wh.read(pipe.hourly_table())
    assert "uniq_sketch" in hourly.columns
    daily = with_distinct_estimate(
        wh.read(pipe.daily_table())
        .groupBy("cell_id", F.date_trunc("day", "tick").alias("day"))
        .agg(F.hll_union_agg("uniq_sketch", F.lit(False)).alias("uniq_sketch"))
    )
    est = {(r["cell_id"], r["day"]): r["n_distinct_est"] for r in daily.collect()}
    pts = sequences_to_points(seqs, CFG, with_ts=True)
    exact = {
        (r["cell_id"], r["day"]): r["n"]
        for r in pts.groupBy(
            "cell_id", F.date_trunc("day", "ts").alias("day")
        ).agg(F.count_distinct("token").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        assert abs(e - exact[k]) / exact[k] < 0.05
    # default-off: schema of a plain run is unchanged
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    TierPipeline(spark, wh2, CFG, job_id="t").run(seqs, n_batches=2)
    assert "uniq_sketch" not in wh2.read("t_hourly").columns


def test_pipeline_sketch_quantiles_tier(spark, seqs, tmp_path):
    """Opt-in percentile tier: the hourly tier carries a mergeable KLL
    q_sketch partial, the daily tier merges it, and per (cell, doc, day)
    the estimated token quantiles sit within the rank bound of the
    exact answer computed from raw (which the tiers never re-read).
    The exact JVM aggregates must be IDENTICAL to a plain run — the
    sketch joins in as an extra column, never perturbing them."""
    import numpy as np

    from repurpose_spark.operators.reorient import sequences_to_points
    from repurpose_spark.operators.rollup import quantile_rows

    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(spark, wh, CFG, job_id="t", sketch_quantiles=True)
    pipe.run(seqs, n_batches=2)
    hourly = wh.read(pipe.hourly_table())
    daily = wh.read(pipe.daily_table())
    assert "q_sketch" in hourly.columns and "q_sketch" in daily.columns

    est = {
        (r["cell_id"], r["doc_id"], r["tick"], r["q"]): r["value_est"]
        for r in quantile_rows(
            daily.select("cell_id", "doc_id", "tick", "q_sketch", "n_points")
        ).collect()
    }
    pts = sequences_to_points(seqs, CFG, with_ts=True)
    raw = pts.select(
        "cell_id", "doc_id", F.date_trunc("day", "ts").alias("tick"), "token"
    ).toPandas()
    groups = {
        k: g["token"].to_numpy(dtype=float)
        for k, g in raw.groupby(["cell_id", "doc_id", "tick"])
    }
    assert len(est) == 3 * len(groups)
    for (cell, doc, tick, qlab), v in est.items():
        data = np.sort(groups[(cell, doc, tick)])
        q = {"p50": 0.5, "p90": 0.9, "p99": 0.99}[qlab]
        lo = np.searchsorted(data, v, side="left") / len(data)
        hi = np.searchsorted(data, v, side="right") / len(data)
        assert lo - 0.02 <= q <= hi + 0.02, (cell, doc, tick, qlab, v)

    # the exact aggregates are untouched by the opt-in column
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    TierPipeline(spark, wh2, CFG, job_id="t").run(seqs, n_batches=2)
    plain = wh2.read("t_daily")
    a = sorted(
        map(tuple, daily.select(*plain.columns).collect())
    )
    b = sorted(map(tuple, plain.collect()))
    assert a == b


def test_incremental_and_compaction_carry_quantile_sketch(
    spark, seqs, tmp_path
):
    """The 'maintenance carries the column free' promise, exercised: an
    incremental ingest (with a compaction in between) over a
    sketch_quantiles pipeline keeps q_sketch on both tiers, and the
    refreshed daily estimates stay within the rank bound of exact
    quantiles over the COMBINED raw — including for cells only touched
    by the original run."""
    import numpy as np

    from repurpose_spark.operators.reorient import sequences_to_points
    from repurpose_spark.operators.rollup import quantile_rows

    path = _write_input(spark, seqs, tmp_path, n_files=4)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = TierPipeline(
        spark, wh, CFG, job_id="t", sketch_quantiles=True
    )
    pipe.run(input_path=path, n_batches=2)
    pipe.compact()  # collapse completed batches before the increment

    extra = synth_sequences(spark, N_DOCS + 50).where(
        F.col("doc_id") >= f"doc{N_DOCS:08d}"
    )
    extra.repartition(2).write.mode("append").parquet(path)
    pipe.run_incremental(path)

    daily = wh.read(pipe.daily_table())
    assert "q_sketch" in daily.columns
    est = {
        (r["cell_id"], r["doc_id"], r["tick"], r["q"]): r["value_est"]
        for r in quantile_rows(
            daily.select("cell_id", "doc_id", "tick", "q_sketch", "n_points")
        ).collect()
    }
    combined = spark.read.parquet(path)
    raw = sequences_to_points(combined, CFG, with_ts=True).select(
        "cell_id", "doc_id", F.date_trunc("day", "ts").alias("tick"), "token"
    ).toPandas()
    groups = {
        key: np.sort(g["token"].to_numpy(dtype=float))
        for key, g in raw.groupby(["cell_id", "doc_id", "tick"])
    }
    assert len(est) == 3 * len(groups)
    for (cell, doc, tick, qlab), v in est.items():
        data = groups[(cell, doc, tick)]
        q = {"p50": 0.5, "p90": 0.9, "p99": 0.99}[qlab]
        lo = np.searchsorted(data, v, side="left") / len(data)
        hi = np.searchsorted(data, v, side="right") / len(data)
        assert lo - 0.02 <= q <= hi + 0.02, (cell, doc, tick, qlab)
