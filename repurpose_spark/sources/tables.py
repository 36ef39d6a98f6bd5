"""Warehouse abstraction: Iceberg when the runtime jar is present, a
cell-partitioned Parquet directory otherwise (SURVEY.md §7.1 step 1).

The reference appends per-cell netCDF files with busy-retry loops
(img2ts.py:466-501, :574-640); here a sink is an atomic Spark write —
Iceberg gives optimistic-commit append snapshots, the Parquet twin gives
``partitionBy('cell_id')`` dynamic-partition appends.  All engine code
talks to this class only, so swapping the backend is a config change.

The Parquet twin's file-level decisions live here: every data commit
records the table's partition chain, its read schema and a file manifest
(full, or a partition-scoped delta), and every whole-table rewrite
(compaction, retention) goes through ``Warehouse.rewrite`` and its rename
swap.

A current-state read of the Parquet twin is pinned to the table's last
commit, as a catalog caches a table relation until ``REFRESH TABLE``:
files changed behind the Warehouse API are not seen until the next commit.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructField, StructType


def schema_reader(spark: SparkSession, schema: dict | None):
    """``spark.read`` carrying a recorded schema (its JSON), so a parquet
    scan plans without reading a footer; plain inference when None."""
    r = spark.read
    return r if schema is None else r.schema(StructType.fromJson(schema))


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001
        jvm.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


class Warehouse:
    """Minimal table store with snapshot-style lineage sidecars.

    Parquet layout: ``<root>/<table>/data/...`` plus
    ``<root>/<table>/_snapshots.jsonl`` — one JSON line per committed write
    (the analog of Iceberg snapshot metadata and of the reference's
    ``000_log`` dirs, img2ts.py:754)."""

    def __init__(
        self, spark: SparkSession, root: str, catalog: str | None = None
    ):
        """``catalog``: an Iceberg catalog name to store tables under
        (requires the iceberg-spark-runtime jar and catalog conf on the
        session, e.g.
        ``--conf spark.sql.catalog.wh=org.apache.iceberg.spark.SparkCatalog``
        ``--conf spark.sql.catalog.wh.type=hadoop``
        ``--conf spark.sql.catalog.wh.warehouse=<root>``).
        When absent or the jar is missing, the Parquet twin is used —
        same layout and partition spec, tested in this repo; the Iceberg
        branch is exercised only on clusters that ship the jar."""
        self.spark = spark
        self.root = root
        self.catalog = catalog
        self.use_iceberg = bool(catalog) and _iceberg_available(spark)
        # parquet twin: table -> (sidecar stat, current-state DataFrame)
        self._pinned: dict = {}
        os.makedirs(root, exist_ok=True)

    def _ident(self, table: str) -> str:
        return f"{self.catalog}.{table}"

    def _require_missing(self, table: str, exc: Exception) -> None:
        """Gate for the create-on-first-write fallbacks: only a genuinely
        absent table may fall through to ``createOrReplace`` — if the
        table exists, the failure was transient (commit conflict, FS
        hiccup) and replacing the whole table with the partial incoming
        frame would be silent data loss (ADVICE r3 medium #2)."""
        if self.spark.catalog.tableExists(self._ident(table)):
            raise exc

    # -- paths -------------------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.root, table, "data")

    def _meta(self, table: str) -> str:
        return os.path.join(self.root, table, "_snapshots.jsonl")

    def exists(self, table: str) -> bool:
        if self.use_iceberg:
            return self.spark.catalog.tableExists(self._ident(table))
        return os.path.isdir(self.path(table))

    # -- IO ----------------------------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        mode: str = "overwrite",
        partition_by: list | None = None,
        metrics: dict | None = None,
    ) -> None:
        if self.use_iceberg:
            # Iceberg path (cluster-only; not exercisable in this sandbox
            # — no runtime jar): optimistic-commit snapshots replace the
            # sidecar, metrics ride in snapshot summary properties
            wt = df.writeTo(self._ident(table))
            if partition_by:
                from pyspark.sql import functions as F

                wt = wt.partitionedBy(*[F.col(c) for c in partition_by])
            for k, v in (metrics or {}).items():
                wt = wt.option(f"snapshot-property.{k}", str(v))
            if mode == "append":
                wt.append()
            else:
                wt.createOrReplace()
            self._commit(table, mode, metrics or {})
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table))
        self._commit(
            table, mode,
            {**(metrics or {}), **self._manifest(table, df, partition_by)},
        )

    def append(self, df: DataFrame, table: str, partition_by: list | None = None,
               metrics: dict | None = None) -> None:
        self.write(df, table, mode="append", partition_by=partition_by,
                   metrics=metrics)

    def overwrite_partitions(
        self,
        df: DataFrame,
        table: str,
        partition_by: list,
        metrics: dict | None = None,
        touched_partitions: list | None = None,
    ) -> None:
        """Replace exactly the hive partitions the incoming rows touch
        (dynamic partition overwrite) — the continuous-aggregate refresh
        primitive: an incremental finalize rewrites only affected cells'
        tier partitions, never the whole tier.  Iceberg branch: native
        ``overwritePartitions()`` (cluster-only).

        ``touched_partitions``: the partition-value rows the caller KNOWS
        it rewrote (e.g. ``[{"cell_id": 3}]`` from an incremental
        refresh's cell list).  When given, the commit records a
        partition-scoped DELTA manifest — listing only the touched
        directories, O(touched files) — instead of walking the whole
        table (O(table files) on the driver: fine for a full overwrite
        that replaced everything anyway, QUADRATIC for a long run of
        small refreshes against a large tier at design scale).  A row
        may name a leading run of ``partition_by`` — ``{"batch_id": 3}``
        on ``["batch_id", "cell_id"]`` is the whole ``batch_id=3/``
        directory, one pipeline batch's slice.  Values must be the
        simple scalars used in the hive directory names.  Listing a
        claimed-touched partition the write never actually replaced is
        harmless: the walk sees its still-live files and the replay
        re-adds them unchanged."""
        # before the write: a row missing a chain key raises with every
        # file still in place
        prefixes = None if touched_partitions is None else [
            "/".join(f"{k}={row[k]}" for k in partition_by[:len(row)])
            for row in touched_partitions
        ]
        if self.use_iceberg:
            try:
                df.writeTo(self._ident(table)).overwritePartitions()
            except Exception as exc:  # noqa: BLE001 — gated below
                # first-write only: the incoming frame holds just the
                # rewritten partitions, so replacing an EXISTING table
                # with it would drop every untouched cell or batch
                self._require_missing(table, exc)
                from pyspark.sql import functions as F

                wt = df.writeTo(self._ident(table))
                wt = wt.partitionedBy(*[F.col(c) for c in partition_by])
                wt.createOrReplace()
            self._commit(table, "overwrite_partitions", metrics or {})
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*partition_by)
            .parquet(self.path(table))
        )
        self._commit(
            table,
            "overwrite_partitions",
            {**(metrics or {}),
             **self._manifest(table, df, partition_by, prefixes)},
        )

    def rewrite(
        self, df: DataFrame, table: str, mode: str, metrics=None
    ) -> dict:
        """Replace every row of ``table`` with ``df`` — the one
        whole-table rewrite (compaction, retention).  Parquet twin only:
        the Iceberg branches call the engine's own procedures.

        ``df`` is written in the table's recorded partition chain to
        ``data__staged`` beside the live ``data`` dir, then swapped in by
        rename: live → ``data__old``, staged → live, delete old.  A crash
        leaves the old or the new files in place, never neither.  ONE
        full manifest is committed, carrying the chain and the read
        schema: a rewrite that keeps no row writes no file, and ``read``
        still plans the table's columns from that schema.

        ``metrics``: fn(new live files {path: bytes}) -> the commit's
        lineage fields, called after the write (so it may read the write
        job's Observation); its result is returned."""
        if self.use_iceberg:
            raise NotImplementedError("Iceberg tables rewrite natively")
        chain = self.partition_chain(table)
        live = self.path(table)
        staged, old = live + "__staged", live + "__old"
        shutil.rmtree(staged, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)
        w = df.write.mode("overwrite")
        if chain:
            w = w.partitionBy(*chain)
        w.parquet(staged)
        os.rename(live, old)
        os.rename(staged, live)
        shutil.rmtree(old)
        files = self.live_files(table)
        m = metrics(files) if metrics else {}
        self._commit(
            table, mode, {**m, **self._manifest(table, df, chain, files=files)}
        )
        return m

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Current table state, or — with ``snapshot_id`` — the table AS
        OF that committed snapshot (time travel).

        Parquet twin: every commit records the data-file list that was
        live at commit time (the sidecar is the manifest), so a snapshot
        read scans exactly those files; ``basePath`` keeps hive
        partition columns.  Iceberg: native ``snapshot-id`` read
        (cluster-only; no runtime jar in this sandbox).

        Parquet twin, current state: the planned DataFrame (file listing
        and schema) is pinned to the table's last commit, keyed on the
        sidecar's inode, size and mtime, and reused until the next commit
        changes it — a stream of per-cell reads plans the table once.
        Files changed behind the Warehouse API are not seen until the
        next commit; a table without a sidecar is re-planned every read.

        Every read passes the schema its manifests recorded (as of
        ``snapshot_id`` for time travel), so planning reads no parquet
        footer — no schema-inference job, and a table whose rewrite kept
        no row still reads with its columns.  Tables committed without a
        recorded schema fall back to inference."""
        if self.use_iceberg:
            r = self.spark.read
            if snapshot_id is not None:
                r = r.option("snapshot-id", str(snapshot_id))
            return r.table(self._ident(table))
        if snapshot_id is None:
            try:
                st = os.stat(self._meta(table))
            except FileNotFoundError:
                self._pinned.pop(table, None)
                return self.spark.read.parquet(self.path(table))
            key = (st.st_ino, st.st_size, st.st_mtime_ns)
            hit = self._pinned.get(table)
            if hit is None or hit[0] != key:
                hit = (key, self._plan(table))
                self._pinned[table] = hit
            return hit[1]
        recs = self.snapshots(table)
        state = self._replay(recs, snapshot_id)
        if state is None:
            raise ValueError(
                f"no file-tracked snapshot {snapshot_id} for {table!r}"
            )
        base = self.path(table)
        files = [os.path.join(base, f) for f in sorted(state)]
        if not files:
            raise ValueError(f"snapshot {snapshot_id} of {table!r} is empty")
        gone = [f for f in files if not os.path.exists(f)]
        if gone:
            # the parquet twin deletes files on overwrite (Iceberg keeps
            # them until snapshot expiry): appends time-travel freely,
            # overwrites expire everything before them
            raise ValueError(
                f"snapshot {snapshot_id} of {table!r} expired: a later "
                f"overwrite removed {len(gone)} of its files (the parquet "
                "twin retains history across appends only; Iceberg "
                "retains it until explicit expiry)"
            )
        schema = self._latest(
            [s for s in recs if s.get("snapshot_id", -1) <= snapshot_id],
            "schema",
        )
        return schema_reader(self.spark, schema).option(
            "basePath", base
        ).parquet(*files)

    def _plan(self, table: str) -> DataFrame:
        """The current state as a listed parquet scan of the newest
        recorded schema.  The directory is listed, not the manifest's
        file list: the listing is what the pin holds until the next
        commit."""
        schema = self._latest(self.snapshots(table), "schema")
        return schema_reader(self.spark, schema).parquet(self.path(table))

    def snapshot_ids(self, table: str) -> list:
        """Committed snapshot ids, oldest first (parquet twin)."""
        return [
            s["snapshot_id"]
            for s in self.snapshots(table)
            if "snapshot_id" in s
        ]

    def partition_chain(self, table: str) -> list:
        """The hive partition columns of ``table``, outermost first, as
        its newest data commit recorded them — the layout is manifest
        metadata, never re-derived from directory names."""
        chain = self._latest(self.snapshots(table), "partition_by")
        if chain is None:
            raise ValueError(f"{table!r} has no committed partition chain")
        return list(chain)

    @staticmethod
    def _latest(recs: list, key: str):
        """The newest value of ``key`` among committed records, or None."""
        return next((s[key] for s in reversed(recs) if key in s), None)

    @staticmethod
    def _apply_manifest(state: list | None, s: dict) -> list | None:
        """Replay ONE committed manifest line onto a file state.

        Two manifest kinds (the parquet-twin analog of Iceberg's manifest
        list): ``files`` — a full snapshot, resets the state
        (write/append/rewrite/expire-checkpoint);
        ``partitions``+``partition_files`` — a partition-scoped delta
        (an ``overwrite_partitions`` with ``touched_partitions``: a
        batch's ``batch_id=<b>`` dir, a refresh's cells), replaces
        exactly the listed hive directories.  Non-manifest lineage rows
        pass through."""
        if "files" in s:
            return list(s["files"])
        if "partition_files" in s:
            prefixes = tuple(p + "/" for p in s["partitions"])
            return [
                f for f in (state or []) if not f.startswith(prefixes)
            ] + list(s["partition_files"])
        return state

    @classmethod
    def _replay(cls, recs: list, upto: int | None = None) -> list | None:
        """File state AS OF snapshot ``upto`` (the newest when None): the
        manifests among ``recs`` replayed in commit order — full ones
        reset the state, deltas replace their own directories.  None when
        ``upto`` was never committed or no manifest tracks files."""
        state, found = None, upto is None
        for s in sorted(
            (s for s in recs if "snapshot_id" in s),
            key=lambda s: s["snapshot_id"],
        ):
            if upto is not None and s["snapshot_id"] > upto:
                break
            state = cls._apply_manifest(state, s)
            found = found or s["snapshot_id"] == upto
        return state if found else None

    def live_files(self, table: str, subdir: str = "") -> dict:
        """{path relative to the data dir: bytes} of the parquet files
        under ``subdir`` — O(that dir), not O(table).  The one walk
        behind every manifest and compaction's file counts: the
        parquet-twin analog of an Iceberg manifest write, driver-side;
        the Iceberg branch gets this natively from the commit itself."""
        base = self.path(table)
        out = {}
        for root, _dirs, names in os.walk(os.path.join(base, subdir)):
            for n in names:
                if n.endswith(".parquet"):
                    f = os.path.join(root, n)
                    out[os.path.relpath(f, base)] = os.path.getsize(f)
        return out

    def _manifest(
        self,
        table: str,
        df: DataFrame,
        partition_by: list | None,
        prefixes: list | None = None,
        files: dict | None = None,
    ) -> dict:
        """The manifest fields of a data commit of ``df``: the next
        snapshot id, the partition chain, the read schema and the live
        files — all of them (a full manifest; ``files`` when the caller
        already walked them) or, given ``prefixes``, only those under
        these hive directories (a partition-scoped delta).

        The read schema is what a scan of the table plans: ``df``'s data
        columns, then the chain, all nullable."""
        chain = list(partition_by or [])
        have = {f.name: f.dataType for f in df.schema}
        schema = StructType([
            StructField(f.name, f.dataType, True, f.metadata)
            for f in df.schema if f.name not in chain
        ] + [StructField(c, have[c], True) for c in chain])
        rec = {
            "snapshot_id": self._next_snapshot_id(table),
            "partition_by": chain,
            "schema": schema.jsonValue(),
        }
        if prefixes is None:
            rec["files"] = sorted(
                self.live_files(table) if files is None else files
            )
        else:
            rec["partitions"] = sorted(prefixes)
            rec["partition_files"] = sorted(
                f for p in prefixes for f in self.live_files(table, p)
            )
        return rec

    def _next_snapshot_id(self, table: str) -> int:
        """Monotonic, not count-based — expire_snapshots drops old
        manifest lines, and a count-based id would then collide with a
        kept snapshot."""
        ids = self.snapshot_ids(table)
        return (max(ids) + 1) if ids else 0

    def expire_snapshots(self, table: str, keep_last: int = 2) -> dict:
        """Bound the sidecar: collapse every manifest older than the last
        ``keep_last`` snapshots into ONE checkpoint line holding the
        replayed file state at the cutoff (Iceberg's expire_snapshots
        analog), plus the newest partition chain and schema the collapsed
        lines recorded.  Later delta manifests keep replaying on top of
        the checkpoint, so the current state is unaffected; snapshots
        before the cutoff stop being travel targets.  Lineage/metrics
        rows (no snapshot_id) are kept forever.  The rewrite is atomic
        (tmp + rename)."""
        recs = self.snapshots(table)
        ids = sorted(s["snapshot_id"] for s in recs if "snapshot_id" in s)
        if len(ids) <= keep_last:
            return {"expired": 0, "kept": len(ids)}
        cutoff = ids[-keep_last]
        head = [s for s in recs if s.get("snapshot_id", cutoff + 1) <= cutoff]
        checkpoint = {
            "ts": time.time(),
            "table": table,
            "mode": "expire-checkpoint",
            "snapshot_id": cutoff,
            "files": sorted(self._replay(head) or []),
        }
        for k in ("partition_by", "schema"):
            v = self._latest(head, k)
            if v is not None:
                checkpoint[k] = v
        others = [s for s in recs if "snapshot_id" not in s]
        tail = [s for s in recs if s.get("snapshot_id", cutoff) > cutoff]
        tmp = self._meta(table) + ".tmp"
        with open(tmp, "w") as f:
            for rec in others + [checkpoint] + tail:
                f.write(json.dumps(rec) + "\n")
        os.replace(tmp, self._meta(table))
        return {"expired": len(head) - 1, "kept": keep_last}

    def merge_into(
        self,
        updates: DataFrame,
        table: str,
        key_cols: list,
        partition_by: list,
        keys_partition_stable: bool = True,
    ) -> dict:
        """Iceberg-style ``MERGE INTO`` (upsert): rows in ``updates``
        REPLACE the target rows sharing their ``key_cols`` and INSERT
        where no match exists — the late-correction primitive a
        retention pipeline needs when a source re-delivers fixed data
        (the row-level sibling of finalize's partition-level
        continuous-aggregate refresh).

        Parquet-twin plan, cell-pruned like an incremental finalize:
        the touched partition values come from ``updates`` (a bounded
        ``.collect()`` — one row per touched partition), ONLY those
        partitions are read back (partition-pruned scan), survivors =
        current ⟂ updates (LEFT ANTI on the merge key, broadcast when
        updates are small) union the updates, and the rewrite is a
        dynamic partition overwrite committing a partition-scoped DELTA
        manifest — untouched partitions' files are never read, written,
        or listed.  Iceberg branch: native ``MERGE INTO`` SQL
        (cluster-only, same paper-verified status as the other
        branches).

        ``keys_partition_stable=True`` (default) declares the partition
        value a pure function of the merge key (this engine's layout:
        cell_id = hash(doc_id)), so an update can never strand a stale
        row in another partition.  Set False when that contract does
        not hold: correctness then requires scanning the WHOLE table
        for stale key locations — the documented cost Iceberg's own
        merge pays without a key index.

        Returns {n_updated, n_inserted, n_partitions}; the snapshot's
        lineage row records the same.  Raises if the table is missing
        (merge into nothing is a bug, not an insert)."""
        if not self.exists(table):
            raise ValueError(f"merge_into: table {table!r} does not exist")
        key_cols = list(key_cols)
        if self.use_iceberg:
            updates.createOrReplaceTempView("_merge_src")
            on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
            self.spark.sql(
                f"MERGE INTO {self._ident(table)} t USING _merge_src s "
                f"ON {on} WHEN MATCHED THEN UPDATE SET * "
                f"WHEN NOT MATCHED THEN INSERT *"
            )
            self._commit(table, "merge_into", {})
            return {}
        from pyspark.sql import functions as F

        touched = [
            r.asDict() for r in updates.select(*partition_by).distinct().collect()
        ]
        if not touched:
            # empty updates frame: a no-op merge, not a write (and the
            # stable path's partition predicate would otherwise be empty)
            return {"n_updated": 0, "n_inserted": 0, "n_partitions": 0}
        cur = self.read(table)
        if not keys_partition_stable:
            touched = [
                r.asDict()
                for r in cur.join(
                    updates.select(*key_cols).distinct(), on=key_cols,
                    how="left_semi",
                )
                .select(*partition_by)
                .distinct()
                .collect()
            ] + touched
            touched = [dict(t) for t in {tuple(sorted(d.items())) for d in touched}]
        # scope the rewrite to the touched partitions (ADVICE r5 medium):
        # every row carrying a merge key lives in one of them (by the
        # stable-key contract, or because the semi-join above found it),
        # so the dynamic overwrite stays partition-scoped and the delta
        # manifest accurate — unscoped, the overwrite rewrote EVERY
        # partition while the manifest listed only the touched ones, and
        # replaying the merge's own snapshot read deleted files
        # ("snapshot expired" immediately after).
        cur = cur.where(reduce(or_, (
            reduce(and_, (F.col(k) == F.lit(row[k]) for k in partition_by))
            for row in touched
        )))
        # duplicate merge keys would union verbatim into duplicate rows
        # (and corrupt n_inserted) where the Iceberg branch's MERGE INTO
        # raises a cardinality error — match that contract (ADVICE r5 low)
        n_updates = updates.count()
        if n_updates != updates.select(*key_cols).distinct().count():
            raise ValueError(
                "merge_into: duplicate merge keys in updates frame"
            )
        n_before = cur.count()
        survivors = cur.join(
            F.broadcast(updates.select(*key_cols).distinct()),
            on=key_cols,
            how="left_anti",
        )
        n_surv = survivors.count()
        n_upd = n_before - n_surv
        n_ins = n_updates - n_upd
        merged = survivors.select(*updates.columns).unionByName(updates)
        # dynamic partition overwrite rewrites ONLY partitions present in
        # the output — a touched partition whose last row was merged AWAY
        # (a key move under keys_partition_stable=False) would keep its
        # stale files.  Delete emptied touched partitions up front; the
        # delta manifest then lists them as (correctly) file-less.
        present = {
            tuple(r[k] for k in partition_by)
            for r in merged.select(*partition_by).distinct().collect()
        }
        emptied = [
            row
            for row in touched
            if tuple(row[k] for k in partition_by) not in present
        ]
        if emptied:
            # merged is a LAZY plan over the table's current files — sever
            # the lineage before deleting directories it reads from, or
            # the overwrite job re-scans a path that no longer exists
            merged = merged.localCheckpoint(eager=True)
            for row in emptied:
                shutil.rmtree(
                    os.path.join(
                        self.path(table),
                        *[f"{k}={row[k]}" for k in partition_by],
                    ),
                    ignore_errors=True,
                )
        self.overwrite_partitions(
            merged,
            table,
            partition_by,
            metrics={
                "n_updated": n_upd,
                "n_inserted": n_ins,
                "n_partitions": len(touched),
                "merge": True,
            },
            touched_partitions=touched,
        )
        return {
            "n_updated": n_upd,
            "n_inserted": n_ins,
            "n_partitions": len(touched),
        }

    def drop(self, table: str) -> None:
        shutil.rmtree(os.path.join(self.root, table), ignore_errors=True)

    # -- snapshot / lineage sidecar -----------------------------------------
    def _commit(self, table: str, mode: str, metrics: dict) -> None:
        self._commit_many(table, mode, [metrics])

    def _commit_many(self, table: str, mode: str, records: list) -> None:
        """Append many lineage rows in ONE buffered write — one driver-side
        file open per batch instead of one per cell (32k cells would mean
        32k opens), and the rows land (or are truncated) together, so a
        mid-write crash can never persist a later row without its
        predecessors."""
        now = time.time()
        buf = "".join(
            json.dumps({"ts": now, "table": table, "mode": mode, **m}) + "\n"
            for m in records
        )
        os.makedirs(os.path.dirname(self._meta(table)), exist_ok=True)
        with open(self._meta(table), "a") as f:
            f.write(buf)
        self._pinned.pop(table, None)

    def snapshots(self, table: str) -> list:
        p = self._meta(table)
        if not os.path.exists(p):
            return []
        out = []
        with open(p) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    out.append(json.loads(line))
                except ValueError:
                    # torn trailing line from a crash mid-append: the write
                    # was never acknowledged, so the record does not exist
                    continue
        return out
