"""Warehouse abstraction: Iceberg when the runtime jar is present, a
cell-partitioned Parquet directory otherwise (SURVEY.md §7.1 step 1).

The reference appends per-cell netCDF files with busy-retry loops
(img2ts.py:466-501, :574-640); here a sink is an atomic Spark write —
Iceberg gives optimistic-commit append snapshots, the Parquet twin gives
``partitionBy('cell_id')`` dynamic-partition appends.  All engine code
talks to this class only, so swapping the backend is a config change.

A current-state read of the Parquet twin is pinned to the table's last
commit, as a catalog caches a table relation until ``REFRESH TABLE``:
files changed behind the Warehouse API are not seen until the next commit.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession


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
            table, mode, {**(metrics or {}), **self._snapshot_state(table)}
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
        small refreshes against a large tier at design scale).  Values
        must be the simple scalars used in the hive directory names.
        Listing a claimed-touched partition the write never actually
        replaced is harmless: the walk sees its still-live files and the
        replay re-adds them unchanged."""
        if self.use_iceberg:
            try:
                df.writeTo(self._ident(table)).overwritePartitions()
            except Exception as exc:  # noqa: BLE001 — gated below
                # first-write only: the incoming frame holds just the
                # refreshed partitions, so replacing an EXISTING table
                # with it would drop every untouched cell
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
        if touched_partitions is not None:
            prefixes = sorted(
                "/".join(f"{k}={row[k]}" for k in partition_by)
                for row in touched_partitions
            )
            files: list = []
            for p in prefixes:
                files.extend(self._dir_files(table, p))
            state = {
                "snapshot_id": self._next_snapshot_id(table),
                "partitions": prefixes,
                "partition_files": sorted(files),
            }
        else:
            state = self._snapshot_state(table)
        self._commit(
            table,
            "overwrite_partitions",
            {**(metrics or {}), **state},
        )

    def write_batch_partition(
        self,
        df: DataFrame,
        table: str,
        batch_id: int,
        partition_by: list | None = None,
    ) -> None:
        """Idempotently (re)write one batch's slice of ``table``.

        Parquet twin: the batch owns its own hive-style ``batch_id=<b>``
        directory and overwrites it wholesale — no dynamic-overwrite
        staging, no full-table listing.  Iceberg: the same contract via
        ``overwritePartitions()`` on a table partitioned by
        (batch_id, *partition_by) — replaces exactly the partitions the
        incoming rows touch (cluster-only; no runtime jar in this sandbox).
        """
        if self.use_iceberg:
            from pyspark.sql import functions as F

            out = df.withColumn("batch_id", F.lit(int(batch_id)))
            try:
                out.writeTo(self._ident(table)).overwritePartitions()
            except Exception as exc:  # noqa: BLE001 — gated below
                # first write: create the table with the partition spec;
                # any failure against an EXISTING table re-raises (a
                # createOrReplace here would erase every other batch)
                self._require_missing(table, exc)
                wt = out.writeTo(self._ident(table))
                cols = ["batch_id"] + list(partition_by or [])
                wt = wt.partitionedBy(*[F.col(c) for c in cols])
                wt.createOrReplace()
            self._commit(table, "batch", {"batch_id": batch_id})
            return
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(f"{self.path(table)}/batch_id={batch_id}")
        # every batch write is a logged snapshot (reference: every append
        # gets a 000_log dir, img2ts.py:754) — batch-built tiers get the
        # same time-travel/lineage surface as write/append tables.
        # DELTA manifest: only this batch's own files ride the commit —
        # a full-table manifest per batch commit would be an O(table
        # files) walk + sidecar line count QUADRATIC in n_batches (256
        # batches × millions of files at design scale); readers
        # reconstruct the full state by replaying deltas (Iceberg's
        # incremental-manifest move)
        self._commit(
            table, "batch",
            {
                "batch_id": batch_id,
                "snapshot_id": self._next_snapshot_id(table),
                "batch_files": self._dir_files(table, f"batch_id={batch_id}"),
            },
        )

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
        next commit; a table without a sidecar is re-planned every read."""
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
                hit = (key, self.spark.read.parquet(self.path(table)))
                self._pinned[table] = hit
            return hit[1]
        # reconstruct the file state AS OF the target commit by replaying
        # manifests in commit order: full manifests (write/append/compact)
        # reset the state, batch DELTA manifests replace their own
        # batch_id=<b>/ subtree only
        state = None
        found = False
        snaps = sorted(
            (s for s in self.snapshots(table) if "snapshot_id" in s),
            key=lambda s: s["snapshot_id"],
        )
        for s in snaps:
            if s["snapshot_id"] > snapshot_id:
                break
            state = self._apply_manifest(state, s)
            if s["snapshot_id"] == snapshot_id:
                found = True
        if not found or state is None:
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
        return self.spark.read.option("basePath", base).parquet(*files)

    def snapshot_ids(self, table: str) -> list:
        """Committed snapshot ids, oldest first (parquet twin)."""
        return [
            s["snapshot_id"]
            for s in self.snapshots(table)
            if "snapshot_id" in s
        ]

    @staticmethod
    def _apply_manifest(state: list | None, s: dict) -> list | None:
        """Replay ONE committed manifest line onto a file state.

        Three manifest kinds (the parquet-twin analog of Iceberg's
        manifest list): ``files`` — a full snapshot, resets the state
        (write/append/compact/expire-checkpoint); ``batch_files`` — a
        batch delta, replaces its own ``batch_id=<b>/`` subtree;
        ``partitions``+``partition_files`` — a partition-scoped delta
        (incremental overwrite_partitions), replaces exactly the listed
        hive directories.  Non-manifest lineage rows pass through."""
        if "files" in s:
            return list(s["files"])
        if "batch_files" in s:
            prefix = f"batch_id={s['batch_id']}/"
            return [
                f for f in (state or []) if not f.startswith(prefix)
            ] + list(s["batch_files"])
        if "partition_files" in s:
            prefixes = tuple(p + "/" for p in s["partitions"])
            return [
                f for f in (state or []) if not f.startswith(prefixes)
            ] + list(s["partition_files"])
        return state

    def _dir_files(self, table: str, subdir: str) -> list:
        """Relative parquet paths under one subdirectory — O(that dir),
        not O(table)."""
        base = self.path(table)
        root_dir = os.path.join(base, subdir)
        files = []
        for root, _dirs, names in os.walk(root_dir):
            for n in names:
                if n.endswith(".parquet"):
                    files.append(
                        os.path.relpath(os.path.join(root, n), base)
                    )
        files.sort()
        return files

    def _snapshot_state(self, table: str) -> dict:
        """Manifest of the data files live right now + the next snapshot
        id.  The walk is the parquet-twin analog of an Iceberg manifest
        write — O(files) per commit, driver-side; the Iceberg branch
        gets this natively from the commit itself."""
        base = self.path(table)
        files = []
        for root, _dirs, names in os.walk(base):
            for n in names:
                if n.endswith(".parquet"):
                    files.append(
                        os.path.relpath(os.path.join(root, n), base)
                    )
        files.sort()
        return {"snapshot_id": self._next_snapshot_id(table), "files": files}

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
        analog).  Later delta manifests keep replaying on top of the
        checkpoint, so the current state is unaffected; snapshots before
        the cutoff stop being travel targets.  Lineage/metrics rows
        (no snapshot_id) are kept forever.  The rewrite is atomic
        (tmp + rename)."""
        recs = self.snapshots(table)
        manifests = sorted(
            (s for s in recs if "snapshot_id" in s),
            key=lambda s: s["snapshot_id"],
        )
        if len(manifests) <= keep_last:
            return {"expired": 0, "kept": len(manifests)}
        cutoff = manifests[-keep_last]["snapshot_id"]
        state: list | None = None
        n_expired = 0
        for s in manifests:
            if s["snapshot_id"] > cutoff:
                break
            state = self._apply_manifest(state, s)
            if s["snapshot_id"] < cutoff:
                n_expired += 1
        checkpoint = {
            "ts": time.time(),
            "table": table,
            "mode": "expire-checkpoint",
            "snapshot_id": cutoff,
            "files": sorted(state or []),
        }
        others = [s for s in recs if "snapshot_id" not in s]
        tail = [s for s in manifests if s["snapshot_id"] > cutoff]
        tmp = self._meta(table) + ".tmp"
        with open(tmp, "w") as f:
            for rec in others + [checkpoint] + tail:
                f.write(json.dumps(rec) + "\n")
        os.replace(tmp, self._meta(table))
        return {"expired": n_expired, "kept": keep_last}

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
        if keys_partition_stable:
            cur = self.read(table)
            pred = None
            for row in touched:
                clause = None
                for k in partition_by:
                    c = F.col(k) == F.lit(row[k])
                    clause = c if clause is None else (clause & c)
                pred = clause if pred is None else (pred | clause)
            cur = cur.where(pred)
        else:
            cur = self.read(table)
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
            # scope the rewrite to the touched partitions (ADVICE r5
            # medium): every row carrying a merge key lives in one of
            # them by construction (the semi-join above found it), so
            # filtering `cur` like the stable path keeps the dynamic
            # overwrite partition-scoped and the delta manifest
            # accurate — unscoped, the overwrite rewrote EVERY
            # partition while the manifest listed only the touched
            # ones, and replaying the merge's own snapshot read
            # deleted files ("snapshot expired" immediately after).
            pred = None
            for row in touched:
                clause = None
                for k in partition_by:
                    c = F.col(k) == F.lit(row[k])
                    clause = c if clause is None else (clause & c)
                pred = clause if pred is None else (pred | clause)
            cur = cur.where(pred)
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
