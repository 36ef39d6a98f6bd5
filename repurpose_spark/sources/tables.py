"""Warehouse abstraction: Iceberg when the runtime jar is present, a
manifest-tracked Parquet directory otherwise (SURVEY.md §7.1 step 1).

The reference appends per-cell netCDF files with busy-retry loops
(img2ts.py:466-501, :574-640); here a sink is an atomic Spark write —
Iceberg gives optimistic-commit snapshots, the Parquet twin gives
append-then-commit.  All engine code talks to this class only, so
swapping the backend is a config change.

The Parquet twin's manifest is the table.  Every data commit goes through
``Warehouse._commit_files``: it appends its new files (Spark's unique part
names) into the data dir, commits ONE manifest line naming the files it
removed and added, and only then deletes the removed files.  Each line
records the table's partition chain and read schema, and each added file
its row count, bytes and ``cell_id`` [min, max], read from the new files'
parquet footers.  A current-state read plans exactly the replayed file
list: a file that a crashed write left behind is never read, and
``expire_snapshots`` deletes every parquet file no kept manifest names.

Tables that carry ``cell_id`` as a data column use the range layout
(``range_sorted``): a few byte-sized files sorted by ``(cell_id, doc_id,
tick)`` instead of one directory per cell.

A current-state read of the Parquet twin is pinned to the table's last
commit, as a catalog caches a table relation until ``REFRESH TABLE``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# the range layout's key: every manifest entry records its file's range
RANGE_COL = "cell_id"
# range layout: files range-partitioned on the first two of these, rows
# sorted by every one a table has
CLUSTER_COLS = (RANGE_COL, "doc_id", "tick")


def range_sorted(df: DataFrame, *extra) -> DataFrame:
    """``df`` range-partitioned on ``(cell_id, doc_id)`` and sorted by
    ``(cell_id, doc_id, tick)`` (those it has), then by ``extra``, within
    each partition.  No partition count: AQE's coalescing sizes the
    files by bytes, and ranging on ``doc_id`` splits a hot cell across
    files and tasks once it outgrows one."""
    return cluster_sorted(range_partitioned(df), *extra)


def range_partitioned(df: DataFrame) -> DataFrame:
    """The shuffle half of :func:`range_sorted`.  An aggregate grouped on
    ``(cell_id, doc_id, ...)`` above it plans no exchange of its own (the
    range partitioning already clusters its keys), and the shuffle's
    bounds sampling reads ``df``, not the aggregate's output; finish with
    :func:`cluster_sorted`."""
    keys = [c for c in CLUSTER_COLS if c in df.columns]
    return df.repartitionByRange(*keys[:2])


def cluster_sorted(df: DataFrame, *extra) -> DataFrame:
    """The sort half of :func:`range_sorted`: ``df`` sorted by ``(cell_id,
    doc_id, tick)`` (those it has), then by ``extra``, within each
    partition."""
    keys = [c for c in CLUSTER_COLS if c in df.columns]
    return df.sortWithinPartitions(*keys, *extra)


def is_range_layout(df: DataFrame, chain: list) -> bool:
    """True when ``df``'s table uses the range layout: ``cell_id`` is a
    data column, not a hive partition column."""
    return RANGE_COL in df.columns and RANGE_COL not in chain


def schema_reader(spark: SparkSession, schema: dict | None):
    """``spark.read`` carrying a recorded schema (its JSON), so a parquet
    scan plans without reading a footer; plain inference when None."""
    r = spark.read
    return r if schema is None else r.schema(StructType.fromJson(schema))


def _replace_all(state: dict, _added: dict) -> list:
    """``Warehouse._commit_files``' ``replaces`` of a whole-table
    replacement."""
    return list(state)


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
                wt = wt.partitionedBy(*[F.col(c) for c in partition_by])
            for k, v in (metrics or {}).items():
                wt = wt.option(f"snapshot-property.{k}", str(v))
            if mode == "append":
                wt.append()
            else:
                wt.createOrReplace()
            self._commit(table, mode, metrics or {})
            return
        self._commit_files(
            df, table, partition_by, mode, metrics,
            _replace_all if mode == "overwrite" else None,
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
        """Replace exactly the hive partitions the incoming rows touch —
        the partition-level replace (a pipeline batch's ``batch_id=<b>/``
        slice, a merge's touched partitions).  Iceberg branch: native
        ``overwritePartitions()`` (cluster-only).

        ``touched_partitions``: the partition-value rows the caller KNOWS
        it rewrote (e.g. ``[{"batch_id": 3}]``): every file under those
        directories is replaced, including a partition the incoming rows
        left empty.  A row may name a leading run of ``partition_by`` —
        ``{"batch_id": 3}`` on ``["batch_id", "cell_id"]`` is the whole
        ``batch_id=3/`` directory.  Values must be the simple scalars
        used in the hive directory names.  Without it, the directories
        the incoming rows landed in are replaced.  Either way the commit
        is a delta manifest of the removed and added files: O(touched
        files), never a walk of the whole table."""
        # before the write: a row missing a chain key raises with every
        # file still in place
        prefixes = None if touched_partitions is None else tuple(
            "/".join(f"{k}={row[k]}" for k in partition_by[:len(row)]) + "/"
            for row in touched_partitions
        )
        if self.use_iceberg:
            try:
                df.writeTo(self._ident(table)).overwritePartitions()
            except Exception as exc:  # noqa: BLE001 — gated below
                # first-write only: the incoming frame holds just the
                # rewritten partitions, so replacing an EXISTING table
                # with it would drop every untouched cell or batch
                self._require_missing(table, exc)
                wt = df.writeTo(self._ident(table))
                wt = wt.partitionedBy(*[F.col(c) for c in partition_by])
                wt.createOrReplace()
            self._commit(table, "overwrite_partitions", metrics or {})
            return

        def replaces(state, added):
            if prefixes is not None:
                return [f for f in state if f.startswith(prefixes)]
            dirs = {os.path.dirname(f) for f in added}
            return [f for f in state if os.path.dirname(f) in dirs]

        self._commit_files(
            df, table, partition_by, "overwrite_partitions", metrics, replaces
        )

    def rewrite(
        self, df: DataFrame, table: str, mode: str, metrics=None
    ) -> dict:
        """Replace every row of ``table`` with ``df`` — the one
        whole-table rewrite (compaction, retention), written in the
        table's recorded partition chain and committed as ONE full
        manifest.  Parquet twin only: the Iceberg branches call the
        engine's own procedures.  A rewrite that keeps no row leaves no
        file, and ``read`` still plans the table's columns from the
        recorded schema.

        ``metrics``: fn(added files {path: entry}) -> the commit's
        lineage fields, called after the write (so it may read the write
        job's Observation); its result is returned."""
        if self.use_iceberg:
            raise NotImplementedError("Iceberg tables rewrite natively")
        return self._commit_files(
            df, table, self.partition_chain(table), mode, metrics,
            _replace_all,
        )

    def _commit_files(
        self,
        df: DataFrame,
        table: str,
        partition_by: list | None,
        mode: str,
        metrics=None,
        replaces=None,
    ) -> dict:
        """The Parquet twin's one data commit.

        1. Append ``df``'s files into the data dir under ``partition_by``
           (Spark's part names are unique, so nothing live is touched).
        2. Commit ONE manifest line: the files ``replaces(state, added)``
           names are removed, the new files added (each with its row
           count, bytes and ``cell_id`` range from its parquet footer; a
           file with no row is dropped).  A whole-table replacement
           (``_replace_all``) records the full file list, any other
           commit a delta of removed and added files.
        3. Delete the removed files.

        A crash before step 2 leaves orphan files no manifest names:
        reads never see them and ``expire_snapshots`` deletes them.  A
        crash between 2 and 3 leaves removed files that reads no longer
        plan.  A partial commit must keep the table's recorded partition
        chain; a table written in another layout (e.g. a tier's older
        ``cell_id=`` directories, or an unpartitioned daily tier) is
        refused, not mixed.

        ``metrics``: lineage fields, or fn(added entries) -> them.
        Returns the lineage fields."""
        chain = list(partition_by or [])
        recs = self.snapshots(table)
        state = self._replay(recs) or {}
        have = self._latest(recs, "partition_by")
        if state and replaces is not _replace_all and have != chain:
            raise ValueError(
                f"{table!r} is partitioned by {have}, this commit by "
                f"{chain}: a table written in an older layout (such as "
                "a tier's cell_id= directories, or a daily or packed tier "
                "without batch_id= slices) is not converted; drop it and "
                "rebuild it"
            )
        base = self.path(table)
        before = set(self.live_files(table))
        w = df.write.mode("append")
        if chain:
            w = w.partitionBy(*chain)
        w.parquet(base)
        added, empty = {}, []
        for f, size in self.live_files(table).items():
            if f not in before:
                e = self._entry(base, f, size)
                if e is None:
                    empty.append(f)
                else:
                    added[f] = e
        removed = sorted(set(replaces(state, added)) if replaces else ())
        m = metrics(added) if callable(metrics) else dict(metrics or {})
        # the read schema is what a scan of the table plans: ``df``'s
        # data columns, then the chain, all nullable
        types = {f.name: f.dataType for f in df.schema}
        schema = StructType([
            StructField(f.name, f.dataType, True, f.metadata)
            for f in df.schema if f.name not in chain
        ] + [StructField(c, types[c], True) for c in chain])
        rec = {
            "snapshot_id": self._next_snapshot_id(table),
            "partition_by": chain,
            "schema": schema.jsonValue(),
        }
        if replaces is _replace_all:
            rec["files"] = added
        else:
            rec["removed"], rec["added"] = removed, added
        self._commit(table, mode, {**m, **rec})
        self._delete(table, removed + empty)
        return m

    @staticmethod
    def _entry(base: str, rel: str, size: int) -> dict | None:
        """A new file's manifest entry from its parquet footer: row count,
        bytes and ``cell_id`` [min, max] when it has that column; None for
        a file with no row."""
        import pyarrow.parquet as pq

        from repurpose_spark.functions.zorder import metadata_bounds

        md = pq.read_metadata(os.path.join(base, rel))
        if not md.num_rows:
            return None
        e = {"rows": md.num_rows, "bytes": size}
        b = metadata_bounds(md, [RANGE_COL])[RANGE_COL]
        if b is not None:
            e[RANGE_COL] = list(b)
        return e

    def _delete(self, table: str, files) -> None:
        """Delete data files (and the checksum files beside them), then
        any partition directory they leave empty."""
        base = self.path(table)
        for rel in files:
            d, name = os.path.split(os.path.join(base, rel))
            for f in (name, f".{name}.crc"):
                try:
                    os.remove(os.path.join(d, f))
                except FileNotFoundError:
                    pass
            while d != base and os.path.isdir(d) and not os.listdir(d):
                os.rmdir(d)
                d = os.path.dirname(d)

    def read(self, table: str, snapshot_id: int | None = None) -> DataFrame:
        """Current table state, or — with ``snapshot_id`` — the table AS
        OF that committed snapshot (time travel).

        Parquet twin: the replayed manifest is the table, so a read
        scans exactly the files it names (as of ``snapshot_id`` for time
        travel); ``basePath`` keeps hive partition columns.  Iceberg:
        native ``snapshot-id`` read (cluster-only; no runtime jar in this
        sandbox).

        Parquet twin, current state: the planned DataFrame is pinned to
        the table's last commit, keyed on the sidecar's inode, size and
        mtime, and reused until the next commit changes it — a stream of
        per-cell reads plans the table once.  A file written into the
        data dir behind the Warehouse API is never read; a table without
        a sidecar is listed and re-planned every read.

        Every read passes the schema its manifests recorded, so planning
        reads no parquet footer — no schema-inference job, and a table
        whose rewrite kept no row still reads with its columns."""
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
                recs = self.snapshots(table)
                hit = (key, self._scan(
                    table, self._replay(recs), self._latest(recs, "schema")
                ))
                self._pinned[table] = hit
            return hit[1]
        recs = self.snapshots(table)
        state = self._replay(recs, snapshot_id)
        if state is None:
            raise ValueError(
                f"no file-tracked snapshot {snapshot_id} for {table!r}"
            )
        if not state:
            raise ValueError(f"snapshot {snapshot_id} of {table!r} is empty")
        base = self.path(table)
        gone = [f for f in state if not os.path.exists(os.path.join(base, f))]
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
        return self._scan(table, state, self._latest(
            [s for s in recs if s.get("snapshot_id", -1) <= snapshot_id],
            "schema",
        ))

    def _scan(self, table: str, files, schema: dict | None) -> DataFrame:
        """A parquet scan of exactly ``files`` (paths relative to the data
        dir) with the recorded ``schema``; no file plans an empty frame
        of that schema, and no file manifest at all lists the data dir."""
        if files is None:
            return schema_reader(self.spark, schema).parquet(self.path(table))
        if not files:
            return self.spark.createDataFrame([], StructType.fromJson(schema))
        base = self.path(table)
        reader = schema_reader(self.spark, schema).option("basePath", base)
        return reader.parquet(*[os.path.join(base, f) for f in sorted(files)])

    def files(self, table: str) -> dict:
        """{path relative to the data dir: manifest entry} of the current
        state — the replayed manifest, no listing."""
        return self._replay(self.snapshots(table)) or {}

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
    def _apply_manifest(state: dict | None, s: dict) -> dict | None:
        """Replay ONE committed manifest line onto a file state
        {path: entry}.

        Two manifest kinds (the parquet-twin analog of Iceberg's manifest
        list): ``files`` — a full snapshot, resets the state (overwrite,
        rewrite, expire-checkpoint); ``removed`` + ``added`` — a delta
        (append, partition or cell replace).  Lines written before the
        delta kind still replay: a ``files`` list carries no entries, and
        a ``partitions`` + ``partition_files`` delta replaces exactly the
        listed hive directories.  Non-manifest lineage rows pass
        through."""
        if "files" in s:
            f = s["files"]
            return dict(f) if isinstance(f, dict) else dict.fromkeys(f)
        if "added" in s:
            gone = set(s["removed"])
            out = {f: e for f, e in (state or {}).items() if f not in gone}
            out.update(s["added"])
            return out
        if "partition_files" in s:
            prefixes = tuple(p + "/" for p in s["partitions"])
            out = {f: e for f, e in (state or {}).items()
                   if not f.startswith(prefixes)}
            out.update(dict.fromkeys(s["partition_files"]))
            return out
        return state

    @classmethod
    def _replay(cls, recs: list, upto: int | None = None) -> dict | None:
        """File state AS OF snapshot ``upto`` (the newest when None): the
        manifests among ``recs`` replayed in commit order — full ones
        reset the state, deltas remove and add their files.  None when
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

    def live_files(self, table: str) -> dict:
        """{path relative to the data dir: bytes} of the parquet files on
        disk — what a commit adds is what this walk finds after its write
        and not before.  A file no manifest names is an orphan (see
        ``expire_snapshots``)."""
        base = self.path(table)
        out = {}
        for root, _dirs, names in os.walk(base):
            for n in names:
                if n.endswith(".parquet"):
                    f = os.path.join(root, n)
                    out[os.path.relpath(f, base)] = os.path.getsize(f)
        return out

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
        (tmp + rename).

        Then every parquet file under the data dir that no kept snapshot
        names is deleted: the orphans of writes that crashed before
        their commit, files left by a crash between a commit and its
        delete, and files written behind the API.  Do not run it while a
        commit to the same table is in flight: that commit's new files
        are not named yet."""
        recs = self.snapshots(table)
        ids = sorted(s["snapshot_id"] for s in recs if "snapshot_id" in s)
        if not ids:
            return {"expired": 0, "kept": 0}
        cutoff = ids[-min(keep_last, len(ids))]
        head = [s for s in recs if s.get("snapshot_id", cutoff + 1) <= cutoff]
        tail = [s for s in recs if s.get("snapshot_id", cutoff) > cutoff]
        state = self._replay(head)
        if state is not None:
            named = set(state).union(*(
                s.get("files") or s.get("added") or s.get("partition_files")
                or () for s in tail
            ))
            self._delete(table, sorted(set(self.live_files(table)) - named))
        if len(ids) <= keep_last:
            return {"expired": 0, "kept": len(ids)}
        checkpoint = {
            "ts": time.time(),
            "table": table,
            "mode": "expire-checkpoint",
            "snapshot_id": cutoff,
            "files": state or {},
        }
        for k in ("partition_by", "schema"):
            v = self._latest(head, k)
            if v is not None:
                checkpoint[k] = v
        others = [s for s in recs if "snapshot_id" not in s]
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
        (the tier pipeline itself never rewrites a row: each batch adds
        its own ``batch_id=<b>/`` slice to every tier).

        Parquet-twin plan, partition-pruned: the touched partition values
        come from ``updates`` (a bounded ``.collect()`` — one row per
        touched partition), ONLY those partitions are read back
        (partition-pruned scan), survivors = current ⟂ updates (LEFT ANTI
        on the merge key, broadcast when updates are small) union the
        updates, and the rewrite is an ``overwrite_partitions`` of the
        touched partitions — untouched partitions' files are never read,
        written, or listed, and a touched partition the merge empties
        loses its files.  Iceberg branch: native ``MERGE INTO`` SQL
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
        # so the partition replace stays scoped and its delta manifest
        # accurate
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
        # the replaced files are deleted only after the commit, so the
        # write's lazy read of them needs no checkpoint
        self.overwrite_partitions(
            survivors.select(*updates.columns).unionByName(updates),
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
