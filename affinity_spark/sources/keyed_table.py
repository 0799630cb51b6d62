"""KeyedTable: a persisted, partitioned, last-write-wins keyed table.

The batch materialization of the reference's Keyspace state (changelog →
compacted KV store). Backing format is parquet here (Delta Lake in a real
deployment — MERGE INTO, CDF as the change stream, vacuum for TTL); the
engine-level semantics are identical and implemented as DataFrame plans:

- write/upsert: last-write-wins by event time, tombstones delete — a small
  batch is committed as a delta and merged on read, a large one (or the
  fold of pending deltas) through merge_upsert
- read: compacted view; point get / prefix scan push down to the scan
- layout: repartitioned by key columns on write so equality predicates prune
  files (at 100 TB: partitionBy leading key cols + clustering/z-order)

Versioned directories + an atomic pointer file give snapshot-isolated
readers without a table format dependency:

- commits are optimistic check-and-swap under a lock file — a writer whose
  base version is no longer current raises ``ConcurrentWriteError`` instead
  of silently losing the other writer's update (the reference serializes
  writes per key through partition masters, KVStoreLocal.scala:589-631; two
  maintenance jobs on one table need the same guarantee here);
- the last ``retain_versions`` snapshots stay on disk so a lazy DataFrame
  over the previous version keeps reading during and after the next commit;
  ``vacuum_versions`` reclaims older ones.

A version is a **base plus an ordered list of deltas** (merge-on-read, the
reference's table as the compaction of its changelog, ``KVStoreLocal``
boot/tail over ``Log``):

- the base is the parquet files a full write left (``overwrite``, a
  merge, ``compact``), clustered by key; a delta is one key-sorted parquet
  file of one ``upsert`` batch, at ``<version>/_deltas/<seq>/`` (Spark's
  file index skips paths that start with ``_``, so a plain read of the dir
  sees the base alone);
- a delta commit hardlinks the base's and the earlier deltas' files into
  the new version dir and adds its own, so a 10-row upsert writes 10 rows,
  not the table, and every version dir stays an immutable, self-contained
  CAS token (retention and vacuum unlink names; shared inodes survive);
- a read of a version with deltas is one ``compact_latest`` over base ∪
  deltas: last write wins by (ts, tiebreaks, delta ordinal), the rule
  ``merge_upsert`` applies one batch at a time;
- an upsert takes the copy-on-write merge instead, which folds the base
  and every pending delta into a new base (the compaction), when the
  table has no base yet, is partitioned (``overwrite_partitions`` carries
  partition dirs only), its batch carries a tombstone (a tombstone delta
  would make a later, older row lose to it, where the merge lets that row
  bring the key back), its batch's columns differ from the base's, its
  batch is over ``MAX_DELTA_ROWS``, or ``MAX_DELTAS`` deltas are pending
  (the bound, measured below); ``compact()`` also folds pending deltas.

Only this module knows how a version is laid out and read: other code
reads one through the :class:`Snapshot` handle ``KeyedTable.snapshot()``
returns (``read()``, ``commit_meta()``, ``exists()`` are views of it).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid
from collections.abc import Mapping, Sequence
from dataclasses import dataclass, field
from functools import cached_property

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from affinity_spark.operators.kv import compact_latest, point_get, prefix_scan
from affinity_spark.operators.upsert import merge_upsert
from affinity_spark.timerange import TimeRange


#: pending deltas after which the next upsert folds them into a new base.
#: Set from a probe of the read-side cost on the serve table's shape
#: (100k rows of four longs in 32 base files, 10-row deltas, ``local[4]``
#: on a 4-vCPU VM, single runs): a Spark-plan point read took 0.4-0.6 s
#: with 1 to 32 pending deltas, 0.8 s with 64 and 1.0 s with 128 (process
#: CPU 2-3x), as each delta is one more file to open; a gateway load of
#: base plus deltas stayed at ~0.2 s. The fold into a new base costs what
#: a copy-on-write upsert did (~1-2 s), once per 32 upserts.
MAX_DELTAS = 32

#: an upsert batch over this many rows is merged into a new base, not
#: written as a delta: the delta path collects the batch to the driver,
#: and this bounds what 32 pending deltas add to every read (the same
#: probe: at 10k rows a delta commit still cost ~half the merge, and the
#: gateway folded a delta of up to 100k rows in 30-50 ms).
MAX_DELTA_ROWS = 10_000

DELTAS = "_deltas"
# the read-side ordinal of a row's file: 0 for the base, seq for a delta
_ORD = "_delta_ordinal"


class ConcurrentWriteError(RuntimeError):
    """Another writer committed since this write's base snapshot was read
    (or holds the commit lock): retry from the new current version."""


def _parquet_files(vdir: str) -> dict[str, int]:
    """The parquet files under a version dir, partition dirs included, as
    sorted paths relative to it -> byte sizes."""
    paths = sorted(glob.glob(os.path.join(vdir, "**", "*.parquet"), recursive=True))
    return {os.path.relpath(p, vdir): os.path.getsize(p) for p in paths}


def _link(src_dir: str, dst_dir: str, rel: str) -> None:
    """Carry a file into a new version under the same relative path: a
    hardlink, so the new version shares its inode (no data IO)."""
    dst = os.path.join(dst_dir, rel)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.link(os.path.join(src_dir, rel), dst)


def _is_delta(rel: str) -> bool:
    return rel.startswith(DELTAS + os.sep)


@dataclass(frozen=True)
class Snapshot:
    """One committed version of a :class:`KeyedTable`: ``version_dir`` (the
    CAS token a write's ``expected_base`` takes; ``None`` before the first
    commit), its ``meta``, and, built on first use, its rows ``df``, its
    parquet ``files``, and their split into the ``base`` and the ordered
    ``deltas`` (all raise ``FileNotFoundError`` when nothing is
    committed or retention has reclaimed the dir). Version dirs are
    immutable, so a handle keeps describing its commit after later ones
    land, until retention reclaims the dir."""

    table: KeyedTable = field(repr=False, compare=False)
    version_dir: str | None
    meta: dict = field(default_factory=dict, compare=False)

    def _dir(self) -> str:
        if self.version_dir is None:
            raise FileNotFoundError(f"no committed version at {self.table.path}")
        return self.version_dir

    @cached_property
    def df(self) -> DataFrame:
        """The version's rows: the base merged with the deltas."""
        return self.table._read(self)

    @cached_property
    def schema(self) -> StructType:
        """The rows' column names and types, as ``df`` has them, from the
        base's memoized schema: no read is planned and no job runs."""
        base = self.table._base_schema(self)
        if not self.deltas:
            return base
        keys = self.table.key_cols  # compact_latest puts the key first
        return StructType([base[k] for k in keys] + [f for f in base if f.name not in keys])

    @cached_property
    def base_df(self) -> DataFrame:
        """The base's rows alone, before any delta."""
        return self.table._read(self, self.base)

    @cached_property
    def files(self) -> dict[str, int]:
        """Parquet files (paths relative to ``version_dir``) -> bytes."""
        vdir = self._dir()
        if not os.path.isdir(vdir):
            raise FileNotFoundError(f"version {vdir} was reclaimed")
        return _parquet_files(vdir)

    @cached_property
    def base(self) -> tuple[str, ...]:
        """The base's files, which are also its identity: a delta commit
        links them into the next version under the same names, so the
        versions that share a base share this."""
        return tuple(f for f in self.files if not _is_delta(f))

    @cached_property
    def deltas(self) -> tuple[str, ...]:
        """The delta files, oldest first."""
        return tuple(f for f in self.files if _is_delta(f))

    def delta_tables(self, start: int = 0) -> list[pa.Table]:
        """The rows of ``deltas[start:]``, oldest first, read with pyarrow
        (no Spark job)."""
        return [
            pq.ParquetFile(os.path.join(self._dir(), f)).read()
            for f in self.deltas[start:]
        ]


class KeyedTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        ts_col: str,
        tiebreak_cols: Sequence[str] = (),
        tombstone_col: str | None = None,
        num_buckets: int = 32,
        external: bool = False,
        retain_versions: int = 2,
        lock_timeout_s: float = 10.0,
        partition_col: str | None = None,
        single_file_partitions: bool = False,
    ) -> None:
        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.ts_col = ts_col
        self.tiebreak_cols = list(tiebreak_cols)
        self.tombstone_col = tombstone_col
        self.num_buckets = num_buckets
        # optional hive-style partition column: snapshots are laid out as
        # <version>/<partition_col>=<value>/part-*.parquet so (a) a reader
        # filtering on it gets PartitionFilters pruning and (b)
        # ``overwrite_partitions`` can rewrite ONLY touched partitions,
        # hardlinking the untouched ones into the new snapshot — the
        # delta-proportional-IO merge the lakehouse formats do with file
        # manifests, built from plain directories + the same CAS pointer.
        self.partition_col = partition_col
        # one parquet file per partition dir: snapshots repartition BY the
        # partition column (not into num_buckets write tasks), so a store
        # whose bucket count scales with the corpus (operators/bucketing)
        # keeps file count == dir count instead of num_buckets x dirs —
        # the many-tiny-files failure of partitionBy under a wide lever.
        # Rows sort by (partition, key) within each task, so key-equality
        # scans still skip via parquet ROW-GROUP min/max stats.
        self.single_file_partitions = single_file_partitions and partition_col
        self.retain_versions = max(1, retain_versions)
        self.lock_timeout_s = lock_timeout_s
        # external = populated by another system; reads only (the
        # reference's external/readonly state rejects writes,
        # KVStoreLocalSpec.scala:58)
        self.external = external
        # (base files, their schema): see _base_schema
        self._schema_memo = None
        os.makedirs(path, exist_ok=True)

    # --- snapshot pointer ---------------------------------------------------

    @property
    def _pointer(self) -> str:
        return os.path.join(self.path, "_current.json")

    def snapshot(self) -> Snapshot:
        """The current committed version as one immutable handle: the only
        place the pointer file is opened, so its version dir, metadata and
        rows cannot name two different commits."""
        try:
            with open(self._pointer) as f:
                ptr = json.load(f)
        except FileNotFoundError:
            return Snapshot(self, None)
        return Snapshot(
            self, os.path.join(self.path, ptr["version"]), ptr.get("meta") or {}
        )

    def _current_version_dir(self) -> str | None:
        return self.snapshot().version_dir

    @property
    def _lock(self) -> str:
        return os.path.join(self.path, "_commit.lock")

    def _acquire_lock(self) -> int:
        deadline = time.time() + self.lock_timeout_s
        while True:
            try:
                return os.open(self._lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                # break locks from dead writers (no heartbeat; mtime-aged).
                # Steal by atomic RENAME, not unlink: two waiters racing the
                # same stale lock resolve to exactly one winner; an unlink
                # could delete a FRESH lock created between stat and unlink,
                # letting two writers commit concurrently.
                try:
                    if time.time() - os.path.getmtime(self._lock) > 60:
                        stolen = f"{self._lock}.stale-{uuid.uuid4().hex[:8]}"
                        os.rename(self._lock, stolen)
                        # re-check AFTER the rename: another waiter may have
                        # stolen the stale lock and recreated a FRESH one in
                        # the window between our stat and our rename — if the
                        # file we captured is fresh it is a live writer's
                        # lock, so put it back (best effort) and keep waiting
                        if time.time() - os.path.getmtime(stolen) > 60:
                            os.unlink(stolen)
                        else:
                            try:
                                os.rename(stolen, self._lock)
                            except OSError:
                                os.unlink(stolen)
                        continue
                except OSError:
                    continue
                if time.time() > deadline:
                    raise ConcurrentWriteError(
                        f"commit lock at {self._lock} held past "
                        f"{self.lock_timeout_s}s"
                    ) from None
                time.sleep(0.05)

    def commit_meta(self) -> dict:
        """Application metadata recorded with the current commit (e.g. the
        last applied streaming batch id); ``{}`` before any commit."""
        return self.snapshot().meta

    def _commit_version(
        self, version: str, expected_base: str | None, meta: dict | None = None
    ) -> None:
        """Check-and-swap: commit only if the current version is still the
        one this write was computed from; otherwise a concurrent writer won
        and committing would silently drop its changes. ``meta`` rides in
        the pointer file atomically with the version swap, so "this batch
        was applied" and "this snapshot is current" are one fact."""
        fd = self._acquire_lock()
        try:
            current = self._current_version_dir()
            if current != expected_base:
                raise ConcurrentWriteError(
                    f"table at {self.path} moved from "
                    f"{os.path.basename(expected_base) if expected_base else None} "
                    f"to {os.path.basename(current) if current else None} during "
                    "this write; re-read and retry"
                )
            tmp = self._pointer + ".tmp"
            with open(tmp, "w") as f:
                json.dump(
                    {
                        "version": version,
                        "committed_at": time.time(),
                        "meta": meta or {},
                    },
                    f,
                )
            os.replace(tmp, self._pointer)
        finally:
            os.close(fd)
            try:
                os.unlink(self._lock)
            except OSError:
                pass

    def _version_dirs(self) -> list[str]:
        return sorted(
            os.path.join(self.path, d)
            for d in os.listdir(self.path)
            if d.startswith("v") and os.path.isdir(os.path.join(self.path, d))
        )

    # --- io -------------------------------------------------------------

    def exists(self) -> bool:
        return self.snapshot().version_dir is not None

    def read(self) -> DataFrame:
        return self.snapshot().df

    def _base_schema(self, snap: Snapshot) -> StructType:
        """The schema of ``snap``'s base, memoized by the base: without the
        memo every read runs a footer-inference Spark job (~160 ms per
        scan of a 128-dir table locally). A base's files are immutable and
        a delta commit keeps them, so the memo never goes stale and a
        delta commit needs no new inference; only the latest base is
        kept."""
        memo = self._schema_memo
        if memo is None or memo[0] != snap.base:
            memo = self._schema_memo = (
                snap.base, self.spark.read.parquet(snap.version_dir).schema
            )
        return memo[1]

    def _read(self, snap: Snapshot, files: Sequence[str] | None = None) -> DataFrame:
        """The one way a version (or some of its ``files``) is read: the
        base alone when no delta is read, else one ``compact_latest`` over
        base ∪ deltas, last write winning by (ts, tiebreaks, ordinal)."""
        vdir = snap._dir()
        reader = self.spark.read.schema(self._base_schema(snap))
        if files is None:
            base, deltas = reader.parquet(vdir), snap.deltas
        else:
            kept = [os.path.join(vdir, f) for f in files if not _is_delta(f)]
            deltas = [f for f in files if _is_delta(f)]
            base = reader.option("basePath", vdir).parquet(*kept) if kept else None
        if not deltas:
            return base
        seq = F.regexp_extract(F.col("_metadata.file_path"), rf"/{DELTAS}/(\d+)/", 1)
        rows = reader.parquet(*(os.path.join(vdir, f) for f in deltas)).withColumn(
            _ORD, seq.cast("int")
        )
        if base is not None:
            rows = base.withColumn(_ORD, F.lit(0)).unionByName(rows)
        return compact_latest(
            rows, self.key_cols, self.ts_col, [*self.tiebreak_cols, _ORD]
        ).drop(_ORD)

    def versions(self) -> list[str]:
        """Retained snapshot version names, oldest first (bounded by the
        retention setting; older versions are reclaimed on commit)."""
        return [os.path.basename(d) for d in self._version_dirs()]

    def read_version(self, version: str) -> DataFrame:
        """Time travel: read a RETAINED historical snapshot by name.

        Snapshot reads are how a pipeline re-derives downstream state from
        the exact input a past run saw (the reference's changelog-bootstrap
        role, state/KVStoreLocal bootstrap path — here a full-snapshot read
        instead of a log replay). Only versions within the retention window
        exist; reading a reclaimed one raises like any missing table.
        """
        vdir = os.path.join(self.path, version)
        if not os.path.isdir(vdir):
            raise FileNotFoundError(
                f"version {version!r} not retained at {self.path}; "
                f"available: {self.versions()}"
            )
        return Snapshot(self, vdir).df

    def overwrite(
        self,
        df: DataFrame,
        expected_base: str | None = "UNSET",
        meta: dict | None = None,
    ) -> None:
        """Write a new snapshot version and CAS the pointer to it.

        ``expected_base`` is the version dir this write was computed from
        (``None`` for a first write); it defaults to the current version at
        call time — pass the captured value explicitly whenever ``df`` was
        derived from an earlier ``read()`` so a racing writer is detected.
        ``meta`` (application metadata, e.g. a streaming batch id) is
        committed atomically with the pointer swap; ``None`` carries the
        previous commit's metadata forward so maintenance writes (compact,
        vacuum) don't erase replay markers.
        """
        if expected_base == "UNSET":
            expected_base = self._current_version_dir()
        self._commit(lambda out: self._write_snapshot(df, out), expected_base, meta)

    def _commit(self, write, expected_base: str | None, meta: dict | None) -> None:
        """The one commit path: name a new version, ``write(out)`` its
        files, CAS the pointer from ``expected_base`` to it (a loser's
        files are removed), then reclaim versions past retention."""
        if self.external:
            raise PermissionError(f"table at {self.path} is external/read-only")
        if meta is None:
            meta = self.commit_meta()
        version = f"v{int(time.time() * 1000):016d}-{uuid.uuid4().hex[:8]}"
        out = os.path.join(self.path, version)
        write(out)
        try:
            self._commit_version(version, expected_base, meta)
        except ConcurrentWriteError:
            shutil.rmtree(out, ignore_errors=True)  # orphaned loser snapshot
            raise
        self.vacuum_versions(self.retain_versions)

    def _write_snapshot(
        self, df: DataFrame, out: str, n_files: int | None = None
    ) -> None:
        if self.single_file_partitions:
            # one file per partition dir: shuffle BY the partition column
            # (several dirs per task is fine — a task emits one file per
            # dir it holds), key-sorted within so row-group stats prune
            w = (
                df.repartition(F.col(self.partition_col))
                .sortWithinPartitions(self.partition_col, *self.key_cols)
                .write.mode("overwrite")
                .partitionBy(self.partition_col)
            )
            w.parquet(out)
            return
        # cluster by key so key-equality scans skip files via min/max stats;
        # with a partition column the key clustering holds WITHIN each
        # partition dir (each write task emits one file per partition it
        # holds, and each file spans one task's key range)
        w = df.repartition(
            n_files or self.num_buckets, *self.key_cols
        ).write.mode("overwrite")
        if self.partition_col:
            w = w.partitionBy(self.partition_col)
        w.parquet(out)

    def overwrite_partitions(
        self,
        delta: DataFrame,
        touched: Sequence[object],
        expected_base: str | None = "UNSET",
        meta: dict | None = None,
    ) -> None:
        """Partition-pruned snapshot commit: ``delta`` is the COMPLETE new
        content of the ``touched`` partition values (and must contain rows
        of those partitions only); every other partition is carried into
        the new snapshot by HARDLINKING its files from the base version —
        zero data IO for untouched partitions, so merge cost scales with
        the delta, not the table. Same CAS pointer commit as ``overwrite``
        (a racing writer loses loudly); version reclamation only unlinks
        names, so inodes shared across retained snapshots survive it.
        """
        if not self.partition_col:
            raise ValueError("overwrite_partitions requires partition_col")
        if expected_base == "UNSET":
            expected_base = self._current_version_dir()
        if expected_base is None:
            # nothing to carry over - identical to a first full write
            self.overwrite(delta, expected_base=None, meta=meta)
            return
        # hive dir names use the string form of the value (Spark's own
        # encoding for int/string partition values)
        touched_dirs = {f"{self.partition_col}={v}" for v in touched}
        prefix = f"{self.partition_col}="

        def write(out: str) -> None:
            self._write_snapshot(delta, out)
            for entry in os.listdir(expected_base):
                src = os.path.join(expected_base, entry)
                if not (entry.startswith(prefix) and os.path.isdir(src)):
                    continue
                if entry in touched_dirs:
                    continue  # the delta write is this partition's new truth
                for fname in os.listdir(src):
                    if fname.endswith(".parquet"):
                        _link(expected_base, out, os.path.join(entry, fname))

        self._commit(write, expected_base, meta)

    def vacuum_versions(self, keep: int = 1) -> int:
        """Reclaim to ``keep`` snapshots (never the current one; every commit
        keeps ``retain_versions``); returns dirs removed."""
        current = self._current_version_dir()
        dirs = [d for d in self._version_dirs() if d != current]
        stale = sorted(dirs, key=os.path.getmtime)[: max(0, len(dirs) - keep + 1)]
        for d in stale:
            shutil.rmtree(d, ignore_errors=True)
        return len(stale)

    _UNSET = object()

    def upsert(self, updates: DataFrame, expected_base=_UNSET) -> None:
        """MERGE: last-write-wins by (ts, tiebreaks); tombstones delete.

        Commits the batch as one delta when it can (see the module
        docstring), else merges the base, the pending deltas and the batch
        into a new base. The base version is captured before the write
        and CAS-verified at commit: two concurrent upserts cannot silently
        lose one side's updates — the loser raises ``ConcurrentWriteError``.

        ``expected_base`` lets a caller whose WRITE SET was derived from a
        specific snapshot (e.g. the gateway's insert-only anti-join) tie
        the merge to THAT base: a racing writer committing in between
        raises instead of being silently folded over (r13 ADVICE). Pass
        the version dir (or ``None`` for a first write); leave unset to
        capture the current pointer here.
        """
        snap = (
            self.snapshot()
            if expected_base is KeyedTable._UNSET
            else Snapshot(self, expected_base)
        )
        rows = self._delta_rows(snap, updates)
        if rows is not None:
            def write(out: str) -> None:
                for f in snap.files:
                    _link(snap.version_dir, out, f)
                d = os.path.join(out, DELTAS, f"{len(snap.deltas) + 1:06d}")
                os.makedirs(d)
                pq.write_table(rows, os.path.join(d, f"{uuid.uuid4().hex}.parquet"))

            self._commit(write, snap.version_dir, None)
            return
        base = updates.limit(0) if snap.version_dir is None else snap.df
        if self.tombstone_col and self.tombstone_col not in base.columns:
            # the merge drops the tombstone column from what it commits
            base = base.withColumn(self.tombstone_col, F.lit(False))
        merged = merge_upsert(
            base, updates, self.key_cols, self.ts_col,
            self.tiebreak_cols, self.tombstone_col,
        )
        self.overwrite(merged, expected_base=snap.version_dir)

    def _delta_rows(self, snap: Snapshot, updates: DataFrame) -> pa.Table | None:
        """``updates`` as one delta onto ``snap``: its rows in the base's
        columns, key-sorted; or None when the upsert must merge instead."""
        if (
            snap.version_dir is None
            or self.partition_col
            or len(snap.deltas) >= MAX_DELTAS
        ):
            return None
        schema = self._base_schema(snap)
        tomb = self.tombstone_col
        if tomb in schema.fieldNames():
            return None  # the base keeps tombstone rows: only the merge drops them
        if {f.name: f.dataType for f in updates.schema if f.name != tomb} != {
            f.name: f.dataType for f in schema
        }:
            return None
        cols = [f.name for f in schema]
        if tomb in updates.columns:
            cols.append(tomb)
        rows = updates.select(*cols).limit(MAX_DELTA_ROWS + 1).toArrow()
        if rows.num_rows > MAX_DELTA_ROWS:
            return None
        if tomb in rows.column_names:
            # a NULL flag drops the row in the merge as a true one does
            if pc.any(pc.fill_null(rows[tomb], True)).as_py():
                return None
            rows = rows.drop_columns([tomb])
        return rows.sort_by([(k, "ascending") for k in self.key_cols])

    # --- reads ----------------------------------------------------------

    def get(self, key: Mapping[str, object]) -> DataFrame:
        return point_get(self.read(), key)

    def scan(
        self,
        prefix: Mapping[str, object],
        time_range: TimeRange | None = None,
        ts_unit: str = "millis",
    ) -> DataFrame:
        return prefix_scan(self.read(), prefix, time_range, self.ts_col, ts_unit)

    # --- maintenance ---------------------------------------------------

    def changes_between(self, old_version: str, new_version: str) -> DataFrame:
        """Change-data-feed between two retained snapshots: one row per key
        whose state differs, classified ``insert`` / ``update`` / ``delete``
        with the old and new value structs.

        The lakehouse CDF read (Delta's ``table_changes``), and the batch
        analogue of the reference's changelog tail (X4): a downstream
        consumer that missed the live stream re-derives exactly the deltas
        by diffing the snapshots it has. Unchanged keys are dropped —
        comparison is null-safe struct equality over all non-key columns.

        Scale: both snapshots share the table's key layout, so the diff is
        one co-partitioned full-outer join (no broadcast of either side);
        with file-skipping manifests the join reads only files whose key
        envelopes overlap.
        """
        old = self.read_version(old_version)
        new = self.read_version(new_version)
        # columns may drift between snapshots (evolution is exactly when CDF
        # matters): the value struct is the UNION of both sides' non-key
        # columns, with a side's missing columns read as typed nulls.
        val_cols = [c for c in new.columns if c not in self.key_cols]
        val_cols += [
            c for c in old.columns if c not in self.key_cols and c not in val_cols
        ]
        types = {f.name: f.dataType for f in [*old.schema.fields, *new.schema.fields]}

        def side(df: DataFrame, alias: str) -> DataFrame:
            # cast BOTH sides to the resolved (new-snapshot-first) type so a
            # column whose type widened between snapshots diffs cleanly
            # instead of failing struct-equality analysis
            fields = [
                (
                    F.col(c).cast(types[c])
                    if c in df.columns
                    else F.lit(None).cast(types[c])
                ).alias(c)
                for c in val_cols
            ]
            # key-only table: presence itself is the value (struct() with
            # zero fields is invalid)
            if not fields:
                fields = [F.lit(True).alias("_present")]
            return df.select(*self.key_cols, F.struct(*fields).alias(alias))

        j = side(old, "old_values").join(
            side(new, "new_values"), self.key_cols, "full_outer"
        )
        change = (
            F.when(F.col("old_values").isNull(), F.lit("insert"))
            .when(F.col("new_values").isNull(), F.lit("delete"))
            .when(~F.col("old_values").eqNullSafe(F.col("new_values")), F.lit("update"))
        )
        return j.select(
            *self.key_cols, change.alias("change"), "old_values", "new_values"
        ).where(F.col("change").isNotNull())

    def write_manifest(self, version: str | None = None) -> dict:
        """Per-file min/max stats manifest for a snapshot, harvested from
        parquet FOOTERS (pyarrow — no Spark job, no data read).

        This is the Iceberg/Delta file-skipping move built from plain
        parquet: a point get or prefix scan consults the manifest and
        opens only files whose [min, max] envelope can contain the key,
        so serving cost scales with matching files, not table size. Call
        after a commit (opt-in — ``read_pruned`` falls back transparently
        when absent); the manifest itself is tiny (one JSON row per
        file)."""
        import pyarrow.parquet as pq

        vdir = (
            os.path.join(self.path, version)
            if version
            else self._current_version_dir()
        )
        if vdir is None or not os.path.isdir(vdir):
            raise FileNotFoundError(f"no snapshot dir to manifest at {self.path}")
        entries = []
        for fname in _parquet_files(vdir):
            meta = pq.ParquetFile(os.path.join(vdir, fname)).metadata
            cols: dict[str, list] = {}
            for rg in range(meta.num_row_groups):
                group = meta.row_group(rg)
                for col in map(group.column, range(group.num_columns)):
                    st, name = col.statistics, col.path_in_schema
                    if st is None or not st.has_min_max or name not in self.key_cols:
                        continue
                    lo, hi = cols.get(name, (st.min, st.max))
                    cols[name] = [min(lo, st.min), max(hi, st.max)]
            entries.append({"file": fname, "rows": meta.num_rows, "stats": cols})
        manifest = {"version": os.path.basename(vdir), "files": entries}
        with open(os.path.join(vdir, "_manifest.json"), "w") as f:
            json.dump(manifest, f)
        return manifest

    def read_pruned(self, key: Mapping[str, object]) -> DataFrame:
        """Point/prefix read that opens ONLY the files whose footer-stat
        envelope can contain the key (falls back to the full snapshot when
        no manifest exists). Same result as ``get``/``scan`` — the manifest
        is a pure physical optimization, which the pruning test asserts."""
        snap = self.snapshot()
        full = snap.df  # raises when nothing is committed
        mpath = os.path.join(snap.version_dir, "_manifest.json")
        if not os.path.exists(mpath):
            return point_get(full, key)
        with open(mpath) as f:
            manifest = json.load(f)
        keep = [
            e["file"]
            for e in manifest["files"]
            if all(
                c not in e["stats"] or e["stats"][c][0] <= v <= e["stats"][c][1]
                for c, v in key.items()
            )
        ]
        if not keep:
            return point_get(full, key).limit(0)
        return point_get(self._read(snap, keep), key)

    def file_stats(self) -> dict:
        """Physical layout of the current snapshot: file count + byte sizes.
        The signal a table-maintenance scheduler watches for the small-file
        problem."""
        return self._file_stats(self.snapshot())

    @staticmethod
    def _file_stats(snap: Snapshot) -> dict:
        sizes = snap.files.values()
        return {
            "version": os.path.basename(snap.version_dir),
            "n_files": len(sizes),
            "total_bytes": sum(sizes),
            "max_file_bytes": max(sizes, default=0),
        }

    def compact(self, target_file_bytes: int = 128 << 20) -> dict:
        """Rewrite the current snapshot into ceil(total/target) files,
        folding its pending deltas into the new base.

        The 100 TB small-file problem: streaming upserts commit one
        trigger's worth of rows per bucket, so a long-lived table decays
        into thousands of KB-sized parquet files whose open/footer cost
        dominates scans. Compaction is a pure physical rewrite — same rows,
        fewer files, key clustering preserved so equality scans still prune
        by min/max stats — committed through the same CAS as any write: a
        compaction racing an upsert LOSES cleanly (ConcurrentWriteError)
        instead of resurrecting pre-upsert data, mirroring how the
        reference serializes writes through partition masters
        (``core/src/main/scala/io/amient/affinity/core/util/KVStoreLocal.scala``-style
        single-writer semantics). No-op (returns current stats, no new
        version) when the table has no deltas and is already at or below
        the target count.
        """
        if self.external:
            raise PermissionError(f"table at {self.path} is external/read-only")
        snap = self.snapshot()
        stats = self._file_stats(snap)
        n_target = max(1, -(-stats["total_bytes"] // max(1, target_file_bytes)))
        # a single-file-partition layout is already one file per partition
        # dir, and admits REPLACE whole dirs (overwrite_partitions) — there
        # is no small-file decay to repair, and a rewrite here would churn
        # a new version per maintainer tick for nothing
        if self.single_file_partitions or (
            stats["n_files"] <= n_target and not snap.deltas
        ):
            return {**stats, "compacted": False, "n_files_after": stats["n_files"]}
        self._commit(
            lambda out: self._write_snapshot(snap.df, out, n_target),
            snap.version_dir,
            snap.meta,
        )
        n_after = self.file_stats()["n_files"]
        return {**stats, "compacted": True, "n_files_after": n_after}

    def vacuum(self, ttl_ms: int, now_ms: int, ts_unit: str = "millis") -> int:
        """Physically drop records older than ``now - ttl`` (the scheduled
        reclamation pairing the read-side ``ttl_filter``; affinity deletes
        lazily on read, MemStore.java:140-154 — a table needs a real
        vacuum). Returns the number of rows removed."""
        from affinity_spark.operators.kv import ttl_filter

        snap = self.snapshot()
        n_before = snap.df.count()
        kept = ttl_filter(snap.df, self.ts_col, ttl_ms, now_ms, ts_unit)
        self.overwrite(kept, expected_base=snap.version_dir)
        return n_before - self.read().count()
