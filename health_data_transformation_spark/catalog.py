"""Warehouse catalog: the reference's tables as snapshot tables with
idempotent append (SURVEY.md §7.0 engine/catalog role).

Replaces the reference's PostgreSQL tables + per-row INSERT/probe
round-trips (load_hhs.py:70-145) with:
- one ``snapshots.SnapshotTable`` per table at ``path(table)``,
  partitioned by schemas.TABLE_PARTITIONS when that entry is non-empty
  (date-partitioned facts: upserts and deletes rewrite only the dates
  they touch)
- idempotent append = left-anti join on the natural key then a blind
  snapshot append (D4 first-wins upsert; re-delivering a file is a no-op)
- quarantine sinks for rejected rows (load_hhs.py:152-155 pattern)

Atomicity: every table change writes new, immutable data files and then
publishes one manifest; that publish is the commit, matching the
reference's per-file transaction (load_hhs.py:148).  A crash before it
leaves the previous version readable and only orphan files behind,
which the next ``vacuum`` collects.  ``delete_keys`` and ``compact``
vacuum right after their commit, so deleted rows and pre-compaction
files leave the disk at once; that vacuum assumes one writer per table.
No session conf is touched: concurrent jobs in one session cannot see
each other's write settings.

100 TB notes: the manifest names the data directories of the current
snapshot (on a partitioned table, one leaf per partition value per
commit), and Spark lists the files inside the directories it is given.  ``read`` takes an optional predicate on
the partition keys, so a week-filtered dashboard query hands Spark only
that week's leaves: the other weeks are never listed or opened.  The
anti-join's existing side reads ONLY the key columns (column pruning),
appends write only the batch, and upsert/delete rewrite only the
partitions they touch while the new manifest reuses every other
partition's files.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .functions.actions import observed_pass
from .schemas import TABLE_KEYS, TABLE_PARTITIONS, TABLE_SCHEMAS
from .snapshots import SnapshotTable, tuples_filter


class Warehouse:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _table(self, table: str) -> SnapshotTable:
        path = self.path(table)
        # a table written before the snapshot layout holds hive
        # directories (or parquet files) and no manifest; reading it as
        # empty would make a delete a silent no-op
        if os.path.isdir(path) and any(
            "=" in n or n.endswith(".parquet") for n in os.listdir(path)
        ):
            raise ValueError(
                f"{path} is in the pre-snapshot hive layout, which is not "
                "migrated: re-run the loads into a new warehouse root"
            )
        return SnapshotTable(self.spark, path, TABLE_PARTITIONS.get(table) or None)

    def _dirs(
        self, table: str, keep: Callable[[str], bool] | None = None
    ) -> list[str]:
        """Data directories of the table's current snapshot; ``keep``
        selects partitions by manifest key."""
        # opening a SnapshotTable creates its directory; a read must not
        if not os.path.isdir(self.path(table)):
            return []
        t = self._table(table)
        v = t.current_version()
        if not v:
            return []
        m = t.manifest(v)
        if keep is None or not m.get("partitions"):
            return m["dirs"]
        return [d for k, ds in m["partitions"].items() if keep(k) for d in ds]

    def exists(self, table: str) -> bool:
        return bool(self._dirs(table))

    def read(
        self, table: str, keep: Callable[[str], bool] | None = None
    ) -> DataFrame:
        """Read a table; empty DataFrame with the declared schema if absent.

        ``keep``: on a partitioned table, read only the partitions whose
        manifest key (``str()`` of the value; ``yyyy-MM-dd`` for dates)
        it accepts.  This is the listing-level pruning: Spark is handed
        only those leaves.  The caller still filters the rows.
        """
        dirs = self._dirs(table, keep)
        if not dirs:
            # 0-partition empty frame: createDataFrame([], schema)
            # parallelizes an empty list over defaultParallelism (= all
            # cores), so every downstream action on an absent table ran
            # a full width of empty tasks (q169 profiled 6+ such
            # 32-task stages per load at ~0 cpu — pure scheduler cost,
            # and at cluster scale pure scheduler RPC load)
            return self.spark.createDataFrame(
                self.spark.sparkContext.emptyRDD(), TABLE_SCHEMAS[table]
            )
        return self.spark.read.schema(TABLE_SCHEMAS[table]).parquet(*dirs)

    def append(
        self, df: DataFrame, table: str, sort_cols: Sequence[str] | None = None
    ) -> None:
        """Append rows, partitioned per TABLE_PARTITIONS.

        ``sort_cols``: optional within-partition sort at write time —
        orders rows inside each parquet file so the file's row-group
        min/max statistics become selective, and scans with range
        predicates on those columns skip whole row groups (the poor
        man's Z-order; pays one local sort per write, no shuffle).
        """
        out = df.select(*[f.name for f in TABLE_SCHEMAS[table].fields])
        if sort_cols:
            out = out.sortWithinPartitions(*sort_cols)
        self._table(table).commit_append(out)

    def append_idempotent(
        self, df: DataFrame, table: str, keys: Sequence[str] | None = None
    ) -> int:
        """First-wins upsert (D4): insert rows whose key is absent.

        The existing side is pruned to the key columns but not to the
        batch's partitions: it reads the keys of every partition.  The
        fresh rows are deduplicated per key within the batch too, then
        held in a lazy local checkpoint that one observed ``noop`` pass
        fills and counts (one job, where ``count()`` took two); the
        partition-key probe and the write read the checkpoint's blocks,
        so the anti-join runs once.  A batch whose rows all exist
        already writes nothing and publishes no version.  Returns the
        number of rows appended.
        """
        keys = list(keys or TABLE_KEYS[table])
        if self.exists(table):
            fresh = df.join(self.read(table).select(*keys), keys, "left_anti")
        else:
            # first load: anti-joining an empty existing side is a
            # no-op the optimizer cannot prove (the empty frame is an
            # RDD scan, not a LocalRelation) — skip the join outright
            fresh = df
        # one deterministic winner per key *within* the batch as well
        fresh = fresh.dropDuplicates(keys).localCheckpoint(eager=False)
        n = observed_pass(fresh, n=F.count(F.lit(1)))["n"]
        if n:
            self.append(fresh, table)
        return n

    def upsert_last_wins(
        self, df: DataFrame, table: str, keys: Sequence[str] | None = None
    ) -> int:
        """MERGE-style upsert: incoming rows REPLACE existing rows with
        the same key (the complement of append_idempotent's first-wins).

        A snapshot upsert: on a partitioned table only the partitions
        present in the batch are rewritten, so cost scales with the
        batch partitions, not table history (``keys`` must then include
        the partition columns).  Unpartitioned tables rewrite whole
        (they are dimension-sized by design).  Returns batch rows
        applied.
        """
        keys = list(keys or TABLE_KEYS[table])
        cols = [f.name for f in TABLE_SCHEMAS[table].fields]
        batch = df.select(*cols).dropDuplicates(keys)
        n = batch.count()
        if n:
            self._table(table).commit_upsert(batch, keys)
        return n

    def delete_keys(
        self, table: str, keys_df: DataFrame, keys: Sequence[str]
    ) -> int:
        """Targeted deletion ("right to be forgotten"): remove every row
        matching the key set, rewriting ONLY the partitions that contain
        matches (a snapshot delete whose predicate is the distinct key
        tuples, collected to the driver).

        The vacuum that follows removes the rewritten partitions' old
        files, so deleted rows leave the disk at once, not only the
        current snapshot.  Returns rows deleted.
        """
        if not self.exists(table):
            return 0
        keys = list(keys)
        key_set = [tuple(r) for r in keys_df.select(*keys).distinct().collect()]
        if not key_set:
            return 0
        doomed = tuples_filter(keys, key_set)
        n = self.read(table).filter(doomed).count()
        if n:
            t = self._table(table)
            t.commit_delete(doomed)
            t.vacuum(retain_last=1)
        return n

    def compact(self, table: str, target_file_mb: int = 128) -> int:
        """Bin-pack small files: rewrite the table at ~target_file_mb per
        file, preserving the partition layout.

        Incremental appends (weekly loads) accrete one small file per
        batch per partition; at warehouse scale the file-listing and
        per-file open costs come to dominate scans long before data
        volume does.  The rewrite is a snapshot commit, so readers see
        the old files or the new ones, never a mix; the vacuum that
        follows removes the old files.  Returns the resulting file
        count.
        """
        if not self.exists(table):
            return 0
        t = self._table(table)
        t.compact(target_file_mb)
        t.vacuum(retain_last=1)
        return len(t.data_files())

    def quarantine(self, df: DataFrame, name: str) -> None:
        """Write rejected input rows verbatim (plus _failed_rules) as CSV,
        mirroring invalid_data/*.csv (load_hhs.py:153-155)."""
        out = df
        if "_failed_rules" in df.columns:
            out = df.withColumn("_failed_rules", F.concat_ws(";", "_failed_rules"))
        (
            out.write.mode("append")
            .option("header", True)
            .csv(os.path.join(self.root, "invalid", name))
        )
