"""Streaming sinks: changelog → keyed table maintenance.

The reference's OutputDataStream appends records/tombstones to a log and the
state layer materializes it (affinity ``core/.../util/OutputDataStream.scala``,
``Log.java``). Spark-first the sink is ``foreachBatch``: each micro-batch is
merged into the keyed table — with Delta this is a literal MERGE INTO and
exactly-once comes from (queryId, batchId) idempotence; on plain parquet the
table is a KeyedTable (versioned dirs + atomic CAS pointer), so each batch
commits a NEW snapshot and a mid-write failure leaves the previous snapshot
intact — no in-place overwrite, no localCheckpoint, and a replayed batch
re-merges idempotently (last-write-wins).

At 100 TB the table layout is keyed (bucketed / liquid-clustered on the key),
so the merge shuffles only the micro-batch side; the base table is read
pruned to the touched key partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.operators.upsert import merge_upsert
from affinity_spark.sources.keyed_table import KeyedTable


def read_keyed_table(spark: SparkSession, table_path: str) -> DataFrame:
    """Read the current snapshot of a table maintained by
    ``foreach_batch_merge`` / ``keyed_table_sink``."""
    return KeyedTable(spark, table_path, [], "").read()


def foreach_batch_merge(
    table_path: str,
    key_cols: Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
    tombstone_col: str | None = None,
):
    """Build a foreachBatch(batch_df, batch_id) function maintaining a keyed
    parquet table with last-write-wins + tombstone semantics.

    Each batch commits a new KeyedTable snapshot version: readers never see
    a half-written table, a crash mid-batch preserves the previous snapshot,
    and the streaming engine's single-writer guarantee means the CAS commit
    cannot lose updates (a second concurrent writer would raise).
    """

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tbl = KeyedTable(
            spark, table_path, list(key_cols), ts_col, tiebreak_cols,
            tombstone_col=None,  # keep tombstones in the table; filter on read
        )
        snap = tbl.snapshot()
        if snap.version_dir is not None:
            base = snap.df
            if tombstone_col is not None and tombstone_col not in base.columns:
                base = base.withColumn(tombstone_col, F.lit(False))
            merged = merge_upsert(
                base, batch_df, key_cols, ts_col, tiebreak_cols,
                tombstone_col=None,
            )
        else:
            merged = batch_df
        tbl.overwrite(merged, expected_base=snap.version_dir)

    return apply


def keyed_table_sink(stream: DataFrame, table, checkpoint_path: str):
    """writeStream into a ``KeyedTable``: each micro-batch is a MERGE and
    each merge commits a new snapshot version atomically — readers of the
    table pointer never observe a half-written batch (the versioned
    upgrade of the plain-directory ``changelog_sink``)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        table.upsert(batch_df)

    return (
        stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )


def changelog_sink(
    stream: DataFrame,
    table_path: str,
    checkpoint_path: str,
    key_cols: Sequence[str],
    ts_col: str,
    tiebreak_cols: Sequence[str] = (),
    tombstone_col: str | None = None,
):
    """writeStream wiring for foreach_batch_merge (S7 + X4: the table is the
    materialized changelog; the checkpoint is the reference's committed
    consumer offset)."""
    return (
        stream.writeStream.foreachBatch(
            foreach_batch_merge(table_path, key_cols, ts_col, tiebreak_cols, tombstone_col)
        )
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
