"""Incremental view maintenance: keyed aggregates kept current by deltas.

The reference maintains continuous per-key aggregates in operator state
(A2 continuous count, ``examples/example-distributed-graph/.../
GraphPartition.scala`` keeps degree counts current as edges come and go).
Spark-first, the same capability over a *table* is incremental view
maintenance: a maintained aggregate is updated from each change batch by
applying per-key deltas — never recomputing the full aggregate — with
retractions (deletes) subtracting what inserts added.

Scale rationale: recomputing a 100 TB groupBy per micro-batch is the
anti-pattern; the delta aggregate shuffles ONLY the batch (batch-sized,
not table-sized), and the merge joins the maintained table on its key
layout. Sums use integer cents so a retraction subtracts exactly what the
insert added — float accumulation would drift under churn.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from affinity_spark.sources.keyed_table import KeyedTable

#: change-op convention: +1 = insert/upsert-new, -1 = retraction/delete
OP_COL = "op"


def batch_delta_agg(
    changes: DataFrame,
    key_cols: Sequence[str],
    cents_col: str,
    op_col: str = OP_COL,
) -> DataFrame:
    """Reduce a change batch to per-key deltas ``(d_count, d_cents)``.

    ``op_col`` holds +1 (insert) or -1 (retraction); the value column is
    integer cents. Map-side combine makes the shuffled volume the number of
    DISTINCT touched keys, not the batch row count."""
    op = F.col(op_col).cast("long")
    return changes.groupBy(*key_cols).agg(
        F.sum(op).alias("d_count"),
        F.sum(op * F.col(cents_col).cast("long")).alias("d_cents"),
    )


def apply_agg_delta(
    base: DataFrame | None,
    delta: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Merge per-key deltas into the maintained aggregate.

    Full-outer on the key: untouched keys pass through, new keys appear,
    keys whose count reaches zero vanish (their retraction history is
    complete). Exact by construction: count' = count + d_count,
    cents' = cents + d_cents — integer arithmetic, no re-aggregation.
    """
    if base is None:
        merged = delta.select(
            *key_cols,
            F.col("d_count").alias("n"),
            F.col("d_cents").alias("cents"),
        )
    else:
        merged = (
            base.join(delta, list(key_cols), "full_outer")
            .select(
                *key_cols,
                (
                    F.coalesce(F.col("n"), F.lit(0))
                    + F.coalesce(F.col("d_count"), F.lit(0))
                ).alias("n"),
                (
                    F.coalesce(F.col("cents"), F.lit(0))
                    + F.coalesce(F.col("d_cents"), F.lit(0))
                ).alias("cents"),
            )
        )
    return merged.filter(F.col("n") != 0)


def incremental_agg_sink(
    table_path: str,
    key_cols: Sequence[str],
    cents_col: str,
    run_id: str,
    op_col: str = OP_COL,
):
    """foreachBatch function maintaining the aggregate as a KeyedTable.

    Each micro-batch commits a new snapshot via the table's CAS pointer,
    recording (run_id, batch_id) IN the commit (atomically with the
    pointer swap). Unlike last-write-wins merge sinks, a ``+=`` delta is
    not naturally idempotent — if the process crashes between the
    snapshot commit and the streaming checkpoint advance, the engine
    replays the batch against the already-updated base and would
    double-count. The recorded pair makes the replay a no-op: apply
    exactly once per (table, run, batch), the (query_id, batch_id)
    idempotence convention from ``txn_sink.py``.

    ``run_id`` identifies the streaming LINEAGE — pass the checkpoint
    location or query name; it is REQUIRED so a checkpoint reset can't
    silently collide with a stale marker. Batch ids restart at 0
    whenever a query starts from a fresh checkpoint, so the guard
    applies only within one lineage: a different run_id resets the
    marker and applies (the alternative — guarding on batch id alone —
    silently DISCARDS every new batch after a checkpoint reset, an
    under-count worse than the double-count it prevents). A marker
    written before run scoping existed (no ``ivm_run`` key) is treated
    as THIS lineage, protecting the upgrade-time crash replay."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tbl = KeyedTable(spark, table_path, list(key_cols), "")
        snap = tbl.snapshot()
        meta = snap.meta
        if (
            meta.get("ivm_run", run_id) == run_id
            and meta.get("ivm_batch_id") is not None
            and batch_id <= meta["ivm_batch_id"]
        ):
            return  # crash-replayed batch: its deltas are already committed
        base = snap.df if snap.version_dir is not None else None
        delta = batch_delta_agg(batch_df, key_cols, cents_col, op_col)
        tbl.overwrite(
            apply_agg_delta(base, delta, key_cols),
            expected_base=snap.version_dir,
            meta={"ivm_run": run_id, "ivm_batch_id": batch_id},
        )

    return apply
