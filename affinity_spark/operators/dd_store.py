"""Maintained DDSketch store: pre-aggregated quantile state over time —
the ADDITIVE counterpart of ``sketch_store.HLLStore``.

Same deployment question, different algebra: "p99 of value over
[d0, d1]" is answered by summing per-day (day, bucket, n) octave-bucket
counts over the in-range day partitions (PartitionFilters-pruned) and
rank-selecting — raw rows never rescanned. But unlike HLL registers
(elementwise MAX — idempotent, replay-safe for free), DD counts merge by
ADDITION, which double-counts on replay. The maintainer therefore
carries the lineage-scoped applied-batch ledger this repo's foreachBatch
rule prescribes (CLAUDE.md r5: a bare batch-id marker breaks on
checkpoint reset — batch ids restart at 0 — so the marker is scoped by
the stream's run id): an admit tagged (run_id, batch_id) that is already
in the ledger is dropped whole.

That contrast IS the design lesson: prefer max-mergeable state where
semantics allow (HLL); when the algebra is additive, idempotence must be
bought with an explicit applied-ledger — here it costs two meta keys per
commit and nothing per row.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.operators.sketches import dd_sketch, dd_quantiles
from affinity_spark.sources.keyed_table import KeyedTable


class DDStore:
    """Day-partitioned DDSketch bucket-count table with merge-on-read
    range quantiles and a replay-fenced streaming maintainer."""

    # The applied-fence ledger keeps only this many trailing entries:
    # Structured Streaming replays at most the last uncommitted batch(es)
    # after a restart, so a bounded window preserves the replay fence while
    # keeping commit meta O(1) — an unbounded ledger is O(n) meta per admit
    # and O(n^2) cumulative over a long-running stream.
    FENCE_WINDOW = 256

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        value_col: str = "value",
        ts_col: str = "ts",
        m: int = 8,
        num_buckets: int = 4,
    ) -> None:
        self.spark = spark
        self.path = path
        self.value_col = value_col
        self.ts_col = ts_col
        self.m = m
        self._table = KeyedTable(
            spark, os.path.join(path, "dd_daily"), ["day", "bucket"],
            ts_col="n", num_buckets=num_buckets, partition_col="day",
        )

    def _daily_counts(self, df: DataFrame) -> DataFrame:
        with_day = df.withColumn(
            "day", F.date_format(F.col(self.ts_col), "yyyy-MM-dd")
        )
        return dd_sketch(with_day, ["day"], self.value_col, m=self.m).select(
            "day", "bucket", F.col("n").cast("long").alias("n")
        )

    # --- build / maintain ---------------------------------------------------

    def build(self, df: DataFrame) -> None:
        self._table.overwrite(self._daily_counts(df), meta={"dd_applied": []})

    def _applied(self) -> list[str]:
        return list(self._table.commit_meta().get("dd_applied") or [])

    def admit(self, batch: DataFrame, fence: str | None = None) -> None:
        """ADD a batch's daily bucket counts into the touched day
        partitions (hardlinked carry-over elsewhere). ``fence`` is the
        replay key ("run_id:batch_id" from the maintainer): a fence
        already in the applied ledger drops the batch WHOLE — addition
        is not idempotent, so the fence is what makes replay safe.

        CAVEAT — the ledger keeps only the trailing ``FENCE_WINDOW``
        entries, sized for Structured Streaming's replay pattern (at most
        the last uncommitted batches after a restart). A MANUAL re-admit
        of a fence older than the window floor is silently re-applied and
        double-counts; don't replay historical fences by hand — rebuild
        instead."""
        applied = self._applied()
        if fence is not None and fence in applied:
            return
        delta = self._daily_counts(batch)
        days = [r[0] for r in delta.select("day").distinct().collect()]
        meta = {
            "dd_applied": (applied + ([fence] if fence else []))[
                -self.FENCE_WINDOW :
            ]
        }
        if not days:
            return
        snap = self._table.snapshot()
        if snap.version_dir is None:
            self._table.overwrite(delta, meta=meta)
            return
        cur = snap.df.filter(F.col("day").isin(days))
        merged = (
            cur.unionByName(delta.select(*cur.columns))
            .groupBy("day", "bucket")
            .agg(F.sum("n").cast("long").alias("n"))
            .select(*cur.columns)
        )
        self._table.overwrite_partitions(
            merged, days, expected_base=snap.version_dir, meta=meta
        )

    def maintainer(self, run_id: str, compact_every: int = 32):
        """foreachBatch maintenance. ``run_id`` scopes the fence: a fresh
        checkpoint restarts batch ids at 0, and an UNscoped marker would
        silently drop every post-reset batch (worse than the replay
        double-count it prevents) — the caller passes a new run_id per
        stream start, so post-reset batches fence under new keys.

        Every ``compact_every`` admits (per stream run) the table is
        physically compacted: each admit rewrites its touched day
        partitions at shuffle-partition granularity, so a long-running
        stream decays into tens of tiny files per day (the small-files
        problem); compaction squashes them to ~one file per day dir, same
        rows, fences carried in the commit meta. 0 disables."""
        state = {"n": 0}

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.admit(batch_df, fence=f"{run_id}:{batch_id}")
            state["n"] += 1
            if compact_every and state["n"] % compact_every == 0:
                self._table.compact()

        return apply

    # --- reads --------------------------------------------------------------

    def exists(self) -> bool:
        return self._table.exists()

    def daily(self) -> DataFrame:
        return self._table.read()

    def counts_for_range(self, d0: str, d1: str) -> DataFrame:
        """Merged (bucket, n) for days in [d0, d1]: pruned partition scan
        + one bucket-sized sum."""
        return (
            self.daily()
            .filter(F.col("day").between(d0, d1))
            .groupBy("bucket")
            .agg(F.sum("n").cast("long").alias("n"))
        )

    def quantiles_for_range(
        self, d0: str, d1: str, qs: tuple[int, ...] = (50, 90, 99)
    ) -> DataFrame:
        """Integer-exact rank-selected quantile lower bounds for the
        range, from stored counts alone (``dd_quantiles`` semantics:
        lo <= true quantile < lo * (1 + 1/m))."""
        merged = self.counts_for_range(d0, d1).withColumn(
            "_g", F.lit(1)
        )
        out = dd_quantiles(merged, ["_g"], qs=qs, m=self.m)
        return out.drop("_g")
