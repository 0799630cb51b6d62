"""Maintained sketch store: pre-aggregated approximate-distinct state as
a TABLE, the fourth maintained-index family.

PostingsIndex serves retrieval, BandIndex serves near-dup, IVFIndex
serves ANN; this serves APPROXIMATE AGGREGATION over time: per-day HLL
register tables (2^p rows/day whatever the event volume) kept in a
day-partitioned KeyedTable, so "distinct users in [d0, d1]" is answered
by a PartitionFilters-pruned read of the days in range plus a bucket-max
merge — raw events are never rescanned (reference analogy: the X1
maintained-index contract, core/src/main/scala/io/amient/affinity/core/
state/KVStoreLocal.scala:195-248, applied to sketch state; the sketch
algebra itself is the public HyperLogLog merge property).

Why registers, not counts: counts don't merge (distincts overlap across
days); registers merge by ELEMENTWISE MAX, which is also idempotent —
replaying a micro-batch folds the same ranks into the same maxima, so
the streaming maintainer is exactly-once-equivalent with no batch
markers (stronger than the upsert sinks, which need key-idempotence).

Scale shape: admit IO ∝ touched days (partition-pruned hardlink merge);
a year of p=8 daily sketches is ~93k rows TOTAL — the read side is
always sketch-sized. Register values are engine-exact integers
(shiftright rank field, length(bin)−1), so estimates reproduce
bit-for-bit across engines.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.operators.sketches import HLL_HASH_BITS, hll_registers_by_group
from affinity_spark.sources.keyed_table import KeyedTable


class HLLStore:
    """Day-partitioned HLL register table with merge-on-read range
    queries and an idempotent streaming maintainer."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        p: int = 8,
        ts_col: str = "ts",
        num_buckets: int = 4,
    ) -> None:
        self.spark = spark
        self.path = path
        self.p = p
        self.ts_col = ts_col
        self._table = KeyedTable(
            spark, os.path.join(path, "hll_daily"), ["day", "bucket"],
            ts_col="register", num_buckets=num_buckets, partition_col="day",
        )

    def _daily_registers(self, df: DataFrame, key: Column) -> DataFrame:
        daily = hll_registers_by_group(
            df.withColumn(
                "day", F.date_format(F.col(self.ts_col), "yyyy-MM-dd")
            ),
            "day",
            key,
            p=self.p,
        )
        return daily.select("day", "bucket", "register")

    # --- build / maintain ---------------------------------------------------

    def build(self, df: DataFrame, key: Column) -> None:
        """Full (re)build from raw rows: one groupBy(day, bucket) whose
        shuffle is days × 2^p rows regardless of input volume."""
        self._table.overwrite(self._daily_registers(df, key))

    def admit(self, batch: DataFrame, key: Column) -> None:
        """MERGE a batch of raw rows: the batch's daily registers fold
        into the stored ones by elementwise MAX, rewriting ONLY the
        touched day partitions (hardlinked carry-over for the rest).
        Idempotent by algebra — re-admitting the same rows recomputes
        the same maxima — so a replayed micro-batch is harmless."""
        delta = self._daily_registers(batch, key)
        days = [r[0] for r in delta.select("day").distinct().collect()]
        if not days:
            return
        snap = self._table.snapshot()
        if snap.version_dir is None:
            self._table.overwrite(delta)
            return
        cur = snap.df.filter(F.col("day").isin(days))
        merged = (
            cur.unionByName(delta.select(*cur.columns))
            .groupBy("day", "bucket")
            .agg(F.max("register").alias("register"))
            .select(*cur.columns)
        )
        self._table.overwrite_partitions(
            merged, days, expected_base=snap.version_dir
        )

    def maintainer(self, key: Column, compact_every: int = 32):
        """foreachBatch streaming maintenance — the PostingsIndex/
        BandIndex/IVFIndex contract for sketch state. No batch-id
        bookkeeping: max-merge is idempotent under replay. Every
        ``compact_every`` admits the table is physically compacted
        (admits rewrite touched days at shuffle-partition granularity;
        a long stream otherwise decays into tiny files — see
        DDStore.maintainer). 0 disables."""
        state = {"n": 0}

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.admit(batch_df, key)
            state["n"] += 1
            if compact_every and state["n"] % compact_every == 0:
                self._table.compact()

        return apply

    # --- reads --------------------------------------------------------------

    def exists(self) -> bool:
        return self._table.exists()

    def daily(self) -> DataFrame:
        """(day, bucket, register) — filters on ``day`` are
        partition-pruned."""
        return self._table.read()

    def registers_for_range(self, d0: str, d1: str) -> DataFrame:
        """Merged registers for days in [d0, d1] (inclusive, 'yyyy-MM-dd'
        strings): a pruned scan of the in-range day partitions + one
        2^p-row bucket-max — raw data is never touched."""
        return (
            self.daily()
            .filter(F.col("day").between(d0, d1))
            .groupBy("bucket")
            .agg(F.max("register").alias("register"))
        )

    def estimate_state(self, d0: str, d1: str) -> DataFrame:
        """One-row EXACT integer estimator state for the range: bucket
        count, register sum, and the harmonic numerator
        ``sum(2^(HLL_HASH_BITS - p - register + 1))`` — everything the
        float HLL formula needs, in engine-exact integers."""
        shift_base = HLL_HASH_BITS - self.p + 1
        pow_term = F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            (F.lit(shift_base) - F.col("register")).cast("int"),
        )
        return self.registers_for_range(d0, d1).agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.sum("register").cast("long").alias("sum_registers"),
            F.sum(pow_term).cast("long").alias("harmonic_num"),
        )


class KMVStore:
    """Day-partitioned KMV (theta) sketch store — the MIN-MERGE sibling
    of :class:`HLLStore` and the third corner of the sketch-algebra
    triangle this repo documents: HLL registers merge by elementwise MAX
    (idempotent for free), DD bucket counts merge by ADDITION (fenced),
    KMV hash sets merge by union-then-k-smallest — a MIN-style set
    algebra that is also idempotent for free AND, unlike HLL, supports
    set operations (union sketches combine, intersections estimate by
    inclusion-exclusion — the audience-overlap question).

    Layout: <= k rows (day, h) per day, hive-partitioned by day. The
    "k smallest over a range" read is EXACT relative to raw data: every
    hash in the range's k-minimum set is necessarily within its own
    day's k smallest (all smaller hashes are also in the range), so
    merging per-day k-min sets loses nothing — the mergeability theorem
    that makes daily KMV state sufficient at any event volume.

    Maintenance is the HLLStore contract: admit folds a batch's daily
    k-min rows into the touched day partitions (union → distinct → k
    smallest; idempotent by algebra, no batch markers), everything else
    hardlinks forward.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        k: int = 64,
        ts_col: str = "ts",
        num_buckets: int = 4,
    ) -> None:
        self.spark = spark
        self.path = path
        self.k = k
        self.ts_col = ts_col
        self._table = KeyedTable(
            spark, os.path.join(path, "kmv_daily"), ["day", "h"],
            ts_col="h", num_buckets=num_buckets, partition_col="day",
        )

    def _daily_hashes(self, df: DataFrame, key: Column) -> DataFrame:
        """(day, h): the k smallest distinct md5-derived hashes per day —
        WindowGroupLimit-bounded, no day's full hash set is buffered."""
        from pyspark.sql import Window

        from affinity_spark.operators.sketches import _h

        d = (
            df.select(
                F.date_format(F.col(self.ts_col), "yyyy-MM-dd").alias("day"),
                _h(key, 0).alias("h"),
            )
            .distinct()
        )
        w = Window.partitionBy("day").orderBy("h")
        return (
            d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.k)
            .select("day", "h")
        )

    # --- build / maintain ---------------------------------------------------

    def build(self, df: DataFrame, key: Column) -> None:
        self._table.overwrite(self._daily_hashes(df, key))

    def admit(self, batch: DataFrame, key: Column) -> None:
        """MERGE a batch: union the batch's daily k-min rows with the
        stored ones, keep each touched day's k smallest distinct hashes,
        rewrite only those day partitions. Idempotent by algebra —
        re-admitting the same rows reproduces the same minima."""
        from pyspark.sql import Window

        delta = self._daily_hashes(batch, key)
        days = [r[0] for r in delta.select("day").distinct().collect()]
        if not days:
            return
        snap = self._table.snapshot()
        if snap.version_dir is None:
            self._table.overwrite(delta)
            return
        cur = snap.df.filter(F.col("day").isin(days))
        w = Window.partitionBy("day").orderBy("h")
        merged = (
            cur.unionByName(delta.select(*cur.columns))
            .distinct()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.k)
            .select(*cur.columns)
        )
        self._table.overwrite_partitions(
            merged, days, expected_base=snap.version_dir
        )

    def maintainer(self, key: Column, compact_every: int = 32):
        """foreachBatch streaming maintenance; no batch-id bookkeeping —
        min-merge is idempotent under replay (the HLL contract). Every
        ``compact_every`` admits the table compacts to ~one file per day
        dir (see DDStore.maintainer). 0 disables."""
        state = {"n": 0}

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.admit(batch_df, key)
            state["n"] += 1
            if compact_every and state["n"] % compact_every == 0:
                self._table.compact()

        return apply

    # --- reads --------------------------------------------------------------

    def exists(self) -> bool:
        return self._table.exists()

    def daily(self) -> DataFrame:
        """(day, h) — filters on ``day`` are partition-pruned."""
        return self._table.read()

    def sketch_for_range(self, d0: str, d1: str) -> DataFrame:
        """The k smallest distinct hashes over days in [d0, d1]: a pruned
        scan of <= k rows/day + one bounded top-k (TakeOrderedAndProject
        — never a full sort); exact vs a sketch built over the raw range
        (see the class docstring's mergeability argument)."""
        return (
            self.daily()
            .filter(F.col("day").between(d0, d1))
            .select("h")
            .distinct()
            .orderBy("h")
            .limit(self.k)
        )

    def estimate_for_range(self, d0: str, d1: str) -> DataFrame:
        """One-row (n_in_sketch, est_distinct) for the range."""
        from affinity_spark.operators.sketches import kmv_estimate

        return self.sketch_for_range(d0, d1).agg(
            F.count(F.lit(1)).cast("long").alias("n_in_sketch"),
            kmv_estimate(F.array_sort(F.collect_list("h")), self.k)
            .cast("long")
            .alias("est_distinct"),
        )

    def overlap_estimate(
        self, a0: str, a1: str, b0: str, b1: str
    ) -> DataFrame:
        """Set algebra across two ranges — the question HLL cannot
        answer: one row (est_a, est_b, est_union, est_intersect), the
        union sketch merged from the two range sketches alone and the
        intersection by inclusion-exclusion, all exact-integer
        arithmetic."""
        from affinity_spark.operators.sketches import kmv_estimate, kmv_union

        ka = self.sketch_for_range(a0, a1).agg(
            F.array_sort(F.collect_list("h")).alias("ka")
        )
        kb = self.sketch_for_range(b0, b1).agg(
            F.array_sort(F.collect_list("h")).alias("kb")
        )
        out = ka.crossJoin(F.broadcast(kb)).select(
            kmv_estimate(F.col("ka"), self.k).alias("est_a"),
            kmv_estimate(F.col("kb"), self.k).alias("est_b"),
            kmv_estimate(
                kmv_union(F.col("ka"), F.col("kb"), self.k), self.k
            ).alias("est_union"),
        )
        return out.withColumn(
            "est_intersect",
            F.greatest(
                F.lit(0).cast("long"),
                F.col("est_a") + F.col("est_b") - F.col("est_union"),
            ),
        )
