"""Maintained multimodal fingerprint index — the TENTH maintained-index
family: perceptual near-dup state for image/audio/video as TABLE TRUTH.

The r11 modality queries (``docs_image_near_dup`` / ``docs_audio_near_dup``
/ ``docs_video_near_dup``) re-decode and re-fingerprint the whole corpus
per run; at 100 TB the decode (the expensive Arrow-batched kernel) is
exactly what a deployment pays ONCE per document at ingest. This module
commits (doc_id, modality, fp) — a 63-bit perceptual fingerprint per
modality — to a doc-bucket-partitioned KeyedTable (the reference's
maintained secondary-index discipline, ``core/src/main/scala/io/amient/
affinity/core/state/KVStoreLocal.scala:195-248``, the same shape as
``operators/bandindex.py``):

- ``admit()`` decodes/fingerprints ONLY the batch (the caller supplies
  batch fingerprints — decode never re-runs over the corpus) and
  rewrites only the touched doc-id buckets (hardlinked carry-over
  elsewhere — the BandIndex delta-IO contract, auto-sized lever from
  ``operators/bucketing``);
- ``probe()`` finds the batch's near-dup partners in the committed
  corpus via the generalized pigeonhole chunk join
  (``operators/dedup.py::hamming_near_pairs`` machinery): the BATCH's
  chunks broadcast into the committed side, so the corpus is never
  shuffled and a (max_hamming+1)-chunk agreement bounds what joins —
  NEVER all-pairs;
- ``pairs()`` serves the corpus-wide near-dup pairs from the committed
  fingerprints alone — zero decodes at query time.

Fingerprints are modality-tagged in ONE table so one pair machinery
serves all modalities (the r11 three-modalities-one-machinery design,
now maintained); chunk joins key on (modality, chunk_id, chunk_val) so
modalities never cross-match.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from affinity_spark.functions.lits import local_df
from affinity_spark.sources.keyed_table import KeyedTable


def _chunk_parts(bits: int, max_hamming: int) -> list[F.Column]:
    """The pigeonhole split: (max_hamming+1) disjoint chunks of a
    ``bits``-wide fingerprint — any pair within the radius agrees on at
    least one whole chunk (the hamming_near_pairs argument)."""
    chunks = max_hamming + 1
    width = -(-bits // chunks)
    return [
        F.struct(
            F.lit(c).alias("chunk_id"),
            (
                F.shiftright(F.col("fp"), c * width)
                % F.lit(1 << min(width, bits - c * width))
            ).alias("chunk_val"),
        )
        for c in range(chunks)
    ]


def hamming_pairs_multimodal(
    fps: DataFrame, id_col: str, bits: int, max_hamming: int = 3
) -> DataFrame:
    """(modality, id_a, id_b, hamming) near-dup pairs over a
    (id, modality, fp) frame — ``dedup.hamming_near_pairs`` generalized
    to modality-tagged fingerprints in one pass: chunk join keyed on
    (modality, chunk_id, chunk_val), exact bit_count verify. NEVER
    all-pairs."""
    if not 0 < bits <= 63:
        raise ValueError("bits must be in (0, 63]")
    ch = fps.select(
        id_col, "modality", "fp",
        F.explode(F.array(*_chunk_parts(bits, max_hamming))).alias("c"),
    ).select(id_col, "modality", "fp", "c.chunk_id", "c.chunk_val")
    a = ch.select(
        F.col(id_col).alias("id_a"), F.col("fp").alias("fp_a"),
        "modality", "chunk_id", "chunk_val",
    )
    b = ch.select(
        F.col(id_col).alias("id_b"), F.col("fp").alias("fp_b"),
        "modality", "chunk_id", "chunk_val",
    )
    return (
        a.join(b, ["modality", "chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("modality", "id_a", "id_b", "fp_a", "fp_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("fp_a ^ fp_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("modality", "id_a", "id_b", "hamming")
    )


class MediaIndex:
    """Committed (doc_id, modality, fp) perceptual fingerprints with
    delta-IO admits and pigeonhole serving reads."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        bits: int = 63,
        max_hamming: int = 3,
        num_buckets: int = 8,
        doc_buckets: int | None = None,
    ) -> None:
        if not 0 < bits <= 63:
            raise ValueError("bits must be in (0, 63]")  # DuckDB 1<<63 rule
        self.spark = spark
        self.id_col = id_col
        self.bits = bits
        self.max_hamming = max_hamming
        # None = AUTO (operators/bucketing): build() sizes ∝ corpus and
        # COMMITS the count; later operations resolve the committed value
        self._explicit_buckets = doc_buckets
        self._effective: int | None = None
        self._table = KeyedTable(
            spark, os.path.join(path, "fps"), [id_col, "modality"],
            ts_col="fp", num_buckets=num_buckets, partition_col="_bucket",
            single_file_partitions=True,
        )

    # --- bucket lever -----------------------------------------------------

    def _effective_buckets(self) -> int:
        if self._effective is None:
            from affinity_spark.operators.bucketing import committed_buckets

            self._effective = committed_buckets(
                self._table, "doc_buckets", self._explicit_buckets
            )
        return self._effective

    @property
    def doc_buckets(self) -> int:
        return self._effective_buckets()

    def _bucket(self) -> F.Column:
        # string-canonical hash (the r5 BandIndex numeric-width rule)
        return F.pmod(
            F.hash(F.col(self.id_col).cast("string")),
            F.lit(self._effective_buckets()),
        )

    @staticmethod
    def _capped_auto(n_docs: int) -> int:
        """Auto lever for this family: three ~20 B modality rows per doc;
        bytes-floored so buckets stay at least row-group-sized (r13)."""
        from affinity_spark.operators.bucketing import (
            auto_bucket_count,
            bytes_floor_cap,
        )

        return min(auto_bucket_count(n_docs), bytes_floor_cap(n_docs * 64))

    def needs_rebucket(self, factor: float = 4.0) -> bool:
        """Growth trigger (IVF ``needs_retrain`` discipline): distinct
        docs outgrew the committed count ``factor``×."""
        n_docs = self._table.read().select(self.id_col).distinct().count()
        return self._capped_auto(n_docs) >= factor * self._effective_buckets()

    def rebucket(self, doc_buckets: int | None = None) -> int:
        """Amortized physical re-placement under a fresh (auto unless
        given) bucket count; fingerprints and served pairs identical."""
        cur = self._table.read()
        new = doc_buckets or self._capped_auto(
            cur.select(self.id_col).distinct().count()
        )
        self._table.overwrite(
            cur.withColumn(
                "_bucket",
                F.pmod(F.hash(F.col(self.id_col).cast("string")), F.lit(new)),
            ),
            meta={**self._table.commit_meta(), "doc_buckets": new},
        )
        self._effective = new
        return new

    # --- build / maintain ---------------------------------------------------

    def _normalized(self, fps: DataFrame) -> DataFrame:
        return fps.select(
            F.col(self.id_col).cast("long").alias(self.id_col),
            F.col("modality").cast("string").alias("modality"),
            F.col("fp").cast("long").alias("fp"),
        )

    def build(self, fps: DataFrame) -> None:
        """Full (re)build from a (id, modality, fp) frame — the caller's
        decode/fingerprint kernel runs once over the corpus here and
        never again (admits fingerprint only their batch). Sizes the
        bucket lever ∝ distinct docs (no manual knob) unless pinned."""
        fps = self._normalized(fps).persist()
        self._effective = (
            self._explicit_buckets
            if self._explicit_buckets is not None
            else self._capped_auto(fps.select(self.id_col).distinct().count())
        )
        self._table.overwrite(
            fps.withColumn("_bucket", self._bucket()),
            meta={"doc_buckets": self._effective},
        )
        fps.unpersist()

    def exists(self) -> bool:
        return self._table.exists()

    def admit(
        self, new_fps: DataFrame, deleted_ids: Iterable[object] = ()
    ) -> None:
        """Incremental MERGE (the BandIndex shape): the batch's
        fingerprints replace any committed rows for the same doc ids,
        ``deleted_ids`` drop entirely; only the touched doc-id buckets
        rewrite (partition-pruned scan + hardlinked carry-over).
        Replay-idempotent — a replayed batch rewrites its own rows."""
        deleted = list(deleted_ids)  # generators are truthy when empty
        new_fps = self._normalized(new_fps)
        if not self.exists():
            # first write: size and COMMIT the lever from the batch (the
            # ClusterStore discipline) — the overwrite fall-through never
            # stamped doc_buckets, silently pinning the auto lever to the
            # legacy default 8 (r12 ADVICE)
            self.build(new_fps)
            return
        # CAS base FIRST, then re-resolve the committed lever: a long-lived
        # instance must not cache across another instance's rebucket()
        # (placement is a function of the COMMITTED count — an admit under
        # a stale modulus merges wrong dirs while hardlinking stale ones,
        # the r5 silent-corruption class). A rebucket landing after this
        # read fails the CAS loudly instead.
        snap = self._table.snapshot()
        self._effective = None
        touched = new_fps.select(self.id_col).distinct()
        if len(deleted) > 0:
            gone = local_df(
                self.spark, [(d,) for d in deleted], f"`{self.id_col}` bigint"
            )
            touched = touched.unionByName(gone).distinct()
        touched_p = touched.persist()
        buckets = [
            r[0]
            for r in touched_p.select(
                self._bucket().alias("_bucket")
            ).distinct().collect()
        ]
        cur = snap.df
        kept = (
            cur.filter(F.col("_bucket").isin(buckets))
            .join(F.broadcast(touched_p), self.id_col, "left_anti")
            .select(*cur.columns)
        )
        delta = new_fps.withColumn("_bucket", self._bucket()).select(
            *[F.col(c).cast(cur.schema[c].dataType).alias(c) for c in cur.columns]
        )
        self._table.overwrite_partitions(
            kept.unionByName(delta), buckets, expected_base=snap.version_dir
        )
        touched_p.unpersist()

    # --- reads ----------------------------------------------------------------

    def fingerprints(self) -> DataFrame:
        return self._table.read().drop("_bucket")

    def _chunked(self, fps: DataFrame) -> DataFrame:
        """(id, modality, fp, chunk_id, chunk_val) — the pigeonhole split
        (see :func:`_chunk_parts`)."""
        return fps.select(
            self.id_col, "modality", "fp",
            F.explode(
                F.array(*_chunk_parts(self.bits, self.max_hamming))
            ).alias("c"),
        ).select(self.id_col, "modality", "fp", "c.chunk_id", "c.chunk_val")

    def pairs(self) -> DataFrame:
        """Corpus-wide near-dup pairs (modality, id_a, id_b, hamming)
        served from the committed fingerprints — zero decodes, identical
        to ``hamming_near_pairs`` over a fresh derivation (pinned by
        tests). Chunk join keys include modality, so modalities never
        cross-match."""
        return hamming_pairs_multimodal(
            self.fingerprints(), self.id_col, self.bits, self.max_hamming
        )

    def probe(self, batch_fps: DataFrame) -> DataFrame:
        """(modality, new_id, dup_of, hamming) — the UNADMITTED batch's
        near-dup partners in the committed corpus: the batch's chunks
        BROADCAST into the committed side (the corpus is never shuffled;
        chunk agreement bounds what joins), exact bit_count verify."""
        nb = self._chunked(self._normalized(batch_fps)).select(
            F.col(self.id_col).alias("new_id"), F.col("fp").alias("fp_b"),
            "modality", "chunk_id", "chunk_val",
        )
        eb = self._chunked(self.fingerprints()).select(
            F.col(self.id_col).alias("dup_of"), F.col("fp").alias("fp_a"),
            "modality", "chunk_id", "chunk_val",
        )
        return (
            F.broadcast(nb)
            .join(eb, ["modality", "chunk_id", "chunk_val"])
            .select("modality", "new_id", "dup_of", "fp_a", "fp_b")
            .distinct()
            .withColumn("hamming", F.bit_count(F.expr("fp_a ^ fp_b")))
            .filter(F.col("hamming") <= self.max_hamming)
            .select("modality", "new_id", "dup_of", "hamming")
        )

    def maintainer(self, fingerprint_source, compact_every: int = 0):
        """foreachBatch maintenance: ``fingerprint_source(batch_df)``
        returns the batch's (id, modality, fp) rows (the decode kernel,
        batch-sized); replay-idempotent via the keyed partition merge.
        ``compact_every`` kept for interface parity — the single-file
        partition layout has no small-file decay (compact is a no-op)."""
        state = {"n": 0}

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            self.admit(fingerprint_source(batch_df))
            state["n"] += 1
            if compact_every and state["n"] % compact_every == 0:
                self._table.compact()

        return apply
