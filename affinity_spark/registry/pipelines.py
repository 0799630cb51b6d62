"""Composed end-to-end corpus pipelines.

Split from the single-file ``__spark_entry__.py`` registry (round 6):
one module per query family, each with its OWN helper namespace, so a
same-named oracle helper in another family can never silently clobber
this one's (the r3 ``_QUALITY_SQL`` collision trap). The driver contract
(``entry``/``queries``/``oracle_sql``) stays in ``__spark_entry__.py``
and references these modules by qualified name.

Cross-engine determinism rules (aliased aggregates, integer money/ratio
arithmetic, formatted timestamps, md5-derived text hashes) are inherited
from the original registry header — see ``__spark_entry__.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from affinity_spark.cache import temp_root, track as _track_cache
from affinity_spark.functions.text import doc_fingerprint, token_count
from affinity_spark.operators import dedup as dd

from affinity_spark.registry._shared import _duck_lsh_cand_cte, _t


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-pipeline ops COMPOSED end to end: quality filter (>= 10
    tokens) → exact dedup (keep min id per fingerprint) → near-dup removal
    via MinHash-LSH candidates + exact-Jaccard >= 1/2 verify (drop the
    higher id of each confirmed pair) → surviving (doc_id, n_tokens).

    This is the SCALE tier composed end to end: signatures are the
    zero-shuffle map-side array transform, candidates come from the LSH
    band join (bucket-sized, never the all-pairs shingle self-join — that
    tier lives in dedup_ngram_jaccard as the small-scale verifier), and
    the verify step touches candidate pairs only. The shingle arrays are
    materialized ONCE (persist — the RDD checkpoint path loses AQE/codegen) and shared by the signature and
    verify branches.
    """
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "text", token_count(F.col("text")).alias("n_tokens"))
    quality = scored.filter(F.col("n_tokens") >= 10)
    # Exact dedup as a window (keep min doc_id per fingerprint): one shuffle
    # on fp, no self-join — documents is scanned ONCE for the whole pipeline
    # (keepers is checkpointed and feeds both the LSH branch and the final
    # anti-join).
    w_fp = Window.partitionBy(doc_fingerprint(F.col("text"))).orderBy("doc_id")
    # The repartition pins the CACHED frame's parallelism: keepers is
    # CPU-dense per byte (the shingle/band HOF kernels downstream chew
    # ~12 s of CPU on ~30 MB at sf0.1), so AQE's byte-based coalescing of
    # cached output (session default, r15) would serialize the whole
    # dedup chain onto 1 task. User repartitions are exempt from
    # coalescing through the cache boundary (r15 probe; the r14
    # tfidf_pairs discipline); `arrs` below is narrow over this cache and
    # inherits the pinned parallelism. A/B: flag-on unpinned 2.56 s vs
    # pinned/flag-off 1.24 s at sf0.1.
    keepers = (
        quality.withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .persist()
    )
    keepers = _track_cache(keepers)
    arrs = _track_cache(dd.doc_shingle_arrays(keepers, "doc_id", "text", 3).persist())
    cand = dd.lsh_candidate_pairs(dd.lsh_bands_mapside(arrs, "doc_id"), "doc_id")
    near_dups = dd.jaccard_verify_arrays(cand, arrs, "doc_id", 1, 2).select(
        F.col("id_b").alias("doc_id")
    ).distinct()
    clean = keepers.join(near_dups, "doc_id", "left_anti")
    return clean.select("doc_id", "n_tokens")


def _pipeline_oracle_sql() -> str:
    return f"""
WITH t AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> ''))
           AS n_tokens
  FROM documents
),
q AS (SELECT * FROM t WHERE n_tokens >= 10),
k AS (
  SELECT min(doc_id) AS doc_id
  FROM q GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
),
kd AS (SELECT q.* FROM q JOIN k USING (doc_id)),
d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM kd),
sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           range(1, greatest(len(t) - 2, 0) + 1),
           i -> array_to_string(t[i:i+2], ' ')))) AS shingle
  FROM d WHERE len(t) >= 3
),
h AS (SELECT doc_id, shingle,
             CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h0
      FROM sh),
{_duck_lsh_cand_cte()},
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
),
dups AS (
  SELECT DISTINCT id_b AS doc_id
  FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
  WHERE 2 * n_common >= (sa.n + sb.n - n_common)
)
SELECT doc_id, n_tokens FROM kd
WHERE doc_id NOT IN (SELECT doc_id FROM dups)
"""


def pipeline_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-side ops COMPOSED end to end: quality filter (>= 10
    tokens) -> exact dedup (min doc_id per content fingerprint, window on
    fp, no self-join) -> deterministic 90% train split (zero-shuffle md5
    bucket) -> concat-and-chunk packing into 2048-token context windows per
    source shard -> per-pack accounting.

    Two shuffles total: the fingerprint window and the shard window (the
    final groupBy reuses the shard partitioning). The split adds none —
    membership is a projection of doc_id. This is the batch a training
    loader would mount, produced by one declarative plan.
    """
    from pyspark.sql import Window

    from affinity_spark.operators.sampling import pack_sequences, train_split

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", "text", token_count(F.col("text")).alias("n_tokens")
    )
    quality = scored.filter(F.col("n_tokens") >= 10)
    w_fp = Window.partitionBy(doc_fingerprint(F.col("text"))).orderBy("doc_id")
    keepers = (
        quality.withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
        .drop("rn", "text")
    )
    train = train_split(keepers, "doc_id").filter(F.col("split") == "train")
    packed = pack_sequences(train, "source", "doc_id", "n_tokens", 2048)
    return packed.groupBy("source", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("pack_tokens"),
    )


_TRAIN_PIPE_SQL = """
WITH t AS (
  SELECT doc_id, source, text,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> ''))
           AS n_tokens
  FROM documents
),
q AS (SELECT * FROM t WHERE n_tokens >= 10),
k AS (
  SELECT min(doc_id) AS doc_id
  FROM q GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
),
kd AS (SELECT q.doc_id, q.source, q.n_tokens FROM q JOIN k USING (doc_id)),
tr AS (
  SELECT * FROM kd
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000 < 900
),
cum AS (
  SELECT source, n_tokens,
         (CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
          - n_tokens) // 2048 AS pack_id
  FROM tr
)
SELECT source, pack_id, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
FROM cum
GROUP BY source, pack_id
"""


def pipeline_streaming_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED STREAMING ingest pipeline's batch twin as a driver
    query (streaming/pipeline.py::corpus_pipeline_replay): quality gate →
    first-arrival exact dedup → online-LSH near-dup verdicts (band-bucket
    state contract, 1024-member cap) → split labels. The streaming query
    itself is equivalence-pinned to this replay over ≥3 micro-batches in
    tests/test_streaming_pipeline.py; this entry makes the final sink
    semantics oracle-checkable by the driver. dup_of = -1 and split =
    'rejected' encode the nullable columns hash-safely."""
    from affinity_spark.streaming.pipeline import corpus_pipeline_replay

    docs = _t(spark, sf_dir, "documents")
    out = corpus_pipeline_replay(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("split"), F.lit("rejected")).alias("split"),
        F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
    )


def _streaming_replay_oracle_sql() -> str:
    from affinity_spark.registry._shared import (
        _duck_lsh_bands_cte,
        _duck_shingles_cte,
    )

    shingles_over_keepers = _duck_shingles_cte(3).replace(
        "FROM documents", "FROM kd"
    )
    return f"""
WITH t0 AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
),
q AS (SELECT * FROM t0 WHERE n_tokens >= 10),
k AS (
  SELECT min(doc_id) AS doc_id
  FROM q GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
),
kd AS (SELECT q.* FROM q JOIN k USING (doc_id)),
{shingles_over_keepers.lstrip().lstrip(chr(10))},
{_duck_lsh_bands_cte()},
ranked AS (
  SELECT doc_id, band_id, band_hash,
         row_number() OVER (PARTITION BY band_id, band_hash ORDER BY doc_id) AS rk
  FROM bands
),
bp AS (
  SELECT DISTINCT a.doc_id AS dup_of, b.doc_id AS doc_id
  FROM ranked a
  JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
  WHERE a.rk <= 1024
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM h GROUP BY doc_id),
common AS (
  SELECT p.dup_of, p.doc_id, CAST(count(*) AS BIGINT) AS n_common
  FROM bp p
  JOIN h x ON x.doc_id = p.dup_of
  JOIN h y ON y.doc_id = p.doc_id AND y.shingle = x.shingle
  GROUP BY 1, 2
),
matches AS (
  SELECT c.doc_id, min(c.dup_of) AS dup_of
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.dup_of
  JOIN sizes sb ON sb.doc_id = c.doc_id
  WHERE 2 * c.n_common >= (sa.nsh + sb.nsh - c.n_common)
  GROUP BY c.doc_id
),
lab AS (
  SELECT kd.doc_id, kd.n_tokens, m.dup_of,
         CAST(('0x' || substr(md5(CAST(kd.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 1000 AS bucket
  FROM kd LEFT JOIN matches m USING (doc_id)
)
SELECT doc_id, n_tokens,
       CASE WHEN dup_of IS NOT NULL THEN 'rejected'
            WHEN bucket < 900 THEN 'train'
            WHEN bucket < 950 THEN 'val'
            ELSE 'test' END AS split,
       CAST(coalesce(dup_of, -1) AS BIGINT) AS dup_of
FROM lab
"""


# --- store-served streaming ingest: the batch-replay twin -------------------

#: app-scoped replay-state cache: (corpus fingerprint, tmpdir, stores).
#: The replay DRIVES the maintained stores (QualityStore + BandIndex +
#: verdict tables) — the returned frame reads from them lazily, so the
#: tmpdir must outlive the call; eviction rmtrees the superseded dir
#: (the events_kmv_range_store contract).
_SSR_STATE: dict = {}


def pipeline_store_served_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STORE-SERVED streaming ingest replayed in batch as a driver
    query — the oracle-paired twin of ``streaming/pipeline.py::
    store_served_corpus_sink`` (r10 verdict "What's missing" #3): the
    documents table is fed through the ACTUAL foreachBatch sink in four
    id-ordered micro-batches (QualityStore admits → gate + exact dedup
    read back committed signals/canonicality → BandIndex-served near-dup
    verify → verdict tables), then every per-doc verdict is read back
    from the committed tables: signals for the gate drops, survivors for
    split labels, rejected for near-dup attributions.

    Output (one row per document): doc_id, n_words, verdict
    ('lowq' | 'exactdup' | 'neardup' | 'train' | 'val' | 'test'), dup_of
    (canonical doc for exact dups, earliest matched doc for near dups,
    -1 otherwise). Ids ascend across batches (the enforced arrival
    contract), so the final table state is batch-expressible: canonicality
    is global min-id per fingerprint and near-dup candidates are exactly
    the uncapped band-sharing pairs a<b — what the DuckDB oracle replays.

    Reference parity: the E2E ingest spine GatewayStream.scala:88-99 whose
    golden tests anchor the reference's test strategy — here the goldens
    are the oracle's SQL replay of the full ingest.
    """
    import shutil
    from pyspark.sql import Window

    from affinity_spark.operators.bandindex import BandIndex
    from affinity_spark.operators.postings import _corpus_fingerprint
    from affinity_spark.operators.quality_store import QualityStore
    from affinity_spark.sources.keyed_table import KeyedTable
    from affinity_spark.streaming.pipeline import store_served_corpus_sink

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    key = (spark.sparkContext.applicationId, f"ssr:{sf_dir}")
    fp = _corpus_fingerprint(docs)
    cached = _SSR_STATE.get(key)
    if cached is None or cached[0] != fp or not cached[2].exists():
        if cached is not None:
            shutil.rmtree(cached[1], ignore_errors=True)
        base = temp_root("affinity_ssr_")
        qstore = QualityStore(spark, os.path.join(base, "quality"))
        bidx = BandIndex(
            spark, os.path.join(base, "bands"), num_buckets=2, doc_buckets=2
        )
        corpus = KeyedTable(
            spark, os.path.join(base, "shingles"), ["doc_id"],
            ts_col="n_shingles", num_buckets=2,
        )
        surv = KeyedTable(
            spark, os.path.join(base, "survivors"), ["doc_id"],
            ts_col="n_tokens", num_buckets=2,
        )
        rej = KeyedTable(
            spark, os.path.join(base, "rejected"), ["doc_id"],
            ts_col="dup_of", num_buckets=2,
        )
        # four id-ordered micro-batches (a replay harness batches by id
        # ranges; ntile keeps it deterministic at any sf)
        batched = docs.withColumn(
            "_b", F.ntile(4).over(Window.orderBy("doc_id"))
        ).persist()
        # the standing model trains on the earliest-id slice BEFORE the
        # stream (the CCNet shape); those docs then also flow through the
        # sink, replacing their own signal rows idempotently
        qstore.build(batched.filter(F.col("_b") == 1).drop("_b"))
        sink = store_served_corpus_sink(
            qstore, bidx, corpus, surv, rej, run_id="replay"
        )
        for i in range(1, 5):
            sink(batched.filter(F.col("_b") == i).drop("_b"), i - 1)
        batched.unpersist()
        _SSR_STATE[key] = (fp, base, qstore, surv, rej)
    _, _, qstore, surv, rej = _SSR_STATE[key]

    sig = qstore.signals().select("doc_id", "fp", "n_words", "is_canonical")
    mins = sig.groupBy("fp").agg(F.min("doc_id").alias("_fp_min"))
    s = surv.read().select("doc_id", "split")
    r = rej.read().select("doc_id", F.col("dup_of").alias("_nd_of"))
    return (
        sig.join(mins, "fp")
        .join(s, "doc_id", "left")
        .join(r, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.when(F.col("n_words") < 10, F.lit("lowq"))
            .when(~F.col("is_canonical"), F.lit("exactdup"))
            .when(F.col("_nd_of").isNotNull(), F.lit("neardup"))
            .otherwise(F.col("split"))
            .alias("verdict"),
            F.when(F.col("n_words") < 10, F.lit(-1))
            .when(~F.col("is_canonical"), F.col("_fp_min"))
            .otherwise(F.coalesce(F.col("_nd_of"), F.lit(-1)))
            .cast("long")
            .alias("dup_of"),
        )
    )


def _store_served_replay_oracle_sql() -> str:
    from affinity_spark.registry._shared import (
        _duck_lsh_bands_cte,
        _duck_shingles_cte,
    )

    shingles_over_gated = _duck_shingles_cte(3).replace(
        "FROM documents", "FROM g"
    )
    return f"""
WITH t0 AS (
  SELECT doc_id, text,
         len(list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'),
                         x -> x <> '')) AS n_words,
         md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
  FROM documents
),
mn AS (SELECT fp, min(doc_id) AS fp_min FROM t0 GROUP BY fp),
lab0 AS (
  SELECT t0.doc_id, t0.text, t0.n_words, mn.fp_min,
         (t0.n_words >= 10 AND t0.doc_id = mn.fp_min) AS gated
  FROM t0 JOIN mn USING (fp)
),
g AS (SELECT doc_id, text FROM lab0 WHERE gated),
{shingles_over_gated.lstrip().lstrip(chr(10))},
{_duck_lsh_bands_cte()},
bp AS (
  SELECT DISTINCT a.doc_id AS dup_of, b.doc_id AS doc_id
  FROM bands a
  JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
              AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nsh FROM h GROUP BY doc_id),
common AS (
  SELECT p.dup_of, p.doc_id, CAST(count(*) AS BIGINT) AS n_common
  FROM bp p
  JOIN h x ON x.doc_id = p.dup_of
  JOIN h y ON y.doc_id = p.doc_id AND y.shingle = x.shingle
  GROUP BY 1, 2
),
matches AS (
  SELECT c.doc_id, min(c.dup_of) AS nd_of
  FROM common c
  JOIN sizes sa ON sa.doc_id = c.dup_of
  JOIN sizes sb ON sb.doc_id = c.doc_id
  WHERE 2 * c.n_common >= (sa.nsh + sb.nsh - c.n_common)
  GROUP BY c.doc_id
),
fin AS (
  SELECT l.doc_id, l.n_words, l.fp_min, m.nd_of,
         CAST(('0x' || substr(md5(CAST(l.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 1000 AS bucket
  FROM lab0 l LEFT JOIN matches m USING (doc_id)
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CASE WHEN n_words < 10 THEN 'lowq'
            WHEN doc_id <> fp_min THEN 'exactdup'
            WHEN nd_of IS NOT NULL THEN 'neardup'
            WHEN bucket < 900 THEN 'train'
            WHEN bucket < 950 THEN 'val'
            ELSE 'test' END AS verdict,
       CAST(CASE WHEN n_words < 10 THEN -1
                 WHEN doc_id <> fp_min THEN fp_min
                 ELSE coalesce(nd_of, -1) END AS BIGINT) AS dup_of
FROM fin
"""
