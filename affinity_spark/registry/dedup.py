"""Deduplication family (exact, MinHash/LSH, SimHash, PPJoin, winnowing).

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
from affinity_spark.operators import dedup as dd

from affinity_spark.registry._shared import (
    _duck_lsh_bands_cte,
    _duck_lsh_cand_cte,
    _duck_shingles_cte,
    _t,
)


def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dd.dedup_exact(docs, "doc_id", "text")


_DEDUP_EXACT_SQL = """
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
       min(doc_id) AS keep_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard-verified (J >= 1/2).

    Bands come from the ZERO-shuffle single-expression path
    (``lsh_bands_mapside``): one md5 per shingle, minima folded and band
    structs built inside one aggregate — no shingle explode/groupBy shuffle
    and no per-permutation re-hashing. The only shuffles left are the LSH
    band bucket join and the candidate verify — both candidate-count sized,
    never corpus-sized.

    Output uses exact integer columns (n_common, n_union) so the hash
    comparison is float-free.
    """
    docs = _t(spark, sf_dir, "documents")
    arrs = _track_cache(dd.doc_shingle_arrays(docs, "doc_id", "text", 3).persist())
    cand = dd.lsh_candidate_pairs(dd.lsh_bands_mapside(arrs, "doc_id"), "doc_id")
    return dd.jaccard_verify_arrays(cand, arrs, "doc_id", 1, 2)


def _minhash_oracle_sql() -> str:
    return f"""
WITH {_duck_shingles_cte(3)},
{_duck_lsh_cand_cte()},
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, n_common,
       (sa.n + sb.n - n_common) AS n_union
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 2 * n_common >= (sa.n + sb.n - n_common)
"""


def _clusters(spark: SparkSession, sf_dir: str):
    """Maintained near-dup ClusterStore over the documents corpus — built
    ONCE per process and shared by the cluster-membership family
    (``dedup_cluster_canonical``, ``dedup_quality_canonical``,
    ``docs_leakage_free_split``): the r10 QualityStore replan applied to
    the dedup endgame (r13 verdict #1). First cluster query pays the one
    shingle→LSH→verify→CC derivation; every later read is a scan of the
    committed (doc_id, cluster_id) table."""
    from affinity_spark.operators.cluster_store import shared_clusters

    return shared_clusters(
        spark,
        _t(spark, sf_dir, "documents"),
        corpus_key=os.path.abspath(sf_dir),
    )


def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: LSH candidates → exact-Jaccard
    verify (J >= 1/2) → connected components → one canonical doc per
    cluster (min doc_id, the reference's component-id convention,
    ``AnalyticsSystemSpec.scala:50-52``). This is the dedup endgame a real
    corpus pipeline runs: transitive duplicate groups with a single
    survivor, where pairwise drop-the-higher-id would over- or under-drop
    on chains (a~b, b~c but a!~c).

    SERVED from the maintained ClusterStore (r13 verdict #1): membership
    was committed at store build time, so this read is a scan of the tiny
    (doc_id, cluster_id) table + one assignment-sized size agg — no
    shingle/Generate stage, no corpus re-derivation per query. Clusters
    of size 1 (docs with no verified pair) are the store's singletons and
    are excluded here, matching the pair-graph semantics the oracle
    replays bit-exactly with a recursive CTE."""
    store = _clusters(spark, sf_dir)
    asg = store.assignments()
    sizes = asg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        asg.join(
            F.broadcast(sizes.filter(F.col("cluster_size") >= 2)), "cluster_id"
        )
        .select(
            "doc_id",
            "cluster_id",
            "is_canonical",
            "cluster_size",
        )
    )


def _cluster_canonical_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_duck_shingles_cte(3)},
{_duck_lsh_cand_cte()},
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE 2 * n_common >= (sa.n + sb.n - n_common)
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
verts AS (SELECT DISTINCT a AS v FROM edges),
walk AS (
  SELECT v, v AS r FROM verts
  UNION
  SELECT w.v, e.b AS r FROM walk w JOIN edges e ON e.a = w.r
),
comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY v),
csize AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
          FROM comp GROUP BY cluster_id)
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_canonical, cluster_size
FROM comp JOIN csize USING (cluster_id)
"""


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-yield report: the cluster-size histogram every corpus run
    publishes (how much near-duplication, in what shapes, how many docs a
    canonical-survivor pass drops). One row per cluster size: number of
    clusters, docs in them, docs dropped (size − 1 per cluster).
    Singletons (no verified near-dup) appear as size-1 clusters, so
    n_docs sums to the corpus and the report is self-auditing.

    SERVED from the maintained ClusterStore like the rest of the
    cluster-membership family: two assignment-sized aggregates over the
    committed (doc_id, cluster_id) table — no shingle stage, no corpus
    scan at read time."""
    store = _clusters(spark, sf_dir)
    sizes = store.assignments().groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    return sizes.groupBy(F.col("n").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("n").cast("long").alias("n_docs"),
        F.sum(F.col("n") - 1).cast("long").alias("n_dropped"),
    )


def _cluster_stats_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_duck_shingles_cte(3)},
{_duck_lsh_cand_cte()},
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE 2 * n_common >= (sa.n + sb.n - n_common)
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
verts AS (SELECT DISTINCT a AS v FROM edges),
walk AS (
  SELECT v, v AS r FROM verts
  UNION
  SELECT w.v, e.b AS r FROM walk w JOIN edges e ON e.a = w.r
),
comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY v),
allc AS (SELECT doc_id, cluster_id FROM comp
         UNION ALL
         SELECT d.doc_id, d.doc_id FROM documents d
         WHERE d.doc_id NOT IN (SELECT doc_id FROM comp)),
cs AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n FROM allc GROUP BY cluster_id)
SELECT n AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(sum(n) AS BIGINT) AS n_docs,
       CAST(sum(n - 1) AS BIGINT) AS n_dropped
FROM cs GROUP BY n
"""


def dedup_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-AWARE cluster survivor selection: within each near-dup
    cluster (LSH → exact-Jaccard verify → connected components) keep the
    LONGEST member (max n_chars, doc_id tie-break) instead of the min-id
    convention — the policy a crawl pipeline actually wants, because
    near-dup clusters routinely hold truncated or boilerplate-stripped
    copies of one page and min-id keeps an arbitrary one. Emits only
    real clusters (>= 2 members): cluster_id, the kept doc, its length,
    and the member count. SERVED from the maintained ClusterStore (r13
    verdict #1): membership comes from the committed (doc_id, cluster_id)
    table — no shingle/Generate stage — plus one column-pruned docs read
    for n_chars and one per-cluster WindowGroupLimit top-1 (bounded, no
    cluster's members buffered)."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    store = _clusters(spark, sf_dir)
    asg = store.assignments()
    counts = asg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("_n")
    ).filter(F.col("_n") >= 2)
    # real-cluster membership is verified-pairs-sized << corpus: broadcast
    # it so the docs side is a pushed-down semi-join read, never shuffled
    members = F.broadcast(
        asg.join(F.broadcast(counts), "cluster_id").select("cluster_id", "doc_id")
    ).join(
        docs.select("doc_id", "n_chars"),
        "doc_id",
    ).select("cluster_id", "doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    sizes = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return (
        members.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .join(F.broadcast(sizes), "cluster_id")
        .select(
            "cluster_id",
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").alias("keep_chars"),
            "n_members",
        )
    )


def _quality_canonical_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_duck_shingles_cte(3)},
{_duck_lsh_cand_cte()},
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE 2 * n_common >= (sa.n + sb.n - n_common)
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
verts AS (SELECT DISTINCT a AS v FROM edges),
walk AS (
  SELECT v, v AS r FROM verts
  UNION
  SELECT w.v, e.b AS r FROM walk w JOIN edges e ON e.a = w.r
),
comp AS (SELECT v AS doc_id, min(r) AS cluster_id FROM walk GROUP BY v),
mem AS (
  SELECT comp.cluster_id, comp.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY comp.cluster_id
                            ORDER BY d.n_chars DESC, comp.doc_id ASC) AS rn
  FROM comp JOIN documents d ON d.doc_id = comp.doc_id
),
csize AS (SELECT cluster_id, count(*) AS n_members FROM mem GROUP BY cluster_id)
SELECT m.cluster_id, m.doc_id AS keep_id, m.n_chars AS keep_chars,
       CAST(c.n_members AS BIGINT) AS n_members
FROM mem m JOIN csize c USING (cluster_id)
WHERE m.rn = 1
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= 1/2 via the inverted shingle index."""
    docs = _t(spark, sf_dir, "documents")
    arrs, sh = dd.shingles_shared(docs, "doc_id", "text", 3)
    sa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    pairs = (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return dd.jaccard_verify_arrays(pairs, arrs, "doc_id", 1, 2)


def dedup_ppjoin_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs Jaccard >= 1/2 via PREFIX FILTERING (PPJoin family,
    Xiao et al. 2008), SERVED FROM THE MAINTAINED PREFIX INDEX
    (operators/prefix_index.py — frozen global-df order, committed prefix
    entries + verify arrays): the first call builds the scaffold once per
    process; the steady-state read is a self-join of the committed prefix
    entries (length + positional filters in the candidate shuffle) and
    the exact array verify — no corpus explode, df aggregation, or
    per-doc rank window in the serving plan. The result stays
    bit-identical to the exhaustive inverted-shingle join; the oracle IS
    that exhaustive join, so a prefix bug that drops a true pair
    hash-fails (false-negative detection, not just shape). Same output
    contract as ``dedup_ngram_jaccard``."""
    from affinity_spark.operators.prefix_index import shared_prefix_index

    docs = _t(spark, sf_dir, "documents")
    arrs = dd.doc_shingle_arrays(docs, "doc_id", "text", 3)
    idx = shared_prefix_index(
        spark, arrs, corpus_key=os.path.abspath(sf_dir), t_num=1, t_den=2
    )
    return idx.pairs()


def _ngram_jaccard_oracle_sql() -> str:
    return f"""
WITH {_duck_shingles_cte(3)},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM h a JOIN h b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b, n_common,
       (sa.n + sb.n - n_common) AS n_union
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE 2 * n_common >= (sa.n + sb.n - n_common)
"""


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: a NEW batch (doc_id % 10 == 0, ~10% of
    the corpus — a day's crawl increment) is deduped AGAINST the existing
    corpus (the other 90%) by probing the existing docs' LSH band buckets
    with the batch's bands — candidates are (new x existing) only, never
    all-pairs and never existing x existing. The batch's bands are
    broadcast, so the corpus-side band table is NEVER shuffled: at 100 TB
    the existing bands are a maintained table (the batch analogue of
    ``streaming/dedup_stream.py``'s online band state) and each
    increment costs O(batch + matched buckets), independent of corpus
    size. Exact integer Jaccard >= 1/2 verify on candidates
    (``dedup.incremental_lsh_pairs``). The maintained-table machinery
    itself — band KeyedTable with partition-pruned ``admit()`` merges and
    an index-served probe pinned equal to this derivation — is
    ``operators/bandindex.py`` (tests/test_bandindex.py); the query keeps
    the self-contained derivation so its bench time measures the
    increment's full cost."""
    docs = _t(spark, sf_dir, "documents")
    arrs = _track_cache(dd.doc_shingle_arrays(docs, "doc_id", "text", 3).persist())
    existing = arrs.filter(F.col("doc_id") % 10 != 0)
    new_batch = arrs.filter(F.col("doc_id") % 10 == 0)
    return dd.incremental_lsh_pairs(existing, new_batch, "doc_id", 1, 2)


def _dedup_incremental_oracle_sql() -> str:
    # banding is per-doc, so banding the FULL corpus and restricting the
    # join sides is identical to banding each subset separately
    return f"""
WITH {_duck_shingles_cte(3)},
{_duck_lsh_bands_cte()},
cand AS (
  SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS dup_of
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
),
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.new_id, c.dup_of, count(*) AS n_common
  FROM cand c
  JOIN h x ON x.doc_id = c.new_id
  JOIN h y ON y.doc_id = c.dup_of AND y.shingle = x.shingle
  GROUP BY c.new_id, c.dup_of
)
SELECT new_id, dup_of, n_common,
       (sa.n + sb.n - n_common) AS n_union
FROM common
JOIN sizes sa ON sa.doc_id = new_id
JOIN sizes sb ON sb.doc_id = dup_of
WHERE 2 * n_common >= (sa.n + sb.n - n_common)
"""


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — which sources copy from which:
    LSH-candidate, exact-Jaccard-verified near-dup pairs (J >= 1/2, the
    ``dedup_minhash_lsh`` result) joined to each side's ``source`` and
    counted per unordered source pair. The corpus-forensics view a crawl
    pipeline uses to find mirror sites and syndication before CHOOSING
    which source to keep (``docs_source_mix`` gives composition; this
    gives overlap). Verified-pair-count sized aggregation on top of the
    banded join — no new corpus-sized work."""
    docs = _t(spark, sf_dir, "documents")
    arrs = _track_cache(dd.doc_shingle_arrays(docs, "doc_id", "text", 3).persist())
    cand = dd.lsh_candidate_pairs(dd.lsh_bands_mapside(arrs, "doc_id"), "doc_id")
    pairs = dd.jaccard_verify_arrays(cand, arrs, "doc_id", 1, 2)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _dedup_cross_source_oracle_sql() -> str:
    return f"""
WITH {_duck_shingles_cte(3)},
{_duck_lsh_cand_cte()},
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE 2 * n_common >= (sa.n + sb.n - n_common)
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       count(*) AS n_pairs
FROM pairs
JOIN documents da ON da.doc_id = id_a
JOIN documents db ON db.doc_id = id_b
GROUP BY 1, 2
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 32-bit fingerprints (integer math, engine-portable)."""
    docs = _t(spark, sf_dir, "documents")
    return dd.simhash_fingerprints(docs, "doc_id", "text", 3)


def _simhash_oracle_sql() -> str:
    s_cols = ",\n       ".join(
        f"sum(((h0 >> {j}) % 2) * 2 - 1) AS s_{j}" for j in range(dd.SIMHASH_BITS)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(dd.SIMHASH_BITS)
    )
    return f"""
WITH {_duck_shingles_cte(3)},
sums AS (SELECT doc_id, {s_cols} FROM h GROUP BY doc_id)
SELECT doc_id, CAST({fp_expr} AS BIGINT) AS simhash FROM sums
"""


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (hamming <= 3) via pigeonhole bucketing:
    the 32-bit fingerprint splits into 4 chunks, any pair within radius 3
    agrees on >= 1 full chunk, so candidates come from 4 chunk-equality
    bucket joins and only candidates pay the bit_count verify. The oracle
    is the exhaustive all-pairs hamming — a bucketing bug that DROPS a
    true pair breaks the hash (false-negative detection, not just shape)."""
    docs = _t(spark, sf_dir, "documents")
    fps = dd.simhash_fingerprints(docs, "doc_id", "text", 3)
    return dd.simhash_near_pairs(fps, "doc_id", max_hamming=3).select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


def _simhash_pairs_oracle_sql() -> str:
    s_cols = ",\n       ".join(
        f"sum(((h0 >> {j}) % 2) * 2 - 1) AS s_{j}" for j in range(dd.SIMHASH_BITS)
    )
    fp_expr = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(dd.SIMHASH_BITS)
    )
    return f"""
WITH {_duck_shingles_cte(3)},
sums AS (SELECT doc_id, {s_cols} FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, CAST({fp_expr} AS BIGINT) AS simhash FROM sums)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-candidate near-dup pairs: docs sharing >= 2 RARE winnow
    fingerprints. Common fingerprints carry no signal in a template-heavy
    corpus (this one's median fp appears in 16 docs), so fps seen in > 3
    docs are dropped first — the df-cutoff MOSS applies, and the guard that
    keeps the fp-keyed candidate work bounded at corpus scale (per-fp pair
    work <= df²/2, df <= 3).

    Pairs are enumerated MAP-SIDE from per-fp posting lists
    (``dedup.rare_key_pairs``): collect_list runs only on kept df<=3
    groups so memory is cap-bounded, and there is no postings self-join.
    The fingerprint frame is PERSISTED (shared-frame registry) because the
    df count and the join both consume it — without the persist the gram
    hashing, the dominant cost (r5 profile: ~7.5 s of the 16.7 s 10x
    rehearsal, vs ~1 s for all shuffles), runs twice."""
    from affinity_spark.functions.text import winnow_fingerprints

    docs = _t(spark, sf_dir, "documents")
    fps = _track_cache(
        docs.select(
            "doc_id", F.explode(winnow_fingerprints(F.col("text"))).alias("fp")
        ).persist()
    )
    return dd.rare_key_pairs(fps, "fp", "doc_id", max_df=3, min_shared=2)


_WINNOW_PAIRS_SQL = """
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
), h AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 7
              THEN list_transform(range(1, len(t) - 5),
                   i -> CAST(('0x' || substr(md5(substr(t, i, 7)), 1, 8)) AS BIGINT))
              ELSE CAST([] AS BIGINT[]) END AS hs
  FROM n
), w AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 4
              THEN list_distinct(list_transform(range(1, len(hs) - 2),
                   j -> list_min(hs[j:j+3])))
              ELSE CAST([] AS BIGINT[]) END AS fps
  FROM h
), e AS (
  SELECT doc_id, unnest(fps) AS fp FROM w
), rare AS (
  SELECT fp FROM e GROUP BY fp HAVING count(*) <= 3
), er AS (
  SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM er a JOIN er b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 2
"""


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage near-dup tier: 24-char-prefix blocking then exact
    Levenshtein verification in basis points of the longer doc — the
    sequence-preserving near-identity notion the set-based tiers (minhash /
    simhash / winnow) don't measure. Candidates are block-confined
    (Σ|block|², never n²); levenshtein is built-in and character-identical
    on both engines."""
    docs = _t(spark, sf_dir, "documents")
    return dd.edit_distance_pairs(docs, "doc_id", "text", 24, 2000)


_EDIT_DIST_SQL = """
WITH t AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
b AS (SELECT doc_id, norm, substr(norm, 1, 24) AS blk FROM t WHERE len(norm) > 0),
p AS (
  SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         CAST(levenshtein(a.norm, b2.norm) AS BIGINT) AS lev,
         CAST(greatest(len(a.norm), len(b2.norm)) AS BIGINT) AS mx
  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.doc_id < b2.doc_id
)
SELECT id_a, id_b, lev, (lev * 10000) // mx AS lev_bp
FROM p WHERE (lev * 10000) // mx <= 2000
"""


def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured RECALL of the MinHash-LSH candidate generator against
    exact ground truth — the quality-evaluation discipline every
    approximate dedup deployment needs (the banding config promises ~90%
    candidate probability at J=0.5; this MEASURES it on the corpus, the
    same move as emb_lsh_recall for ANN).

    Truth = all pairs with exact n-gram Jaccard >= 1/2 (inverted-index
    verifier tier); candidates = the zero-shuffle banded LSH tier. One
    row: pair counts + recall in basis points (integer division; empty
    truth reads 10000 by convention)."""
    docs = _t(spark, sf_dir, "documents")
    arrs, sh = dd.shingles_shared(docs, "doc_id", "text", 3)
    sa = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    exact_pairs = (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    truth = dd.jaccard_verify_arrays(exact_pairs, arrs, "doc_id", 1, 2).select(
        "id_a", "id_b"
    )
    cand = dd.lsh_candidate_pairs(dd.lsh_bands_mapside(arrs, "doc_id"), "doc_id")
    hit = truth.join(cand, ["id_a", "id_b"], "left_semi")
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    h = hit.agg(F.count(F.lit(1)).alias("n_hit"))
    c = cand.agg(F.count(F.lit(1)).alias("n_cand"))
    return (
        t.crossJoin(h)
        .crossJoin(c)
        .select(
            "n_truth",
            "n_cand",
            "n_hit",
            F.when(F.col("n_truth") == 0, F.lit(10000).cast("long"))
            .otherwise(F.expr("(n_hit * 10000) div n_truth"))
            .alias("recall_bp"),
        )
    )


def _dedup_lsh_recall_oracle_sql() -> str:
    return f"""
WITH {_duck_shingles_cte(3)},
{_duck_lsh_cand_cte()},
exact_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM h a JOIN h b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM exact_cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
),
truth AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE 2 * n_common >= (sa.n + sb.n - n_common)
),
counts AS (
  SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
         CAST((SELECT count(*) FROM cand) AS BIGINT) AS n_cand,
         CAST((SELECT count(*) FROM truth t
               WHERE EXISTS (SELECT 1 FROM cand c
                             WHERE c.id_a = t.id_a AND c.id_b = t.id_b))
              AS BIGINT) AS n_hit
)
SELECT n_truth, n_cand, n_hit,
       CASE WHEN n_truth = 0 THEN 10000
            ELSE (n_hit * 10000) // n_truth END AS recall_bp
FROM counts
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment pairs (|A∩B|/|A| per direction, in
    basis points, threshold 20%) — catches a doc EMBEDDED in a larger one
    where symmetric Jaccard stays low because the union is dominated by
    the big doc (Broder containment; the quote/concatenation case every
    corpus dedup eventually needs). Candidates via the inverted shingle
    index (verifier tier; the scale path feeds LSH candidates instead).
    Integer basis points on both sides of the comparison."""
    docs = _t(spark, sf_dir, "documents")
    return dd.containment_pairs(docs, "doc_id", "text", 3, 2000)


def _containment_oracle_sql() -> str:
    return f"""
WITH {_duck_shingles_cte(3)},
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM h a JOIN h b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common,
       (n_common * 10000) // sa.n AS cont_a_bp,
       (n_common * 10000) // sb.n AS cont_b_bp
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE (n_common * 10000) // sa.n >= 2000 OR (n_common * 10000) // sb.n >= 2000
"""


def docs_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL over the documents corpus (Lee et al.
    2022): cross-doc verbatim runs >= win+stride-1 = 59 chars are
    winnow-anchored, merged per doc, and EXCISED from every copy except
    the keeper (min doc_id per fingerprint) — ``docs_repeated_windows``
    detects, this one cleans. Emits the affected docs with the cleaned
    text's length + md5 digest (never raw text in the compare) and the
    removal audit. Winnow anchoring leaves < win+stride residual chars at
    each run edge by construction (the selected min-gram can sit up to a
    window into the run); the invariant test pins that every removed span
    still exists verbatim in a kept doc.

    Reference parity: the reference has no span-level dedup — this is
    extension-set canon (Lee et al. 2022 §4.1 ExactSubstr).
    """
    docs = _t(spark, sf_dir, "documents")
    out = dd.span_dedup(docs, "doc_id", "text", win=40, stride=20)
    return (
        out.filter(F.col("n_spans") > 0)
        .select(
            "doc_id",
            "n_spans",
            "removed_chars",
            F.length("clean_text").cast("long").alias("clean_len"),
            F.md5(F.col("clean_text")).alias("clean_digest"),
        )
        .orderBy("doc_id")
    )


_SPAN_DEDUP_SQL = """
WITH n AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
), h AS (
  SELECT doc_id,
         CASE WHEN len(t) >= 40
              THEN list_transform(range(1, len(t) - 38),
                   i -> CAST(('0x' || substr(md5(substr(t, i, 40)), 1, 8)) AS BIGINT))
              ELSE CAST([] AS BIGINT[]) END AS hs
  FROM n
), sel AS (
  SELECT doc_id,
         CASE WHEN len(hs) >= 20
              THEN list_transform(range(1, len(hs) - 18),
                   j -> {'win_hash': list_min(hs[j:j+19]),
                         'pos': j + list_position(hs[j:j+19], list_min(hs[j:j+19])) - 2})
              ELSE [] END AS fps
  FROM h
), fp AS (
  SELECT DISTINCT doc_id, u.win_hash AS win_hash, u.pos AS pos
  FROM sel, unnest(fps) AS s(u)
), dup AS (
  SELECT win_hash, min(doc_id) AS keeper
  FROM fp GROUP BY win_hash HAVING count(DISTINCT doc_id) >= 2
), cuts AS (
  SELECT DISTINCT f.doc_id, f.pos AS s, f.pos + 40 AS e
  FROM fp f JOIN dup d USING (win_hash)
  WHERE f.doc_id <> d.keeper
), isl AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (PARTITION BY doc_id ORDER BY s, e
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_i
  FROM cuts
), isl2 AS (
  SELECT doc_id, s, e,
         sum(new_i) OVER (PARTITION BY doc_id ORDER BY s, e) AS island
  FROM isl
), spans AS (
  SELECT doc_id, island, min(s) AS s, max(e) AS e
  FROM isl2 GROUP BY doc_id, island
), segs AS (
  SELECT doc_id, s, e,
         lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
  FROM spans
), heads AS (
  SELECT g.doc_id, g.s AS ord, substr(n.t, g.prev_e + 1, g.s - g.prev_e) AS piece
  FROM segs g JOIN n USING (doc_id)
), stats AS (
  SELECT doc_id, max(e) AS last_e,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s) AS BIGINT) AS removed_chars
  FROM spans GROUP BY doc_id
), tails AS (
  SELECT st.doc_id, len(n.t) AS ord,
         substr(n.t, st.last_e + 1, greatest(len(n.t) - st.last_e, 0)) AS piece
  FROM stats st JOIN n USING (doc_id)
), clean AS (
  SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text
  FROM (SELECT * FROM heads UNION ALL SELECT * FROM tails)
  GROUP BY doc_id
)
SELECT c.doc_id, st.n_spans, st.removed_chars,
       CAST(len(c.clean_text) AS BIGINT) AS clean_len,
       md5(c.clean_text) AS clean_digest
FROM clean c JOIN stats st USING (doc_id)
ORDER BY doc_id
"""


def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT incremental batch-vs-corpus dedup — the exactness tier of
    ``dedup_incremental_batch``'s LSH probe, served from the maintained
    PrefixIndex (r11): the existing corpus (doc_id % 10 != 0) is indexed
    once (frozen df order, committed prefix entries + arrays); the new
    batch's prefix entries rank under the frozen order and BROADCAST into
    the committed prefix table — candidates are (new x existing) only,
    the corpus side is never shuffled, and unlike banding the prefix
    filter is LOSSLESS: every true Jaccard >= 1/2 pair is returned. The
    oracle is the exhaustive (new x existing) inverted join, so a dropped
    true pair hash-fails."""
    from affinity_spark.operators.prefix_index import shared_prefix_index

    docs = _t(spark, sf_dir, "documents")
    arrs = dd.doc_shingle_arrays(docs, "doc_id", "text", 3)
    idx = shared_prefix_index(
        spark,
        arrs.filter(F.col("doc_id") % 10 != 0),
        corpus_key=os.path.abspath(sf_dir) + "#existing90",
        t_num=1,
        t_den=2,
    )
    return idx.probe(arrs.filter(F.col("doc_id") % 10 == 0))


def _dedup_incremental_exact_oracle_sql() -> str:
    return f"""
WITH {_duck_shingles_cte(3)},
cand AS (
  SELECT DISTINCT b.doc_id AS new_id, a.doc_id AS dup_of
  FROM h a JOIN h b ON a.shingle = b.shingle
  WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
),
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.new_id, c.dup_of, count(*) AS n_common
  FROM cand c
  JOIN h x ON x.doc_id = c.new_id
  JOIN h y ON y.doc_id = c.dup_of AND y.shingle = x.shingle
  GROUP BY c.new_id, c.dup_of
)
SELECT new_id, dup_of, n_common,
       (sa.n + sb.n - n_common) AS n_union
FROM common
JOIN sizes sa ON sa.doc_id = new_id
JOIN sizes sb ON sb.doc_id = dup_of
WHERE 2 * n_common >= (sa.n + sb.n - n_common)
"""


#: app-scoped incremental-cluster state (PrefixIndex + ClusterStore in a
#: tempdir; the returned frame reads the tables lazily — the _SSR/_KMV
#: contract: fingerprint-keyed, rmtree on eviction).
_CLUSTER_STATE: dict = {}


def dedup_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY MAINTAINED near-dup clusters — the dedup endgame as
    table truth (ClusterStore, the NINTH maintained family): documents
    arrive in four id-ordered batches; each batch's exact near-dup edges
    come from the maintained PrefixIndex (``probe``: new x corpus, the
    corpus never shuffled; ``ppjoin_pairs``: new x new), and the
    ClusterStore folds them in with a bounded-frontier union-find +
    partition-pruned relabel — connected components are never recomputed
    over the corpus. Every (a, b) pair is discovered exactly once (when
    b's batch arrives), so the final assignment equals one-shot CC over
    the full exact-Jaccard >= 1/2 pair graph — which is precisely what
    the DuckDB oracle replays (recursive-CTE components + singletons).
    Output: (doc_id, cluster_id, is_canonical), cluster_id = min member
    id."""
    import shutil
    from pyspark.sql import Window

    from affinity_spark.operators.cluster_store import ClusterStore
    from affinity_spark.operators.postings import _corpus_fingerprint
    from affinity_spark.operators.prefix_index import PrefixIndex

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    key = (spark.sparkContext.applicationId, f"csr:{sf_dir}")
    fp = _corpus_fingerprint(docs)
    cached = _CLUSTER_STATE.get(key)
    if cached is None or cached[0] != fp or not cached[2].exists():
        if cached is not None:
            shutil.rmtree(cached[1], ignore_errors=True)
        base = temp_root("affinity_csr_")
        pfx = PrefixIndex(spark, os.path.join(base, "pfx"))
        cs = ClusterStore(spark, os.path.join(base, "cs"))
        batched = docs.withColumn(
            "_b", F.ntile(4).over(Window.orderBy("doc_id"))
        ).persist()
        for i in range(1, 5):
            b = batched.filter(F.col("_b") == i).drop("_b")
            arrs = dd.doc_shingle_arrays(b, "doc_id", "text", 3)
            intra = dd.ppjoin_pairs(arrs, "doc_id", 1, 2).select(
                "id_a", "id_b"
            )
            if not pfx.exists():
                pfx.build(arrs)
                cs.build(b.select("doc_id"), intra)
            else:
                cross = pfx.probe(arrs).select(
                    F.col("dup_of").alias("id_a"),
                    F.col("new_id").alias("id_b"),
                )
                cs.admit(b.select("doc_id"), cross.unionByName(intra))
                pfx.admit(arrs)
        batched.unpersist()
        _CLUSTER_STATE[key] = (fp, base, cs)
    return _CLUSTER_STATE[key][2].assignments().select(
        "doc_id", "cluster_id", "is_canonical"
    )


def _dedup_incremental_clusters_oracle_sql() -> str:
    return f"""
WITH RECURSIVE {_duck_shingles_cte(3)},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM h a JOIN h b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM h GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN h x ON x.doc_id = c.id_a
  JOIN h y ON y.doc_id = c.id_b AND y.shingle = x.shingle
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE 2 * n_common >= (sa.n + sb.n - n_common)
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
verts AS (SELECT DISTINCT a AS v FROM edges),
walk AS (
  SELECT v, v AS r FROM verts
  UNION
  SELECT w.v, e.b AS r FROM walk w JOIN edges e ON e.a = w.r
),
comp AS (SELECT v AS doc_id, min(r) AS cid FROM walk GROUP BY v)
SELECT d.doc_id,
       CAST(coalesce(c.cid, d.doc_id) AS BIGINT) AS cluster_id,
       d.doc_id = coalesce(c.cid, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c USING (doc_id)
"""
