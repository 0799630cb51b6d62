"""Embedding similarity search family (brute/LSH/IVF/PQ/int8).

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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from affinity_spark.functions.vectors import cosine_of, dot, l2_norm0, sq_dist
from affinity_spark.operators import similarity as sim

from affinity_spark.registry._shared import _t


def emb_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 to the vec_id=0 query vector.

    Similarity emitted as floor(10000*cos) so the hash is float-free.
    """
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    scored = sim.knn_to_query(
        emb.filter(F.col("vec_id") != 0), query, 10, "vec_id", "embedding"
    )
    return scored.select(
        "vec_id", F.floor(F.col("cosine_raw") * 10000).cast("long").alias("cos_bp")
    )


_KNN_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> 0
)
SELECT vec_id, CAST(floor(cosine * 10000) AS BIGINT) AS cos_bp
FROM scored
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def emb_filtered_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: cosine top-10 to the vec_id=0 query among
    vectors satisfying a metadata predicate (label = 3) — the
    filtered-ANN problem real retrieval systems hit the moment vectors
    carry attributes (tenant, language, date). Strategy here is
    PRE-FILTER: the predicate is applied before scoring, so it reaches
    the parquet scan as a pushed filter and the distance work is
    filtered-set sized; at selective predicates this beats post-filtering
    a k'-oversized ANN result, and the same pre-filter composes with the
    IVF path by pruning cells first (`emb_ivf_search`). Scores in
    integer basis points (float-free hash)."""
    emb = _t(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == 0)
    scored = sim.knn_to_query(
        emb.filter((F.col("vec_id") != 0) & (F.col("label") == 3)),
        query,
        10,
        "vec_id",
        "embedding",
    )
    return scored.select(
        "vec_id", F.floor(F.col("cosine_raw") * 10000).cast("long").alias("cos_bp")
    )


_FILTERED_KNN_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cosine
  FROM embeddings e, q
  WHERE e.vec_id <> 0 AND e.label = 3
)
SELECT vec_id, CAST(floor(cosine * 10000) AS BIGINT) AS cos_bp
FROM scored
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def emb_cosine_pairs_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell pairwise similarity: pairs within label cell, cos >= 0.35
    (threshold sits just inside the regenerated corpus's within-cell cosine
    range, max ~0.47/0.51 at sf0.01/0.1, so the pair set is non-trivial)."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = sim.cosine_join_within(emb, "label", 0.35, "vec_id", "embedding")
    return pairs.select(
        "id_a", "id_b", F.floor(F.col("cosine") * 10000).cast("long").alias("cos_bp")
    )


_COSPAIR_SQL = """
WITH n AS (
  SELECT vec_id, label, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(floor(
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (a.nrm * b.nrm) * 10000) AS BIGINT) AS cos_bp
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
               i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / (a.nrm * b.nrm) >= 0.35
"""


def emb_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment (ANN scale path): nearest of 8 seed centroids
    (the 8 lowest-id vectors — SQL-reproducible codebook; the trained
    k-means variant lives in operators/ivf.py with its own tests)."""
    from affinity_spark.operators.ivf import assign

    emb = _t(spark, sf_dir, "embeddings")
    seeds = [
        [float(x) for x in r.embedding]
        for r in emb.select("vec_id", "embedding").orderBy("vec_id").limit(8).collect()
    ]
    return assign(emb, seeds).select("vec_id", "cell")


_IVF_SQL = """
WITH seeds AS (
  SELECT vec_id AS cell, embedding AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
dists AS (
  SELECT e.vec_id, s.cell,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
                  i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))
                     * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))))
           AS d
  FROM embeddings e CROSS JOIN seeds s
)
SELECT vec_id, CAST(cell AS INT) AS cell
FROM (
  SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
  FROM dists
) WHERE rn = 1
"""


_PQ_M, _PQ_K, _PQ_DIM = 4, 8, 64

# emb_incremental_search admit-probe memo: index instances (by unique build
# path) whose batch admit has been verified/performed this process
_INCR_ADMIT_DONE: set[str] = set()


def _pq_seed_books(emb) -> list[list[list[float]]]:
    """Seed codebooks: subvector slices of the 8 lowest-id vectors —
    SQL-reproducible, like the IVF seed cells (trained PQ lives in
    operators/pq.py with its own tests)."""
    d_sub = _PQ_DIM // _PQ_M
    rows = emb.select("vec_id", "embedding").orderBy("vec_id").limit(_PQ_K).collect()
    return [
        [[float(x) for x in r.embedding[s * d_sub : (s + 1) * d_sub]] for r in rows]
        for s in range(_PQ_M)
    ]


def _shared_emb_ivf(spark: SparkSession, emb: DataFrame, sf_dir: str):
    """ONE maintained IVF(-PQ) index per embeddings corpus per process:
    k=8 seed cells AND m=4 PQ codebooks (slices of the same seeds) under a
    single lineage, PQ codes stored as columns of the assigned table. The
    IVF queries never read the code columns (column pruning), the IVF-PQ
    query never reads raw vectors — one index, both serving shapes."""
    from affinity_spark.operators.ivf_index import shared_ivf

    return shared_ivf(
        spark, emb, f"embeddings_seed8:{sf_dir}", k=8, n_iter=0,
        pq_m=_PQ_M, pq_k=_PQ_K,
    )


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): 64-dim vectors
    compressed to 4 subspace codes against the seed codebooks — map-side
    argmin per subspace, zero shuffle (the memory-scale half of ANN;
    operators/ivf.py is the pruning half)."""
    from affinity_spark.operators.pq import assign_codes

    emb = _t(spark, sf_dir, "embeddings")
    return assign_codes(emb, _pq_seed_books(emb))


def _pq_dist_sql(s: int) -> str:
    d = _PQ_DIM // _PQ_M
    off = s * d
    return (
        f"list_sum(list_transform(range(1, {d + 1}), "
        f"i -> (CAST(e.embedding[{off} + i] AS DOUBLE) - CAST(s.sv[{off} + i] AS DOUBLE))"
        f" * (CAST(e.embedding[{off} + i] AS DOUBLE) - CAST(s.sv[{off} + i] AS DOUBLE))))"
    )


_PQ_SEEDS_CTE = f"""seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS idx, embedding AS sv
  FROM embeddings ORDER BY vec_id LIMIT {_PQ_K}
)"""


def _pq_code_ctes(where: str = "") -> str:
    """c0..c{m-1} CTEs: per-subspace argmin codes (ties -> lowest idx,
    matching array_position-first semantics)."""
    return ",\n".join(
        f"""c{s} AS (
  SELECT vec_id, CAST(idx AS INT) AS code_{s} FROM (
    SELECT e.vec_id, s.idx,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_pq_dist_sql(s)} ASC, s.idx ASC) AS rn
    FROM embeddings e CROSS JOIN seeds s {where}) WHERE rn = 1
)"""
        for s in range(_PQ_M)
    )


def _pq_codes_sql() -> str:
    joins = " ".join(f"JOIN c{s} USING (vec_id)" for s in range(1, _PQ_M))
    cols = ", ".join(f"code_{s}" for s in range(_PQ_M))
    return f"""
WITH {_PQ_SEEDS_CTE},
{_pq_code_ctes()}
SELECT vec_id, {cols} FROM c0 {joins}
"""


def emb_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-10 over PQ codes: the vec_id=0 query's per-subspace distance
    table is a literal array, each row costs 4 lookups — the scan touches
    codes (4 ints/row), never raw vectors. Distances in basis points so the
    hash is float-free."""
    from affinity_spark.operators.pq import adc_search, assign_codes

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_seed_books(emb)
    codes = assign_codes(emb.filter(F.col("vec_id") != 0), books)
    query = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    ]
    top = adc_search(codes, books, query, 10)
    return top.select(
        "vec_id", F.floor(F.col("adc_dist") * 10000).cast("long").alias("adc_bp")
    )


def _pq_search_sql() -> str:
    table_ctes = ",\n".join(
        f"""t{s} AS (
  SELECT s.idx, {_pq_dist_sql(s)} AS d
  FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) e CROSS JOIN seeds s
)"""
        for s in range(_PQ_M)
    )
    code_joins = " ".join(f"JOIN t{s} ON t{s}.idx = c{s}.code_{s}" for s in range(_PQ_M))
    cjoins = " ".join(f"JOIN c{s} USING (vec_id)" for s in range(1, _PQ_M))
    adc = " + ".join(f"t{s}.d" for s in range(_PQ_M))
    return f"""
WITH {_PQ_SEEDS_CTE},
{_pq_code_ctes("WHERE e.vec_id <> 0")},
{table_ctes}
SELECT c0.vec_id, CAST(floor(({adc}) * 10000) AS BIGINT) AS adc_bp
FROM c0 {cjoins} {code_joins}
ORDER BY ({adc}) ASC, c0.vec_id ASC
LIMIT 10
"""


def emb_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF ANN read, SERVED FROM THE MAINTAINED INDEX
    (operators/ivf_index.py): the 8-seed codebook and cell assignments are
    committed KeyedTables (built once per process via ``shared_ivf``,
    shared with ``emb_batch_search``); the probe reads ONLY the query's
    nprobe=2 nearest cells — ``cell`` is the index table's hive partition
    column, so the non-probed ~6/8 of the corpus is PartitionFilters-pruned
    off disk, the partition-pruned ANN read the SURVEY's similarity family
    targets (IVF per Jégou et al.).

    Query vector = embedding of vec_id 0 (excluded from candidates);
    similarity emitted as floor(10000*cos) so the hash is float-free.
    Index-served == derived equivalence pinned by tests/test_ivf_index.py.
    """
    from affinity_spark.operators.ivf_index import shared_ivf

    emb = _t(spark, sf_dir, "embeddings")
    idx = _shared_emb_ivf(spark, emb, sf_dir)
    query = idx.codebook()[0]  # cell 0's centroid == vec_id 0's embedding
    res = idx.search(
        query, 10, nprobe=2,
        candidates=idx.vectors().filter(F.col("vec_id") != 0),
    )
    return res.select(
        "vec_id",
        F.col("cell").cast("int").alias("cell"),
        F.floor(F.col("cosine") * 10000).cast("long").alias("cos_bp"),
    )


_IVF_SEARCH_SQL = """
WITH seeds AS (
  SELECT vec_id AS cell, embedding AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
probes AS (
  SELECT s.cell FROM seeds s, q
  ORDER BY list_sum(list_transform(range(1, len(s.cv) + 1),
             i -> (CAST(s.cv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
                * (CAST(s.cv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) ASC,
           s.cell ASC
  LIMIT 2
),
assigned AS (
  SELECT vec_id, cell, embedding FROM (
    SELECT e.vec_id, s.cell, e.embedding,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE)))) ASC,
             s.cell ASC) AS rn
    FROM embeddings e CROSS JOIN seeds s
    WHERE e.vec_id <> 0
  ) WHERE rn = 1
),
scored AS (
  SELECT a.vec_id, a.cell,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cosine
  FROM assigned a, q
  WHERE a.cell IN (SELECT cell FROM probes)
)
SELECT vec_id, CAST(cell AS INT) AS cell,
       CAST(floor(cosine * 10000) AS BIGINT) AS cos_bp
FROM scored
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def emb_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED IVF ANN read — many queries in one pass (the online-serving
    and hard-negative-mining shape; ``emb_ivf_search`` is the single-query
    probe). The 4 lowest-id vectors each probe their nprobe=2 nearest of
    the 8 seed cells; the exploded (query, cell) probe set broadcasts into
    ONE join against the assigned corpus (only probed cells scanned —
    partition-pruned at scale), and per-query top-5 rides a rank window
    (WindowGroupLimit, never a global sort). Similarity in floored basis
    points, rank long — float-free hash.

    Served from the SAME maintained IVFIndex as ``emb_ivf_search`` (one
    build per process, committed KeyedTables, cell = hive partition
    column, probed cells partition-pruned off disk)."""
    from affinity_spark.operators.ivf_index import shared_ivf

    emb = _t(spark, sf_dir, "embeddings")
    idx = _shared_emb_ivf(spark, emb, sf_dir)
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = idx.batch_search(qs, k=5, nprobe=2)
    return out.select(
        "qid",
        "vec_id",
        F.floor(F.col("cosine") * 10000).cast("long").alias("cos_bp"),
        F.col("rnk").cast("long").alias("rnk"),
    )


_BATCH_SEARCH_SQL = """
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 4),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.qid, s.cell,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             list_sum(list_transform(range(1, len(s.cv) + 1),
               i -> (CAST(s.cv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
                  * (CAST(s.cv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) ASC,
             s.cell ASC) AS rn
    FROM qs q CROSS JOIN seeds s
  ) WHERE rn <= 2
),
assigned AS (
  SELECT vec_id, cell, embedding FROM (
    SELECT e.vec_id, s.cell, e.embedding,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE)))) ASC,
             s.cell ASC) AS rn
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE rn = 1
),
scored AS (
  SELECT p.qid, a.vec_id,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cosine
  FROM assigned a
  JOIN probes p ON a.cell = p.cell
  JOIN qs q ON q.qid = p.qid
),
ranked AS (
  SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT qid, vec_id,
       CAST(floor(cosine * 10000) AS BIGINT) AS cos_bp,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked
WHERE rnk <= 5
"""


def emb_incremental_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest ANN (the dedup_incremental_batch analog): the
    maintained IVFIndex is BUILT on the standing corpus (vec_id % 10 != 0,
    8-seed codebook from ITS lowest ids), then the arriving batch
    (vec_id % 10 == 0) is ``admit()``-ed — assigned map-side against the
    existing codebook, merged into ONLY the touched cell partitions with
    every untouched cell hardlinked (IO ∝ batch, never ∝ index). The 4
    lowest-id batch vectors then query the now-complete index (nprobe=2,
    top-5 per query).

    This is the honest 100 TB serving shape: the standing corpus is never
    re-shuffled or re-scanned by ingest, and the probe reads nprobe/k of
    the index off disk (cell = hive partition column).

    Oracle: assignment is per-row map-side, so one-shot assignment of the
    full corpus against the SAME codebook produces the identical table —
    the SQL assigns all vectors to the base corpus's 8 seeds directly.
    """
    from affinity_spark.operators.ivf_index import shared_ivf

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    idx = shared_ivf(spark, base, f"embeddings_incr:{sf_dir}", k=8, n_iter=0)
    # admit once per process (admit is an idempotent merge, but skipping a
    # no-op pass keeps repeat invocations index-read-only); the emptiness
    # probe itself is a full index read, so its outcome is memoized per
    # index instance (idx.path is unique per build — a rebuilt/evicted
    # index gets a fresh probe)
    mkey = f"{spark.sparkContext.applicationId}:{idx.path}"
    if mkey not in _INCR_ADMIT_DONE:
        if idx.vectors().filter(F.col("vec_id") % 10 == 0).isEmpty():
            idx.admit(batch)
        _INCR_ADMIT_DONE.add(mkey)
    qs = batch.orderBy("vec_id").limit(4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = idx.batch_search(qs, k=5, nprobe=2)
    return out.select(
        "qid",
        "vec_id",
        F.floor(F.col("cosine") * 10000).cast("long").alias("cos_bp"),
        F.col("rnk").cast("long").alias("rnk"),
    )


_INCR_SEARCH_SQL = """
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cv
  FROM embeddings WHERE vec_id % 10 <> 0 ORDER BY vec_id LIMIT 8
),
qs AS (
  SELECT vec_id AS qid, embedding AS qv
  FROM embeddings WHERE vec_id % 10 = 0 ORDER BY vec_id LIMIT 4
),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.qid, s.cell,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             list_sum(list_transform(range(1, len(s.cv) + 1),
               i -> (CAST(s.cv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
                  * (CAST(s.cv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) ASC,
             s.cell ASC) AS rn
    FROM qs q CROSS JOIN seeds s
  ) WHERE rn <= 2
),
assigned AS (
  SELECT vec_id, cell, embedding FROM (
    SELECT e.vec_id, s.cell, e.embedding,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE)))) ASC,
             s.cell ASC) AS rn
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE rn = 1
),
scored AS (
  SELECT p.qid, a.vec_id,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cosine
  FROM assigned a
  JOIN probes p ON a.cell = p.cell
  JOIN qs q ON q.qid = p.qid
),
ranked AS (
  SELECT qid, vec_id, cosine,
         row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id ASC) AS rnk
  FROM scored
)
SELECT qid, vec_id,
       CAST(floor(cosine * 10000) AS BIGINT) AS cos_bp,
       CAST(rnk AS BIGINT) AS rnk
FROM ranked
WHERE rnk <= 5
"""


def emb_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment (ANN scale path): 8 sign
    bits against deterministic ±1 hyperplanes."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.lsh_hyperplane_buckets(emb, 64, 8).select("vec_id", "bucket")


def _lsh_bucket_expr() -> str:
    """DuckDB expression for the 8-bit hyperplane bucket of `embedding`
    (identical deterministic planes as the Spark side)."""
    return _lsh_bucket_expr_n(8)


def _lsh_oracle_sql() -> str:
    return (
        f"SELECT vec_id, CAST({_lsh_bucket_expr()} AS BIGINT) AS bucket "
        f"FROM embeddings"
    )


def emb_lsh_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end hyperplane-LSH ANN read: bucket every vector by 8 sign
    bits, probe ONLY the query's bucket, cosine top-10 inside it. At scale
    `bucket` is the partition/cluster column, so ~255/256 of the corpus is
    never scanned — the LSH twin of emb_ivf_search (nprobe=1; multi-probe =
    flipping low-confidence bits adds buckets, same plan shape).

    Query vector = vec_id 0's embedding (excluded from candidates);
    similarity emitted as floor(10000*cos) so the hash is float-free.
    Multi-probe: the query probes its own bucket plus the 8 one-bit flips
    (Lv et al. 2007) — 9/256 of the corpus scanned instead of 1/256, the
    standard recall/scan-fraction dial."""
    emb = _t(spark, sf_dir, "embeddings")
    bucketed = sim.lsh_hyperplane_buckets(emb, 64, 8)
    probes = F.array(*[F.lit(0)] + [F.lit(1 << j) for j in range(8)])
    q = (
        bucketed.filter(F.col("vec_id") == 0)
        .select(
            F.explode(probes).alias("flip"),
            F.col("bucket").alias("qb"),
            F.col("embedding").alias("qv"),
        )
        .select(
            (F.col("qb").bitwiseXOR(F.col("flip"))).alias("bucket"),
            F.col("qv"),
            l2_norm0(F.col("qv")).alias("_qnrm"),
        )
    )
    cands = (
        bucketed.filter(F.col("vec_id") != 0)
        .withColumn("_rnrm", l2_norm0(F.col("embedding")))
        .join(F.broadcast(q), "bucket")
    )
    scored = cands.select(
        "vec_id",
        cosine_of(dot(F.col("embedding"), F.col("qv")), "_rnrm", "_qnrm").alias("c"),
    )
    return (
        scored.orderBy(F.col("c").desc(), F.col("vec_id").asc())
        .limit(10)
        .select("vec_id", F.floor(F.col("c") * 10000).cast("long").alias("cos_bp"))
    )


def _lsh_search_oracle_sql() -> str:
    return f"""
WITH b AS (
  SELECT vec_id, embedding, CAST({_lsh_bucket_expr()} AS BIGINT) AS bucket
  FROM embeddings
),
q0 AS (SELECT bucket, embedding AS qv FROM b WHERE vec_id = 0),
q AS (
  SELECT xor(q0.bucket, f.flip) AS bucket, q0.qv
  FROM q0 CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8, 16, 32, 64, 128]) AS flip) f
),
scored AS (
  SELECT e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cosine
  FROM b e JOIN q ON e.bucket = q.bucket
  WHERE e.vec_id <> 0
)
SELECT vec_id, CAST(floor(cosine * 10000) AS BIGINT) AS cos_bp
FROM scored
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def emb_near_dup_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup dedup (SemDeDup, Abbas et al. 2023): within each
    IVF cell (label), a vector is dropped iff some lower-id vector in the
    cell has cosine >= 0.35 with it; survivors keep the corpus. Candidate
    pairs are cell-confined (Σ|cell|², never n²) and the drop set is one
    distinct + left-anti join."""
    from affinity_spark.operators.sampling import near_dup_survivors

    emb = _t(spark, sf_dir, "embeddings")
    pairs = sim.cosine_join_within(emb, "label", 0.35, "vec_id", "embedding")
    return near_dup_survivors(pairs, emb.select("vec_id", "label"))


_NEAR_DUP_SQL = """
WITH n AS (
  SELECT vec_id, label, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           AS nrm
  FROM embeddings
),
drops AS (
  SELECT DISTINCT b.vec_id
  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
                 i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (a.nrm * b.nrm) >= 0.35
)
SELECT e.vec_id, e.label
FROM embeddings e
WHERE NOT EXISTS (SELECT 1 FROM drops d WHERE d.vec_id = e.vec_id)
"""


def emb_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: each vector's most
    similar DIFFERENT-label neighbor among its 4-bit LSH bucket candidates —
    the negative the retrieval index would actually confuse it with.
    Candidates are bucket-confined (Σ|bucket|² cross-label pairs, never n²);
    the per-anchor argmax orders by integer (cos_bp DESC, id ASC) so ties
    resolve identically in any engine."""
    emb = _t(spark, sf_dir, "embeddings")
    buckets = sim.lsh_hyperplane_buckets(emb, 64, 4, keep_cols=["label"])
    return sim.hard_negatives(buckets, "bucket", "label")


def _lsh_bucket_expr_n(nbits: int) -> str:
    """DuckDB expression for the nbits-bit hyperplane bucket of `embedding`
    (same deterministic planes as the Spark side)."""
    planes = sim._hyperplanes(64, nbits)  # noqa: SLF001 - shared deterministic constants
    bits = []
    for j, plane in enumerate(planes):
        lit = "[" + ", ".join(f"{float(x):.1f}" for x in plane) + "]"
        bits.append(
            f"(CASE WHEN list_sum(list_transform(range(1, 65), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({lit}::DOUBLE[])[i])) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
        )
    # loud dim guard mirroring the Spark side: the planes are FIXED
    # 64-wide, so a regenerated corpus at another width must ERROR on
    # both engines, never bucket against a silent prefix (r12 verdict #5)
    return (
        "(CASE WHEN len(embedding) <> 64 THEN "
        "CAST(error('embedding dim <> 64: lsh planes are fixed 64-wide') AS BIGINT) "
        f"ELSE {' + '.join(bits)} END)"
    )


def _hard_neg_oracle_sql() -> str:
    return f"""
WITH n AS (
  SELECT vec_id, label, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
         {_lsh_bucket_expr_n(4)} AS bucket
  FROM embeddings
),
cand AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS id_b,
         CAST(floor(
           list_sum(list_transform(range(1, len(a.embedding)+1),
                    i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
           / (a.nrm * b.nrm) * 10000) AS BIGINT) AS cos_bp
  FROM n a JOIN n b ON a.bucket = b.bucket AND a.label <> b.label
  WHERE a.nrm > 0 AND b.nrm > 0  -- zero-norm vectors have no cosine; Spark side filters NULL cos_bp identically
)
SELECT vec_id, id_b AS hard_neg_id, cos_bp
FROM cand
QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cos_bp DESC, id_b ASC) = 1
"""


def emb_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@10 of single-probe LSH search versus
    exact brute-force, for 4 query vectors — the measurement that justifies
    (or rejects) an index's scan-fraction/recall trade before it ships.
    Output is integer (query_id, k_lsh, n_hits): k_lsh = LSH candidate
    top-k size (bucket may hold < 10), n_hits = overlap with the exact
    top-10. Both searches rank by (cosine DESC, vec_id ASC); both engines
    fold the dot product in the same order so ranks agree exactly.
    At scale the brute side runs on a SAMPLE of queries only — recall is a
    statistic, the full corpus never needs the exact search."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    bucketed = sim.lsh_hyperplane_buckets(emb, 64, 8)
    qs = bucketed.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        F.col("bucket").alias("qb"),
        F.col("embedding").alias("qv"),
        l2_norm0(F.col("embedding")).alias("_qnrm"),
    )
    cands = bucketed.filter(F.col("vec_id") >= 4).withColumn(
        "_rnrm", l2_norm0(F.col("embedding"))
    )
    scored = cands.crossJoin(F.broadcast(qs)).select(
        "qid",
        "vec_id",
        "bucket",
        "qb",
        cosine_of(dot(F.col("embedding"), F.col("qv")), "_rnrm", "_qnrm").alias("c"),
    )
    # Both top-10 sets are subsets of the SAME scored frame (unique
    # (qid, vec_id)) under the SAME total order, so the old
    # brute-branch/lsh-branch/join shape (3 corpus-scan subtrees + a
    # shuffle join) collapses to one pass: the brute rank is a
    # row_number, the LSH rank is the running count of bucket-matched
    # rows over the identical window order, and the top-10 intersection
    # is a conditional aggregate — one scan, one exchange.
    w = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("vec_id").asc())
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    in_b = F.col("bucket") == F.col("qb")
    flags = scored.select(
        "qid",
        in_b.alias("_in"),
        F.row_number().over(w).alias("_rb"),
        F.sum(F.when(in_b, 1).otherwise(0)).over(wcum).alias("_rl"),
    )
    lsh_member = F.col("_in") & (F.col("_rl") <= 10)
    agg = flags.groupBy("qid").agg(
        F.sum(F.when(lsh_member, 1).otherwise(0)).alias("k_lsh"),
        F.sum(
            F.when(lsh_member & (F.col("_rb") <= 10), 1).otherwise(0)
        ).alias("n_hits"),
    )
    return (
        qs.select("qid")
        .join(agg, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("k_lsh"), F.lit(0)).alias("k_lsh"),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        )
    )


def _lsh_recall_oracle_sql() -> str:
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
         {_lsh_bucket_expr_n(8)} AS bucket
  FROM embeddings
),
q AS (SELECT vec_id AS qid, bucket AS qb, embedding AS qv, nrm AS qn
      FROM b WHERE vec_id < 4),
scored AS (
  SELECT q.qid, b.vec_id, b.bucket, q.qb,
         list_sum(list_transform(range(1, len(b.embedding)+1),
                  i -> CAST(b.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
           / (b.nrm * q.qn) AS c
  FROM b CROSS JOIN q WHERE b.vec_id >= 4
),
brute AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= 10
),
lsht AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC) AS rn
    FROM scored WHERE bucket = qb) WHERE rn <= 10
),
k AS (SELECT qid, CAST(count(*) AS BIGINT) AS k_lsh FROM lsht GROUP BY qid),
h AS (SELECT brute.qid, CAST(count(*) AS BIGINT) AS n_hits
      FROM brute JOIN lsht ON brute.qid = lsht.qid AND brute.vec_id = lsht.vec_id
      GROUP BY brute.qid)
SELECT q.qid AS query_id,
       COALESCE(k.k_lsh, 0) AS k_lsh,
       COALESCE(h.n_hits, 0) AS n_hits
FROM q LEFT JOIN k ON q.qid = k.qid LEFT JOIN h ON q.qid = h.qid
"""


def emb_bitq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the RAW 1-bit hamming ranking (no rerank) versus the
    exact cosine top-10, for 4 query vectors — isolates what the sign-bit
    quantizer alone keeps, the evidence that sizes ``emb_bitq_search``'s
    coarse candidate budget (rerank can only recover what coarse
    retains). Same recall-family discipline: query sample pays the exact
    search, one scored pass computes both measures, two rank windows,
    integer (query_id, n_hits)."""
    from pyspark.sql import Window

    from affinity_spark.functions.vectors import hamming_words, sign_bit_words

    emb = _t(spark, sf_dir, "embeddings")
    coded = emb.select(
        "vec_id", "embedding", sign_bit_words(F.col("embedding"), _PQ_DIM).alias("code")
    )
    qs = coded.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("code").alias("qc"),
        l2_norm0(F.col("embedding")).alias("_qnrm"),
    )
    scored = (
        coded.filter(F.col("vec_id") >= 4)
        .withColumn("_rnrm", l2_norm0(F.col("embedding")))
        .crossJoin(F.broadcast(qs))
        .select(
            "qid",
            "vec_id",
            cosine_of(dot(F.col("embedding"), F.col("qv")), "_rnrm", "_qnrm").alias("c"),
            hamming_words(F.col("code"), F.col("qc")).alias("h"),
        )
    )
    # Both top-10 sets come from the SAME scored frame (unique
    # (qid, vec_id)), so the intersection join is just rows whose two rank
    # columns are both <= 10 — one scan and one exchange (two sorts)
    # instead of two corpus-scan branches plus a shuffle join.
    wc = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("vec_id").asc())
    wh = Window.partitionBy("qid").orderBy(F.col("h").asc(), F.col("vec_id").asc())
    hits = (
        scored.select(
            "qid",
            F.row_number().over(wc).alias("_rc"),
            F.row_number().over(wh).alias("_rh"),
        )
        .filter((F.col("_rc") <= 10) & (F.col("_rh") <= 10))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )


_BITQ_RECALL_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 4),
scored AS (
  SELECT q.qid, e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS c,
         CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> CASE WHEN (CAST(e.embedding[i] AS DOUBLE) >= 0)
                          <> (CAST(q.qv[i] AS DOUBLE) >= 0)
                   THEN 1 ELSE 0 END)) AS BIGINT) AS h
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id >= 4
),
etop AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= 10
),
htop AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY h ASC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= 10
),
hh AS (SELECT etop.qid, CAST(count(*) AS BIGINT) AS n_hits
       FROM etop JOIN htop ON etop.qid = htop.qid AND etop.vec_id = htop.vec_id
       GROUP BY etop.qid)
SELECT q.qid AS query_id, COALESCE(hh.n_hits, 0) AS n_hits
FROM q LEFT JOIN hh ON q.qid = hh.qid
"""


def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation recall: recall@10 of searching on only the
    FIRST 16 of 64 dimensions versus the full-dimension exact top-10, for
    4 query vectors — the in-band measurement behind MRL-style dimension
    truncation (Kusupati et al. 2022): serve a 4× cheaper prefix scan if
    and only if the measured recall supports it. Same evaluation
    discipline as the lsh/srp/ivf/ivfpq recall rows: a query SAMPLE pays
    the exact search, never the corpus; one scored pass computes both
    cosines (shared broadcast of the query rows), two ≤k rank windows,
    integer (query_id, n_hits) output."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.slice(F.col("embedding"), 1, 16).alias("_qv16"),
        l2_norm0(F.col("embedding")).alias("_qnrm"),
        l2_norm0(F.slice(F.col("embedding"), 1, 16)).alias("_qnrm16"),
    )
    scored = (
        emb.filter(F.col("vec_id") >= 4)
        .withColumn("_v16", F.slice(F.col("embedding"), 1, 16))
        .withColumn("_rnrm", l2_norm0(F.col("embedding")))
        .withColumn("_rnrm16", l2_norm0(F.col("_v16")))
        .crossJoin(F.broadcast(qs))
        .select(
            "qid",
            "vec_id",
            cosine_of(dot(F.col("embedding"), F.col("qv")), "_rnrm", "_qnrm").alias("c"),
            cosine_of(dot(F.col("_v16"), F.col("_qv16")), "_rnrm16", "_qnrm16").alias("ct"),
        )
    )
    # Same single-pass shape as emb_bitq_recall: both top-10 sets come
    # from the SAME scored frame, so the intersection is rows with both
    # rank columns <= 10 — one scan, one exchange, no shuffle join.
    wf = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("vec_id").asc())
    wt = Window.partitionBy("qid").orderBy(F.col("ct").desc(), F.col("vec_id").asc())
    hits = (
        scored.select(
            "qid",
            F.row_number().over(wf).alias("_rf"),
            F.row_number().over(wt).alias("_rt"),
        )
        .filter((F.col("_rf") <= 10) & (F.col("_rt") <= 10))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )


_MATRYOSHKA_RECALL_SQL = """
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 4),
scored AS (
  SELECT q.qid, e.vec_id,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS c,
         list_sum(list_transform(range(1, 17),
                  i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding[1:16], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv[1:16], x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS ct
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id >= 4
),
ftop AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= 10
),
ttop AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY ct DESC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= 10
),
h AS (SELECT ftop.qid, CAST(count(*) AS BIGINT) AS n_hits
      FROM ftop JOIN ttop ON ftop.qid = ttop.qid AND ftop.vec_id = ttop.vec_id
      GROUP BY ftop.qid)
SELECT q.qid AS query_id, COALESCE(h.n_hits, 0) AS n_hits
FROM q LEFT JOIN h ON q.qid = h.qid
"""


def emb_srp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection dim reduction (64→16, Achlioptas-style ±1
    JL transform) evaluated by the repo's recall discipline: recall@10 of
    brute-force search IN THE PROJECTED SPACE versus exact full-space
    search, for 4 query vectors. The 100 TB value is the 4× cheaper scan
    (16 int64 dims vs 64 floats) plus exactness: projections are integer
    fixed-point, so the projected ranking is engine- and partitioning-
    deterministic while true-cosine ranks by the same double fold both
    engines share. Projection itself is map-side (zero shuffle); the
    sign matrix is md5-derived so DuckDB regenerates it independently.

    Measured finding this eval exists to surface: on THIS corpus recall@10
    is chance-level and does not improve with p (p=16/32/48 → 8/6/10 hits
    of 40 at sf0.01) because the synthetic embeddings are near-uniform —
    every candidate's cosine sits in one tight band, so top-10 rank gaps
    are below any JL distortion. On clustered data the same transform
    separates structure cleanly (unit-tested); shipping a compressed index
    without running this eval is how that difference gets missed."""
    from pyspark.sql import Window

    from affinity_spark.functions.vectors import dot_int, srp_project, srp_signs

    emb = _t(spark, sf_dir, "embeddings")
    signs = srp_signs(64, 16)
    proj = emb.select(
        "vec_id",
        "embedding",
        srp_project(F.col("embedding"), signs).alias("y"),
    ).withColumn("ny", dot_int(F.col("y"), F.col("y")))
    qs = proj.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qv"),
        F.col("y").alias("qy"),
        F.col("ny").alias("qny"),
        l2_norm0(F.col("embedding")).alias("_qnrm"),
    )
    cands = proj.filter(F.col("vec_id") >= 4).withColumn(
        "_rnrm", l2_norm0(F.col("embedding"))
    )
    scored = cands.crossJoin(F.broadcast(qs)).select(
        "qid",
        "vec_id",
        cosine_of(dot(F.col("embedding"), F.col("qv")), "_rnrm", "_qnrm").alias("ct"),
        cosine_of(
            dot_int(F.col("y"), F.col("qy")).cast("double"),
            F.sqrt(F.col("ny").cast("double")),
            F.sqrt(F.col("qny").cast("double")),
        ).alias("cp"),
    )
    # Same single-pass shape as emb_bitq_recall: both top-10 sets come
    # from the SAME scored frame, so the intersection is rows with both
    # rank columns <= 10 — one scan, one exchange, no shuffle join.
    w_true = Window.partitionBy("qid").orderBy(
        F.col("ct").desc(), F.col("vec_id").asc()
    )
    w_proj = Window.partitionBy("qid").orderBy(
        F.col("cp").desc(), F.col("vec_id").asc()
    )
    hits = (
        scored.select(
            "qid",
            F.row_number().over(w_true).alias("_rt"),
            F.row_number().over(w_proj).alias("_rp"),
        )
        .filter((F.col("_rt") <= 10) & (F.col("_rp") <= 10))
        .groupBy("qid")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        qs.select("qid")
        .join(hits, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )


_SRP_RECALL_SQL = """
WITH srows AS (
  SELECT j, list_transform(range(0, 64),
           i -> CASE WHEN CAST(('0x' || substr(md5(i || ',' || j), 1, 1)) AS INT)
                          % 2 = 0 THEN 1 ELSE -1 END) AS srow
  FROM range(0, 16) t(j)
),
S AS (SELECT list(srow ORDER BY j) AS m FROM srows),
base AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
         list_transform(embedding,
              x -> CAST(floor(CAST(x AS DOUBLE) * 1048576 + 0.5) AS BIGINT)) AS q
  FROM embeddings
),
proj AS (
  SELECT vec_id, embedding, nrm,
         CASE WHEN len(q) <> 64 THEN
           CAST(error('embedding dim <> 64: SRP sign matrix is fixed 64-wide') AS BIGINT[])
         ELSE list_transform(S.m, srow ->
           CAST(list_sum(list_transform(range(1, 65),
                i -> srow[i] * q[i])) AS BIGINT)) END AS y
  FROM base, S
),
proj2 AS (
  SELECT vec_id, embedding, nrm, y,
         CAST(list_sum(list_transform(y, v -> v * v)) AS BIGINT) AS ny
  FROM proj
),
qv AS (SELECT vec_id AS qid, embedding AS qvec, nrm AS qn, y AS qy, ny AS qny
       FROM proj2 WHERE vec_id < 4),
scored AS (
  SELECT qv.qid, p.vec_id,
         list_sum(list_transform(range(1, len(p.embedding)+1),
              i -> CAST(p.embedding[i] AS DOUBLE) * CAST(qv.qvec[i] AS DOUBLE)))
           / (p.nrm * qv.qn) AS ct,
         CASE WHEN p.ny = 0 OR qv.qny = 0 THEN NULL
              ELSE CAST(list_sum(list_transform(range(1, 17),
                        i -> p.y[i] * qv.qy[i])) AS BIGINT)
                   / (sqrt(CAST(p.ny AS DOUBLE)) * sqrt(CAST(qv.qny AS DOUBLE)))
         END AS cp
  FROM proj2 p CROSS JOIN qv WHERE p.vec_id >= 4
),
brute AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY ct DESC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= 10
),
srpt AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY cp DESC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= 10
),
h AS (SELECT brute.qid, CAST(count(*) AS BIGINT) AS n_hits
      FROM brute JOIN srpt ON brute.qid = srpt.qid AND brute.vec_id = srpt.vec_id
      GROUP BY brute.qid)
SELECT qv.qid AS query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
FROM qv LEFT JOIN h ON qv.qid = h.qid
"""


def emb_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN read SERVED FROM THE MAINTAINED INDEX (the canonical
    billion-scale shape, Jégou et al. 2011): the shared IVFIndex stores
    each vector's 4 PQ subspace codes AS COLUMNS of the cell-partitioned
    assigned table — admitted/retrained under the same lineage as the
    cells — so this read probes the query's nprobe=2 nearest cells
    (PartitionFilters-pruned off disk) and ranks them by asymmetric
    distance over the code columns alone: no raw vector is read anywhere
    (ReadSchema excludes `embedding`; plan-pinned by
    tests/test_ivf_index.py). Same maintained-index contract as
    emb_ivf_search/emb_batch_search (reference pattern: X1,
    core/src/main/scala/io/amient/affinity/core/state/KVStoreLocal.scala:195-248);
    distances in basis points."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _shared_emb_ivf(spark, emb, sf_dir)
    query = idx.codebook()[0]  # vec_id 0's embedding, excluded below
    top = idx.adc_search(
        query, 10, nprobe=2,
        candidates=idx.codes().filter(F.col("vec_id") != 0),
    )
    return top.select(
        "vec_id", F.floor(F.col("adc_dist") * 10000).cast("long").alias("adc_bp")
    )


def _ivfpq_search_sql() -> str:
    dist = (
        "list_sum(list_transform(range(1, len(e.embedding)+1), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))"
        " * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))))"
    )
    qdist = dist.replace("e.embedding", "q.embedding")
    table_ctes = ",\n".join(
        f"""t{s} AS (
  SELECT s.idx, {_pq_dist_sql(s)} AS d
  FROM (SELECT embedding FROM embeddings WHERE vec_id = 0) e CROSS JOIN seeds s
)"""
        for s in range(_PQ_M)
    )
    code_joins = " ".join(f"JOIN t{s} ON t{s}.idx = c{s}.code_{s}" for s in range(_PQ_M))
    cjoins = " ".join(f"JOIN c{s} USING (vec_id)" for s in range(1, _PQ_M))
    adc = " + ".join(f"t{s}.d" for s in range(_PQ_M))
    return f"""
WITH ivfseeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
{_PQ_SEEDS_CTE},
qcells AS (
  SELECT cell FROM (
    SELECT s.cell, row_number() OVER (ORDER BY {qdist} ASC, s.cell ASC) AS rn
    FROM ivfseeds s CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  ) WHERE rn <= 2
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist} ASC, s.cell ASC) AS rn
    FROM embeddings e CROSS JOIN ivfseeds s WHERE e.vec_id <> 0
  ) WHERE rn = 1
),
cand AS (SELECT vec_id FROM assigned WHERE cell IN (SELECT cell FROM qcells)),
{_pq_code_ctes("JOIN cand ON cand.vec_id = e.vec_id")},
{table_ctes}
SELECT c0.vec_id, CAST(floor(({adc}) * 10000) AS BIGINT) AS adc_bp
FROM c0 {cjoins} {code_joins}
ORDER BY ({adc}) ASC, c0.vec_id ASC
LIMIT 10
"""


def emb_pq_batch_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched index-served IVF-PQ — the hard-negative-mining / online-
    serving shape over CODES: the 4 lowest-id vectors each probe their
    nprobe=2 nearest cells, per-query ADC distance tables ride the
    broadcast probe set, and ONE join against the maintained index's code
    columns scores every (query, candidate) in the probed cells — no raw
    vector read anywhere, per-query top-5 via a rank window (completes
    the serving matrix: single/batch x IVF/IVF-PQ, all four index-served
    from the same maintained tables). Distances in floored basis points,
    rank long — float-free hash."""
    emb = _t(spark, sf_dir, "embeddings")
    idx = _shared_emb_ivf(spark, emb, sf_dir)
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    out = idx.adc_batch_search(qs, k=5, nprobe=2)
    return out.select(
        "qid",
        "vec_id",
        F.floor(F.col("adc_dist") * 10000).cast("long").alias("adc_bp"),
        F.col("rnk").cast("long").alias("rnk"),
    )


def _pq_batch_core() -> str:
    """Shared CTE block: qv (4 lowest-id queries), IVF probes, assigned
    cells, per-query ADC tables, and the `adc` relation (qid, vec_id, d)
    over the probed cells — reused by the batch-search and recall
    oracles."""
    dist = (
        "list_sum(list_transform(range(1, len(e.embedding)+1), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))"
        " * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))))"
    )
    qdist = dist.replace("e.embedding", "qv.qvec")
    table_ctes = ",\n".join(
        f"""t{s} AS (
  SELECT qv.qid, s.idx, {_pq_dist_sql(s).replace("e.embedding", "qv.qvec")} AS d
  FROM qv CROSS JOIN seeds s
)"""
        for s in range(_PQ_M)
    )
    code_joins = " ".join(
        f"JOIN c{s} ON c{s}.vec_id = cand.vec_id "
        f"JOIN t{s} ON t{s}.qid = cand.qid AND t{s}.idx = c{s}.code_{s}"
        for s in range(_PQ_M)
    )
    adc = " + ".join(f"t{s}.d" for s in range(_PQ_M))
    return f"""ivfseeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
{_PQ_SEEDS_CTE},
{_pq_code_ctes()},
qv AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 4),
probes AS (
  SELECT qid, cell FROM (
    SELECT qv.qid, s.cell,
           row_number() OVER (PARTITION BY qv.qid
                              ORDER BY {qdist} ASC, s.cell ASC) AS rn
    FROM ivfseeds s CROSS JOIN qv
  ) WHERE rn <= 2
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {dist} ASC, s.cell ASC) AS rn
    FROM embeddings e CROSS JOIN ivfseeds s
  ) WHERE rn = 1
),
{table_ctes},
cand AS (
  SELECT p.qid, a.vec_id FROM assigned a JOIN probes p ON a.cell = p.cell
),
adc AS (
  SELECT cand.qid, cand.vec_id, {adc} AS d
  FROM cand {code_joins}
)"""


def _pq_batch_search_sql() -> str:
    return f"""
WITH {_pq_batch_core()}
SELECT qid, vec_id, CAST(floor(d * 10000) AS BIGINT) AS adc_bp,
       CAST(rn AS BIGINT) AS rnk
FROM (
  SELECT qid, vec_id, d,
         row_number() OVER (PARTITION BY qid ORDER BY d ASC, vec_id ASC) AS rn
  FROM adc
) WHERE rn <= 5
"""


def emb_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the index-served IVF-PQ ADC read vs exact L2 brute
    force — the in-band quality measurement for the codes-in-the-index
    serving path (the emb_ivf_recall discipline applied to ADC): for the
    4 lowest-id query vectors, how many of the true 10 nearest (exact
    squared L2 over ALL vectors) does the nprobe=2 code-only probe
    return? Quantifies BOTH approximation losses at once (cell pruning +
    PQ quantization). Integer (query_id, n_hits) rows."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    idx = _shared_emb_ivf(spark, emb, sf_dir)
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    approx = idx.adc_batch_search(qs, 10, nprobe=2).select("qid", "vec_id")

    scored = emb.crossJoin(F.broadcast(qs)).select(
        "qid",
        "vec_id",
        sq_dist(
            F.col("embedding").cast("array<double>"),
            F.col("qvec").cast("array<double>"),
        ).alias("d"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("d").asc(), F.col("vec_id").asc())
    brute = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    hits = approx.join(brute, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_hits")
    )
    return qs.select(F.col("qid").alias("query_id")).join(
        hits.withColumnRenamed("qid", "query_id"), "query_id", "left"
    ).select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
    )


def _ivfpq_recall_sql() -> str:
    l2 = (
        "list_sum(list_transform(range(1, len(e.embedding)+1), "
        "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(qv.qvec[i] AS DOUBLE))"
        " * (CAST(e.embedding[i] AS DOUBLE) - CAST(qv.qvec[i] AS DOUBLE))))"
    )
    return f"""
WITH {_pq_batch_core()},
approx AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY d ASC, vec_id ASC) AS rn
    FROM adc
  ) WHERE rn <= 10
),
brute AS (
  SELECT qid, vec_id FROM (
    SELECT qv.qid, e.vec_id,
           row_number() OVER (PARTITION BY qv.qid
                              ORDER BY {l2} ASC, e.vec_id ASC) AS rn
    FROM embeddings e CROSS JOIN qv
  ) WHERE rn <= 10
),
h AS (
  SELECT approx.qid, CAST(count(*) AS BIGINT) AS n_hits
  FROM approx JOIN brute ON approx.qid = brute.qid AND approx.vec_id = brute.vec_id
  GROUP BY approx.qid
)
SELECT qv.qid AS query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
FROM qv LEFT JOIN h ON qv.qid = h.qid
"""


def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension scalar int8 quantization
    (``similarity.scalar_quantize_int8``) — the 4x compressor vector
    deployments apply before or instead of PQ — digested per vector:
    md5 of the dim-ordered code string, code sum, and total integer
    reconstruction error. Fixed-point micros + non-negative integer
    division everywhere, so the oracle reproduces codes bit-for-bit.

    Scale shape: one posexplode, a 64-row range broadcast, map-side
    codes, one groupBy(vec) digest aggregate."""
    emb = _t(spark, sf_dir, "embeddings")
    q = sim.scalar_quantize_int8(emb)
    ordered = F.array_sort(F.collect_list(F.struct("dim", "code")))
    return q.groupBy("vec_id").agg(
        F.md5(
            F.array_join(
                F.transform(ordered, lambda s: s["code"].cast("string")), ","
            )
        ).alias("codes_md5"),
        F.sum("code").alias("code_sum"),
        F.sum("abs_err").alias("sum_abs_err"),
    )


_INT8_QUANT_SQL = """
WITH vals AS (
  SELECT vec_id, i AS dim,
         CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) * 1000000) AS BIGINT) AS vi
  FROM embeddings, LATERAL unnest(range(0, len(embedding))) AS u(i)
),
ranges AS (SELECT dim, min(vi) AS mn, max(vi) AS mx FROM vals GROUP BY dim),
q AS (
  SELECT vec_id, v.dim, vi,
         CASE WHEN mx > mn THEN ((vi - mn) * 255) // (mx - mn) ELSE 0 END AS code,
         mn, mx
  FROM vals v JOIN ranges r ON v.dim = r.dim
),
e AS (
  SELECT vec_id, dim, code,
         abs(vi - (mn + (code * (mx - mn)) // 255)) AS abs_err
  FROM q
)
SELECT vec_id,
       md5(string_agg(CAST(code AS VARCHAR), ',' ORDER BY dim)) AS codes_md5,
       CAST(sum(code) AS BIGINT) AS code_sum,
       CAST(sum(abs_err) AS BIGINT) AS sum_abs_err
FROM e GROUP BY vec_id
"""


def emb_bitq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantization ANN: 1-bit sign codes + hamming coarse scan +
    exact cosine rerank — the third compression tier of the quantization
    family (int8 = 4×, PQ = 32× lossy-trained, sign bits = 32× training-free).

    Shape: ``sign_bit_words`` packs each vector's sign pattern into two
    int64 words MAP-SIDE (the code column a vector store would commit
    beside the raw vectors — at 100 TB the coarse scan reads 8 bytes/vec
    instead of 256 and stays XOR+popcount inside codegen); the query's
    code broadcasts; coarse top-50 by (hamming, vec_id) is one
    TakeOrderedAndProject; ONLY those 50 rows pay the exact float
    cosine for the top-10 rerank. Output keeps the coarse rank evidence
    (hamming) beside the reranked score, basis-point integer hash."""
    from affinity_spark.functions.vectors import hamming_words, sign_bit_words

    emb = _t(spark, sf_dir, "embeddings")
    coded = emb.select(
        "vec_id",
        "embedding",
        sign_bit_words(F.col("embedding"), _PQ_DIM).alias("code"),
    )
    q = F.broadcast(
        coded.filter(F.col("vec_id") == 0).select(
            F.col("code").alias("_qcode"), F.col("embedding").alias("_qvec")
        )
    )
    coarse = (
        coded.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select(
            "vec_id",
            "embedding",
            "_qvec",
            hamming_words(F.col("code"), F.col("_qcode")).alias("hamming"),
        )
        .orderBy("hamming", "vec_id")
        .limit(50)
    )
    return (
        coarse.withColumn("_rnrm", l2_norm0(F.col("embedding")))
        .withColumn("_qnrm", l2_norm0(F.col("_qvec")))
        .select(
            "vec_id",
            "hamming",
            cosine_of(dot(F.col("embedding"), F.col("_qvec")), "_rnrm", "_qnrm").alias("_cos"),
        )
        .orderBy(F.col("_cos").desc(), "vec_id")
        .limit(10)
        .select(
            "vec_id",
            F.floor(F.col("_cos") * 10000).cast("long").alias("cos_bp"),
            "hamming",
        )
    )


_BITQ_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
h AS (
  SELECT e.vec_id, e.embedding,
         CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
              i -> CASE WHEN (CAST(e.embedding[i] AS DOUBLE) >= 0)
                          <> (CAST(q.qv[i] AS DOUBLE) >= 0)
                   THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
  FROM embeddings e, q
  WHERE e.vec_id <> 0
),
coarse AS (SELECT vec_id, embedding, hamming FROM h ORDER BY hamming, vec_id LIMIT 50),
scored AS (
  SELECT c.vec_id, c.hamming,
         list_sum(list_transform(range(1, len(c.embedding) + 1),
                  i -> CAST(c.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS cosine
  FROM coarse c, q
)
SELECT vec_id, CAST(floor(cosine * 10000) AS BIGINT) AS cos_bp, hamming
FROM scored
ORDER BY cosine DESC, vec_id ASC
LIMIT 10
"""


def emb_diverse_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced diversity sampling (the DCLM/DiverseEvol-style
    selection move): an even quota of vectors from EVERY embedding-space
    cell, so the sample spans the distribution instead of mirroring its
    density. Served from the maintained IVFIndex (same shared build as
    emb_ivf_search): per cell, keep the 5 deterministically-first members
    (md5-hash order, vec_id tie-break — the repo's engine-stable sampling
    rule). Per-cell top-k rides a rank window (WindowGroupLimit: per-
    partition heads over the cell-partitioned table — no global sort, and
    at scale each cell is one partition dir)."""
    from pyspark.sql import Window

    from affinity_spark.operators.ivf_index import shared_ivf
    from affinity_spark.operators.sampling import hash_bucket

    emb = _t(spark, sf_dir, "embeddings")
    idx = _shared_emb_ivf(spark, emb, sf_dir)
    w = Window.partitionBy("cell").orderBy(
        hash_bucket(F.col("vec_id"), 1 << 31).asc(), F.col("vec_id").asc()
    )
    return (
        idx.vectors()
        .select("vec_id", F.col("cell").cast("int").alias("cell"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
    )


_DIVERSE_SAMPLE_SQL = """
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, s.cell,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE)))) ASC,
             s.cell ASC) AS rn
    FROM embeddings e CROSS JOIN seeds s
  ) WHERE rn = 1
),
ranked AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY cell ORDER BY
           CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
             % 2147483648 ASC,
           vec_id ASC) AS rnk
  FROM assigned
)
SELECT vec_id, CAST(cell AS INT) AS cell, CAST(rnk AS BIGINT) AS rnk
FROM ranked WHERE rnk <= 5
"""


def emb_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation for the MAINTAINED IVF INDEX: recall@10 of
    the nprobe=2 cell-pruned search versus exact brute force, for 4 query
    vectors — the in-band measurement that justifies (or rejects) the
    index's scan-fraction/recall trade, exactly as ``emb_lsh_recall`` does
    for the hyperplane index. Output is integer (qid, k_ivf, n_hits):
    k_ivf = probed-cells candidate top-k size, n_hits = overlap with the
    exact top-10. Both searches rank (cosine DESC, vec_id ASC) with the
    same fold order, so ranks agree across engines. At scale the brute
    side runs on a query SAMPLE only — recall is a statistic."""
    from pyspark.sql import Window

    from affinity_spark.operators.ivf import batch_search
    from affinity_spark.operators.ivf_index import shared_ivf

    emb = _t(spark, sf_dir, "embeddings")
    idx = _shared_emb_ivf(spark, emb, sf_dir)
    cands = idx.vectors().filter(F.col("vec_id") >= 4)
    qs = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    ivf_top = batch_search(cands, idx.codebook(), qs, k=10, nprobe=2).select(
        "qid", "vec_id"
    )
    scored = (
        cands.withColumn("_rnrm", l2_norm0(F.col("embedding")))
        .crossJoin(
            F.broadcast(
                qs.withColumn("_qnrm", l2_norm0(F.col("qvec")))
            )
        )
        .select(
            "qid",
            "vec_id",
            cosine_of(dot(F.col("embedding"), F.col("qvec")), "_rnrm", "_qnrm").alias("c"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("vec_id").asc())
    brute_top = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .select("qid", "vec_id")
    )
    k_ivf = ivf_top.groupBy("qid").agg(F.count("*").cast("long").alias("k_ivf"))
    hits = (
        brute_top.join(ivf_top, ["qid", "vec_id"], "inner")
        .groupBy("qid")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return (
        k_ivf.join(hits, "qid", "left")
        .select(
            "qid",
            "k_ivf",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        )
    )


_IVF_RECALL_SQL = """
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cv
  FROM embeddings ORDER BY vec_id LIMIT 8
),
qs AS (
  SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 4
),
assigned AS (
  SELECT vec_id, cell, embedding FROM (
    SELECT e.vec_id, s.cell, e.embedding,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             list_sum(list_transform(range(1, len(e.embedding) + 1),
               i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))
                  * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE)))) ASC,
             s.cell ASC) AS rn
    FROM embeddings e CROSS JOIN seeds s
    WHERE e.vec_id >= 4
  ) WHERE rn = 1
),
probes AS (
  SELECT qid, cell FROM (
    SELECT q.qid, s.cell,
           row_number() OVER (PARTITION BY q.qid ORDER BY
             list_sum(list_transform(range(1, len(s.cv) + 1),
               i -> (CAST(s.cv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
                  * (CAST(s.cv[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))) ASC,
             s.cell ASC) AS rn
    FROM qs q CROSS JOIN seeds s
  ) WHERE rn <= 2
),
scored AS (
  SELECT q.qid, a.vec_id, a.cell,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
                  i -> CAST(a.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
           AS c
  FROM assigned a CROSS JOIN qs q
),
brute_top AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           row_number() OVER (PARTITION BY qid ORDER BY c DESC, vec_id ASC) AS rn
    FROM scored
  ) WHERE rn <= 10
),
ivf_top AS (
  SELECT qid, vec_id FROM (
    SELECT s.qid, s.vec_id,
           row_number() OVER (PARTITION BY s.qid ORDER BY s.c DESC, s.vec_id ASC) AS rn
    FROM scored s JOIN probes p ON p.qid = s.qid AND p.cell = s.cell
  ) WHERE rn <= 10
),
k AS (SELECT qid, CAST(count(*) AS BIGINT) AS k_ivf FROM ivf_top GROUP BY qid),
h AS (
  SELECT b.qid, CAST(count(*) AS BIGINT) AS n_hits
  FROM brute_top b JOIN ivf_top i ON b.qid = i.qid AND b.vec_id = i.vec_id
  GROUP BY b.qid
)
SELECT k.qid, k.k_ivf, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits
FROM k LEFT JOIN h ON h.qid = k.qid
"""


def emb_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means TRAINING as an oracle-replayable query:
    two full iterations of assign + integer-centroid update over the
    corpus (k=4, fixed-point 1e4 quantization), then the final
    assignment's per-cell stats. The production float trainer is
    operators/ivf.py::train_centroids; this integer twin proves the
    iterative loop itself — every prior IVF query pinned only the
    0-iteration seed codebook. Each iteration = one map-side broadcast
    assignment + one k*dim-group aggregate; the only collect is the
    codebook (reference parity: custom aggregation pipelines,
    avro/.../AvroRecordSpec-style derived stats; iterative refinement has
    no reference twin — Spark-first extension)."""
    from affinity_spark.operators.ivf import kmeans_int

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_int(emb, k=4, n_iter=2)


def _km_assign_sql(cents: str, idx: int) -> str:
    # dim derived per-row (len(q.v)) like _EMB_CLUSTERS_SQL — a hardcoded
    # dim silently computes prefix-only distances if the regenerated
    # corpus drifts its embedding width (r11 ADVICE)
    return f"""
d{idx} AS (
  SELECT q.vec_id, c.cell,
         CAST(list_sum(list_transform(range(1, len(q.v)+1),
              i -> (q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]))) AS BIGINT) AS d
  FROM q CROSS JOIN {cents} c
),
a{idx} AS (
  SELECT vec_id, cell, d FROM (
    SELECT vec_id, cell, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
    FROM d{idx}
  ) WHERE rn = 1
)"""


def _km_update_sql(prev_assign: str, prev_cents: str, idx: int) -> str:
    # trunc-toward-zero division spelled sign-explicitly: DuckDB's // on
    # non-negative ints is exact; an empty cell keeps its previous centroid.
    # dim is derived from the corpus itself (not hardcoded — r11 ADVICE):
    # unnest each row's own index range so a width drift can't silently
    # truncate the update to a prefix.
    return f"""
sums{idx} AS (
  SELECT a.cell, u.i,
         CAST(sum(q.v[u.i]) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
  FROM {prev_assign} a JOIN q USING (vec_id),
       LATERAL unnest(range(1, len(q.v)+1)) AS u(i)
  GROUP BY a.cell, u.i
),
c{idx} AS (
  SELECT p.cell, coalesce(u.cv, p.cv) AS cv
  FROM {prev_cents} p LEFT JOIN (
    SELECT cell,
           list(CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END ORDER BY i) AS cv
    FROM sums{idx} GROUP BY cell
  ) u ON p.cell = u.cell
)"""


_KMEANS_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.5) AS BIGINT)) AS v
  FROM embeddings
),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell, v AS cv
  FROM (SELECT vec_id, v FROM q ORDER BY vec_id LIMIT 4)
),{_km_assign_sql('seeds', 0)},{_km_update_sql('a0', 'seeds', 1)},{_km_assign_sql('c1', 1)},{_km_update_sql('a1', 'c1', 2)},{_km_assign_sql('c2', 2)}
SELECT a2.cell AS cell, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(a2.d) AS BIGINT) AS inertia,
       list_aggregate(list_transform(c2.cv, x -> CAST(x AS VARCHAR)),
                      'string_agg', ',') AS centroid_csv
FROM a2 JOIN c2 ON a2.cell = c2.cell
GROUP BY a2.cell, c2.cv
"""


#: (application id, corpus key) -> (fingerprint, store dir, ClusterStore)
_EMB_CLUSTER_STATE: dict = {}


def emb_incremental_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup — embedding near-dup clusters maintained at
    ingest (ClusterStore x IVFIndex, the pair-source-agnostic claim made
    good): vectors arrive in four id-ordered batches; each batch is
    assigned to its frozen seed cell map-side, its near-dup edges are
    cell-confined cosine>=0.35 pairs — (new x committed) via a
    partition-pruned read of the maintained IVF assignment table with the
    batch broadcast, (new x new) via the bucketed self-join — and the
    ClusterStore folds them in with the bounded-frontier union-find.
    Cells are frozen (seed codebook), so every same-cell pair is
    discovered exactly once when the later id's batch arrives: the
    maintained assignment equals one-shot within-cell connected
    components, which the oracle replays closed-form (assignment CTE +
    cosine pairs + recursive-CTE reachability). The batch variant of this
    query is ``emb_near_dup_drop`` (SemDeDup, Abbas et al. 2023); this is
    its continuous-ingest twin. Output: (vec_id, cluster_id,
    is_canonical), cluster label = min member id."""
    import shutil

    from pyspark.sql import Window

    from affinity_spark.cache import temp_root
    from affinity_spark.operators.cluster_store import ClusterStore
    from affinity_spark.operators.ivf import assign
    from affinity_spark.operators.ivf_index import IVFIndex
    from affinity_spark.operators.postings import _corpus_fingerprint
    from affinity_spark.operators.similarity import cosine_join_within

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    key = (spark.sparkContext.applicationId, f"eic:{sf_dir}")
    fp = _corpus_fingerprint(emb.select("vec_id"))
    cached = _EMB_CLUSTER_STATE.get(key)
    if cached is None or cached[0] != fp or not cached[2].exists():
        if cached is not None:
            shutil.rmtree(cached[1], ignore_errors=True)
        import os

        base = temp_root("affinity_eic_")
        seeds = [
            [float(x) for x in r.embedding]
            for r in emb.orderBy("vec_id").limit(8).collect()
        ]
        ivf = IVFIndex(spark, os.path.join(base, "ivf"), id_col="vec_id")
        cs = ClusterStore(spark, os.path.join(base, "cs"), id_col="vec_id")
        batched = emb.withColumn(
            "_b", F.ntile(4).over(Window.orderBy("vec_id"))
        ).persist()
        for i in range(1, 5):
            b = batched.filter(F.col("_b") == i).drop("_b")
            ab = assign(b, seeds)
            intra = cosine_join_within(
                ab, "cell", 0.35, "vec_id", "embedding"
            ).select("id_a", "id_b")
            if i == 1:
                ivf.build(b, codebook=seeds)
                cs.build(b.select("vec_id"), intra)
                continue
            # probe BEFORE admit (the PrefixIndex flow): committed side is
            # strictly earlier batches, partition-pruned to the batch's
            # cells, with the batch broadcast — the corpus never shuffles
            probe_cells = sorted(
                r[0] for r in ab.select("cell").distinct().collect()
            )
            committed = ivf.vectors().filter(F.col("cell").isin(probe_cells))
            cross = (
                committed.select(
                    F.col("vec_id").alias("id_a"),
                    F.col("embedding").alias("v_a"),
                    l2_norm0(F.col("embedding")).alias("_na"),
                    "cell",
                )
                .join(
                    F.broadcast(
                        ab.select(
                            F.col("vec_id").alias("id_b"),
                            F.col("embedding").alias("v_b"),
                            l2_norm0(F.col("embedding")).alias("_nb"),
                            "cell",
                        )
                    ),
                    "cell",
                )
                .withColumn("_dot", dot(F.col("v_a"), F.col("v_b")))
                .select(
                    "id_a",
                    "id_b",
                    cosine_of("_dot", "_na", "_nb").alias("c"),
                )
                .filter(F.col("c") >= 0.35)
                .select("id_a", "id_b")
            )
            cs.admit(b.select("vec_id"), cross.unionByName(intra))
            ivf.admit(b)
        batched.unpersist()
        _EMB_CLUSTER_STATE[key] = (fp, base, cs)
    return _EMB_CLUSTER_STATE[key][2].assignments().select(
        "vec_id", "cluster_id", "is_canonical"
    )


_EMB_CLUSTERS_SQL = """
WITH RECURSIVE seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
),
dists AS (
  SELECT e.vec_id, s.cell,
         list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))
               * (CAST(e.embedding[i] AS DOUBLE) - CAST(s.cv[i] AS DOUBLE))))
           AS d
  FROM embeddings e CROSS JOIN seeds s
),
acell AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell,
           row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cell ASC) AS rn
    FROM dists
  ) WHERE rn = 1
),
n AS (
  SELECT e.vec_id, a.cell, e.embedding,
         sqrt(list_sum(list_transform(e.embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings e JOIN acell a USING (vec_id)
),
pairs AS (
  -- nrm guard: Spark's cosine_similarity is NULL (dropped) for a
  -- zero-norm vector; without it DuckDB would keep dot/0 = inf pairs
  -- if a regenerated corpus ever ships a zero vector
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE a.nrm * b.nrm > 0
    AND list_sum(list_transform(range(1, len(a.embedding) + 1),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        / (a.nrm * b.nrm) >= 0.35
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
verts AS (SELECT DISTINCT a AS v FROM edges),
walk AS (
  SELECT v, v AS r FROM verts
  UNION
  SELECT w.v, e.b AS r FROM walk w JOIN edges e ON e.a = w.r
),
comp AS (SELECT v AS vec_id, min(r) AS cid FROM walk GROUP BY v)
SELECT e.vec_id,
       CAST(coalesce(c.cid, e.vec_id) AS BIGINT) AS cluster_id,
       e.vec_id = coalesce(c.cid, e.vec_id) AS is_canonical
FROM embeddings e LEFT JOIN comp c USING (vec_id)
"""
