"""Embedding similarity search over array<float> columns.

Three tiers:
- ``knn_to_query``      brute-force cosine top-k against one query vector —
                        a map-only scan + TakeOrderedAndProject (per-partition
                        heap, driver merge): the exact baseline at any scale.
- ``cosine_join_within`` bucketed pairwise similarity: pairs are generated
                        only within a coarse bucket column (IVF-cell pattern;
                        here the pre-assigned ``label``). Shuffle on the
                        bucket key, never cartesian.
- ``lsh_hyperplane_buckets`` random-hyperplane LSH: deterministic ±1
                        hyperplanes from an LCG, sign-bit bucket per vector —
                        the ANN scale path when no IVF assignment exists.

All dot products and norms run JVM-side via zip_with/aggregate, scored
with the staged-cosine helpers of ``functions.vectors`` (norms once per
row, the dot once per pair).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from affinity_spark.functions.lits import double_array_lit
from affinity_spark.functions.vectors import cosine_of, dot, l2_norm0, py_l2_norm


def knn_to_query(
    emb: DataFrame,
    query: DataFrame | Sequence[float],
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k rows by cosine similarity to a single query vector.

    ``query`` is either a 1-row DataFrame (id_col dropped) — broadcast-joined
    so the scan stays map-only — or a literal python vector.

    Per-row cost discipline (r15, guide §4.1): the inline
    ``cosine_similarity`` paid THREE interpreted folds per corpus row
    (dot + both norms). The row norm is staged once per row, the query
    norm once per query (in the 1-row broadcast frame, or driver-side
    for a literal vector), so each row pays dot + one norm. (A flat
    fixed-dim unrolling was measured SLOWER at row volume: it exceeds
    HotSpot's huge-method JIT limit and runs in the bytecode
    interpreter; see OPTIMIZATION_r15.md §1.)
    """
    if isinstance(query, DataFrame):
        q = query.select(F.col(vec_col).alias("_qvec")).select(
            "_qvec", l2_norm0(F.col("_qvec")).alias("_qnrm")
        )
        joined = emb.crossJoin(F.broadcast(q))
    else:
        joined = emb.withColumn(
            "_qvec", double_array_lit(query)
        ).withColumn("_qnrm", F.lit(py_l2_norm(query)))
    joined = joined.withColumn("_rnrm", l2_norm0(F.col(vec_col)))
    cos = cosine_of(dot(F.col(vec_col), F.col("_qvec")), "_rnrm", "_qnrm")
    scored = joined.select(F.col(id_col), cos.alias("cosine_raw"))
    return scored.orderBy(F.col("cosine_raw").desc(), F.col(id_col).asc()).limit(k)


def cosine_join_within(
    emb: DataFrame,
    bucket_col: str,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_cap: int | None = None,
) -> DataFrame:
    """All pairs within each bucket with cosine >= threshold (id_a < id_b).

    The bucket column is the IVF coarse cell: pairwise work is confined to
    cells, so cost is sum over cells of |cell|^2 instead of n^2. At 100 TB
    the cell assignment comes from a centroid model (kmeans) computed once
    and broadcast.

    An over-full cell (a degenerate clustering collapsing many vectors
    into one bucket) turns that cell quadratic; the opt-in ``bucket_cap``
    splits such cells into ceil(n/cap) hash sub-buckets
    (``dedup.salt_hot_buckets``), bounding per-task pair work at the
    documented cost of losing cross-sub-bucket pairs. Emitted pairs keep
    EXACT cosine values — capping prunes candidates, never approximates
    scores.

    Per-pair cost discipline (r15, guide §4.1): the inline
    ``cosine_similarity`` form paid SIX interpreted folds per pair —
    dot + both norms, all three duplicated again into the threshold
    filter by predicate pushdown (codegen CSE does not bridge
    Filter/Project). Here the norms are staged ONCE PER ROW before the
    join and the dot ONCE PER PAIR as named columns (multi-referenced
    non-cheap aliases stay staged through CollapseProject), so the
    filter's pushed copy duplicates only a multiply/divide — measured
    3.4x less CPU at identical output. The fold stays a HOF on purpose:
    a flat 64-term codegen'd sum exceeds HotSpot's huge-method JIT
    limit and runs in the BYTECODE interpreter, 3.5x slower than
    Catalyst's fold interpreter (measured; see OPTIMIZATION_r15.md §1).
    Norms are coalesced to 0.0 (non-nullable) so no isnotnull constraint
    is inferred and pushed into the scan as a substituted fold."""
    if bucket_cap is not None:
        from affinity_spark.operators.dedup import salt_hot_buckets

        emb = salt_hot_buckets(emb, [bucket_col], id_col, bucket_cap)
        keys = [bucket_col, "_salt"]
    else:
        keys = [bucket_col]
    nrm = l2_norm0(F.col(vec_col))
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        nrm.alias("_na"),
        *keys,
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        nrm.alias("_nb"),
        *keys,
    )
    return (
        a.join(b, keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("_dot", dot(F.col("v_a"), F.col("v_b")))
        .select(
            "id_a",
            "id_b",
            cosine_of("_dot", "_na", "_nb").alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def hard_negatives(
    emb: DataFrame,
    bucket_col: str,
    label_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor, the
    most-similar vector with a DIFFERENT label among its own ANN-bucket
    candidates — the "hardest" negative the retrieval index would confuse
    it with.

    Candidates are confined to the anchor's bucket (LSH or IVF cell), so
    cost is Σ|bucket|² cross-label pairs, never n². Similarity is emitted
    as floor(cos×10000) basis points and the per-anchor argmax orders by
    (cos_bp DESC, id ASC) — integer ordering, so ties resolve identically
    in any engine. Returns ``(id, hard_neg_id, cos_bp)``.
    """
    from pyspark.sql import Window

    # per-pair cost discipline: norms staged once per row, the dot once
    # per pair, zero-norm drop as a CHEAP pre-dot `denom != 0` filter —
    # exactly equivalent to the old NULL-cosine filter (a NULL/zero-norm
    # vector yields denom 0) without duplicating a fold into the pushed
    # predicate; see cosine_join_within
    nrm = l2_norm0(F.col(vec_col))
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("v_a"),
        F.col(label_col).alias("lbl_a"),
        nrm.alias("_na"),
        F.col(bucket_col),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("v_b"),
        F.col(label_col).alias("lbl_b"),
        nrm.alias("_nb"),
        F.col(bucket_col),
    )
    denom = F.col("_na") * F.col("_nb")
    cand = (
        a.join(b, bucket_col)
        .filter(F.col("lbl_a") != F.col("lbl_b"))
        .filter(denom != 0)
        .withColumn("_dot", dot(F.col("v_a"), F.col("v_b")))
        .select(
            "id_a",
            "id_b",
            F.floor(F.col("_dot") / denom * 10000).cast("long").alias("cos_bp"),
        )
    )
    w = Window.partitionBy("id_a").orderBy(
        F.col("cos_bp").desc(), F.col("id_b").asc()
    )
    return (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(F.col("id_a").alias(id_col), F.col("id_b").alias("hard_neg_id"), "cos_bp")
    )


# --- random-hyperplane LSH ---------------------------------------------------


def _hyperplanes(dim: int, nbits: int, seed: int = 0xA5F152) -> list[list[int]]:
    """Deterministic ±1 hyperplanes via an LCG (no RNG dependency)."""
    state = seed
    planes = []
    for _ in range(nbits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append(1 if (state >> 32) & 1 else -1)
        planes.append(row)
    return planes


def lsh_hyperplane_buckets(
    emb: DataFrame,
    dim: int,
    nbits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: Sequence[str] = (),
) -> DataFrame:
    """Assign each vector a ``bucket`` = sign bits against nbits hyperplanes.

    Downstream ANN: group/join on ``bucket`` (optionally multi-probe by
    flipping low-confidence bits). Pure JVM expressions. ``keep_cols``
    carries extra columns (e.g. a label for hard-negative mining) through
    the projection so no join-back is needed.
    """
    planes = _hyperplanes(dim, nbits)
    bucket = F.lit(0)
    for j, plane in enumerate(planes):
        # one array literal per plane, not dim Literal nodes (plan-compile
        # cost dominates execution for big literal trees - r5 profile)
        pcol = double_array_lit(plane)
        bucket = bucket + F.when(dot(F.col(vec_col), pcol) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    # loud dim guard: the planes are FIXED dim-wide literals — a corpus
    # whose embedding width drifted would otherwise dot against a prefix
    # (zip_with pads the shorter side with NULL) and bucket silently
    # wrong (r12 verdict #5: assert fixed-matrix dims at query build).
    # A NULL vector is NOT a dim mismatch — it flows as a NULL bucket
    # (excluded from bucket joins), never a query-killing raise
    bucket = (
        F.when(F.col(vec_col).isNull(), F.lit(None).cast("int"))
        .when(F.size(F.col(vec_col)) == dim, bucket)
        .otherwise(
            F.raise_error(
                F.lit(
                    f"lsh_hyperplane_buckets: embedding dim != planes dim {dim}"
                )
            )
        )
    )
    return emb.select(
        F.col(id_col), F.col(vec_col), *[F.col(c) for c in keep_cols],
        bucket.alias("bucket"),
    )


def scalar_quantize_int8(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    micros: int = 1_000_000,
) -> DataFrame:
    """Per-dimension scalar int8 quantization of an embedding column — the
    4x storage/bandwidth compressor every large vector deployment applies
    before (or instead of) PQ. Returns one row per (id, dim):
    ``code`` in [0, 255] plus the integer reconstruction error.

    Engine-exact: floats are fixed-pointed to integer micros FIRST
    (``floor(v * 1e6)``), then per-dim [min, max] ranges — a 64-row
    broadcast — scale codes with integer division:

        code  = (vi - mn) * 255 div (mx - mn)          (0 when mx == mn)
        recon = mn + code * (mx - mn) div 255
        err   = |vi - recon|

    Every operand is non-negative where division occurs, so trunc-vs-floor
    ambiguity never arises across engines.

    Scale shape: ONE posexplode + a 64-row aggregate broadcast back; the
    codes themselves are map-side. At serving time the int8 codes dot
    against a quantized query with integer SIMD — the same ADC idea as PQ
    with per-dim granularity.
    """
    vals = emb.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("dim", "_v"),
    ).select(
        id_col,
        "dim",
        F.floor(F.col("_v").cast("double") * micros).cast("long").alias("vi"),
    )
    ranges = vals.groupBy("dim").agg(
        F.min("vi").alias("mn"), F.max("vi").alias("mx")
    )
    q = vals.join(F.broadcast(ranges), "dim").select(
        id_col,
        "dim",
        "vi",
        F.when(F.col("mx") > F.col("mn"),
               F.expr("((vi - mn) * 255) div (mx - mn)"))
        .otherwise(F.lit(0)).cast("long").alias("code"),
        "mn", "mx",
    )
    return q.select(
        id_col,
        "dim",
        "code",
        F.abs(
            F.col("vi")
            - (F.col("mn") + F.expr("(code * (mx - mn)) div 255"))
        ).alias("abs_err"),
    )
