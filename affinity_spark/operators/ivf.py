"""IVF (inverted-file) approximate nearest-neighbor search.

The scale path for embedding similarity at 100 TB: a small centroid
codebook (k-means, trained once on a sample) is broadcast; every vector is
assigned to its nearest centroid cell (map-side); queries probe only the
``nprobe`` nearest cells, turning an O(N) scan into O(N * nprobe / k).
``cosine_join_within`` (operators/similarity.py) is the pairwise variant of
the same idea once cells exist.

Training is deterministic: initial centroids are the k lowest-id vectors
(ids are stable), then a fixed number of Lloyd iterations as DataFrame
aggregations — no RNG, so tests and reruns reproduce the same codebook.
All distance math is JVM-side (functions.vectors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from affinity_spark.functions.lits import (
    double_array_lit,
    double_matrix_lit,
    local_df,
)
from affinity_spark.functions.vectors import (
    cosine_of,
    dot,
    l2_norm0,
    py_l2_norm,
    sq_dist,
)


def train_centroids(
    emb: DataFrame,
    k: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic k-means codebook (k lowest-id seeds, n_iter Lloyd
    steps). Each step is one broadcast-assign + one groupBy-average; the
    codebook stays driver-side (it is tiny) and is broadcast in ``assign``."""
    seeds = [
        [float(x) for x in r.vec]
        for r in emb.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("vec"))
        .orderBy("id")
        .limit(k)
        .collect()
    ]
    centroids = seeds
    for _ in range(n_iter):
        assigned = assign(emb, centroids, id_col, vec_col)
        # per-(cell, dimension) sums via posexplode — NOT one agg column per
        # dimension: a dim-wide agg list blows past codegen method limits at
        # dim >= ~1k and falls back to interpreted eval. Two agg expressions
        # regardless of dim; map-side partial agg keeps the shuffle at
        # k*dim entries per task either way. Collected result is k*dim rows
        # (the codebook — tiny by design).
        rows = (
            assigned.select(
                "cell",
                F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "x"),
            )
            .groupBy("cell", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new_centroids = [list(c) for c in centroids]
        for row in rows:
            new_centroids[row.cell][row.pos] = row.s / row.n
        centroids = new_centroids
    return centroids


def assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side nearest-centroid cell per vector (no shuffle): the codebook
    becomes a literal array-of-arrays; argmin over squared distance."""
    from affinity_spark.functions.text import let_bound

    # ONE nested-array literal: k*dim individual Literal nodes make plan
    # analysis/codegen, not execution, the dominant cost (r5 profile)
    cents = double_matrix_lit(centroids)
    v = F.col(vec_col).cast("array<double>")
    dists = F.transform(cents, lambda c: sq_dist(v, c))
    # let-bind the k-centroid distance array: argmin references it twice
    # (array_position + array_min) and HOFs re-evaluate outer expressions
    # per reference - unbound this computed k*dim distances TWICE per row
    # (measured 2x on the sf0.1 assignment scan)
    cell = let_bound(dists, lambda d: F.array_position(d, F.array_min(d)) - 1)
    return emb.withColumn("cell", cell.cast("int"))


def search(
    emb_assigned: DataFrame,
    centroids: list[list[float]],
    query: list[float],
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by cosine among vectors in the query's ``nprobe`` nearest
    cells — the partition-pruned ANN read (cell is a partition column at
    real scale, so non-probed cells are never scanned)."""

    def sqd(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    order = sorted(range(len(centroids)), key=lambda i: sqd(centroids[i], query))
    probes = order[:nprobe]
    qcol = double_array_lit(query)  # one JVM call, not one per scalar
    # per-row cost discipline (r15, guide §4.1): the row norm staged once
    # per row, the query norm computed driver-side (py_l2_norm), the dot
    # one fold per row — vs three interpreted folds per row inline
    return (
        emb_assigned.filter(F.col("cell").isin(probes))
        .withColumn("_qvec", qcol)
        .withColumn("_qnrm", F.lit(py_l2_norm(query)))
        .withColumn("_rnrm", l2_norm0(F.col(vec_col)))
        .select(
            F.col(id_col),
            F.col("cell"),
            cosine_of(
                dot(F.col(vec_col), F.col("_qvec")), "_rnrm", "_qnrm"
            ).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def batch_search(
    emb_assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "qid",
    qvec_col: str = "qvec",
    cents_lit=None,
) -> DataFrame:
    """Batched ANN read: MANY query vectors at once — the online-serving /
    retrieval-training shape (:func:`search` is the single-query probe).

    Spark-first plan, one pass over the probed cells regardless of query
    count:
    - each query's ``nprobe`` nearest cells are computed MAP-SIDE on the
      (small) queries frame against the literal codebook — ties break on
      cell id, the argsort is a let-bound struct array_sort;
    - the exploded (query, cell) probe set BROADCASTS into a join with the
      assigned corpus on ``cell`` — only probed cells are scanned (cell is
      the partition column at scale, so unprobed partitions are pruned),
      and each corpus row is scored once per query that probes its cell;
    - per-query top-k rides a rank window (WindowGroupLimit: per-partition
      heads, never a global sort).

    Returns (qid, id, cosine, rnk), rnk 1..k per query, NULL-norm
    candidates dropped (ANSI-safe cosine yields NULL there).
    """
    from affinity_spark.functions.text import let_bound
    from pyspark.sql import Window

    # cents_lit: callers that hold the codebook (IVFIndex) pass the
    # literal Column pre-built and memoized — F.lit over a nested list
    # costs one py4j round trip per scalar (r13 verdict #4)
    cents = (
        cents_lit
        if cents_lit is not None
        else double_matrix_lit(centroids)
    )
    qv = F.col(qvec_col).cast("array<double>")
    dists = F.transform(cents, lambda c: sq_dist(qv, c))
    ranked_cells = let_bound(
        dists,
        lambda d: F.slice(
            F.array_sort(
                F.zip_with(
                    d,
                    F.sequence(F.lit(0), F.size(d) - 1),
                    lambda dd, i: F.struct(dd.alias("d"), i.alias("c")),
                )
            ),
            1,
            nprobe,
        ),
    )
    probes = queries.select(
        F.col(qid_col),
        qv.alias("_qv"),
        F.explode(F.transform(ranked_cells, lambda s: s["c"])).alias("cell"),
    )
    # per-candidate cost discipline (r15, guide §4.1): query norms ride
    # the broadcast probe frame (once per query), corpus norms are
    # computed once per row BEFORE the join (the inline cosine form
    # re-folded both norms per (row x query) pair). Norms coalesce to
    # 0.0 — non-nullable, so no isnotnull constraint is inferred and
    # pushdown-substituted into the scan. The NULL-cosine drop is the
    # equivalent CHEAP `denom != 0` on the staged norm columns (a
    # NULL/zero-norm vector yields denom 0), applied BEFORE the staged
    # dot so the pushed predicate never carries a fold.
    probes = probes.withColumn("_qnrm", l2_norm0(F.col("_qv")))
    denom = F.col("_rnrm") * F.col("_qnrm")
    scored = (
        emb_assigned.withColumn("_rnrm", l2_norm0(F.col(vec_col)))
        .join(F.broadcast(probes), "cell")
        .filter(denom != 0)
        .withColumn("_dot", dot(F.col(vec_col), F.col("_qv")))
        .select(
            F.col(qid_col),
            F.col(id_col),
            (F.col("_dot") / denom).alias("cosine"),
        )
    )
    w = Window.partitionBy(qid_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


# --- engine-exact integer k-means -------------------------------------------


def _trunc_div(s: int, n: int) -> int:
    """Integer division truncating toward zero (sign-explicit so the same
    rule is expressible in any engine's non-negative integer division)."""
    return -((-s) // n) if s < 0 else s // n


def quantize_int(vec_col, scale: int = 10_000):
    """Fixed-point quantization of a float vector: component ->
    floor(x * scale + 0.5) as BIGINT. float->double widening and one
    double multiply are IEEE-identical across engines (the integer-cents
    rule applied to vectors)."""
    return F.transform(
        F.col(vec_col).cast("array<double>") if isinstance(vec_col, str) else vec_col,
        lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"),
    )


def _sq_dist_int(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sq_dist_sql(vec_sql: str, cent_sql: str, j: int, dim: int) -> str:
    """Squared integer distance to centroid ``j`` as a flat codegen-able
    SQL sum — higher-order functions are CodegenFallback (interpreted
    eval), and the per-row k·dim zip_with/aggregate lattice measured
    ~25 s of executor CPU on a 4k-vector corpus; the expanded sum rides
    whole-stage codegen. Integer addition is fully associative, so any
    evaluation order is bit-identical to the HOF fold. One expr string =
    one py4j call (the F.lit-per-scalar rule).

    Centroid components are read from ``cent_sql`` — the flat k·dim
    array COLUMN carried by a 1-row broadcast relation — not inlined as
    literals: an attribute reference keeps the generated source
    value-independent, so the distance/argmin codegen compiles once and
    is cache-hit across iterations and corpora (the value-inlined form
    recompiled ~2 s of parked-task source per NEW centroid set on cold
    runs). Only the constant INDICES are inlined; they depend on (k,
    dim) alone. ``[:]`` is 0-based GetArrayItem; a drifted embedding
    width fails loudly under ANSI instead of zip_with's silent
    truncation."""
    return " + ".join(
        f"(({vec_sql}[{i}])-({cent_sql}[{j * dim + i}]))"
        f"*(({vec_sql}[{i}])-({cent_sql}[{j * dim + i}]))"
        for i in range(dim)
    )


def _argmin_first_sql(k: int, prefix: str = "_d") -> str:
    """First index attaining the minimum of ``{prefix}0..{prefix}{k-1}`` —
    the CASE cascade equivalent of array_position(d, array_min(d)) - 1
    (index j wins iff it is <= every later column; an earlier tie took
    the earlier branch)."""
    if k == 1:
        return "0"
    whens = " ".join(
        "WHEN "
        + " AND ".join(f"{prefix}{j} <= {prefix}{m}" for m in range(j + 1, k))
        + f" THEN {j}"
        for j in range(k - 1)
    )
    return f"CASE {whens} ELSE {k - 1} END"


def kmeans_int(
    emb: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10_000,
) -> DataFrame:
    """Lloyd's k-means whose every step is ENGINE-EXACT integer
    arithmetic — the iterative-training algorithm as a reproducible
    DataFrame program (train_centroids above is the float production
    variant; this one is bit-reproducible in ANSI SQL, so the driver's
    DuckDB oracle can replay the whole training loop).

    Semantics, shared with the oracle twin:
    - vectors quantized via :func:`quantize_int` (floor(x*scale + 0.5));
    - seeds = the k lowest-id quantized vectors, cell = seed rank;
    - assignment = argmin of integer squared distance, ties to the
      lowest cell;
    - update = component-wise trunc-toward-zero division of the cell sum
      by the cell count; a cell with no members keeps its centroid;
    - after ``n_iter`` updates, one final assignment produces the stats.

    Scale shape: the codebook is driver-side (k*dim ints, broadcast as
    ONE nested literal per iteration); each iteration is one map-side
    assignment + one groupBy(cell, pos) whose group count is k*dim —
    partial aggregation makes the shuffle k*dim rows per task, so cost
    per iteration is one corpus scan regardless of corpus size. The
    collect is the codebook, never data.

    Returns one row per non-empty cell:
    (cell, n, inertia, centroid_csv)."""
    q = emb.select(
        F.col(id_col).alias("_id"), quantize_int(vec_col, scale).alias("_q")
    )
    centroids = [
        [int(x) for x in r._q]
        for r in q.orderBy("_id").limit(k).collect()
    ]
    q = q.persist()

    # per-centroid distances as SEPARATE projected columns, argmin/min in a
    # SECOND select: CollapseProject won't inline a non-cheap alias that is
    # referenced more than once, so each distance is computed exactly once
    # per row — all in whole-stage codegen (the HOF form was interpreted).
    # The centroid VALUES ride a 1-row broadcast relation (see
    # _sq_dist_sql) so the generated source is identical for every
    # iteration/corpus at a given (k, dim) — one codegen compile total.
    dim = len(centroids[0]) if centroids else 0

    def dist_cols(cents: list[list[int]]):
        # local_df, not createDataFrame: the python-RDD scan behind a
        # createDataFrame'd broadcast side ran a 32-task python-worker
        # stage (~8 s parked executorRunTime) per iteration
        cent_row = local_df(
            q.sparkSession,
            [([int(x) for c in cents for x in c],)],
            "_cf array<bigint>",
        )
        return q.crossJoin(F.broadcast(cent_row)).select(
            "_q",
            *[
                F.expr(_sq_dist_sql("_q", "_cf", j, dim)).alias(f"_d{j}")
                for j in range(len(cents))
            ],
        )

    try:
        for _ in range(n_iter):
            assigned = dist_cols(centroids).select(
                F.expr(_argmin_first_sql(k)).cast("int").alias("cell"), "_q"
            )
            rows = (
                assigned.select("cell", F.posexplode("_q").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            new_c = [list(c) for c in centroids]
            for row in rows:
                new_c[row.cell][row.pos] = _trunc_div(int(row.s), int(row.n))
            centroids = new_c
        min_sql = (
            "_d0" if k == 1
            else "least(" + ",".join(f"_d{j}" for j in range(k)) + ")"
        )
        final = dist_cols(centroids).select(
            F.expr(_argmin_first_sql(k)).cast("int").alias("cell"),
            F.expr(min_sql).alias("_d"),
        )
        stats = (
            final.groupBy("cell")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("_d").alias("inertia"),
            )
        )
        cent_df = local_df(
            final.sparkSession,
            [
                (i, ",".join(str(x) for x in c))
                for i, c in enumerate(centroids)
            ],
            "cell int, centroid_csv string",
        )
        return stats.join(F.broadcast(cent_df), "cell").select(
            "cell", "n", "inertia", "centroid_csv"
        )
    finally:
        q.unpersist()
