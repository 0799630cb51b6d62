"""Product quantization (PQ) for embedding compression + ADC search.

The standard ANN memory-scale trick (Jégou et al. 2011, public): split each
d-dim vector into ``m`` subvectors, k-means each subspace separately, store
only the ``m`` centroid ids (codes) per vector — d floats become m bytes.
Search uses ADC (asymmetric distance): the query stays exact, a per-subspace
distance table to each centroid is computed ONCE, and a vector's
approximate distance is ``m`` table lookups + adds.

100 TB shape (complements ``operators/ivf.py``, which prunes WHICH vectors
to scan; PQ shrinks WHAT is stored/scanned):
- codebooks are model-sized (m * k centroids) — trained on a sample,
  broadcast as literals, the IVF-codebook contract;
- code assignment is map-side (argmin over literal centroids per
  subspace), zero shuffle;
- ADC search scans CODES (m ints per row), not raw vectors — the scan is
  m table lookups per row, the distance table is a literal array, and
  top-k is TakeOrderedAndProject, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from affinity_spark.functions.lits import double_matrix_lit
from affinity_spark.functions.vectors import sq_dist
from affinity_spark.operators.ivf import train_centroids


def train_pq(
    emb: DataFrame,
    m: int,
    k: int,
    dim: int,
    n_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks: ``m`` independent trainings on the
    sliced subvectors (reuses the deterministic IVF Lloyd trainer)."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d_sub = dim // m
    books = []
    for s in range(m):
        sub = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col).cast("array<double>"), s * d_sub + 1, d_sub).alias(
                "sub"
            ),
        )
        books.append(train_centroids(sub, k, n_iter, id_col, "sub"))
    return books


def code_columns(
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
) -> list:
    """The map-side PQ encode as a list of column expressions
    (``code_0..code_{m-1}``, int): per subspace, the argmin centroid id
    over the literal codebook (first index wins ties — both engines'
    list-position semantics). Shared by :func:`assign_codes` and the
    maintained ``IVFIndex``, whose assigned table carries these columns
    so ADC search scans codes instead of raw vectors."""
    from affinity_spark.functions.text import let_bound

    vec = F.col(vec_col).cast("array<double>")
    cols = []
    d_sub = len(codebooks[0][0])
    for s, book in enumerate(codebooks):
        # ONE nested-array literal per codebook (k*d_sub literal nodes
        # would otherwise dominate the plan: analysis/codegen of the
        # thousands-of-Literal tree cost more than executing it - r5
        # profile: the probed-cell encode was ~1.6 ms/ROW at 501 rows)
        book_lit = double_matrix_lit(book)
        sub = F.slice(vec, s * d_sub + 1, d_sub)
        # let-bound subvector and distance array: HOFs re-evaluate outer
        # expressions per reference (the repo's HOF re-evaluation trap)
        code = let_bound(
            sub,
            lambda sv: let_bound(
                F.transform(book_lit, lambda c: sq_dist(sv, c)),
                lambda d: F.array_position(d, F.array_min(d)) - 1,
            ),
        )
        cols.append(code.cast("int").alias(f"code_{s}"))
    return cols


def assign_codes(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-side PQ encoding of a frame: id + ``code_0..code_{m-1}``."""
    return emb.select(F.col(id_col), *code_columns(codebooks, vec_col))


def query_distance_tables(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    qvec_col: str = "qvec",
    book_lits: list | None = None,
) -> list:
    """Per-query ADC distance tables as column expressions
    (``_t0.._t{m-1}``, each ``array<double>[k]``): the query's squared
    distance to every centroid of every subspace, computed MAP-SIDE on
    the (small) queries frame against the literal codebooks. The batched
    twin of :func:`adc_search`'s driver-side table — the table rides the
    broadcast with the query row, and each candidate row costs m
    ``element_at`` lookups regardless of dimension."""
    from affinity_spark.functions.text import let_bound

    qv = F.col(qvec_col).cast("array<double>")
    d_sub = len(codebooks[0][0])
    cols = []
    for s, book in enumerate(codebooks):
        # PySpark's F.lit over a nested list recurses ONE py4j round trip
        # per scalar — a m*k*d codebook costs ~1000 socket calls (~1 s of
        # frame-construction wall) PER QUERY BUILD. Callers that hold the
        # codebooks (IVFIndex) pass the literal Columns pre-built and
        # memoized per committed version instead (r13 verdict #4).
        book_lit = (
            book_lits[s]
            if book_lits is not None
            else double_matrix_lit(book)
        )
        sub = F.slice(qv, s * d_sub + 1, d_sub)
        tab = let_bound(
            sub, lambda sv: F.transform(book_lit, lambda c: sq_dist(sv, c))
        )
        cols.append(tab.alias(f"_t{s}"))
    return cols


def adc_search(
    emb_codes: DataFrame,
    codebooks: list[list[list[float]]],
    query: list[float],
    k: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query's per-subspace
    distance table becomes a literal array, each row costs ``m`` lookups.
    Returns (id, adc_dist) ordered ascending, ties by id."""
    d_sub = len(codebooks[0][0])
    total = None
    for s, book in enumerate(codebooks):
        qsub = query[s * d_sub : (s + 1) * d_sub]
        table = [
            float(sum((x - y) ** 2 for x, y in zip(qsub, c))) for c in book
        ]
        # one array literal per subspace table (not k Literal nodes)
        lookup = F.element_at(F.lit(table), F.col(f"code_{s}") + 1)
        total = lookup if total is None else total + lookup
    return (
        emb_codes.select(F.col(id_col), total.alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )
