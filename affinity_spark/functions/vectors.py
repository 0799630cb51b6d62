"""Vector math over array<float|double> columns — JVM-side built-ins only
(``F.zip_with`` + ``F.aggregate``: no Python, no UDF, no Arrow transfer).

The one home of the staged-cosine rule every similarity operator follows:
each norm ONCE per row or query (:func:`l2_norm0`, or :func:`py_l2_norm`
driver-side for a literal query), the dot ONCE per pair, combined by
:func:`cosine_of`. The folds stay higher-order functions on purpose: a
flat fixed-dimension unrolling measured 3.5× slower (OPTIMIZATION_r15 §1).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from affinity_spark.functions.lits import long_array_lit


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def l2_norm0(a: Column) -> Column:
    """L2 norm coalesced to 0.0 — the staged-norm column.

    NULL input yields 0.0, so :func:`cosine_of`'s guard maps it to the
    same NULL cosine as a zero vector. The output is NON-NULLABLE on
    purpose: a nullable norm lets InferFiltersFromConstraints derive an
    ``isnotnull(norm)`` predicate that pushdown substitutes into the scan
    filter as a second copy of the whole fold."""
    return F.coalesce(l2_norm(a), F.lit(0.0))


def py_l2_norm(vec: Sequence[float]) -> float:
    """Driver-side L2 norm of a literal query vector, bit-identical to
    :func:`l2_norm0`: python floats ARE IEEE doubles, the sum is the same
    left-associated 0.0-seeded chain, and sqrt is correctly rounded in
    both runtimes."""
    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def cosine_of(
    dot_col: Column | str, norm_a: Column | str, norm_b: Column | str
) -> Column:
    """Cosine from a staged dot and staged norms (Columns or names); NULL
    when the norm product is 0 — under ANSI mode a plain ``x / 0.0``
    raises, and one degenerate vector must not kill a job. NULL
    similarities sort last and drop out of thresholds."""
    dot_col, norm_a, norm_b = (
        F.col(c) if isinstance(c, str) else c for c in (dot_col, norm_a, norm_b)
    )
    denom = norm_a * norm_b
    return F.when(denom != 0, dot_col / denom)


def cosine_similarity(a: Column, b: Column) -> Column:
    """One-call cosine (norms computed in place, not staged); NULL for a
    NULL or zero-norm input."""
    return cosine_of(dot(a, b), l2_norm0(a), l2_norm0(b))


def sq_dist(a: Column, b: Column) -> Column:
    """Squared Euclidean distance of two array<double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def srp_signs(d: int, p: int) -> list[list[int]]:
    """±1 sign matrix for signed random projection, md5-derived from the
    (input-dim, output-dim) pair — a pure function of (d, p), so any engine
    (or the DuckDB oracle) regenerates it independently and bit-exactly.
    Row j is the projection vector for output dimension j."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"{i},{j}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(d)
        ]
        for j in range(p)
    ]


def srp_project(vec: Column, signs: list[list[int]], scale: int = 1 << 20) -> Column:
    """Signed-random-projection dimensionality reduction (the dense-JL
    construction with ±1 entries, Achlioptas 2003): ``array<float>[d]`` →
    ``array<bigint>[p]`` with ``y_j = Σ_i signs[j][i] · floor(v_i·scale + ½)``.

    Entirely map-side (zero shuffle), entirely codegen-able expressions,
    and EXACT integer output: the input is fixed-point quantized once (one
    pass, let-bound) and every later sum/product is int64, so two engines
    — or two runs on differently-partitioned data — agree bit-for-bit.
    ASSUMES |v_i| ≤ 1 (unit-ish inputs): then with scale 2^20,
    |y_j| ≤ d·2^20 and the downstream dot of two projections ≤
    p·(d·2^20)² — inside int64 for d ≤ 64, p ≤ 16. Inputs with |v_i|
    around B shrink that headroom by B² — under ANSI mode an overflow is
    a job-killing exception, not a wrap — so for unnormalized vectors
    pass ``scale ≈ (1 << 20) // B`` (or l2-normalize first); the bound to
    keep is p·(d·B·scale)² < 2^63.

    The sign matrix embeds as ONE nested array literal (two plan nodes
    total, not d·p — the plan-compile-time lesson)."""
    s_lit = F.lit(signs)
    q = F.transform(
        vec, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long")
    )

    def project(qq: Column) -> Column:
        return F.transform(
            s_lit,
            lambda srow: F.aggregate(
                F.zip_with(srow, qq, lambda s, v: s.cast("long") * v),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )

    # let-bind the quantized vector: quantization runs once, not once per
    # output dimension
    proj = F.transform(F.array(q), project).getItem(0)
    # loud dim guard: the sign matrix is FIXED d-wide — a drifted corpus
    # width would otherwise project a prefix silently (zip_with pads with
    # NULL; r12 verdict #5: assert fixed-matrix dims at query build).
    # A NULL vector is NOT a dim mismatch — it projects to NULL
    d = len(signs[0]) if signs else 0
    return (
        F.when(vec.isNull(), F.lit(None).cast("array<bigint>"))
        .when(F.size(vec) == d, proj)
        .otherwise(
            F.raise_error(
                F.lit(f"srp_project: input dim != sign-matrix dim {d}")
            )
        )
    )


def sign_bit_words(vec: Column, dim: int, word_bits: int = 32) -> Column:
    """1-bit (sign) quantization of an ``array<float>`` into packed int64
    words: bit ``i`` of word ``i // word_bits`` is set iff ``vec[i] >= 0``.

    This is the binary-quantization code real vector stores keep beside
    (or instead of) raw vectors: 64 float32 dims collapse to 8 bytes — a
    32× smaller scan, and the coarse distance becomes XOR+popcount on
    longs inside whole-stage codegen (:func:`hamming_words`). Entirely
    map-side, no shuffle, no UDF.

    ``word_bits`` stays at 32 so ``shiftleft(1L, i)`` never touches the
    int64 sign bit regardless of lane; ``dim`` is a build-time constant
    (the codes are only comparable for one fixed width, same contract as
    :func:`srp_project`'s fixed sign matrix) — a drifted input width
    raises instead of silently truncating.
    """
    nwords = (dim + word_bits - 1) // word_bits
    bits = F.transform(
        vec,
        lambda x: F.when(x.cast("double") >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
    )

    # bit i's place value as ONE literal array node (1<<31 forces long
    # inference); a shiftleft-by-lambda-var is not expressible via the
    # python F.shiftleft wrapper, and b ∈ {0,1} makes b·2^i identical
    pows = long_array_lit(1 << i for i in range(word_bits))

    def pack(bb: Column) -> Column:
        return F.transform(
            F.sequence(F.lit(0), F.lit(nwords - 1)),
            lambda w: F.aggregate(
                F.zip_with(
                    # slice is 1-indexed; the tail slice may run short —
                    # zip_with NULL-pads, coalesce keeps the lane at 0
                    F.slice(bb, w * word_bits + 1, word_bits),
                    pows,
                    lambda b, p: F.coalesce(b * p, F.lit(0).cast("long")),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
        )

    # let-bind the bit array: the sign pass runs once, not once per word
    packed = F.transform(F.array(bits), pack).getItem(0)
    return (
        F.when(vec.isNull(), F.lit(None).cast("array<bigint>"))
        .when(F.size(vec) == dim, packed)
        .otherwise(
            F.raise_error(F.lit(f"sign_bit_words: input dim != {dim}"))
        )
    )


def hamming_words(a: Column, b: Column) -> Column:
    """Hamming distance between two packed sign-bit codes
    (:func:`sign_bit_words`): Σ popcount(aᵢ XOR bᵢ). Pure int64 codegen —
    the scan-speed coarse distance of the binary-quantization family."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def dot_int(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two array<bigint> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
