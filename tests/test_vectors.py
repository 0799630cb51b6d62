"""The staged-cosine helpers of functions/vectors.py on hostile input
(NULL, zero-norm, ±0.0, inf, NaN, denormal-by-huge) and 500 random
vectors: the properties every similarity operator relies on."""

import random
import struct

from pyspark.sql import functions as F

from affinity_spark.functions.vectors import (
    cosine_of,
    cosine_similarity,
    dot,
    l2_norm,
    l2_norm0,
    py_l2_norm,
)

DIM = 8


def _frame(spark, rows):
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "id long, va array<float>, vb array<float>",
    )


HOSTILE = [
    ([1.0] * DIM, [2.0] * DIM),
    ([0.0] * DIM, [1.5] * DIM),  # zero norm -> NULL cosine
    ([-0.0] * DIM, [-0.0] * DIM),
    ([1e-38] * DIM, [1e38] * DIM),  # denormal-ish x huge
    ([float("inf")] + [1.0] * (DIM - 1), [1.0] * DIM),
    ([float("nan")] + [1.0] * (DIM - 1), [1.0] * DIM),
    ([3.14159, -2.71828, 1e-7, -1e7, 0.5, -0.25, 123.456, -0.001],
     [-1.1, 2.2, -3.3, 4.4, -5.5, 6.6, -7.7, 8.8]),
    (None, [1.0] * DIM),  # NULL array
    ([1.0] * DIM, None),
]


def _random_rows():
    rng = random.Random(0xA5F152)
    return [
        (
            [rng.uniform(-2, 2) for _ in range(DIM)],
            [rng.uniform(-2, 2) for _ in range(DIM)],
        )
        for _ in range(500)
    ]


def test_l2_norm0_bit_equal_to_py_l2_norm(spark):
    df = _frame(spark, HOSTILE + _random_rows())
    rows = df.select("va", l2_norm0(F.col("va")).alias("n")).collect()
    assert len(rows) == len(HOSTILE) + 500
    for r in rows:
        if r.va is None:
            assert r.n == 0.0, r
        else:
            # the collected floats are the float32 values widened to
            # double: the executor fold's operands; packed bits => NaN == NaN
            assert struct.pack("d", r.n) == struct.pack("d", py_l2_norm(r.va)), r


def test_cosine_of_is_null_exactly_when_norm_product_is_zero(spark):
    df = _frame(spark, HOSTILE + _random_rows())
    rows = df.select(
        l2_norm0(F.col("va")).alias("na"),
        l2_norm0(F.col("vb")).alias("nb"),
        cosine_of(dot(F.col("va"), F.col("vb")), l2_norm0(F.col("va")),
                  l2_norm0(F.col("vb"))).alias("c"),
    ).collect()
    nulls = 0
    for r in rows:
        assert (r.c is None) == (r.na * r.nb == 0), r
        nulls += r.c is None
    # zero, ±0.0 and both NULL rows; NaN and inf rows score (NaN), not NULL
    assert nulls == 4
    # the guard is on the PRODUCT: two tiny non-zero norms whose product
    # underflows to 0 still give NULL rather than a divide-by-zero
    tiny = spark.range(1).select(
        cosine_of(F.lit(1.0), F.lit(1e-200), F.lit(1e-200)).alias("c"),
        cosine_of("id", F.lit(2.0), F.lit(0.5)).alias("by_name"),
    ).first()
    assert tiny.c is None and tiny.by_name == 0.0


def test_cosine_similarity_equals_staged_form(spark):
    df = _frame(spark, HOSTILE + _random_rows())
    staged = (
        df.withColumn("_na", l2_norm0(F.col("va")))
        .withColumn("_nb", l2_norm0(F.col("vb")))
        .withColumn("_dot", dot(F.col("va"), F.col("vb")))
    )
    # the unstaged fold cosine with an uncoalesced denominator: the
    # definition cosine_similarity had before the staged helpers
    ref_denom = l2_norm(F.col("va")) * l2_norm(F.col("vb"))
    out = staged.select(
        cosine_similarity(F.col("va"), F.col("vb")).alias("one_call"),
        cosine_of("_dot", "_na", "_nb").alias("staged"),
        F.when(ref_denom != 0, dot(F.col("va"), F.col("vb")) / ref_denom)
        .alias("reference"),
    )
    assert out.count() == len(HOSTILE) + 500
    # Spark SQL equality treats NaN = NaN; IS DISTINCT FROM adds NULL parity
    assert out.filter(
        "one_call IS DISTINCT FROM staged OR one_call IS DISTINCT FROM reference"
    ).count() == 0


def test_l2_norm0_is_non_nullable(spark):
    """The non-nullable output is load-bearing: a nullable norm lets
    InferFiltersFromConstraints derive isnotnull(norm) from a
    `denom != 0` filter and push the SUBSTITUTED fold into the scan
    filter (the r15 batch_search compile-fallback finding)."""
    df = spark.sql("SELECT CAST(NULL AS array<float>) AS va")
    out = df.select(l2_norm0(F.col("va")).alias("n"))
    assert not out.schema["n"].nullable
    assert out.first().n == 0.0
