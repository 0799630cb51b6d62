"""Benchmark decontamination: drop/flag training documents that overlap an
evaluation set by word n-grams.

The standard training-corpus hygiene op (the GPT-3 / Pile papers use 13-gram
overlap): any training document sharing an n-gram with the held-out
benchmark set is contaminated and must be flagged before training. The
reference engine has no training layer; the op composes this repo's
shingling (``operators/dedup.word_ngrams``) with the scale-correct join
shape.

100 TB shape: the eval set is SMALL by definition (benchmarks are
thousands of documents, the corpus is billions), so its distinct gram set
broadcasts — the contamination check is a map-side broadcast semi-join per
training partition, zero shuffle over the corpus. The only shuffled data
is the matched (doc, gram) hits — bounded by actual contamination, which
is tiny or the corpus is garbage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from affinity_spark.operators.dedup import word_ngrams


def contamination_hits(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Per training doc: how many of its distinct word n-grams appear
    anywhere in the eval set, plus the contaminated flag. Every training
    row appears in the output (0 hits = clean) so the result doubles as a
    filter input (``.filter(~F.col("contaminated"))``)."""
    grams = word_ngrams(text_col, n)
    eval_grams = (
        eval_docs.select(F.explode(word_ngrams(text_col, n)).alias("gram"))
        .distinct()
    )
    hits = (
        train.select(F.col(id_col), F.explode(grams).alias("gram"))
        .join(F.broadcast(eval_grams), "gram")
        # word_ngrams is distinct per doc, so count(*) counts distinct grams
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_contaminated_grams"), F.lit(0))
            .cast("long")
            .alias("n_contaminated_grams"),
            (F.coalesce(F.col("n_contaminated_grams"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def contamination_bloom(
    train: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """Bloom-probe decontamination: like :func:`contamination_hits` but the
    eval n-gram set is compressed into a fixed ``m_bits``-bit bloom filter
    instead of broadcast exactly.

    This is the bounded-memory 100 TB shape for LARGE eval suites: a
    broadcast of 10^8 distinct 13-grams is gigabytes and can OOM the
    driver/executors, while the bloom is m/8 bytes FOREVER — build it with
    one bitmap-sized shuffle (``bloom_bitmap``'s bit_or partial-aggregates
    map-side, so no distinct pass is needed: OR is idempotent), collect
    ≤ m/63 longs, and probe every training gram map-side with k md5s.
    ZERO shuffle over the training corpus and no join at all.

    The trade is one-sided error: a flagged gram is only "maybe
    contaminated" (false-positive rate ~(1-e^{-k·N/m})^k where N = distinct
    eval grams inserted, m = ``m_bits``, k = ``k_hashes`` — over-removal,
    never under-removal, the safe direction for decontamination). Size
    ``m_bits`` ≳ 10·N for ~1% FP at k=3; a saturated filter silently flags
    (over-removes) nearly everything, so a filter more than half full after
    insertion raises a warning here. Both engines replay the identical md5
    positions, so the flags — including any false positives — are
    deterministic and oracle-checkable.

    Output per training row: ``n_flagged_grams`` (distinct grams whose k
    bloom bits are all set) and ``flagged``.
    """
    from affinity_spark.operators.sketches import (
        bloom_bitmap,
        bloom_member_expr,
        bloom_words_dense,
    )

    eval_grams = eval_docs.select(
        F.explode(word_ngrams(text_col, n)).alias("gram")
    )
    bitmap = bloom_bitmap(eval_grams, F.col("gram"), m_bits, k_hashes).collect()
    words = bloom_words_dense(bitmap, m_bits)
    fill = sum(bin(w & ((1 << 64) - 1)).count("1") for w in words) / m_bits
    if fill > 0.5:
        import warnings

        warnings.warn(
            f"bloom filter is {fill:.0%} full at m_bits={m_bits}: FP rate "
            f"~{fill ** k_hashes:.0%} — nearly every training "
            "gram will be flagged (over-removal). Raise m_bits to ~10x the "
            "distinct eval-gram count.",
            stacklevel=2,
        )
    garr = word_ngrams(text_col, n)
    return (
        train.select(
            F.col(id_col),
            F.size(
                F.filter(
                    garr, lambda g: bloom_member_expr(g, words, m_bits, k_hashes)
                )
            )
            .cast("long")
            .alias("n_flagged_grams"),
        )
        .withColumn("flagged", F.col("n_flagged_grams") > 0)
    )
