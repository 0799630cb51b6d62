"""Text-analysis functions (LLM-pipeline surface + F1 tokenizer parity with
the reference's split("\\s")/lower/trim usage, ESecondaryIndex.scala:109-111)."""

from __future__ import annotations

from pyspark.sql import functions as F

from affinity_spark.functions.text import (
    doc_fingerprint,
    lang_id,
    quality_columns,
    token_count,
    tokenize,
)


def _docs(spark):
    rows = [
        (1, "The quick brown fox and the lazy dog in a field"),
        (2, "  The   QUICK brown fox and the lazy dog in a field  "),
        (3, "zzz qqq www"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, "id int, text string")


def test_tokenize_lower_trim_split(spark):
    got = _docs(spark).select("id", tokenize(F.col("text")).alias("t")).collect()
    by_id = {r.id: r.t for r in got}
    assert by_id[1][:3] == ["the", "quick", "brown"]
    assert by_id[1] == by_id[2]  # case/whitespace insensitive
    assert by_id[4] == []


def test_token_count(spark):
    got = {r.id: r.n for r in _docs(spark).select("id", token_count(F.col("text")).alias("n")).collect()}
    assert got == {1: 11, 2: 11, 3: 3, 4: 0}


def test_fingerprint_normalization_invariance(spark):
    got = {r.id: r.fp for r in _docs(spark).select("id", doc_fingerprint(F.col("text")).alias("fp")).collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_lang_id(spark):
    got = {r.id: r.lang for r in _docs(spark).select("id", lang_id(F.col("text")).alias("lang")).collect()}
    assert got[1] == "en"
    assert got[3] == "und"


def test_quality_columns(spark):
    q = quality_columns(F.col("text"))
    row = (
        _docs(spark)
        .filter(F.col("id") == 1)
        .select(
            q["n_tokens"].alias("n"),
            q["n_distinct_tokens"].alias("nd"),
            q["stopword_ratio"].alias("sw"),
        )
        .collect()[0]
    )
    assert row.n == 11
    assert row.nd == 10  # "the" twice
    # stopwords present: the, the, and, a, in -> 5/11 (ratio rounded to 4dp)
    assert abs(row.sw - 5 / 11) < 1e-4


def test_char_shingles(spark):
    from affinity_spark.functions.text import shingles

    df = spark.createDataFrame([(1, "ab  cd")], "id int, text string")
    got = df.select(shingles(F.col("text"), 3).alias("s")).collect()[0].s
    # normalized to "ab cd": char trigrams, distinct, in-order
    assert got == ["ab ", "b c", " cd", "cd"][:len(got)] or set(got) == {"ab ", "b c", " cd"}
    # short text still yields one (possibly short) shingle, not empty/null
    short = df.select(shingles(F.lit("x"), 5).alias("s")).collect()[0].s
    assert short == ["x"]


def _py_winnow(text: str, k: int = 7, w: int = 4) -> list[int]:
    """Reference winnowing: all k-gram md5 hashes, min per window, distinct."""
    import hashlib
    import re

    t = re.sub(r"\s+", " ", text.strip().lower())
    if len(t) < k + w - 1:
        return []
    hs = [
        int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:8], 16)
        for i in range(len(t) - k + 1)
    ]
    mins = [min(hs[j : j + w]) for j in range(len(hs) - w + 1)]
    return sorted(set(mins))


def test_winnow_matches_python_reference(spark):
    from affinity_spark.functions.text import winnow_fingerprints

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "The  quick\tbrown  FOX jumps over the lazy dog",  # same after normalize
        "short",  # below k+w-1 -> empty
        "exactly10c",  # exactly k+w-1 chars -> one window
        "",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    got = {
        r.id: list(r.fps)
        for r in df.select(
            "id", winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_winnow(t), f"text {i!r}"
    # normalization: 0 and 1 fingerprint identically
    assert got[0] == got[1]
    assert got[2] == [] and got[4] == []
    assert len(got[3]) == 1


def test_winnow_guarantee_shared_substring(spark):
    # winnowing guarantee: docs sharing a substring of >= k+w-1 chars share
    # at least one fingerprint
    from affinity_spark.functions.text import winnow_fingerprints

    shared = "a very distinctive shared passage of text"
    df = spark.createDataFrame(
        [(1, "prefix one " + shared), (2, shared + " suffix two")],
        "id int, text string",
    )
    rows = {r.id: set(r.fps) for r in df.select("id", winnow_fingerprints(F.col("text")).alias("fps")).collect()}
    assert rows[1] & rows[2]


def test_bpe_token_estimate_counts(spark):
    from affinity_spark.functions.text import bpe_token_estimate

    df = spark.createDataFrame(
        [(1, "Hello, world! It's 2024..."), (2, ""), (3, "plain words only")],
        "id int, text string",
    )
    got = {r.id: r.n for r in df.select("id", bpe_token_estimate(F.col("text")).alias("n")).collect()}
    # 'hello' ',' ' world' '!' ' it' \"'s\" ' 202'(3-digit chunk) '4' '...'
    assert got[1] == 9
    assert got[2] == 0
    assert got[3] == 3


def test_gram_ops_handle_large_documents(spark):
    """A 200KB document must flow through winnowing and shingling without
    quadratic blowup (the array ops are O(n*w) by construction)."""
    import time

    from affinity_spark.functions.text import winnow_fingerprints
    from affinity_spark.operators.dedup import word_ngrams

    big = ("lorem ipsum dolor sit amet " * 8000).strip()  # ~216KB, 40k tokens
    df = spark.createDataFrame([(1, big)], "id int, text string")
    t0 = time.perf_counter()
    n_fps = df.select(F.size(winnow_fingerprints(F.col("text"))).alias("n")).collect()[0].n
    n_sh = df.select(F.size(word_ngrams("text", 3)).alias("n")).collect()[0].n
    elapsed = time.perf_counter() - t0
    # repeated text -> tiny distinct fingerprint set, full shingle count
    assert 0 < n_fps < 200
    assert n_sh == 5  # distinct trigrams of a 5-word cycle
    assert elapsed < 60, f"gram ops took {elapsed:.1f}s on one 200KB doc"


def test_repeated_windows_handles_large_documents(spark):
    """The winnowing-anchored repeated-window tier (win=40, stride=20) must
    stay O(n*stride) on a 200KB doc — every gram is hashed once (let-bound
    array), window minima are O(stride) slices, never substring byte-scans."""
    import time

    from affinity_spark.operators.dedup import repeated_windows

    big = ("lorem ipsum dolor sit amet " * 8000).strip()  # ~216KB
    docs = spark.createDataFrame(
        [(1, big), (2, big[: len(big) // 2] + " tail")], "doc_id long, text string"
    )
    t0 = time.perf_counter()
    n = repeated_windows(docs, "doc_id", "text", 40, 20).count()
    elapsed = time.perf_counter() - t0
    assert n >= 1  # the shared periodic run surfaces
    assert elapsed < 60, f"repeated_windows took {elapsed:.1f}s on 200KB docs"
