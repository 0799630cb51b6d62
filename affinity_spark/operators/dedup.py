"""Deduplication operators for training-data pipelines.

Four tiers, each a pure DataFrame plan (scales to 100 TB — every step is a
hash shuffle or broadcast join, never a cartesian):

- exact         group-by content fingerprint (md5 of normalized text)
- minhash-LSH   shingle → minhash signature → banded bucket join →
                exact-Jaccard verify on candidates only
- simhash       32-bit sign-of-sum fingerprint, near-dups by hamming bands
- ngram-jaccard exact Jaccard over word n-gram shingle sets via inverted
                shingle join (no LSH approximation; the verifier primitive)

Cross-engine determinism: all hashing is md5-derived (``stable_token_hash``)
with fixed affine permutation constants, so the DuckDB oracle in
``__spark_entry__`` reproduces identical signatures, candidate sets and
Jaccard values. ``oracle sql`` builders live here next to the Spark plans so
the two sides cannot drift.

At 100 TB: the shingle explode is map-side (no shuffle); the signature
aggregate is one shuffle on doc_id; the LSH band join shuffles on the small
(band, hash) key with near-uniform fan-out; verify touches only candidate
pairs. This is the standard MinHash/LSH layout (Broder 1997; Leskovec et al.
MMDS ch.3) expressed as Spark SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from affinity_spark.functions.murmur2 import stable_token_hash
from affinity_spark.functions.text import doc_fingerprint

# --- deterministic minhash permutation constants ---------------------------
# h_i(x) = (A_i * h0(x) + B_i) mod P ; h0 = md5-derived 32-bit token hash.
# P prime > 2^32; A_i < 2^30 so A*h0 < 2^62 never overflows int64 in any
# engine (DuckDB raises on int64 overflow rather than wrapping).
MINHASH_P = 4_294_967_311
NUM_PERM = 16
BAND_ROWS = 2  # 8 bands x 2 rows: candidate prob ~0.90 at J=0.5


def _lcg_constants(n: int, seed: int = 0x5DEECE66D) -> list[tuple[int, int]]:
    out = []
    state = seed
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state >> 16) % ((1 << 30) - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (state >> 16) % MINHASH_P
        out.append((a, b))
    return out


MINHASH_COEF = _lcg_constants(NUM_PERM)
NUM_BANDS = NUM_PERM // BAND_ROWS


def word_ngrams(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the whitespace-tokenized column
    ``text_col``.

    The token array is let-bound (``text.let_bound``'s wrapper form) so the
    split runs once per doc, not once per gram (O(tokens), not
    O(tokens²)). One parsed SQL expression: built from Column nodes, the
    same tree costs one py4j round trip per node."""
    count = f"greatest(size(tk) - {n - 1}, 0)"
    return F.expr(
        rf"transform(array(split(lower(trim(`{text_col}`)), '\\s+')), "
        f"tk -> CASE WHEN {count} > 0 THEN array_distinct(transform("
        f"sequence(1, greatest({count}, 1)), k -> concat_ws(' ', slice(tk, k, {n})))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END)[0]"
    )


# --- exact ------------------------------------------------------------------


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: per content fingerprint keep min id + group size.

    One hash aggregate on the fingerprint; at scale the fingerprint is
    computed map-side so the shuffle carries (16-byte key, id) only.
    """
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# --- minhash + LSH ----------------------------------------------------------


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle, h0) — exploded distinct shingles with stable hashes."""
    return (
        df.select(F.col(id_col), F.explode(word_ngrams(text_col, n)).alias("shingle"))
        .withColumn("h0", stable_token_hash(F.col("shingle")))
    )


def minhash_signatures(shingles: DataFrame, id_col: str) -> DataFrame:
    """One row per doc with NUM_PERM minhash columns sig_0..sig_{n-1}.

    Single shuffle (groupBy doc); the NUM_PERM mins are computed in one
    hash-aggregate pass, map-side partials included.
    """
    aggs = [
        F.min((F.lit(a) * F.col("h0") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"sig_{i}")
        for i, (a, b) in enumerate(MINHASH_COEF)
    ]
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_bands(signatures: DataFrame, id_col: str) -> DataFrame:
    """(id, band_id, band_hash): md5 over each band's signature slice."""
    bands = [
        F.struct(
            F.lit(band).alias("band_id"),
            F.md5(
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"sig_{band * BAND_ROWS + r}").cast("string")
                        for r in range(BAND_ROWS)
                    ],
                )
            ).alias("band_hash"),
        )
        for band in range(NUM_BANDS)
    ]
    return signatures.select(
        F.col(id_col), F.explode(F.array(*bands)).alias("b")
    ).select(id_col, "b.band_id", "b.band_hash")


def _salt(id_col: str, cap: int) -> Column:
    """Sub-bucket of a member of a bucket of ``_bn`` members:
    ``pmod(stable_token_hash(id), ceil(_bn / cap))``, so 0 everywhere at or
    below ``cap``. md5-derived (``stable_token_hash``), not xxhash64: the
    repo's cross-engine hashing convention, so a capped variant stays
    oracle-replicable in DuckDB."""
    if cap < 1:
        raise ValueError(f"bucket cap must be >= 1, got {cap}")
    return F.pmod(
        stable_token_hash(F.col(id_col).cast("string")),
        F.expr(f"cast(ceil(_bn / {int(cap)}) as long)"),
    )


def salt_hot_buckets(
    df: DataFrame, bucket_keys: list[str], id_col: str, cap: int
) -> DataFrame:
    """Append a ``_salt`` column splitting buckets larger than ``cap``
    members into ceil(n/cap) hash-assigned sub-buckets (salt 0 everywhere
    else). A subsequent self-join on ``bucket_keys + ["_salt"]`` bounds
    per-task pair work to ~cap² instead of |hot bucket|² — the defense
    against a degenerate corpus (one bucket holding 10% of all rows)
    where AQE skew splitting fixes task PLACEMENT but not the quadratic
    pair count itself.

    The bucket-size aggregate is bucket-cardinality sized and joins back
    on the same key the self-join shuffles on, so it adds no extra
    corpus-sized shuffle. Trade-off (documented, opt-in): pairs whose
    members hash to different sub-buckets are lost."""
    salt = _salt(id_col, cap)
    sizes = df.groupBy(*bucket_keys).agg(F.count(F.lit(1)).alias("_bn"))
    return df.join(sizes, bucket_keys).withColumn("_salt", salt).drop("_bn")


def lsh_candidate_pairs(
    bands: DataFrame, id_col: str, bucket_cap: int | None = None
) -> DataFrame:
    """Distinct unordered candidate pairs (id_a < id_b): the docs that
    share an LSH bucket (MMDS ch.3).

    One grouping by (band_id, band_hash) collects each bucket's members,
    and the pairs of every bucket of two or more are enumerated by two
    explodes. The bands frame is read once: a self-join reads it on both
    sides, and a broadcast build side is never reused, so the band kernel
    upstream ran twice.

    A pathological hot bucket (all-identical docs) has two defenses: AQE
    skew splitting (session default, fixes task placement) and the opt-in
    ``bucket_cap`` salting tier, which bounds the pair COUNT by splitting
    each over-full bucket's members into ceil(n/cap) sub-buckets (the
    ``salt_hot_buckets`` salt) and regrouping on the salt, at a marginal
    recall cost: pairs split across sub-buckets are lost, which is
    acceptable for LSH where other bands re-propose them, and moot for the
    all-identical-doc hot bucket because the exact-dedup tier ahead of LSH
    in ``pipeline_clean_corpus`` removes identical docs before banding.
    Capping only ever removes candidates — never invents them — so the
    verify stage's output stays a subset of the uncapped run's."""
    keys = ["band_id", "band_hash"]
    buckets = bands.groupBy(*keys).agg(F.collect_list(id_col).alias("_ids"))
    if bucket_cap is not None:
        buckets = (
            buckets.filter(F.size("_ids") >= 2)
            .select(*keys, F.size("_ids").alias("_bn"), F.explode("_ids").alias(id_col))
            .withColumn("_salt", _salt(id_col, bucket_cap))
            .groupBy(*keys, "_salt")
            .agg(F.collect_list(id_col).alias("_ids"))
        )
    return (
        buckets.filter(F.size("_ids") >= 2)
        .select(F.explode("_ids").alias("id_a"), "_ids")
        .select("id_a", F.explode("_ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, shingles: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard on candidate pairs via the inverted shingle table."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_verify_exact(
    pairs: DataFrame,
    shingles: DataFrame,
    id_col: str,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """Exact Jaccard >= t_num/t_den on candidate pairs — integer-only.

    Emits (id_a, id_b, n_common, n_union); the threshold is applied as
    ``t_den * n_common >= t_num * n_union`` so there is no floating point
    anywhere — the result hashes identically across engines (the SQL
    oracles in __spark_entry__ use the same inequality).
    """
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = shingles.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingles.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_common"))
        .filter(F.lit(t_den) * F.col("n_common") >= F.lit(t_num) * F.col("n_union"))
        .select("id_a", "id_b", "n_common", "n_union")
    )


def doc_shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingles array<string>, n_shingles) — one row per doc, no explode."""
    arr = word_ngrams(text_col, n)
    return df.select(
        F.col(id_col), arr.alias("shingles"), F.size(arr).alias("n_shingles")
    )


def jaccard_verify_arrays(
    pairs: DataFrame,
    docs_arr: DataFrame,
    id_col: str,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """Exact integer Jaccard on candidate pairs via ``array_intersect`` —
    two joins against the per-doc shingle-array table (candidate-count
    sized, tiny after LSH) instead of re-exploding every shingle.
    """
    a = docs_arr.select(
        F.col(id_col).alias("id_a"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
    )
    b = docs_arr.select(
        F.col(id_col).alias("id_b"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("n_b"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_common"))
        .filter(F.lit(t_den) * F.col("n_common") >= F.lit(t_num) * F.col("n_union"))
        .select("id_a", "id_b", "n_common", "n_union")
    )


# Per-doc ``array<struct<band_id, band_hash>>`` over ``shingles``, as ONE
# parsed SQL expression: built from Column nodes, the same tree cost one
# py4j round trip per node (~160 ms a call). A single ``aggregate`` does:
# shingles → h0 array (one md5 each, the ``stable_token_hash`` math) → fold
# to the NUM_PERM per-permutation minima → ``finish`` builds the band
# structs from the already-computed accumulator. Separate per-permutation
# ``transform``s would re-hash every shingle once per permutation (lambdas
# can't share subexpressions across columns). Plain integer literals
# coerce exactly as ``F.lit`` does (int below 2^31, bigint above).
_BANDS_KERNEL = (
    "aggregate("
    "transform(shingles, s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)), "
    f"array_repeat(CAST({MINHASH_P} AS BIGINT), {NUM_PERM}), "
    f"(acc, h) -> zip_with(acc, sequence(1, {NUM_PERM}), (cur, i) -> least(cur, "
    f"(element_at(array({', '.join(str(a) for a, _ in MINHASH_COEF)}), CAST(i AS INT)) * h "
    f"+ element_at(array({', '.join(str(b) for _, b in MINHASH_COEF)}), CAST(i AS INT))) "
    f"% {MINHASH_P})), "
    f"sig -> transform(sequence(0, {NUM_BANDS - 1}), b -> struct(CAST(b AS INT) AS band_id, "
    "md5(concat("
    + ", '-', ".join(
        f"CAST(element_at(sig, CAST(b * {BAND_ROWS} AS INT) + {r + 1}) AS STRING)"
        for r in range(BAND_ROWS)
    )
    + ")) AS band_hash)))"
)


def lsh_bands_mapside(
    docs_arr: DataFrame, id_col: str, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(id, band_id, band_hash) computed in ONE map-side expression with the
    token hash evaluated ONCE per shingle (``_BANDS_KERNEL``).

    Same band hashes as ``lsh_bands(minhash_signatures(...))``
    (agreement-tested), zero shuffle, one hash per shingle. Docs with no
    shingles are excluded (they can't match anything).
    """
    extra = [F.col(c) for c in keep_cols]
    return (
        docs_arr.filter(F.col("n_shingles") > 0)
        .select(F.col(id_col), *extra, F.explode(F.expr(_BANDS_KERNEL)).alias("b"))
        .select(id_col, *keep_cols, "b.band_id", "b.band_hash")
    )


def shingles_shared(df: DataFrame, id_col: str, text_col: str, n: int = 3):
    """(arrays_frame, exploded_frame) computed from ONE materialization.

    The shingle pipeline (tokenize → n-grams → distinct) is the expensive
    map-side step and both the signature path (exploded) and the verify
    path (arrays) need it; it is persist()ed so both branches share one
    computation. persist, NOT localCheckpoint: the checkpoint's RDD
    conversion drops out of AQE/codegen and measured 6x slower end-to-end
    at sf0.1 (the same lesson as pagerank's finalization). The cache is
    LRU-evictable; at cluster scale with executor churn swap for a
    reliable checkpoint dir (eviction/loss recomputes the branch).

    The persisted frame is registered with ``affinity_spark.cache`` —
    callers owning the action cadence call ``cache.release_shared()``
    after consuming the result so long-lived sessions don't accumulate
    cache entries (which Spark substitutes into later equal plans).
    """
    from affinity_spark.cache import track

    arrs = track(doc_shingle_arrays(df, id_col, text_col, n).persist())
    exploded = arrs.select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    ).withColumn("h0", stable_token_hash(F.col("shingle")))
    return arrs, exploded


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, exact jaccard >= threshold) found
    through MinHash-LSH candidate generation."""
    sh = shingle_table(df, id_col, text_col, n)
    sig = minhash_signatures(sh, id_col)
    cand = lsh_candidate_pairs(lsh_bands(sig, id_col), id_col)
    return jaccard_verify(cand, sh.select(id_col, "shingle"), id_col, threshold)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold via the inverted shingle index.

    No LSH: candidates are every pair sharing >=1 shingle. Right answer on
    any data; cost grows with shingle co-occurrence, so at 100 TB this is
    the verifier / golden oracle while minhash_lsh_dedup is the scale path.
    """
    sh = shingle_table(df, id_col, text_col, n).select(id_col, "shingle")
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    pairs = (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return jaccard_verify(pairs, sh, id_col, threshold)


# --- simhash ----------------------------------------------------------------

SIMHASH_BITS = 32


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """32-bit SimHash per doc (Charikar 2002): bit j of the fingerprint is
    the sign of sum over shingles of (2*bit_j(h0)-1). Integer math on md5
    hashes → engine-portable. One explode + one hash aggregate."""
    sh = shingle_table(df, id_col, text_col, n)
    aggs = [
        F.sum(
            (F.shiftright(F.col("h0"), j) % 2) * 2 - 1
        ).alias(f"s_{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = sh.groupBy(id_col).agg(*aggs)
    fp = None
    for j in range(SIMHASH_BITS):
        bit = F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return sums.select(F.col(id_col), fp.cast("long").alias("simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Pigeonhole bucketing: split the 32 bits into (max_hamming+1) chunks —
    any pair within the radius agrees on >=1 full chunk — join per chunk,
    verify with bit_count(xor). Linear-ish like LSH banding.
    """
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    mask = (1 << width) - 1
    parts = [
        F.struct(
            F.lit(c).alias("chunk_id"),
            (F.shiftright(F.col("simhash"), c * width) % F.lit(mask + 1)).alias("chunk_val"),
        )
        for c in range(chunks)
    ]
    chunked = fingerprints.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*parts)).alias("c")
    ).select(id_col, "simhash", "c.chunk_id", "c.chunk_val")
    a = chunked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk_id", "chunk_val"
    )
    b = chunked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk_id", "chunk_val"
    )
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("sh_a ^ sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def hamming_near_pairs(
    fingerprints: DataFrame,
    id_col: str,
    fp_col: str,
    bits: int,
    max_hamming: int = 3,
) -> DataFrame:
    """Generalized pigeonhole near-dup pairs over ``bits``-wide integer
    fingerprints (the :func:`simhash_near_pairs` machinery for any
    fingerprint column — perceptual image hashes included): split the
    bits into (max_hamming+1) disjoint chunks, any pair within the radius
    agrees on >= 1 full chunk, join per chunk, verify with
    bit_count(xor). ``bits`` must stay <= 63 so the fingerprint is
    non-negative in every engine (DuckDB refuses 1<<63)."""
    if not 0 < bits <= 63:
        raise ValueError("bits must be in (0, 63]")
    chunks = max_hamming + 1
    width = -(-bits // chunks)  # ceil: last chunk may be narrower
    parts = [
        F.struct(
            F.lit(c).alias("chunk_id"),
            (
                F.shiftright(F.col(fp_col), c * width)
                % F.lit(1 << min(width, bits - c * width))
            ).alias("chunk_val"),
        )
        for c in range(chunks)
    ]
    chunked = fingerprints.select(
        F.col(id_col), F.col(fp_col), F.explode(F.array(*parts)).alias("c")
    ).select(id_col, fp_col, "c.chunk_id", "c.chunk_val")
    a = chunked.select(
        F.col(id_col).alias("id_a"), F.col(fp_col).alias("fp_a"),
        "chunk_id", "chunk_val",
    )
    b = chunked.select(
        F.col(id_col).alias("id_b"), F.col(fp_col).alias("fp_b"),
        "chunk_id", "chunk_val",
    )
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "fp_a", "fp_b")
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("fp_a ^ fp_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# --- corpus-level line (boilerplate) dedup ----------------------------------


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_chars: int = 24,
    max_lev_bp: int = 2000,
) -> DataFrame:
    """Record-linkage tier: prefix-blocked Levenshtein near-dup pairs.

    Blocking key = first ``block_chars`` chars of the whitespace-normalized
    text (the classic record-linkage move: candidates share a block, cost
    is Σ|block|², never n²); verification = exact edit distance as basis
    points of the longer doc, ``lev * 10000 div max(len)``. Complements
    the set-based tiers (minhash/simhash/winnow measure shared content
    regardless of order; edit distance measures sequence-preserving
    near-identity — the right notion for template drift and small edits).

    Levenshtein is built-in on both Spark and DuckDB with identical
    character semantics, so pairs are engine-exact. O(len²) per pair is
    the verifier-tier price — candidates only, never the corpus.
    Returns ``(id_a, id_b, lev, lev_bp)`` with id_a < id_b.
    """
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    # empty-normalized docs are excluded: they all share block '' and have
    # max(len)=0, so the bp division would be x/0 (ANSI: job-killing) and
    # "near-duplicate of nothing" is meaningless anyway. The oracle filters
    # identically so both engines agree on the row set.
    t = df.select(
        F.col(id_col).alias("_id"),
        norm.alias("_norm"),
        F.substring(norm, 1, block_chars).alias("_blk"),
    ).where(F.length("_norm") > 0)
    a = t.select(
        F.col("_id").alias("id_a"), F.col("_norm").alias("_na"), F.col("_blk")
    )
    b = t.select(
        F.col("_id").alias("id_b"), F.col("_norm").alias("_nb"), F.col("_blk")
    )
    # lev materialized ONCE before bp derivation — levenshtein is the
    # expensive term and a second column reference would recompute it
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein(F.col("_na"), F.col("_nb")).cast("long").alias("lev"),
            F.greatest(F.length("_na"), F.length("_nb")).cast("long").alias("_mx"),
        )
        .select(
            "id_a", "id_b", "lev", F.expr("(lev * 10000) div _mx").alias("lev_bp")
        )
        .filter(F.col("lev_bp") <= max_lev_bp)
    )


def line_dedup(
    df: DataFrame, id_col: str, text_col: str, max_doc_freq: int
) -> DataFrame:
    """Remove boilerplate LINES that occur in more than ``max_doc_freq``
    distinct documents (the CCNet/RefinedWeb paragraph-dedup move: headers,
    footers, cookie banners — repeated across a corpus — vanish while each
    document's unique prose survives in original order).

    Shape: posexplode lines → line document-frequency agg → anti-join the
    (small) boilerplate set → regroup per document. The boilerplate side of
    the anti-join is an aggregate output tiny relative to the corpus, so
    AQE broadcasts it — the only corpus-sized exchanges are the line-df agg
    and the per-document regroup. Docs whose every line is boilerplate drop
    out of the result (count them upstream if that matters).

    Returns (id, n_lines, n_kept, n_dropped, clean_md5) with ``clean_md5``
    the digest of the surviving lines rejoined with '\\n' in order.
    """
    lines = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.count_distinct(F.col(id_col)).alias("ndocs"))
        .filter(F.col("ndocs") > max_doc_freq)
        .select("line")
    )
    kept = lines.join(boiler, "line", "left_anti")
    ordered = F.array_sort(F.collect_list(F.struct("pos", "line")))
    return kept.groupBy(id_col).agg(
        F.first("n_lines").alias("n_lines"),
        F.count(F.lit(1)).alias("n_kept"),
        (F.first("n_lines") - F.count(F.lit(1))).alias("n_dropped"),
        F.md5(
            F.array_join(F.transform(ordered, lambda s: s["line"]), "\n")
        ).alias("clean_md5"),
    )


# --- exact-substring (repeated-window) tier ---------------------------------


def repeated_windows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    win: int = 40,
    stride: int = 20,
) -> DataFrame:
    """Cross-document repeated character windows — the exact-substring
    dedup signal (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", public): verbatim runs that recur across
    documents (boilerplate, licenses, templated spans) which doc-level
    MinHash misses when the surrounding text differs.

    Window POSITIONS are content-anchored by winnowing (Schleimer et al.
    2003, via ``text.winnow_fingerprints`` with k=win, w=stride): every
    ``win``-char gram is hashed, each ``stride``-window keeps its minimum.
    That gives the MOSS guarantee — any cross-doc verbatim run of length
    >= win + stride - 1 yields a SHARED selected fingerprint regardless of
    where the run sits in each document. (A strided position sample, the
    obvious first cut, silently misses runs whose offsets differ mod
    stride — ~(stride-1)/stride of real placements; caught in round-4
    review and pinned by the phase-misalignment test.)

    Returns ``(win_hash, n_docs)`` for fingerprints selected by >= 2
    distinct docs. Scale shape: gram hashing and winnow selection are
    single-expression map-side work over the let-bound char split (O(1)
    slices, never substring's O(n²) byte-scan); the only shuffle is ONE
    hash aggregate on the 8-byte fingerprint, ~2/(stride+1) of gram count.
    """
    from affinity_spark.functions.text import winnow_fingerprints

    fps = df.select(
        F.col(id_col),
        F.explode(
            winnow_fingerprints(F.col(text_col), k=win, w=stride)
        ).alias("win_hash"),
    )
    return (
        fps.groupBy("win_hash")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )


def span_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    win: int = 40,
    stride: int = 20,
) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. 2022 §4.1, public): where
    ``repeated_windows`` only *detects* cross-document verbatim runs, this
    excises them and re-emits cleaned documents, keeping each duplicated
    span verbatim in exactly one canonical document.

    Shape (all relational — no UDF, no driver loop):

    1. winnow_encoded anchors window selection to CONTENT (min-hash per
       stride window, hash and offset packed in one primitive long), so
       any cross-doc verbatim run of length >= win + stride - 1 selects
       the SAME fingerprint at the aligned offset in every copy, wherever
       the run sits (MOSS guarantee; position-strided sampling is
       phase-fragile — the r4 lesson).
    2. one hash aggregate per fingerprint finds cross-doc hashes and
       elects the keeper = min(doc_id) — every other doc's occurrences
       become cut intervals [pos, pos+win).
    3. per-doc interval merge by gaps-and-islands (running max-end window,
       island counter), because consecutive winnow selections inside one
       long run overlap (win > stride) and must excise as ONE span.
    4. excision is relational too: lag(end) gives each kept segment's
       start, a tail segment closes the doc, and an ordered array_join
       reassembles the cleaned text. Cleaning operates on the NORMALIZED
       text (lowercase, whitespace-collapsed) — the same representation
       the fingerprints hash, so offsets are exact; Lee et al. likewise
       dedup a normalized token stream, not display text.

    Returns every input doc: (id, clean_text, n_spans, removed_chars);
    unaffected docs pass through with n_spans = 0. At 100 TB: winnowing
    is map-side over the let-bound char split; the fingerprint agg and
    the join back are shuffles on the 8-byte hash; interval merge and
    reassembly shuffle on doc_id — O(selected fingerprints), never
    O(text²). The keeper election broadcast-joins when the duplicated
    fingerprint set is small (AQE decides).
    """
    from pyspark.sql import Window

    from affinity_spark import cache
    from affinity_spark.functions.text import (
        winnow_decode_hash,
        winnow_decode_pos,
        winnow_encoded,
    )

    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    base = df.select(F.col(id_col), norm.alias("_norm"))
    # Packed-long winnowing (hash*2^31+pos) — the struct formulation was a
    # measured scale cliff (interpreted HOF deep-compares; 921 s at a 30x
    # corpus). Decode is a plain codegen'd projection after the explode.
    # The winnow map is this operator's expensive derivation and BOTH the
    # keeper-election aggregate and the cut join consume it, so persist it
    # (the dedup_winnow_pairs precedent: 16.9 -> 8.6 s at 10x).
    fps = cache.track(
        base.select(
            id_col,
            F.explode(winnow_encoded(F.col("_norm"), k=win, w=stride)).alias("_enc"),
        )
        .select(
            id_col,
            winnow_decode_hash(F.col("_enc")).alias("win_hash"),
            winnow_decode_pos(F.col("_enc")).alias("pos"),
        )
        .persist()
    )

    dup = (
        fps.groupBy("win_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.min(id_col).alias("keeper"),
        )
        .filter(F.col("n_docs") >= 2)
        .select("win_hash", "keeper")
    )

    cuts = (
        fps.join(dup, "win_hash")
        .filter(F.col(id_col) != F.col("keeper"))
        .select(
            id_col,
            F.col("pos").alias("s"),
            (F.col("pos") + F.lit(win)).alias("e"),
        )
        .distinct()
    )

    # gaps-and-islands merge: a new island starts where this interval's
    # start clears the running max end of everything before it
    by_start = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max_e = F.max("e").over(
        by_start.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = cuts.withColumn(
        "_new", F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0)
    ).withColumn("_island", F.sum("_new").over(by_start))
    # Tiny (affected docs only) but consumed by both the head-segment branch
    # and the doc-stats branch — persist so the cut join + windows run once.
    spans = cache.track(
        islands.groupBy(id_col, "_island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .persist()
    )

    # kept segment BEFORE each span: chars [prev_e, s) of the normalized
    # text; substring is 1-based and char-correct in both engines. Only a
    # handful of substrings per doc, so substring's byte-scan is fine here
    # (the O(n²) trap is per-GRAM substrings).
    by_s = Window.partitionBy(id_col).orderBy("s")
    segs = spans.withColumn("_prev_e", F.lag("e", 1, 0).over(by_s))
    heads = segs.join(base, id_col).select(
        id_col,
        F.col("s").alias("ord"),
        F.substring(
            F.col("_norm"), F.col("_prev_e") + 1, F.col("s") - F.col("_prev_e")
        ).alias("piece"),
    )
    doc_stats = spans.groupBy(id_col).agg(
        F.max("e").alias("_last_e"),
        F.sum(F.col("e") - F.col("s")).alias("removed_chars"),
        F.count(F.lit(1)).alias("n_spans"),
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("spans"),
    )
    tails = doc_stats.join(base, id_col).select(
        id_col,
        F.length("_norm").alias("ord"),
        F.substring(
            F.col("_norm"), F.col("_last_e") + 1, F.greatest(F.length("_norm") - F.col("_last_e"), F.lit(0))
        ).alias("piece"),
    )
    cleaned = (
        heads.unionByName(tails)
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord", "piece"))),
                    lambda x: x["piece"],
                ),
                "",
            ).alias("clean_text")
        )
        .join(doc_stats.select(id_col, "removed_chars", "n_spans", "spans"), id_col)
    )

    # One LEFT join from base covers touched and untouched docs alike, so
    # ``cleaned`` (and everything upstream of it) appears in the plan ONCE —
    # the anti-join + union form referenced it twice and recomputed it.
    empty_spans = F.array().cast("array<struct<s:bigint,e:bigint>>")
    return base.join(cleaned, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("clean_text"), F.col("_norm")).alias("clean_text"),
        F.coalesce(F.col("removed_chars").cast("long"), F.lit(0).cast("long")).alias(
            "removed_chars"
        ),
        F.coalesce(F.col("n_spans").cast("long"), F.lit(0).cast("long")).alias("n_spans"),
        F.coalesce(
            F.col("spans").cast("array<struct<s:bigint,e:bigint>>"), empty_spans
        ).alias("spans"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_bp: int = 2000,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    ``|A ∩ B| / |A|`` per direction, in basis points — the measure that
    catches a document EMBEDDED in a larger one (quotes, concatenations,
    page-of-posts), where symmetric Jaccard stays low because the union is
    dominated by the larger doc (Broder's containment, public).

    Candidates come from the inverted shingle index (the verifier tier —
    at 100 TB feed LSH candidates in instead); output keeps both
    directions' containment so the caller can tell "A inside B" from
    mutual overlap. Pure integer arithmetic: any engine reproduces the
    basis points exactly. Pairs emit when EITHER direction reaches
    ``threshold_bp``.
    """
    sh = shingle_table(df, id_col, text_col, n).select(id_col, "shingle")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_common",
            F.expr("(n_common * 10000) div n_a").alias("cont_a_bp"),
            F.expr("(n_common * 10000) div n_b").alias("cont_b_bp"),
        )
        .filter(
            (F.col("cont_a_bp") >= threshold_bp)
            | (F.col("cont_b_bp") >= threshold_bp)
        )
    )


def rare_key_pairs(
    keyed: DataFrame,
    key_col: str,
    id_col: str,
    max_df: int,
    min_shared: int = 1,
) -> DataFrame:
    """Candidate pairs of ids sharing >= ``min_shared`` RARE keys
    (fingerprints, shingles, band hashes): keys held by more than
    ``max_df`` ids are dropped first — MOSS's df-cutoff, the guard that
    bounds the pair quadratic at corpus scale.

    Plan shape (the reason this exists instead of the naive
    df-filter + self-join): pairs are enumerated from per-key posting
    lists built by a collect_list that is CO-PARTITIONED with the df
    join (no extra exchange) and runs only on kept groups, so its memory
    is bounded by ``max_df`` and the per-key pair work by ~max_df²/2.
    Full-size shuffles: the postings-by-key exchange and the final pair
    aggregate — the df-count exchange is combiner-shrunk to ~distinct
    keys by partial aggregation. The self-join shape shuffled the full
    postings frame two MORE times (each renamed side) and its reducer
    saw df² rows for any still-hot key.

    ``keyed`` must be unique per (id, key) — dedupe upstream if a key can
    repeat within one id (winnow fingerprints and distinct shingles
    already are). Output: (id_a, id_b, n_shared), id_a < id_b.
    """
    dfc = keyed.groupBy(key_col).agg(F.count(F.lit(1)).alias("_df"))
    kept = keyed.join(
        dfc.filter(F.col("_df") <= max_df).select(key_col), key_col
    )
    ids = kept.groupBy(key_col).agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("_ids")
    )
    combos = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size("_ids") - 1),
            lambda i: F.transform(
                F.sequence(i + 1, F.size("_ids")),
                lambda j: F.struct(
                    F.get(F.col("_ids"), i - 1).alias("id_a"),
                    F.get(F.col("_ids"), j - 1).alias("id_b"),
                ),
            ),
        )
    )
    pairs = (
        ids.filter(F.size("_ids") >= 2)
        .select(F.explode(combos).alias("_p"))
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
    )
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(min_shared))
    )


def ppjoin_pairs(
    docs_arr: DataFrame,
    id_col: str,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """EXACT all-pairs Jaccard >= t_num/t_den via prefix filtering (the
    PPJoin family, Xiao et al. 2008, public) — same output as the full
    inverted-shingle join (``ngram_jaccard`` shape), a fraction of the
    candidate work.

    The pruning theorems (all exactness-preserving):
    - LENGTH filter: J(x,y) >= t implies t·max(|x|,|y|) <= min(|x|,|y|);
      pairs outside the band never reach the verify.
    - PREFIX filter: order every doc's shingles by ONE global total order
      (document frequency ascending, then shingle text — rarest first
      maximizes pruning); if J(x,y) >= t, the first
      |x| - ceil(t·|x|) + 1 shingles of x and of y must intersect. Only
      those prefixes are indexed, so the candidate join touches
      ~(1 - t)·postings instead of all of them, and rare-first ordering
      makes the indexed shingles the most selective ones.
    - POSITIONAL filter (the "pp"): per candidate, let w be the
      globally-largest prefix-prefix match, with ranks i=rank_x(w),
      j=rank_y(w), and n_pp the exact count of prefix-prefix matches.
      Any shared token outside both prefixes is globally > w (if it were
      < w it would rank below the prefix cut in BOTH docs and be a
      prefix match itself), so true overlap <= n_pp + min(|x|-i, |y|-j).
      Candidates whose bound can't reach ceil(t(|x|+|y|)/(1+t)) are
      dropped before the array-intersect verify — the dedup groupBy that
      replaced ``distinct`` computes the bound in the SAME shuffle.

    Candidates then pay the exact verify (``jaccard_verify_arrays``), so
    the result is bit-identical to the exhaustive join — the DuckDB
    oracle for this operator IS the exhaustive join, which hash-fails on
    any dropped true pair (false-negative detection, not just shape).

    ``docs_arr`` is the (id, shingles, n_shingles) frame from
    :func:`doc_shingle_arrays`. Integer threshold arithmetic throughout.

    Measured at sf0.1 (BASELINE.md): 3.6x fewer candidates than the
    exhaustive join from the prefix filter, then a further 2.6x from the
    positional filter (309,803 -> 119,907 pairs reaching the verify;
    warm query time ~7.1 s -> ~3.2 s), identical pairs. The global-df
    rank adds one postings groupBy + a per-doc window, which is
    postings-LINEAR - at tiny corpora it costs about what the pruned
    verify saves, so prefer the exhaustive join under ~10^4 docs and
    PPJoin above.
    """
    from pyspark.sql import Window

    sh = docs_arr.select(
        F.col(id_col), F.explode("shingles").alias("shingle")
    )
    dfc = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w = Window.partitionBy(id_col).orderBy(F.asc("_df"), F.asc("shingle"))
    ranked = (
        sh.join(dfc, "shingle")
        .withColumn("_rn", F.row_number().over(w))
    )
    sized = ranked.join(
        docs_arr.select(F.col(id_col), F.col("n_shingles").alias("_n")), id_col
    )
    # prefix length = n - ceil(t*n) + 1, integer ceil = (a + b - 1) div b
    prefix = sized.filter(
        F.col("_rn")
        <= F.col("_n")
        - F.expr(f"({t_num} * _n + {t_den} - 1) div {t_den}")
        + F.lit(1)
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "shingle",
        F.col("_n").alias("n_a"), F.col("_rn").alias("rn_a"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "shingle",
        F.col("_n").alias("n_b"), F.col("_rn").alias("rn_b"),
    )
    cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: t * max <= min, else J < t with no verify needed
        .filter(
            F.lit(t_den) * F.least("n_a", "n_b")
            >= F.lit(t_num) * F.greatest("n_a", "n_b")
        )
        # POSITIONAL filter (the "pp" in PPJoin), replacing the plain
        # distinct with the same-shuffle aggregate: ranks are monotone in
        # the global token order, so every shared token <= the largest
        # prefix-prefix match w sits inside BOTH prefixes (counted exactly
        # by n_pp) and every shared token > w has rank > i/j in each doc,
        # bounded by min(|x|-i_max, |y|-j_max). Candidates whose bound
        # can't reach the required overlap ceil(t(|x|+|y|)/(1+t)) never
        # pay the array-intersect verify. Exactness: bound >= true
        # overlap, so no true pair is dropped.
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("_npp"),
            F.max("rn_a").alias("_ia"),
            F.max("rn_b").alias("_jb"),
            F.first("n_a").alias("_na"),
            F.first("n_b").alias("_nb"),
        )
        .filter(
            F.col("_npp")
            + F.least(F.col("_na") - F.col("_ia"), F.col("_nb") - F.col("_jb"))
            >= F.expr(
                f"({t_num} * (_na + _nb) + {t_num} + {t_den} - 1) "
                f"div ({t_num} + {t_den})"
            )
        )
        .select("id_a", "id_b")
    )
    return jaccard_verify_arrays(cand, docs_arr, id_col, t_num, t_den)


def incremental_lsh_pairs(
    existing_arr: DataFrame,
    new_arr: DataFrame,
    id_col: str,
    t_num: int,
    t_den: int,
) -> DataFrame:
    """Dedup an INCOMING BATCH against an existing corpus: LSH band
    buckets of the new docs probe the existing docs' band buckets, so
    candidates are (new x existing) matches only - never all-pairs and
    never existing x existing (the corpus was already deduped when it
    was admitted). This is the daily-increment shape of corpus dedup at
    scale: the existing side's bands are a MAINTAINED table (the batch
    analogue of ``streaming/dedup_stream.py``'s online band state, and
    the same maintained-index architecture as ``operators/postings.py``),
    and each increment's cost is O(batch bands + matched buckets),
    independent of corpus size. The new batch's bands are broadcast -
    a day's increment is tiny next to the accumulated corpus, so the
    existing band table is never shuffled.

    Returns (new_id, dup_of, n_common, n_union) for exact integer
    Jaccard >= t_num/t_den - one row per (new doc, existing near-dup);
    a clean new doc appears in no row. Band hashes are bit-identical to
    ``lsh_bands_mapside`` on any subset (banding is per-doc), so the
    DuckDB oracle bands the full corpus once and restricts the join
    sides.
    """
    eb = lsh_bands_mapside(existing_arr, id_col).select(
        F.col(id_col).alias("dup_of"), "band_id", "band_hash"
    )
    nb = lsh_bands_mapside(new_arr, id_col).select(
        F.col(id_col).alias("new_id"), "band_id", "band_hash"
    )
    cand = (
        F.broadcast(nb)
        .join(eb, ["band_id", "band_hash"])
        .select("new_id", "dup_of")
        .distinct()
    )
    a = new_arr.select(
        F.col(id_col).alias("new_id"),
        F.col("shingles").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
    )
    b = existing_arr.select(
        F.col(id_col).alias("dup_of"),
        F.col("shingles").alias("sh_b"),
        F.col("n_shingles").alias("n_b"),
    )
    return (
        cand.join(a, "new_id")
        .join(b, "dup_of")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_common"))
        .filter(F.lit(t_den) * F.col("n_common") >= F.lit(t_num) * F.col("n_union"))
        .select("new_id", "dup_of", "n_common", "n_union")
    )
