"""Dedup operators: exact groups, shingles, MinHash-LSH recall vs exact
Jaccard, SimHash stability."""

from __future__ import annotations

from pyspark.sql import functions as F

from affinity_spark.operators import dedup as dd


def _corpus(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")  # high-Jaccard near-duplicate
    far = "completely different content about spark query engines and shuffles"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, far),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_dedup_exact_groups(spark):
    got = dd.dedup_exact(_corpus(spark), "doc_id", "text").collect()
    sizes = sorted(r.n_copies for r in got)
    assert sizes == [1, 1, 1, 2]
    dup_group = [r for r in got if r.n_copies == 2][0]
    assert dup_group.keep_id == 1


def test_shingle_table_distinct_per_doc(spark):
    sh = dd.shingle_table(_corpus(spark), "doc_id", "text", 3)
    rows = sh.filter(F.col("doc_id") == 1).collect()
    shingles = [r.shingle for r in rows]
    assert len(shingles) == len(set(shingles))
    assert "the quick brown" in shingles
    # 14 tokens -> 12 trigrams (all distinct here)
    assert len(shingles) == 12
    # h0 is a stable 32-bit non-negative hash
    assert all(0 <= r.h0 < (1 << 32) for r in rows)


def test_minhash_lsh_finds_near_dups(spark):
    docs = _corpus(spark)
    sh = dd.shingle_table(docs, "doc_id", "text", 3)
    sig = dd.minhash_signatures(sh, "doc_id")
    cand = dd.lsh_candidate_pairs(dd.lsh_bands(sig, "doc_id"), "doc_id")
    verified = dd.jaccard_verify_exact(cand, sh.select("doc_id", "shingle"), "doc_id", 1, 2)
    pairs = {(r.id_a, r.id_b) for r in verified.collect()}
    assert (1, 2) in pairs  # exact dup: J = 1
    assert (1, 3) in pairs  # near dup: J well above 1/2
    for a, b in pairs:
        assert a < b
    assert not any(4 in p or 5 in p for p in pairs)


def test_jaccard_verify_exact_values(spark):
    docs = _corpus(spark)
    sh = dd.shingle_table(docs, "doc_id", "text", 3).select("doc_id", "shingle")
    cand = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "id_a int, id_b int")
    got = {
        (r.id_a, r.id_b): (r.n_common, r.n_union)
        for r in dd.jaccard_verify_exact(cand, sh, "doc_id", 0, 1).collect()
    }
    # identical docs: J = 1
    n_common, n_union = got[(1, 2)]
    assert n_common == n_union
    # near-dup: the final token differs -> only the last trigram differs
    n_common, n_union = got[(1, 3)]
    assert n_common == 11 and n_union == 13
    # disjoint pair is dropped entirely by the shingle equi-join
    assert (1, 4) not in got


def test_simhash_near_dups_close_in_hamming(spark):
    fp = {
        r.doc_id: r.simhash
        for r in dd.simhash_fingerprints(_corpus(spark), "doc_id", "text", 3).collect()
    }
    assert fp[1] == fp[2]  # identical text -> identical fingerprint

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(fp[1], fp[3]) <= 8  # near dup within 8/32 bits
    assert hamming(fp[1], fp[4]) > 8  # unrelated doc far away
    assert all(0 <= v < (1 << 32) for v in fp.values())


def test_lsh_bands_mapside_agrees_with_groupby_path(spark):
    """The single-expression band builder must produce bit-identical
    (id, band_id, band_hash) rows to lsh_bands(minhash_signatures(...))."""
    import affinity_spark.operators.dedup as dd

    docs = _corpus(spark)
    sh = dd.shingle_table(docs, "doc_id", "text", 3)
    ref = {
        tuple(r)
        for r in dd.lsh_bands(dd.minhash_signatures(sh, "doc_id"), "doc_id").collect()
    }
    arrs = dd.doc_shingle_arrays(docs, "doc_id", "text", 3)
    new = {tuple(r) for r in dd.lsh_bands_mapside(arrs, "doc_id").collect()}
    assert ref == new and ref


def test_edit_distance_pairs_blocked_and_exact(spark):
    from affinity_spark.operators.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base),
        (2, base.replace("lazy", "hazy")),        # same 24-char prefix, lev 1
        (3, base.replace("quick", "slow")),       # prefix differs -> other block
        (4, "completely different text that shares nothing at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b): (r.lev, r.lev_bp) for r in
           edit_distance_pairs(df, "doc_id", "text", 24, 2000).collect()}
    assert (1, 2) in got and got[(1, 2)][0] == 1
    # bp = 1 * 10000 // len(base)
    assert got[(1, 2)][1] == 10000 // len(base)
    # doc 3 fell in a different block: never compared despite similarity
    assert all(3 not in pair for pair in got)
    assert all(4 not in pair for pair in got)


def test_edit_distance_pairs_survives_empty_documents(spark):
    """Two empty/whitespace docs share block '' with max-len 0 — the ANSI
    division guard (review finding): they are excluded, not job-killing."""
    from affinity_spark.operators.dedup import edit_distance_pairs

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "real text here okay"), (4, "real text here okay!")],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b) for r in
           edit_distance_pairs(df, "doc_id", "text", 10, 5000).collect()}
    assert got == {(3, 4)}


def test_repeated_windows_finds_cross_doc_runs_only(spark):
    """A verbatim run shared by two docs must surface; within-doc repeats
    alone (n_docs=1) must not."""
    from affinity_spark.operators.dedup import repeated_windows

    boiler = "x" * 70  # >= win+stride-1 = 59
    docs = spark.createDataFrame(
        [
            (1, "alpha " + boiler + " omega"),
            (2, "totally different prefix " + boiler + " and suffix"),
            (3, "self repeat self repeat " + "y" * 90 + " " + "y" * 90),
            (4, "unique content nothing shared here at all"),
        ],
        "doc_id long, text string",
    )
    got = repeated_windows(docs, "doc_id", "text", win=40, stride=20)
    rows = got.collect()
    assert all(r.n_docs >= 2 for r in rows)
    assert len(rows) >= 1  # the shared boilerplate fingerprint surfaced

    # doc 3's within-doc repetition must not appear (its fingerprints never
    # recur across documents)
    solo = repeated_windows(docs.filter("doc_id = 3"), "doc_id", "text", 40, 20)
    assert solo.count() == 0


def test_repeated_windows_detects_phase_misaligned_runs(spark):
    """The round-4 review finding: a shared 95-char run at offsets NOT
    congruent mod stride must still surface — winnowing anchors window
    positions to content, so the MOSS guarantee (shared run >= win +
    stride - 1 -> shared fingerprint) holds regardless of alignment. A
    strided position sample fails this exact case."""
    import random

    from affinity_spark.operators.dedup import repeated_windows

    rng = random.Random(3)
    run = "".join(rng.choice("abcdefgh") for _ in range(95))
    for off_a, off_b in ((2, 16), (0, 7), (5, 31)):
        docs = spark.createDataFrame(
            [
                (1, "z" * off_a + run + " tail one"),
                (2, "p" * off_b + run + " other tail"),
            ],
            "doc_id long, text string",
        )
        got = repeated_windows(docs, "doc_id", "text", win=40, stride=20)
        assert got.count() >= 1, (off_a, off_b)


def test_tfidf_pairs_deterministic_and_stopword_cut(spark):
    """Integer idf drops corpus-majority terms; ranking is a total order
    (dot desc, id_a, id_b) so the top-k set is run-stable."""
    from affinity_spark.operators.ranking import tfidf_pairs

    docs = spark.createDataFrame(
        [
            (1, "common rare1 rare2"),
            (2, "common rare1 rare2"),
            (3, "common other words"),
            (4, "common entirely disjoint"),
        ],
        "doc_id long, text string",
    )
    got = tfidf_pairs(docs, "doc_id", "text", max_df=10, k=5).collect()
    # 'common' is in all 4 docs: n div df = 1 -> idf bits 0 -> no weight,
    # so (3,4) share nothing weighted and must NOT appear
    assert all((r.id_a, r.id_b) != (3, 4) for r in got)
    assert (got[0].id_a, got[0].id_b) == (1, 2)  # rare1+rare2 overlap wins
    again = tfidf_pairs(docs, "doc_id", "text", max_df=10, k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully quoted inside a much larger one: containment of
    the small side reads 10000 bp while symmetric Jaccard stays below a
    typical 0.5 threshold — the asymmetric case the operator exists for."""
    from affinity_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    small = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} token{i} item{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, small), (2, filler + " " + small + " " + filler)],
        "doc_id long, text string",
    )
    got = containment_pairs(docs, "doc_id", "text", 3, 8000).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.id_a, row.id_b) == (1, 2)
    assert row.cont_a_bp == 10000  # every shingle of the small doc is in the big one
    assert row.cont_b_bp < 2000
    # symmetric Jaccard misses it at the standard threshold
    assert ngram_jaccard_pairs(docs, "doc_id", "text", 3, 0.5).count() == 0


def test_rare_key_pairs_matches_self_join(spark):
    """Map-side pair enumeration == the naive df-filter + self-join, on a
    boilerplate-heavy corpus (one key shared by MOST docs must be cut by
    the df cap, several rare keys shared by 2-3 docs must pair)."""
    from affinity_spark.operators.dedup import rare_key_pairs

    rows = []
    for d in range(12):
        rows.append((d, "hot"))           # boilerplate key: df=12, cut
        rows.append((d, f"solo_{d}"))     # df=1, no pair
    for d in (1, 2, 3):
        rows.append((d, "rare_a"))        # df=3, pairs
    for d in (4, 5):
        rows.append((d, "rare_b"))        # df=2, pair
        rows.append((d, "rare_c"))        # second shared key -> n_shared=2
    keyed = spark.createDataFrame(rows, ["doc_id", "k"])

    got = sorted(
        tuple(r)
        for r in rare_key_pairs(keyed, "k", "doc_id", max_df=3).collect()
    )

    from pyspark.sql import functions as F

    dfc = keyed.groupBy("k").agg(F.count("*").alias("df"))
    er = keyed.join(dfc.filter(F.col("df") <= 3).select("k"), "k")
    a = er.select(F.col("doc_id").alias("id_a"), "k")
    b = er.select(F.col("doc_id").alias("id_b"), "k")
    want = sorted(
        tuple(r)
        for r in a.join(b, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .collect()
    )
    assert got == want
    assert (1, 2, 1) in got and (4, 5, 2) in got
    assert not any(p[2] > 3 for p in got)  # hot key never contributes

    # min_shared filter
    strict = sorted(
        tuple(r)
        for r in rare_key_pairs(
            keyed, "k", "doc_id", max_df=3, min_shared=2
        ).collect()
    )
    assert strict == [p for p in want if p[2] >= 2]


def test_rare_key_pairs_plan_shape(spark):
    """No self-join anywhere; the collect_list pair enumeration is
    co-partitioned with the df join (no exchange between them); the final
    plan carries exactly 3 shuffle exchanges (postings-by-key, the
    combiner-shrunk df count, the pair aggregate)."""
    import re

    from affinity_spark.operators.dedup import rare_key_pairs
    from affinity_spark.plans.introspect import executed_plan

    keyed = spark.createDataFrame(
        [(d, f"k{d % 4}") for d in range(16)], ["doc_id", "k"]
    )
    out = rare_key_pairs(keyed, "k", "doc_id", max_df=5)
    out.collect()
    final = executed_plan(out).split("== Initial Plan ==")[0]
    ids = set(
        re.findall(r"Exchange (?:hash|range|Single)[^\n]*plan_id=(\d+)", final)
    )
    assert len(ids) <= 3, final
    # exactly one join (postings x kept-keys df filter) - never a
    # postings self-join
    assert len(re.findall(r"(?:SortMerge|BroadcastHash|ShuffledHash)Join", final)) == 1
    # the pair lists aggregate co-partitioned with that join: no exchange
    # between the join and collect_list
    before_join = final.split("Join", 1)[0]
    assert "collect_list" in before_join
    assert "Exchange" not in before_join.split("collect_list", 1)[1]


def test_ppjoin_exact_with_fewer_candidates(spark):
    """PPJoin == the exhaustive inverted-shingle join (bit-identical
    pairs), while the prefix index holds strictly fewer postings and the
    candidate join emits strictly fewer pairs — the point of the
    algorithm. Corpus built so near-dups, a contained doc, and unrelated
    docs all appear."""
    from pyspark.sql import functions as F

    from affinity_spark.operators.dedup import (
        doc_shingle_arrays,
        jaccard_verify_arrays,
        ppjoin_pairs,
        shingle_table,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tonight"),                      # near-dup of 1
            (3, "completely different words in this document here now"),
            (4, base.replace("quick", "rapid")),          # near-dup of 1
            (5, "one two three four five six seven eight nine ten"),
            (6, "one two three four five six seven eight nine eleven"),
        ],
        ["doc_id", "text"],
    )
    arrs = doc_shingle_arrays(docs, "doc_id", "text", 3)

    got = sorted(tuple(r) for r in ppjoin_pairs(arrs, "doc_id", 1, 2).collect())

    sh = shingle_table(docs, "doc_id", "text", 3).select("doc_id", "shingle")
    a = sh.select(F.col("doc_id").alias("id_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("id_b"), "shingle")
    full_cand = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    want = sorted(
        tuple(r)
        for r in jaccard_verify_arrays(full_cand, arrs, "doc_id", 1, 2).collect()
    )
    assert got == want and len(got) >= 2

    # the prune is real: prefix postings < full postings
    n_full = sh.count()
    total = arrs.agg(
        F.sum(
            F.col("n_shingles")
            - F.expr("(n_shingles + 1) div 2")
            + F.lit(1)
        )
    ).collect()[0][0]
    assert total < n_full


def test_incremental_lsh_pairs_matches_restricted_full_join(spark):
    """Incremental (batch-vs-corpus) dedup must equal the FULL all-pairs
    LSH+verify result restricted to (existing, new) pairs, reoriented as
    (new_id, dup_of) — banding is per-doc, so probing the existing band
    table with the batch's bands proposes exactly the cross-side subset
    of the full self-join's candidates. Also: no existing x existing and
    no new x new pair may ever appear."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        (1, base),
        (2, base + " today"),                    # near-dup of 1 (both existing)
        (10, base + " tonight"),                 # new, near-dup of 1 and 2
        (3, "completely different text about engines and shuffles here"),
        (20, "completely different text about engines and shuffles here"),  # new, dup of 3
        (30, "a brand new unique document with no duplicate anywhere"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    arrs = dd.doc_shingle_arrays(docs, "doc_id", "text", 3)
    existing = arrs.filter(F.col("doc_id") < 10)
    new_batch = arrs.filter(F.col("doc_id") >= 10)

    got = sorted(
        tuple(r)
        for r in dd.incremental_lsh_pairs(
            existing, new_batch, "doc_id", 1, 2
        ).collect()
    )

    cand = dd.lsh_candidate_pairs(dd.lsh_bands_mapside(arrs, "doc_id"), "doc_id")
    full = dd.jaccard_verify_arrays(cand, arrs, "doc_id", 1, 2).collect()
    want = sorted(
        (r.id_b, r.id_a, r.n_common, r.n_union) if r.id_b >= 10 else None
        for r in full
        if (r.id_a < 10) != (r.id_b < 10)
    )
    assert got == want and len(got) >= 2
    ids = {(r[0], r[1]) for r in got}
    assert all(n >= 10 and e < 10 for n, e in ids)


# --- band kernel and bucket grouping, against python models ----------------

_EDGE_TEXTS = [
    None,
    "",
    " ",
    "\n",
    "a b",
    "\tleading tab words here ok",
    "\nnewline led text with several words",
    "Trailing tab\t",
    "x\ty\nz w  spaced   out",
    " ".join(f"w{i % 997}" for i in range(40_000)),  # ~200 KB
]


def _py_word_ngrams(text, n=3):
    """Spark's ``trim`` strips spaces only and Java's ``\\s`` is
    [ \\t\\n\\x0B\\f\\r], so tab/newline-led texts keep a leading empty token."""
    import re

    if text is None:
        return []
    tokens = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ").lower())
    grams = [" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]
    return list(dict.fromkeys(grams))


def _py_h0(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_bands(shingles):
    import hashlib

    h = [_py_h0(s) for s in shingles]
    sig = [min((a * x + b) % dd.MINHASH_P for x in h) for a, b in dd.MINHASH_COEF]
    return {
        (
            band,
            hashlib.md5(
                "-".join(str(sig[band * dd.BAND_ROWS + r]) for r in range(dd.BAND_ROWS)).encode()
            ).hexdigest(),
        )
        for band in range(dd.NUM_BANDS)
    }


def test_word_ngrams_and_bands_on_edge_texts(spark):
    """NULL, empty, whitespace-only, tab/newline-led and ~200 KB texts:
    the parsed-SQL kernels give the python model's grams and bands."""
    docs = spark.createDataFrame(list(enumerate(_EDGE_TEXTS)), "doc_id long, text string")
    got = dict(docs.select("doc_id", dd.word_ngrams("text", 3).alias("g")).collect())
    want = {i: _py_word_ngrams(t) for i, t in enumerate(_EDGE_TEXTS)}
    assert got == want
    assert want[5][0] == " leading tab" and want[7] == ["trailing tab "]
    assert len(want[9]) == 997

    bands = dd.lsh_bands_mapside(dd.doc_shingle_arrays(docs, "doc_id", "text", 3), "doc_id")
    got_bands = {}
    for r in bands.collect():
        got_bands.setdefault(r.doc_id, set()).add((r.band_id, r.band_hash))
    assert got_bands == {i: _py_bands(g) for i, g in want.items() if g}


def _hot_bucket_bands(spark, n_hot=200):
    rows = [(i, "the same exact duplicated document body repeated verbatim") for i in range(n_hot)]
    rows += [
        (i, f"unique document number {i % 40} with its own words {i % 7} and {i % 11}")
        for i in range(n_hot, n_hot + 300)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    return dd.lsh_bands_mapside(dd.doc_shingle_arrays(docs, "doc_id", "text", 3), "doc_id")


def _self_join_pairs(bands):
    """The bucket self-join the grouping replaced."""
    keys = ["band_id", "band_hash"]
    a = bands.select(F.col("doc_id").alias("id_a"), *keys)
    b = bands.select(F.col("doc_id").alias("id_b"), *keys)
    return {
        tuple(r)
        for r in a.join(b, keys).filter("id_a < id_b").select("id_a", "id_b").distinct().collect()
    }


def test_lsh_candidate_pairs_hot_bucket_matches_self_join(spark):
    """~200 identical docs fill one bucket in every band: the grouping
    enumerates the same pair set as the bucket self-join."""
    bands = _hot_bucket_bands(spark)
    got = {tuple(r) for r in dd.lsh_candidate_pairs(bands, "doc_id").collect()}
    assert got == _self_join_pairs(bands)
    assert {(a, b) for a in range(200) for b in range(a + 1, 200)} <= got


def test_lsh_candidate_pairs_capped_matches_subbucket_model(spark):
    """With ``bucket_cap`` each bucket of n members splits into
    ceil(n/cap) sub-buckets by ``stable_token_hash(id) mod ceil(n/cap)``;
    the candidates are the pairs within one sub-bucket."""
    cap = 16
    bands = _hot_bucket_bands(spark)
    buckets = {}
    for r in bands.collect():
        buckets.setdefault((r.band_id, r.band_hash), []).append(r.doc_id)
    want = set()
    for ids in buckets.values():
        k = -(-len(ids) // cap)
        subs = {}
        for i in ids:
            subs.setdefault(_py_h0(str(i)) % k, []).append(i)
        want |= {(a, b) for m in subs.values() for a in m for b in m if a < b}
    got = {tuple(r) for r in dd.lsh_candidate_pairs(bands, "doc_id", bucket_cap=cap).collect()}
    assert got == want
    assert len(got) < len(_self_join_pairs(bands))
