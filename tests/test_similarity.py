"""Embedding similarity search: brute-force kNN, bucketed pairwise cosine."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from affinity_spark.operators.similarity import cosine_join_within, knn_to_query


def _emb(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], "x"),
        (1, [0.9, 0.1, 0.0], "x"),  # closest to 0
        (2, [0.0, 1.0, 0.0], "y"),
        (3, [0.0, 0.9, 0.1], "y"),
        (4, [-1.0, 0.0, 0.0], "x"),  # anti-parallel to 0
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>, label string")


def test_knn_literal_query(spark):
    got = knn_to_query(_emb(spark), [1.0, 0.0, 0.0], 3).collect()
    assert [r.vec_id for r in got] == [0, 1, 2]
    assert abs(got[0].cosine_raw - 1.0) < 1e-9
    expected = 0.9 / math.sqrt(0.81 + 0.01)
    assert abs(got[1].cosine_raw - expected) < 1e-9


def test_knn_dataframe_query_broadcast(spark):
    emb = _emb(spark)
    q = emb.filter(F.col("vec_id") == 0).select("embedding")
    got = knn_to_query(emb.filter(F.col("vec_id") != 0), q, 2)
    assert [r.vec_id for r in got.collect()] == [1, 2]
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_cosine_join_within_buckets(spark):
    pairs = cosine_join_within(_emb(spark), "label", 0.9).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    # within-bucket near pairs only; (0,4) shares bucket x but cosine=-1
    assert got == {(0, 1), (2, 3)}
    for r in pairs:
        assert r.cosine >= 0.9


def test_cosine_join_never_crosses_buckets(spark):
    # vectors 1 (x) and 2 (y) are orthogonal but even identical vectors in
    # different buckets must not pair
    rows = [(10, [1.0, 0.0], "a"), (11, [1.0, 0.0], "b")]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>, label string")
    assert cosine_join_within(df, "label", 0.5).count() == 0


def _emb_hostile(spark):
    """_emb plus a NULL-embedding row (5) and an all-zero row (6): neither
    has a cosine to anything. 5 is labelled y so x anchors could pick it
    as a hard negative if it were ever scored."""
    hostile = spark.createDataFrame(
        [(5, None, "y"), (6, [0.0, 0.0, 0.0], "x")],
        "vec_id int, embedding array<double>, label string",
    )
    return _emb(spark).unionByName(hostile).withColumn("bucket", F.lit(0))


def test_knn_ranks_hostile_rows_last(spark):
    emb = _emb_hostile(spark)
    q = emb.filter(F.col("vec_id") == 0).select("embedding")
    for query in ([1.0, 0.0, 0.0], q):
        got = knn_to_query(emb, query, 7).collect()
        assert [r.vec_id for r in got] == [0, 1, 2, 3, 4, 5, 6]
        assert all(r.cosine_raw is not None for r in got[:5])
        assert got[5].cosine_raw is None and got[6].cosine_raw is None
    # a zero query vector scores nothing and raises nothing
    got = knn_to_query(emb, [0.0, 0.0, 0.0], 3).collect()
    assert len(got) == 3 and all(r.cosine_raw is None for r in got)


def test_cosine_join_within_drops_hostile_rows(spark):
    pairs = cosine_join_within(_emb_hostile(spark), "label", -1.0).collect()
    # every scoreable same-label pair passes a threshold of -1; the two
    # hostile rows drop out on their NULL cosine
    assert {(r.id_a, r.id_b) for r in pairs} == {(0, 1), (0, 4), (1, 4), (2, 3)}


def test_hard_negatives_never_pick_hostile_rows(spark):
    from affinity_spark.operators.similarity import hard_negatives

    got = hard_negatives(_emb_hostile(spark), "bucket", "label").collect()
    assert sorted(r.vec_id for r in got) == [0, 1, 2, 3, 4]
    assert {r.hard_neg_id for r in got} <= {0, 1, 2, 3, 4}


def test_hard_negatives_picks_best_cross_label_in_bucket(spark):
    from affinity_spark.operators.similarity import hard_negatives

    # one bucket: anchors pick the most-similar different-label vector
    rows = [
        (1, [1.0, 0.0], "a", 0),
        (2, [0.9, 0.1], "a", 0),   # same label as 1 — never its negative
        (3, [0.8, 0.6], "b", 0),   # closest cross-label to 1
        (4, [0.0, 1.0], "b", 0),
        (5, [1.0, 0.0], "c", 1),   # different bucket — isolated, no negative
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string, bucket int"
    )
    got = {r.vec_id: (r.hard_neg_id, r.cos_bp) for r in
           hard_negatives(df, "bucket", "label").collect()}
    assert got[1][0] == 3           # not 2 (same label), not 4 (less similar)
    assert 5 not in got             # bucket-isolated: no candidates, absent
    # symmetric check: 3's hardest negative is 1 (cos 0.8) over 4's... 
    # cos(3,1)=0.8, cos(3,2)~0.78, cos(3,4)=0.6: picks a cross-label best
    assert got[3][0] in (1, 2)
    # ties impossible here; cos_bp integer and monotone with similarity
    assert got[1][1] > got[4][1]


def test_scalar_quantize_int8_error_bound_and_range(spark):
    """Codes stay in [0,255]; reconstruction error is bounded by one
    quantization step ceil((mx-mn)/255) per dimension; a constant
    dimension (mx == mn) codes to 0 with zero error."""
    import pyspark.sql.functions as F

    from affinity_spark.operators.similarity import scalar_quantize_int8

    rows = [(i, [float(i) * 0.37 - 3.0, 5.0, float((i * 7) % 13)]) for i in range(50)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = scalar_quantize_int8(emb)
    assert q.filter((F.col("code") < 0) | (F.col("code") > 255)).count() == 0
    # dim 1 is constant -> code 0, err 0
    d1 = q.filter(F.col("dim") == 1)
    assert d1.filter((F.col("code") != 0) | (F.col("abs_err") != 0)).count() == 0
    # per-dim error bound: step = ceil((mx-mn)/255) in integer micros
    vals = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.floor(F.col("v").cast("double") * 1_000_000).cast("long").alias("vi")
    )
    stats = {r.dim: (r.mn, r.mx) for r in vals.groupBy("dim").agg(
        F.min("vi").alias("mn"), F.max("vi").alias("mx")).collect()}
    for r in q.collect():
        mn, mx = stats[r.dim]
        step = -(-(mx - mn) // 255) if mx > mn else 0
        assert r.abs_err <= step, (r.dim, r.abs_err, step)


def test_srp_project_matches_numpy_replay(spark):
    """Spark-side projection == hashlib/numpy replay, bit-for-bit: same
    md5-derived signs, same fixed-point quantization, exact int64 sums."""
    import hashlib

    import numpy as np

    from affinity_spark.functions.vectors import srp_project, srp_signs

    d, p, scale = 8, 4, 1 << 20
    signs = srp_signs(d, p)
    # independent replay of the sign derivation
    for j in range(p):
        for i in range(d):
            parity = int(hashlib.md5(f"{i},{j}".encode()).hexdigest()[0], 16) % 2
            assert signs[j][i] == (1 if parity == 0 else -1)

    rng = np.random.RandomState(7)
    vecs = rng.uniform(-1, 1, size=(20, d))
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id int, embedding array<double>",
    )
    got = {
        r.vec_id: r.y
        for r in df.select(
            "vec_id", srp_project(F.col("embedding"), signs, scale).alias("y")
        ).collect()
    }
    S = np.array(signs, dtype=np.int64)
    q = np.floor(vecs * scale + 0.5).astype(np.int64)
    for i in range(20):
        assert got[i] == list(S @ q[i]), i


def test_srp_projection_separates_clustered_data(spark):
    """JL sanity: on data WITH structure (two orthogonal-ish clusters),
    projected cosine keeps within-cluster similarity above cross-cluster —
    the property the emb_srp_recall eval measures the absence of on the
    near-uniform synthetic corpus."""
    import numpy as np

    from affinity_spark.functions.vectors import dot_int, srp_project, srp_signs

    rng = np.random.RandomState(3)
    d, p = 64, 16
    c1, c2 = np.zeros(d), np.zeros(d)
    c1[:32] = 1.0
    c2[32:] = 1.0
    rows = []
    for i in range(30):
        base = c1 if i % 2 == 0 else c2
        v = base + rng.normal(0, 0.15, d)
        rows.append((i, i % 2, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id int, cl int, embedding array<double>")
    proj = df.select(
        "vec_id", "cl", srp_project(F.col("embedding"), srp_signs(d, p)).alias("y")
    ).withColumn("ny", dot_int(F.col("y"), F.col("y")))
    a = proj.alias("a")
    b = proj.alias("b")
    pairs = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            (F.col("a.cl") == F.col("b.cl")).alias("same"),
            (
                dot_int(F.col("a.y"), F.col("b.y")).cast("double")
                / (
                    F.sqrt(F.col("a.ny").cast("double"))
                    * F.sqrt(F.col("b.ny").cast("double"))
                )
            ).alias("cp"),
        )
        .groupBy("same")
        .agg(F.avg("cp").alias("m"))
    )
    got = {r.same: r.m for r in pairs.collect()}
    assert got[True] > got[False] + 0.3, got


def test_srp_projection_is_shuffle_free(spark):
    from affinity_spark.functions.vectors import srp_project, srp_signs
    from affinity_spark.plans.introspect import executed_plan

    df = spark.createDataFrame(
        [(0, [0.1] * 64)], "vec_id int, embedding array<double>"
    )
    plan = executed_plan(
        df.select("vec_id", srp_project(F.col("embedding"), srp_signs(64, 16)).alias("y"))
    )
    assert "Exchange" not in plan, plan


def test_fixed_matrix_dim_guards_fail_loudly(spark):
    """r12 verdict #5: the fixed 64-wide projection matrices (LSH
    hyperplanes, SRP signs) must ERROR on a corpus whose embedding width
    drifted — on BOTH engines — never silently dot against a prefix."""
    import duckdb
    import pytest
    from pyspark.sql import functions as F

    from affinity_spark.functions.vectors import srp_project, srp_signs
    from affinity_spark.operators.similarity import lsh_hyperplane_buckets
    from affinity_spark.registry import embeddings as emb_reg

    bad = spark.createDataFrame(
        [(1, [0.5] * 32)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="dim"):
        lsh_hyperplane_buckets(bad, 64, 8).collect()
    with pytest.raises(Exception, match="dim"):
        bad.select(
            srp_project(F.col("embedding"), srp_signs(64, 16)).alias("y")
        ).collect()
    # good dims still flow on both guards
    ok = spark.createDataFrame(
        [(1, [0.5] * 64)], "vec_id long, embedding array<float>"
    )
    assert lsh_hyperplane_buckets(ok, 64, 8).count() == 1
    assert ok.select(
        srp_project(F.col("embedding"), srp_signs(64, 16)).alias("y")
    ).count() == 1

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE embeddings AS "
        "SELECT 1 AS vec_id, [0.5::FLOAT for x in range(32)] AS embedding"
    )
    with pytest.raises(Exception, match="64"):
        con.execute(
            f"SELECT {emb_reg._lsh_bucket_expr_n(8)} AS b FROM embeddings"
        ).fetchall()
    con.execute("DROP TABLE embeddings")
    con.execute(
        "CREATE TABLE embeddings AS "
        "SELECT 1 AS vec_id, [0.5::FLOAT for x in range(64)] AS embedding"
    )
    rows = con.execute(
        f"SELECT {emb_reg._lsh_bucket_expr_n(8)} AS b FROM embeddings"
    ).fetchall()
    assert len(rows) == 1 and 0 <= rows[0][0] < 256


def test_dim_guards_pass_null_vectors_through(spark):
    """A NULL embedding is NOT a dim mismatch: it flows as a NULL bucket /
    NULL projection (excluded from joins) instead of killing the job with
    a false 'dim != 64' (r13 review)."""
    from pyspark.sql import functions as F

    from affinity_spark.functions.vectors import srp_project, srp_signs
    from affinity_spark.operators.similarity import lsh_hyperplane_buckets

    df = spark.createDataFrame(
        [(1, [0.5] * 64), (2, None)], "vec_id long, embedding array<float>"
    )
    rows = {r["vec_id"]: r["bucket"]
            for r in lsh_hyperplane_buckets(df, 64, 8).collect()}
    assert rows[2] is None and rows[1] is not None
    proj = {r["vec_id"]: r["y"] for r in df.select(
        "vec_id", srp_project(F.col("embedding"), srp_signs(64, 16)).alias("y")
    ).collect()}
    assert proj[2] is None and len(proj[1]) == 16


def test_sign_bit_words_packs_and_hamming_matches_python(spark):
    """Binary quantization contract: bit i of word i//32 is the sign of
    dim i; hamming over packed words equals the per-dimension sign-diff
    count a python replay (and the DuckDB oracle) computes."""
    from affinity_spark.functions.vectors import hamming_words, sign_bit_words

    vecs = {
        1: [0.5, -0.25, 0.0, -0.0] + [(-1.0) ** i * (i + 1) for i in range(60)],
        2: [-2.0] * 64,
        3: [1e-9] * 64,
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>",
    )
    coded = {
        r["vec_id"]: r["code"]
        for r in df.select(
            "vec_id", sign_bit_words(F.col("embedding"), 64).alias("code")
        ).collect()
    }

    def py_words(v):
        ws = []
        for w in range(2):
            acc = 0
            for i in range(32):
                if v[w * 32 + i] >= 0:
                    acc += 1 << i
            ws.append(acc)
        return ws

    for k, v in vecs.items():
        assert coded[k] == py_words(v), k
    # -0.0 >= 0 is True: dim 3 of vec 1 must be a set bit
    assert coded[1][0] & (1 << 3)

    a = df.alias("a").select(
        F.col("vec_id").alias("ida"),
        sign_bit_words(F.col("embedding"), 64).alias("ca"),
    )
    b = df.alias("b").select(
        F.col("vec_id").alias("idb"),
        sign_bit_words(F.col("embedding"), 64).alias("cb"),
    )
    got = {
        (r["ida"], r["idb"]): r["h"]
        for r in a.crossJoin(b).select(
            "ida", "idb", hamming_words(F.col("ca"), F.col("cb")).alias("h")
        ).collect()
    }

    def py_h(x, y):
        return sum(1 for i in range(64) if (x[i] >= 0) != (y[i] >= 0))

    for ka in vecs:
        for kb in vecs:
            assert got[(ka, kb)] == py_h(vecs[ka], vecs[kb]), (ka, kb)


def test_sign_bit_words_dim_guard_and_null(spark):
    """Same fixed-width contract as srp_project: width drift raises, a
    NULL vector codes to NULL (r13 review rule)."""
    import pytest

    from affinity_spark.functions.vectors import sign_bit_words

    df = spark.createDataFrame(
        [(1, [0.5] * 64), (2, None)], "vec_id long, embedding array<float>"
    )
    rows = {
        r["vec_id"]: r["code"]
        for r in df.select(
            "vec_id", sign_bit_words(F.col("embedding"), 64).alias("code")
        ).collect()
    }
    assert rows[2] is None and len(rows[1]) == 2
    bad = spark.createDataFrame([(1, [0.5] * 32)], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="dim"):
        bad.select(sign_bit_words(F.col("embedding"), 64).alias("c")).collect()


def test_bitq_coarse_rerank_is_shuffle_free_to_the_topk(spark):
    """The bitq search plan: code packing + hamming are map-side; the only
    ordering work is TakeOrderedAndProject (no Exchange before the coarse
    top-k other than the broadcast of the 1-row query)."""
    from affinity_spark.functions.vectors import hamming_words, sign_bit_words
    from affinity_spark.plans.introspect import executed_plan

    df = spark.createDataFrame(
        [(i, [((i * 31 + j * 7) % 13 - 6.0) for j in range(64)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    coded = df.select(
        "vec_id", sign_bit_words(F.col("embedding"), 64).alias("code")
    )
    q = F.broadcast(
        coded.filter(F.col("vec_id") == 0).select(F.col("code").alias("qc"))
    )
    coarse = (
        coded.filter(F.col("vec_id") != 0)
        .crossJoin(q)
        .select("vec_id", hamming_words(F.col("code"), F.col("qc")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(5)
    )
    plan = executed_plan(coarse)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
