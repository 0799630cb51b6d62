"""IVF ANN: deterministic training, correct assignment, pruned search
with measured recall against brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from affinity_spark.operators.ivf import assign, search, train_centroids
from affinity_spark.operators.similarity import knn_to_query


def _clustered(spark):
    # 3 well-separated clusters around axis unit vectors
    rows = []
    for i in range(30):
        base = [0.0, 0.0, 0.0]
        base[i % 3] = 10.0
        jitter = [((i * 7 + d * 3) % 5) / 10.0 for d in range(3)]
        rows.append((i, [b + j for b, j in zip(base, jitter)]))
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_training_is_deterministic(spark):
    emb = _clustered(spark)
    c1 = train_centroids(emb, 3, n_iter=3)
    c2 = train_centroids(emb, 3, n_iter=3)
    assert c1 == c2


def test_assignment_is_argmin(spark):
    emb = _clustered(spark)
    cents = train_centroids(emb, 3, n_iter=3)

    def sqd(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    got = assign(emb, cents).collect()
    for r in got:
        best = min(range(3), key=lambda c: sqd(cents[c], r.embedding))
        assert r.cell == best, (r.vec_id, r.cell, best)
    # separated clusters -> 3 cells of 10
    sizes = sorted(
        assign(emb, cents).groupBy("cell").count().rdd.map(lambda r: r["count"]).collect()
    )
    assert sizes == [10, 10, 10]


def test_search_recall_vs_brute_force(spark):
    emb = _clustered(spark)
    cents = train_centroids(emb, 3, n_iter=3)
    assigned = assign(emb, cents)
    query = [10.0, 0.3, 0.1]  # near cluster 0
    ann = [r.vec_id for r in search(assigned, cents, query, 5, nprobe=1).collect()]
    brute = [r.vec_id for r in knn_to_query(emb, query, 5).collect()]
    # all true neighbors live in the probed cell: recall = 1 here
    assert ann == brute


def test_search_nprobe_widens(spark):
    emb = _clustered(spark)
    cents = train_centroids(emb, 3, n_iter=3)
    assigned = assign(emb, cents)
    narrow = search(assigned, cents, [5.0, 5.0, 0.1], 30, nprobe=1).count()
    wide = search(assigned, cents, [5.0, 5.0, 0.1], 30, nprobe=2).count()
    assert narrow == 10 and wide == 20  # each extra probe adds one cell


def test_training_agrees_with_numpy_lloyd(spark):
    """The posexplode training form computes exactly deterministic Lloyd
    steps: agree bit-for-bit with a python/numpy model on the same seeds."""
    import numpy as np

    emb = _clustered(spark)
    got = train_centroids(emb, 3, n_iter=3)
    data = {r.vec_id: np.array(r.embedding) for r in emb.collect()}
    X = np.array([data[i] for i in sorted(data)])
    cents = X[:3].astype(float).copy()
    for _ in range(3):
        d = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        cell = d.argmin(axis=1)
        for c in range(3):
            if (cell == c).any():
                cents[c] = X[cell == c].mean(axis=0)
    assert np.allclose(np.array(got), cents)


def test_training_survives_wide_dims(spark):
    """dim=1024 smoke: the agg stays two expressions regardless of width
    (the old one-column-per-dimension form died past codegen limits here)."""
    dim, n = 1024, 40
    rows = [
        (i, [float((i * 31 + d * 7) % 13) for d in range(dim)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    cents = train_centroids(emb, 4, n_iter=1)
    assert len(cents) == 4 and all(len(c) == dim for c in cents)
    assigned = assign(emb, cents)
    assert assigned.count() == n


def test_batch_search_matches_per_query_search(spark):
    """batch_search over N queries == N single-query search() calls (same
    probes, same candidates, same order), and the plan is one broadcast
    join + a rank window — no per-query scans, no global sort."""
    from pyspark.sql import functions as F

    from affinity_spark.operators.ivf import assign, batch_search, search
    from affinity_spark.plans.introspect import executed_plan

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(64)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = [v for _, v in rows[:4]]
    assigned = assign(emb, seeds)

    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    got = {
        (r.qid, r.rnk): (r.vec_id, round(r.cosine, 9))
        for r in batch_search(assigned, seeds, qs, k=5, nprobe=2).collect()
    }

    want = {}
    for qid, qvec in [(r.vec_id, list(r.embedding)) for r in qs
                      .select(F.col("qid").alias("vec_id"), F.col("qvec").alias("embedding"))
                      .collect()]:
        res = search(assigned, seeds, qvec, 5, nprobe=2).collect()
        for rnk, r in enumerate(res, start=1):
            want[(qid, rnk)] = (r.vec_id, round(r.cosine, 9))
    assert got == want and len(got) == 15

    out = batch_search(assigned, seeds, qs, k=5, nprobe=2)
    out.collect()
    plan = executed_plan(out)
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_search_on_hostile_rows_scores_only_real_vectors(spark):
    """A NULL-embedding row and an all-zero row in a probed cell: the
    single-query search ranks them after every scored row, and
    batch_search drops them; neither raises. The cell column is built by
    hand so both rows sit in a probed cell whatever assign would do."""
    from affinity_spark.operators.ivf import batch_search

    cents = [[1.0, 0.0], [0.0, 1.0]]
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.1], 0),
            (1, [0.9, 0.5], 0),
            (2, None, 0),
            (3, [0.0, 0.0], 0),
            (4, [0.1, 1.0], 1),
            (5, [-1.0, 0.2], 1),
        ],
        "vec_id long, embedding array<double>, cell int",
    )
    got = search(emb, cents, [1.0, 0.0], 6, nprobe=2).collect()
    assert [r.vec_id for r in got[:4]] == [0, 1, 4, 5]
    assert all(r.cosine is not None for r in got[:4])
    assert {r.vec_id for r in got[4:]} == {2, 3}
    assert all(r.cosine is None for r in got[4:])

    qs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0])], "qid int, qvec array<double>"
    )
    rows = batch_search(emb, cents, qs, k=6, nprobe=2).collect()
    ranked = sorted((r.rnk, r.vec_id) for r in rows if r.qid == 0)
    assert ranked == [(1, 0), (2, 1), (3, 4), (4, 5)]
    # the zero query vector has no cosine to anything
    assert all(r.qid == 0 for r in rows)


def test_cell_partitioned_layout_prunes_unprobed_cells(spark, tmp_path):
    """The scale claim behind every IVF read ("cell is a partition column,
    unprobed cells are never scanned") pinned physically: assigned vectors
    written partitionBy(cell), a probe filter must reach the scan as a
    PartitionFilter and the scan must list only the probed cells' files."""
    import random

    from pyspark.sql import functions as F

    from affinity_spark.operators.ivf import assign
    from affinity_spark.plans.introspect import formatted_plan

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(256)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    seeds = [v for _, v in rows[:8]]
    out = str(tmp_path / "cells")
    assign(emb, seeds).write.partitionBy("cell").parquet(out)

    probed = spark.read.parquet(out).filter(F.col("cell").isin([0, 3]))
    probed.collect()
    plan = formatted_plan(probed)
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    # the file listing really excluded unprobed cells
    n_probed = probed.count()
    per_cell = {
        r.cell: r.n
        for r in spark.read.parquet(out).groupBy("cell").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert n_probed == per_cell.get(0, 0) + per_cell.get(3, 0)
    assert 0 < n_probed < sum(per_cell.values())


def test_kmeans_int_matches_python_reference(spark):
    """The engine-exact integer Lloyd loop (quantize -> argmin ->
    trunc-div update, ties to the lowest cell) against a pure-python
    replay, including inertia and the final centroids."""
    import random

    from affinity_spark.operators.ivf import kmeans_int

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(6)]) for i in range(80)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # python replay of the documented semantics
    import math

    def quant(v):
        return [math.floor(x * 10000 + 0.5) for x in v]

    def tdiv(s, n):
        return -((-s) // n) if s < 0 else s // n

    q = {i: quant(v) for i, v in rows}
    cents = [q[i] for i in sorted(q)[:3]]
    for _ in range(2):
        sums = [[0] * 6 for _ in cents]
        counts = [0] * len(cents)
        for i in sorted(q):
            d = [sum((a - b) ** 2 for a, b in zip(q[i], c)) for c in cents]
            cell = d.index(min(d))
            counts[cell] += 1
            for p, x in enumerate(q[i]):
                sums[cell][p] += x
        cents = [
            [tdiv(s, n) for s in row] if n else list(old)
            for row, n, old in zip(sums, counts, cents)
        ]
    stats = {}
    for i in sorted(q):
        d = [sum((a - b) ** 2 for a, b in zip(q[i], c)) for c in cents]
        cell = d.index(min(d))
        n, inertia = stats.get(cell, (0, 0))
        stats[cell] = (n + 1, inertia + min(d))
    expected = {
        (cell, n, inertia, ",".join(str(x) for x in cents[cell]))
        for cell, (n, inertia) in stats.items()
    }

    got = {
        (r["cell"], r["n"], r["inertia"], r["centroid_csv"])
        for r in kmeans_int(emb, k=3, n_iter=2).collect()
    }
    assert got == expected


def test_kmeans_int_empty_cell_keeps_centroid(spark):
    """A seed whose cell empties after the first update must keep its
    centroid (both engines define the update as a left join back to the
    previous codebook)."""
    from affinity_spark.operators.ivf import kmeans_int

    # seeds are ids 0 and 1; every vector is far closer to seed 0's
    # region, so cell 1 empties after its own seed migrates
    rows = [(0, [0.0, 0.0]), (1, [0.001, 0.001])] + [
        (i, [0.0002 * i, 0.0001]) for i in range(2, 12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["cell"]: r for r in kmeans_int(emb, k=2, n_iter=2).collect()}
    assert sum(r["n"] for r in out.values()) == 12


def test_kmeans_distance_codegen_source_is_value_independent(spark):
    """The assignment stage's generated source must not embed centroid
    VALUES: value-inlined sources recompile per NEW centroid set (~2 s of
    parked tasks per cold iteration — r14 finding), while the broadcast-
    relation form is a codegen-cache hit across iterations and corpora.
    Two different centroid sets at the same (k, dim) must produce
    identical generated source modulo per-session counters."""
    import re

    from pyspark.sql import functions as F

    from affinity_spark.operators.ivf import _argmin_first_sql, _sq_dist_sql

    q = spark.createDataFrame(
        [(1, [1, 2, 3, 4]), (2, [5, 6, 7, 8])], "_id bigint, _q array<bigint>"
    ).select("_q")

    def codegen_src(cents):
        cent_row = spark.createDataFrame(
            [([x for c in cents for x in c],)], "_cf array<bigint>"
        )
        df = (
            q.crossJoin(F.broadcast(cent_row))
            .select(
                "_q",
                *[
                    F.expr(_sq_dist_sql("_q", "_cf", j, 4)).alias(f"_d{j}")
                    for j in range(len(cents))
                ],
            )
            .select(
                F.expr(_argmin_first_sql(len(cents))).cast("int").alias("cell"),
                "_q",
            )
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "codegen"
        )
        src = df._jdf.queryExecution().explainString(mode)  # noqa: SLF001
        # normalize the per-session counters: expression ids and codegen
        # stage ids are fresh per plan, the SOURCE must otherwise match
        src = re.sub(r"#\d+", "#x", src)
        return re.sub(r"(codegenStageId[=:]?\s*)\d+", r"\g<1>x", src)

    a = codegen_src([[1, 2, 3, 4], [9, 9, 9, 9]])
    b = codegen_src([[7, 0, 7, 0], [3, 1, 4, 1]])
    assert "WholeStageCodegen" in a
    assert a == b
