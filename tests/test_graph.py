"""Connected components (J4): min-label propagation over an edge frame,
matching the reference's min-vertex-id component convention
(AnalyticsSystemSpec.scala:50-52)."""

from __future__ import annotations

import threading

import pytest

from affinity_spark.operators.graph import (
    connected_components,
    connected_components_star,
)


def _components(edges) -> dict:
    """Union-find model: vertex -> min vertex id of its component."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in list(parent)}


def _propagated(edges, rounds: int) -> dict:
    """Model of ``rounds`` rounds of min-label propagation from
    label(v) = v: each round a vertex keeps the min of its own and its
    neighbours' labels."""
    nbrs: dict = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    labels = {x: x for x in nbrs}
    for _ in range(rounds):
        labels = {
            x: min([labels[x], *(labels[n] for n in nbrs[x])]) for x in nbrs
        }
    return labels


def _cc(spark, edges, fn=connected_components, **kw) -> dict:
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.vertex: r.component for r in fn(df, **kw).collect()}


_TWO_COMPONENTS = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)]
_CHAIN = [(i, i + 1) for i in range(9)]
# the graph_components query's shape: customer <-> (nation + 1e6)
_BIPARTITE = [(c, 1_000_000 + c % 5) for c in range(1, 101)]


def test_two_components(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)], "src long, dst long"
    )
    got = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_chain_converges(spark):
    # long path graph stresses iteration count: 0-1-2-...-9
    edges = spark.createDataFrame([(i, i + 1) for i in range(9)], "src long, dst long")
    got = {r.vertex: r.component for r in connected_components(edges, max_iter=20).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 10


def test_self_loop_and_isolated_edge(spark):
    edges = spark.createDataFrame([(5, 5), (7, 8)], "src long, dst long")
    got = {r.vertex: r.component for r in connected_components(edges).collect()}
    assert got == {5: 5, 7: 7, 8: 7}


def test_collect_component(spark):
    from affinity_spark.operators.graph import collect_component

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long"
    )
    got = sorted(r.vertex for r in collect_component(edges, 2).collect())
    assert got == [1, 2, 3]  # only vertex 2's component, not 10-11


def test_larger_random_graph_converges(spark):
    """Convergence at size: 20k edges over 6k vertices (deterministic LCG),
    components agree with a union-find model."""
    state, edges = 12345, []
    for _ in range(20_000):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        u = (state >> 16) % 6000
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        v = (state >> 16) % 6000
        edges.append((u, v))

    parent = list(range(6000))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # model: component id = min vertex id reachable
    comp_of = {}
    for x in {u for u, v in edges} | {v for u, v in edges}:
        comp_of.setdefault(find(x), []).append(x)
    expect = {x: min(members) for members in comp_of.values() for x in members}

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.vertex: r.component for r in connected_components(df, max_iter=30).collect()}
    assert got == expect


def test_pagerank_ppm_hand_computed(spark):
    from affinity_spark.operators.graph import pagerank_ppm

    # a(1) -> b(2), a -> c(3), b -> c ; outdeg a=2, b=1; c dangling
    edges = spark.createDataFrame([(1, 2), (1, 3), (2, 3)], "src long, dst long")
    r = {row.vertex: row.rank_ppm for row in pagerank_ppm(edges, iters=2).collect()}
    # iter1: shares a=500000 (to b,c), b=1000000 (to c)
    #   a=150000; b=150000+(85*500000)//100=575000; c=150000+(85*1500000)//100=1425000
    # iter2: shares a=75000, b=575000
    #   a=150000; b=213750; c=150000+(85*650000)//100=702500
    assert r == {1: 150000, 2: 213750, 3: 702500}


def test_pagerank_iterations_shuffle_edge_sized_only(spark):
    from affinity_spark.operators.graph import pagerank_ppm

    edges = spark.createDataFrame(
        [(i, (i * 7) % 50) for i in range(200)], "src long, dst long"
    )
    ranks = pagerank_ppm(edges, iters=1)
    # ranks are positive and the base term is the floor
    vals = [row.rank_ppm for row in ranks.collect()]
    assert min(vals) == 150000 and len(vals) > 0


def test_star_cc_equivalence_on_fixtures(spark):
    """large-star/small-star CC must equal min-label propagation on every
    fixture shape: two components, chain, self-loop+isolated edge, and a
    seeded random graph."""
    import random

    from affinity_spark.operators.graph import connected_components_star

    fixtures = [
        [(1, 2), (2, 3), (7, 9)],
        [(i, i + 1) for i in range(1, 10)],
        [(5, 5), (1, 2)],
    ]
    rng = random.Random(11)
    fixtures.append(
        [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    )
    for edges in fixtures:
        df = spark.createDataFrame(edges, ["src", "dst"])
        want = {
            (r["vertex"], r["component"])
            for r in connected_components(df).collect()
        }
        got = {
            (r["vertex"], r["component"])
            for r in connected_components_star(df).collect()
        }
        assert got == want, edges


def test_star_cc_rounds_logarithmic_on_path_graph(spark):
    """The reason this variant exists: a 64-node path has diameter 63 —
    min-label propagation needs ~diameter rounds, star rounds must stay
    logarithmic."""
    from affinity_spark.operators.graph import connected_components_star

    n = 64
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    stats = {}
    labels = {
        r["vertex"]: r["component"]
        for r in connected_components_star(df, stats=stats).collect()
    }
    assert labels == {i: 0 for i in range(n)}
    assert stats["rounds"] <= 10, stats  # log2(64)=6; propagation needs ~63


def _tri_py(edges):
    """Per-vertex triangle counts by brute force (reference)."""
    import itertools

    e = {tuple(sorted(p)) for p in edges if p[0] != p[1]}
    verts = sorted({v for p in e for v in p})
    counts = {}
    for a, b, c in itertools.combinations(verts, 3):
        if (a, b) in e and (b, c) in e and (a, c) in e:
            for v in (a, b, c):
                counts[v] = counts.get(v, 0) + 1
    return counts


def test_triangle_counts_fixture_shapes(spark):
    from affinity_spark.operators.graph import triangle_counts

    cases = [
        # one triangle
        [(1, 2), (2, 3), (1, 3)],
        # square: zero triangles
        [(1, 2), (2, 3), (3, 4), (4, 1)],
        # K4: four triangles, every vertex in three
        [(a, b) for a in range(4) for b in range(4) if a < b],
        # star (no triangles) + one leaf-leaf edge closing exactly one
        [(0, i) for i in range(1, 6)] + [(1, 2)],
    ]
    for edges in cases:
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {
            r["vertex"]: r["n_triangles"]
            for r in triangle_counts(df).collect()
        }
        assert got == _tri_py(edges), edges


def test_triangle_counts_dedups_and_ignores_direction_and_loops(spark):
    from affinity_spark.operators.graph import triangle_counts

    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["vertex"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_skewed_hub_matches_reference(spark):
    """A hub of raw degree 40 plus a sparse ring among the leaves: the
    orientation must not enumerate C(40,2) wedges at the hub, and counts
    must still match brute force exactly."""
    from affinity_spark.operators.graph import triangle_counts

    hub = [(0, i) for i in range(1, 41)]
    ring = [(i, i + 1) for i in range(1, 40, 3)]
    edges = hub + ring
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["vertex"]: r["n_triangles"] for r in triangle_counts(df).collect()
    }
    assert got == _tri_py(edges)


@pytest.mark.parametrize(
    "edges, rounds",
    [(_TWO_COMPONENTS, 3), (_CHAIN, 10), (_BIPARTITE, 3)],
    ids=["two_components", "chain", "bipartite"],
)
def test_round_count_pinned(spark, edges, rounds):
    """Round 1 is built from the edges but is still a round: the count,
    the last round being the one that changed nothing, is what the loop
    that started from a separate labels frame ran."""
    stats = {}
    assert _cc(spark, edges, stats=stats) == _components(edges)
    assert stats == {"rounds": rounds}


def _checkpoint_jobs(spark, monkeypatch, df, fn) -> tuple[int, list[int]]:
    """(Spark jobs run outside any localCheckpoint, jobs of each
    localCheckpoint) while ``fn`` runs, each counted under a job group."""
    sc = spark.sparkContext
    per_checkpoint: list[int] = []
    DataFrame = type(df)  # the session's concrete frame class
    checkpoint = DataFrame.localCheckpoint

    def counted(self, *a, **kw):
        group = f"cc-checkpoint-{len(per_checkpoint)}"
        sc.setJobGroup(group, "")
        try:
            return checkpoint(self, *a, **kw)
        finally:
            sc.setJobGroup("cc-outside", "")
            per_checkpoint.append(len(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(DataFrame, "localCheckpoint", counted)
    sc.setJobGroup("cc-outside", "")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup("cc-outside")), per_checkpoint


@pytest.mark.parametrize("fn", [connected_components, connected_components_star])
def test_no_probe_job_outside_the_round_checkpoints(spark, monkeypatch, fn):
    """Every Spark job of a call runs inside a round's checkpoint (or the
    edge build's): the convergence probe is observed on that job, never
    a collect of its own. Propagation: one checkpoint per round plus the
    edge build."""
    df = spark.createDataFrame(_BIPARTITE, "src long, dst long")
    stats = {}
    outside, per_checkpoint = _checkpoint_jobs(
        spark, monkeypatch, df, lambda: fn(df, stats=stats)
    )
    assert outside == 0, per_checkpoint
    assert len(per_checkpoint) == stats["rounds"] + 1
    assert all(n >= 1 for n in per_checkpoint), per_checkpoint


def test_empty_edge_frame_returns(spark):
    """No rows: the observed probe of an empty frame must still be filled
    (a blocked ``Observation.get`` would hang the call)."""
    got = {}

    def run():
        got["cc"] = _cc(spark, [])
        got["star"] = _cc(spark, [], connected_components_star)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(300)
    assert not t.is_alive(), "connected_components blocked on an empty frame"
    assert got == {"cc": {}, "star": {}}


@pytest.mark.parametrize(
    "edges",
    [
        [(5, 5), (6, 6), (1, 1)],  # only self-loops
        [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (3, 3)],  # duplicates, reversed
        [(9, 4), (4, 9), (7, 4), (4, 7), (7, 7), (20, 30), (30, 20)],
    ],
    ids=["self_loops", "duplicate_and_reversed", "mixed"],
)
def test_hostile_shapes_match_union_find(spark, edges):
    want = _components(edges)
    assert _cc(spark, edges) == want
    assert _cc(spark, edges, connected_components_star) == want


@pytest.mark.parametrize("k", [1, 2, 3, 5])
def test_max_iter_truncation_matches_k_rounds(spark, k):
    """On a path of diameter 11, ``max_iter=k`` stops after exactly k
    rounds of propagation, round 1 included."""
    path = [(i, i + 1) for i in range(11)]
    stats = {}
    assert _cc(spark, path, max_iter=k, stats=stats) == _propagated(path, k)
    assert stats == {"rounds": k}


def test_max_iter_below_one_raises(spark):
    with pytest.raises(ValueError):
        _cc(spark, _CHAIN, max_iter=0)
