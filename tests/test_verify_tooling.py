"""The local oracle gate's comparator must itself be trustworthy:
order-insensitive, type-canonicalizing, and sensitive to real differences."""

from __future__ import annotations

import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "verify_local",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "verify_local.py"),
)
vl = importlib.util.module_from_spec(spec)
spec.loader.exec_module(vl)


def test_canon_types():
    assert vl.canon(None) == "NULL"
    assert vl.canon(True) == "1" and vl.canon(False) == "0"
    assert vl.canon(2.0) == "2"          # whole float == int
    assert vl.canon(2) == "2"
    assert vl.canon(2.5) == "2.500000"   # fixed precision
    assert vl.canon("x") == "x"


def test_frame_hash_row_order_insensitive():
    cols = ["a", "b"]
    h1 = vl.frame_hash(cols, [(1, "x"), (2, "y")])
    h2 = vl.frame_hash(cols, [(2, "y"), (1, "x")])
    assert h1 == h2


def test_frame_hash_column_order_insensitive():
    h1 = vl.frame_hash(["a", "b"], [(1, "x"), (2, "y")])
    h2 = vl.frame_hash(["b", "a"], [("x", 1), ("y", 2)])
    assert h1 == h2


def test_frame_hash_detects_value_change():
    cols = ["a", "b"]
    base = vl.frame_hash(cols, [(1, "x"), (2, "y")])
    assert vl.frame_hash(cols, [(1, "x"), (2, "z")]) != base
    assert vl.frame_hash(cols, [(1, "x")]) != base          # missing row
    assert vl.frame_hash(cols, [(1, "x"), (2, "y"), (2, "y")]) != base  # dup


def test_frame_hash_int_float_equivalence():
    # spark long 2 vs duckdb double 2.0 must hash identically
    h1 = vl.frame_hash(["n"], [(2,)])
    h2 = vl.frame_hash(["n"], [(2.0,)])
    assert h1 == h2


# a snippet of plans/r15/emb_knn_brute_after.txt, plus a scratch path
_PLAN = """(7) Exchange
Arguments: RoundRobinPartitioning(32), REPARTITION_BY_NUM, [plan_id=603]

(8) Project
Output [2]: [_qvec#139, coalesce(SQRT(aggregate(_qvec#139, 0.0, lambdafunction((lambda x_54#141 + (cast(lambda y_55#142 as double) * cast(lambda y_55#142 as double))), lambda x_54#141, lambda y_55#142, false), lambdafunction(lambda id#143, lambda id#143, false))), 0.0) AS _qnrm#140]
Location: InMemoryFileIndex [file:/tmp/affinity_ivf_wio91l5w/assigned/v0001792311844050-02d3ffee]
"""


def test_normalize_plan_masks_per_process_counters():
    import re

    from affinity_spark.plans.introspect import normalize_plan

    # the same plan built in another process: every expression id, lambda
    # counter and plan_id shifted, another mkdtemp root and table version
    other = re.sub(
        r"(#|_|plan_id=)(\d+)", lambda m: f"{m.group(1)}{int(m.group(2)) + 17}", _PLAN
    ).replace("wio91l5w", "ky3xtd_8").replace("v00017923118", "v00017923119")
    assert other != _PLAN
    norm = normalize_plan(_PLAN)
    assert normalize_plan(other) == norm
    assert normalize_plan(norm) == norm
    # node ids, literals, partition counts and plain lambda names survive
    assert "(7) Exchange" in norm and "(8) Project" in norm
    assert "RoundRobinPartitioning(32)" in norm and "0.0) AS _qnrm#N" in norm
    assert "lambda x_N#N" in norm and "lambda id#N" in norm
    assert "[plan_id=N]" in norm
    # a real plan change still shows
    assert normalize_plan(_PLAN.replace("RoundRobin", "Hash")) != norm
    assert normalize_plan(_PLAN.replace("assigned", "codes")) != norm


def test_normalize_plan_masks_keyed_table_delta_file_names():
    """A KeyedTable delta file is named by a random uuid, so the same
    served plan read in two processes names other files."""
    from affinity_spark.plans.introspect import normalize_plan

    scan = (
        "Location: InMemoryFileIndex(2 paths)[file:/tmp/affinity_store_k3xtd_08/"
        "docs/v0001792311844050-02d3ffee/part-0.parquet, "
        "file:/tmp/affinity_store_k3xtd_08/docs/v0001792311844050-02d3ffee/"
        "_deltas/000001/{}.parquet]"
    )
    a = scan.format("9f1c2b7e4d5a40c18e2f6a0b3c4d5e6f")
    b = scan.format("0123456789abcdef0123456789abcdef")
    assert normalize_plan(a) == normalize_plan(b)
    assert "/_deltas/000001/X.parquet" in normalize_plan(a)
    # the delta sequence number is a real difference: one more upsert
    assert normalize_plan(a) != normalize_plan(a.replace("000001", "000002"))


def _executed(final: list[str], initial: list[str]) -> str:
    """A formatted plan of an executed adaptive plan: ``final`` and
    ``initial`` are (indent, name) tree rows, numbered as Spark does
    (final-plan nodes first; a node both plans share keeps one id)."""
    ids: dict[str, int] = {}
    tree = ["== Physical Plan ==", "AdaptiveSparkPlan ({root})", "+- == Final Plan =="]
    for section, rows in (("final", final), ("initial", initial)):
        if section == "initial":
            tree.append("+- == Initial Plan ==")
        for depth, name in rows:
            key = name if name.startswith("Scan") else f"{section}:{depth}:{name}"
            ids.setdefault(key, len(ids) + 1)
            prefix = "   " + ("   " * (depth - 1) + "+- " if depth else "")
            tree.append(f"{prefix}{name} ({ids[key]})")
    root = len(ids) + 1
    details = [
        f"({i}) {k.rsplit(':', 1)[-1]}\nOutput [1]: [a#{i + 40}]" for k, i in ids.items()
    ] + [f"({root}) AdaptiveSparkPlan\nArguments: isFinalPlan=true"]
    return "\n".join(tree).format(root=root) + "\n\n" + "\n\n".join(details) + "\n"


def test_normalize_plan_drops_the_final_plan_of_an_executed_adaptive_plan():
    """Two runs of one cached query: AQE re-planned the final plan
    differently (an extra shuffle read, other ids); the initial plan is
    the same, and that is what the dumps compare."""
    from affinity_spark.plans.introspect import normalize_plan

    initial = [(0, "Project"), (1, "Exchange"), (2, "Scan parquet")]
    run1 = _executed(
        [(0, "ResultQueryStage"), (1, "Project"), (2, "ShuffleQueryStage"),
         (3, "Scan parquet")],
        initial,
    )
    run2 = _executed(
        [(0, "ResultQueryStage"), (1, "Project"), (2, "AQEShuffleRead"),
         (3, "ShuffleQueryStage"), (4, "Scan parquet")],
        initial,
    )
    assert run1 != run2
    norm = normalize_plan(run1)
    assert normalize_plan(run2) == norm == normalize_plan(norm)
    assert "Final Plan" not in norm and "QueryStage" not in norm
    # the shared scan keeps its block; the rest renumber densely
    assert "(1) Scan parquet" in norm and "(3) Exchange" in norm
    assert "AdaptiveSparkPlan (4)" in norm and "(4) AdaptiveSparkPlan" in norm
    # a change to the initial plan still shows
    other = initial[:1] + [(1, "Sort")] + initial[2:]
    assert normalize_plan(_executed([(0, "ResultQueryStage")], other)) != norm
    # a plan that never ran is left as it is
    assert normalize_plan(_PLAN) == normalize_plan(normalize_plan(_PLAN))
    # an RDD id counts the RDDs the process made before
    scan = "Arguments: [v#1], MapPartitionsRDD[{}] at localCheckpoint at {}.java:0"
    assert normalize_plan(scan.format(4957, "X")) == normalize_plan(scan.format(4942, "X"))
    assert normalize_plan(scan.format(4957, "X")) != normalize_plan(scan.format(4957, "Y"))
