"""Physical-plan introspection: the engine's scale guardrails.

The reference has no optimizer — its performance engineering is physical
layout (SURVEY §4). On Spark the equivalent discipline is asserting the
*shape* of the Catalyst physical plan: filters reached the scan, small dims
broadcast, shuffle count is what the algebra requires, codegen spans are
wide. These helpers make those properties testable (tests/test_plan_quality
pins them for the headline queries), so a regression that silently turns a
broadcast join into a sort-merge join or strips pushdown fails CI — at
100 TB those regressions are outages, not slowdowns.
"""

from __future__ import annotations

import bisect
import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def formatted_plan(df: DataFrame) -> str:
    """`explain("formatted")` text — unlike the operator toString it never
    truncates scan details (PushedFilters/ReadSchema)."""
    jdf = df._jdf  # noqa: SLF001
    jvm = df.sparkSession._jvm  # noqa: SLF001
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return jdf.queryExecution().explainString(mode)


def _drop_final_plans(text: str) -> str:
    """``text`` without the ``== Final Plan ==`` section of each executed
    adaptive plan (a frame the query already ran, such as a cached
    result): that section records one execution — its stage order and
    the shape AQE re-planned from the stages that finished first — so two
    runs of one query differ there. The ``== Initial Plan ==`` is kept,
    the detail blocks of nodes printed only in removed sections go too,
    and the other node ids are renumbered as if those nodes had never
    been numbered."""
    tree, sep, details = text.partition("\n\n")
    lines = tree.split("\n")
    kept, dropped, end = [], [], None
    for line in lines:
        if end is not None:
            if line.startswith(end):
                end = None
            else:
                dropped.append(line)
                continue
        col = line.find("+- == Final Plan ==")
        if col >= 0:
            end = line[:col] + "+- == Initial Plan =="
            continue
        kept.append(line)
    if len(kept) == len(lines):
        return text

    def ids(rows: list[str]) -> set[int]:
        return {int(i) for i in re.findall(r"\((\d+)\)", "\n".join(rows))}

    gone = sorted(ids(dropped) - ids(kept))
    blocks = [
        b for b in details.split("\n\n")
        if not ((m := re.match(r"\((\d+)\) ", b)) and int(m.group(1)) in gone)
    ]
    return re.sub(
        r"\((\d+)\)",
        lambda m: f"({int(m.group(1)) - bisect.bisect(gone, int(m.group(1)))})",
        "\n".join(kept) + sep + "\n\n".join(blocks),
    )


def normalize_plan(text: str) -> str:
    """Mask what differs between two processes in a plan string, so two
    dumps of the same plan diff clean: expression ids (``#141``), the
    lambda-variable suffix the JVM draws from one global counter
    (``x_54``, ``acc_3``), exchange ``plan_id``s, RDD ids
    (``MapPartitionsRDD[4957]``, drawn from a per-process counter that
    every earlier job moves), the scratch paths a run creates (``mkdtemp``
    roots such as ``affinity_ivf_k3xtd_08``, KeyedTable version dirs
    ``v<millis>-<hex8>`` and the uuid names of their delta files
    ``_deltas/<seq>/<hex32>.parquet``), and the final plans of
    executed adaptive plans (``_drop_final_plans``). Other node ids
    (``(12)``) are left alone — they are positional, and
    ``tools/plan_audit.py`` counts them."""
    text = _drop_final_plans(text)
    text = re.sub(r"#\d+", "#N", text)
    text = re.sub(r"\b(lambda \w+?)_\d+\b", r"\1_N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    text = re.sub(r"\b(affinity_[a-z]+_)[a-z0-9_]{8}(?=/)", r"\1X", text)
    text = re.sub(r"(/_deltas/\d+/)[0-9a-f]{32}(?=\.parquet)", r"\1X", text)
    return re.sub(r"\bv\d{16}-[0-9a-f]{8}\b", "vN", text)


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from every scan in the plan."""
    plan = formatted_plan(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
        if m.group(1).strip():
            out.extend(p.strip() for p in m.group(1).split(","))
    return out


def n_exchanges(df: DataFrame) -> int:
    """Shuffle count (Exchange operators, minus broadcast exchanges and
    AQE reuse).

    Counted as DISTINCT plan ids, not raw text matches: a plan that
    references a shared subtree from several parents (persisted frames,
    reused exchanges) PRINTS that subtree once per reference, so a text
    count inflates — pagerank's fused 3-iteration DAG printed 103
    "exchanges" for a handful of real shuffles. Lines without a plan_id
    (older formats) fall back to positional counting."""
    plan = executed_plan(df)
    ids = set()
    anon = 0
    for m in re.finditer(
        r"\bExchange (?:hashpartitioning|rangepartitioning|SinglePartition)[^\n]*",
        plan,
    ):
        pid = re.search(r"\[plan_id=(\d+)\]", m.group(0))
        if pid:
            ids.add(pid.group(1))
        else:
            anon += 1
    return len(ids) + anon


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df) or "BroadcastNestedLoopJoin" in executed_plan(df)


def wholestage_codegen_ids(df: DataFrame) -> list[int]:
    """Distinct WholeStageCodegen span ids — wider/fewer spans mean more of
    the plan runs as fused generated code. Spans print as ``*(N)`` in the
    simple plan string and ``WholeStageCodegen (N)`` in the verbose one."""
    plan = executed_plan(df)
    ids = re.findall(r"WholeStageCodegen \((\d+)\)", plan) + re.findall(r"\*\((\d+)\)", plan)
    return sorted({int(x) for x in ids})
