"""Dump `.explain("formatted")` for named driver queries into plan files.

Usage: python tools/plan_dump.py <out_dir> <suffix> [sf_dir] q1 q2 ...
Writes <out_dir>/<query>_<suffix>.txt per query (e.g. plans/r14/foo_before.txt).
The text is passed through ``normalize_plan`` (which also drops the AQE final
plan of a frame the query already ran), so dumps of one plan taken in
two processes (e.g. a parent commit and a change) compare with ``diff -r``.
Plan shape is scale-invariant for the properties the files document, so the
default sf is the smallest (fast frame construction, identical operators).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from affinity_spark import get_spark
from affinity_spark.plans.introspect import formatted_plan, normalize_plan


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = (
        rest.pop(0)
        if rest and os.path.isdir(rest[0])
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()
    for name in rest:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"# {name} — explain('formatted') at {sf_dir}\n")
            f.write(normalize_plan(formatted_plan(queries[name](spark, sf_dir))))
            f.write("\n")
        print(path)


if __name__ == "__main__":
    main()
