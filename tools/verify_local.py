"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same sf dir, then compares row count, column-name set and an
order-insensitive value hash (columns sorted by name, rows sorted).

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from affinity_spark import get_spark
from affinity_spark.cache import release_shared
from affinity_spark.tables import TABLES


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        # Deliberately NOT folded into int/float: DuckDB's integer sum()
        # yields HUGEINT (arrow decimal128) which the driver's hasher
        # distinguishes from Spark's BIGINT. Oracle SQL must CAST such sums
        # to BIGINT; an uncast one must FAIL here, not pass silently.
        return f"decimal:{v}"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def _print_diff(scols, srows, dcols, drows, limit: int = 10) -> None:
    """With VERIFY_DIFF=1: show the first rows present on only one side
    (canonicalized), the fastest way to localize a hash mismatch."""
    sorder = sorted(range(len(scols)), key=lambda i: scols[i])
    dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sset = {tuple(canon(r[i]) for i in sorder) for r in srows}
    dset = {tuple(canon(r[i]) for i in dorder) for r in drows}
    for tag, only in (("spark-only", sset - dset), ("duck-only", dset - sset)):
        for row in sorted(only)[:limit]:
            print(f"       {tag}: {row}")


def main() -> int:
    # one line per query as it finishes, also when stdout is a file
    sys.stdout.reconfigure(line_buffering=True)
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("verify-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            # drain library-persisted shared frames so one query's cache
            # entries can't substitute into a later query's plan
            release_shared()
        spark_sec = time.time() - t0
        if name not in oracles:
            print(f"WEAK {name}: rows={len(srows)} (no oracle) [{spark_sec:.1f}s]")
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh = frame_hash(scols, [tuple(r) for r in srows])
            dh = frame_hash(dcols, drows)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
        if problems:
            failures += 1
            print(f"FAIL {name}: {'; '.join(problems)} [{spark_sec:.1f}s]")
            if os.environ.get("VERIFY_DIFF"):
                _print_diff(scols, srows, dcols, drows)
        else:
            print(f"OK   {name}: rows={len(srows)} [{spark_sec:.1f}s]")
    print(f"\n{failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
