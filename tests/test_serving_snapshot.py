"""Table-backed gateway reads served from the in-memory snapshot.

A ``ServingGateway(table=...)`` answers point gets and prefix/time-range
scans from an Arrow copy of the current snapshot (the reference's
memstore) instead of one Spark job per request. Two properties:

1. Parity: the rows are exactly those a df-backed gateway (the Spark plan)
   returns over the same committed snapshot, serialized the same way —
   for every column type, NULL cells, NaN, both time units, and the
   fallbacks (oversize snapshot, values that need Spark's coercion).
2. Visibility: a commit by any writer is seen by the next read; reads
   concurrent with a POST see the old or the new snapshot, never a mix.
"""

from __future__ import annotations

import datetime as dt
import json
import sys
import threading
import urllib.request
from decimal import Decimal

import pytest
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from affinity_spark import TimeRange, serving
from affinity_spark.serving import ServingGateway
from affinity_spark.serving_http import HttpGateway
from affinity_spark.sources.keyed_table import KeyedTable

META = StructType([StructField("a", IntegerType()), StructField("b", StringType())])
SCHEMA = StructType([
    StructField("k", LongType()),
    StructField("name", StringType()),
    StructField("ts_ms", LongType()),
    StructField("ts", TimestampType()),
    StructField("i", IntegerType()),
    StructField("flag", BooleanType()),
    StructField("x", DoubleType()),
    StructField("price", DecimalType(10, 2)),
    StructField("blob", BinaryType()),
    StructField("meta", META),
])


def _ts(ms: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(milliseconds=ms)


T0_MS = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
ROWS = [
    (1, "a", 1000, _ts(1000), 7, True, 1.5, Decimal("3.10"), b"\x00\x01", (1, "p")),
    (1, "b", 2000, _ts(2000), 7, False, float("nan"), Decimal("0.00"), b"", (2, None)),
    (1, "c", 3000, _ts(3000), None, None, None, None, None, None),
    (2, "a", 4000, _ts(4000), 8, True, -0.0, Decimal("-1.25"), b"\xff", (None, "q")),
    (2, "b", 5000, None, 9, False, 1.5, Decimal("3.10"), b"z", (3, "r")),
    (2, None, None, _ts(6000), 7, True, float("nan"), Decimal("9.99"), None, (4, "s")),
    (3, "a", -50, _ts(-50), 0, False, 2.25, Decimal("100.00"), b"ab", (5, "t")),
    (3, "é", 7000, _ts(7000), -3, True, 0.0, Decimal("3.10"), b"\x10", (6, "u")),
]

# (key, time range) requests the in-memory path answers itself
IN_MEMORY = [
    ({"k": 1, "name": "a"}, None),
    ({"k": 2}, None),
    ({"name": "b"}, None),
    ({"name": "é"}, None),
    ({"i": 7}, None),
    ({"flag": True}, None),
    ({"flag": False}, None),
    ({"x": 1.5}, None),
    ({"x": 0.0}, None),
    ({"x": float("nan")}, None),
    ({"price": Decimal("3.10")}, None),
    ({"price": Decimal("3.1")}, None),
    ({}, None),
    ({"k": 999}, None),
    ({"k": 1}, TimeRange(1000, 3000)),
    ({"k": 2}, TimeRange.since(4500)),
    ({}, TimeRange.until(3000)),
    ({}, TimeRange.inclusive(1000, 5000)),
    ({}, TimeRange.unbounded()),
    ({"flag": True}, TimeRange(-100, 100)),
]

# requests whose values need Spark's type coercion: run the Spark plan
SPARK_PLAN = [
    ({"k": 1.0}, None),
    ({"x": 2}, None),
    ({"i": 2**40}, None),
    ({"price": Decimal("3.104")}, None),
    ({"ts": _ts(1000)}, None),
    ({"K": 1}, None),
]


def _body(rows: list[dict]) -> list[str]:
    """Rows as the HTTP layer serializes them, order-free."""
    return sorted(json.dumps(r, default=str, sort_keys=True) for r in rows)


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("snap")
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = {}
    for unit, ts_col in (("millis", "ts_ms"), ("timestamp", "ts")):
        tbl = KeyedTable(spark, str(root / unit), ["k", "name"], ts_col)
        tbl.overwrite(df)
        out[unit] = tbl
    return out


def _pair(tbl: KeyedTable, unit: str):
    mem = ServingGateway(table=tbl, ts_unit=unit)
    ref = ServingGateway(df=tbl.read(), ts_col=tbl.ts_col, ts_unit=unit)
    return mem, ref


def _shift(tr: TimeRange | None, unit: str) -> TimeRange | None:
    """The same window over the timestamp column (offset to its epoch)."""
    if tr is None or unit == "millis":
        return tr
    lo = tr.start_ms + T0_MS if tr.start_ms > 0 else tr.start_ms
    hi = tr.end_ms + T0_MS if tr.end_ms < TimeRange().end_ms else tr.end_ms
    return TimeRange(lo, hi)


@pytest.mark.parametrize("unit", ["millis", "timestamp"])
def test_in_memory_reads_match_the_spark_plan(spark, tables, unit):
    mem, ref = _pair(tables[unit], unit)
    for key, tr in IN_MEMORY:
        tr = _shift(tr, unit)
        assert mem._snapshot_rows(key, tr) is not None, (key, tr)
        want = ref.prefix_range(key, tr)
        assert _body(mem.prefix_range(key, tr)) == _body(want), (key, tr)
        if tr is None:
            assert _body(mem.point_get(key)) == _body(want), key
    for key, tr in SPARK_PLAN:
        assert mem._snapshot_rows(key, tr) is None, key
        assert _body(mem.point_get(key)) == _body(ref.point_get(key)), key
    # a warm in-memory read runs no Spark job
    sc = spark.sparkContext
    sc.setJobGroup("snapshot-probe", "")
    try:
        mem.point_get({"k": 1, "name": "a"})
        mem.prefix_range({"k": 2}, _shift(TimeRange(0, 4500), unit))
        assert sc.statusTracker().getJobIdsForGroup("snapshot-probe") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_nan_query_over_http(tables):
    """``?x=nan`` matches the NaN rows on both paths (Spark's NaN = NaN)."""
    tbl = tables["millis"]
    mem, ref = _pair(tbl, "millis")
    hg = HttpGateway()
    hg.register("mem", mem, SCHEMA)
    hg.register("ref", ref, SCHEMA)
    port = hg.start()
    try:
        for q in ("/kv/{}?x=nan", "/scan/{}?x=nan&from=0&until=5000",
                  "/scan/{}?k=2&flag=true"):
            got = []
            for route in ("mem", "ref"):
                url = f"http://127.0.0.1:{port}" + q.format(route)
                with urllib.request.urlopen(url, timeout=30) as r:
                    got.append(_body(json.loads(r.read())))
            assert got[0] == got[1], q
            assert got[0], q
    finally:
        hg.stop()


def test_oversize_snapshot_runs_the_spark_plan(tables, monkeypatch):
    monkeypatch.setattr(serving, "SNAPSHOT_MAX_BYTES", 0)
    mem, ref = _pair(tables["millis"], "millis")
    assert mem._snapshot() is None
    assert mem._snapshot_rows({"k": 1}) is None
    for key, tr in IN_MEMORY[:3] + IN_MEMORY[-3:]:
        assert _body(mem.prefix_range(key, tr)) == _body(ref.prefix_range(key, tr))


def test_failed_load_runs_the_spark_plan(tables, monkeypatch):
    """A load that fails with the pointer unmoved (e.g. a collect over
    spark.driver.maxResultSize) leaves that version's reads on the Spark
    plan; the load is not retried on every request."""
    calls = []

    def fail(self):
        calls.append(1)
        raise RuntimeError("Total size of serialized results is bigger than "
                           "spark.driver.maxResultSize")

    mem, ref = _pair(tables["millis"], "millis")
    # the session's concrete DataFrame class (classic or Connect)
    monkeypatch.setattr(type(tables["millis"].read()), "toArrow", fail)
    for key, tr in IN_MEMORY[:3] + IN_MEMORY[-3:]:
        assert _body(mem.prefix_range(key, tr)) == _body(ref.prefix_range(key, tr))
        assert _body(mem.point_get(key)) == _body(ref.point_get(key))
    assert mem._snapshot() is None
    assert len(calls) == 1


BANK = "account long, txn long, ts_ms long, amount long"


def test_external_commit_is_seen_by_the_next_read(spark, tmp_path):
    tbl = KeyedTable(spark, str(tmp_path / "t"), ["account", "txn"], "ts_ms")
    tbl.overwrite(spark.createDataFrame(
        [(a, t, 1000 + t, 0) for a in range(3) for t in range(5)], BANK))
    gw = ServingGateway(table=tbl)
    assert gw.point_get({"account": 1, "txn": 2})[0]["amount"] == 0
    tbl.upsert(spark.createDataFrame([(1, 2, 5000, 7), (1, 9, 5000, 8)], BANK))
    assert gw.point_get({"account": 1, "txn": 2})[0]["amount"] == 7
    assert len(gw.prefix_range({"account": 1})) == 6


def test_reads_during_a_post_see_old_or_new_snapshot(spark, tmp_path):
    tbl = KeyedTable(spark, str(tmp_path / "t"), ["account", "txn"], "ts_ms")
    tbl.overwrite(spark.createDataFrame(
        [(a, t, 1000 + t, 0) for a in range(3) for t in range(5)], BANK))
    gw = ServingGateway(table=tbl)
    hg = HttpGateway()
    hg.register("bank", gw, tbl.read().schema)
    port = hg.start()

    def get() -> list[str]:
        url = f"http://127.0.0.1:{port}/scan/bank?account=1"
        with urllib.request.urlopen(url, timeout=60) as r:
            return _body(json.loads(r.read()))

    stop, seen, errs = threading.Event(), [], []

    def reader() -> None:
        try:
            while not stop.is_set():
                seen.append(get())
        except Exception as e:  # noqa: BLE001 - recorded for assert
            errs.append(e)

    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # more thread interleavings per request
    try:
        old = get()
        # more readers than cores, all racing the snapshot swap
        readers = [threading.Thread(target=reader) for _ in range(6)]
        for th in readers:
            th.start()
        rows = [{"account": 1, "txn": 0, "ts_ms": 9000, "amount": 42},
                {"account": 1, "txn": 9, "ts_ms": 9000, "amount": 43}]
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/kv/bank", data=json.dumps(rows).encode(),
            method="POST")
        with urllib.request.urlopen(req, timeout=120) as r:
            assert r.status == 200
        new = get()  # sent after the 200: read-your-writes
        stop.set()
        for th in readers:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in readers)
    finally:
        sys.setswitchinterval(switch)
        stop.set()
        hg.stop()
    assert not errs
    assert new != old and len(new) == 6
    assert any('"amount": 42' in r for r in new)
    assert seen and all(b in (old, new) for b in seen)
