"""Serving gateway (E1/T7 minus the transport): ExampleBankSpec's reads
answered by ServingGateway handlers, and a per-key subscription stream
(ws-client semantics: initial state then updates)."""

from __future__ import annotations

import json
import os

import pytest

from affinity_spark import TimeRange
from affinity_spark.serving import ServingGateway
from tests.test_bank_end_to_end import BATCH_1, BATCH_2, SCHEMA


@pytest.fixture(scope="module")
def gateway(spark):
    df = spark.createDataFrame([*BATCH_1, *BATCH_2], SCHEMA)
    return ServingGateway(df=df, ts_col="ts")


def test_account_point_reads(gateway):
    """ExampleBankSpec.scala:127-140 — transactions per account."""
    assert len(gateway.prefix_range({"sortcode": "11-10-30", "account": 10233321})) == 3
    assert len(gateway.prefix_range({"sortcode": "11-10-30", "account": 88885454})) == 2
    assert len(gateway.prefix_range({"sortcode": "33-55-10", "account": 49772300})) == 1


def test_branch_prefix_reads(gateway):
    """ExampleBankSpec.scala:142-149 — transactions per branch."""
    assert len(gateway.prefix_range({"sortcode": "11-10-30"})) == 5
    assert len(gateway.prefix_range({"sortcode": "33-55-10"})) == 1
    assert gateway.prefix_range({"sortcode": "xx-xx-xx"}) == []


def test_branch_timebounded_read(gateway):
    got = gateway.prefix_range(
        {"sortcode": "11-10-30"}, TimeRange.until(1530144000000)
    )
    assert sorted(r["txn"] for r in got) == [1001, 1003, 1004]


def test_point_get_full_key(gateway):
    got = gateway.point_get(
        {"sortcode": "11-10-30", "account": 10233321, "txn": 1003}
    )
    assert len(got) == 1 and got[0]["amount"] == 99.9


def test_gateway_requires_exactly_one_source(spark):
    with pytest.raises(ValueError):
        ServingGateway()


def test_per_key_subscription(spark, tmp_path):
    """Subscriber to one account sees its initial state, then only its own
    subsequent changes, in arrival order."""
    src = str(tmp_path / "in")
    os.makedirs(src)

    def feed(name, rows):
        tmp = os.path.join(src, f".{name}.tmp")
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(tmp, os.path.join(src, name))

    snapshot = spark.createDataFrame(BATCH_1, SCHEMA)
    gw = ServingGateway(df=snapshot, ts_col="ts")
    stream = spark.readStream.schema(SCHEMA).json(src)
    key = {"sortcode": "11-10-30", "account": 10233321}
    sub = gw.subscribe(stream, key, str(tmp_path / "ckpt"))
    try:
        # initial state: txn 1001 + 1003 from the snapshot
        initial = sub.take(2)
        assert sorted(r["txn"] for r in initial) == [1001, 1003]
        # changes for this key and another key arrive; only ours surface
        feed("b2.json", BATCH_2)
        update = sub.take(1)
        assert update[0]["txn"] == 1005
        feed(
            "b3.json",
            [{"sortcode": "11-10-30", "account": 10233321, "txn": 1007,
              "amount": 5.0, "ts": 1530200000000}],
        )
        assert sub.take(1)[0]["txn"] == 1007
    finally:
        sub.stop()


def test_table_subscription_survives_commit_burst(spark, tmp_path):
    """Three commits land between two polls — with the default retention
    of 2 the poller's last-seen snapshot is reclaimed by then. The
    subscriber still gets exactly the burst's net changes to its key
    (insert, update, delete), not a resend of the key's whole state."""
    from affinity_spark.sources.keyed_table import KeyedTable

    tbl = KeyedTable(
        spark, str(tmp_path / "bank"), ["sortcode", "account", "txn"], "ts",
        num_buckets=2,
    )
    tbl.overwrite(spark.createDataFrame(BATCH_1, SCHEMA))
    gw = ServingGateway(table=tbl)
    key = {"sortcode": "11-10-30", "account": 10233321}
    # an hour-long tick: the poller checks once at start, then only when
    # the test steps it
    sub = gw.subscribe_table(key, poll_s=3600)
    try:
        assert sorted(e["txn"] for e in sub.take(2, timeout_s=30)) == [1001, 1003]
        base = tbl._current_version_dir()
        gw.upsert([BATCH_2[1]])  # insert 1005 (ours)
        gw.upsert([{**BATCH_1[0], "amount": 1.5, "ts": BATCH_1[0]["ts"] + 1}])
        gw.delete({**key, "txn": 1003})
        assert os.path.basename(base) not in tbl.versions()
        sub._poll_once()
        got = sorted((e["txn"], e["_change"]) for e in sub.take(3, timeout_s=5))
        assert got == [(1001, "update"), (1003, "delete"), (1005, "insert")]
        assert sub.poll(timeout_s=0.2) == []
    finally:
        sub.stop()


def test_insert_only_cas_ties_merge_to_antijoin_base(spark, tmp_path):
    """insert() derives its fresh-keys anti-join from ONE snapshot and
    must commit AGAINST THAT BASE: an external (non-gateway) writer
    committing the same key between the read and the merge has to surface
    as ConcurrentWriteError, never be silently overwritten — insert-only
    semantics hold outside the HTTP write_lock too (r13 ADVICE)."""
    from affinity_spark.sources.keyed_table import (
        ConcurrentWriteError,
        KeyedTable,
    )

    tbl = KeyedTable(
        spark, str(tmp_path / "t"), ["k"], ts_col="ts", num_buckets=2
    )
    tbl.upsert(spark.createDataFrame([(1, 10, "a")], "k long, ts long, v string"))
    gw = ServingGateway(table=tbl)

    # the race window: an external writer lands between the gateway's
    # existing-keys read (base capture) and its merge commit
    orig_upsert = KeyedTable.upsert

    def racing_upsert(updates, expected_base=KeyedTable._UNSET):
        orig_upsert(
            tbl,
            spark.createDataFrame(
                [(2, 20, "external")], "k long, ts long, v string"
            ),
        )
        return orig_upsert(tbl, updates, expected_base=expected_base)

    tbl.upsert = racing_upsert
    try:
        with pytest.raises(ConcurrentWriteError):
            gw.insert([{"k": 2, "ts": 30, "v": "late-insert"}])
    finally:
        tbl.upsert = orig_upsert.__get__(tbl)
    # the externally committed row survives untouched
    assert gw.point_get({"k": 2})[0]["v"] == "external"
