"""The benchmark's own tests: seeded inputs, reference models, statistics
and open-loop timing. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import common  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SERVE = run.SPEC["serve_mixed"]
INGEST = run.SPEC["ingest_stream"]
BATCH = run.SPEC["batch_pipeline"]


def _inputs(seed: int) -> str:
    rng = random.Random(seed)
    rows = gen.bank_rows(rng, 50, 20)
    p = {**SERVE, "accounts": 50, "txns_per_account": 20}
    warm, ops = gen.serve_schedule(rng, p, rows, 40, 6)
    files = gen.ingest_events(rng, {**INGEST, "accounts": 50, "txns_per_account": 20}, rows, 3)
    small = {**BATCH, "customer": 30, "documents": 40}
    tables = {k: v[0] for k, v in gen.batch_tables(rng, small).items()}
    return json.dumps([rows, warm, ops, files, tables], sort_keys=True)


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_different_seed_gives_different_inputs():
    assert _inputs(7) != _inputs(8)


def test_serve_mix_is_exact_per_window():
    rng = random.Random(1)
    rows = gen.bank_rows(rng, 50, 20)
    p = {**SERVE, "accounts": 50, "txns_per_account": 20}
    _, ops = gen.serve_schedule(rng, p, rows, 50, 0)
    kinds = [o["kind"] for o in ops]
    assert (kinds.count("get"), kinds.count("scan"), kinds.count("post")) == (35, 10, 5)
    assert [o["due"] for o in ops[:3]] == [0.0, 1 / p["rate_per_s"], 2 / p["rate_per_s"]]


def _ev(ts, seq, amount=0, tomb=False, txn=0):
    return {"account": 1, "txn": txn, "ts_ms": ts, "amount": amount, "seq": seq, "tombstone": tomb}


def test_lww_late_event_loses():
    base = [{"account": 1, "txn": 0, "ts_ms": 100, "amount": 5}]
    state = gen.visible(gen.lww(base, [_ev(200, 1, amount=7), _ev(150, 2, amount=9)]))
    assert state[(1, 0)]["amount"] == 7


def test_lww_tombstone_then_reinsert():
    base = [{"account": 1, "txn": 0, "ts_ms": 100, "amount": 5}]
    gone = gen.visible(gen.lww(base, [_ev(200, 1, tomb=True)]))
    assert (1, 0) not in gone
    back = gen.visible(gen.lww(base, [_ev(200, 1, tomb=True), _ev(300, 2, amount=4)]))
    assert back[(1, 0)]["amount"] == 4
    # an older re-insert arriving after the tombstone still loses to it
    late = gen.visible(gen.lww(base, [_ev(200, 1, tomb=True), _ev(150, 2, amount=4)]))
    assert (1, 0) not in late


def test_lww_equal_ts_higher_seq_wins_in_any_order():
    a, b = _ev(200, 3, amount=1), _ev(200, 8, amount=2)
    assert gen.lww([], [a, b])[(1, 0)]["amount"] == 2
    assert gen.lww([], [b, a])[(1, 0)]["amount"] == 2


def test_generated_late_events_lose_in_the_model():
    rng = random.Random(3)
    rows = gen.bank_rows(rng, 20, 10)
    for r in rows:
        r.update(seq=0, tombstone=False)
    p = {**INGEST, "accounts": 20, "txns_per_account": 10}
    events = [e for f in gen.ingest_events(rng, p, rows, 4) for e in f]
    state = gen.lww(rows, events)
    winners = {id(r) for r in state.values()}
    newest = {}
    for e in [*rows, *events]:
        k = (e["account"], e["txn"])
        newest[k] = max(newest.get(k, (0, -1)), (e["ts_ms"], e["seq"]))
    late = [e for e in events if (e["ts_ms"], e["seq"]) < newest[(e["account"], e["txn"])]]
    assert late and not any(id(e) in winners for e in late)
    assert any(e["tombstone"] for e in events)


def test_tail_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    t = common.tail(xs)
    assert t["value"] == 90 and t["beyond"] == 10 and t["pct"] == 90.0
    assert sum(1 for x in xs if x > t["value"]) == 10
    t = common.tail(list(range(21)))
    assert t["value"] == 10 and sum(1 for x in range(21) if x > t["value"]) == 10


def test_tail_below_21_samples_is_the_maximum():
    t = common.tail([5, 1, 9, 3])
    assert t == {"value": 9.0, "pct": 100.0, "beyond": 0, "n": 4}


def test_open_loop_times_from_due_so_a_stall_inflates_queued_requests(monkeypatch):
    def fake_request(port, op, timeout):
        time.sleep(1.0 if op["i"] == 0 else 0.01)
        return 200, b"[]", 0

    monkeypatch.setattr(common, "http_op", fake_request)
    ops = [{"i": i, "kind": "get", "key": {}, "due": i * 0.05} for i in range(10)]
    run.open_loop(0, ops, clients=1, timeout=5)
    lat = [o["recv"] - o["due_abs"] for o in ops]
    service = [o["recv"] - o["sent"] for o in ops]
    assert lat[0] >= 1.0
    # every request queued behind the stall waited for it: its latency from
    # the due time is far above its own service time
    for i in range(1, 10):
        assert service[i] < 0.2
        assert lat[i] >= 1.0 - i * 0.05 - 0.02


def _bare_run():
    r = run.Run.__new__(run.Run)
    r.errors, r.detail = [], {}
    return r


def test_check_serve_skips_reads_overlapping_a_write():
    r = _bare_run()
    rows = [{"account": 1, "txn": 0, "ts_ms": 10, "amount": 5}]
    post = {"kind": "post", "rows": [{"account": 1, "txn": 0, "ts_ms": 20, "amount": 6}],
            "sent": 1.0, "recv": 2.0, "status": 200}

    def get(sent, recv, amount):
        return {"kind": "get", "key": {"account": 1, "txn": 0}, "sent": sent, "recv": recv,
                "status": 200, "resp": json.dumps(
                    [{"account": 1, "txn": 0, "ts_ms": 20 if amount == 6 else 10, "amount": amount}])}

    ops = [post, get(0.1, 0.5, 5), get(1.5, 1.7, 6), get(3.0, 3.1, 6)]
    assert run.check_serve(r, rows, [], ops) == 1
    assert r.errors == []
    assert run.check_serve(r, rows, [], [post, get(3.0, 3.1, 5)]) == 0
    assert r.errors


def test_check_ingest_catches_a_key_left_twice_in_the_snapshot(tmp_path):
    rows = [{"account": 1, "txn": 0, "ts_ms": 10, "amount": 5, "seq": 0, "tombstone": False}]
    events = [_ev(20, 1, amount=6)]
    winner = {**events[0], "created_ms": 0}
    types = gen.bank_types(True)
    # the winning row alone is right
    gen.write_parquet([winner], str(tmp_path / "a.parquet"), types)
    r = _bare_run()
    run.check_ingest(r, rows, events, str(tmp_path))
    assert r.errors == []
    # the same row left behind twice: every value read matches the model,
    # so only the per-key row count can catch it
    gen.write_parquet([winner], str(tmp_path / "b.parquet"), types)
    r = _bare_run()
    run.check_ingest(r, rows, events, str(tmp_path))
    assert any("more than one row" in e for e in r.errors)


def test_normalize_scales_every_figure_by_the_reference_speed():
    r = _bare_run()
    r.args = type("A", (), {"workload": "batch_pipeline"})()
    ref = BATCH["reference_ms"]
    raw = {"setup_s": 10.0, "p50_ms": 3000.0}
    # the reference ran at half the reference speed, so figures halve
    out = r.normalize(raw, [2 * ref, 2 * ref, 5 * ref])
    assert out == {"setup_s": 5.0, "p50_ms": 1500.0}
    assert r.detail["raw"] == raw and r.detail["speed_factor"] == 0.5
