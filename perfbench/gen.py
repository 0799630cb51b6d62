"""Seeded input generators and the reference models the answers are checked
against. Every generator takes a ``random.Random`` seeded from ``--seed``
and nothing else, so one seed always gives byte-identical inputs."""

from __future__ import annotations

import bisect
import os
import random

T0_MS = 1_700_000_000_000


class Zipf:
    """Zipf(s) over ``n`` items whose ranks are a seeded permutation, so
    the hot keys differ from seed to seed."""

    def __init__(self, rng: random.Random, n: int, s: float) -> None:
        weights = [1.0 / (r + 1) ** s for r in range(n)]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)
        self.items = list(range(n))
        rng.shuffle(self.items)

    def sample(self, rng: random.Random) -> int:
        i = bisect.bisect_left(self.cdf, rng.random())
        return self.items[min(i, len(self.items) - 1)]


# --- bank-style keyed table: accounts x transactions ---------------------------


def bank_rows(rng: random.Random, accounts: int, txns: int) -> list[dict]:
    """One row per (account, txn); ts_ms grows with txn inside an account."""
    rows = []
    for a in range(accounts):
        for t in range(txns):
            rows.append(
                {
                    "account": a,
                    "txn": t,
                    "ts_ms": T0_MS + t * 60_000 + rng.randrange(60_000),
                    "amount": rng.randrange(-50_000, 50_000),
                }
            )
    return rows


def write_parquet(rows: list[dict], path: str, types: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = {c: pa.array([r[c] for r in rows], type=t) for c, t in types.items()}
    pq.write_table(pa.table(cols), path)


def bank_types(extra: bool = False) -> dict:
    import pyarrow as pa

    t = {"account": pa.int64(), "txn": pa.int64(), "ts_ms": pa.int64(), "amount": pa.int64()}
    if extra:
        t.update({"seq": pa.int64(), "tombstone": pa.bool_(), "created_ms": pa.int64()})
    return t


# --- serve_mixed: the open-loop op schedule ----------------------------------------

# The mix is laid out in fixed blocks of ten ops: 7 GET, 2 scan, 1 POST, with
# writes evenly spaced, so every run has the same number of reads overlapping
# a write. The seed picks keys and values.
SERVE_BLOCK = ("get", "get", "scan", "get", "get", "post", "get", "get", "scan", "get")


def serve_schedule(rng: random.Random, p: dict, rows: list[dict], n_ops: int,
                   n_warm: int) -> tuple[list[dict], list[dict]]:
    """(warm-up ops, timed ops): ``p["warm_posts"]`` warm-up writes plus
    ``n_warm`` warm-up reads, then ``n_ops`` timed ops. Reads and writes draw accounts from the
    same Zipf; POST rows update existing txns (newer ts) or insert new ones.
    Timed op i is due at i / rate seconds after the window opens."""
    accounts, txns = p["accounts"], p["txns_per_account"]
    zipf = Zipf(rng, accounts, p["zipf_s"])
    ts = {(r["account"], r["txn"]): r["ts_ms"] for r in rows}
    next_txn = [txns] * accounts
    span_ms = txns * 60_000

    def op(kind: str) -> dict:
        a = zipf.sample(rng)
        if kind == "get":
            return {"kind": "get", "key": {"account": a, "txn": rng.randrange(txns)}}
        if kind == "scan":
            width = int(span_ms * p["scan_window"])
            lo = T0_MS + rng.randrange(span_ms - width)
            return {"kind": "scan", "key": {"account": a}, "from": lo, "until": lo + width}
        body = []
        for _ in range(p["post_rows"]):
            a = zipf.sample(rng)
            if rng.random() < p["post_insert_share"]:
                t = next_txn[a]
                next_txn[a] += 1
            else:
                t = rng.randrange(txns)
            new_ts = max(ts.get((a, t), T0_MS), T0_MS + span_ms) + 1 + rng.randrange(1000)
            ts[(a, t)] = new_ts
            body.append({"account": a, "txn": t, "ts_ms": new_ts,
                         "amount": rng.randrange(-50_000, 50_000)})
        return {"kind": "post", "rows": body}

    kinds = [SERVE_BLOCK[i % len(SERVE_BLOCK)] for i in range(n_ops)]
    # warm-up: writes, then reads (the host sends reads four at a time)
    warm = ([op("post") for _ in range(p["warm_posts"])]
            + [op(("get", "get", "scan")[i % 3]) for i in range(n_warm)])
    timed = []
    for i, k in enumerate(kinds):
        o = op(k)
        o["due"] = i / p["rate_per_s"]
        timed.append(o)
    return warm, timed


# --- ingest_stream: the changelog ---------------------------------------------------


def ingest_events(rng: random.Random, p: dict, rows: list[dict], n_files: int) -> list[list[dict]]:
    """``n_files`` changelog files of ``events_per_file`` events each.

    Keys are Zipf-skewed over accounts. A share of events is late (older ts
    than the key's current one, so it must lose), a share are tombstones,
    a share repeat the key's current ts exactly (the higher ``seq`` wins
    the tie); the rest are newer updates or inserts of fresh txns.
    ``created_ms`` is stamped when the file is written, not here."""
    accounts, txns = p["accounts"], p["txns_per_account"]
    zipf = Zipf(rng, accounts, p["zipf_s"])
    ts = {(r["account"], r["txn"]): r["ts_ms"] for r in rows}
    next_txn = [txns] * accounts
    seq = 0
    files = []
    for _ in range(n_files):
        events = []
        for _ in range(p["events_per_file"]):
            seq += 1
            a = zipf.sample(rng)
            u = rng.random()
            if u < p["insert_share"]:
                t = next_txn[a]
                next_txn[a] += 1
            else:
                t = rng.randrange(txns)
            cur = ts.get((a, t))
            u = rng.random()
            tomb = False
            if cur is not None and u < p["late_share"]:
                new_ts = cur - 1 - rng.randrange(10_000)  # loses
            elif cur is not None and u < p["late_share"] + p["tie_share"]:
                new_ts = cur  # equal ts: the higher seq wins
            else:
                new_ts = (cur or T0_MS) + 1 + rng.randrange(1000)
                tomb = cur is not None and rng.random() < p["tombstone_share"]
            if new_ts >= (cur or 0):
                ts[(a, t)] = new_ts
            events.append({"account": a, "txn": t, "ts_ms": new_ts,
                           "amount": rng.randrange(-50_000, 50_000),
                           "seq": seq, "tombstone": tomb})
        files.append(events)
    return files


def lww(base: list[dict], events) -> dict:
    """Last-write-wins compaction: per key the row with the greatest
    (ts_ms, seq); tombstones stay in the state and are filtered on read,
    the way ``streaming/sinks.py`` keeps them."""
    state = {(r["account"], r["txn"]): r for r in base}
    for e in events:
        k = (e["account"], e["txn"])
        cur = state.get(k)
        if cur is None or (e["ts_ms"], e["seq"]) > (cur["ts_ms"], cur.get("seq", 0)):
            state[k] = e
    return state


def visible(state: dict) -> dict:
    return {k: r for k, r in state.items() if not r.get("tombstone")}


# --- batch_pipeline: an sf0.1-shaped dataset ---------------------------------------

# The documents of the repo's sf test data: a uniform draw from these 30
# words, 10 to 100 tokens a document; near duplicates are another document
# with " dup" appended.
_WORDS = (
    "key agg row scan slow fast table value part hash a the merge batch "
    "spark line sort window order data column join small customer query big "
    "stream group filter vector"
).split()
_LANGS = ["en"] * 41 + ["zh"] * 15 + ["es"] * 15 + ["de"] * 14 + ["fr"] * 15
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def batch_tables(rng: random.Random, p: dict) -> dict[str, tuple[list[dict], dict]]:
    """customer and documents shaped like the repo's sf test data, at the
    sizes in ``p``: near duplicates (``near_dup_share``) and exact
    duplicates (``exact_dup_share``) of earlier documents are planted so
    the dedup queries have work to verify."""
    import pyarrow as pa

    cust = [{"c_custkey": i, "c_name": f"Customer#{i:09d}", "c_nationkey": rng.randrange(25),
             "c_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
             "c_mktsegment": rng.choice(_SEGMENTS)}
            for i in range(p["customer"])]
    lo, hi = p["doc_tokens"]
    docs = []
    for i in range(p["documents"]):
        u = rng.random()
        if docs and u < p["exact_dup_share"]:
            text = rng.choice(docs)["text"]
        elif docs and u < p["exact_dup_share"] + p["near_dup_share"]:
            text = rng.choice(docs)["text"] + " dup"
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))
        docs.append({"doc_id": i, "text": text, "lang": rng.choice(_LANGS),
                     "source": f"src{i % 20}", "n_chars": len(text)})
    return {
        "customer": (cust, {
            "c_custkey": pa.int64(), "c_name": pa.string(), "c_nationkey": pa.int32(),
            "c_acctbal": pa.float64(), "c_mktsegment": pa.string()}),
        "documents": (docs, {
            "doc_id": pa.int64(), "text": pa.string(), "lang": pa.string(),
            "source": pa.string(), "n_chars": pa.int64()}),
    }


def write_batch_tables(tables: dict, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, (rows, types) in tables.items():
        write_parquet(rows, os.path.join(out_dir, f"{name}.parquet"), types)

