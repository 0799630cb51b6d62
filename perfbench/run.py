"""Benchmark for affinity_spark: one seeded workload per run.

    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The script generates the workload's inputs
from ``--seed``, launches ``host.py`` (the program under test, with its own
Spark JVM), drives it for ``--seconds`` from this process, checks every
answer against a python reference model, and prints one JSON object as the
last line of stdout: end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``. The line before it carries the detail (host
context, per-op-type latencies, per-query timings). A wrong answer exits 1;
a run that could not be measured exits 2 without a result line.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import queue
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import gen  # noqa: E402

with open(os.path.join(HERE, "spec.json")) as _f:
    SPEC = json.load(_f)

# the reference job is timed for this long just before and just after the
# window
REFERENCE_S = 1.0


class Host:
    """The host process: launch, talk, stop (and kill its tree if needed)."""

    def __init__(self, root: str, work: str, workload: str, trace: int) -> None:
        env = {
            **os.environ,
            "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
            "TMPDIR": os.path.join(work, "tmp"),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # keep the driver, its UI and the gateway on loopback whatever
            # the machine's hostname resolves to
            "SPARK_LOCAL_IP": "127.0.0.1",
        }
        os.makedirs(env["TMPDIR"], exist_ok=True)
        self.log = open(os.path.join(work, "host.log"), "w")
        self.launched = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "host.py"), "--workload", workload,
             "--work", work, "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            cwd=work, env=env, text=True, start_new_session=True,
        )
        self.pid = self.proc.pid
        self._lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self._lines.put(json.loads(line[2:]))
        self._lines.put(None)

    def read(self, timeout: float) -> dict:
        try:
            msg = self._lines.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"host did not answer within {timeout:.0f}s") from None
        if msg is None:
            raise RuntimeError(f"host exited with code {self.proc.wait()}")
        return msg

    def ask(self, cmd: dict, timeout: float = 120) -> dict:
        self.proc.stdin.write(json.dumps(cmd) + "\n")
        self.proc.stdin.flush()
        return self.read(timeout)

    def kill(self) -> None:
        """Stop the host's whole process group (JVM and python workers) and
        wait until it is gone. Nothing is left to flush once the figures are
        read, so there is no graceful shutdown to wait for."""
        try:
            os.killpg(self.pid, signal.SIGKILL)
        except (ProcessLookupError, PermissionError):
            pass
        try:
            self.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            pass
        deadline = time.time() + 30
        while time.time() < deadline:
            try:
                os.killpg(self.pid, 0)
            except (ProcessLookupError, PermissionError):
                break
            time.sleep(0.1)
        self.log.close()

    def log_tail(self, n: int = 4000) -> str:
        try:
            with open(self.log.name) as f:
                return f.read()[-n:]
        except OSError:
            return ""


class Run:
    """Per-run context: arguments, work dir, measured pieces."""

    def __init__(self, args, root: str) -> None:
        self.args = args
        self.root = root
        self.rng = random.Random(args.seed)
        self.work = os.path.join(root, ".perfbench_work",
                                 f"{args.workload}-{args.seed}-{os.getpid()}")
        os.makedirs(os.path.join(self.work, "inputs"), exist_ok=True)
        self.host: Host | None = None
        self.detail: dict = {}
        self.errors: list[str] = []

    def launch(self, timeout: float = 170) -> dict:
        self.host = Host(self.root, self.work, self.args.workload, self.args.trace)
        ready = self.host.read(timeout)
        self.setup_s = time.time() - self.host.launched
        self.detail["default_parallelism"] = ready["parallelism"]
        return ready

    def reference(self, seconds: float = REFERENCE_S) -> list[float]:
        """Time the workload's reference job in the host: plain Spark on
        the same inputs, no package code."""
        return self.host.ask({"reference": seconds})["reference_ms"]

    def normalize(self, e2e: dict, ref_ms: list[float]) -> dict:
        """Scale every end-to-end figure by the reference job's speed in
        this run: the host's speed varies more than twofold from one run to
        the next, and the reference job slows with it."""
        ref = common.median(ref_ms)
        factor = SPEC[self.args.workload]["reference_ms"] / ref
        self.detail.update(reference_ms=ref, reference_n=len(ref_ms), speed_factor=factor,
                           raw=e2e)
        return {k: v * factor for k, v in e2e.items()}

    def wrong(self, msg: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(msg)
        self.detail["wrong_answers"] = self.detail.get("wrong_answers", 0) + 1


def latency_metrics(samples_ms: list[float]) -> dict:
    t = common.tail(samples_ms)
    return {"p50_ms": common.median(samples_ms), "tail_ms": t["value"], "tail": t}


# --- serve_mixed -------------------------------------------------------------------------


ROUTES = {"get": "GET /kv/bank", "scan": "GET /scan/bank", "post": "POST /kv/bank"}


def open_loop(port: int, ops: list[dict], clients: int, timeout: float,
              between=None) -> float:
    """Dispatch ``ops`` at their due times to ``clients`` worker threads;
    each op records due/sent/recv. ``between``, if given, is called halfway
    from each due time to the next. Returns the dispatcher's worst lag (s)."""
    work: queue.Queue = queue.Queue()

    def worker() -> None:
        while (op := work.get()) is not None:
            op["sent"] = time.time()
            try:
                op["status"], op["resp"], op["bytes"] = common.http_op(port, op, timeout)
            except Exception as e:  # noqa: BLE001 - a failed request is a measured outcome
                op["status"], op["resp"], op["bytes"] = 0, str(e).encode(), 0
            op["recv"] = time.time()

    threads = [threading.Thread(target=worker) for _ in range(clients)]
    for t in threads:
        t.start()
    start = time.time() + 0.05
    lag = 0.0
    for op, nxt in zip(ops, ops[1:] + [None]):
        op["due_abs"] = start + op["due"]
        delay = op["due_abs"] - time.time()
        if delay > 0:
            time.sleep(delay)
        lag = max(lag, time.time() - op["due_abs"])
        work.put(op)
        if between is not None and nxt is not None:
            delay = start + (op["due"] + nxt["due"]) / 2 - time.time()
            if delay > 0:
                time.sleep(delay)
            between()
    for _ in threads:
        work.put(None)
    for t in threads:
        t.join()
    return lag


def check_serve(run: Run, rows: list[dict], warm: list[dict], ops: list[dict]) -> int:
    """Compare every GET and scan with the python model; reads that
    overlap a write to the same key (or account) are skipped and counted."""
    state: dict[int, dict[int, tuple]] = {}
    for r in rows:
        state.setdefault(r["account"], {})[r["txn"]] = (r["ts_ms"], r["amount"])

    def apply(post_rows) -> None:
        for r in post_rows:
            cur = state.setdefault(r["account"], {}).get(r["txn"])
            if cur is None or r["ts_ms"] > cur[0]:
                state[r["account"]][r["txn"]] = (r["ts_ms"], r["amount"])

    for op in warm:
        if op["kind"] == "post":
            apply(op["rows"])
    posts = sorted((o for o in ops if o["kind"] == "post"), key=lambda o: o["recv"])
    reads = sorted((o for o in ops if o["kind"] != "post" and o["status"] == 200),
                   key=lambda o: o["sent"])
    applied = skipped = 0
    for op in reads:
        while applied < len(posts) and posts[applied]["recv"] <= op["sent"]:
            if posts[applied]["status"] == 200:
                apply(posts[applied]["rows"])
            applied += 1
        a = op["key"]["account"]
        clash = False
        for p in posts:
            if p["sent"] < op["recv"] and (p["recv"] > op["sent"] or p["status"] != 200):
                if any(r["account"] == a and (op["kind"] == "scan" or r["txn"] == op["key"]["txn"])
                       for r in p["rows"]):
                    clash = True
                    break
        if clash:
            skipped += 1
            continue
        got = sorted((r["account"], r["txn"], r["ts_ms"], r["amount"])
                     for r in json.loads(op["resp"]))
        acct = state.get(a, {})
        if op["kind"] == "get":
            t = op["key"]["txn"]
            want = [(a, t, *acct[t])] if t in acct else []
        else:
            want = sorted((a, t, ts, amt) for t, (ts, amt) in acct.items()
                          if op["from"] <= ts < op["until"])
        if got != want:
            run.wrong(f"{op['kind']} {op['key']}: got {got[:3]} want {want[:3]}")
    return skipped


def serve_mixed(run: Run) -> dict:
    p = SPEC["serve_mixed"]
    rows = gen.bank_rows(run.rng, p["accounts"], p["txns_per_account"])
    closed = run.args.closed_loop
    n_ops = max(1, int(p["rate_per_s"] * run.args.seconds)) if not closed else closed
    warm, ops = gen.serve_schedule(run.rng, p, rows, n_ops, p["warm_reads"])
    if closed:
        for op in ops:
            op["due"] = 0.0
    gen.write_parquet(rows, os.path.join(run.work, "inputs", "bank.parquet"), gen.bank_types())
    with open(os.path.join(run.work, "inputs", "warm.json"), "w") as f:
        json.dump(warm, f)
    port = run.launch()["port"]
    before = common.http_json(port, "/metrics")
    # the reference job also runs halfway between requests, so its speed is
    # read across the window: timed only before and after it, it missed a
    # slow stretch in the middle of the window
    ref_ms = run.reference()
    cpu0, t_win = common.tree_cpu_s(run.host.pid), time.time()
    lag = open_loop(port, ops, p["clients"], p["timeout_s"],
                    None if closed else lambda: ref_ms.extend(run.reference(0)))
    cpu1, t_end = common.tree_cpu_s(run.host.pid), time.time()
    after = common.http_json(port, "/metrics")
    ref_ms += run.reference()
    report = run.host.ask({"t0": t_win})
    run.detail["peak_rss_mb"] = common.driver_peak_rss_mb(run.host.pid)
    run.host.kill()

    cap = p["timeout_s"] * 1000.0
    for op in ops:
        op["ok"] = 0 < op["status"] < 400
        op["lat_ms"] = (op["recv"] - op["due_abs"]) * 1000.0 if op["ok"] else cap
    failed = sum(not op["ok"] for op in ops)
    skipped = check_serve(run, rows, warm, ops)
    mismatch = 0
    for kind, route in ROUTES.items():
        b, a = before.get(route, {}), after.get(route, {})
        mine = [op for op in ops if op["kind"] == kind]
        mismatch += abs(a.get("success", 0) - b.get("success", 0) - sum(o["ok"] for o in mine))
        mismatch += abs(a.get("failure", 0) - b.get("failure", 0) - sum(not o["ok"] for o in mine))
    lat = latency_metrics([op["lat_ms"] for op in ops])
    d = run.detail
    for kind in ROUTES:
        m = latency_metrics([op["lat_ms"] for op in ops if op["kind"] == kind])
        d[f"{kind}_p50_ms"], d[f"{kind}_tail_ms"], d[f"{kind}_tail"] = m["p50_ms"], m["tail_ms"], m["tail"]
    thirds = [ops[i * len(ops) // 3:(i + 1) * len(ops) // 3] for i in range(3)]
    d["p50_by_third_ms"] = [common.median([op["lat_ms"] for op in t]) for t in thirds]
    d.update(failed_ratio=failed / len(ops), skipped_checks=skipped,
             dispatch_lag_ms=lag * 1000.0, tail=lat["tail"],
             rate_per_s=p["rate_per_s"], window_s=t_end - t_win,
             throughput_per_s=len(ops) / (t_end - t_win), snapshot_files=report["files"])
    out = {
        "attempted": len(ops), "failed": failed,
        "e2e": run.normalize({"setup_s": run.setup_s, "p50_ms": lat["p50_ms"],
                              "tail_ms": lat["tail_ms"],
                              "cpu_ms_per_op": (cpu1 - cpu0) * 1000.0 / len(ops)}, ref_ms),
    }
    if run.args.trace:
        out["layers"] = serve_layers(ops, report["spans"], mismatch, report["files"], out["e2e"], d)
    d["metrics_mismatch"] = mismatch
    return out


def serve_layers(ops, spans, mismatch, files, e2e, detail) -> dict:
    roots = {"get": "serving.point_get", "scan": "serving.prefix_range", "post": "serving.upsert"}
    by_sig: dict[tuple, list[dict]] = {}
    for s in spans:
        if s["name"] in roots.values():
            by_sig.setdefault((s["name"], s["sig"]), []).append(s)
    selfs = common.self_times(spans)
    by_id = {s["id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def subtree_self(s) -> float:
        return sum(selfs[k["id"]] + subtree_self(k) for k in kids.get(s["id"], []))

    per: dict[str, dict[str, list]] = {k: {} for k in roots}
    engine: list[dict] = []
    for op in ops:
        if not op["ok"]:
            continue
        if op["kind"] == "get":
            sig = json.dumps(op["key"], sort_keys=True)
        elif op["kind"] == "scan":
            sig = json.dumps([op["key"], op["from"], op["until"]], sort_keys=True)
        else:
            r = op["rows"][0]
            sig = json.dumps([r["account"], r["txn"], r["ts_ms"]])
        match = next((s for s in by_sig.get((roots[op["kind"]], sig), [])
                      if op["sent"] - 0.001 <= s["start"] and s["end"] <= op["recv"] + 0.001), None)
        if match is None:
            continue
        span_ms = (match["end"] - match["start"]) * 1000.0
        handle = by_id.get(match["parent"])
        if handle is None or handle["name"] != "serving_http.handle":
            continue
        handle_ms = (handle["end"] - handle["start"]) * 1000.0
        queue_ms = (op["sent"] - op["due_abs"]) * 1000.0
        row = {
            "e2e": op["lat_ms"],
            "serving_http.queue": queue_ms,
            "serving_http.handle": handle_ms,
            "serving_http.handler": handle_ms - span_ms,
            "serving": selfs[match["id"]],
            "keyed_table": subtree_self(match),
            # connect, request and response on loopback: no meter covers it
            "unattributed": op["lat_ms"] - queue_ms - handle_ms,
            "serving_http.wire": (op["recv"] - op["sent"]) * 1000.0 - span_ms,
            "span": span_ms,
        }
        for k, v in row.items():
            per[op["kind"]].setdefault(k, []).append(v)
        if "engine" in match:
            engine.append(match["engine"])
    # the share of the latency that measured spans account for: the queue
    # (due -> sent, timed here) and the server's handling of the request
    # (timed in the host), which holds the serving and keyed_table spans
    coverage = {}
    for kind, cols in per.items():
        if cols:
            measured = sum(cols["serving_http.queue"]) + sum(cols["serving_http.handle"])
            coverage[kind] = measured / sum(cols["e2e"])
    detail["layer_self_ms"] = {kind: {k: sum(v) / len(v) for k, v in cols.items()}
                               for kind, cols in per.items() if cols}
    detail["coverage"] = coverage
    detail["matched"] = {k: len(v.get("e2e", [])) for k, v in per.items()}
    wire = [x for c in per.values() for x in c.get("serving_http.wire", [])]
    queue_ms = [x for c in per.values() for x in c.get("serving_http.queue", [])]
    kt = kt_metrics(spans, sum(op["bytes"] for op in ops if op["kind"] == "post" and op["ok"]))
    return {
        "serving_http.wire_ms": common.median(wire),
        "serving_http.queue_ms": sum(queue_ms) / max(1, len(queue_ms)),
        "serving_http.metrics_mismatch": mismatch,
        "serving.point_get_ms": common.median(per["get"].get("span", [])),
        "serving.prefix_range_ms": common.median(per["scan"].get("span", [])),
        "serving.upsert_ms": common.median(per["post"].get("span", [])),
        **kt, "keyed_table.snapshot_files": files,
        **zero_layers("streaming", "registry", "cache"),
        **engine_means(engine),
        **trace_summary(e2e, coverage),
    }


# --- shared per-layer pieces --------------------------------------------------------------


LAYER_METRICS = {name: spec["metrics"] for name, spec in SPEC["per_layer"].items()}


def zero_layers(*layers: str) -> dict:
    return {m: 0 for layer in layers for m in LAYER_METRICS[layer]}


def kt_metrics(spans: list[dict], user_bytes: int) -> dict:
    reads = [(s["end"] - s["start"]) * 1000.0 for s in spans if s["name"] == "keyed_table.read"]
    ows = [s for s in spans if s["name"] == "keyed_table.overwrite"]
    written = sum(s.get("bytes", 0) for s in ows if s.get("commit"))
    return {
        "keyed_table.read_ms": common.median(reads),
        "keyed_table.overwrite_ms": common.median([(s["end"] - s["start"]) * 1000.0 for s in ows]),
        "keyed_table.commits": sum(s.get("commit", 0) for s in ows),
        "keyed_table.write_amp": written / user_bytes if user_bytes else 0,
        "keyed_table.cas_conflicts": sum(s.get("cas_conflict", 0) for s in ows),
    }


def engine_means(engines: list[dict]) -> dict:
    keys = ["jobs", "stages", "tasks", "run_ms", "cpu_ms", "parked_ms", "shuffle_mb", "driver_gap_ms"]
    n = max(1, len(engines))
    return {f"engine.{k}": sum(e.get(k, 0) for e in engines) / n for k in keys}


def trace_summary(e2e: dict, coverage: dict) -> dict:
    """The traced run's own end-to-end p50 and tail, scaled to the reference
    speed like the untraced run's, and the worst coverage."""
    return {"trace.p50_ms": e2e["p50_ms"], "trace.tail_ms": e2e["tail_ms"],
            "trace.coverage": min(coverage.values()) if coverage else 0}


# --- ingest_stream -------------------------------------------------------------------------


def file_batches(ckpt: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's checkpoint log."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


class PointerWatch(threading.Thread):
    """Records every commit of the table pointer as (version, committed_at)."""

    def __init__(self, pointer: str) -> None:
        super().__init__(daemon=True)
        self.pointer, self.commits, self.stop_flag = pointer, [], threading.Event()
        self.last = self._read()

    def _read(self):
        try:
            with open(self.pointer) as f:
                d = json.load(f)
            return d["version"], d["committed_at"]
        except (OSError, ValueError):
            return None

    def run(self) -> None:
        while not self.stop_flag.is_set():
            cur = self._read()
            if cur is not None and (self.last is None or cur[0] != self.last[0]):
                self.commits.append(cur)
                self.last = cur
            time.sleep(0.005)


def _write_events(path: str, tmp_dir: str, events: list[dict], created: list[float]) -> int:
    tmp = os.path.join(tmp_dir, os.path.basename(path))
    with open(tmp, "w") as f:
        for e, c in zip(events, created):
            f.write(json.dumps({**e, "created_ms": int(c * 1000)}) + "\n")
    size = os.path.getsize(tmp)
    os.rename(tmp, path)
    return size


def ingest_stream(run: Run) -> dict:
    p = SPEC["ingest_stream"]
    rows = gen.bank_rows(run.rng, p["accounts"], p["txns_per_account"])
    for r in rows:
        r.update(seq=0, tombstone=False, created_ms=0)
    n_files = max(1, math.ceil(run.args.seconds * p["files_per_s"]))
    files = gen.ingest_events(run.rng, p, rows, n_files + 1)
    gen.write_parquet(rows, os.path.join(run.work, "inputs", "bank.parquet"), gen.bank_types(True))
    in_dir, tmp_dir = os.path.join(run.work, "in"), os.path.join(run.work, "drop")
    os.makedirs(in_dir)
    os.makedirs(tmp_dir)
    _write_events(os.path.join(in_dir, "warm.json"), tmp_dir, files[0],
                  [time.time()] * len(files[0]))
    run.launch()
    ref_ms = run.reference()
    watch = PointerWatch(os.path.join(run.work, "table", "_current.json"))
    watch.start()
    cpu0, t_win = common.tree_cpu_s(run.host.pid), time.time()
    fps, per = p["files_per_s"], p["events_per_file"]
    created: dict[str, list[float]] = {}
    drops: dict[str, float] = {}
    user_bytes = 0
    for k, events in enumerate(files[1:]):
        due = t_win + (k + 1) / fps
        if due > time.time():
            time.sleep(due - time.time())
        name = f"f{k:05d}.json"
        created[name] = [t_win + (k + j / per) / fps for j in range(per)]
        user_bytes += _write_events(os.path.join(in_dir, name), tmp_dir, events, created[name])
        drops[name] = time.time()
    ckpt = os.path.join(run.work, "ckpt")
    deadline = time.time() + p["drain_timeout_s"]
    while True:
        fb = file_batches(ckpt)
        window = sorted({b for f, b in fb.items() if f in created})
        done = all(f in fb for f in created) and len(watch.commits) >= len(window)
        if done or time.time() > deadline:
            break
        time.sleep(0.05)
    cpu1, t_end = common.tree_cpu_s(run.host.pid), time.time()
    watch.stop_flag.set()
    watch.join()
    ref_ms += run.reference()
    report = run.host.ask({"t0": t_win, "batch": max(window, default=-1)})
    run.detail["peak_rss_mb"] = common.driver_peak_rss_mb(run.host.pid)
    run.host.kill()
    if report["error"]:
        raise RuntimeError(f"stream failed: {report['error']}")

    commit_at = dict(zip(window, (c[1] for c in watch.commits)))
    cap = p["drain_timeout_s"] * 1000.0
    vis, failed = [], 0
    for name, stamps in created.items():
        b = fb.get(name)
        if b is None or b not in commit_at:
            failed += len(stamps)
            vis.extend([cap] * len(stamps))
        else:
            vis.extend((commit_at[b] - c) * 1000.0 for c in stamps)
    check_ingest(run, rows, [e for f in files for e in f], report["version"])
    lat = latency_metrics(vis)
    d = run.detail
    d.update(visible_p50_ms=lat["p50_ms"], visible_tail_ms=lat["tail_ms"], tail=lat["tail"],
             failed_ratio=failed / len(vis), batches=len(window), commits=len(watch.commits),
             files=len(created), window_s=t_end - t_win, snapshot_files=report["files"])
    out = {
        "attempted": len(vis), "failed": failed,
        "e2e": run.normalize({"setup_s": run.setup_s, "p50_ms": lat["p50_ms"],
                              "tail_ms": lat["tail_ms"],
                              "cpu_ms_per_op": (cpu1 - cpu0) * 1000.0 / len(vis)}, ref_ms),
    }
    if run.args.trace:
        out["layers"] = ingest_layers(report, window, drops, created, fb, commit_at,
                                      user_bytes, out["e2e"], d)
    return out


def check_ingest(run: Run, rows, events, version_dir) -> None:
    import pyarrow.parquet as pq

    want = gen.visible(gen.lww(rows, events))
    got, seen = {}, set()
    for path in glob.glob(os.path.join(version_dir, "**", "*.parquet"), recursive=True):
        for r in pq.read_table(path).to_pylist():
            k = (r["account"], r["txn"])
            # one row per key, live or tombstoned: a second one is a merge
            # that left two versions of the key behind
            if k in seen:
                run.wrong(f"key {k}: more than one row in the snapshot")
            seen.add(k)
            if not r["tombstone"]:
                got[k] = r
    if len(got) != len(want):
        run.wrong(f"snapshot holds {len(got)} live keys, model {len(want)}")
    for k, w in want.items():
        g = got.get(k)
        if g is None or (g["ts_ms"], g["amount"], g["seq"]) != (w["ts_ms"], w["amount"], w.get("seq", 0)):
            run.wrong(f"key {k}: got {g and (g['ts_ms'], g['amount'], g['seq'])} "
                      f"want {(w['ts_ms'], w['amount'], w.get('seq', 0))}")


MICRO_BATCH_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch")


def ingest_layers(report, window, drops, created, fb, commit_at, user_bytes, e2e,
                  detail) -> dict:
    wset = set(window)
    prog = [p for p in report["progress"] if p["batchId"] in wset]
    start = {p["batchId"]: common.epoch(p["timestamp"].replace("Z", "GMT")) for p in prog}
    trig = [p["durationMs"].get("triggerExecution", 0) for p in prog]
    consumed: dict[int, int] = {}
    for b in fb.values():
        consumed[b] = consumed.get(b, 0) + 1
    backlog = 0
    for p in prog:
        dropped = sum(1 for t in drops.values() if t <= start[p["batchId"]])
        done = sum(n for b, n in consumed.items() if b < p["batchId"] and b in wset)
        backlog = max(backlog, dropped - done)
    # an event's visibility = waiting for its file to be dropped (timed
    # here) + waiting for the micro-batch that lists it (Spark's trigger
    # start) + that micro-batch's phases up to and including the sink's
    # addBatch, as Spark's own timers give them; e2e runs to the commit
    # this process saw land
    phases = {p["batchId"]: sum(p["durationMs"].get(k, 0) for k in MICRO_BATCH_PHASES) / 1000.0
              for p in prog}
    parts = {"file_wait": 0.0, "trigger_wait": 0.0, "micro_batch": 0.0, "e2e": 0.0}
    for name, stamps in created.items():
        b = fb.get(name)
        if b not in start or b not in commit_at:
            continue
        for c in stamps:
            parts["file_wait"] += drops[name] - c
            parts["trigger_wait"] += start[b] - drops[name]
            parts["micro_batch"] += phases[b]
            parts["e2e"] += commit_at[b] - c
    n_ev = sum(len(v) for v in created.values())
    detail["layer_self_ms"] = {k: v * 1000.0 / n_ev for k, v in parts.items()}
    coverage = {"event": (parts["file_wait"] + parts["trigger_wait"] + parts["micro_batch"])
                / parts["e2e"]} if parts["e2e"] else {}
    detail["coverage"] = coverage
    n = max(1, len(prog))
    engine = {f"engine.{k}": v / n
              for k, v in common.engine_of(report["stages"], sum(trig)).items()}
    engine["engine.jobs"] = report["jobs"] / n
    t = common.tail(trig)
    return {
        **zero_layers("serving_http", "serving", "registry", "cache"),
        **kt_metrics(report["spans"], user_bytes), "keyed_table.snapshot_files": report["files"],
        "streaming.batches": len(prog),
        "streaming.rows_per_batch": common.median([p["numInputRows"] for p in prog]),
        "streaming.trigger_p50_ms": common.median(trig),
        "streaming.trigger_tail_ms": t["value"],
        "streaming.add_batch_ms": common.median([p["durationMs"].get("addBatch", 0) for p in prog]),
        "streaming.backlog_files": backlog,
        **engine,
        **trace_summary(e2e, coverage),
    }


# --- batch_pipeline ------------------------------------------------------------------------


def batch_pipeline(run: Run) -> dict:
    p = SPEC["batch_pipeline"]
    sf = os.path.join(run.work, "inputs", "sf")
    tables = gen.batch_tables(run.rng, p)
    gen.write_batch_tables(tables, sf)
    # a fixed order: the order moves the steady pass (seeded, ten seeds gave
    # 5.4-6.9 s, depending mostly on which query ran first in the process)
    order = list(p["queries"])
    run.launch()
    host = run.host

    cap_s = 170.0
    failed = 0

    def q(name: str, mode: str = "noop") -> dict:
        nonlocal failed
        r = host.ask({"name": name, "mode": mode}, timeout=cap_s)
        if "error" in r:
            failed += 1
            run.errors.append(f"{name}: {r['error']}")
            r.update(wall_s=cap_s, build_s=0.0, action_s=0.0)
        return r

    # one operation is one pass of the pipeline over every query. The first
    # pass is cold and collects each answer for the oracle check (results
    # are small); the steady passes consume through the noop sink and run
    # for --seconds, at least three of them. Every metric but batch_first_s
    # is read over the steady passes only, so the cold pass's one-off work
    # is not spread over however many passes fit in the window
    first = {name: q(name, "collect") for name in order}
    # untimed passes first: without them the pass time fell over the first
    # four passes (2.0, 1.6, 1.6, 1.5 s, then about 1.3 s), so the median
    # moved with how many passes a slower or faster host fitted in the window
    warm_ms = [sum(q(name)["wall_s"] for name in order) * 1000.0
               for _ in range(p["warm_passes"])]
    steady: dict[str, list[dict]] = {name: [] for name in order}
    # the reference job runs before the steady passes, once after each of
    # them and after the last, so its speed is read across the same stretch
    # of time as the passes
    ref_ms = run.reference()
    cpu_s = 0.0
    t_steady = time.time()
    while len(steady[order[0]]) < 3 or time.time() - t_steady < run.args.seconds:
        cpu0 = common.tree_cpu_s(host.pid)
        for name in order:
            steady[name].append(q(name))
        cpu_s += common.tree_cpu_s(host.pid) - cpu0
        ref_ms += run.reference(0)
    ref_ms += run.reference()
    run.detail["peak_rss_mb"] = common.driver_peak_rss_mb(host.pid)
    host.kill()
    check_batch(run, sf, tables, {n: r for n, r in first.items() if "error" not in r})

    passes = len(steady[order[0]])
    cold_ms = sum(first[n]["wall_s"] for n in order) * 1000.0
    steady_ms = [sum(steady[n][i]["wall_s"] for n in order) * 1000.0 for i in range(passes)]
    lat = latency_metrics(steady_ms)
    attempted = len(order) * (1 + len(warm_ms) + passes)
    d = run.detail
    d.update(
        order=order, tail=lat["tail"], failed_ratio=failed / attempted,
        batch_first_s=cold_ms / 1000.0,
        batch_steady_s=sum(common.median([r["wall_s"] for r in steady[n]]) for n in order),
        first_s={n: first[n]["wall_s"] for n in order},
        steady_s={n: common.median([r["wall_s"] for r in steady[n]]) for n in order},
        warm_pass_ms=warm_ms, pass_ms=steady_ms, steady_passes=passes,
    )
    out = {
        "attempted": attempted, "failed": failed,
        "e2e": run.normalize({"setup_s": run.setup_s, "p50_ms": lat["p50_ms"],
                              "tail_ms": lat["tail_ms"],
                              "cpu_ms_per_op": cpu_s * 1000.0 / passes}, ref_ms),
    }
    if run.args.trace:
        out["layers"] = batch_layers(order, first, steady, out["e2e"], d)
    return out


def check_batch(run: Run, sf: str, tables: dict, answers: dict) -> None:
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    rows = {}
    for name, a in answers.items():
        res = con.execute(oracles[name])
        cols = [c[0] for c in res.description]
        data = res.fetchall()
        rows[name] = len(data)
        if (sorted(cols), len(data), common.frame_hash(cols, data)) != (a["cols"], a["rows"], a["hash"]):
            run.wrong(f"{name}: spark rows={a['rows']} hash={a['hash']} "
                      f"oracle rows={len(data)} hash={common.frame_hash(cols, data)}")
    run.detail["answer_rows"] = rows


def batch_layers(order, first, steady, e2e, detail) -> dict:
    last = [steady[n][-1] for n in order]
    runs = [first[n] for n in order] + [r for n in order for r in steady[n]]
    # the share of a query's wall that measured spans account for: the
    # registry build and the stage-busy time of its action; the rest is
    # driver work (planning, job submission) that no meter here covers
    coverage = {r["name"]: (r["build_s"] * 1000.0 + r["action_busy_ms"]) / (r["wall_s"] * 1000.0)
                for r in last}
    detail["per_query"] = {
        r["name"]: {"build_ms": r["build_s"] * 1000.0, "build_jobs": r["build_jobs"],
                    "action_ms": r["action_s"] * 1000.0,
                    "action_busy_ms": r["action_busy_ms"], **r["engine"]} for r in last}
    detail["coverage"] = coverage
    spans = [s for r in runs for s in r["spans"]]
    return {
        **zero_layers("serving_http", "serving", "streaming"),
        **kt_metrics(spans, 0), "keyed_table.snapshot_files": 0,
        "registry.build_ms": sum(r["build_s"] for r in last) * 1000.0,
        "registry.build_jobs": sum(r["build_jobs"] for r in last),
        "registry.action_ms": sum(r["action_s"] for r in last) * 1000.0,
        "cache.persisted_frames": max(r["persisted_frames"] for r in runs),
        "cache.persisted_mb": max(r["persisted_mb"] for r in runs),
        **engine_means([{"jobs": r["jobs"], **r["engine"]} for r in last]),
        **trace_summary(e2e, coverage),
    }


# --- main ------------------------------------------------------------------------------------

WORKLOADS = {"serve_mixed": serve_mixed, "ingest_stream": ingest_stream,
             "batch_pipeline": batch_pipeline}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--closed-loop", type=int, default=0, metavar="N",
                    help="serve_mixed only: send N ops back to back (capacity probe)")
    args = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "affinity_spark"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: run from the root of an affinity_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    os.environ["SPARK_GRAFT_CPUS"] = str(common.nproc())
    run = Run(args, root)
    ticks0 = common.cpu_ticks()
    try:
        out = WORKLOADS[args.workload](run)
    except Exception:  # noqa: BLE001 - any failure is an unmeasured run
        traceback.print_exc()
        if run.host is not None:
            print(run.host.log_tail(), file=sys.stderr)
            run.host.kill()
        return 2
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:
            pass
    correct = not run.errors
    run.detail["context"] = common.host_context(args.seed, ticks0, common.cpu_ticks())
    run.detail["errors"] = run.errors
    metrics = out["layers"] if args.trace else out["e2e"]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(json.dumps({"perfbench": args.workload, "detail": run.detail}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": out["attempted"], "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
