"""Shared helpers: statistics, /proc readers, host context, spans, Spark REST.

Everything here is stdlib-only so the generator process stays small; the
host process (``host.py``) imports the same helpers for its spans and
engine readings.
"""

from __future__ import annotations

import decimal
import hashlib
import http.client
import json
import os
import threading
import time
import urllib.request
from datetime import datetime

# --- statistics --------------------------------------------------------------


def median(xs):
    xs = sorted(xs)
    if not xs:
        return 0.0
    n = len(xs)
    mid = n // 2
    return float(xs[mid]) if n % 2 else (xs[mid - 1] + xs[mid]) / 2.0


def tail(xs) -> dict:
    """The highest percentile with at least ten samples beyond it.

    With n sorted samples that is the (n-10)-th order statistic, at
    percentile 100*(n-10)/n. A tail at or below the median says nothing,
    so with fewer than 21 samples the maximum is reported (percentile 100,
    nothing beyond it)."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return {"value": 0.0, "pct": 0.0, "beyond": 0, "n": 0}
    if n < 21:
        return {"value": float(xs[-1]), "pct": 100.0, "beyond": 0, "n": n}
    return {
        "value": float(xs[n - 11]),
        "pct": round(100.0 * (n - 10) / n, 2),
        "beyond": 10,
        "n": n,
    }


# --- /proc -------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        out.setdefault(int(fields[1]), []).append(int(d))
    return out


def process_tree(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def driver_peak_rss_mb(pid: int) -> float:
    """Peak resident set of the python driver ``pid`` plus its JVM."""
    pids = [pid] + [p for p in process_tree(pid)[1:] if _comm(p) == "java"]
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def tree_cpu_s(pid: int) -> float:
    """User+system CPU seconds of ``pid`` and every live descendant (the
    JVM and its python workers), including reaped children."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in v[11:15])  # utime stime cutime cstime
    return total / tick


def nproc() -> int:
    """CPUs this process may run on, as ``nproc`` counts them."""
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int, int]:
    """(steal, user..steal total, idle) ticks from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8]), v[3]


def steal_pct(t0, t1) -> float:
    """Steal over a window, normalized by non-idle ticks."""
    busy = (t1[1] - t1[2]) - (t0[1] - t0[2])
    return round(100.0 * (t1[0] - t0[0]) / busy, 3) if busy > 0 else 0.0


def host_context(seed: int, t0, t1) -> dict:
    try:
        import pyspark

        version = pyspark.__version__
    except ImportError:
        version = None
    return {
        "nproc": nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "steal_pct": steal_pct(t0, t1),
        "load_avg": [round(x, 2) for x in os.getloadavg()],
        "pyspark": version,
        "seed": seed,
    }


# --- answer hashing (same canonical form as the oracle gate) ------------------


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, decimal.Decimal):
        return f"decimal:{v}"
    if isinstance(v, float):
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}"
    return str(v)


def frame_hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


# --- spans -------------------------------------------------------------------


class Spans:
    """In-memory span log: (name, start, end, parent index, trace id).

    The parent is the innermost open span of the same thread, so a layer
    call made inside another layer's call nests under it."""

    def __init__(self) -> None:
        self.rows: list[list] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def start(self, name: str, trace_id=None, **attrs) -> int:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        if trace_id is None and parent is not None:
            trace_id = self.rows[parent][4]
        with self._lock:
            idx = len(self.rows)
            self.rows.append([name, time.time(), None, parent, trace_id, attrs])
        stack.append(idx)
        return idx

    def end(self, idx: int, **attrs) -> None:
        self.rows[idx][2] = time.time()
        self.rows[idx][5].update(attrs)
        self._local.stack.pop()

    def wrap(self, name: str, fn):
        def traced(*a, **kw):
            i = self.start(name)
            try:
                return fn(*a, **kw)
            finally:
                self.end(i)

        return traced

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": n, "start": s, "end": e, "parent": p, "trace": t, **a}
            for i, (n, s, e, p, t, a) in enumerate(self.rows)
        ]


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in ms: its duration minus the part its direct
    children cover."""
    out = {s["id"]: (s["end"] - s["start"]) * 1000.0 for s in spans}
    for s in spans:
        if s["parent"] in out:
            out[s["parent"]] -= (s["end"] - s["start"]) * 1000.0
    return out


def repeat_ms(fn, seconds: float) -> list[float]:
    """Wall ms of each call of ``fn``, called at least once and again
    until ``seconds`` have passed."""
    out: list[float] = []
    end = time.perf_counter() + seconds
    while True:
        t = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t) * 1000.0)
        if time.perf_counter() >= end:
            return out


# --- Spark status REST API ----------------------------------------------------


def rest(spark, path: str):
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app}/{path}", timeout=30) as r:
        return json.load(r)


def epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def stage_table(spark) -> dict:
    """(stageId, attemptId) -> metrics for every finished stage."""
    out = {}
    for s in rest(spark, "stages?status=complete&status=failed"):
        out[(s["stageId"], s.get("attemptId", 0))] = {
            "tasks": int(s.get("numTasks", 0) or 0),
            "run_ms": int(s.get("executorRunTime", 0) or 0),
            "cpu_ms": int(s.get("executorCpuTime", 0) or 0) / 1e6,
            "shuffle_bytes": int(s.get("shuffleWriteBytes", 0) or 0),
            "start": epoch(s.get("submissionTime")),
            "end": epoch(s.get("completionTime")),
        }
    return out


def job_groups(spark) -> dict[str, dict]:
    """jobGroup -> {"jobs": n, "stages": [stage ids]} over every job the UI
    still holds."""
    groups: dict[str, dict] = {}
    for j in rest(spark, "jobs"):
        g = j.get("jobGroup")
        if g is not None:
            e = groups.setdefault(g, {"jobs": 0, "stages": []})
            e["jobs"] += 1
            e["stages"].extend(j.get("stageIds", []))
    return groups


def union_ms(intervals) -> float:
    """Total length in ms of the union of (start, end) second intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[0] is not None and i[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def engine_of(stages: list[dict], wall_ms: float) -> dict:
    """Engine totals for one operation from its stages."""
    run = sum(s["run_ms"] for s in stages)
    cpu = sum(s["cpu_ms"] for s in stages)
    return {
        "stages": len(stages),
        "tasks": sum(s["tasks"] for s in stages),
        "run_ms": run,
        "cpu_ms": cpu,
        "parked_ms": max(0.0, run - cpu),
        "shuffle_mb": sum(s["shuffle_bytes"] for s in stages) / 1e6,
        "driver_gap_ms": max(0.0, wall_ms - union_ms((s["start"], s["end"]) for s in stages)),
    }



# --- the gateway's HTTP surface -----------------------------------------------------


def http_op(port: int, op: dict, timeout: float) -> tuple[int, bytes, int]:
    """Send one serve op; returns (status, body, request body bytes)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        body = b""
        if op["kind"] == "post":
            body = json.dumps(op["rows"]).encode()
            conn.request("POST", "/kv/bank", body=body,
                         headers={"Content-Type": "application/json"})
        else:
            q = "&".join(f"{k}={v}" for k, v in op["key"].items())
            if op["kind"] == "get":
                conn.request("GET", f"/kv/bank?{q}")
            else:
                conn.request("GET", f"/scan/bank?{q}&from={op['from']}&until={op['until']}")
        r = conn.getresponse()
        return r.status, r.read(), len(body)
    finally:
        conn.close()


def http_json(port: int, path: str):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        conn.request("GET", path)
        return json.loads(conn.getresponse().read())
    finally:
        conn.close()
