"""The program under test, hosted in its own process.

``run.py`` launches this script, feeds it generated inputs through files in
the run's work directory and talks to it over stdin/stdout: each reply is
one line prefixed with ``@@`` followed by JSON. The host builds the Spark
session and the workload's serving surface, warms it up, prints ``ready``
and then answers commands until its stdin closes; the generator then stops
its whole process group.

With ``--trace 1`` the host records spans around calls into the package's
public functions (the HTTP server's per-request handling, a proxy
``ServingGateway``, wrapped ``KeyedTable`` methods, the registry build apart
from its action) and tags Spark jobs with
job groups so the engine's stages can be attributed per operation.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402


def reply(obj) -> None:
    sys.stdout.write("\n@@" + json.dumps(obj, default=str) + "\n")
    sys.stdout.flush()


def commands(reference):
    """The generator's commands. A ``reference`` request times the
    workload's reference job (plain Spark on the same inputs, no package
    code) and is answered here; the rest are the workload's."""
    for line in sys.stdin:
        if not line.strip():
            continue
        cmd = json.loads(line)
        if "reference" in cmd:
            reply({"reference_ms": common.repeat_ms(reference, cmd["reference"])})
        else:
            yield cmd


# runs of the reference job during set-up, so that its timed runs are not
# its first ones (query compilation, first file reads)
REFERENCE_WARM_RUNS = 20


def point_read_reference(spark, work: str):
    """A point read done by Spark alone: filter the input table file on
    one key and collect it, the engine work under a gateway GET. Warmed up
    here, so its first timed runs are not its first runs."""
    from pyspark.sql import functions as F

    bank = spark.read.parquet(os.path.join(work, "inputs", "bank.parquet"))
    keys = itertools.count()

    def run() -> None:
        k = next(keys)
        bank.filter((F.col("account") == k % 200) & (F.col("txn") == k % 100)).collect()

    for _ in range(REFERENCE_WARM_RUNS):
        run()
    return run


def session(work: str):
    from affinity_spark import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        conf={
            # the status REST API is the engine meter of the traced run;
            # the UI is on in both modes so they run the same program
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --- traced wrappers -----------------------------------------------------------------


def trace_keyed_table(spans: common.Spans) -> None:
    """Wrap the KeyedTable entry points the serving and streaming layers
    call; overwrite spans carry the snapshot they committed."""
    from affinity_spark.sources.keyed_table import ConcurrentWriteError, KeyedTable

    overwrite = KeyedTable.overwrite

    def traced_overwrite(self, *a, **kw):
        i = spans.start("keyed_table.overwrite")
        try:
            overwrite(self, *a, **kw)
        except ConcurrentWriteError:
            spans.end(i, cas_conflict=1)
            raise
        except BaseException:
            spans.end(i)
            raise
        st = self.file_stats()
        spans.end(i, commit=1, files=st["n_files"], bytes=st["total_bytes"])

    KeyedTable.read = spans.wrap("keyed_table.read", KeyedTable.read)
    KeyedTable.upsert = spans.wrap("keyed_table.upsert", KeyedTable.upsert)
    KeyedTable.overwrite = traced_overwrite


def trace_http(spans: common.Spans) -> None:
    """One span per HTTP request, from the handler thread picking up the
    connection to the response written: the stdlib server's per-request
    ``finish_request``, under which the serving span nests."""
    from http.server import ThreadingHTTPServer

    ThreadingHTTPServer.finish_request = spans.wrap(
        "serving_http.handle", ThreadingHTTPServer.finish_request)


class TracedGateway:
    """Benchmark-side proxy for ``ServingGateway``: one root span per
    request, and a job group per request so its Spark stages can be found."""

    def __init__(self, inner, spans: common.Spans, spark) -> None:
        self._inner, self._spans, self._sc = inner, spans, spark.sparkContext
        self._ids = itertools.count(1)

    def _call(self, name: str, sig: str, fn, *args):
        rid = f"r{next(self._ids)}"
        self._sc.setJobGroup(rid, name)
        i = self._spans.start(name, trace_id=rid, sig=sig)
        try:
            return fn(*args)
        finally:
            self._spans.end(i)

    def point_get(self, key):
        return self._call("serving.point_get", json.dumps(key, sort_keys=True),
                          self._inner.point_get, key)

    def prefix_range(self, prefix, tr=None):
        sig = json.dumps([prefix, tr and tr.start_ms, tr and tr.end_ms], sort_keys=True)
        return self._call("serving.prefix_range", sig, self._inner.prefix_range, prefix, tr)

    def upsert(self, rows):
        r = rows[0]
        sig = json.dumps([r.get("account"), r.get("txn"), r.get("ts_ms")])
        return self._call("serving.upsert", sig, self._inner.upsert, rows)

    def __getattr__(self, name):
        return getattr(self._inner, name)


def attach_engine(spark, spans: list[dict], roots: set[str]) -> None:
    """Per root span: the engine totals of the stages its job group ran."""
    stages = common.stage_table(spark)
    by_id = {}
    for (sid, _att), m in stages.items():
        by_id.setdefault(sid, []).append(m)
    groups = common.job_groups(spark)
    for s in spans:
        if s["name"] in roots and s["trace"] in groups:
            g = groups[s["trace"]]
            st = [m for sid in set(g["stages"]) for m in by_id.get(sid, [])]
            s["engine"] = {"jobs": g["jobs"],
                           **common.engine_of(st, (s["end"] - s["start"]) * 1000.0)}


def window_engine(spark, t0: float, t1: float) -> list[dict]:
    """Stages that ran inside [t0, t1] (epoch seconds)."""
    return [m for m in common.stage_table(spark).values()
            if m["start"] is not None and t0 <= m["start"] <= t1]


# --- workloads -------------------------------------------------------------------------


def serve(spark, work: str, spans: common.Spans | None) -> None:
    from affinity_spark.serving import ServingGateway
    from affinity_spark.serving_http import HttpGateway
    from affinity_spark.sources.keyed_table import KeyedTable

    with open(os.path.join(work, "inputs", "warm.json")) as f:
        warm = json.load(f)
    tbl = KeyedTable(spark, os.path.join(work, "table"), ["account", "txn"], "ts_ms")
    tbl.overwrite(spark.read.parquet(os.path.join(work, "inputs", "bank.parquet")))
    gw = ServingGateway(table=tbl)
    if spans is not None:
        gw = TracedGateway(gw, spans, spark)
        trace_http(spans)
    hg = HttpGateway()
    hg.register("bank", gw, tbl.read().schema)
    port = hg.start()
    # warm-up: the writes in order, then the reads four at a time, enough
    # requests for the JIT to settle on the read path
    for op in warm:
        if op["kind"] == "post":
            common.http_op(port, op, 120)
    with ThreadPoolExecutor(4) as pool:
        list(pool.map(lambda op: common.http_op(port, op, 120),
                      [op for op in warm if op["kind"] != "post"]))
    reference = point_read_reference(spark, work)
    reply({"ready": True, "port": port, "parallelism": spark.sparkContext.defaultParallelism})
    for cmd in commands(reference):  # the one command: report on the window since t0
        out = {"files": tbl.file_stats()["n_files"]}
        if spans is not None:
            sp = [s for s in spans.dump() if s["start"] >= cmd["t0"]]
            attach_engine(spark, sp, {"serving.point_get", "serving.prefix_range",
                                      "serving.upsert"})
            out["spans"] = sp
        reply(out)


EVENT_DDL = ("account long, txn long, ts_ms long, amount long, seq long, "
             "tombstone boolean, created_ms long")


def ingest(spark, work: str, spans: common.Spans | None) -> None:
    from affinity_spark.sources.keyed_table import KeyedTable
    from affinity_spark.streaming.sinks import changelog_sink

    path = os.path.join(work, "table")
    tbl = KeyedTable(spark, path, ["account", "txn"], "ts_ms", ["seq"])
    tbl.overwrite(spark.read.parquet(os.path.join(work, "inputs", "bank.parquet")))
    stream = spark.readStream.schema(EVENT_DDL).json(os.path.join(work, "in"))
    query = changelog_sink(
        stream, path, os.path.join(work, "ckpt"), ["account", "txn"], "ts_ms",
        tiebreak_cols=["seq"], tombstone_col="tombstone",
    ).start()
    # warm-up: the generator already dropped one changelog file; ready once
    # its micro-batch is committed
    before = tbl._current_version_dir()
    deadline = time.time() + 120
    while tbl._current_version_dir() == before:
        if time.time() > deadline or query.exception() is not None:
            raise RuntimeError(f"warm-up batch never committed: {query.exception()}")
        time.sleep(0.01)
    reference = point_read_reference(spark, work)
    reply({"ready": True, "parallelism": spark.sparkContext.defaultParallelism})
    # the one command: report on the window since t0
    for cmd in commands(reference):
        # a batch's progress is posted just after its commit is visible
        deadline = time.time() + 10
        while spans is not None and time.time() < deadline and (
                query.lastProgress is None or query.lastProgress["batchId"] < cmd["batch"]):
            time.sleep(0.05)
        progress = [json.loads(p.json) for p in query.recentProgress]
        out = {"progress": progress, "files": tbl.file_stats()["n_files"],
               "version": tbl._current_version_dir(),
               "error": str(query.exception()) if query.exception() else None}
        if spans is not None:
            out["spans"] = [s for s in spans.dump() if s["start"] >= cmd["t0"]]
            out["stages"] = window_engine(spark, cmd["t0"], time.time())
            out["jobs"] = sum(1 for j in common.rest(spark, "jobs")
                              if (common.epoch(j.get("submissionTime")) or 0) >= cmd["t0"])
        reply(out)


def batch(spark, work: str, spans: common.Spans | None) -> None:
    import __spark_entry__ as entry
    from affinity_spark.cache import release_shared

    from pyspark.sql import functions as F

    sf = os.path.join(work, "inputs", "sf")
    queries = entry.queries()
    # the reference job, outside the measured set and the package: a word
    # count over the documents. Its runs here are also the warm-up, so the
    # first query does not pay the JVM's first shuffle
    docs = spark.read.parquet(os.path.join(sf, "documents.parquet"))

    def word_count() -> None:
        (docs.select(F.explode(F.split("text", " ")).alias("w")).groupBy("w").count()
         .write.format("noop").mode("overwrite").save())

    for _ in range(3):
        word_count()
    reply({"ready": True, "parallelism": spark.sparkContext.defaultParallelism})
    n = 0
    for cmd in commands(word_count):
        name, n = cmd["name"], n + 1
        try:
            reply(run_query(spark, queries, sf, name, n, cmd["mode"], spans))
        except Exception as e:  # noqa: BLE001 - a failed query is a measured outcome
            reply({"name": name, "error": repr(e)[:500]})
            release_shared()


def run_query(spark, queries, sf: str, name: str, n: int, mode: str, spans) -> dict:
    """Build and run one registry query; with spans, tag its jobs and read
    its stages, storage and KeyedTable commits."""
    from affinity_spark.cache import release_shared

    sc = spark.sparkContext
    out: dict = {"name": name}
    if spans is not None:
        before = common.stage_table(spark)
        first_span = len(spans.rows)
        sc.setJobGroup(f"b{n}", name)
    t0 = time.time()
    df = queries[name](spark, sf)
    t1 = time.time()
    if spans is not None:
        sc.setJobGroup(f"a{n}", name)
    if mode == "collect":
        rows = df.collect()
        out["hash"] = common.frame_hash(df.columns, rows)
        out["rows"] = len(rows)
        out["cols"] = sorted(df.columns)
    else:
        df.write.format("noop").mode("overwrite").save()
    t2 = time.time()
    if spans is not None:
        st = sc.statusTracker()
        out["build_jobs"] = len(st.getJobIdsForGroup(f"b{n}"))
        out["jobs"] = out["build_jobs"] + len(st.getJobIdsForGroup(f"a{n}"))
        out["persisted_mb"] = sum(
            r.get("memoryUsed", 0) + r.get("diskUsed", 0)
            for r in common.rest(spark, "storage/rdd")) / 1e6
        after = common.stage_table(spark)
        new = [m for k, m in after.items() if k not in before]
        out["engine"] = common.engine_of(new, (t2 - t0) * 1000.0)
        # stage-busy time inside the action, clipped to it: with the build
        # span, the part of the query's wall that a meter accounts for
        out["action_busy_ms"] = common.union_ms(
            (max(m["start"], t1), min(m["end"], t2)) for m in new
            if m["start"] is not None and m["end"] is not None and m["end"] > t1 and m["start"] < t2)
        out["spans"] = spans.dump()[first_span:]
        sc.setJobGroup("idle", "")
    out["persisted_frames"] = release_shared()
    out.update(build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0)
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spans = common.Spans() if args.trace else None
    if spans is not None:
        trace_keyed_table(spans)
    spark = session(args.work)
    {"serve_mixed": serve, "ingest_stream": ingest, "batch_pipeline": batch}[
        args.workload](spark, args.work, spans)


if __name__ == "__main__":
    main()
