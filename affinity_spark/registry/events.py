"""Events/orders state, windows, sessionization, sketches, joins, graph.

Split from the single-file ``__spark_entry__.py`` registry (round 6):
one module per query family, each with its OWN helper namespace, so a
same-named oracle helper in another family can never silently clobber
this one's (the r3 ``_QUALITY_SQL`` collision trap). The driver contract
(``entry``/``queries``/``oracle_sql``) stays in ``__spark_entry__.py``
and references these modules by qualified name.

Cross-engine determinism rules (aliased aggregates, integer money/ratio
arithmetic, formatted timestamps, md5-derived text hashes) are inherited
from the original registry header — see ``__spark_entry__.py``.
"""

from __future__ import annotations

import math
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from affinity_spark import TimeRange
from affinity_spark.cache import temp_root, track as _track_cache
from affinity_spark.operators.asof import asof_join
from affinity_spark.operators.upsert import merge_upsert
from affinity_spark.operators.graph import connected_components
from affinity_spark.operators.kv import compact_latest, point_get, prefix_scan, ttl_filter
from affinity_spark.operators.topk import top_n_per_group

from affinity_spark.registry._shared import _cents, _t


def events_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 point get: key-equality predicate pushed to the parquet scan."""
    ev = _t(spark, sf_dir, "events")
    return point_get(ev, {"event_id": 4242}).select(
        "event_id", "user_id", "event_type", F.col("value").alias("val")
    )


_POINT_GET_SQL = """
SELECT event_id, user_id, event_type, "value" AS val
FROM events WHERE event_id = 4242
"""


def events_prefix_timerange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 prefix + time-range scan (the ExampleBank account query shape)."""
    ev = _t(spark, sf_dir, "events")
    tr = TimeRange.of("2024-01-10T00:00:00Z", "2024-01-20T00:00:00Z")
    return prefix_scan(ev, {"user_id": 42}, tr, "ts").select(
        "event_id", "event_type", F.col("value").alias("val")
    )


_PREFIX_SCAN_SQL = """
SELECT event_id, event_type, "value" AS val
FROM events
WHERE user_id = 42
  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts < TIMESTAMP '2024-01-20 00:00:00'
"""


def events_compact_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/A3 log compaction: latest record per key by event time."""
    ev = _t(spark, sf_dir, "events")
    return compact_latest(
        ev, ["user_id"], "ts", tiebreak_cols=["event_id"]
    ).select(
        "user_id", "event_id", "event_type", F.col("value").alias("val")
    )


_COMPACT_SQL = """
SELECT user_id, event_id, event_type, "value" AS val
FROM (
  SELECT user_id, event_id, event_type, "value",
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def events_ttl_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 TTL expiry as a read-time filter (fixed 'now' for determinism)."""
    ev = _t(spark, sf_dir, "events")
    now_ms = TimeRange.since("2024-01-31T00:00:00Z").start_ms
    ttl_ms = 6 * 24 * 3600 * 1000  # 6 days
    return ttl_filter(ev, "ts", ttl_ms, now_ms).select("event_id", "user_id", "event_type")


_TTL_SQL = """
SELECT event_id, user_id, event_type
FROM events
WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
"""


def events_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/T3 time-block stats: tumbling daily window per event type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
        )
    )


_WINDOW_SQL = """
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY 1, 2
"""


def events_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows — the §2.11 window shape tumbling can't
    express: 2-hour windows every 1 hour, so each event lands in exactly
    two overlapping windows. Built on F.window(ts, '2 hours', '1 hour');
    the window start is emitted as a formatted string (timestamps never
    hash raw). The oracle replays the hop membership arithmetic
    (start = hour(ts) - k, k in {0,1}) in closed form."""
    ev = _t(spark, sf_dir, "events")
    w = F.window("ts", "2 hours", "1 hour")
    return (
        ev.groupBy(w.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_cents(F.col("value"))).alias("sum_value_cents"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )


_SLIDING_SQL = """
WITH hopped AS (
  SELECT event_type, "value",
         date_trunc('hour', ts) - (k.k * INTERVAL 1 HOUR) AS win_start
  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) k
)
SELECT strftime(win_start, '%Y-%m-%d %H:%M') AS win_start, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM hopped
GROUP BY 1, 2
"""


def events_topn_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6/O2 latest-N per key: rank-limited window (top-3 per user)."""
    ev = _t(spark, sf_dir, "events")
    return top_n_per_group(
        ev,
        ["user_id"],
        [F.col("ts").desc(), F.col("event_id").desc()],
        3,
        rank_col="recency_rank",
    ).select("user_id", "event_id", "event_type", "recency_rank")


_TOPN_SQL = """
SELECT user_id, event_id, event_type, recency_rank
FROM (
  SELECT user_id, event_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
           AS recency_rank
  FROM events
) WHERE recency_rank <= 3
"""


def orders_auto_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 per-group auto-increment id (monotonic per customer by order date)."""
    o = _t(spark, sf_dir, "orders")
    return top_n_per_group(
        o,
        ["o_custkey"],
        [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
        1 << 30,
        rank_col="auto_id",
    ).select("o_custkey", "o_orderkey", "auto_id")


_AUTOINC_SQL = """
SELECT o_custkey, o_orderkey,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
         AS auto_id
FROM orders
"""


def events_num_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 key count (exact here; approx_count_distinct is the serving path)."""
    ev = _t(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").alias("num_keys"),
        F.count(F.lit(1)).alias("num_records"),
    )


_NUMKEYS_SQL = """
SELECT count(DISTINCT user_id) AS num_keys, count(*) AS num_records FROM events
"""


def join_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 stream-table lookup join (batch view): event enriched by dim row."""
    ev = _t(spark, sf_dir, "events")
    c = _t(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(c), ev["user_id"] == c["c_custkey"], "inner")
        .select("event_id", "user_id", "c_name", "c_mktsegment", "event_type")
    )


_ENRICH_SQL = """
SELECT event_id, user_id, c_name, c_mktsegment, event_type
FROM events JOIN customer ON user_id = c_custkey
"""


def mktsegment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A1 equi-join + aggregate: order revenue per market segment."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("total_revenue_cents"),
        )
    )


_SEGMENT_SQL = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_revenue_cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 set operations: INTERSECT then EXCEPT over customer key sets."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = o.select(F.col("o_custkey").alias("custkey")).distinct()
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    nation3 = c.filter(F.col("c_nationkey") == 3).select(F.col("c_custkey").alias("custkey"))
    return with_orders.intersect(building).exceptAll(nation3)


_SETOPS_SQL = """
(SELECT DISTINCT o_custkey AS custkey FROM orders
 INTERSECT
 SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING')
EXCEPT
SELECT c_custkey AS custkey FROM customer WHERE c_nationkey = 3
"""


def scatter_gather_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2/A1 scatter-gather reduce: partial-per-partition + final combine."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("total_qty"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
    )


_SCATTER_SQL = """
SELECT count(*) AS n_rows,
       sum(l_quantity) AS total_qty,
       strftime(min(l_shipdate), '%Y-%m-%d') AS first_ship,
       strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship
FROM lineitem
"""


def distinct_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (dropDuplicates) — dedup primitive on a low-card column."""
    return _t(spark, sf_dir, "events").select("event_type").distinct()


_DISTINCT_SQL = "SELECT DISTINCT event_type FROM events"


def asof_last_order_before_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks the user's latest order at-or-before the
    event time (union+window scheme, one shuffle — §2.6 as-of mapping)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    joined = asof_join(
        ev, o, ["user_id"], "ts", "o_orderdate", ["o_orderkey", "o_orderdate"]
    )
    return joined.select(
        "user_id",
        "event_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("last_orderdate"),
    )


_ASOF_SQL = """
WITH r AS (
  SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
)
SELECT e.user_id, e.event_id,
       r.o_orderkey AS last_orderkey,
       strftime(r.o_orderdate, '%Y-%m-%d') AS last_orderdate
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts >= r.o_orderdate
"""


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (year, month): subtotal + grand-total rows (§2.7 grouping
    sets, a Spark built-in the reference lacks)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.col("o_totalprice"),
        )
        .rollup("y", "m")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )
    )


_ROLLUP_SQL = """
SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
GROUP BY ROLLUP(year(o_orderdate), month(o_orderdate))
"""


def orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (year, priority) with grouping_id: all four grouping sets in one
    pass (§2.7 grouping sets — rollup's sibling; one shuffle, the expand
    happens map-side)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("y"),
            F.col("o_orderpriority").alias("prio"),
            F.col("o_totalprice"),
        )
        .cube("y", "prio")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_cents(F.col("o_totalprice"))).alias("revenue_cents"),
        )
    )


_CUBE_SQL = """
SELECT year(o_orderdate) AS y, o_orderpriority AS prio,
       CAST(GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders
GROUP BY CUBE(year(o_orderdate), o_orderpriority)
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user sessions split on >1h inactivity gaps
    (batch analog of session_window, T3).

    Window order is by unique ``event_id`` alone — events.parquet carries
    TIMESTAMP(NANOS) and cross-engine ts ordering is precision-dependent
    (Spark truncates to micros); event_id is generated in ts order, unique,
    and identical in every engine. The gap test itself uses whole seconds,
    which are unaffected by the nanos truncation.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").asc())
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    flagged = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 3600), F.lit(1)).otherwise(F.lit(0)),
    )
    return flagged.withColumn(
        "session_id", F.sum("new_session").over(w)
    ).select("user_id", "event_id", "session_id")


# CAST the windowed sum: DuckDB's integer sum() yields HUGEINT (arrow
# decimal128), which value-hashes differently from Spark's BIGINT even when
# numerically equal — every integer-sum oracle in this file casts to BIGINT.
_SESSION_SQL = """
SELECT user_id, event_id,
       CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY event_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
FROM (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY event_id ASC)
                   IS NULL
               OR date_diff('second',
                            lag(ts) OVER (PARTITION BY user_id ORDER BY event_id ASC),
                            ts) > 3600
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
"""


def events_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 via the NATIVE session_window operator in batch: per-user sessions
    merging events with gaps < 30 min; a gap of exactly 30 min starts a new
    session (window is [ts, ts+gap)). The oracle replays the same semantics
    as gaps-and-islands SQL (new session iff diff_us >= 1800e6), with the
    session start emitted as a formatted string (never a raw timestamp)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("sw.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


_SESSION_WINDOW_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
ids AS (
  SELECT user_id, ts,
         CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM flagged
)
SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS n_events
FROM ids
GROUP BY user_id, sid
"""


def orders_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: per order, count the same customer's other
    orders in the preceding 30 days (inequality join — Spark built-in the
    reference lacks, §2.6 end-note). Equi-key on customer keeps the range
    condition a within-group band, never a cartesian."""
    o = _t(spark, sf_dir, "orders")
    a = o.select("o_orderkey", "o_custkey", "o_orderdate")
    b = o.select(
        F.col("o_custkey").alias("b_custkey"),
        F.col("o_orderkey").alias("b_orderkey"),
        F.col("o_orderdate").alias("b_orderdate"),
    )
    joined = a.join(
        b,
        (a["o_custkey"] == b["b_custkey"])
        & (b["b_orderdate"] < a["o_orderdate"])
        & (b["b_orderdate"] >= a["o_orderdate"] - F.expr("INTERVAL 30 DAYS")),
        "left",
    )
    return joined.groupBy("o_orderkey").agg(
        F.count("b_orderkey").alias("n_prior_30d")
    )


_RANGE_JOIN_SQL = """
SELECT a.o_orderkey, count(b.o_orderkey) AS n_prior_30d
FROM orders a
LEFT JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND b.o_orderdate < a.o_orderdate
 AND b.o_orderdate >= a.o_orderdate - INTERVAL 30 DAY
GROUP BY a.o_orderkey
"""


def events_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window analytics: per-user running event count + value total."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    # Ordered by unique event_id (ts-monotone) — see events_sessionize note
    # on TIMESTAMP(NANOS) precision and cross-engine ordering.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("running_n"),
        F.sum(_cents(F.col("value"))).over(w).alias("running_value_cents"),
    )


_RUNNING_SQL = """
SELECT user_id, event_id,
       count(*) OVER w AS running_n,
       CAST(sum(CAST(floor("value" * 100 + 0.5) AS BIGINT)) OVER w AS BIGINT)
           AS running_value_cents
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id ASC ROWS UNBOUNDED PRECEDING)
"""


def events_update_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/W6 ``getAndUpdate``/``updateAndGet`` observable contract replayed
    as a batch changelog (the driver-checkable twin of
    ``streaming/state.py::get_and_update_stream``, whose batch-oracle the
    streaming engine itself can never provide): per user, ordered by the
    log offset (unique ts-monotone event_id), state is the running
    value-cents total; every event emits its (old, new) state pair, old
    NULL on first touch — the reference's ``Option[V]`` read-modify-write
    pair (``core/.../state/KVStoreLocal.scala:413-464``).

    Plan shape: both window expressions share one (user_id, event_id)
    sort — a single exchange, state one running long per key, exactly the
    streaming operator's cost model."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy(F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_lag = Window.partitionBy("user_id").orderBy(F.col("event_id").asc())
    stepped = ev.select(
        "user_id",
        "event_id",
        F.sum(_cents(F.col("value"))).over(w_run).alias("new_cents"),
    )
    return stepped.select(
        "user_id",
        "event_id",
        F.lag("new_cents", 1).over(w_lag).alias("old_cents"),
        "new_cents",
    )


_UPDATE_PAIRS_SQL = """
SELECT user_id, event_id,
       CAST(lag(new_cents) OVER (PARTITION BY user_id ORDER BY event_id)
            AS BIGINT) AS old_cents,
       CAST(new_cents AS BIGINT) AS new_cents
FROM (
  SELECT user_id, event_id,
         sum(CAST(floor("value" * 100 + 0.5) AS BIGINT))
           OVER (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING)
           AS new_cents
  FROM events
)
"""


def events_latest_n_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6 latest-N ring buffer FINAL state replayed in batch (the
    driver-checkable twin of ``streaming/state.py::latest_n_stream``): per
    user the last 3 event_ids in arrival order (newest last) as a joined
    string, plus the buffer fill count — exactly the state the streaming
    ring buffer holds once the changelog drains (the reference's
    latest-news listener deque, ``ExampleESGateway.scala:63-69``).

    Plan shape: the per-key top-3 rides WindowGroupLimit (rank pushdown),
    so each group materializes 3 rows before the final tiny aggregate —
    never a full per-key sort spill."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    last3 = ev.select("user_id", "event_id").withColumn(
        "rn", F.row_number().over(w)
    ).filter(F.col("rn") <= 3)
    return last3.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("event_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("latest_ids"),
        F.count(F.lit(1)).alias("n_items"),
    )


_LATEST_N_STATE_SQL = """
WITH top3 AS (
  SELECT user_id, event_id
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) <= 3
)
SELECT user_id,
       string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id) AS latest_ids,
       count(*) AS n_items
FROM top3
GROUP BY user_id
"""


_DEBOUNCE_INTERVAL_MS = 6 * 3600 * 1000


def events_debounce_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 per-key push debounce replayed in batch (the driver-checkable
    twin of ``streaming/state.py::debounce_stream``, completing the
    batch-twin set for the stateful operators): per user, emit a row only
    when >= 6 h passed since the user's LAST EMITTED row, carrying the
    count of rows suppressed since that emission. The fold depends on the
    last EMITTED ts (not the previous row), so it is no window function —
    it runs as ONE engine-side ``aggregate`` over the per-key sorted ts
    array (``debounce_replay``): one shuffle, integer ms arithmetic, the
    same (last, pending) state per key the streaming operator checkpoints.
    Streaming/batch equivalence on a shared changelog is pinned by
    tests/test_streaming_batch_twins.py."""
    from affinity_spark.streaming.state import debounce_replay

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_millis(F.col("ts")).alias("ts_ms")
    )
    return debounce_replay(ev, "user_id", "ts_ms", _DEBOUNCE_INTERVAL_MS)


def _debounce_state_sql() -> str:
    # greedy emission sequence via recursive CTE (per-user chain of
    # "next ts >= last_emitted + interval"); the suppressed count for an
    # emission is the rows in [prev_emit, this_emit) minus the emitted
    # prev row itself.  (A list_reduce fold would mirror the Spark
    # aggregate directly, but DuckDB 1.0's list_reduce corrupts
    # list-valued struct fields in the accumulator - probed in r5.)
    i = _DEBOUNCE_INTERVAL_MS
    nxt = (
        "(SELECT min(e.ts_ms) FROM e "
        f"WHERE e.user_id = em.user_id AND e.ts_ms >= em.ts_ms + {i})"
    )
    return f"""
WITH RECURSIVE e AS (
  -- NULL ts pinned out explicitly: Spark's collect_list skips NULLs (a
  -- key with only-NULL ts emits nothing), while min(ts_ms) over an
  -- all-NULL group would emit a (user, NULL, 0) seed row here
  SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms FROM events
  WHERE ts IS NOT NULL
),
em(user_id, ts_ms) AS (
  SELECT user_id, min(ts_ms) FROM e GROUP BY user_id
  UNION ALL
  SELECT em.user_id, {nxt} FROM em WHERE {nxt} IS NOT NULL
),
w AS (
  SELECT user_id, ts_ms,
         lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms) AS prev
  FROM em
)
SELECT w.user_id, w.ts_ms,
       CASE WHEN w.prev IS NULL THEN CAST(0 AS BIGINT)
            ELSE (SELECT CAST(count(*) AS BIGINT) - 1 FROM e
                  WHERE e.user_id = w.user_id
                    AND e.ts_ms >= w.prev AND e.ts_ms < w.ts_ms)
       END AS suppressed_before
FROM w
"""


def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact discrete quantiles (p50/p90/p99 of value, in cents) per
    event_type by RANK SELECTION: the value at 1-based sorted position
    (n-1)*q div 100 + 1. percentile_approx/quantile_cont interpolate in
    doubles and diverge across engines; rank selection is integer-exact
    and tie-order-independent (equal cents at a rank pick the same cents
    whatever the tie order). One shuffle on event_type; the sort is
    per-type within partitions, never global."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    cents = _cents(F.col("value"))
    w = Window.partitionBy("event_type").orderBy(
        cents.asc(), F.col("event_id").asc()
    )
    ranked = ev.select(
        "event_type",
        cents.alias("cents"),
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    pick = lambda q: F.min(  # noqa: E731
        F.when(F.col("rn") == F.expr(f"(n - 1) * {q} div 100 + 1"), F.col("cents"))
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        pick(50).alias("p50_cents"),
        pick(90).alias("p90_cents"),
        pick(99).alias("p99_cents"),
    )


_QUANTILES_SQL = """
WITH r AS (
  SELECT event_type,
         CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY CAST(floor("value" * 100 + 0.5) AS BIGINT),
                                     event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       CAST(min(CASE WHEN rn = (n - 1) * 50 // 100 + 1 THEN cents END) AS BIGINT)
         AS p50_cents,
       CAST(min(CASE WHEN rn = (n - 1) * 90 // 100 + 1 THEN cents END) AS BIGINT)
         AS p90_cents,
       CAST(min(CASE WHEN rn = (n - 1) * 99 // 100 + 1 THEN cents END) AS BIGINT)
         AS p99_cents
FROM r GROUP BY event_type
"""


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition matrix: for each (from, to)
    pair, the count of consecutive same-user transitions and its share of
    the from-type's outgoing transitions in integer ppm — the Markov-
    chain view behavioral analytics builds funnels and anomaly baselines
    from (a sudden ppm shift in a transition row is a product change or
    a bot). Consecutive = event_id order per user (ts-monotone; see the
    sessionize note on timestamp precision). One window shuffle on
    user_id + one |types|²-bounded aggregate; corpus-linear."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").asc())
    steps = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = steps.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    outs = counts.groupBy("from_type").agg(F.sum("n").alias("_out"))
    return (
        counts.join(F.broadcast(outs), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.expr("(n * 1000000) div _out").alias("share_ppm"),
        )
    )


_TRANSITION_SQL = """
WITH steps AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
           AS to_type
  FROM events
),
counts AS (
  SELECT from_type, to_type, count(*) AS n
  FROM steps WHERE to_type IS NOT NULL
  GROUP BY from_type, to_type
),
outs AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS o FROM counts GROUP BY from_type)
SELECT c.from_type, c.to_type, c.n, (c.n * 1000000) // o.o AS share_ppm
FROM counts c JOIN outs o USING (from_type)
"""


def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gap statistics in integer milliseconds
    (lead/lag family): gaps from consecutive events in event_id order
    (ts-monotone — see events_sessionize note), min/max/integer-mean.
    Users with one event have no gaps and are excluded. One shuffle."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    ms = F.expr("unix_micros(ts) div 1000")
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").asc())
    gaps = ev.select(
        "user_id", (ms - F.lag(ms).over(w)).alias("gap_ms")
    ).filter(F.col("gap_ms").isNotNull())
    return gaps.groupBy("user_id").agg(
        (F.count(F.lit(1)) + 1).alias("n_events"),
        F.min("gap_ms").alias("min_gap_ms"),
        F.max("gap_ms").alias("max_gap_ms"),
        F.expr("sum(gap_ms) div count(*)").alias("mean_gap_ms"),
    )


_INTERARRIVAL_SQL = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) // 1000
           - lag(epoch_us(ts) // 1000) OVER (PARTITION BY user_id
                                             ORDER BY event_id) AS gap_ms
  FROM events
)
SELECT user_id, CAST(count(*) + 1 AS BIGINT) AS n_events,
       CAST(min(gap_ms) AS BIGINT) AS min_gap_ms,
       CAST(max(gap_ms) AS BIGINT) AS max_gap_ms,
       CAST(sum(gap_ms) // count(*) AS BIGINT) AS mean_gap_ms
FROM g WHERE gap_ms IS NOT NULL
GROUP BY user_id
"""


def events_changelog_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W4 batch MERGE: base table (compacted pre-cutoff state) merged
    with the post-cutoff changelog; last write wins per key."""
    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-15").cast("timestamp")
    base = compact_latest(
        ev.filter(F.col("ts") < cutoff), ["user_id"], "ts", tiebreak_cols=["event_id"]
    )
    updates = ev.filter(F.col("ts") >= cutoff)
    merged = merge_upsert(base, updates, ["user_id"], "ts", tiebreak_cols=["event_id"])
    return merged.select(
        "user_id", "event_id", "event_type", F.col("value").alias("val")
    )


_CHANGELOG_APPLY_SQL = """
SELECT user_id, event_id, event_type, "value" AS val
FROM (
  SELECT user_id, event_id, event_type, "value",
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
"""


def events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) clustering key over (user_id, hour): bit
    interleaving as plain integer expressions (``functions/zorder.py``),
    the multi-dimensional data-skipping layout of Delta/Iceberg ZORDER BY.
    The oracle replays the interleave bit-for-bit; the layout benefit
    (per-file min/max envelopes tight in BOTH dimensions) is pinned by
    tests/test_zorder.py. Pure projection — zero shuffle."""
    from affinity_spark.functions.zorder import morton_interleave

    ev = _t(spark, sf_dir, "events")
    hour = F.expr("unix_micros(ts) div 3600000000")
    return ev.select(
        "event_id",
        (F.col("user_id") % 65536).alias("u16"),
        (hour % 65536).alias("h16"),
        morton_interleave(F.col("user_id") % 65536, hour % 65536).alias("zkey"),
    )


def _zorder_oracle_sql() -> str:
    from affinity_spark.functions.zorder import morton_sql

    z = morton_sql("user_id % 65536", "(epoch_us(ts) // 3600000000) % 65536")
    return f"""
SELECT event_id,
       CAST(user_id % 65536 AS BIGINT) AS u16,
       CAST((epoch_us(ts) // 3600000000) % 65536 AS BIGINT) AS h16,
       CAST({z} AS BIGINT) AS zkey
FROM events
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase per user: each stage must
    happen strictly AFTER the user's first event of the previous stage
    (event_id order, ts-monotone). Three chained min-over-window passes
    on the SAME partitioning — one shuffle total, no self-joins (the
    naive funnel is two self-joins on the fact table). Nullable stage
    ids make drop-off visible per user."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    fv = F.min(F.when(F.col("event_type") == "view", F.col("event_id"))).over(w)
    step1 = ev.withColumn("fv", fv)
    fc = F.min(
        F.when((F.col("event_type") == "click") & (F.col("event_id") > F.col("fv")),
               F.col("event_id"))
    ).over(w)
    step2 = step1.withColumn("fc", fc)
    fp = F.min(
        F.when((F.col("event_type") == "purchase") & (F.col("event_id") > F.col("fc")),
               F.col("event_id"))
    ).over(w)
    # collapse per-user via groupBy on the window's own partitioning key —
    # reuses the single exchange (a distinct over all four columns would
    # re-shuffle on the compound key)
    return (
        step2.withColumn("fp", fp)
        .groupBy("user_id")
        .agg(
            F.min("fv").alias("first_view_id"),
            F.min("fc").alias("first_click_id"),
            F.min("fp").alias("first_purchase_id"),
        )
        .withColumn("converted", F.col("first_purchase_id").isNotNull())
    )


_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, event_id, event_type,
         min(CASE WHEN event_type = 'view' THEN event_id END)
           OVER (PARTITION BY user_id) AS fv
  FROM events
),
s2 AS (
  SELECT *, min(CASE WHEN event_type = 'click' AND event_id > fv
                     THEN event_id END)
              OVER (PARTITION BY user_id) AS fc
  FROM s1
),
s3 AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' AND event_id > fc
                     THEN event_id END)
              OVER (PARTITION BY user_id) AS fp
  FROM s2
)
SELECT DISTINCT user_id,
       CAST(fv AS BIGINT) AS first_view_id,
       CAST(fc AS BIGINT) AS first_click_id,
       CAST(fp AS BIGINT) AS first_purchase_id,
       fp IS NOT NULL AS converted
FROM s3
"""


def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen hour; how many were
    active again in the NEXT hour. One pass over events: per-user
    (first hour, distinct-hour set) in a single aggregation, then the
    k=+1 membership test is an array_contains — no self-join of the fact
    table (the textbook formulation joins activity back to cohorts).
    Two shuffles; the per-user hour set is bounded by hours-in-retention
    window (~10^4 at a year of hourly granularity), not event count."""
    ev = _t(spark, sf_dir, "events")
    hour = F.expr("unix_micros(ts) div 3600000000")
    per_user = (
        ev.select("user_id", hour.alias("h"))
        .groupBy("user_id")
        .agg(F.min("h").alias("cohort_h"), F.collect_set("h").alias("hs"))
    )
    retained = F.array_contains(F.col("hs"), F.col("cohort_h") + 1)
    return per_user.groupBy("cohort_h").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(retained.cast("long")).alias("n_retained_next"),
    )


_COHORT_SQL = """
WITH seen AS (
  SELECT user_id, epoch_us(ts) // 3600000000 AS h FROM events
),
per_user AS (
  SELECT user_id, min(h) AS cohort_h, list(DISTINCT h) AS hs
  FROM seen GROUP BY user_id
)
SELECT cohort_h,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN list_contains(hs, cohort_h + 1) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_retained_next
FROM per_user GROUP BY cohort_h
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 JSON source decode: parse the props JSON column, project a typed
    field, aggregate on it (from_json → Catalyst JsonToStructs, pruned)."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json(F.col("props"), "k int").alias("p"),
    )
    return (
        parsed.select(F.col("p.k").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_JSON_SQL = """
SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k, count(*) AS n
FROM events
GROUP BY 1
"""


def events_xml_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 XML source decode: build an XML payload then parse it back with
    from_xml (attribute + nested element), proving the decode path without
    an XML table in the fixtures."""
    ev = _t(spark, sf_dir, "events")
    xml = F.concat(
        F.lit('<e id="'),
        F.col("event_id").cast("string"),
        F.lit('"><t>'),
        F.col("event_type"),
        F.lit("</t></e>"),
    )
    parsed = ev.select(
        "event_id",
        F.from_xml(xml, "_id BIGINT, t STRING").alias("x"),
    )
    return parsed.select(
        "event_id",
        F.col("x._id").alias("xml_id"),
        F.col("x.t").alias("xml_type"),
    )


_XML_SQL = """
SELECT event_id, event_id AS xml_id, event_type AS xml_type FROM events
"""


_AVRO_V1 = """{"type":"record","name":"Ev","fields":[
  {"name":"id","type":"long"},
  {"name":"etype","type":"string"},
  {"name":"cents","type":"int"}]}"""


_AVRO_V2 = """{"type":"record","name":"Ev","fields":[
  {"name":"id","type":"long"},
  {"name":"kind","type":"string"},
  {"name":"cents","type":"long"},
  {"name":"source","type":"string"}]}"""


_AVRO_READER = """{"type":"record","name":"Ev","fields":[
  {"name":"id","type":"long"},
  {"name":"etype","type":"string","aliases":["kind"]},
  {"name":"cents","type":"long"},
  {"name":"source","type":"string","default":"unknown"}]}"""


def events_avro_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full AvroSerde read path with NO spark-avro jar (reference
    AvroSerde.scala:123-173 + AvroProjectionSpec.scala): events are encoded
    to REAL Avro binary in executors under two writer schemas (v1 for even
    ids — int cents, 'etype'; v2 for odd ids — long cents, renamed 'kind',
    extra 'source'), enveloped [magic 0][BE schema id], then decoded back
    through decode_enveloped's pure-python engine, which resolves both
    writers onto one reader shape (alias match, int->long promotion,
    reader default). The oracle recomputes the expected field values in
    SQL, so the value hash certifies the entire binary round trip."""
    from affinity_spark.functions.avro_envelope import (
        SchemaRegistry,
        decode_enveloped,
        encode_enveloped_python,
    )

    reg = SchemaRegistry()
    sid1, sid2 = reg.register(_AVRO_V1), reg.register(_AVRO_V2)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    even = ev.filter(F.col("event_id") % 2 == 0).select(
        F.struct(
            F.col("event_id").alias("id"),
            F.col("event_type").alias("etype"),
            F.col("cents").cast("int").alias("cents"),
        ).alias("rec")
    )
    odd = ev.filter(F.col("event_id") % 2 == 1).select(
        F.struct(
            F.col("event_id").alias("id"),
            F.col("event_type").alias("kind"),
            F.col("cents"),
            F.lit("stream-v2").alias("source"),
        ).alias("rec")
    )
    log = (
        encode_enveloped_python(even, "rec", reg, sid1)
        .select("value")
        .unionByName(encode_enveloped_python(odd, "rec", reg, sid2).select("value"))
    )
    out = decode_enveloped(log, "value", reg, _AVRO_READER, engine="auto")
    return out.select(
        F.col("record.id").alias("event_id"),
        F.col("record.etype").alias("etype"),
        F.col("record.cents").alias("cents"),
        F.col("record.source").alias("source"),
    )


_AVRO_SQL = """
SELECT event_id,
       event_type AS etype,
       CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
       CASE WHEN event_id % 2 = 1 THEN 'stream-v2' ELSE 'unknown' END AS source
FROM events
"""


def events_uuid_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 UUID <-> 16-byte fixed codec: deterministic uuid from md5 of the
    key, hyphen-formatted, and its 16-byte binary length — the reference's
    @Fixed(16) UUID mapping (AvroRecord.scala:494-509)."""
    ev = _t(spark, sf_dir, "events").select("event_id").distinct()
    h = F.md5(F.col("event_id").cast("string"))
    uuid_str = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    return ev.select(
        "event_id",
        uuid_str.alias("uuid"),
        F.length(F.unhex(h)).alias("n_bytes"),
    )


_UUID_SQL = """
SELECT event_id,
       substr(md5(CAST(event_id AS VARCHAR)), 1, 8) || '-' ||
       substr(md5(CAST(event_id AS VARCHAR)), 9, 4) || '-' ||
       substr(md5(CAST(event_id AS VARCHAR)), 13, 4) || '-' ||
       substr(md5(CAST(event_id AS VARCHAR)), 17, 4) || '-' ||
       substr(md5(CAST(event_id AS VARCHAR)), 21, 12) AS uuid,
       octet_length(unhex(md5(CAST(event_id AS VARCHAR)))) AS n_bytes
FROM (SELECT DISTINCT event_id FROM events)
"""


def events_timelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14 event/processing-time projection: (event millis, arrival seq)
    for compaction analysis — deterministic arrival order by (ts, id).

    A global sequence number WITHOUT a global single-partition sort: rank
    within hour buckets (parallel windows over the big data), prefix-sum
    only the per-bucket counts (a window over #hours rows, broadcast back).
    The hour bucket is a prefix of the global sort key, so bucket-local rank
    + bucket offset equals the global row_number — same output, but the
    only unpartitioned window runs over thousands of rows, not the corpus.
    """
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        (F.col("ts").cast("double") * 1000).cast("long").alias("event_ms"),
        F.col("event_id"),
        F.date_trunc("hour", "ts").alias("bkt"),
    )
    w_in = Window.partitionBy("bkt").orderBy(
        F.col("event_ms").asc(), F.col("event_id").asc()
    )
    ranked = ev.withColumn("rk", F.row_number().over(w_in))
    w_off = (
        Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ev.groupBy("bkt")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("off", F.coalesce(F.sum("n").over(w_off), F.lit(0)))
        .select("bkt", "off")
    )
    return (
        ranked.join(F.broadcast(offsets), "bkt")
        .select(
            "event_ms",
            "event_id",
            (F.col("off") + F.col("rk")).cast("long").alias("arrival_seq"),
        )
    )


_TIMELOG_SQL = """
SELECT CAST(epoch_ms(ts) AS BIGINT) AS event_ms, event_id,
       row_number() OVER (ORDER BY ts ASC, event_id ASC) AS arrival_seq
FROM events
"""


def events_partition_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1/T8 kafka-compatible murmur2 routing of serialized keys.

    Oracle-checked for real since round 2: the DuckDB side replays Kafka's
    murmur2 bit-exactly via ``duckdb_murmur2_partition_sql`` (the 4-byte
    block loop unrolled into CTE stages with mod-2^32 BIGINT arithmetic),
    upgrading this from the one rows-only WEAK check to a full value-hash
    comparison. Java-vector parity is additionally pinned in
    tests/test_murmur2.py."""
    from affinity_spark.functions.murmur2 import kafka_partition_udf

    ev = _t(spark, sf_dir, "events").select("user_id").distinct()
    key_bytes = F.encode(F.col("user_id").cast("string"), "utf-8")
    return ev.select(
        "user_id", kafka_partition_udf(32)(key_bytes).alias("partition")
    )


def _routing_oracle_sql() -> str:
    from affinity_spark.functions.murmur2 import duckdb_murmur2_partition_sql

    return duckdb_murmur2_partition_sql(
        32, "SELECT DISTINCT user_id FROM events"
    )


def mktsegment_revenue_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase (salted) aggregate — same result as
    mktsegment_revenue, verified against the same oracle. The pattern for
    hot group keys at 100 TB (alongside AQE skew-join splitting)."""
    from affinity_spark.operators.skew import salted_aggregate

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(c, o["o_custkey"] == c["c_custkey"])
    return salted_aggregate(
        joined,
        ["c_mktsegment"],
        {
            "n_orders": (F.lit(1), "count"),
            "total_revenue_cents": (_cents(F.col("o_totalprice")), "sum"),
        },
        n_salts=8,
    )


def custom_gather_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/§2.12 user-defined gather combinator as a pandas UDAF: per event
    type, the integer-cents median of event values.

    DELIBERATE surface demo, not a recipe: Spark's built-in
    ``percentile``/``median``/``percentile_approx`` computes this JVM-side
    and is the production answer (~5x cheaper — a GROUPED_AGG pandas UDAF
    pays Arrow transfer + Python per group and disables partial
    aggregation). This exists to mirror the reference's arbitrary Scala
    ``gather(r1, r2)`` combinators through the Arrow GROUPED_AGG path; copy
    the built-in, not this, for real medians."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def median_cents(v: pd.Series) -> int:
        # discrete lower median: element at index (n-1)//2 of the sorted
        # cents — an exact integer both engines can reproduce (float median
        # interpolation differs between pandas and SQL engines)
        cents = (v * 100 + 0.5).apply(math.floor).astype("int64")
        s = cents.sort_values().reset_index(drop=True)
        return int(s.iloc[(len(s) - 1) // 2])

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # grouped-agg pandas UDFs can't mix with JVM aggregates in one agg,
        # so the count is a (trivial) second gather combinator
        return len(v)

    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        median_cents(F.col("value")).alias("median_value_cents"),
        n_rows(F.col("value")).alias("n"),
    )


_GATHER_SQL = """
WITH cents AS (
  SELECT event_type, CAST(floor("value" * 100 + 0.5) AS BIGINT) AS c,
         row_number() OVER (PARTITION BY event_type ORDER BY CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       max(CASE WHEN rn = (n - 1) // 2 + 1 THEN c END) AS median_value_cents,
       max(n) AS n
FROM cents
GROUP BY event_type
"""


def graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 connected components by iterative min-label propagation.

    Graph: bipartite customer <-> (nation + 1e6). True components are the
    nation groups, so the oracle is a plain aggregate — the Spark side runs
    the real iterative algorithm and must converge to the same labeling.
    """
    c = _t(spark, sf_dir, "customer")
    edges = c.select(
        F.col("c_custkey").alias("src"),
        (F.col("c_nationkey").cast("long") + F.lit(1_000_000)).alias("dst"),
    )
    return connected_components(edges, "src", "dst", max_iter=8)


_GRAPH_SQL = """
WITH m AS (SELECT c_nationkey, min(c_custkey) AS comp FROM customer GROUP BY c_nationkey)
SELECT c_custkey AS vertex, comp AS component
FROM customer JOIN m USING (c_nationkey)
UNION ALL
SELECT 1000000 + c_nationkey AS vertex, comp AS component FROM m
"""


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer→supplier purchase graph (edges = distinct
    (custkey, suppkey) pairs through orders⋈lineitem), 3 fixed iterations in
    integer parts-per-million — the rank recurrence is defined in integer
    div so both engines reproduce it bit-for-bit (float PR diverges by
    accumulation order). Extends the J4 iterative family beyond connected
    components; per-iteration cost is edge-sized, lineage cut per round."""
    from affinity_spark.operators.graph import pagerank_ppm

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey").cast("long") + F.lit(1_000_000_000_000)).alias("dst"),
        )
    )
    return pagerank_ppm(edges, iters=3)


_PAGERANK_SQL = """
WITH e AS (
  SELECT DISTINCT o_custkey AS u,
         CAST(l_suppkey AS BIGINT) + 1000000000000 AS v
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
deg AS (SELECT u, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY u),
verts AS (SELECT u AS vertex FROM e UNION SELECT v FROM e),
r0 AS (SELECT vertex, CAST(1000000 AS BIGINT) AS r FROM verts),
s1 AS (
  SELECT e.v, CAST(sum(r0.r // deg.outdeg) AS BIGINT) AS in_sum
  FROM e JOIN deg USING (u) JOIN r0 ON r0.vertex = e.u GROUP BY e.v
),
r1 AS (
  SELECT vertex, CAST(150000 + (85 * COALESCE(s1.in_sum, 0)) // 100 AS BIGINT) AS r
  FROM verts LEFT JOIN s1 ON s1.v = verts.vertex
),
s2 AS (
  SELECT e.v, CAST(sum(r1.r // deg.outdeg) AS BIGINT) AS in_sum
  FROM e JOIN deg USING (u) JOIN r1 ON r1.vertex = e.u GROUP BY e.v
),
r2 AS (
  SELECT vertex, CAST(150000 + (85 * COALESCE(s2.in_sum, 0)) // 100 AS BIGINT) AS r
  FROM verts LEFT JOIN s2 ON s2.v = verts.vertex
),
s3 AS (
  SELECT e.v, CAST(sum(r2.r // deg.outdeg) AS BIGINT) AS in_sum
  FROM e JOIN deg USING (u) JOIN r2 ON r2.vertex = e.u GROUP BY e.v
),
r3 AS (
  SELECT vertex, CAST(150000 + (85 * COALESCE(s3.in_sum, 0)) // 100 AS BIGINT) AS r
  FROM verts LEFT JOIN s3 ON s3.v = verts.vertex
)
SELECT vertex, r AS rank_ppm FROM r3
"""


def events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC time-bar aggregation (A5's market-data cousin, the standard
    downsample every metrics/tick store serves): per (event_type, day)
    open/high/low/close of the value series plus volume, where open/close
    are the values at the min/max ``event_id`` in the bar (ts-monotone —
    the timestamp-precision rule) via ``min_by``/``max_by`` — ONE partial
    agg + tiny-key shuffle, never a per-bar sort or first/last window.
    Money in integer cents throughout."""
    ev = _t(spark, sf_dir, "events")
    c = _cents(F.col("value"))
    return (
        ev.select(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            c.alias("cents"),
            "event_id",
        )
        .groupBy("event_type", "day")
        .agg(
            F.expr("min_by(cents, event_id)").alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.expr("max_by(cents, event_id)").alias("close_cents"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


_OHLC_SQL = """
SELECT event_type,
       strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       arg_min(CAST(floor("value" * 100 + 0.5) AS BIGINT), event_id) AS open_cents,
       max(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS high_cents,
       min(CAST(floor("value" * 100 + 0.5) AS BIGINT)) AS low_cents,
       arg_max(CAST(floor("value" * 100 + 0.5) AS BIGINT), event_id) AS close_cents,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type, day
"""


def events_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 materialization of the per-user
    value changelog — the warehouse-standard validity-interval build every
    CDC consumer ships (X4/S11's batch read side): each event becomes a
    version row [valid_from, valid_to) with valid_to = the next change's
    timestamp (open for the current row), version = change ordinal.

    One key-partitioned window (lead + row_number over user_id, ordered
    by the ts-monotone event_id — the timestamp-precision rule), no
    self-join: the naive SCD2 build joins the changelog to itself on
    "next change", which shuffles twice and breaks on ties. Timestamps
    emit as formatted strings, money as integer cents (hash rules)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.row_number().over(w).cast("long").alias("version"),
        _cents(F.col("value")).alias("value_cents"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.coalesce(
            F.date_format(nxt, "yyyy-MM-dd HH:mm:ss"), F.lit("9999-12-31 00:00:00")
        ).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


_SCD2_SQL = """
SELECT user_id,
       CAST(row_number() OVER w AS BIGINT) AS version,
       CAST(floor("value" * 100 + 0.5) AS BIGINT) AS value_cents,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
       COALESCE(strftime(lead(ts) OVER w, '%Y-%m-%d %H:%M:%S'),
                '9999-12-31 00:00:00') AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
"""


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex exact triangle counts (J4's third member beside
    components and pagerank) via the degree-ordered orientation in
    ``operators/graph.py::triangle_counts`` — wedges enumerate only at
    each edge's lower-(degree, id) endpoint, so out-degree is O(√m) under
    any skew and the whole count is three key-partitioned joins, no
    iteration.

    The synthetic tables carry no sparse unipartite relation (every
    supplier pair co-supplies some part — the co-supply projection is a
    complete graph at every SF), so the input graph is DERIVED from real
    keys, the ``graph_components``/``line_dedup`` fixture precedent: the
    distinct-user ring, each user edged to the user 1+md5%8 and 1+md5%8
    ranks ahead (two md5-derived steps → a sparse ~2n-edge graph with a
    nontrivial, data-dependent triangle set that both engines construct
    independently). The global rank window is construction scaffolding
    over the vertex set, not the operator: ``triangle_counts`` takes any
    edge DataFrame."""
    from pyspark.sql import Window

    from affinity_spark.functions.murmur2 import stable_token_hash
    from affinity_spark.operators.graph import triangle_counts

    ev = _t(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    # _n rides a count window over the same single-partition exchange the
    # rank already pays — the broadcast-agg form re-scanned and
    # re-distincted the events table just to count it
    ranked = users.select(
        "user_id",
        (F.row_number().over(Window.orderBy("user_id")) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("_n"),
    )
    # three consumers (two step unions + the rank→id map) each re-pay the
    # distinct + global rank window otherwise; frame is vertex-sized
    ranked = _track_cache(ranked.persist())

    def step(tag: str) -> F.Column:
        return 1 + stable_token_hash(
            F.concat(F.lit(f"tri:{tag}:"), F.col("user_id").cast("string"))
        ) % 8

    er = ranked.select(
        "user_id", ((F.col("i") + step("a")) % F.col("_n")).alias("j")
    ).unionAll(
        ranked.select(
            "user_id", ((F.col("i") + step("b")) % F.col("_n")).alias("j")
        )
    )
    rmap = ranked.select(F.col("i").alias("j"), F.col("user_id").alias("dst"))
    edges = er.join(rmap, "j").select(F.col("user_id").alias("src"), "dst")
    return triangle_counts(edges)


_TRIANGLES_SQL = """
WITH users AS (SELECT DISTINCT user_id FROM events),
cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM users),
ranked AS (SELECT user_id,
                  CAST(row_number() OVER (ORDER BY user_id) - 1 AS BIGINT) AS i
           FROM users),
er AS (
  SELECT r.user_id,
         (r.i + 1 + CAST(('0x' || substr(md5('tri:a:' || CAST(r.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8) % c.n AS j
  FROM ranked r, cnt c
  UNION ALL
  SELECT r.user_id,
         (r.i + 1 + CAST(('0x' || substr(md5('tri:b:' || CAST(r.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8) % c.n
  FROM ranked r, cnt c
),
eid AS (SELECT er.user_id AS su, d.user_id AS du
        FROM er JOIN ranked d ON er.j = d.i),
e AS (SELECT DISTINCT least(su, du) AS a, greatest(su, du) AS b
      FROM eid WHERE su <> du),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
tv AS (SELECT x AS v FROM tri
       UNION ALL SELECT y FROM tri
       UNION ALL SELECT z FROM tri)
SELECT v AS vertex, CAST(count(*) AS BIGINT) AS n_triangles
FROM tv GROUP BY v
"""


def events_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch of per-user event frequencies: the d×w counter
    table (d=3, w=256) built in ONE pass — each row contributes its d
    (depth, bucket) cells via an inline array, partial aggregation makes
    the shuffle sketch-sized (768 rows) regardless of event volume. The
    integer counter table IS the cross-engine contract; estimates are a
    driver-side min over a key's cells (unit-tested)."""
    from affinity_spark.operators.sketches import cms_sketch

    ev = _t(spark, sf_dir, "events")
    return cms_sketch(ev, F.col("user_id").cast("string"), depth=3, width=256)


_CMS_SQL = """
WITH cells AS (
  SELECT i AS depth,
         CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' ||
                                  CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 256 AS bucket
  FROM events, unnest(range(0, 3)) AS r(i)
)
SELECT depth, bucket, CAST(count(*) AS BIGINT) AS cnt
FROM cells GROUP BY depth, bucket
"""


def events_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table for distinct users (p=8 → 256 buckets):
    60-bit md5 hash split into bucket + rank field, register = max leading-
    zero rank per bucket, computed exactly via length(bin(x))−1. The
    INTEGER register table is the engine contract (merge = elementwise
    max); the float estimate is a driver post-step. Shuffle is 256 rows at
    any data volume — the approx-distinct shape that replaces exact key
    state when it stops fitting."""
    from affinity_spark.operators.sketches import hll_registers

    ev = _t(spark, sf_dir, "events")
    return hll_registers(ev, F.col("user_id").cast("string"), p=8)


_HLL_SQL = """
WITH h AS (
  SELECT CAST(('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
),
split AS (
  SELECT hv % 256 AS bucket, hv // 256 AS w FROM h
)
SELECT bucket,
       CAST(max(CASE WHEN w > 0 THEN 52 - (length(bin(w)) - 1)
                     ELSE 53 END) AS BIGINT) AS register
FROM split GROUP BY bucket
"""


def nation_account_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join readout: per-nation customer vs supplier account
    totals in cents, nations missing either side zero-filled — the join
    type the registry lacked a driver row for. Both aggregates are
    nation-keyed (tiny) so the full-outer is a coalesced broadcast-side
    merge, not a data-sized shuffle."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cents = lambda col: F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")  # noqa: E731
    ca = c.groupBy("c_nationkey").agg(
        F.sum(cents("c_acctbal")).alias("cust_cents"),
        F.count("*").alias("n_cust"),
    )
    sa = s.groupBy("s_nationkey").agg(
        F.sum(cents("s_acctbal")).alias("supp_cents"),
        F.count("*").alias("n_supp"),
    )
    j = ca.join(sa, ca["c_nationkey"] == sa["s_nationkey"], "full_outer").select(
        F.coalesce(ca["c_nationkey"], sa["s_nationkey"]).alias("nationkey"),
        F.coalesce(F.col("cust_cents"), F.lit(0)).alias("cust_cents"),
        F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
        F.coalesce(F.col("supp_cents"), F.lit(0)).alias("supp_cents"),
        F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
    )
    return j.join(F.broadcast(n), j["nationkey"] == n["n_nationkey"]).select(
        "n_name", "cust_cents", "n_cust", "supp_cents", "n_supp"
    )


_NATION_BALANCE_SQL = """
WITH ca AS (
  SELECT c_nationkey AS k,
         CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cust_cents,
         CAST(count(*) AS BIGINT) AS n_cust
  FROM customer GROUP BY c_nationkey
),
sa AS (
  SELECT s_nationkey AS k,
         CAST(sum(CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS supp_cents,
         CAST(count(*) AS BIGINT) AS n_supp
  FROM supplier GROUP BY s_nationkey
)
SELECT n_name,
       COALESCE(cust_cents, 0) AS cust_cents,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(supp_cents, 0) AS supp_cents,
       COALESCE(n_supp, 0) AS n_supp
FROM ca FULL OUTER JOIN sa USING (k)
JOIN nation ON COALESCE(ca.k, sa.k) = n_nationkey
"""


def events_hll_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL: distinct-user register tables PER EVENT TYPE — the
    "distinct per tenant/day/type" readout at sketch cost: the shuffle is
    groups × 256 rows at any event volume, and per-type estimates are a
    driver post-step over each type's registers. Register state is
    engine-exact (shiftright rank field, length(bin)−1)."""
    from affinity_spark.operators.sketches import hll_registers_by_group

    ev = _t(spark, sf_dir, "events")
    return hll_registers_by_group(
        ev, "event_type", F.col("user_id").cast("string"), p=8
    )


_HLL_GROUP_SQL = """
WITH h AS (
  SELECT event_type,
         CAST(('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
),
split AS (
  SELECT event_type, hv % 256 AS bucket, hv // 256 AS w FROM h
)
SELECT event_type, bucket,
       CAST(max(CASE WHEN w > 0 THEN 52 - (length(bin(w)) - 1)
                     ELSE 53 END) AS BIGINT) AS register
FROM split GROUP BY event_type, bucket
"""


def events_hll_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch re-aggregation — the 100 TB rollup story: DAILY per-day HLL
    register tables merged into the whole-period sketch by bucket-wise
    register MAX, never rescanning raw events (a deployment stores the
    daily 256-row sketches and answers month/quarter distincts from
    them). The query pins the algebra: merged-from-daily must equal the
    direct whole-corpus sketch register-for-register (n_mismatch = 0),
    and emits the exact integer harmonic numerator sum(2^(53-r)) the HLL
    estimate divides by — engine-exact, so the hash covers the full
    estimator state, not a float."""
    from affinity_spark.operators.sketches import (
        hll_registers,
        hll_registers_by_group,
    )

    ev = _t(spark, sf_dir, "events")
    daily = hll_registers_by_group(
        ev.withColumn("_day", F.date_format(F.col("ts"), "yyyy-MM-dd")),
        "_day",
        F.col("user_id").cast("string"),
        p=8,
    )
    merged = daily.groupBy("bucket").agg(F.max("register").alias("register"))
    direct = hll_registers(ev, F.col("user_id").cast("string"), p=8)
    n_days = daily.select(F.countDistinct("_day").cast("long").alias("n_days"))
    cmp = merged.join(
        direct.withColumnRenamed("register", "register_d"), "bucket", "full"
    )
    pow_term = F.call_function(
        "shiftleft", F.lit(1).cast("long"), (53 - F.col("register")).cast("int")
    )
    agg = cmp.agg(
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.sum("register").cast("long").alias("sum_registers"),
        F.sum(pow_term).cast("long").alias("harmonic_num"),
        F.sum(
            F.when(
                F.col("register").isNull()
                | F.col("register_d").isNull()
                | (F.col("register") != F.col("register_d")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_mismatch"),
    )
    return F.broadcast(n_days).crossJoin(agg).select(
        "n_days", "n_buckets", "sum_registers", "harmonic_num", "n_mismatch"
    )


_HLL_ROLLUP_SQL = """
WITH h AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
),
split AS (SELECT day, hv % 256 AS bucket, hv // 256 AS w FROM h),
daily AS (
  SELECT day, bucket,
         CAST(max(CASE WHEN w > 0 THEN 52 - (length(bin(w)) - 1)
                       ELSE 53 END) AS BIGINT) AS register
  FROM split GROUP BY day, bucket
),
merged AS (
  SELECT bucket, CAST(max(register) AS BIGINT) AS register
  FROM daily GROUP BY bucket
),
direct AS (
  SELECT bucket,
         CAST(max(CASE WHEN w > 0 THEN 52 - (length(bin(w)) - 1)
                       ELSE 53 END) AS BIGINT) AS register
  FROM split GROUP BY bucket
),
days AS (SELECT CAST(count(DISTINCT day) AS BIGINT) AS n_days FROM daily)
SELECT days.n_days,
       CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(m.register) AS BIGINT) AS sum_registers,
       CAST(sum(1::BIGINT << CAST(53 - m.register AS INT)) AS BIGINT)
         AS harmonic_num,
       CAST(sum(CASE WHEN m.register IS NULL OR d.register IS NULL
                       OR m.register <> d.register THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatch
FROM merged m
FULL JOIN direct d ON m.bucket = d.bucket
CROSS JOIN days
GROUP BY days.n_days
"""


_HLL_STORES: dict = {}


def events_hll_range_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range distinct-estimate SERVED FROM THE MAINTAINED SKETCH STORE
    (operators/sketch_store.py — the fourth maintained-index family):
    per-day HLL register tables live in a day-partitioned KeyedTable
    (built once per process, the shared_postings/shared_ivf contract);
    "distinct users in Jan 08-22" reads ONLY the in-range day partitions
    (PartitionFilters-pruned) and bucket-max-merges 2^p-row sketches —
    raw events are never rescanned. Output is the exact integer
    estimator state (register sum + harmonic numerator), so the hash
    covers everything the float HLL formula consumes."""
    from affinity_spark.operators.postings import _corpus_fingerprint
    from affinity_spark.operators.sketch_store import HLLStore

    ev = _t(spark, sf_dir, "events")
    key = (spark.sparkContext.applicationId, f"hll:{sf_dir}")
    fp = _corpus_fingerprint(ev)
    cached = _HLL_STORES.get(key)
    if cached is None or cached[0] != fp or not cached[1].exists():
        if cached is not None:
            import shutil

            shutil.rmtree(cached[1].path, ignore_errors=True)
        st = HLLStore(spark, temp_root("affinity_hll_"))
        st.build(ev, F.col("user_id").cast("string"))
        _HLL_STORES[key] = (fp, st)
    st = _HLL_STORES[key][1]
    return st.estimate_state("2024-01-08", "2024-01-22")


_HLL_RANGE_STORE_SQL = """
WITH h AS (
  SELECT CAST(('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)), 1, 15))
              AS BIGINT) AS hv
  FROM events
  WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-22'
),
regs AS (
  SELECT hv % 256 AS bucket,
         CAST(max(CASE WHEN hv // 256 > 0
                       THEN 52 - (length(bin(hv // 256)) - 1)
                       ELSE 53 END) AS BIGINT) AS register
  FROM h GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(sum(register) AS BIGINT) AS sum_registers,
       CAST(sum(1::BIGINT << CAST(53 - register AS INT)) AS BIGINT)
         AS harmonic_num
FROM regs
"""


_KMV_STORES: dict = {}


def events_kmv_range_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range distinct-estimate AND cross-range overlap SERVED FROM THE
    MAINTAINED KMV STORE (operators/sketch_store.py::KMVStore — the
    seventh maintained family, completing the sketch-algebra triangle:
    HLL max-merge / DD fenced-addition / KMV min-merge): per-day k-min
    hash rows live in a day-partitioned KeyedTable; reads prune to the
    in-range day partitions and take a bounded top-k — raw events are
    never rescanned, and unlike HLL the sketches support SET ALGEBRA.
    Output: one row with the Jan 08-15 estimate and the Jan 08-15 vs
    Jan 16-23 user-overlap estimates (union merged from the two range
    sketches alone, intersection by inclusion-exclusion). Per-day k-min
    merging is EXACT vs raw-range sketching (every range-k-min hash is
    within its own day's k smallest), so the oracle replays straight
    from raw events."""
    from affinity_spark.operators.postings import _corpus_fingerprint
    from affinity_spark.operators.sketch_store import KMVStore

    ev = _t(spark, sf_dir, "events")
    key = (spark.sparkContext.applicationId, f"kmv:{sf_dir}")
    fp = _corpus_fingerprint(ev)
    cached = _KMV_STORES.get(key)
    if cached is None or cached[0] != fp or not cached[1].exists():
        if cached is not None:
            # evict the superseded store directory (testdata regenerated
            # or torn state) — the shared_ivf/shared_quality contract;
            # without this the tmpdirs leak across regenerations
            import shutil

            shutil.rmtree(cached[1].path, ignore_errors=True)
        st = KMVStore(spark, temp_root("affinity_kmv_"))
        st.build(ev, F.col("user_id").cast("string"))
        _KMV_STORES[key] = (fp, st)
    st = _KMV_STORES[key][1]
    est = st.estimate_for_range("2024-01-08", "2024-01-15")
    ovl = st.overlap_estimate(
        "2024-01-08", "2024-01-15", "2024-01-16", "2024-01-23"
    )
    return est.crossJoin(F.broadcast(ovl))


_KMV_RANGE_STORE_SQL = """
WITH dh AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) AS h
  FROM events
),
ka AS (
  SELECT list_sort(list(h)) AS kv FROM (
    SELECT DISTINCT h FROM dh
    WHERE day BETWEEN '2024-01-08' AND '2024-01-15'
    ORDER BY h LIMIT 64)
),
kb AS (
  SELECT list_sort(list(h)) AS kv FROM (
    SELECT DISTINCT h FROM dh
    WHERE day BETWEEN '2024-01-16' AND '2024-01-23'
    ORDER BY h LIMIT 64)
),
pr AS (
  SELECT ka.kv AS a, kb.kv AS b,
         (list_sort(list_distinct(ka.kv || kb.kv)))[1:64] AS u
  FROM ka, kb
)
SELECT CAST(len(a) AS BIGINT) AS n_in_sketch,
  CAST(CASE WHEN len(a) < 64 THEN len(a)
            ELSE (63 * 4294967296) // greatest(a[64], 1) END AS BIGINT)
    AS est_distinct,
  CAST(CASE WHEN len(a) < 64 THEN len(a)
            ELSE (63 * 4294967296) // greatest(a[64], 1) END AS BIGINT)
    AS est_a,
  CAST(CASE WHEN len(b) < 64 THEN len(b)
            ELSE (63 * 4294967296) // greatest(b[64], 1) END AS BIGINT)
    AS est_b,
  CAST(CASE WHEN len(u) < 64 THEN len(u)
            ELSE (63 * 4294967296) // greatest(u[64], 1) END AS BIGINT)
    AS est_union,
  CAST(greatest(0,
    (CASE WHEN len(a) < 64 THEN len(a)
          ELSE (63 * 4294967296) // greatest(a[64], 1) END)
  + (CASE WHEN len(b) < 64 THEN len(b)
          ELSE (63 * 4294967296) // greatest(b[64], 1) END)
  - (CASE WHEN len(u) < 64 THEN len(u)
          ELSE (63 * 4294967296) // greatest(u[64], 1) END)) AS BIGINT)
    AS est_intersect
FROM pr
"""


_DD_STORES: dict = {}


def events_dd_range_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range quantiles SERVED FROM THE MAINTAINED DDSketch STORE
    (operators/dd_store.py — the ADDITIVE sketch-store sibling of
    events_hll_range_store): per-day octave-bucket count tables in a
    day-partitioned KeyedTable; "p50/p90/p99 of value in Jan 08-22" sums
    ONLY the in-range day partitions' sketch rows and rank-selects —
    raw events never rescanned. Addition is not replay-idempotent, so
    the store's maintainer carries the run-scoped applied-batch fence
    (tests/test_dd_store.py pins the contrast with HLL's free max
    idempotence). Values in cents; all integer arithmetic."""
    from affinity_spark.operators.dd_store import DDStore
    from affinity_spark.operators.postings import _corpus_fingerprint

    ev = _t(spark, sf_dir, "events").select(
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    key = (spark.sparkContext.applicationId, f"dd:{sf_dir}")
    fp = _corpus_fingerprint(ev)
    cached = _DD_STORES.get(key)
    if cached is None or cached[0] != fp or not cached[1].exists():
        if cached is not None:
            import shutil

            shutil.rmtree(cached[1].path, ignore_errors=True)
        st = DDStore(
            spark, temp_root("affinity_dd_"), value_col="cents"
        )
        st.build(ev)
        _DD_STORES[key] = (fp, st)
    st = _DD_STORES[key][1]
    return st.quantiles_for_range("2024-01-08", "2024-01-22")


_DD_RANGE_STORE_SQL = r"""
WITH v AS (
  SELECT greatest(CAST(floor("value" * 100 + 0.5) AS BIGINT), 1) AS v
  FROM events
  WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-22'
),
b AS (
  SELECT (length(bin(v)) - 1) * 8
         + ((v - (1::BIGINT << (length(bin(v)) - 1))) * 8)
           // (1::BIGINT << (length(bin(v)) - 1)) AS bucket
  FROM v
),
s AS (SELECT bucket, count(*) AS n FROM b GROUP BY 1),
c AS (
  SELECT bucket, n,
         CAST(sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(n) OVER () AS BIGINT) AS tot,
         (1::BIGINT << CAST(bucket // 8 AS INT)) AS pw
  FROM s
),
l AS (SELECT *, pw + ((bucket % 8) * pw) // 8 AS lo FROM c)
SELECT CAST(max(tot) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= (tot - 1) * 50 // 100 + 1 THEN lo END) AS BIGINT) AS p50_est,
       CAST(min(CASE WHEN cum >= (tot - 1) * 90 // 100 + 1 THEN lo END) AS BIGINT) AS p90_est,
       CAST(min(CASE WHEN cum >= (tot - 1) * 99 // 100 + 1 THEN lo END) AS BIGINT) AS p99_est
FROM l
"""


def orders_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over orders: not-null / set-membership
    / range rules compiled to ONE conditional-sum aggregate, key-uniqueness
    as one grouped pass, lineitem→orders referential integrity as one
    anti-join — the single-pass pre-publish report (deequ/Delta-constraints
    capability). Output is one constant-sized row at any table size; a
    nonzero column is a blocked publish (assert_clean)."""
    from affinity_spark.operators import constraints as C

    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    rules = [
        C.not_null("o_custkey"),
        C.in_set("o_orderstatus", ["O", "F", "P"]),
        C.in_range("o_totalprice", 0.0, 1_000_000.0),
        C.matches("o_orderpriority", r"^[1-5]-"),
    ]
    counts = C.violation_counts(o, rules)
    dups = C.duplicate_key_count(o, ["o_orderkey"])
    orphans = C.orphan_count(
        l.select("l_orderkey"), o.select("o_orderkey"), [("l_orderkey", "o_orderkey")]
    )
    row = counts.crossJoin(dups).crossJoin(orphans)
    return row.select(
        F.col("not_null(o_custkey)").alias("null_custkey"),
        F.col("in_set(o_orderstatus)").alias("bad_status"),
        F.col("in_range(o_totalprice)").alias("bad_price"),
        F.col("matches(o_orderpriority)").alias("bad_priority"),
        "duplicate_rows",
        "orphan_rows",
    )


_ORDERS_QUALITY_SQL = """
WITH counts AS (
  SELECT
    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_custkey,
    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL
             THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
    CAST(sum(CASE WHEN o_totalprice NOT BETWEEN 0.0 AND 1000000.0
                   OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
    CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-')
                   OR o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bad_priority
  FROM orders
),
dups AS (
  SELECT CAST(sum(n - 1) AS BIGINT) AS duplicate_rows
  FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
),
orphans AS (
  SELECT CAST(count(*) AS BIGINT) AS orphan_rows
  FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
)
SELECT null_custkey, bad_status, bad_price, bad_priority, duplicate_rows, orphan_rows
FROM counts, dups, orphans
"""


def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier counts per event type: median / MAD (median
    absolute deviation) instead of mean / sigma — the 3-sigma test
    (`events_value_outliers`) is itself dragged by the outliers it hunts
    (one 1e6 value inflates sigma enough to hide real anomalies), while
    the median/MAD breakdown point is 50%. Flag: |x − med| > 3·1.4826·MAD
    evaluated in PURE INTEGER cents (|c−med|·10000 > 44478·mad — the
    Gaussian consistency constant as a fixed-point ratio), medians as
    EXACT lower-median selection (the smallest value whose cumulative
    count reaches (n+1) div 2 — a data value, never interpolated, so
    any engine selects the identical one).

    Plan for LOW-CARDINALITY group keys (the 100 TB trap): a naive
    row-rank window partitioned by event_type serializes ALL events of a
    type through one task. Here the events collapse to a per-(type,
    cents) HISTOGRAM first (map-side combine; the shuffle key is
    type x cents — well distributed), and every window/median step runs
    over histogram-sized data (distinct cents per type, bounded by the
    value domain regardless of row count). The oracle derives the same
    medians by row-level rank selection — two independent derivations
    agreeing on the exact value."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    # the histogram feeds counts + median + deviation branches; persist so
    # the event scan and histogram shuffle run once (dual-consumer trap)
    h = _track_cache(
        ev.select("event_type", cents.alias("c"))
        .groupBy("event_type", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    counts = h.groupBy("event_type").agg(F.sum("cnt").alias("n"))

    def hist_median(hist: DataFrame, val_col: str) -> DataFrame:
        w = (
            Window.partitionBy("event_type")
            .orderBy(F.asc(val_col))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            hist.withColumn("_cum", F.sum("cnt").over(w))
            .join(F.broadcast(counts), "event_type")
            .filter(F.col("_cum") >= F.expr("(n + 1) div 2"))
            .groupBy("event_type")
            .agg(F.min(val_col).alias(f"med_{val_col}"))
        )

    med = hist_median(h, "c").withColumnRenamed("med_c", "med_cents")
    devh = _track_cache(
        h.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(F.col("c") - F.col("med_cents")).alias("ad"),
            "cnt",
        )
        .groupBy("event_type", "ad")
        .agg(F.sum("cnt").alias("cnt"))
        .persist()
    )
    mad = hist_median(devh, "ad").withColumnRenamed("med_ad", "mad_cents")
    return (
        devh.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n_values"),
            F.first("med_cents").alias("med_cents"),
            F.first("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(
                    F.col("ad") * 10000 > F.lit(44478) * F.col("mad_cents"),
                    F.col("cnt"),
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
    )


_MAD_OUTLIERS_SQL = """
WITH t AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c, event_id
  FROM events
),
cn AS (SELECT event_type, count(*) AS n FROM t GROUP BY event_type),
r1 AS (
  SELECT t.event_type, c,
         row_number() OVER (PARTITION BY t.event_type
                            ORDER BY c ASC, event_id ASC) AS rn, n
  FROM t JOIN cn USING (event_type)
),
med AS (SELECT event_type, c AS med_cents FROM r1 WHERE rn = (n + 1) // 2),
dev AS (
  SELECT t.event_type, t.c, t.event_id, m.med_cents,
         abs(t.c - m.med_cents) AS ad
  FROM t JOIN med m USING (event_type)
),
r2 AS (
  SELECT dev.event_type, ad,
         row_number() OVER (PARTITION BY dev.event_type
                            ORDER BY ad ASC, event_id ASC) AS rn, n
  FROM dev JOIN cn USING (event_type)
),
mad AS (SELECT event_type, ad AS mad_cents FROM r2 WHERE rn = (n + 1) // 2)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n_values,
       CAST(min(d.med_cents) AS BIGINT) AS med_cents,
       CAST(min(m.mad_cents) AS BIGINT) AS mad_cents,
       CAST(sum(CASE WHEN d.ad * 10000 > 44478 * m.mad_cents
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type
"""


def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier flags per event type with EXACT integer math: the
    test |v−μ| > 3σ is evaluated as (n·v − S1)² > 9·(n·S2 − S1²) over
    integer cents (both sides × n²), in decimal(38) so no float enters the
    comparison — any engine flags the identical rows. Plan: one grouped
    pass for (n, S1, S2), tiny stats broadcast back, map-side flag, count.
    The anomaly-detection readout a metrics pipeline runs per window."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    t = ev.select("event_type", cents.alias("c"))
    # accumulate IN decimal — a long sum of c*c overflows ANSI-fatally near
    # 1e5 rows of 1e7-cent values while the oracle's HUGEINT does not
    c_dec = F.col("c").cast("decimal(38,0)")
    stats = t.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(c_dec).cast("decimal(38,0)").alias("s1"),
        F.sum(c_dec * F.col("c")).cast("decimal(38,0)").alias("s2"),
    )
    j = t.join(F.broadcast(stats), "event_type")
    lhs = (F.col("n") * F.col("c").cast("decimal(38,0)") - F.col("s1"))
    flagged = j.select(
        "event_type",
        F.when(
            (lhs * lhs) > F.lit(9).cast("decimal(38,0)")
            * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")),
            1,
        )
        .otherwise(0)
        .alias("is_out"),
    )
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.sum("is_out").cast("long").alias("n_outliers"),
    )


_OUTLIER_SQL = """
WITH t AS (
  SELECT event_type,
         CAST(floor(value * 100 + 0.5) AS HUGEINT) AS c
  FROM events
),
stats AS (
  SELECT event_type,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(c) AS HUGEINT) AS s1,
         CAST(sum(c * c) AS HUGEINT) AS s2
  FROM t GROUP BY event_type
)
SELECT t.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN (n * c - s1) * (n * c - s1) > 9 * (n * s2 - s1 * s1)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM t JOIN stats USING (event_type)
GROUP BY t.event_type
"""


def events_daily_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users: exact per-day distinct user counts — the DAU
    readout (the HLL variant `events_hll_by_type` is the sketch form for
    when exact per-key state stops fitting). Dates emitted as strings per
    the repo's timestamp-hash rule."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select(F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"), "user_id")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("dau"))
    )


_DAU_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT user_id) AS BIGINT) AS dau
FROM events GROUP BY 1
"""


def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the SQL surface (rollup/cube's general form,
    and the demonstration that every registered table is queryable with
    plain ANSI SQL via tables.register_views): status-level, priority-
    level, and grand-total aggregates in ONE pass — the single-scan
    multi-grain aggregation that would otherwise be three scans unioned."""
    from affinity_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                 AS total_cents
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_GROUPING_SETS_SQL = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def events_dd_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log-linear quantile sketch (DDSketch family, Masson et
    al. 2019) completing the sketch set: CMS = frequency, HLL = distinct,
    bloom = membership, DD = quantiles. Octave floor_log2 buckets with 8
    linear sub-buckets (relative error <= 12.5%), counts mergeable by
    addition; estimates are first-bucket-at-rank lower bounds — all
    integer arithmetic, so the oracle reproduces them bit-for-bit.

    Scale shape: one hash aggregate on (event_type, bucket) — the shuffle
    carries at most keys x 512 rows regardless of input size — then a
    window over the sketch itself (sketch-sized, not data-sized)."""
    from affinity_spark.operators.sketches import dd_quantiles, dd_sketch

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    return dd_quantiles(dd_sketch(ev, ["event_type"], "cents"), ["event_type"])


_DD_QUANTILES_SQL = r"""
WITH v AS (SELECT event_type, greatest(CAST(floor("value" * 100 + 0.5) AS BIGINT), 1) AS v FROM events),
b AS (
  SELECT event_type,
         (length(bin(v)) - 1) * 8
         + ((v - (1::BIGINT << (length(bin(v)) - 1))) * 8) // (1::BIGINT << (length(bin(v)) - 1)) AS bucket
  FROM v
),
s AS (SELECT event_type, bucket, count(*) AS n FROM b GROUP BY 1, 2),
c AS (
  SELECT event_type, bucket, n,
         CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
         (1::BIGINT << CAST(bucket // 8 AS INT)) AS pw
  FROM s
),
l AS (SELECT *, pw + ((bucket % 8) * pw) // 8 AS lo FROM c)
SELECT event_type, CAST(max(tot) AS BIGINT) AS n,
       CAST(min(CASE WHEN cum >= (tot - 1) * 50 // 100 + 1 THEN lo END) AS BIGINT) AS p50_est,
       CAST(min(CASE WHEN cum >= (tot - 1) * 90 // 100 + 1 THEN lo END) AS BIGINT) AS p90_est,
       CAST(min(CASE WHEN cum >= (tot - 1) * 99 // 100 + 1 THEN lo END) AS BIGINT) AS p99_est
FROM l GROUP BY event_type
"""


def events_kmv_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (theta) sketch SET ALGEBRA over per-event-type distinct users:
    for every unordered pair of event types, the estimated distinct-user
    count of each side, of their UNION (merged from the two k=64 sketches
    alone — mergeability, no raw re-read), and of their INTERSECTION
    (inclusion-exclusion) — the set-operation questions HLL registers
    cannot answer (`events_hll_by_type` gives per-group cardinality only;
    audience-overlap needs intersections). Exact union/intersection
    columns ride along, so the sketch error is VISIBLE in the result
    (the accuracy-discipline pattern of ``dedup_lsh_recall``).

    Plan: sketches are built with a WindowGroupLimit bounded top-k (no
    group's hash set is buffered), the pair frame is sketch-count sized
    (|types|² rows of k-length arrays — a broadcast nested loop over a
    tiny frame), and the exact columns cost one (type,user) distinct +
    a user-keyed self-join, dropped in a deployment once the estimates
    are trusted. All arithmetic integer; md5-derived hashes make the
    sketch state bit-identical in DuckDB."""
    from affinity_spark.operators.sketches import (
        kmv_estimate,
        kmv_sketch,
        kmv_union,
    )

    k = 64
    ev = _t(spark, sf_dir, "events")
    # ONE (type, user) distinct feeds all three consumers (sketch, sizes,
    # intersection self-join) — persisted so the events scan + distinct
    # shuffle run once, not per branch (the dual-consumer recompute trap)
    tu = _track_cache(
        ev.select("event_type", "user_id").distinct().persist()
    )
    sk = kmv_sketch(tu, ["event_type"], F.col("user_id").cast("string"), k)
    a = sk.select(F.col("event_type").alias("type_a"), F.col("kmv").alias("_ka"))
    b = sk.select(F.col("event_type").alias("type_b"), F.col("kmv").alias("_kb"))
    pairs = a.join(b, F.col("type_a") < F.col("type_b"))
    est = pairs.select(
        "type_a",
        "type_b",
        kmv_estimate(F.col("_ka"), k).alias("est_a"),
        kmv_estimate(F.col("_kb"), k).alias("est_b"),
        kmv_estimate(kmv_union(F.col("_ka"), F.col("_kb"), k), k).alias(
            "est_union"
        ),
    ).withColumn(
        "est_intersect",
        F.greatest(
            F.lit(0).cast("long"),
            F.col("est_a") + F.col("est_b") - F.col("est_union"),
        ),
    )
    sizes = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("_n"))
    ia = tu.select(F.col("event_type").alias("type_a"), "user_id")
    ib = tu.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        ia.join(ib, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("_xi"))
    )
    sa = sizes.select(F.col("event_type").alias("type_a"), F.col("_n").alias("_na"))
    sb = sizes.select(F.col("event_type").alias("type_b"), F.col("_n").alias("_nb"))
    return (
        est.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .join(F.broadcast(inter), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "est_a",
            "est_b",
            "est_union",
            "est_intersect",
            (F.col("_na") + F.col("_nb") - F.coalesce("_xi", F.lit(0)))
            .cast("long")
            .alias("exact_union"),
            F.coalesce("_xi", F.lit(0)).cast("long").alias("exact_intersect"),
        )
    )


_KMV_THETA_SQL = """
WITH tu AS (SELECT DISTINCT event_type AS g, user_id AS u FROM events),
dh AS (
  SELECT DISTINCT g,
         CAST(('0x' || substr(md5('0:' || CAST(u AS VARCHAR)), 1, 8)) AS BIGINT) AS h
  FROM tu
),
rk AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM dh),
sk AS (SELECT g, list_sort(list(h)) AS kmv FROM rk WHERE rn <= 64 GROUP BY g),
pr AS (
  SELECT a.g AS type_a, b.g AS type_b, a.kmv AS ka, b.kmv AS kb,
         (list_sort(list_distinct(a.kmv || b.kmv)))[1:64] AS km
  FROM sk a JOIN sk b ON a.g < b.g
),
est AS (
  SELECT type_a, type_b,
    CAST(CASE WHEN len(ka) < 64 THEN len(ka)
              ELSE (63 * 4294967296) // greatest(ka[64], 1) END AS BIGINT) AS est_a,
    CAST(CASE WHEN len(kb) < 64 THEN len(kb)
              ELSE (63 * 4294967296) // greatest(kb[64], 1) END AS BIGINT) AS est_b,
    CAST(CASE WHEN len(km) < 64 THEN len(km)
              ELSE (63 * 4294967296) // greatest(km[64], 1) END AS BIGINT) AS est_union
  FROM pr
),
sizes AS (SELECT g, count(*) AS n FROM tu GROUP BY g),
inter AS (
  SELECT a.g AS type_a, b.g AS type_b, count(*) AS xi
  FROM tu a JOIN tu b ON a.u = b.u AND a.g < b.g
  GROUP BY 1, 2
)
SELECT e.type_a, e.type_b, est_a, est_b, est_union,
       CAST(greatest(0, est_a + est_b - est_union) AS BIGINT) AS est_intersect,
       CAST(sa.n + sb.n - coalesce(xi, 0) AS BIGINT) AS exact_union,
       CAST(coalesce(xi, 0) AS BIGINT) AS exact_intersect
FROM est e
JOIN sizes sa ON sa.g = e.type_a
JOIN sizes sb ON sb.g = e.type_b
LEFT JOIN inter i ON i.type_a = e.type_a AND i.type_b = e.type_b
"""


def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy hitters (keys with count > N/(k+1), k=10) via two-pass
    Misra-Gries (``operators/sketches.py::heavy_hitters``): per-partition
    k-counter summaries (bounded memory regardless of partition size),
    provably-superset candidate union, broadcast-semi-join exact recount.
    The point is the PLAN: at 100 TB with billions of distinct keys,
    groupBy-count shuffles the whole key space to answer a question about
    <= k keys — here the shuffle carries only candidates. The oracle
    computes the same answer the naive way, certifying the two-pass
    plan's exactness guarantee (no false negatives, recount removes
    false positives)."""
    from affinity_spark.operators.sketches import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(ev, "event_type", k=10).withColumnRenamed(
        "event_type", "key"
    )


_HEAVY_HITTERS_SQL = """
WITH nn AS (SELECT count(*) AS n FROM events)
SELECT event_type AS key, count(*) AS n_occ
FROM events, nn
GROUP BY event_type, n
HAVING count(*) * 11 > n
"""

