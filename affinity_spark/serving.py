"""Transport-free serving gateway: the reference's query surface without HTTP.

The reference's primary entry point is an HTTP/WS gateway over partitioned
state — point gets, prefix/range scans and per-key subscriptions
(``core/src/main/scala/io/amient/affinity/core/actor/GatewayHttp.scala:50-111,
220-330``, ``ws-client/``; behavior pinned by
``examples/example-range-lookups/src/test/scala/io/amient/affinity/example/
ExampleBankSpec.scala:75-178`` — account reads, branch reads, time cutoffs).
SURVEY descopes the transport itself; this shim closes the entry point: ONE
python class exposing the same three operations over a
:class:`~affinity_spark.sources.keyed_table.KeyedTable` (or any keyed
DataFrame), returning plain python rows the way a handler would serialize
them.

Serving contract notes:
- ``point_get``/``prefix_range`` COLLECT — this is the serving path, where
  results are key-bounded (an account's transactions, a branch's day), the
  same contract as ``kv.range_materialize``. The analytical path stays
  DataFrame-shaped via the underlying operators.
- A table-backed gateway answers reads from an in-memory Arrow copy of the
  CURRENT snapshot — the reference's memstore, bootstrapped from the log
  and then tailing it (``KVStoreLocal`` boot/tail). Each request takes one
  ``KeyedTable.snapshot()`` handle; the first request that sees a version
  brings the copy up to it, once, under a lock. A version is a base plus
  ordered deltas (see ``sources/keyed_table``), and a commit no longer
  forces a reload: when the new version has the base the copy was built
  from, only its new deltas' rows (read with pyarrow, no Spark job) are
  folded in, last write wins by (ts, tiebreaks, delta ordinal) as the
  Spark read of the version merges them. Only a new base (a merge, a
  compaction, an ``overwrite``) is loaded with one ``toArrow()``, and a
  cold load is that load followed by the same fold. Key equality and the
  time range are then ``pyarrow.compute`` masks with the Spark
  predicates' semantics (NULLs never match, ``NaN`` matches ``NaN``), and
  rows convert the way ``collect()`` returns them.
- Reads go back to the Spark plan (``kv.point_get``/``kv.prefix_scan``,
  one job per request) when the snapshot's parquet files total more than
  ``SNAPSHOT_MAX_BYTES`` (16 MiB), when loading the version failed (e.g.
  over ``spark.driver.maxResultSize``; not retried until the next
  commit; also when an order column holds ``NaN``, which Arrow and Spark
  order differently), or when a filter value would need Spark's type
  coercion to compare with its column (e.g. a string against a
  timestamp). A df-backed gateway always runs the Spark plan.
- Read-your-writes: the version pointer is read on every request, so a
  read sent after a write's commit returned (a gateway POST's 200, or an
  external writer's ``upsert``/``changelog_sink`` commit) sees it; reads
  concurrent with a commit see the old or the new snapshot, never a mix.
- ``subscribe`` is a generator over a changelog STREAM filtered to one key
  — the ws-client's key subscription (initial state, then every update in
  arrival order). The filter is pushed into the stream before the sink, so
  a subscription costs a predicate, not a full materialization, no matter
  how wide the log is.
"""

from __future__ import annotations

import math
import threading
import time
from collections import deque
from decimal import Decimal
from functools import reduce
from typing import Iterator, Mapping, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.types import StructType

from affinity_spark.functions.lits import local_df
from affinity_spark.operators.kv import point_get, prefix_scan
from affinity_spark.timerange import UNBOUNDED_END, UNBOUNDED_START, TimeRange

#: snapshots whose parquet files total more than this are not held in
#: memory: their reads run the Spark plan. Set from a probe of the bank
#: table's shape (four long columns; the Arrow copy is ~2.3x its parquet
#: bytes) on a 4-vCPU VM: at 16 MiB the load makes the first read after a
#: commit (and any read waiting on it) ~1.6x a Spark-plan read, warm reads
#: take ~2 ms and the driver's peak RSS grows ~120 MB; at 64 MiB the load
#: is ~3.3x a Spark-plan read and warm reads take 16-24 ms. Tables that
#: compress better hold more bytes in memory per parquet byte.
SNAPSHOT_MAX_BYTES = 16 << 20


def _arrow_scalar(value, typ: pa.DataType) -> pa.Scalar | None:
    """``value`` as a scalar of the column's Arrow type, or None where
    Spark would coerce the comparison (a string against a number, a float
    against an integer column, a lossy rescale): those reads run the
    Spark plan so they keep its answer."""
    if isinstance(value, bool):
        ok = pa.types.is_boolean(typ)
    elif isinstance(value, int):
        ok = pa.types.is_integer(typ)
    elif isinstance(value, float):
        ok = pa.types.is_float64(typ)
    elif isinstance(value, str):
        ok = pa.types.is_string(typ) or pa.types.is_large_string(typ)
    elif isinstance(value, Decimal):
        ok = pa.types.is_decimal(typ)
    else:
        ok = False
    if not ok:
        return None
    try:
        return pa.scalar(value, type=typ)
    except (pa.ArrowException, OverflowError):
        return None


def _time_conds(col: pa.ChunkedArray, tr: TimeRange, unit: str) -> list | None:
    """``TimeRange.predicate`` over an Arrow column, or None when the
    column type is not the one the unit expects."""
    if unit == "millis" and pa.types.is_integer(col.type):
        lo, hi = tr.start_ms, tr.end_ms  # both bounds always apply
    elif (
        unit == "timestamp"
        and pa.types.is_timestamp(col.type)
        and col.type.unit == "us"
        and col.type.tz is not None
    ):
        col = col.cast(pa.int64())  # epoch micros, what Spark compares
        lo = tr.start_ms * 1000 if tr.start_ms > UNBOUNDED_START else None
        hi = tr.end_ms * 1000 if tr.end_ms < UNBOUNDED_END else None
    else:
        return None
    try:
        conds = []
        if lo is not None:
            conds.append(pc.greater_equal(col, pa.scalar(lo, pa.int64())))
        if hi is not None:
            conds.append(pc.less(col, pa.scalar(hi, pa.int64())))
        return conds
    except (pa.ArrowException, OverflowError):
        return None


def _snapshot_mask(
    table: pa.Table,
    key: Mapping[str, object],
    time_range: TimeRange | None,
    ts_col: str | None,
    ts_unit: str,
) -> list | None:
    """The conjuncts of ``kv.prefix_scan``'s predicate as Arrow masks, or
    None when the read must run the Spark plan to keep Spark's answer."""
    conds = []
    for c, v in key.items():
        if c not in table.column_names:
            return None  # Spark resolves names case-insensitively
        col = table[c]
        if isinstance(v, float) and math.isnan(v) and pa.types.is_float64(col.type):
            conds.append(pc.is_nan(col))  # Spark: NaN = NaN is true
            continue
        s = _arrow_scalar(v, col.type)
        if s is None:
            return None
        conds.append(pc.equal(col, s))
    if time_range is not None:
        if ts_col is None or ts_col not in table.column_names:
            return None
        tc = _time_conds(table[ts_col], time_range, ts_unit)
        if tc is None:
            return None
        conds += tc
    return conds


class _Memstore(NamedTuple):
    """A version's rows held in memory: the Arrow table with its Spark
    schema and binary form, and the base and deltas folded into it."""

    rows: pa.Table
    schema: StructType
    as_bytes: bool
    base: tuple[str, ...]
    deltas: tuple[str, ...]


def _fold(
    table: pa.Table,
    deltas: list[pa.Table],
    key_cols: list[str],
    order_cols: list[str],
) -> pa.Table:
    """``table`` with ``deltas`` (oldest first) folded in: per key, the
    row with the greatest (order columns, ordinal) wins, the ordinal
    being 0 for ``table``'s rows and i for the i-th delta's — the
    ``compact_latest`` the Spark read of a version with deltas runs.
    With no deltas ``table`` is returned as it is, as that read returns
    the base alone. Raises where Arrow's order would not be Spark's (NaN
    in an order column), so the version's reads run the Spark plan."""
    if not deltas:
        return table
    ordinal, pos = "__ordinal", "__pos"
    parts = [
        t.select(table.column_names)
        .cast(table.schema)
        .append_column(ordinal, pa.array(np.full(t.num_rows, i, np.int64)))
        for i, t in enumerate([table, *deltas])
    ]
    rows = pa.concat_tables(parts)
    for c in order_cols:
        if pa.types.is_floating(rows[c].type) and pc.any(pc.is_nan(rows[c])).as_py():
            raise ValueError(f"NaN in order column {c!r}")
    # Spark orders NULL below any value: last when descending
    rows = rows.take(pc.sort_indices(
        rows,
        [(c, "descending") for c in [*order_cols, ordinal]],
        null_placement="at_end",
    ))
    rows = rows.append_column(pos, pa.array(np.arange(rows.num_rows)))
    first = rows.group_by(key_cols, use_threads=False).aggregate([(pos, "min")])
    return rows.take(first[f"{pos}_min"]).drop_columns([ordinal, pos]).combine_chunks()


def _same_row(a: Mapping[str, object], b: Mapping[str, object]) -> bool:
    """Row equality as the CDF's NULL-safe struct comparison sees it:
    ``None`` equals ``None`` and a float ``NaN`` equals ``NaN``."""
    return a.keys() == b.keys() and all(
        x == y or (isinstance(x, float) and isinstance(y, float)
                   and math.isnan(x) and math.isnan(y))
        for x, y in ((a[k], b[k]) for k in a)
    )


class Subscription:
    """Handle for one per-key changelog subscription: ``take(n)`` blocks
    for the next n events; ``stop()`` tears the stream down."""

    def __init__(self, query, buffer: deque, lock: threading.Lock):
        self._query = query
        self._buffer = buffer
        self._lock = lock

    def take(self, n: int, timeout_s: float = 20.0) -> list[dict]:
        out: list[dict] = []
        deadline = time.monotonic() + timeout_s
        while len(out) < n:
            with self._lock:
                while self._buffer and len(out) < n:
                    out.append(self._buffer.popleft())
            if len(out) < n:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"subscription delivered {len(out)}/{n} events in {timeout_s}s"
                    )
                self._query.processAllAvailable()
                time.sleep(0.05)
        return out

    def events(self, timeout_s: float = 20.0) -> Iterator[dict]:
        """Generator view: yields events one at a time until ``stop()``."""
        while self._query.isActive:
            yield self.take(1, timeout_s)[0]

    def poll(self, timeout_s: float = 5.0) -> list[dict]:
        """Non-raising take(1): [] when no event arrives within the window
        — the push-transport primitive (an idle key is a heartbeat tick,
        not a teardown; r12 ADVICE on the subscribe channel)."""
        try:
            return self.take(1, timeout_s)
        except TimeoutError:
            return []

    @property
    def active(self) -> bool:
        return self._query.isActive

    def stop(self) -> None:
        self._query.stop()


class TableSubscription:
    """Per-key push fed by the TABLE's own commits — the reference's
    mediator push wired to gateway WRITES: a poller watches the version
    pointer and, on each new version, diffs the key's current rows against
    the rows it last delivered, so a POST/WS upsert notifies subscribers
    with no external changelog. Events are flat row dicts: inserts/updates
    carry the NEW values plus ``_change``; deletes carry the key plus
    ``_change: 'delete'``. The diff needs no retained older snapshot, so a
    commit burst between two polls (a slow poller, version retention of 2)
    still yields exactly the burst's net changes, never a gap. Duck-typed
    with :class:`Subscription` (take/poll/events/active/stop)."""

    def __init__(self, gateway, key: Mapping[str, object],
                 poll_s: float = 0.25, include_initial: bool = True):
        self._gw = gateway
        self._key = dict(key)
        self._tbl = gateway._require_table()
        self._buffer: deque = deque()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._last = self._tbl.snapshot().version_dir
        rows = gateway.point_get(key)
        self._state = {self._key_of(r): r for r in rows}
        if include_initial:
            self._buffer.extend(rows)
        self._thread = threading.Thread(
            target=self._poll_loop, args=(poll_s,), daemon=True
        )
        self._thread.start()

    def _key_of(self, row: Mapping[str, object]) -> tuple:
        return tuple(row[k] for k in self._tbl.key_cols)

    def _poll_loop(self, poll_s: float) -> None:
        while not self._stop.is_set():
            try:
                self._poll_once()
            except Exception:  # noqa: BLE001 - poller must not die; retried next tick
                pass
            self._stop.wait(poll_s)

    def _poll_once(self) -> None:
        cur = self._tbl.snapshot().version_dir
        if cur != self._last:
            events = self._diff(self._gw.point_get(self._key))
            with self._lock:
                self._buffer.extend(events)
            self._last = cur

    def _diff(self, rows: list[dict]) -> list[dict]:
        """Events taking the delivered state to ``rows`` (and adopt it):
        the KeyedTable CDF classification (insert/update/delete), with
        values compared NULL-safe and ``NaN`` equal to ``NaN``."""
        new = {self._key_of(r): r for r in rows}
        events = []
        for k, r in new.items():
            old = self._state.get(k)
            if old is None:
                events.append({**r, "_change": "insert"})
            elif not _same_row(old, r):
                events.append({**r, "_change": "update"})
        for k in self._state.keys() - new.keys():
            events.append(
                {**dict(zip(self._tbl.key_cols, k)), "_change": "delete"}
            )
        self._state = new
        return events

    def take(self, n: int, timeout_s: float = 20.0) -> list[dict]:
        out: list[dict] = []
        deadline = time.monotonic() + timeout_s
        while len(out) < n:
            with self._lock:
                while self._buffer and len(out) < n:
                    out.append(self._buffer.popleft())
            if len(out) < n:
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"table subscription delivered {len(out)}/{n} events"
                        f" in {timeout_s}s"
                    )
                time.sleep(0.05)
        return out

    def poll(self, timeout_s: float = 5.0) -> list[dict]:
        try:
            return self.take(1, timeout_s)
        except TimeoutError:
            return []

    def events(self, timeout_s: float = 20.0) -> Iterator[dict]:
        while not self._stop.is_set():
            yield self.take(1, timeout_s)[0]

    @property
    def active(self) -> bool:
        return not self._stop.is_set()

    def stop(self) -> None:
        self._stop.set()


class ServingGateway:
    """Point-get + prefix/range + per-key subscribe over keyed state."""

    def __init__(self, table=None, df: DataFrame | None = None, ts_col: str | None = None,
                 ts_unit: str = "millis", schema=None):
        if (table is None) == (df is None):
            raise ValueError("exactly one of table= or df= is required")
        self._table = table
        self._df = df
        self._ts_col = ts_col if table is None else table.ts_col
        self._ts_unit = ts_unit
        # declared row schema (StructType): used to coerce writes when the
        # table has no committed snapshot yet — the FIRST write through the
        # gateway defines the physical schema, so it must come from a
        # declaration, not from reading the (absent) snapshot
        self._schema = schema
        # (version dir, _Memstore | None) of the latest snapshot served;
        # None = not held in memory (oversize, a failed load, or no
        # committed version): reads run Spark plans
        self._snap = None
        self._snap_lock = threading.Lock()

    def _frame(self) -> DataFrame:
        return self._df if self._table is None else self._table.read()

    def _snapshot(self) -> _Memstore | None:
        """The current version's rows in memory, or None when reads run
        the Spark plan. The pointer is read on every call; a new version
        is brought in once, under the lock, by the first request that sees
        it."""
        if self._table is None:
            return None
        snap = self._snap
        if snap is not None and snap[0] == self._table.snapshot().version_dir:
            return snap[1]
        with self._snap_lock:
            handle = self._table.snapshot()
            snap = self._snap
            if snap is None or snap[0] != handle.version_dir:
                held = None if snap is None else snap[1]
                snap = self._snap = (handle.version_dir, self._load_snapshot(handle, held))
            return snap[1]

    def _load_snapshot(self, handle, held: _Memstore | None) -> _Memstore | None:
        """``handle``'s rows, or None when they are not held in memory: no
        committed version, over ``SNAPSHOT_MAX_BYTES``, or a failed load.
        When ``held`` has the same base and a prefix of the deltas, only
        the new deltas are folded into its rows; otherwise the base is
        loaded (one ``toArrow()``) and all the deltas folded. A failure
        (e.g. over spark.driver.maxResultSize, or the version's files
        reclaimed by later commits) is not retried for this version: its
        reads run the Spark plan until the next commit."""
        if handle.version_dir is None:
            return None
        tbl = self._table
        # binary cells as collect() returns them under this conf
        as_bytes = tbl.spark.conf.get(
            "spark.sql.execution.pyspark.binaryAsBytes", "true"
        ).lower() == "true"
        try:
            if sum(handle.files.values()) > SNAPSHOT_MAX_BYTES:
                return None
            if (
                held is None
                or held.base != handle.base
                or handle.deltas[: len(held.deltas)] != held.deltas
            ):
                rows, folded = handle.base_df.toArrow().combine_chunks(), ()
            else:
                rows, folded = held.rows, held.deltas
            rows = _fold(
                rows,
                handle.delta_tables(len(folded)),
                tbl.key_cols,
                [tbl.ts_col, *tbl.tiebreak_cols],
            )
            schema = handle.schema
            return _Memstore(
                rows.select(schema.fieldNames()), schema, as_bytes,
                handle.base, handle.deltas,
            )
        except Exception:
            return None

    def _snapshot_rows(
        self, key: Mapping[str, object], time_range: TimeRange | None = None
    ) -> list[Row] | None:
        """The rows of the in-memory snapshot matching the key (and time
        range), as ``collect()`` returns them; None = run the Spark plan."""
        held = self._snapshot()
        if held is None:
            return None
        table = held.rows
        conds = _snapshot_mask(table, key, time_range, self._ts_col, self._ts_unit)
        if conds is None:
            return None
        if conds:
            table = table.filter(reduce(pc.and_, conds))
        return ArrowTableToRowsConversion.convert(
            table, held.schema, binary_as_bytes=held.as_bytes
        )

    # -- request handlers (what an HTTP route would call) -------------------

    def point_get(self, key: Mapping[str, object]) -> list[dict]:
        """GET /{table}/{full key}: the rows for exactly one key."""
        rows = self._snapshot_rows(key)
        if rows is None:
            rows = point_get(self._frame(), key).collect()
        return [r.asDict() for r in rows]

    def prefix_range(
        self,
        prefix: Mapping[str, object],
        time_range: TimeRange | None = None,
    ) -> list[dict]:
        """GET /{table}/{key prefix}[?from=..&until=..]: all rows under a
        key prefix, optionally time-bounded (the branch reads of
        ExampleBankSpec)."""
        rows = self._snapshot_rows(prefix, time_range)
        if rows is None:
            rows = prefix_scan(
                self._frame(), prefix, time_range, self._ts_col, self._ts_unit
            ).collect()
        return [r.asDict() for r in rows]

    # -- write handlers (what an HTTP POST/DELETE route calls) --------------
    # The reference's gateway mutates state over POST (``examples/
    # example-distributed-graph/.../GraphHttp.scala:91-102`` POST /connect,
    # /disconnect; ``example-auth-methods/.../PrivateApi.scala:62`` POST
    # /settings/add). Writes require a table-backed gateway (df= is a
    # read-only view); all three are replay-idempotent — a replayed
    # request re-derives the same committed state (last-write-wins merge /
    # anti-join), the W-row contract.

    def _require_table(self):
        if self._table is None:
            raise ValueError("writes need a table-backed gateway (table=)")
        return self._table

    def _rows_df(self, rows: list[Mapping[str, object]], snap) -> DataFrame:
        """Rows (parsed JSON dicts) -> a DataFrame in the SNAPSHOT's exact
        schema: from_json coerces JSON numerics/strings to the committed
        column types, so a wire write can never introduce the mixed
        numeric-width parquet poisoning (the r5 BandIndex rule)."""
        import json as _json

        try:
            schema = snap.schema
        except FileNotFoundError:
            if self._schema is None:
                raise
            schema = self._schema  # first write defines the table
        spark = snap.table.spark
        raw = local_df(
            spark, [(_json.dumps(dict(r), default=str),) for r in rows], "j string"
        )
        return raw.select(F.from_json("j", schema).alias("s")).select("s.*")

    def _validate_keys(self, rows: list[Mapping[str, object]], snap) -> None:
        """Key columns must be present, non-null and type-compatible in
        EVERY row BEFORE the frame is built: from_json coerces by
        nulling mismatches, so a typo'd key value would otherwise write a
        silent NULL-keyed row instead of answering 400."""
        from pyspark.sql import types as T

        schema = self._schema
        if schema is None:
            try:
                schema = snap.schema
            except FileNotFoundError:
                schema = None
        ok_types = {
            T.LongType: (int,), T.IntegerType: (int,), T.ShortType: (int,),
            T.DoubleType: (int, float), T.FloatType: (int, float),
            T.BooleanType: (bool,), T.StringType: (str,),
        }
        fields = {f.name: type(f.dataType) for f in schema.fields} if schema else {}
        for r in rows:
            for c in snap.table.key_cols:
                v = r.get(c)
                if v is None:
                    raise ValueError(f"missing or null key column {c!r} in row")
                allowed = ok_types.get(fields.get(c))
                # bool is an int subclass — never a valid numeric key
                if allowed is not None and (
                    not isinstance(v, allowed)
                    or (bool not in allowed and isinstance(v, bool))
                ):
                    raise ValueError(
                        f"key column {c!r} value {v!r} does not match the "
                        f"table's column type"
                    )

    def upsert(self, rows: list[Mapping[str, object]]) -> dict:
        """POST /{table}: W1 blind replace / W2 merge — last-write-wins by
        (key, event-time) through the KeyedTable CAS merge. The handle
        only types the rows: the merge captures its own base, so a commit
        landing in between is folded in (last write wins), not refused."""
        tbl = self._require_table()
        snap = tbl.snapshot()
        self._validate_keys(rows, snap)
        tbl.upsert(self._rows_df(rows, snap))
        return {"upserted": len(rows)}

    def insert(self, rows: list[Mapping[str, object]]) -> dict:
        """POST /{table}?op=insert: W3 insert-only — keys already present
        are left untouched (anti-join), fresh keys merge in."""
        tbl = self._require_table()
        # one handle types the rows, feeds the anti-join and is the base the
        # merge CASes to (as delete() does): an external writer committing
        # the same key in between must raise ConcurrentWriteError, not be
        # silently overwritten — insert-only semantics hold outside the
        # HTTP write_lock too (r13 ADVICE)
        snap = tbl.snapshot()
        self._validate_keys(rows, snap)
        df = self._rows_df(rows, snap)
        existing = (
            None  # first write defines the table: all rows fresh
            if snap.version_dir is None
            else snap.df.select(*tbl.key_cols).distinct()
        )
        fresh = (
            df
            if existing is None
            else df.join(existing, on=list(tbl.key_cols), how="left_anti")
        )
        n = fresh.count()
        if n:
            tbl.upsert(fresh, expected_base=snap.version_dir)
        return {"inserted": n, "skipped": len(rows) - n}

    def delete(self, key: Mapping[str, object]) -> dict:
        """DELETE /{table}?key...: W4 tombstone — every row under the key
        (which may be a prefix of the full key) is dropped; the CAS commit
        keeps concurrent writers loud."""
        tbl = self._require_table()
        snap = tbl.snapshot()
        cur = snap.df
        cond = None
        for col, val in key.items():
            c = F.col(col).eqNullSafe(F.lit(val))
            cond = c if cond is None else cond & c
        if cond is None:
            raise ValueError("delete needs at least one key column")
        n = cur.filter(cond).count()
        if n:
            tbl.overwrite(cur.filter(~cond), expected_base=snap.version_dir)
        return {"deleted": n}

    def subscribe(
        self,
        changes: DataFrame,
        key: Mapping[str, object],
        checkpoint_dir: str,
        include_initial: bool = True,
    ) -> Subscription:
        """Per-key subscription over a streaming changelog DataFrame: the
        current state for the key first (ws-client semantics), then every
        subsequent change to that key in arrival order."""
        if not changes.isStreaming:
            raise ValueError("subscribe() needs a streaming DataFrame")
        buffer: deque = deque()
        lock = threading.Lock()
        if include_initial:
            with lock:
                buffer.extend(self.point_get(key))
        cond = None
        for col, val in key.items():
            c = F.col(col) == F.lit(val)
            cond = c if cond is None else cond & c
        filtered = changes.filter(cond) if cond is not None else changes

        def _sink(batch_df: DataFrame, _batch_id: int) -> None:
            rows = [r.asDict() for r in batch_df.collect()]
            with lock:
                buffer.extend(rows)

        query = (
            filtered.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(_sink)
            .start()
        )
        return Subscription(query, buffer, lock)

    def subscribe_table(
        self,
        key: Mapping[str, object],
        poll_s: float = 0.25,
        include_initial: bool = True,
    ) -> TableSubscription:
        """Per-key subscription fed by the TABLE's own commits: a gateway
        write (POST / WS record / direct upsert) notifies subscribers with
        no external changelog stream — the reference's
        write→mediator→push loop closed over the table's commits."""
        return TableSubscription(
            self, key, poll_s=poll_s, include_initial=include_initial
        )
