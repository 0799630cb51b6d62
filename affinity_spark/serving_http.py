"""HTTP transport for the serving gateway — the reference's entry point.

``serving.py`` implements the reference's query+write surface (point get,
prefix/range scan, per-key subscription, keyed mutations) transport-free;
this module is the WIRE layer (``core/src/main/scala/io/amient/affinity/
core/actor/GatewayHttp.scala:50-111,220-330``): a pure-stdlib
``http.server`` gateway exposing

- ``GET    /kv/{table}?col=val[&col=val...]``            → point get (JSON array)
- ``GET    /scan/{table}?col=val[&from=ms][&until=ms]``  → prefix/range scan
- ``GET    /subscribe/{table}?col=val[&col=val...]``     → per-key push stream
- ``POST   /kv/{table}``  body = JSON row or [rows]      → W1 upsert
  (``?op=insert`` → W3 insert-only) — the reference's POST mutations
  (``examples/example-distributed-graph/.../GraphHttp.scala:91-102``
  POST /connect /disconnect, ``example-auth-methods/.../PrivateApi.
  scala:62`` POST /settings/add)
- ``DELETE /kv/{table}?col=val[&col=val...]``            → W4 delete

The push channel speaks THREE protocols: a client sending ``Upgrade:
websocket`` gets a real RFC 6455 WebSocket; if it also offers
``Sec-WebSocket-Protocol: avro`` on a route with a registered Avro
binding it gets the reference's BINARY channel — each event is one
binary frame carrying the 5-byte schema-registry envelope (magic 0 +
BE-int32 schema id) + Avro-binary payload, and the client can request
schemas in-band (``GatewayHttp.scala:300-330`` Avro Web Socket Protocol:
a binary frame starting with magic 123 + BE-int32 id is a schema
request answered by 123 + id + schema-json bytes; a text frame is a
schema request by record name). Any other client gets Server-Sent
Events (``text/event-stream``). Either way the events are the rows
``serving.Subscription`` yields — initial state first, then every
change to the key in arrival order; idle periods are bridged with
heartbeats (WS ping frames / SSE comment lines), never a silent
disconnect.

Security: binds 127.0.0.1; ``start(ssl_context=...)`` serves HTTPS (the
reference's TLS gateway, ``examples/example-https-config/.../
ExampleHttpsGateway.scala``); per-route guards are ``basic_auth``
(``PrivateApi.scala:50-62`` AUTH_ADMIN) and/or a ``proof``
(``functions.crypto`` TimeCryptoProof, F8). Query parameters are coerced
to the table's own column types from its Spark schema; unknown tables /
unknown key columns / malformed values answer 404 / 400 like the
reference's route rejections.

Driver-side by design: serving reads are key-bounded (the
``kv.range_materialize`` contract) and the gateway is the thin edge in
front of them, the reference's gateway-over-partition-masters role. A
table-backed route answers ``/kv`` and ``/scan`` from the in-memory Arrow
copy of the table's current snapshot that ``ServingGateway`` memoizes per
version (the reference's memstore), with no Spark job per request. Reads
of a snapshot whose parquet files exceed ``serving.SNAPSHOT_MAX_BYTES``
or whose load failed, and filter values that need Spark's type coercion,
run the Spark plan instead. The version pointer is checked on every request, so a read sent
after a write's 200 (or after an external writer's commit) sees it. A read
of a table with no committed version answers 404.
"""

from __future__ import annotations

import hmac
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qsl, urlparse

from pyspark.sql import types as T

from affinity_spark.timerange import TimeRange

#: RFC 6455 §1.3 — the fixed GUID concatenated to the client key
_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"

#: Avro Web Socket Protocol magic byte for in-band schema requests
#: (GatewayHttp.scala:318-321)
_SCHEMA_MAGIC = 123

#: idle-key heartbeat cadence on the push channel (WS ping / SSE comment)
_HEARTBEAT_S = 5.0

#: write-body cap: a client-declared Content-Length is an allocation
#: instruction — bound it like the WS frame cap
_MAX_POST_BYTES = 16 << 20


def _check_columns(route, row: dict) -> None:
    """Unknown columns in a wire-written row answer an error (the POST
    route's 400 semantics): from_json silently DROPS unknown fields, so a
    typo'd column name would otherwise merge a row whose real column is
    NULL — last-write-wins then clobbers the committed value."""
    bad = set(row) - route.columns
    if bad:
        raise ValueError(f"unknown columns {sorted(bad)}")


def _ws_accept(key: str) -> str:
    import base64
    import hashlib

    return base64.b64encode(
        hashlib.sha1((key + _WS_GUID).encode()).digest()
    ).decode()


def _ws_frame(opcode: int, payload: bytes) -> bytes:
    """One FIN frame, server→client (unmasked, RFC 6455 §5.2): length in
    the 7-bit field or the 16/64-bit extensions."""
    n = len(payload)
    head = bytes([0x80 | opcode])
    if n < 126:
        head += bytes([n])
    elif n < (1 << 16):
        head += bytes([126]) + n.to_bytes(2, "big")
    else:
        head += bytes([127]) + n.to_bytes(8, "big")
    return head + payload


def _ws_text_frame(payload: bytes) -> bytes:
    return _ws_frame(0x1, payload)


#: client frames on this protocol are schema requests / single rows —
#: refuse anything claiming more (an absurd length field would otherwise
#: drive an arbitrary-size buffer allocation)
_WS_MAX_CLIENT_FRAME = 1 << 20


def _ws_read_frame(rfile) -> tuple[int, bytes] | None:
    """One client frame → (opcode, payload), unmasked (client frames are
    MASKED per RFC 6455 §5.3). None on EOF/truncation/oversize."""
    head = rfile.read(2)
    if len(head) < 2:
        return None
    opcode = head[0] & 0x0F
    masked = head[1] & 0x80
    n = head[1] & 0x7F
    if n == 126:
        n = int.from_bytes(rfile.read(2), "big")
    elif n == 127:
        n = int.from_bytes(rfile.read(8), "big")
    if n > _WS_MAX_CLIENT_FRAME:
        return None  # treated as a dead peer — the channel tears down
    mask = rfile.read(4) if masked else b""
    payload = rfile.read(n) if n else b""
    if len(payload) < n:
        return None
    if masked and payload:
        payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
    return opcode, payload


#: the gateway's browser client (the reference serves its compiled
#: affinity_node.js at GET /affinity.js — GatewayHttp.scala
#: WebSocketSupport; this is a from-scratch minimal equivalent over the
#: same routes: point get, scan, and per-key subscribe over SSE or a
#: JSON WebSocket). Served gzip-encoded on Accept-Encoding like every
#: other response.
_AFFINITY_JS = """\
// affinity.js — minimal browser client for the affinity_spark gateway.
// Routes: GET /kv/{t}?k=v  GET /scan/{t}?k=v&from=&until=
//         GET /subscribe/{t}?k=v  (SSE via EventSource, WS via subscribeWS)
//         POST /kv/{t} (rows)     DELETE /kv/{t}?k=v
(function (global) {
  'use strict';
  function qs(params) {
    var u = new URLSearchParams();
    Object.keys(params || {}).forEach(function (k) { u.append(k, params[k]); });
    var s = u.toString();
    return s ? '?' + s : '';
  }
  function Affinity(base) { this.base = base || ''; }
  Affinity.prototype.get = function (table, key) {
    return fetch(this.base + '/kv/' + table + qs(key))
      .then(function (r) { if (!r.ok) throw new Error(r.status); return r.json(); });
  };
  Affinity.prototype.scan = function (table, key, fromMs, untilMs) {
    var p = Object.assign({}, key);
    if (fromMs != null) p['from'] = fromMs;
    if (untilMs != null) p['until'] = untilMs;
    return fetch(this.base + '/scan/' + table + qs(p))
      .then(function (r) { if (!r.ok) throw new Error(r.status); return r.json(); });
  };
  Affinity.prototype.upsert = function (table, rows) {
    return fetch(this.base + '/kv/' + table, {
      method: 'POST', body: JSON.stringify(rows),
      headers: { 'Content-Type': 'application/json' }
    }).then(function (r) { if (!r.ok) throw new Error(r.status); return r.json(); });
  };
  Affinity.prototype.remove = function (table, key) {
    return fetch(this.base + '/kv/' + table + qs(key), { method: 'DELETE' })
      .then(function (r) { if (!r.ok) throw new Error(r.status); return r.json(); });
  };
  // SSE subscription: onEvent(row) per update; heartbeats are handled by
  // the EventSource transport (comment lines are dropped automatically).
  Affinity.prototype.subscribe = function (table, key, onEvent) {
    var es = new EventSource(this.base + '/subscribe/' + table + qs(key));
    es.onmessage = function (m) { onEvent(JSON.parse(m.data)); };
    return es; // caller closes with es.close()
  };
  // JSON WebSocket subscription (the reference's jsonWebSocket channel).
  Affinity.prototype.subscribeWS = function (table, key, onEvent) {
    var proto = global.location && global.location.protocol === 'https:' ? 'wss' : 'ws';
    var host = this.base || (global.location ? '//' + global.location.host : '');
    var ws = new WebSocket(proto + ':' + host.replace(/^https?:/, '') +
      '/subscribe/' + table + qs(key));
    ws.onmessage = function (m) { onEvent(JSON.parse(m.data)); };
    return ws; // caller closes with ws.close()
  };
  global.Affinity = Affinity;
})(typeof window !== 'undefined' ? window : this);
"""


def _coercers(schema: T.StructType) -> dict:
    out = {}
    for f in schema.fields:
        if isinstance(f.dataType, (T.LongType, T.IntegerType, T.ShortType)):
            out[f.name] = int
        elif isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            out[f.name] = float
        elif isinstance(f.dataType, T.BooleanType):
            out[f.name] = lambda s: s.lower() in ("1", "true")
        else:
            out[f.name] = str
    return out


class _Route:
    def __init__(self, gateway, schema: T.StructType, proof=None,
                 basic_auth=None):
        self.gateway = gateway
        self.coerce = _coercers(schema)
        self.columns = set(self.coerce)
        # subscription binding (optional): (streaming changes DF, ckpt dir)
        self.stream = None
        # optional TimeCryptoProof guard (the reference's GatewayHttp auth:
        # the request path is signed with a time-based salted proof)
        self.proof = proof
        # optional HTTP basic-auth guard (user, password) —
        # PrivateApi.scala:50-62 AUTH_ADMIN
        self.basic_auth = basic_auth
        # optional Avro push binding: (registry, schema_id, parsed schema)
        self.avro = None
        # writes serialize per table: the gateway is the single writer
        # front (the reference's partition-master role); without it two
        # concurrent POSTs race the CAS and one always burns a 409
        self.write_lock = threading.Lock()
        # table-fed push (optional): poll seconds for subscribe routes
        # served from the table's OWN commit stream (no external changelog)
        self.table_push: float | None = None


class HttpGateway:
    """Stdlib HTTP edge over one or more :class:`ServingGateway` routes."""

    def __init__(self) -> None:
        from affinity_spark.metrics import MetricsRegistry

        self._routes: dict[str, _Route] = {}
        self._server: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        #: per-request-group timers + success/failure meters — the
        #: reference's AffinityMetrics/Gateway.trace surface
        #: (AffinityMetrics.scala:50-95, Gateway.scala:78-82): every
        #: request/response route marks success when status < 400 else
        #: failure, timed from request arrival; served as GET /metrics.
        #: (Established push streams are connections, not responses —
        #: only their handshake failures respond, hence meter.)
        self.metrics = MetricsRegistry()

    def register(self, name: str, gateway, schema, proof=None,
                 basic_auth: tuple[str, str] | None = None) -> None:
        """Mount ``gateway`` (a serving.ServingGateway) at /kv/{name} and
        /scan/{name}; ``schema`` is the table's Spark schema (drives query
        parameter coercion). ``proof`` (a functions.crypto
        TimeCryptoProofSHA256) makes the route require
        ``auth=<sign(path)>`` — the reference's F8 crypto-proof guard
        (``GatewayHttp.scala``; proofs accept ±1 minute of skew);
        ``basic_auth=(user, password)`` additionally requires the
        Authorization header (the reference's AUTH_ADMIN basic realm)."""
        self._routes[name] = _Route(
            gateway, schema, proof=proof, basic_auth=basic_auth
        )

    def register_stream(self, name: str, changes, checkpoint_dir: str) -> None:
        """Enable /subscribe/{name}: ``changes`` is the streaming changelog
        DataFrame the per-key subscriptions filter (the ws-client's key
        subscription source)."""
        self._routes[name].stream = (changes, checkpoint_dir)

    def register_table_stream(self, name: str, poll_s: float = 0.25) -> None:
        """Enable /subscribe/{name} fed by the route's TABLE commits: a
        write through this gateway (POST, DELETE, WS record) pushes to
        subscribers by diffing the key's rows per commit — the reference's
        write→mediator→push loop with no external changelog stream.
        Mutually exclusive with :meth:`register_stream` (an explicit
        changelog wins when both are set)."""
        self._routes[name].table_push = poll_s

    def register_avro(self, name: str, registry, schema_json: str) -> int:
        """Bind the reference's BINARY Avro push channel to
        /subscribe/{name}: events encode as the 5-byte envelope +
        Avro-binary payload under ``schema_json`` (registered into
        ``registry`` — a functions.avro_envelope.SchemaRegistry), and the
        WS channel answers in-band schema requests from it. Returns the
        writer schema id."""
        from affinity_spark.functions.avro_binary import parse_schema

        sid = registry.register(schema_json)
        self._routes[name].avro = (registry, sid, parse_schema(schema_json))
        return sid

    # -- lifecycle -----------------------------------------------------------

    def start(self, port: int = 0, ssl_context=None) -> int:
        """Serve on 127.0.0.1:``port`` (0 = ephemeral); ``ssl_context``
        (an ``ssl.SSLContext`` with a server cert loaded) upgrades the
        listener to HTTPS — the reference's TLS gateway."""
        routes = self._routes
        metrics = self.metrics

        class Handler(BaseHTTPRequestHandler):
            daemon_threads = True

            def log_message(self, *a):  # quiet test output
                pass

            def _meter_begin(self):
                import time as _time

                self._m_t0 = _time.perf_counter()
                self._m_group = f"{self.command} unmatched"

            def _send(self, code: int, payload, ctype="application/json",
                      extra_headers=()):
                body = (
                    payload
                    if isinstance(payload, bytes)
                    else json.dumps(payload, default=str).encode()
                )
                # F9: gzip response encoding when the client accepts it
                # (the reference's http/Encoder.scala content negotiation)
                accept = self.headers.get("Accept-Encoding", "")
                gzipped = "gzip" in accept and len(body) > 0
                if gzipped:
                    import gzip

                    body = gzip.compress(body)
                # Gateway.trace completion: one mark per response, status
                # < 400 = success (the reference's rule); requests that
                # never reach a do_* meter hook (static /affinity.js,
                # /metrics itself) carry no _m_t0 and are unmetered. The
                # mark lands BEFORE the status line goes out: a client that
                # reads /metrics right after its response must see it.
                t0 = getattr(self, "_m_t0", None)
                if t0 is not None:
                    metrics.mark(self._m_group, t0, code < 400)
                    self._m_t0 = None
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                for k, v in extra_headers:
                    self.send_header(k, v)
                if gzipped:
                    self.send_header("Content-Encoding", "gzip")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _resolve(self, ops: tuple[str, ...]):
                """Shared route resolution + auth for every method: returns
                (op, route, params dict) or None after answering the
                error itself (404 unknown route/table, 401 failed guard)."""
                url = urlparse(self.path)
                parts = [p for p in url.path.split("/") if p]
                if len(parts) != 2 or parts[0] not in ops:
                    self._send(404, {"error": "unknown route"})
                    return None
                op, name = parts
                route = routes.get(name)
                if route is None:
                    self._send(404, {"error": f"unknown table {name!r}"})
                    return None
                # route resolved: meter under the route group from here on
                # (incl. its own auth 401s / key 400s)
                self._m_group = f"{self.command} /{op}/{name}"
                if route.basic_auth is not None:
                    import base64

                    user, pwd = route.basic_auth
                    expect = "Basic " + base64.b64encode(
                        f"{user}:{pwd}".encode()
                    ).decode()
                    got = self.headers.get("Authorization", "")
                    # constant-time on BYTES: an auth guard must not leak
                    # prefix length through comparison timing, and the str
                    # form raises TypeError on non-ASCII headers (latin-1
                    # decoded by http.server) — a malformed header must
                    # answer 401, not kill the handler thread (r13 review)
                    if not hmac.compare_digest(
                        got.encode("latin-1", "replace"), expect.encode()
                    ):
                        self._send(
                            401,
                            {"error": "authentication required"},
                            extra_headers=(
                                ("WWW-Authenticate", 'Basic realm="affinity"'),
                            ),
                        )
                        return None
                params = dict(parse_qsl(url.query))
                auth = params.pop("auth", None)
                if route.proof is not None and not (
                    auth and route.proof.verify(auth, url.path)
                ):
                    self._send(401, {"error": "invalid or missing proof"})
                    return None
                return op, route, params

            def _key_of(self, route, params) -> dict | None:
                """Coerce query params to the table's column types; answers
                the 400 itself and returns None on unknown/malformed."""
                bad = set(params) - route.columns
                if bad:
                    self._send(
                        400, {"error": f"unknown key columns {sorted(bad)}"}
                    )
                    return None
                try:
                    return {c: route.coerce[c](v) for c, v in params.items()}
                except ValueError as e:
                    self._send(400, {"error": str(e)})
                    return None

            # -- reads + push -------------------------------------------------

            def do_GET(self):  # noqa: N802 (stdlib API)
                # the browser client, served like the reference's
                # GET /affinity.js (WebSocketSupport) — before route
                # resolution, no auth (it is static public code)
                if urlparse(self.path).path == "/affinity.js":
                    return self._send(
                        200, _AFFINITY_JS.encode(),
                        ctype="application/javascript",
                    )
                # the metrics snapshot (AffinityMetrics reporter surface)
                if urlparse(self.path).path == "/metrics":
                    return self._send(200, metrics.snapshot())
                self._meter_begin()
                resolved = self._resolve(("kv", "scan", "subscribe"))
                if resolved is None:
                    return
                op, route, params = resolved
                frm = params.pop("from", None)
                until = params.pop("until", None)
                key = self._key_of(route, params)
                if key is None:
                    return
                if op == "subscribe":
                    return self._subscribe(route, key)
                tr = None
                if op == "scan":
                    # int() inside the 400 guard: a malformed from=abc must
                    # answer 400 like any other bad parameter, not drop the
                    # connection with an unhandled ValueError (r12 ADVICE)
                    try:
                        if frm is not None or until is not None:
                            tr = TimeRange(
                                int(frm) if frm is not None else TimeRange().start_ms,
                                int(until) if until is not None else TimeRange().end_ms,
                            )
                    except ValueError as e:
                        return self._send(400, {"error": str(e)})
                try:
                    rows = (
                        route.gateway.point_get(key)
                        if op == "kv"
                        else route.gateway.prefix_range(key, tr)
                    )
                except FileNotFoundError as e:  # no committed version yet
                    return self._send(404, {"error": str(e)})
                return self._send(200, rows)

            def _subscribe(self, route, key):
                """Push channel: WS (text/JSON or binary/Avro by negotiated
                subprotocol) or SSE — initial state, then every change;
                heartbeats bridge idle keys."""
                if route.stream is None and route.table_push is None:
                    return self._send(
                        400, {"error": "no changelog stream bound"}
                    )
                if route.stream is not None:
                    changes, ckpt_root = route.stream
                    import os
                    import uuid

                    sub = route.gateway.subscribe(
                        changes, key,
                        os.path.join(ckpt_root, uuid.uuid4().hex),
                    )
                else:
                    try:
                        sub = route.gateway.subscribe_table(
                            key, poll_s=route.table_push
                        )
                    except ValueError as e:  # df-backed route
                        return self._send(400, {"error": str(e)})
                    except FileNotFoundError as e:
                        # table with no committed version yet — mirror
                        # _write's 404 mapping instead of dropping the
                        # connection with no HTTP answer (r13 ADVICE)
                        return self._send(404, {"error": str(e)})
                ws_key = (
                    self.headers.get("Sec-WebSocket-Key")
                    if (self.headers.get("Upgrade") or "").lower() == "websocket"
                    else None
                )
                offered = {
                    p.strip()
                    for p in (
                        self.headers.get("Sec-WebSocket-Protocol") or ""
                    ).split(",")
                    if p.strip()
                }
                avro = route.avro if "avro" in offered else None
                try:
                    if ws_key:
                        self._ws_push(route, sub, avro, ws_key)
                    else:
                        self._sse_push(sub)
                except (BrokenPipeError, ConnectionResetError, OSError):
                    pass  # client went away — tear down
                finally:
                    sub.stop()

            def _ws_push(self, route, sub, avro, ws_key: str) -> None:
                # RFC 6455 handshake; echo the avro subprotocol when the
                # binary channel was negotiated (GatewayHttp avroWebSocket)
                lines = [
                    "HTTP/1.1 101 Switching Protocols",
                    "Upgrade: websocket",
                    "Connection: Upgrade",
                    f"Sec-WebSocket-Accept: {_ws_accept(ws_key)}",
                ]
                if avro is not None:
                    lines.append("Sec-WebSocket-Protocol: avro")
                self.wfile.write(("\r\n".join(lines) + "\r\n\r\n").encode())
                self.wfile.flush()
                wlock = threading.Lock()
                closed = threading.Event()

                def emit(frame: bytes) -> None:
                    with wlock:
                        self.wfile.write(frame)
                        self.wfile.flush()

                # reader thread: control frames and client→server
                # messages on BOTH channels (the reference's jsonWebSocket
                # forwards client text to the mediator, avroWebSocket
                # decodes enveloped records — "objects to AND from the
                # keyspace"); the push loop below owns the subscription
                t = threading.Thread(
                    target=(
                        self._ws_serve_client_frames
                        if avro is not None
                        else self._ws_serve_json_client_frames
                    ),
                    args=(
                        (route, avro[0], emit, closed)
                        if avro is not None
                        else (route, emit, closed)
                    ),
                    daemon=True,
                )
                t.start()
                while sub.active and not closed.is_set():
                    batch = sub.poll(timeout_s=_HEARTBEAT_S)
                    if closed.is_set():
                        break
                    if not batch:
                        emit(_ws_frame(0x9, b"hb"))  # ping, NOT teardown
                        continue
                    for event in batch:
                        if avro is not None:
                            emit(_ws_frame(0x2, _avro_envelope(avro, event)))
                        else:
                            emit(
                                _ws_text_frame(
                                    json.dumps(event, default=str).encode()
                                )
                            )

            def _ws_serve_json_client_frames(self, route, emit, closed) -> None:
                """JSON channel, client→server side (the reference's
                jsonWebSocket receive): a text frame is a JSON row written
                into the keyspace as a keyed upsert; ping → pong;
                close → close (previously client frames were never read,
                so a clean client close only surfaced as a write failure
                at the next heartbeat)."""
                try:
                    while not closed.is_set():
                        fr = _ws_read_frame(self.rfile)
                        if fr is None:
                            closed.set()
                            return
                        opcode, payload = fr
                        if opcode == 0x8:  # close
                            emit(_ws_frame(0x8, b""))
                            closed.set()
                            return
                        if opcode == 0x9:  # ping → pong
                            emit(_ws_frame(0xA, payload))
                        elif opcode == 0x1:
                            try:
                                row = json.loads(payload)
                                if not isinstance(row, dict):
                                    raise ValueError("expected a JSON object")
                                _check_columns(route, row)
                                with route.write_lock:
                                    route.gateway.upsert([row])
                            except Exception as e:  # noqa: BLE001 - wire error reply
                                emit(
                                    _ws_text_frame(
                                        json.dumps({"error": str(e)}).encode()
                                    )
                                )
                except (BrokenPipeError, ConnectionResetError, OSError):
                    closed.set()

            def _ws_serve_client_frames(self, route, registry, emit, closed) -> None:
                """Avro Web Socket Protocol, client→server side
                (GatewayHttp.scala:300-330): binary magic 123 + BE-int32 id
                → reply 123 + id + schema-json bytes; binary magic 0 is an
                ENVELOPED AVRO RECORD the client writes INTO the keyspace
                (applied as a keyed upsert, serialized with the HTTP write
                routes; decode/apply failures answer a text error frame);
                text frame → schema request by record name; ping → pong;
                close → close."""
                try:
                    while not closed.is_set():
                        fr = _ws_read_frame(self.rfile)
                        if fr is None:
                            closed.set()
                            return
                        opcode, payload = fr
                        if opcode == 0x8:  # close
                            emit(_ws_frame(0x8, b""))
                            closed.set()
                            return
                        if opcode == 0x9:  # ping → pong
                            emit(_ws_frame(0xA, payload))
                        elif opcode == 0x1:  # schema request by name
                            emit(
                                _ws_text_frame(
                                    _schema_by_name(
                                        registry, payload.decode()
                                    ).encode()
                                )
                            )
                        elif (
                            opcode == 0x2
                            and len(payload) >= 5
                            and payload[0] == _SCHEMA_MAGIC
                        ):
                            sid = int.from_bytes(payload[1:5], "big")
                            try:
                                sj = registry.schema(sid)
                            except KeyError:
                                sj = "null"
                            emit(
                                _ws_frame(
                                    0x2,
                                    bytes([_SCHEMA_MAGIC])
                                    + sid.to_bytes(4, "big")
                                    + sj.encode(),
                                )
                            )
                        elif (
                            opcode == 0x2
                            and len(payload) >= 5
                            and payload[0] == 0
                        ):
                            try:
                                row = _decode_client_record(registry, payload)
                                _check_columns(route, row)
                                with route.write_lock:
                                    route.gateway.upsert([row])
                            except Exception as e:  # noqa: BLE001 - wire error reply
                                emit(
                                    _ws_text_frame(
                                        json.dumps({"error": str(e)}).encode()
                                    )
                                )
                except (BrokenPipeError, ConnectionResetError, OSError):
                    closed.set()

            def _sse_push(self, sub) -> None:
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                while sub.active:
                    batch = sub.poll(timeout_s=_HEARTBEAT_S)
                    if not batch:
                        # SSE comment line: keeps the connection alive
                        # through idle keys (r12 ADVICE — a quiet key is
                        # not a disconnect)
                        self.wfile.write(b": hb\n\n")
                        self.wfile.flush()
                        continue
                    for event in batch:
                        data = json.dumps(event, default=str)
                        self.wfile.write(f"data: {data}\n\n".encode())
                        self.wfile.flush()

            # -- writes -------------------------------------------------------

            def do_POST(self):  # noqa: N802 (stdlib API)
                self._meter_begin()
                resolved = self._resolve(("kv",))
                if resolved is None:
                    return
                _, route, params = resolved
                op = params.pop("op", "upsert")
                if op not in ("upsert", "insert"):
                    return self._send(400, {"error": f"unknown op {op!r}"})
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    if n > _MAX_POST_BYTES:
                        return self._send(
                            413,
                            {"error": f"body exceeds {_MAX_POST_BYTES} bytes"},
                        )
                    body = json.loads(self.rfile.read(n) or b"null")
                except (ValueError, UnicodeDecodeError) as e:
                    return self._send(400, {"error": f"bad JSON body: {e}"})
                rows = body if isinstance(body, list) else [body]
                if not rows or not all(isinstance(r, dict) for r in rows):
                    return self._send(
                        400, {"error": "body must be a JSON object or array"}
                    )
                bad = {c for r in rows for c in r} - route.columns
                if bad:
                    return self._send(
                        400, {"error": f"unknown columns {sorted(bad)}"}
                    )
                return self._write(
                    route,
                    lambda: (
                        route.gateway.insert(rows)
                        if op == "insert"
                        else route.gateway.upsert(rows)
                    ),
                )

            def _write(self, route, fn):
                """Run a mutation with the reference's error mapping
                (GatewayHttp.scala handleException: IllegalState → 409
                Conflict, NoSuchElement → 404) instead of dropping the
                connection on a handler-thread exception."""
                from affinity_spark.sources.keyed_table import (
                    ConcurrentWriteError,
                )

                try:
                    with route.write_lock:
                        return self._send(200, fn())
                except ValueError as e:  # read-only (df-backed) gateway
                    return self._send(400, {"error": str(e)})
                except ConcurrentWriteError as e:  # CAS loser
                    return self._send(409, {"error": str(e)})
                except FileNotFoundError as e:  # table not built yet
                    return self._send(404, {"error": str(e)})

            def do_DELETE(self):  # noqa: N802 (stdlib API)
                self._meter_begin()
                resolved = self._resolve(("kv",))
                if resolved is None:
                    return
                _, route, params = resolved
                key = self._key_of(route, params)
                if key is None:
                    return
                return self._write(route, lambda: route.gateway.delete(key))

        self._server = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        if ssl_context is not None:
            self._server.socket = ssl_context.wrap_socket(
                self._server.socket, server_side=True
            )
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )
        self._thread.start()
        return self._server.server_address[1]

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None


def _avro_envelope(avro_binding, event: dict) -> bytes:
    """One pushed event → the reference wire format: 5-byte envelope
    (magic 0 + BE-int32 schema id) + Avro-binary record
    (``AvroSerde.scala:123-138``)."""
    from affinity_spark.functions.avro_binary import encode_datum
    from affinity_spark.functions.avro_envelope import python_wrap

    _, sid, parsed = avro_binding
    return python_wrap(sid, encode_datum(parsed, event))


def _decode_client_record(registry, payload: bytes) -> dict:
    """A client-sent enveloped record → row dict: BE-int32 schema id at
    bytes 1-5 resolves the WRITER schema in the registry, the remainder
    decodes as one Avro-binary record."""
    from affinity_spark.functions.avro_binary import decode_datum, parse_schema

    sid = int.from_bytes(payload[1:5], "big")
    schema = parse_schema(registry.schema(sid))  # KeyError = unknown id
    value, _ = decode_datum(schema, payload[5:])
    if not isinstance(value, dict):
        raise ValueError("client record must decode to an Avro record")
    return value


def _schema_by_name(registry, name: str) -> str:
    """Registry lookup by record name (the text-frame schema request);
    '{}' when unknown — mirroring the json channel's empty-value shape."""
    for sid in registry.ids():
        sj = registry.schema(sid)
        try:
            if json.loads(sj).get("name") == name:
                return sj
        except (ValueError, AttributeError):
            continue
    return "{}"
