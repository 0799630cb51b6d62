"""HTTP transport over the serving gateway (serving_http.py — closes the
reference's GatewayHttp entry point): ExampleBankSpec's reads answered
over REAL sockets, plus route rejection and the SSE per-key push
(ws-client semantics: initial state, then that key's updates)."""

from __future__ import annotations

import json
import os
import urllib.error
import urllib.request

import pytest

from affinity_spark.serving import ServingGateway
from affinity_spark.serving_http import HttpGateway
from tests.test_bank_end_to_end import BATCH_1, BATCH_2, SCHEMA


def _get(port, path):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=30) as r:
        return r.status, json.loads(r.read())


@pytest.fixture(scope="module")
def http_bank(spark):
    df = spark.createDataFrame([*BATCH_1, *BATCH_2], SCHEMA)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(df=df, ts_col="ts"), df.schema)
    port = hg.start()
    yield port, hg
    hg.stop()


def test_point_get_over_http(http_bank):
    """GatewayHttp.scala:220-330 — the account read as a GET."""
    port, _ = http_bank
    status, rows = _get(
        port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=1003"
    )
    assert status == 200 and len(rows) == 1 and rows[0]["amount"] == 99.9
    # query params are coerced to the table's own column types (account
    # is a long; the string form must still match)
    assert rows[0]["account"] == 10233321


def test_prefix_and_timebounded_scan_over_http(http_bank):
    port, _ = http_bank
    status, rows = _get(port, "/scan/bank?sortcode=11-10-30")
    assert status == 200 and len(rows) == 5
    status, rows = _get(port, "/scan/bank?sortcode=11-10-30&until=1530144000000")
    assert sorted(r["txn"] for r in rows) == [1001, 1003, 1004]
    status, rows = _get(port, "/scan/bank?sortcode=xx-xx-xx")
    assert status == 200 and rows == []


def test_route_rejections(http_bank):
    port, _ = http_bank
    for path, want in [
        ("/kv/nosuch?x=1", 404),
        ("/nosuchop/bank", 404),
        ("/kv/bank?nonsense_col=1", 400),
        ("/kv/bank?account=not_a_number", 400),
        ("/subscribe/bank?account=1", 400),  # no changelog bound
    ]:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(port, path)
        assert e.value.code == want, path


def test_sse_per_key_subscription(spark, tmp_path):
    """The ws-client key subscription over the SSE channel: initial state
    events first, then only this key's subsequent changes, pushed as
    they arrive."""
    import http.client

    src = str(tmp_path / "in")
    os.makedirs(src)

    def feed(name, rows):
        tmp = os.path.join(src, f".{name}.tmp")
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(tmp, os.path.join(src, name))

    snapshot = spark.createDataFrame(BATCH_1, SCHEMA)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(df=snapshot, ts_col="ts"), snapshot.schema)
    hg.register_stream(
        "bank",
        spark.readStream.schema(SCHEMA).json(src),
        str(tmp_path / "ckpt"),
    )
    port = hg.start()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request(
            "GET", "/subscribe/bank?sortcode=11-10-30&account=10233321"
        )
        resp = conn.getresponse()
        assert resp.status == 200
        assert resp.getheader("Content-Type") == "text/event-stream"

        def next_event():
            lines = []
            while True:
                line = resp.fp.readline().decode().rstrip("\n")
                if line.startswith(":"):
                    continue  # heartbeat comment — idle keepalive, not data
                if line == "" and lines:
                    break
                if line:
                    lines.append(line)
            assert lines[0].startswith("data: ")
            return json.loads(lines[0][len("data: "):])

        initial = sorted(next_event()["txn"] for _ in range(2))
        assert initial == [1001, 1003]
        feed("b2.json", BATCH_2)  # holds txn 1005 for our key + other keys
        assert next_event()["txn"] == 1005
    finally:
        conn.close()
        hg.stop()


def test_crypto_proof_guard(spark):
    """F8: a route registered with a TimeCryptoProof requires
    auth=<sign(path)>; proofs from the previous minute window still
    verify (the reference's ±1 tolerance), stale ones don't."""
    from affinity_spark.functions.crypto import (
        TimeCryptoProofSHA256,
        generate_salt,
    )

    salt = generate_salt()
    proof = TimeCryptoProofSHA256(salt)
    df = spark.createDataFrame(BATCH_1, SCHEMA)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(df=df, ts_col="ts"), df.schema, proof=proof)
    port = hg.start()
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=1003")
        assert e.value.code == 401
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(port, "/kv/bank?sortcode=11-10-30&auth=DEADBEEF")
        assert e.value.code == 401
        sig = proof.sign("/kv/bank")
        status, rows = _get(
            port,
            f"/kv/bank?sortcode=11-10-30&account=10233321&txn=1003&auth={sig}",
        )
        assert status == 200 and len(rows) == 1
        # adjacent-window proof verifies (±1 tolerance); NEXT window is
        # the tick-proof choice — it stays within tolerance even if a
        # minute boundary crosses between sign and verify (a previous-
        # window proof would flake exactly then). Three-windows-stale
        # fails under any tick.
        import time as _t

        status, _ = _get(
            port,
            "/kv/bank?sortcode=11-10-30&account=10233321&txn=1003"
            f"&auth={proof.sign('/kv/bank', 1)}",
        )
        assert status == 200
        stale = TimeCryptoProofSHA256(salt, clock=lambda: _t.time() - 180)
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(
                port,
                "/kv/bank?sortcode=11-10-30&auth=" + stale.sign("/kv/bank"),
            )
        assert e.value.code == 401
    finally:
        hg.stop()


def test_crypto_proof_unit():
    """The proof primitive itself: deterministic hash, window-offset
    signing, case-insensitive hex verify, ±1 acceptance at a fixed
    clock (no sleeping across minute boundaries)."""
    from affinity_spark.functions.crypto import TimeCryptoProofSHA256

    fixed = 1_700_000_123.4
    p = TimeCryptoProofSHA256(b"\x01" * 16, clock=lambda: fixed)
    assert p.hash("x") == p.hash("x") and p.hash("x") != p.hash("y")
    sig = p.sign("/route")
    assert p.verify(sig, "/route") and p.verify(sig.lower(), "/route")
    assert not p.verify(sig, "/other")
    assert p.sign("/route", -1) != sig and p.verify(p.sign("/route", -1), "/route")
    assert p.verify(p.sign("/route", 1), "/route")
    assert not p.verify(p.sign("/route", 2), "/route")
    other = TimeCryptoProofSHA256(b"\x02" * 16, clock=lambda: fixed)
    assert not other.verify(sig, "/route")  # different salt


def test_gzip_response_encoding(http_bank):
    """F9: a client sending Accept-Encoding: gzip gets a gzip body with
    Content-Encoding set; the decoded payload equals the plain one."""
    import gzip

    port, _ = http_bank
    path = "/scan/bank?sortcode=11-10-30"
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        headers={"Accept-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        assert r.headers.get("Content-Encoding") == "gzip"
        rows = json.loads(gzip.decompress(r.read()))
    _, plain = _get(port, path)
    assert rows == plain and len(rows) == 5


def test_websocket_per_key_subscription(spark, tmp_path):
    """The reference's actual push channel: a client upgrading with
    Sec-WebSocket-Key gets an RFC 6455 handshake (accept =
    b64(sha1(key+GUID))) and one unmasked text frame per event — initial
    state, then this key's changes as they arrive."""
    import base64
    import hashlib
    import socket

    src = str(tmp_path / "in")
    os.makedirs(src)

    def feed(name, rows):
        tmp = os.path.join(src, f".{name}.tmp")
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(tmp, os.path.join(src, name))

    snapshot = spark.createDataFrame(BATCH_1, SCHEMA)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(df=snapshot, ts_col="ts"), snapshot.schema)
    hg.register_stream(
        "bank",
        spark.readStream.schema(SCHEMA).json(src),
        str(tmp_path / "ckpt"),
    )
    port = hg.start()
    key = base64.b64encode(os.urandom(16)).decode()
    sock = socket.create_connection(("127.0.0.1", port), timeout=60)
    try:
        sock.sendall(
            (
                "GET /subscribe/bank?sortcode=11-10-30&account=10233321"
                " HTTP/1.1\r\n"
                "Host: 127.0.0.1\r\n"
                "Upgrade: websocket\r\n"
                "Connection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\n"
                "Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        f = sock.makefile("rb")
        status = f.readline().decode()
        assert "101" in status, status
        headers = {}
        while True:
            line = f.readline().decode().strip()
            if not line:
                break
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        want = base64.b64encode(
            hashlib.sha1(
                (key + "258EAFA5-E914-47DA-95CA-C5AB0DC85B11").encode()
            ).digest()
        ).decode()
        assert headers["sec-websocket-accept"] == want
        assert headers["upgrade"].lower() == "websocket"

        def next_frame():
            while True:
                b0, b1 = f.read(1)[0], f.read(1)[0]
                n = b1 & 0x7F
                assert not (b1 & 0x80)  # server frames are unmasked
                if n == 126:
                    n = int.from_bytes(f.read(2), "big")
                elif n == 127:
                    n = int.from_bytes(f.read(8), "big")
                payload = f.read(n)
                if b0 == 0x89:  # ping heartbeat — idle keepalive, not data
                    continue
                assert b0 == 0x81  # FIN text frame
                return json.loads(payload)

        initial = sorted(next_frame()["txn"] for _ in range(2))
        assert initial == [1001, 1003]
        feed("b2.json", BATCH_2)
        assert next_frame()["txn"] == 1005
    finally:
        sock.close()
        hg.stop()


# --- write path (POST/DELETE), auth, TLS, Avro WS, heartbeats ---------------


def _table_gateway(spark, tmp_path):
    from affinity_spark.sources.keyed_table import KeyedTable

    tbl = KeyedTable(
        spark, str(tmp_path / "bank_t"), ["sortcode", "account", "txn"], "ts"
    )
    tbl.overwrite(spark.createDataFrame(BATCH_1, SCHEMA))
    return tbl


def _post(port, path, body, headers=None, method="POST", scheme="http", ctx=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        f"{scheme}://127.0.0.1:{port}{path}",
        data=data,
        method=method,
        headers=headers or {},
    )
    with urllib.request.urlopen(req, timeout=30, context=ctx) as r:
        return r.status, json.loads(r.read())


def test_http_write_path_upsert_insert_delete(spark, tmp_path):
    """The reference's POST mutations (GraphHttp.scala:91-102 POST
    /connect /disconnect, PrivateApi.scala:62 POST /settings/add) over
    the generic keyed surface: POST upserts then GET reads the new
    state; replay is idempotent; insert-only skips existing keys;
    DELETE drops the key; the 400/404 matrix answers like GETs."""
    tbl = _table_gateway(spark, tmp_path)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl), tbl.read().schema)
    port = hg.start()
    try:
        row = {"sortcode": "11-10-30", "account": 10233321, "txn": 9001,
               "amount": 12.5, "ts": 1530300000000}
        status, res = _post(port, "/kv/bank", row)
        assert status == 200 and res == {"upserted": 1}
        _, got = _get(port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=9001")
        assert len(got) == 1 and got[0]["amount"] == 12.5
        # replay-idempotent: same POST, same committed state
        _post(port, "/kv/bank", row)
        _, got = _get(port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=9001")
        assert len(got) == 1
        # W2-style update with prior value visible: amount moves
        _post(port, "/kv/bank", {**row, "amount": 20.0, "ts": 1530300000001})
        _, got = _get(port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=9001")
        assert got[0]["amount"] == 20.0
        # W3 insert-only: existing key is skipped, fresh key lands
        status, res = _post(
            port, "/kv/bank?op=insert",
            [{**row, "amount": 777.0, "ts": 1530300000002},
             {**row, "txn": 9002, "amount": 1.0}],
        )
        assert status == 200 and res == {"inserted": 1, "skipped": 1}
        _, got = _get(port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=9001")
        assert got[0]["amount"] == 20.0  # not blindly replaced
        _, got = _get(port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=9002")
        assert len(got) == 1
        # W4 delete (the /disconnect shape), idempotent on replay
        status, res = _post(
            port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=9002",
            None, method="DELETE",
        )
        assert status == 200 and res == {"deleted": 1}
        status, res = _post(
            port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=9002",
            None, method="DELETE",
        )
        assert res == {"deleted": 0}
        status, got = _get(
            port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=9002"
        )
        assert status == 200 and got == []  # the key is gone
    finally:
        hg.stop()


def test_http_write_path_rejections(spark, tmp_path):
    """400/404 matrix on the write routes: unknown table, unknown op,
    malformed body, unknown columns, write to a read-only (df-backed)
    route."""
    tbl = _table_gateway(spark, tmp_path)
    ro = spark.createDataFrame(BATCH_1, SCHEMA)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl), tbl.read().schema)
    hg.register("ro", ServingGateway(df=ro, ts_col="ts"), ro.schema)
    port = hg.start()
    try:
        cases = [
            ("/kv/nosuch", {"a": 1}, "POST", 404),
            ("/kv/bank?op=replace_all", {"a": 1}, "POST", 400),
            ("/kv/bank", [1, 2, 3], "POST", 400),
            ("/kv/bank", {"nonsense_col": 1}, "POST", 400),
            ("/kv/ro", {"sortcode": "x", "account": 1, "txn": 1,
                        "amount": 0.0, "ts": 0}, "POST", 400),
            ("/kv/ro?sortcode=x", None, "DELETE", 400),
            ("/kv/bank?nonsense=x", None, "DELETE", 400),
            ("/scan/bank?sortcode=11-10-30&from=abc", None, "GET", 400),
        ]
        for path, body, method, want in cases:
            with pytest.raises(urllib.error.HTTPError) as e:
                if method == "GET":
                    _get(port, path)
                else:
                    _post(port, path, body, method=method)
            assert e.value.code == want, path
        # malformed raw body
        import http.client

        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn.request("POST", "/kv/bank", body=b"{not json",
                     headers={"Content-Length": "9"})
        assert conn.getresponse().status == 400
        conn.close()
    finally:
        hg.stop()


def test_basic_auth_guard(spark, tmp_path):
    """PrivateApi.scala:50-62 AUTH_ADMIN: a route registered with
    basic_auth answers 401 (with WWW-Authenticate) without/with wrong
    credentials on EVERY method, and serves with the right ones."""
    import base64

    tbl = _table_gateway(spark, tmp_path)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl), tbl.read().schema,
                basic_auth=("admin", "s3cret"))
    port = hg.start()
    ok = {"Authorization": "Basic "
          + base64.b64encode(b"admin:s3cret").decode()}
    bad = {"Authorization": "Basic "
           + base64.b64encode(b"admin:wrong").decode()}
    try:
        for hdrs, want in [(None, 401), (bad, 401)]:
            with pytest.raises(urllib.error.HTTPError) as e:
                _post(port, "/kv/bank?sortcode=11-10-30", None,
                      headers=hdrs or {}, method="DELETE")
            assert e.value.code == want
            assert "Basic" in (e.value.headers.get("WWW-Authenticate") or "")
        with pytest.raises(urllib.error.HTTPError) as e:
            _get(port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=1003")
        assert e.value.code == 401
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/kv/bank?sortcode=11-10-30"
            "&account=10233321&txn=1003", headers=ok)
        with urllib.request.urlopen(req, timeout=30) as r:
            assert r.status == 200 and len(json.loads(r.read())) == 1
        status, res = _post(
            port, "/kv/bank",
            {"sortcode": "99-99-99", "account": 1, "txn": 1,
             "amount": 5.0, "ts": 10}, headers=ok)
        assert status == 200 and res == {"upserted": 1}
    finally:
        hg.stop()


def test_tls_gateway_round_trip(spark, tmp_path):
    """ExampleHttpsGateway.scala / TlsGatewaySystemTest.scala: the
    gateway serves HTTPS from an ssl_context; a client pinning the
    self-signed cert completes the round trip, and the auth matrix
    still answers 401 over TLS."""
    import ssl
    import subprocess

    cert = tmp_path / "cert.pem"
    key = tmp_path / "key.pem"
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
         "-keyout", str(key), "-out", str(cert), "-days", "1",
         "-subj", "/CN=127.0.0.1",
         "-addext", "subjectAltName=IP:127.0.0.1"],
        check=True, capture_output=True,
    )
    srv_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
    srv_ctx.load_cert_chain(str(cert), str(key))
    tbl = _table_gateway(spark, tmp_path)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl), tbl.read().schema,
                basic_auth=("admin", "pw"))
    port = hg.start(ssl_context=srv_ctx)
    cli_ctx = ssl.create_default_context(cafile=str(cert))
    try:
        import base64

        ok = {"Authorization": "Basic "
              + base64.b64encode(b"admin:pw").decode()}
        status, rows = _post(
            port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=1003",
            None, headers=ok, method="GET", scheme="https", ctx=cli_ctx)
        assert status == 200 and rows[0]["amount"] == 99.9
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(port, "/kv/bank?sortcode=11-10-30", None,
                  method="GET", scheme="https", ctx=cli_ctx)
        assert e.value.code == 401
    finally:
        hg.stop()


def test_avro_websocket_channel(spark, tmp_path, monkeypatch):
    """The reference's BINARY push channel (WebSocketSupportSpec.scala:79
    "AvroWebSocket channel", GatewayHttp.scala:300-330 protocol): a
    client negotiating Sec-WebSocket-Protocol: avro requests the writer
    schema in-band (magic 123 + BE-int32 id → 123 + id + schema json),
    then decodes pushed BINARY frames — 5-byte envelope + Avro-binary
    record — via the registry; a text frame asks for a schema by record
    name; heartbeat pings bridge idle keys without teardown."""
    import base64
    import socket
    import struct

    from affinity_spark.functions.avro_binary import decode_datum, parse_schema
    from affinity_spark.functions.avro_envelope import SchemaRegistry

    import affinity_spark.serving_http as sh

    monkeypatch.setattr(sh, "_HEARTBEAT_S", 0.5)  # observable idle pings

    src = str(tmp_path / "in")
    os.makedirs(src)

    def feed(name, rows):
        tmp = os.path.join(src, f".{name}.tmp")
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.rename(tmp, os.path.join(src, name))

    avro_schema = json.dumps({
        "type": "record", "name": "Transaction", "fields": [
            {"name": "sortcode", "type": "string"},
            {"name": "account", "type": "int"},
            {"name": "txn", "type": "long"},
            {"name": "amount", "type": "double"},
            {"name": "ts", "type": "long"},
        ],
    })
    registry = SchemaRegistry()
    snapshot = spark.createDataFrame(BATCH_1, SCHEMA)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(df=snapshot, ts_col="ts"), snapshot.schema)
    hg.register_stream(
        "bank", spark.readStream.schema(SCHEMA).json(src), str(tmp_path / "ckpt")
    )
    sid = hg.register_avro("bank", registry, avro_schema)
    port = hg.start()

    key = base64.b64encode(os.urandom(16)).decode()
    sock = socket.create_connection(("127.0.0.1", port), timeout=60)
    parsed = parse_schema(avro_schema)
    try:
        sock.sendall((
            "GET /subscribe/bank?sortcode=11-10-30&account=10233321 HTTP/1.1\r\n"
            "Host: 127.0.0.1\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Protocol: avro\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n").encode())
        f = sock.makefile("rb")
        assert "101" in f.readline().decode()
        headers = {}
        while True:
            line = f.readline().decode().strip()
            if not line:
                break
            k, _, v = line.partition(":")
            headers[k.strip().lower()] = v.strip()
        assert headers["sec-websocket-protocol"] == "avro"

        def send_frame(opcode, payload):
            mask = os.urandom(4)  # client frames MUST be masked (RFC 6455)
            masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
            assert len(payload) < 126
            sock.sendall(bytes([0x80 | opcode, 0x80 | len(payload)]) + mask + masked)

        def read_frame():
            b0, b1 = f.read(1)[0], f.read(1)[0]
            n = b1 & 0x7F
            if n == 126:
                n = int.from_bytes(f.read(2), "big")
            return b0 & 0x0F, f.read(n)

        def decode_push(payload):
            assert payload[0] == 0 and struct.unpack(">i", payload[1:5])[0] == sid
            return decode_datum(parsed, payload[5:])[0]

        pushes = []  # event frames interleave with protocol replies

        def read_until(pred):
            """Next frame satisfying pred; data pushes are stashed into
            ``pushes`` on the way, heartbeat pings are skipped (they are
            keepalives, never teardowns)."""
            while True:
                op, payload = read_frame()
                if op == 0x2 and payload[:1] == b"\x00":
                    pushes.append(decode_push(payload))
                if pred(op, payload):
                    return op, payload

        # 1. in-band schema request by id (magic 123 + BE int32) — the
        # reply mirrors the request shape: 123 + id + schema json
        send_frame(0x2, bytes([123]) + struct.pack(">i", sid))
        _, payload = read_until(lambda o, p: o == 0x2 and p[:1] == bytes([123]))
        assert struct.unpack(">i", payload[1:5])[0] == sid
        assert json.loads(payload[5:]) == json.loads(registry.schema(sid))

        # 2. schema request by record NAME (text frame) → text reply
        send_frame(0x1, b"Transaction")
        _, payload = read_until(lambda o, p: o == 0x1)
        assert json.loads(payload) == json.loads(avro_schema)
        send_frame(0x1, b"NoSuchRecord")
        _, payload = read_until(lambda o, p: o == 0x1)
        assert json.loads(payload) == {}  # unknown name → empty shape

        # 3. pushed events are enveloped binary records: initial state
        # (2 rows for this key), then the key's update from the feed
        while len(pushes) < 2:
            read_until(lambda o, p: o == 0x2 and p[:1] == b"\x00")
        assert sorted(p["txn"] for p in pushes[:2]) == [1001, 1003]
        assert pushes[0]["sortcode"] == "11-10-30"
        feed("b2.json", BATCH_2)
        while len(pushes) < 3:
            read_until(lambda o, p: o == 0x2 and p[:1] == b"\x00")
        assert pushes[2]["txn"] == 1005
        assert pushes[2]["amount"] == pytest.approx(99.9)

        # 4. clean close: client close frame → server close echo
        send_frame(0x8, b"")
        read_until(lambda o, p: o == 0x8)
    finally:
        sock.close()
        hg.stop()


def test_subscribe_idle_key_heartbeats_not_disconnect(spark, tmp_path, monkeypatch):
    """r12 ADVICE: a subscriber on a key with NO updates must be kept
    alive with heartbeats (SSE comments), not silently disconnected at
    the poll timeout — then still receive a late event."""
    import http.client

    import affinity_spark.serving_http as sh

    monkeypatch.setattr(sh, "_HEARTBEAT_S", 0.5)
    src = str(tmp_path / "in")
    os.makedirs(src)
    snapshot = spark.createDataFrame(BATCH_1, SCHEMA)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(df=snapshot, ts_col="ts"), snapshot.schema)
    hg.register_stream(
        "bank", spark.readStream.schema(SCHEMA).json(src), str(tmp_path / "ckpt")
    )
    port = hg.start()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        # a key with NO rows at all: initial state is empty, nothing flows
        conn.request("GET", "/subscribe/bank?sortcode=zz-99-99")
        resp = conn.getresponse()
        assert resp.status == 200
        heartbeats = 0
        while heartbeats < 3:  # > one poll window each — stream survives
            line = resp.fp.readline().decode()
            if line.startswith(":"):
                heartbeats += 1
        # the connection is still serving: a late row for the key arrives
        rows = [{"sortcode": "zz-99-99", "account": 1, "txn": 7, "amount": 1.0,
                 "ts": 1530300000000}]
        tmp = os.path.join(src, ".late.tmp")
        with open(tmp, "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        os.rename(tmp, os.path.join(src, "late.json"))
        while True:
            line = resp.fp.readline().decode()
            if line.startswith("data: "):
                assert json.loads(line[len("data: "):])["txn"] == 7
                break
    finally:
        conn.close()
        hg.stop()


def test_affinity_js_client_served(http_bank):
    """GET /affinity.js serves the browser client (the reference's
    WebSocketSupport static route), gzip on Accept-Encoding, no auth."""
    import gzip

    port, _ = http_bank
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}/affinity.js", timeout=30
    ) as r:
        assert r.status == 200
        assert "javascript" in r.headers.get("Content-Type", "")
        body = r.read().decode()
    assert "Affinity.prototype.subscribe" in body
    assert "/kv/" in body and "EventSource" in body
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/affinity.js",
        headers={"Accept-Encoding": "gzip"},
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        assert r.headers.get("Content-Encoding") == "gzip"
        assert gzip.decompress(r.read()).decode() == body


def test_write_error_mapping_and_concurrent_posts(spark, tmp_path):
    """The reference's handleException mapping on the write path
    (GatewayHttp.scala: IllegalState → 409 Conflict): mutations on an
    unbuilt table answer 404, and CONCURRENT POSTs serialize through the
    per-route write lock — all succeed, final state is the merge of all
    of them (no dropped connections, no lost updates)."""
    import threading as _t

    from affinity_spark.sources.keyed_table import KeyedTable

    tbl = KeyedTable(
        spark, str(tmp_path / "t"), ["sortcode", "account", "txn"], "ts"
    )
    hg = HttpGateway()
    # schema= declares the row shape so the FIRST write can define the
    # physical table (there is no snapshot to coerce against yet)
    hg.register("bank", ServingGateway(table=tbl, schema=SCHEMA), SCHEMA)
    port = hg.start()
    try:
        # unbuilt table: DELETE answers 404, not a dropped connection
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(port, "/kv/bank?sortcode=x", None, method="DELETE")
        assert e.value.code == 404
        # concurrent POSTs: all 200, union lands
        results, errs = [], []

        def post(i):
            try:
                results.append(_post(port, "/kv/bank", {
                    "sortcode": "11-10-30", "account": 1, "txn": 100 + i,
                    "amount": float(i), "ts": 1_530_000_000_000 + i,
                })[0])
            except Exception as ex:  # noqa: BLE001 - recorded for assert
                errs.append(ex)

        threads = [_t.Thread(target=post, args=(i,)) for i in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs and results == [200, 200, 200, 200]
        _, rows = _get(port, "/scan/bank?sortcode=11-10-30&account=1")
        assert sorted(r["txn"] for r in rows) == [100, 101, 102, 103]
    finally:
        hg.stop()


def test_reads_of_unbuilt_table_answer_404(spark, tmp_path):
    """GET /kv and /scan on a table-backed route with no committed version
    answer 404 (the write path's mapping), metered as failures, instead
    of dropping the connection."""
    from affinity_spark.sources.keyed_table import KeyedTable

    tbl = KeyedTable(
        spark, str(tmp_path / "t"), ["sortcode", "account", "txn"], "ts"
    )
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl, schema=SCHEMA), SCHEMA)
    port = hg.start()
    try:
        for path in ("/kv/bank?sortcode=x&account=1&txn=1",
                     "/scan/bank?sortcode=x&from=0&until=5"):
            with pytest.raises(urllib.error.HTTPError) as e:
                _get(port, path)
            assert e.value.code == 404, path
        _, snap = _get(port, "/metrics")
        assert snap["GET /kv/bank"]["failure"] == 1
        assert snap["GET /scan/bank"]["failure"] == 1
    finally:
        hg.stop()


def test_avro_websocket_client_writes_keyspace(spark, tmp_path):
    """The other half of WebSocketSupportSpec's 'forward ... objects to
    and from the keyspace': a client-sent BINARY enveloped record on the
    avro channel applies as a keyed upsert (table-backed route); a write
    to a read-only (df-backed) route answers a text error frame instead
    of dropping the connection."""
    import base64
    import socket
    import struct

    from affinity_spark.functions.avro_binary import encode_datum, parse_schema
    from affinity_spark.functions.avro_envelope import SchemaRegistry, python_wrap
    from affinity_spark.sources.keyed_table import KeyedTable

    avro_schema = json.dumps({
        "type": "record", "name": "Transaction", "fields": [
            {"name": "sortcode", "type": "string"},
            {"name": "account", "type": "int"},
            {"name": "txn", "type": "long"},
            {"name": "amount", "type": "double"},
            {"name": "ts", "type": "long"},
        ],
    })
    parsed = parse_schema(avro_schema)
    registry = SchemaRegistry()
    src = str(tmp_path / "in")
    os.makedirs(src)
    tbl = KeyedTable(
        spark, str(tmp_path / "t"), ["sortcode", "account", "txn"], "ts"
    )
    tbl.overwrite(spark.createDataFrame(BATCH_1, SCHEMA))
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl), tbl.read().schema)
    hg.register_stream(
        "bank", spark.readStream.schema(SCHEMA).json(src), str(tmp_path / "ckpt")
    )
    sid = hg.register_avro("bank", registry, avro_schema)
    port = hg.start()
    key = base64.b64encode(os.urandom(16)).decode()
    sock = socket.create_connection(("127.0.0.1", port), timeout=60)
    try:
        sock.sendall((
            "GET /subscribe/bank?sortcode=77-77-77 HTTP/1.1\r\n"
            "Host: 127.0.0.1\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Protocol: avro\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n").encode())
        f = sock.makefile("rb")
        assert "101" in f.readline().decode()
        while f.readline().decode().strip():
            pass  # drain handshake headers

        def send_frame(opcode, payload):
            mask = os.urandom(4)
            masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
            head = bytes([0x80 | opcode])
            if len(payload) < 126:
                head += bytes([0x80 | len(payload)])
            else:
                head += bytes([0x80 | 126]) + len(payload).to_bytes(2, "big")
            sock.sendall(head + mask + masked)

        row = {"sortcode": "77-77-77", "account": 9, "txn": 901,
               "amount": 5.5, "ts": 1_530_400_000_000}
        send_frame(0x2, python_wrap(sid, encode_datum(parsed, row)))
        # the write lands in the committed table (poll — the reader
        # thread applies it asynchronously)
        import time as _t

        deadline = _t.monotonic() + 60
        rows = []
        while _t.monotonic() < deadline:
            _, rows = _get(port, "/kv/bank?sortcode=77-77-77&account=9&txn=901")
            if rows:
                break
            _t.sleep(0.5)
        assert len(rows) == 1 and rows[0]["amount"] == 5.5
        # malformed record id -> text error frame, connection stays up
        send_frame(0x2, b"\x00\xff\xff\xff\xff" + b"junk")
        while True:
            b0, b1 = f.read(1)[0], f.read(1)[0]
            n = b1 & 0x7F
            if n == 126:
                n = int.from_bytes(f.read(2), "big")
            payload = f.read(n)
            if (b0 & 0x0F) == 0x1:
                assert "error" in json.loads(payload)
                break
    finally:
        sock.close()
        hg.stop()


def test_json_websocket_client_writes_and_close(spark, tmp_path):
    """The reference's jsonWebSocket receive(): a client TEXT frame is a
    JSON row written into the keyspace; a client close frame gets the
    server's close echo (previously client frames were never read)."""
    import base64
    import socket

    from affinity_spark.sources.keyed_table import KeyedTable

    src = str(tmp_path / "in")
    os.makedirs(src)
    tbl = KeyedTable(
        spark, str(tmp_path / "t"), ["sortcode", "account", "txn"], "ts"
    )
    tbl.overwrite(spark.createDataFrame(BATCH_1, SCHEMA))
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl), tbl.read().schema)
    hg.register_stream(
        "bank", spark.readStream.schema(SCHEMA).json(src), str(tmp_path / "ckpt")
    )
    port = hg.start()
    key = base64.b64encode(os.urandom(16)).decode()
    sock = socket.create_connection(("127.0.0.1", port), timeout=60)
    try:
        sock.sendall((
            "GET /subscribe/bank?sortcode=88-88-88 HTTP/1.1\r\n"
            "Host: 127.0.0.1\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n").encode())
        f = sock.makefile("rb")
        assert "101" in f.readline().decode()
        while f.readline().decode().strip():
            pass

        def send_frame(opcode, payload):
            mask = os.urandom(4)
            masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
            sock.sendall(bytes([0x80 | opcode, 0x80 | len(payload)]) + mask + masked)

        row = {"sortcode": "88-88-88", "account": 8, "txn": 801,
               "amount": 3.25, "ts": 1_530_500_000_000}
        send_frame(0x1, json.dumps(row).encode())
        import time as _t

        deadline = _t.monotonic() + 60
        rows = []
        while _t.monotonic() < deadline:
            _, rows = _get(port, "/kv/bank?sortcode=88-88-88&account=8&txn=801")
            if rows:
                break
            _t.sleep(0.5)
        assert len(rows) == 1 and rows[0]["amount"] == 3.25
        # malformed text frame -> error frame, connection stays up
        send_frame(0x1, b"[1,2,3]")
        while True:
            b0, b1 = f.read(1)[0], f.read(1)[0]
            n = b1 & 0x7F
            if n == 126:
                n = int.from_bytes(f.read(2), "big")
            payload = f.read(n)
            if (b0 & 0x0F) == 0x1 and b"error" in payload:
                break
        # clean close: client close frame -> server close echo
        send_frame(0x8, b"")
        while True:
            b0, b1 = f.read(1)[0], f.read(1)[0]
            n = b1 & 0x7F
            if n == 126:
                n = int.from_bytes(f.read(2), "big")
            f.read(n)
            if (b0 & 0x0F) == 0x8:
                break
    finally:
        sock.close()
        hg.stop()


def test_post_rejects_bad_key_values(spark, tmp_path):
    """A POST row with a missing, null, or wrong-typed KEY value answers
    400 — from_json would otherwise null the mismatch and commit a
    silent NULL-keyed row."""
    tbl = _table_gateway(spark, tmp_path)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl), tbl.read().schema)
    port = hg.start()
    base = {"sortcode": "11-10-30", "account": 1, "txn": 1,
            "amount": 1.0, "ts": 10}
    try:
        for row in (
            {**base, "account": "not_a_number"},   # wrong type
            {**base, "txn": None},                 # null key
            {k: v for k, v in base.items() if k != "sortcode"},  # missing
            {**base, "account": True},             # bool is not a long
        ):
            with pytest.raises(urllib.error.HTTPError) as e:
                _post(port, "/kv/bank", row)
            assert e.value.code == 400, row
        # a NULL VALUE column is fine (only keys are guarded)
        status, res = _post(port, "/kv/bank", {**base, "amount": None})
        assert status == 200 and res == {"upserted": 1}
    finally:
        hg.stop()


def test_write_hardening_matrix(spark, tmp_path):
    """r13 review fixes: oversized POST answers 413; non-ASCII auth
    answers 401 (never a dropped connection); insert-only works on a
    not-yet-built table with a declared schema; WS writes reject unknown
    columns with an error frame."""
    import base64
    import http.client
    import socket

    from affinity_spark.functions.crypto import TimeCryptoProofSHA256
    from affinity_spark.sources.keyed_table import KeyedTable

    tbl = KeyedTable(
        spark, str(tmp_path / "t"), ["sortcode", "account", "txn"], "ts"
    )
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl, schema=SCHEMA), SCHEMA,
                basic_auth=("admin", "pw"))
    port = hg.start()
    ok = {"Authorization": "Basic " + base64.b64encode(b"admin:pw").decode()}
    try:
        # non-ASCII Authorization header -> clean 401, not a reset
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn.request("GET", "/kv/bank?sortcode=x",
                     headers={"Authorization": "Basic \xa7garbage"})
        assert conn.getresponse().status == 401
        conn.close()
        # oversized Content-Length -> 413 before any read
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
        conn.putrequest("POST", "/kv/bank")
        conn.putheader("Authorization", ok["Authorization"])
        conn.putheader("Content-Length", str(64 << 20))
        conn.endheaders()
        assert conn.getresponse().status == 413
        conn.close()
        # insert-only on the UNBUILT table: every row is fresh
        row = {"sortcode": "11-10-30", "account": 1, "txn": 1,
               "amount": 1.0, "ts": 10}
        status, res = _post(port, "/kv/bank?op=insert", [row], headers=ok)
        assert status == 200 and res == {"inserted": 1, "skipped": 0}
        _, got = _get_auth(port, "/kv/bank?sortcode=11-10-30&account=1&txn=1", ok)
        assert len(got) == 1
    finally:
        hg.stop()
    # non-ASCII crypto proof -> False, not TypeError
    p = TimeCryptoProofSHA256(b"\x01" * 16)
    assert p.verify("über", "/route") is False


def _get_auth(port, path, headers):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", headers=headers)
    with urllib.request.urlopen(req, timeout=30) as r:
        return r.status, json.loads(r.read())


def test_ws_write_rejects_unknown_columns(spark, tmp_path):
    """A WS text-frame write with a typo'd column answers an error frame
    — from_json would silently drop the field and clobber the committed
    value with NULL via last-write-wins (r13 review)."""
    import base64
    import socket

    from affinity_spark.sources.keyed_table import KeyedTable

    src = str(tmp_path / "in")
    os.makedirs(src)
    tbl = KeyedTable(
        spark, str(tmp_path / "t"), ["sortcode", "account", "txn"], "ts"
    )
    tbl.overwrite(spark.createDataFrame(BATCH_1, SCHEMA))
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl), tbl.read().schema)
    hg.register_stream(
        "bank", spark.readStream.schema(SCHEMA).json(src), str(tmp_path / "ckpt")
    )
    port = hg.start()
    key = base64.b64encode(os.urandom(16)).decode()
    sock = socket.create_connection(("127.0.0.1", port), timeout=60)
    try:
        sock.sendall((
            "GET /subscribe/bank?sortcode=99-00-00 HTTP/1.1\r\n"
            "Host: 127.0.0.1\r\nUpgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\n"
            "Sec-WebSocket-Version: 13\r\n\r\n").encode())
        f = sock.makefile("rb")
        assert "101" in f.readline().decode()
        while f.readline().decode().strip():
            pass
        bad = {"sortcode": "99-00-00", "account": 1, "txn": 1,
               "amounnt": 500.0, "ts": 10}  # typo'd column
        mask = os.urandom(4)
        payload = json.dumps(bad).encode()
        masked = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
        sock.sendall(bytes([0x81, 0x80 | len(payload)]) + mask + masked)
        while True:
            b0, b1 = f.read(1)[0], f.read(1)[0]
            n = b1 & 0x7F
            if n == 126:
                n = int.from_bytes(f.read(2), "big")
            p = f.read(n)
            if (b0 & 0x0F) == 0x1:
                assert "unknown columns" in json.loads(p)["error"]
                break
        # nothing was written
        _, got = _get(port, "/kv/bank?sortcode=99-00-00")
        assert got == []
    finally:
        sock.close()
        hg.stop()


def test_table_fed_subscription_write_to_push_loop(spark, tmp_path):
    """The reference's write→mediator→push loop closed over the table's
    OWN commits (register_table_stream — no external changelog): an SSE
    subscriber sees initial state, then a POST upsert's new row, an
    update, and a DELETE as a delete event; an unrelated key's write
    pushes nothing."""
    import http.client

    from affinity_spark.sources.keyed_table import KeyedTable

    tbl = KeyedTable(
        spark, str(tmp_path / "t"), ["sortcode", "account", "txn"], "ts",
        retain_versions=4,
    )
    tbl.overwrite(spark.createDataFrame(BATCH_1, SCHEMA))
    hg = HttpGateway()
    hg.register("bank", ServingGateway(table=tbl), tbl.read().schema)
    hg.register_table_stream("bank", poll_s=0.2)
    port = hg.start()
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request("GET", "/subscribe/bank?sortcode=11-10-30&account=10233321")
        resp = conn.getresponse()
        assert resp.status == 200

        def next_event():
            while True:
                line = resp.fp.readline().decode().rstrip("\n")
                if line.startswith("data: "):
                    return json.loads(line[len("data: "):])

        initial = sorted(next_event()["txn"] for _ in range(2))
        assert initial == [1001, 1003]
        # a write to an UNRELATED key, then ours: only ours arrives
        _post(port, "/kv/bank", {"sortcode": "zz-zz-zz", "account": 1,
                                 "txn": 1, "amount": 0.0, "ts": 5})
        row = {"sortcode": "11-10-30", "account": 10233321, "txn": 7001,
               "amount": 42.0, "ts": 1_530_600_000_000}
        _post(port, "/kv/bank", row)
        ev = next_event()
        assert ev["txn"] == 7001 and ev["_change"] == "insert"
        assert ev["amount"] == 42.0
        _post(port, "/kv/bank", {**row, "amount": 43.0, "ts": 1_530_600_000_001})
        ev = next_event()
        assert ev["txn"] == 7001 and ev["_change"] == "update"
        assert ev["amount"] == 43.0
        _post(port, "/kv/bank?sortcode=11-10-30&account=10233321&txn=7001",
              None, method="DELETE")
        ev = next_event()
        assert ev["txn"] == 7001 and ev["_change"] == "delete"
        assert "amount" not in ev
    finally:
        conn.close()
        hg.stop()


def test_metrics_registry_unit():
    """AffinityMetrics semantics: get-or-create identity per group name,
    success/failure meters, sliding-window timer stats."""
    from affinity_spark.metrics import MetricsRegistry

    reg = MetricsRegistry(window=4)
    pm = reg.meter_and_histogram("g")
    assert reg.meter_and_histogram("g") is pm
    for _ in range(6):  # overflow the window: counters keep lifetime totals
        pm.mark_success(pm.mark_start())
    pm.mark_failure(pm.mark_start())
    snap = reg.snapshot()["g"]
    assert snap["success"] == 6 and snap["failure"] == 1 and snap["count"] == 7
    d = snap["duration_ms"]
    assert d["window"] == 4  # ring bounded
    assert 0 <= d["p50"] <= d["p95"] <= d["max"]


def test_gateway_request_metrics_over_http(spark):
    """Gateway.trace wired end to end: every request/response route marks
    its group's timer, status < 400 = success (the reference's rule);
    unresolved routes meter as unmatched; /metrics serves the snapshot
    and is itself unmetered."""
    from affinity_spark.serving import ServingGateway
    from affinity_spark.serving_http import HttpGateway
    from tests.test_bank_end_to_end import BATCH_1, SCHEMA

    df = spark.createDataFrame([*BATCH_1], SCHEMA)
    hg = HttpGateway()
    hg.register("bank", ServingGateway(df=df, ts_col="ts"), df.schema)
    port = hg.start()
    try:
        _get(port, "/scan/bank?sortcode=11-10-30")
        _get(port, "/scan/bank?sortcode=11-10-30")
        with pytest.raises(urllib.error.HTTPError):
            _get(port, "/kv/bank?nonsense_col=1")  # 400 → failure on route
        with pytest.raises(urllib.error.HTTPError):
            _get(port, "/kv/nosuch?x=1")  # 404 before resolution → unmatched
        status, snap = _get(port, "/metrics")
        assert status == 200
        scan = snap["GET /scan/bank"]
        assert scan["success"] == 2 and scan["failure"] == 0
        assert scan["duration_ms"]["p50"] >= 0 and scan["duration_ms"]["window"] == 2
        assert snap["GET /kv/bank"]["failure"] == 1
        assert snap["GET unmatched"]["failure"] == 1
        assert "GET /metrics" not in snap
        # the snapshot is also live in-process (reporter surface)
        assert hg.metrics.snapshot()["GET /scan/bank"]["success"] == 2
    finally:
        hg.stop()
