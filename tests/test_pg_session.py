"""PG session-establishment layer: SCRAM vectors, startup/auth dance,
simple-query decode, bounded live drains, and the persistent
replication connection — the r7 verdict item 1 battery (the 414-line
layer shipped untested, and the unbounded live_drain crash-looped on a
caught-up slot every heartbeat).

Transport is a scripted fake duplex throughout (the injectable seam
``dial`` exposes); the SCRAM crypto is pinned by the PUBLISHED RFC 7677
§3 exchange (user/pencil), not by our own output.
"""

from __future__ import annotations

import base64
import hashlib
import hmac
import json
import os
import struct

import pytest

from transferia_spark.streaming.pg_replication import (
    AUTH_CLEARTEXT,
    AUTH_MD5,
    AUTH_OK,
    AUTH_SASL,
    AUTH_SASL_CONTINUE,
    AUTH_SASL_FINAL,
    LiveReplicationConnection,
    PgServerError,
    PgWireSession,
    ReplicationTailer,
    ScramClient,
    encode_copydata_message,
    encode_keepalive,
    encode_simple_query,
    encode_startup_message,
    encode_xlog_data,
    md5_password,
    message_stream,
    parse_lsn,
)

# ------------------------------------------------------- fake transport


class FakeDuplex:
    """Scripted server bytes in, captured client bytes out.

    ``when_empty`` controls the exhausted-read behavior:
    - "eof": return b"" (server closed the connection)
    - "block": raise RuntimeError — a LIVE socket would block forever;
      reaching this in a test means the bounded-drain exit did NOT fire
    - "timeout": raise TimeoutError (socket timeout on an idle server)
    """

    def __init__(self, script: bytes = b"", when_empty: str = "eof"):
        self.incoming = bytearray(script)
        self.sent = bytearray()
        self.when_empty = when_empty
        self.closed = False

    def read(self, n: int) -> bytes:
        if not self.incoming:
            if self.when_empty == "block":
                raise RuntimeError(
                    "read past the scripted data — a live socket would "
                    "block forever here"
                )
            if self.when_empty == "timeout":
                raise TimeoutError("fake socket timeout")
            return b""
        out = bytes(self.incoming[:n])
        del self.incoming[:n]
        return out

    def write(self, b: bytes) -> None:
        self.sent += b

    def poll(self, t: float) -> bool:
        # select() reports a CLOSED socket as readable (the read then
        # returns b"" — that's how EOF is observed); mirror that
        return bool(self.incoming) or self.when_empty == "eof"

    def feed(self, b: bytes) -> None:
        self.incoming += b

    def close(self) -> None:
        self.closed = True


def be(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack(">I", len(body) + 4) + body


def auth(code: int, extra: bytes = b"") -> bytes:
    return be(b"R", struct.pack(">I", code) + extra)


def ready() -> bytes:
    return be(b"Z", b"I")


def param_status(k: bytes, v: bytes) -> bytes:
    return be(b"S", k + b"\x00" + v + b"\x00")


def backend_key(pid: int = 4242, key: int = 7) -> bytes:
    return be(b"K", struct.pack(">II", pid, key))


def row_desc(names: list[bytes]) -> bytes:
    body = struct.pack(">H", len(names)) + b"".join(
        n + b"\x00" + b"\x00" * 18 for n in names
    )
    return be(b"T", body)


def data_row(vals: list[bytes | None]) -> bytes:
    body = struct.pack(">H", len(vals))
    for v in vals:
        if v is None:
            body += struct.pack(">i", -1)
        else:
            body += struct.pack(">i", len(v)) + v
    return be(b"D", body)


def cmd_complete(tag: bytes = b"SELECT 1") -> bytes:
    return be(b"C", tag + b"\x00")


def identify_system_script(xlogpos: bytes = b"0/20") -> bytes:
    return (
        row_desc([b"systemid", b"timeline", b"xlogpos", b"dbname"])
        + data_row([b"7123456789", b"1", xlogpos, b"shop"])
        + cmd_complete()
        + ready()
    )


def copy_both() -> bytes:
    return be(b"W", b"\x00\x00\x00")


def _w2j(action: str, **cols) -> bytes:
    return json.dumps(
        {"action": action,
         "columns": [{"name": k, "value": v} for k, v in cols.items()]}
    ).encode()


# --------------------------------------------------------- SCRAM (RFC)

# The PUBLISHED SCRAM-SHA-256 example exchange, RFC 7677 §3
# (user="user", password="pencil") — external vectors, not our output.
RFC_NONCE = "rOprNGfwEbeRWgbNEkqO"
RFC_SERVER_FIRST = (
    b"r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
    b"s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
)
RFC_CLIENT_FINAL = (
    b"c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
    b"p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ="
)
RFC_SERVER_FINAL = b"v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4="


def test_scram_rfc7677_published_exchange():
    """Byte-exact replay of the RFC 7677 §3 example (the spec carries
    n=user; PG/libpq sends an empty name — covered below)."""
    c = ScramClient("user", "pencil", nonce=RFC_NONCE, scram_username="user")
    assert c.client_first() == b"n,,n=user,r=rOprNGfwEbeRWgbNEkqO"
    assert c.client_final(RFC_SERVER_FIRST) == RFC_CLIENT_FINAL
    c.verify_server_final(RFC_SERVER_FINAL)  # must not raise

    # a flipped bit in the server signature must be rejected (fake
    # server / wrong password detection)
    c2 = ScramClient("user", "pencil", nonce=RFC_NONCE, scram_username="user")
    c2.client_final(RFC_SERVER_FIRST)
    with pytest.raises(PgServerError, match="signature mismatch"):
        c2.verify_server_final(b"v=AAAATRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")


def test_scram_rejects_non_extending_server_nonce():
    c = ScramClient("user", "pencil", nonce=RFC_NONCE)
    with pytest.raises(PgServerError, match="nonce"):
        c.client_final(b"r=SOMEBODYELSE,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")


def test_scram_server_error_attribute():
    c = ScramClient("user", "pencil", nonce=RFC_NONCE)
    c.client_final(RFC_SERVER_FIRST)
    with pytest.raises(PgServerError, match="invalid-proof"):
        c.verify_server_final(b"e=invalid-proof")


def _scram_server_messages(password: str, client_first_bare: bytes):
    """Test-side server: derives server-first/final for OUR client-first
    (the libpq empty-name form) straight from the RFC formulas."""
    salt = base64.b64decode("W22ZaJ0SNY7soEsUEjb6gQ==")
    nonce = client_first_bare.split(b"r=", 1)[1].decode() + "SRVEXT"
    server_first = (
        f"r={nonce},s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096".encode()
    )
    salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, 4096)
    without_proof = f"c=biws,r={nonce}".encode()
    auth_msg = b",".join([client_first_bare, server_first, without_proof])
    client_key = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
    stored = hashlib.sha256(client_key).digest()
    client_sig = hmac.new(stored, auth_msg, hashlib.sha256).digest()
    proof = bytes(a ^ b for a, b in zip(client_key, client_sig))
    server_key = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
    server_sig = hmac.new(server_key, auth_msg, hashlib.sha256).digest()
    expected_final = (
        without_proof + b",p=" + base64.b64encode(proof)
    )
    server_final = b"v=" + base64.b64encode(server_sig)
    return server_first, expected_final, server_final


# ------------------------------------------------ startup/auth codecs


def test_startup_message_wire_layout():
    msg = encode_startup_message("repl", "shop")
    (ln, proto) = struct.unpack(">II", msg[:8])
    assert ln == len(msg) and proto == 196608
    parts = msg[8:].split(b"\x00")
    assert parts[:6] == [
        b"user", b"repl", b"database", b"shop", b"replication", b"database",
    ]
    assert msg.endswith(b"\x00\x00")  # param terminator + final NUL
    # non-replication connections omit the parameter
    plain = encode_startup_message("u", "d", replication=None)
    assert b"replication" not in plain


def test_md5_password_recipe():
    # md5('md5(pencil+user)' + salt) per the public message-formats doc
    inner = hashlib.md5(b"pencilu").hexdigest()
    want = "md5" + hashlib.md5(inner.encode() + b"\x01\x02\x03\x04").hexdigest()
    assert md5_password("u", "pencil", b"\x01\x02\x03\x04") == want


def test_connect_cleartext_and_parameters():
    fd = FakeDuplex(
        auth(AUTH_CLEARTEXT)
        + auth(AUTH_OK)
        + param_status(b"server_version", b"16.3")
        + backend_key()
        + ready()
    )
    sess = PgWireSession(fd.read, fd.write)
    sess.connect(user="repl", database="shop", password="sekrit")
    assert sess.parameters["server_version"] == "16.3"
    assert sess.backend_pid == 4242
    # startup message then the cleartext PasswordMessage
    assert bytes(fd.sent).startswith(encode_startup_message("repl", "shop"))
    assert be(b"p", b"sekrit\x00") in bytes(fd.sent)


def test_connect_md5():
    fd = FakeDuplex(
        auth(AUTH_MD5, b"\x01\x02\x03\x04") + auth(AUTH_OK) + ready()
    )
    sess = PgWireSession(fd.read, fd.write)
    sess.connect(user="u", database="d", password="pencil")
    digest = md5_password("u", "pencil", b"\x01\x02\x03\x04")
    assert be(b"p", digest.encode() + b"\x00") in bytes(fd.sent)


def test_connect_scram_full_dance():
    """StartupMessage → AuthenticationSASL → SASLInitialResponse →
    SASLContinue → SASLResponse (proof) → SASLFinal (verified) →
    AuthOK → ReadyForQuery, over the scripted duplex with a pinned
    nonce. The proof bytes are derived test-side from the RFC formulas,
    independent of the client under test."""
    client_first_bare = f"n=,r={RFC_NONCE}".encode()
    server_first, expected_final, server_final = _scram_server_messages(
        "pencil", client_first_bare
    )
    fd = FakeDuplex(
        auth(AUTH_SASL, b"SCRAM-SHA-256\x00\x00")
        + auth(AUTH_SASL_CONTINUE, server_first)
        + auth(AUTH_SASL_FINAL, server_final)
        + auth(AUTH_OK)
        + ready()
    )
    sess = PgWireSession(fd.read, fd.write, scram_nonce=RFC_NONCE)
    sess.connect(user="user", database="shop", password="pencil")
    sent = bytes(fd.sent)
    # SASLInitialResponse: mechanism name + int32 length + client-first
    first = b"n,," + client_first_bare
    assert (
        be(b"p", b"SCRAM-SHA-256\x00" + struct.pack(">I", len(first)) + first)
        in sent
    )
    # SASLResponse carries the exact RFC-derived proof
    assert be(b"p", expected_final) in sent


def test_connect_scram_rejects_forged_server_signature():
    client_first_bare = f"n=,r={RFC_NONCE}".encode()
    server_first, _, _ = _scram_server_messages("pencil", client_first_bare)
    forged = b"v=" + base64.b64encode(b"\x00" * 32)
    fd = FakeDuplex(
        auth(AUTH_SASL, b"SCRAM-SHA-256\x00\x00")
        + auth(AUTH_SASL_CONTINUE, server_first)
        + auth(AUTH_SASL_FINAL, forged)
    )
    sess = PgWireSession(fd.read, fd.write, scram_nonce=RFC_NONCE)
    with pytest.raises(PgServerError, match="signature mismatch"):
        sess.connect(user="user", database="shop", password="pencil")


def test_connect_unknown_mechanism_is_loud():
    fd = FakeDuplex(auth(AUTH_SASL, b"SCRAM-SHA-256-PLUS\x00\x00"))
    sess = PgWireSession(fd.read, fd.write)
    with pytest.raises(PgServerError, match="SCRAM-SHA-256"):
        sess.connect(user="u", database="d", password="p")


def test_connect_auth_error_response():
    err = (
        b"SFATAL\x00C28P01\x00"
        b"Mpassword authentication failed for user \"repl\"\x00\x00"
    )
    fd = FakeDuplex(auth(AUTH_CLEARTEXT) + be(b"E", err))
    sess = PgWireSession(fd.read, fd.write)
    with pytest.raises(PgServerError, match="28P01"):
        sess.connect(user="repl", database="shop", password="wrong")


# ------------------------------------------------------- simple query


def test_simple_query_decodes_identify_system():
    fd = FakeDuplex(identify_system_script(b"16/B374D848"))
    sess = PgWireSession(fd.read, fd.write)
    rows = sess.simple_query("IDENTIFY_SYSTEM")
    assert rows == [{
        "systemid": "7123456789", "timeline": "1",
        "xlogpos": "16/B374D848", "dbname": "shop",
    }]
    assert bytes(fd.sent) == encode_simple_query("IDENTIFY_SYSTEM")


def test_simple_query_null_and_multirow():
    fd = FakeDuplex(
        row_desc([b"a", b"b"])
        + data_row([b"1", None])
        + data_row([b"2", b"x"])
        + cmd_complete()
        + ready()
    )
    sess = PgWireSession(fd.read, fd.write)
    assert sess.simple_query("SELECT ...") == [
        {"a": "1", "b": None}, {"a": "2", "b": "x"},
    ]


# --------------------------------------------------- bounded live drain


def _live_script(xlogpos: bytes, frames: list[bytes]) -> bytes:
    """cleartext auth → IDENTIFY_SYSTEM → CopyBoth + frames."""
    return (
        auth(AUTH_CLEARTEXT)
        + auth(AUTH_OK)
        + ready()
        + identify_system_script(xlogpos)
        + copy_both()
        + b"".join(encode_copydata_message(f) for f in frames)
    )


def _one_shot_drain(fd: FakeDuplex, out: str, **live) -> int:
    """A one-shot live drain over ``fd``: one LiveReplicationConnection
    drain, then close() — what activation and stream build run."""
    conn = LiveReplicationConnection(
        {"host": "h", "user": "repl", "database": "shop",
         "password": "pw", "slot": "s1", **live},
        out,
        transport_factory=lambda host, port, timeout: (
            fd.read, fd.write, fd.close, fd.poll
        ),
    )
    try:
        return conn.drain()
    finally:
        conn.close()


def test_live_drain_stops_at_caught_up_keepalive(tmp_path):
    """THE r7 crash-loop regression: a live server never closes the
    CopyBoth stream — after the catch-up frames it keeps sending
    keepalives. The drain must return at the first frame/keepalive at
    or past IDENTIFY_SYSTEM's xlogpos; the fake raises if anything
    reads past the script (a live socket would block forever)."""
    out = str(tmp_path / "wal")
    frames = [
        encode_xlog_data(0x10, 0x11, _w2j("I", id=1, v="a")),
        encode_xlog_data(0x18, 0x19, _w2j("U", id=1, v="b")),
        encode_keepalive(0x20),  # caught up: wal_end == xlogpos
    ]
    fd = FakeDuplex(_live_script(b"0/20", frames), when_empty="block")
    fd.poll = lambda t: True  # a live socket always has keepalives soon

    n = _one_shot_drain(fd, out)
    assert n == 2
    lines = []
    for name in sorted(os.listdir(out)):
        if name.endswith(".jsonl"):
            with open(os.path.join(out, name)) as f:
                lines += [json.loads(ln) for ln in f if ln.strip()]
    assert [(ln["action"], ln["lsn"]) for ln in lines] == [
        ("I", 0x10), ("U", 0x18),
    ]
    # the final standby-status ack reports the flushed watermark
    acks = [m for m in _sent_copydata(fd) if m[:1] == b"r"]
    assert acks, "no standby status update sent"
    rcv, flushed, *_ = struct.unpack_from(">qqq", acks[-1], 1)
    assert flushed == rcv == 0x20


def test_live_drain_socket_timeout_is_clean_end(tmp_path):
    """A boundary socket timeout (idle server, no caught-up keepalive
    seen) ends the catch-up cleanly with flush+ack — it must NOT
    escape into the supervisor and restart the stream (r7 item 1)."""
    out = str(tmp_path / "wal")
    frames = [encode_xlog_data(0x10, 0x11, _w2j("I", id=1, v="a"))]
    # xlogpos far ahead of the frames: the LSN bound never fires
    fd = FakeDuplex(_live_script(b"0/FFFF", frames), when_empty="timeout")
    # the poll always reports data, so only the boundary timeout can
    # end the drain
    fd.poll = lambda t: True
    n = _one_shot_drain(fd, out)
    assert n == 1  # returned cleanly, frame flushed
    acks = [m for m in _sent_copydata(fd) if m[:1] == b"r"]
    rcv, flushed, *_ = struct.unpack_from(">qqq", acks[-1], 1)
    assert flushed == 0x11


def test_live_drain_poll_idle_is_clean_end(tmp_path):
    """With a poll-capable transport the drain ends as soon as the
    socket stays idle — no reads past the buffered data at all."""
    out = str(tmp_path / "wal")
    frames = [encode_xlog_data(0x10, 0x11, _w2j("I", id=1, v="a"))]
    fd = FakeDuplex(_live_script(b"0/FFFF", frames), when_empty="block")
    n = _one_shot_drain(fd, out, idle_timeout=0.01)
    assert n == 1


def _sent_copydata(fd: FakeDuplex) -> list[bytes]:
    """Client→server CopyData payloads from the captured byte stream."""
    out, buf = [], bytes(fd.sent)
    # the stream opens with the UNTAGGED StartupMessage (int32 len
    # first); every later frontend message is tag + int32 len + body
    (startup_len,) = struct.unpack(">I", buf[:4])
    pos = startup_len
    while pos < len(buf):
        tag = buf[pos:pos + 1]
        (ln,) = struct.unpack(">I", buf[pos + 1:pos + 5])
        body = buf[pos + 5:pos + 1 + ln]
        if tag == b"d":
            out.append(body)
        pos += 1 + ln
    return out


# ------------------------------------------- persistent live connection


def test_live_connection_persists_across_drains(tmp_path):
    """ONE StartupMessage for many heartbeat drains: the session stays
    open between ticks, new frames drain incrementally, and acks keep
    flowing on the same connection (r7 'What's missing' 2)."""
    out = str(tmp_path / "wal")
    fd = FakeDuplex(
        _live_script(b"0/20", [
            encode_xlog_data(0x10, 0x11, _w2j("I", id=1, v="a")),
            encode_keepalive(0x20),
        ]),
        when_empty="block",
    )
    dials = []

    def factory(host, port, timeout):
        dials.append((host, port))
        return fd.read, fd.write, fd.close, fd.poll

    conn = LiveReplicationConnection(
        {"host": "h", "user": "repl", "database": "shop",
         "password": "pw", "slot": "s1", "idle_timeout": 0.01},
        out, transport_factory=factory,
    )
    assert conn.drain() == 1
    # steady-state tick with nothing buffered: prompt no-op, NO redial
    assert conn.drain() == 0
    # new frames arrive on the SAME connection
    fd.feed(encode_copydata_message(
        encode_xlog_data(0x30, 0x31, _w2j("I", id=2, v="b"))
    ))
    assert conn.drain() == 1
    assert len(dials) == 1 and conn.connects == 1
    startups = bytes(fd.sent).count(encode_startup_message("repl", "shop"))
    assert startups == 1
    lines = []
    for name in sorted(os.listdir(out)):
        if name.endswith(".jsonl"):
            with open(os.path.join(out, name)) as f:
                lines += [json.loads(ln) for ln in f if ln.strip()]
    assert [ln["lsn"] for ln in lines] == [0x10, 0x30]
    conn.close()
    assert fd.closed


def test_live_connection_reconnects_after_server_close(tmp_path):
    """EOF from the server tears the session down; the next drain
    re-dials and resumes (the slot re-sends from the confirmed LSN)."""
    out = str(tmp_path / "wal")
    fds = [
        # xlogpos ahead of the frames: the catch-up bound does NOT fire
        # and the drain runs into the server's close (EOF)
        FakeDuplex(_live_script(b"0/FF", [
            encode_xlog_data(0x10, 0x11, _w2j("I", id=1, v="a")),
        ]), when_empty="eof"),
        FakeDuplex(_live_script(b"0/31", [
            encode_xlog_data(0x30, 0x31, _w2j("I", id=2, v="b")),
        ]), when_empty="block"),
    ]

    def factory(host, port, timeout):
        fd = fds.pop(0)
        return fd.read, fd.write, fd.close, fd.poll

    conn = LiveReplicationConnection(
        {"host": "h", "user": "repl", "database": "shop",
         "password": "pw", "slot": "s1", "idle_timeout": 0.01},
        out, transport_factory=factory,
    )
    assert conn.drain() == 1
    assert not conn.connected  # EOF observed → marked for reconnect
    assert conn.drain() == 1  # re-dialed, resumed
    assert conn.connects == 2
    lines = []
    for name in sorted(os.listdir(out)):
        if name.endswith(".jsonl"):
            with open(os.path.join(out, name)) as f:
                lines += [json.loads(ln) for ln in f if ln.strip()]
    assert [ln["lsn"] for ln in lines] == [0x10, 0x30]


def test_tailer_stop_at_lsn_on_xlogdata(tmp_path):
    """The LSN bound also fires on a data frame at/past the target —
    no keepalive needed."""
    out = str(tmp_path / "wal")
    frames = iter([
        encode_xlog_data(0x10, 0x11, _w2j("I", id=1, v="a")),
        encode_xlog_data(0x20, 0x21, _w2j("I", id=2, v="b")),
    ])  # a further next() would StopIteration-safely end, but the bound
    # fires first: only the two frames are consumed
    acks: list[bytes] = []
    tailer = ReplicationTailer(frames, acks.append, out)
    assert tailer.run(stop_at_lsn=0x21) == 2


def test_message_stream_poll_bounded():
    """poll=False ends the parse between messages; buffered data still
    drains completely first."""
    payloads = [encode_xlog_data(1, 2, b"{}"), encode_keepalive(3)]
    fd = FakeDuplex(
        copy_both() + b"".join(encode_copydata_message(p) for p in payloads),
        when_empty="block",
    )
    got = list(message_stream(fd.read, poll=fd.poll, idle_timeout=0.01))
    assert got == payloads


# ----------------------------------------------- e2e: replicate verb


def test_replicate_live_pgwire_end_to_end(spark, tmp_path, monkeypatch):
    """The full `trcli replicate`-shaped path against a scripted live
    server: snapshot seed, live catch-up drains (activation + stream
    build) over dialed sessions that AUTHENTICATE, IDENTIFY_SYSTEM and
    START_REPLICATION, frames applied through the waljson stream into
    the bucketed target — and every drain terminates although the
    'server' never closes the stream."""
    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.streaming import pg_replication as pgr
    from transferia_spark.tasks.replicate import run_replication

    src = str(tmp_path / "items.parquet")
    wal = str(tmp_path / "wal")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.parquet(src)

    catchup = [
        encode_xlog_data(0x10, 0x11, _w2j("U", id=2, v="b2")),
        encode_xlog_data(0x18, 0x19, _w2j("I", id=3, v="c")),
        encode_keepalive(0x20),
    ]
    dial_count = {"n": 0}

    def fake_dial(host, port, timeout=30.0):
        dial_count["n"] += 1
        # dial 1 = ACTIVATION drain: caught up (anything drained here is
        # pre-snapshot history the position scan absorbs); dial 2 =
        # stream-build drain: the post-snapshot changes arrive — these
        # are past the recorded position and must apply
        frames = catchup if dial_count["n"] == 2 else [encode_keepalive(0x20)]
        pos = b"0/2" if dial_count["n"] == 1 else b"0/20"
        fd = FakeDuplex(_live_script(pos, frames), when_empty="block")
        return fd.read, fd.write, fd.close, fd.poll

    monkeypatch.setattr(pgr, "dial", fake_dial)
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: pgwire
    live: {{host: pg.example, user: repl, database: shop, password: pw,
           slot: s1, idle_timeout: 0.01}}
    path: {wal}
    schema: "id long, v string"
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
""")
    run_replication(spark, spec, state_dir=state, once=True, retry_interval=0.0)

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    got = {(r.id, r.v) for r in table.read().collect()}
    assert got == {(1, "a"), (2, "b2"), (3, "c")}
    assert dial_count["n"] >= 2  # activation drain + stream-build drain


@pytest.mark.slow
def test_replicate_continuous_holds_one_live_connection(
    spark, tmp_path, monkeypatch
):
    """Continuous mode: heartbeat ticks drain over ONE persistent wire
    session — dial count stays at activation(1) + stream-build(1) +
    heartbeat-loop(1) no matter how many ticks elapse, and frames fed
    mid-run land in the target (r7 'What's missing' 2: the per-tick
    reconnect churned server slots)."""
    import threading

    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.streaming import pg_replication as pgr
    from transferia_spark.tasks.replicate import run_replication

    src = str(tmp_path / "items.parquet")
    wal = str(tmp_path / "wal")
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, v string"
    ).write.parquet(src)

    dials: list[FakeDuplex] = []

    def fake_dial(host, port, timeout=30.0):
        fd = FakeDuplex(
            _live_script(b"0/2", [encode_keepalive(0x2)]), when_empty="block"
        )
        dials.append(fd)
        return fd.read, fd.write, fd.close, fd.poll

    monkeypatch.setattr(pgr, "dial", fake_dial)
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_AND_INCREMENT
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: pgwire
    live: {{host: pg.example, user: repl, database: shop, password: pw,
           slot: s1, idle_timeout: 0.01}}
    path: {wal}
    schema: "id long, v string"
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
  trigger: {{processingTime: "500 milliseconds"}}
  health_interval: 1.0
""")
    # mid-run: feed a frame to the PERSISTENT heartbeat connection (the
    # third dial — activation and stream-build drains come first); poll
    # until it exists so a slow query start can't race the feed onto an
    # already-drained session
    stop_feed = threading.Event()

    def feed_when_ready():
        import time as _t

        deadline = _t.time() + 12.0
        while _t.time() < deadline and not stop_feed.is_set():
            if len(dials) >= 3:
                dials[2].feed(encode_copydata_message(
                    encode_xlog_data(0x30, 0x31, _w2j("I", id=3, v="c"))
                ))
                return
            _t.sleep(0.2)

    feeder = threading.Thread(target=feed_when_ready, daemon=True)
    feeder.start()
    try:
        report = run_replication(
            spark, spec, state_dir=state, max_runtime=14.0,
            retry_interval=0.0,
        )
    finally:
        stop_feed.set()
        feeder.join(timeout=2.0)
    assert report.attempts == 1 and report.errors == []
    # activation + stream build + ONE persistent heartbeat session
    assert len(dials) == 3, f"per-tick reconnect detected: {len(dials)} dials"
    # the heartbeat session is the only one left open until shutdown
    assert dials[-1].closed

    from transferia_spark.streaming.bucketed_table import BucketedParquetTable

    table = BucketedParquetTable(spark, target, keys=["id"], n_buckets=4)
    got = {(r.id, r.v) for r in table.read().collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_dial_read_preserves_partial_bytes_across_timeout():
    """Code-review r8 finding 4: a header split across TCP segments
    with a timeout in between must not lose the received prefix — the
    next read resumes with the stashed bytes and stays frame-aligned."""
    import socket
    import threading

    from transferia_spark.streaming.pg_replication import dial

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    accepted = {}

    def serve():
        conn, _ = srv.accept()
        accepted["conn"] = conn
        conn.sendall(b"\x12\x34")  # half a 4-byte header

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    read, write, close, poll = dial("127.0.0.1", port, timeout=0.4)
    t.join(5)
    with pytest.raises(TimeoutError):
        read(4)  # 2 bytes arrive, then the socket idles past timeout
    accepted["conn"].sendall(b"\x56\x78more")
    assert read(4) == b"\x12\x34\x56\x78"  # stash + fresh, aligned
    assert read(4) == b"more"
    close()
    accepted["conn"].close()
    srv.close()


# ------------------------------------------------------------- TLS
# sslmode ladder over real loopback sockets (the reference connects
# through libpq DSNs; the SSLRequest dance is the public "SSL Session
# Encryption" protocol chapter).


@pytest.fixture(scope="module")
def tls_cert(tmp_path_factory):
    """Self-signed localhost cert (its own CA for verify-ca)."""
    import subprocess

    d = tmp_path_factory.mktemp("tls")
    cert, key = str(d / "cert.pem"), str(d / "key.pem")
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048",
         "-keyout", key, "-out", cert, "-days", "1", "-nodes",
         "-subj", "/CN=localhost"],
        check=True, capture_output=True,
    )
    return cert, key


def _tls_server(cert, key, answer=b"S", payload=b"", expect=b""):
    """Loopback server thread: read SSLRequest, answer, optionally
    wrap with TLS, send `payload`, read len(expect) bytes back."""
    import socket
    import ssl
    import threading

    from transferia_spark.streaming.pg_replication import SSL_REQUEST

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    state = {}

    def serve():
        conn, _ = srv.accept()
        try:
            got = b""
            while len(got) < len(SSL_REQUEST):
                got += conn.recv(len(SSL_REQUEST) - len(got))
            state["sslrequest"] = got
            conn.sendall(answer)
            if answer == b"S":
                ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
                ctx.load_cert_chain(cert, key)
                try:
                    conn = ctx.wrap_socket(conn, server_side=True)
                except ssl.SSLError as e:  # client aborted (verify fail)
                    state["handshake_error"] = e
                    return
            if payload:
                conn.sendall(payload)
            back = b""
            while len(back) < len(expect):
                chunk = conn.recv(len(expect) - len(back))
                if not chunk:
                    break
                back += chunk
            state["echo"] = back
        finally:
            conn.close()
            srv.close()

    t = threading.Thread(target=serve, daemon=True)
    t.start()
    state["thread"] = t
    return port, state


def test_dial_sslrequest_is_protocol_magic():
    from transferia_spark.streaming.pg_replication import SSL_REQUEST

    assert SSL_REQUEST == struct.pack(">II", 8, 80877103)


def test_dial_tls_require_handshakes_and_moves_bytes(tls_cert):
    from transferia_spark.streaming.pg_replication import (
        SSL_REQUEST,
        dial,
    )

    cert, key = tls_cert
    port, state = _tls_server(cert, key, payload=b"helloTLS",
                              expect=b"ping")
    read, write, close, poll = dial(
        "127.0.0.1", port, timeout=5.0, sslmode="require"
    )
    assert read(5) == b"hello"
    # the rest of the record is already decrypted in the TLS buffer —
    # poll must see it even though the kernel socket may be idle
    assert poll(0.0)
    assert read(3) == b"TLS"
    write(b"ping")
    state["thread"].join(5)
    assert state["sslrequest"] == SSL_REQUEST
    assert state["echo"] == b"ping"
    close()


def test_dial_tls_refused_respects_sslmode(tls_cert):
    from transferia_spark.streaming.pg_replication import (
        PgServerError,
        dial,
    )

    cert, key = tls_cert
    port, _ = _tls_server(cert, key, answer=b"N")
    with pytest.raises(PgServerError, match="refused TLS"):
        dial("127.0.0.1", port, timeout=5.0, sslmode="require")
    # prefer: continue cleartext on the same refusal
    port, state = _tls_server(cert, key, answer=b"N",
                              payload=b"clear", expect=b"ok")
    read, write, close, _ = dial(
        "127.0.0.1", port, timeout=5.0, sslmode="prefer"
    )
    assert read(5) == b"clear"
    write(b"ok")
    state["thread"].join(5)
    assert state["echo"] == b"ok"
    close()


def test_dial_verify_ca_checks_the_chain(tls_cert, tmp_path):
    import ssl
    import subprocess

    from transferia_spark.streaming.pg_replication import dial

    cert, key = tls_cert
    # the self-signed cert is its own CA: verify-ca succeeds
    port, state = _tls_server(cert, key, payload=b"x", expect=b"")
    read, _, close, _ = dial(
        "127.0.0.1", port, timeout=5.0,
        sslmode="verify-ca", sslrootcert=cert,
    )
    assert read(1) == b"x"
    close()
    # a different CA must fail the handshake loudly
    other = str(tmp_path / "other.pem")
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048",
         "-keyout", str(tmp_path / "other.key"), "-out", other,
         "-days", "1", "-nodes", "-subj", "/CN=evil"],
        check=True, capture_output=True,
    )
    port, _ = _tls_server(cert, key)
    with pytest.raises(ssl.SSLCertVerificationError):
        dial("127.0.0.1", port, timeout=5.0,
             sslmode="verify-ca", sslrootcert=other)


def test_dial_sslmode_validation():
    from transferia_spark.streaming.pg_replication import dial

    with pytest.raises(ValueError, match="unknown sslmode"):
        dial("127.0.0.1", 1, sslmode="yes")
    with pytest.raises(ValueError, match="needs sslrootcert"):
        dial("127.0.0.1", 1, sslmode="verify-full")


def test_ssl_kwargs_forwarded_only_when_configured():
    """Injected fake factories keep their 3-positional signature
    unless the config opts into TLS."""
    from transferia_spark.streaming.pg_replication import _ssl_kwargs

    assert _ssl_kwargs({"host": "h"}) == {}
    assert _ssl_kwargs(
        {"sslmode": "verify-ca", "sslrootcert": "/ca.pem"}
    ) == {"sslmode": "verify-ca", "sslrootcert": "/ca.pem"}
