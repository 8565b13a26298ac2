"""PostgreSQL streaming-replication wire protocol (pure Python).

≈ ``pkg/providers/postgres/publisher_replication.go:75`` (slot create /
START_REPLICATION / keepalive / ack loop) and ``lsn_slot.go:128`` (LSN
algebra) in transferia/transferia, built against the PUBLIC protocol
docs (PostgreSQL "Streaming Replication Protocol" + "Message Formats"):

- replication commands are plain query strings over a connection opened
  with ``replication=database`` (``IDENTIFY_SYSTEM``,
  ``CREATE_REPLICATION_SLOT``, ``START_REPLICATION``);
- the server then switches to CopyBoth: each CopyData payload is either
  **XLogData** (``'w'`` + walStart int64 + walEnd int64 + serverClock
  int64 + WAL payload bytes) or **Primary keepalive** (``'k'`` + walEnd
  + serverClock + replyRequested byte);
- the client acks with **Standby status update** (``'r'`` + written +
  flushed + applied int64s + clock + replyRequested) — the flushed LSN
  is what lets the server trim the slot, exactly the reference's
  committed-LSN ack.

Transport is INJECTABLE (the pattern proven by ``sinks/kafka_wire.py``):
frame codecs are pure functions, :class:`ReplicationTailer` drains any
iterator of CopyData payloads (a live socket's COPY stream, or recorded
vectors in tests) into the JSON-lines directory
``wal_source.WalJsonStreamReader`` tails — so the DataSource stream,
offsets, and collapse/merge path are IDENTICAL with a live socket or a
recorded log. Timestamps ride the PG epoch (2000-01-01, microseconds).
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass
from typing import Callable, Iterable

from transferia_spark.streaming.wal_source import (
    drain_new_captures,
    event_file,
    next_file_no,
)

#: seconds between the Unix and PostgreSQL epochs (2000-01-01 UTC)
PG_EPOCH_OFFSET_US = 946_684_800 * 1_000_000


# ------------------------------------------------------------------ LSN


def parse_lsn(text: str) -> int:
    """``'X/Y'`` (hex halves) → 64-bit LSN (``lsn_slot.go:128`` algebra:
    high word is the WAL segment file group, low word the offset)."""
    hi, _, lo = text.partition("/")
    if not _:
        raise ValueError(f"not an LSN: {text!r}")
    return (int(hi, 16) << 32) | int(lo, 16)


def format_lsn(lsn: int) -> str:
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


# ----------------------------------------------------------- commands


def identify_system_command() -> str:
    return "IDENTIFY_SYSTEM"


def create_slot_command(
    slot: str, plugin: str = "wal2json", temporary: bool = False
) -> str:
    """≈ CreateReplicationSlot (publisher_replication.go slot setup)."""
    tmp = " TEMPORARY" if temporary else ""
    return f"CREATE_REPLICATION_SLOT {slot}{tmp} LOGICAL {plugin}"


def start_replication_command(
    slot: str, lsn: int = 0, options: dict[str, str] | None = None
) -> str:
    """START_REPLICATION with plugin options (wal2json's
    format-version/include-lsn etc. ride here)."""
    opts = ""
    if options:
        inner = ", ".join(f"\"{k}\" '{v}'" for k, v in sorted(options.items()))
        opts = f" ({inner})"
    return f"START_REPLICATION SLOT {slot} LOGICAL {format_lsn(lsn)}{opts}"


# ------------------------------------------------------------- frames


@dataclass
class XLogData:
    wal_start: int
    wal_end: int
    server_clock_us: int  # PG epoch µs
    payload: bytes


@dataclass
class PrimaryKeepalive:
    wal_end: int
    server_clock_us: int
    reply_requested: bool


def decode_copydata(frame: bytes) -> XLogData | PrimaryKeepalive:
    """One CopyData payload → XLogData ('w') or keepalive ('k')."""
    kind = frame[:1]
    if kind == b"w":
        ws, we, clock = struct.unpack_from(">qqq", frame, 1)
        return XLogData(ws, we, clock, frame[25:])
    if kind == b"k":
        we, clock, reply = struct.unpack_from(">qqB", frame, 1)
        return PrimaryKeepalive(we, clock, bool(reply))
    raise ValueError(f"unknown replication message kind {kind!r}")


def encode_xlog_data(
    wal_start: int, wal_end: int, payload: bytes, server_clock_us: int = 0
) -> bytes:
    """Inverse of :func:`decode_copydata` for 'w' — test-vector builder
    and the recorded-transport format."""
    return b"w" + struct.pack(">qqq", wal_start, wal_end, server_clock_us) + payload


def encode_keepalive(
    wal_end: int, server_clock_us: int = 0, reply_requested: bool = False
) -> bytes:
    return b"k" + struct.pack(">qqB", wal_end, server_clock_us, int(reply_requested))


def encode_standby_status(
    received: int,
    flushed: int,
    applied: int,
    clock_us: int = 0,
    reply_requested: bool = False,
) -> bytes:
    """Standby status update ('r') — the slot ack. ``flushed`` is the
    durability watermark the server may trim to (≈ the committed LSN the
    reference persists, publisher_replication.go:140)."""
    return b"r" + struct.pack(
        ">qqqqB", received, flushed, applied, clock_us, int(reply_requested)
    )


def decode_standby_status(frame: bytes) -> tuple[int, int, int, int, bool]:
    if frame[:1] != b"r":
        raise ValueError(f"not a standby status update: {frame[:1]!r}")
    r, f, a, c, rep = struct.unpack_from(">qqqqB", frame, 1)
    return r, f, a, c, bool(rep)


# ---------------------------------------------------- message framing

#: backend message tags of the COPY subprotocol (public "Message
#: Formats" docs): every message is tag byte + int32 length (length
#: INCLUDES itself, excludes the tag) + body
MSG_COPY_DATA = b"d"
MSG_COPY_BOTH_RESPONSE = b"W"
MSG_COPY_DONE = b"c"
MSG_ERROR_RESPONSE = b"E"
MSG_READY_FOR_QUERY = b"Z"


class PgServerError(RuntimeError):
    """An ErrorResponse from the server, fields parsed (severity,
    SQLSTATE code, message — the public error-field format)."""

    def __init__(self, fields: dict[str, str]):
        self.fields = fields
        super().__init__(
            f"{fields.get('S', 'ERROR')} {fields.get('C', '?????')}: "
            f"{fields.get('M', '(no message)')}"
        )


def decode_error_fields(body: bytes) -> dict[str, str]:
    """ErrorResponse body: (field-type byte + cstring)* + NUL."""
    fields: dict[str, str] = {}
    pos = 0
    while pos < len(body) and body[pos] != 0:
        code = chr(body[pos])
        end = body.index(b"\x00", pos + 1)
        fields[code] = body[pos + 1:end].decode(errors="replace")
        pos = end + 1
    return fields


def encode_copydata_message(payload: bytes) -> bytes:
    """Wrap a replication payload ('w'/'k'/'r' frame) in the CopyData
    message a socket actually carries — the client's standby-status
    updates travel the same way."""
    return MSG_COPY_DATA + struct.pack(">I", len(payload) + 4) + payload


def message_stream(
    read: Callable[[int], bytes],
    poll: Callable[[float], bool] | None = None,
    idle_timeout: float = 0.5,
):
    """Parse the backend message stream of an open COPY-BOTH session
    into CopyData payloads — the glue between a raw socket and
    :class:`ReplicationTailer` (``tailer = ReplicationTailer(
    message_stream(sock.recv_exact), lambda p: sock.sendall(
    encode_copydata_message(p)), out_dir)``).

    ``read(n)`` must return exactly n bytes (or b"" at EOF).
    CopyBothResponse is consumed silently (session start), CopyDone /
    ReadyForQuery end the stream, ErrorResponse raises
    :class:`PgServerError` with parsed fields.

    A LIVE server never closes a CopyBoth stream — once the slot is
    caught up it sends periodic keepalives forever, so an unbounded
    parse loop blocks until the socket times out (the r7 caught-up
    crash-loop). Two bounded-drain exits:

    - ``poll(timeout) -> bool`` (from :func:`dial`): checked before
      each message; no buffered data within ``idle_timeout`` seconds →
      the stream ends cleanly (drained everything the server had);
    - a ``TimeoutError`` on the BOUNDARY read (the tag byte) is a clean
      end-of-catch-up, not an error — the server simply had nothing
      more to say within the socket timeout. A timeout MID-message
      still raises: a half-frame stall is a real transport fault.
    """
    while True:
        if poll is not None and not poll(idle_timeout):
            return  # caught up: nothing buffered within the idle window
        try:
            tag = read(1)
        except TimeoutError:
            return  # idle server between frames: clean end-of-catch-up
        if not tag:
            return
        (ln,) = struct.unpack(">I", read(4))
        body = read(ln - 4) if ln > 4 else b""
        if tag == MSG_COPY_DATA:
            yield body
        elif tag == MSG_COPY_BOTH_RESPONSE:
            continue  # session start: format codes, nothing to emit
        elif tag in (MSG_COPY_DONE, MSG_READY_FOR_QUERY):
            return
        elif tag == MSG_ERROR_RESPONSE:
            raise PgServerError(decode_error_fields(body))
        # NoticeResponse / ParameterStatus etc.: ignorable during COPY


# ------------------------------------- session establishment (startup)
#
# The last layer between the frame codecs above and a live server:
# StartupMessage → authentication (cleartext / MD5 / SCRAM-SHA-256, all
# from the public "Message Formats" + RFC 5802/7677) → ParameterStatus/
# BackendKeyData → ReadyForQuery, then replication commands as simple
# queries and the CopyBoth switch. ≈ postgres/publisher.go:33-68
# (connect with replication=database, IDENTIFY_SYSTEM, slot DDL,
# START_REPLICATION). Transport stays injectable: `PgWireSession`
# drives any (read, write) byte callables — a socket or a test fixture.

AUTH_OK = 0
AUTH_CLEARTEXT = 3
AUTH_MD5 = 5
AUTH_SASL = 10
AUTH_SASL_CONTINUE = 11
AUTH_SASL_FINAL = 12


def encode_startup_message(
    user: str, database: str, replication: str | None = "database"
) -> bytes:
    """StartupMessage: int32 len + int32 196608 (protocol 3.0) + param
    cstring pairs + NUL. ``replication=database`` opens the logical-
    replication command surface on the connection."""
    params: list[tuple[str, str]] = [("user", user), ("database", database)]
    if replication:
        params.append(("replication", replication))
    body = b"".join(
        k.encode() + b"\x00" + v.encode() + b"\x00" for k, v in params
    ) + b"\x00"
    return struct.pack(">II", len(body) + 8, 196608) + body


def _fe_message(tag: bytes, body: bytes) -> bytes:
    return tag + struct.pack(">I", len(body) + 4) + body


def encode_password_message(secret: str | bytes) -> bytes:
    """PasswordMessage ('p'): cleartext password or the md5... digest.
    The same tag carries SASLInitialResponse/SASLResponse."""
    raw = secret.encode() if isinstance(secret, str) else secret
    return _fe_message(b"p", raw + b"\x00")


def md5_password(user: str, password: str, salt: bytes) -> str:
    """``'md5' + md5(md5(password + user) + salt)`` — the public
    AuthenticationMD5Password recipe."""
    import hashlib

    inner = hashlib.md5((password + user).encode()).hexdigest()
    return "md5" + hashlib.md5(inner.encode() + salt).hexdigest()


def encode_simple_query(sql: str) -> bytes:
    """Query ('Q'): how replication commands travel on a
    replication=database connection."""
    return _fe_message(b"Q", sql.encode() + b"\x00")


class ScramClient:
    """SCRAM client (RFC 5802/7677), channel-binding 'n'. Defaults to
    SHA-256 (PG's mechanism); ``algo="sha512"`` covers Kafka's
    SCRAM-SHA-512. Nonce is injectable for deterministic tests."""

    def __init__(
        self,
        user: str,
        password: str,
        nonce: str | None = None,
        scram_username: str = "",
        algo: str = "sha256",
    ):
        import base64
        import secrets

        if algo not in ("sha1", "sha256", "sha512"):
            # sha1 exists for MongoDB's SCRAM-SHA-1 (with its md5-derived
            # secret); PG and Kafka use the sha256/sha512 variants
            raise ValueError(f"unsupported SCRAM hash {algo!r}")
        self.algo = algo
        self.password = password
        # PG ignores the SCRAM username (it rides the startup message);
        # send an empty n= per libpq. ``scram_username`` exists so the
        # RFC 7677 §3 published exchange (which carries n=user) can be
        # replayed byte-exactly in tests, and because Kafka DOES read
        # the user from n= (its SASL has no separate identity field).
        # RFC 5802 §5.1: ',' and '=' in the name must be escaped.
        scram_username = scram_username.replace("=", "=3D").replace(
            ",", "=2C"
        )
        self.nonce = nonce or base64.b64encode(
            secrets.token_bytes(18)
        ).decode()
        self._client_first_bare = f"n={scram_username},r={self.nonce}"
        self.server_signature: bytes | None = None

    def client_first(self) -> bytes:
        return ("n,," + self._client_first_bare).encode()

    def client_final(self, server_first: bytes) -> bytes:
        import base64
        import hashlib
        import hmac

        fields = dict(
            kv.split("=", 1) for kv in server_first.decode().split(",")
        )
        r, s, i = fields["r"], fields["s"], int(fields["i"])
        if not r.startswith(self.nonce):
            raise PgServerError(
                {"S": "FATAL", "C": "28000",
                 "M": "SCRAM server nonce does not extend the client nonce"}
            )
        h = getattr(hashlib, self.algo)
        salted = hashlib.pbkdf2_hmac(
            self.algo, self.password.encode(), base64.b64decode(s), i
        )
        client_key = hmac.new(salted, b"Client Key", h).digest()
        stored_key = h(client_key).digest()
        without_proof = f"c=biws,r={r}"
        auth_message = ",".join(
            [self._client_first_bare, server_first.decode(), without_proof]
        ).encode()
        client_sig = hmac.new(stored_key, auth_message, h).digest()
        proof = bytes(a ^ b for a, b in zip(client_key, client_sig))
        server_key = hmac.new(salted, b"Server Key", h).digest()
        self.server_signature = hmac.new(server_key, auth_message, h).digest()
        return (
            without_proof + ",p=" + base64.b64encode(proof).decode()
        ).encode()

    def verify_server_final(self, server_final: bytes) -> None:
        import base64

        fields = dict(
            kv.split("=", 1) for kv in server_final.decode().split(",")
        )
        if "e" in fields:
            raise PgServerError(
                {"S": "FATAL", "C": "28000", "M": f"SCRAM: {fields['e']}"}
            )
        if base64.b64decode(fields["v"]) != self.server_signature:
            raise PgServerError(
                {"S": "FATAL", "C": "28000",
                 "M": "SCRAM server signature mismatch (not the real "
                      "server?)"}
            )


class PgWireSession:
    """Connection establishment + simple queries + the CopyBoth switch
    over injectable ``read(n)``/``write(bytes)`` callables.

    The full live path::

        sess = PgWireSession(sock.recv_exact, sock.sendall)
        sess.connect(user="repl", database="shop", password=pw)
        sysid = sess.simple_query(identify_system_command())
        sess.simple_query(create_slot_command("slot1"))
        stream = sess.start_replication(
            start_replication_command("slot1", lsn))
        ReplicationTailer(stream, sess.send_copydata, out_dir).run()
    """

    def __init__(
        self,
        read: Callable[[int], bytes],
        write: Callable[[bytes], None],
        scram_nonce: str | None = None,
    ):
        self._read = read
        self._write = write
        self._scram_nonce = scram_nonce
        self.parameters: dict[str, str] = {}
        self.backend_pid: int | None = None

    def _recv(self) -> tuple[bytes, bytes]:
        tag = self._read(1)
        if not tag:
            raise PgServerError(
                {"S": "FATAL", "C": "08006",
                 "M": "server closed the connection mid-session"}
            )
        head = self._read(4)
        if len(head) < 4:
            raise PgServerError(
                {"S": "FATAL", "C": "08006",
                 "M": "truncated message header"}
            )
        (ln,) = struct.unpack(">I", head)
        body = self._read(ln - 4) if ln > 4 else b""
        if ln > 4 and len(body) < ln - 4:
            raise PgServerError(
                {"S": "FATAL", "C": "08006", "M": "truncated message body"}
            )
        if tag == MSG_ERROR_RESPONSE:
            raise PgServerError(decode_error_fields(body))
        return tag, body

    def connect(self, user: str, database: str, password: str = "") -> None:
        """StartupMessage → auth dance → wait for ReadyForQuery."""
        self._write(encode_startup_message(user, database))
        scram: ScramClient | None = None
        while True:
            tag, body = self._recv()
            if tag == b"R":
                (code,) = struct.unpack(">I", body[:4])
                if code == AUTH_OK:
                    continue
                if code == AUTH_CLEARTEXT:
                    self._write(encode_password_message(password))
                elif code == AUTH_MD5:
                    self._write(
                        encode_password_message(
                            md5_password(user, password, body[4:8])
                        )
                    )
                elif code == AUTH_SASL:
                    mechs = [
                        m.decode()
                        for m in body[4:].split(b"\x00")
                        if m
                    ]
                    if "SCRAM-SHA-256" not in mechs:
                        raise PgServerError(
                            {"S": "FATAL", "C": "28000",
                             "M": f"server offers {mechs}; only "
                                  "SCRAM-SHA-256 is implemented "
                                  "(channel binding needs TLS, out of "
                                  "scope)"}
                        )
                    scram = ScramClient(
                        user, password, nonce=self._scram_nonce
                    )
                    first = scram.client_first()
                    self._write(
                        _fe_message(
                            b"p",
                            b"SCRAM-SHA-256\x00"
                            + struct.pack(">I", len(first))
                            + first,
                        )
                    )
                elif code == AUTH_SASL_CONTINUE:
                    assert scram is not None, "SASLContinue before SASL"
                    self._write(
                        _fe_message(b"p", scram.client_final(body[4:]))
                    )
                elif code == AUTH_SASL_FINAL:
                    assert scram is not None, "SASLFinal before SASL"
                    scram.verify_server_final(body[4:])
                else:
                    raise PgServerError(
                        {"S": "FATAL", "C": "28000",
                         "M": f"unsupported authentication request {code}"}
                    )
            elif tag == b"S":  # ParameterStatus
                k, v = body.split(b"\x00")[:2]
                self.parameters[k.decode()] = v.decode()
            elif tag == b"K":  # BackendKeyData
                self.backend_pid = struct.unpack(">II", body)[0]
            elif tag == MSG_READY_FOR_QUERY:
                return
            # NoticeResponse etc.: ignorable during startup

    def simple_query(self, sql: str) -> list[dict[str, str]]:
        """Run one simple query ('Q'), decode RowDescription/DataRow
        into dicts, return at ReadyForQuery — IDENTIFY_SYSTEM /
        CREATE_REPLICATION_SLOT results."""
        self._write(encode_simple_query(sql))
        cols: list[str] = []
        rows: list[dict[str, str]] = []
        while True:
            tag, body = self._recv()
            if tag == b"T":  # RowDescription
                (n,) = struct.unpack(">H", body[:2])
                pos = 2
                cols = []
                for _ in range(n):
                    end = body.index(b"\x00", pos)
                    cols.append(body[pos:end].decode())
                    pos = end + 1 + 18  # fixed per-field trailer
            elif tag == b"D":  # DataRow
                (n,) = struct.unpack(">H", body[:2])
                pos = 2
                vals: list[str | None] = []
                for _ in range(n):
                    (ln,) = struct.unpack(">i", body[pos:pos + 4])
                    pos += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(body[pos:pos + ln].decode())
                        pos += ln
                rows.append(dict(zip(cols, vals)))
            elif tag == MSG_READY_FOR_QUERY:
                return rows
            # CommandComplete / EmptyQueryResponse / NoticeResponse: skip

    def copy_out(self, sql: str):
        """Run a ``COPY ... TO STDOUT`` and yield the raw CopyData
        payloads — the bulk snapshot path (the reference snapshots PG
        through COPY, ``postgres/storage.go``; a SELECT streams rows,
        COPY streams pages). Ends cleanly at CopyDone → ReadyForQuery;
        an ErrorResponse raises. Payload boundaries carry NO row
        alignment guarantee — the decoder reassembles lines."""
        self._write(encode_simple_query(sql))
        started = False
        while True:
            tag, body = self._recv()
            if tag == b"H":  # CopyOutResponse
                started = True
            elif tag == MSG_COPY_DATA:
                yield body
            elif tag == MSG_READY_FOR_QUERY:
                if not started:
                    raise PgServerError(
                        {"S": "FATAL", "C": "42601",
                         "M": f"server did not enter COPY OUT for: {sql}"}
                    )
                return
            # CopyDone / CommandComplete / NoticeResponse: skip

    def start_replication(
        self,
        command: str,
        poll: Callable[[float], bool] | None = None,
        idle_timeout: float = 0.5,
    ):
        """Send START_REPLICATION; the server answers CopyBothResponse
        and the connection becomes a frame stream — returned as the
        CopyData payload iterator :class:`ReplicationTailer` drains
        (poll-bounded when the transport provides ``poll``, so a
        caught-up drain terminates)."""
        self._write(encode_simple_query(command))
        return message_stream(
            self._read, poll=poll, idle_timeout=idle_timeout
        )

    def send_copydata(self, payload: bytes) -> None:
        """Standby-status updates travel as CopyData from the client."""
        self._write(encode_copydata_message(payload))


# ------------------------------------------------------------- tailer


class ReplicationTailer:
    """Drain a CopyBoth stream into the wal2json JSON-lines directory
    that ``WalJsonStreamReader`` tails.

    ``recv`` yields CopyData payloads (live socket or recorded vectors);
    ``send`` receives standby status updates. Each XLogData's wal2json
    line gets its authoritative position stamped from the frame header
    (``lsn`` = walStart) so the file form is byte-compatible with what
    the slot-file tailer produced before. Acks: flushed advances to the
    frame's walEnd after its line is durably written (fsync the data
    file, rename, fsync the directory — power-loss safe, since the ack
    authorizes the server to trim the slot), sent
    on server reply requests and on ``close()`` — the same ack points
    the reference uses.
    """

    def __init__(
        self,
        recv: Iterable[bytes],
        send: Callable[[bytes], None],
        out_dir: str,
        lines_per_file: int = 1000,
    ):
        self.recv = recv
        self.send = send
        self.out_dir = out_dir
        self.lines_per_file = lines_per_file
        self.received = 0
        self.flushed = 0
        self._buf: list[str] = []
        os.makedirs(out_dir, exist_ok=True)
        self._file_no = next_file_no(out_dir)

    def _flush_file(self) -> None:
        # the flushed LSN in the standby-status ack lets the server TRIM
        # the slot — it must mean "survives power loss", so it advances
        # only once event_file has published the lines durably
        if self._buf:
            name = f"{self._file_no:09d}.jsonl"
            with event_file(self.out_dir, name) as out:
                out.write("\n".join(self._buf) + "\n")
            self._file_no += 1
            self._buf.clear()
        self.flushed = self.received  # durable up to everything received

    def _ack(self) -> None:
        self.send(
            encode_standby_status(self.received, self.flushed, self.flushed)
        )

    def run(
        self,
        max_frames: int | None = None,
        stop_at_lsn: int | None = None,
    ) -> int:
        """Process frames until the source drains (or ``max_frames``);
        returns the number of XLogData frames written.

        ``stop_at_lsn`` bounds a catch-up drain against a LIVE server:
        once the received watermark reaches it (an XLogData's walEnd or
        the first caught-up keepalive), the drain flushes, acks and
        returns instead of blocking on a stream that never ends —
        capture the server's current position (IDENTIFY_SYSTEM xlogpos)
        before START_REPLICATION and pass it here (r7 verdict item 1).
        """
        n = 0
        for frame in self.recv:
            msg = decode_copydata(frame)
            if isinstance(msg, PrimaryKeepalive):
                self.received = max(self.received, msg.wal_end)
                if msg.reply_requested:
                    self._flush_file()  # make the ack honest: fsync first
                    self._ack()
                if stop_at_lsn is not None and self.received >= stop_at_lsn:
                    break  # caught-up keepalive: the drain is done
                continue
            doc = json.loads(msg.payload)
            doc["lsn"] = msg.wal_start  # authoritative frame position
            self._buf.append(json.dumps(doc))
            self.received = max(self.received, msg.wal_end)
            n += 1
            if len(self._buf) >= self.lines_per_file:
                self._flush_file()
            if max_frames is not None and n >= max_frames:
                break
            if stop_at_lsn is not None and self.received >= stop_at_lsn:
                break
        self.close()
        return n

    def close(self) -> None:
        self._flush_file()
        self._ack()


#: the protocol-level SSLRequest: length 8, magic 80877103 — the server
#: answers one raw byte, ``S`` (proceed with TLS) or ``N`` (no TLS)
SSL_REQUEST = struct.pack(">II", 8, 80877103)


def _tls_context(sslmode: str, sslrootcert: str | None):
    import ssl

    ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
    if sslmode in ("verify-ca", "verify-full"):
        # trust exactly the given CA (libpq's sslrootcert), hostname
        # check only in verify-full — the same ladder libpq documents
        ctx.load_verify_locations(sslrootcert)
        ctx.check_hostname = sslmode == "verify-full"
    else:
        # require/prefer: encryption without identity verification
        # (libpq semantics: require protects against passive
        # eavesdropping only)
        ctx.check_hostname = False
        ctx.verify_mode = ssl.CERT_NONE
    return ctx


def dial(
    host: str,
    port: int,
    timeout: float = 30.0,
    sslmode: str = "disable",
    sslrootcert: str | None = None,
):
    """TCP transport factory: returns ``(read, write, close, poll)``
    where ``read(n)`` blocks for exactly n bytes (b"" only at a clean
    EOF boundary) and ``poll(t)`` reports whether the socket has
    readable data within ``t`` seconds — the bounded-drain primitive
    that lets a caught-up drain return instead of blocking on a live
    CopyBoth stream. Module-level so tests inject a fake duplex in its
    place.

    ``sslmode`` follows libpq's ladder (the reference connects through
    libpq DSNs, ``postgres/connection.go``): ``disable`` | ``prefer``
    (TLS if the server accepts, cleartext otherwise) | ``require``
    (TLS or fail, no identity check) | ``verify-ca`` / ``verify-full``
    (TLS + certificate chain against ``sslrootcert``, the latter also
    matching the hostname). TLS is negotiated with the protocol's
    SSLRequest before the StartupMessage, per the public "SSL Session
    Encryption" docs."""
    import socket

    if sslmode not in (
        "disable", "prefer", "require", "verify-ca", "verify-full"
    ):
        raise ValueError(f"unknown sslmode {sslmode!r}")
    if sslmode in ("verify-ca", "verify-full") and not sslrootcert:
        raise ValueError(f"sslmode={sslmode} needs sslrootcert")
    sock = socket.create_connection((host, port), timeout=timeout)
    if sslmode != "disable":
        sock.sendall(SSL_REQUEST)
        answer = sock.recv(1)
        if answer == b"S":
            sock = _tls_context(sslmode, sslrootcert).wrap_socket(
                sock, server_hostname=host
            )
        elif answer == b"N" and sslmode == "prefer":
            pass  # server without TLS: continue cleartext
        else:
            sock.close()
            raise PgServerError(
                {"S": "FATAL", "C": "08P01",
                 "M": f"server refused TLS (answer={answer!r}) and "
                      f"sslmode={sslmode} does not allow cleartext"}
            )
    return socket_transport([sock])


def socket_transport(cell: list):
    """``(read, write, close, poll)`` over a mutable 1-element socket
    holder — the transport machinery both wire dials share (the MySQL
    side swaps ``cell[0]`` on its mid-handshake TLS upgrade; the PG
    side's socket is final by the time this is built). ``read(n)``
    blocks for exactly n bytes (b"" only at a clean EOF boundary) and
    keeps a partial prefix across a mid-read timeout; ``poll(t)``
    reports readability within ``t`` seconds, seeing TLS-buffered
    bytes the kernel select cannot."""
    import select

    stash = bytearray()  # bytes received before a mid-read timeout

    def read(n: int) -> bytes:
        buf = bytes(stash[:n])
        del stash[: len(buf)]
        while len(buf) < n:
            try:
                chunk = cell[0].recv(n - len(buf))
            except TimeoutError:
                # a timeout must not DISCARD already-received bytes: the
                # parsers treat a boundary timeout as clean
                # end-of-catch-up and re-enter on the next drain — a
                # header split across TCP segments would otherwise
                # resume mid-frame and desync the stream (code-review
                # r8 finding 4)
                stash[:0] = buf
                raise
            if not chunk:
                return buf  # codecs raise loudly on partial reads
            buf += chunk
        return buf

    def write(b: bytes) -> None:
        cell[0].sendall(b)

    def close() -> None:
        cell[0].close()

    def poll(t: float) -> bool:
        # a TLS socket may hold already-decrypted bytes the kernel
        # select cannot see — treating them as "idle" would end a
        # drain with frames still in hand
        if stash or getattr(cell[0], "pending", lambda: 0)():
            return True
        r, _, _ = select.select([cell[0]], [], [], t)
        return bool(r)

    return read, write, close, poll


def _ssl_kwargs(live: dict) -> dict:
    """TLS options from a ``live:`` config, passed to the transport
    factory only when configured — injected fake duplexes keep their
    3-positional signature."""
    out = {}
    if "sslmode" in live:
        out["sslmode"] = live["sslmode"]
    if "sslrootcert" in live:
        out["sslrootcert"] = live["sslrootcert"]
    return out


def open_session(live: dict, dial=None):
    """``live:`` config → ``(session, close)``: one authenticated
    :class:`PgWireSession` for snapshot COPYs, coordinator queries and
    control-plane DDL. ``dial`` defaults to the module's :func:`dial`,
    looked up per call so a patched module global takes effect. The
    transport is closed if the handshake fails."""
    read, write, close, _poll = (dial or globals()["dial"])(
        live["host"], int(live.get("port", 5432)),
        timeout=float(live.get("timeout", 30.0)),
        **_ssl_kwargs(live),
    )
    try:
        sess = PgWireSession(read, write)
        sess.connect(
            user=live["user"], database=live.get("database", ""),
            password=live.get("password", ""),
        )
    except BaseException:
        close()
        raise
    return sess, close


def live_drain_tcp(live: dict, out_dir: str) -> int:
    """``replication.source.live`` config → one bounded catch-up drain
    over a real TCP connection: one :meth:`LiveReplicationConnection.drain`,
    then ``close()``."""
    conn = LiveReplicationConnection(live, out_dir)
    try:
        return conn.drain()
    finally:
        conn.close()


class LiveReplicationConnection:
    """ONE long-lived replication session reused across heartbeat ticks
    — the reference's publisher holds a single connection with
    keepalive acks (``postgres/publisher_replication.go:75,140``);
    reconnecting per heartbeat churns server slots and re-pays
    startup/auth/START_REPLICATION every tick (r7 "What's missing" 2).

    ``drain()`` pulls everything the server has buffered (poll-bounded:
    returns once the socket stays idle ``idle_timeout`` seconds, or at
    the catch-up LSN — IDENTIFY_SYSTEM's ``xlogpos`` — on the first
    drain) and returns promptly; the CopyBoth session stays open
    between calls. A server-side close (EOF) or transport error tears
    the connection down — the next ``drain()`` reconnects and resumes
    from the durable ack point (the server re-sends from the slot's
    confirmed LSN).

    This is the ``pgwire`` live session of the wire-format table in
    ``tasks/replicate.py`` (``mysql_binlog.MySqlLiveConnection`` is the
    ``mysqlwire`` one): a one-shot drain at activation or stream build
    is one ``drain()`` then ``close()``; the heartbeat loop holds one
    connection across ticks and supervisor retries.

    ``transport_factory`` defaults to :func:`dial`; tests inject a fake
    duplex."""

    def __init__(
        self,
        live: dict,
        out_dir: str,
        transport_factory: Callable[..., tuple] | None = None,
    ):
        self.live = live
        self.out_dir = out_dir
        self._factory = transport_factory or dial
        self._close: Callable[[], None] | None = None
        self._tailer: ReplicationTailer | None = None
        self._read: Callable[[int], bytes] | None = None
        self._poll: Callable[[float], bool] | None = None
        self._server_lsn: int | None = None
        self._eof = False
        self.connects = 0  # observability: how often we re-dialed

    @property
    def connected(self) -> bool:
        return self._close is not None and not self._eof

    def _connect(self) -> None:
        live = self.live
        read, write, close, poll = self._factory(
            live["host"], int(live.get("port", 5432)),
            timeout=float(live.get("timeout", 30.0)),
            **_ssl_kwargs(live),
        )
        self._eof = False

        def tracked_read(n: int) -> bytes:
            b = read(n)
            if len(b) < n:
                self._eof = True  # server closed: reconnect next drain
            return b

        try:
            sess = PgWireSession(
                tracked_read, write, scram_nonce=live.get("scram_nonce")
            )
            sess.connect(
                user=live["user"], database=live["database"],
                password=live.get("password", ""),
            )
            rows = sess.simple_query(identify_system_command())
            self._server_lsn = (
                parse_lsn(rows[0]["xlogpos"])
                if rows and rows[0].get("xlogpos")
                else None
            )
            if live.get("create_slot"):
                try:
                    sess.simple_query(create_slot_command(
                        live.get("slot", "transferia_spark"),
                        plugin=live.get("plugin", "wal2json"),
                    ))
                except PgServerError as e:
                    if e.fields.get("C") != "42710":
                        raise
            start_lsn = (
                parse_lsn(live["start_lsn"])
                if isinstance(live.get("start_lsn"), str)
                else int(live.get("start_lsn", 0))
            )
            sess._write(encode_simple_query(start_replication_command(
                live.get("slot", "transferia_spark"), start_lsn,
                live.get("options"),
            )))
        except BaseException:
            close()
            raise
        self._tailer = ReplicationTailer(
            iter(()), sess.send_copydata, self.out_dir
        )
        self._read = tracked_read
        self._poll = poll
        self._close = close
        self.connects += 1

    def drain(self) -> int:
        """Pull whatever is buffered, flush + ack, return the number of
        XLogData frames written this tick."""
        if not self.connected:
            self.close()
            self._connect()
        try:
            # a FRESH poll-bounded parser per tick over the SAME open
            # CopyBoth session: the previous tick's generator returned
            # (exhausted) when the socket went idle, but the frame
            # boundary is durable — parsing resumes exactly where the
            # last message ended
            self._tailer.recv = message_stream(
                self._read, poll=self._poll,
                idle_timeout=float(self.live.get("idle_timeout", 0.5)),
            )
            n = self._tailer.run(stop_at_lsn=self._server_lsn)
        except BaseException:
            self.close()  # half-parsed stream: resync via reconnect
            raise
        # the catch-up target only bounds the FIRST drain; steady-state
        # ticks are poll-bounded (stopping at a stale xlogpos would
        # re-trigger on every later frame)
        self._server_lsn = None
        if self._eof:
            self.close()
        return n

    def close(self) -> None:
        if self._close is not None:
            try:
                self._close()
            except OSError:
                pass
            self._close = None
        self._tailer = None
        self._read = None
        self._poll = None


def drain_recorded_frames(
    frames_path: str, out_dir: str, send: Callable[[bytes], None] | None = None
) -> int:
    """Replay a RECORDED CopyBoth session (JSON-lines files of
    ``{"frame": "<hex>"}`` — the same capture format the kafka wire
    sink's test transport uses) through the tailer into ``out_dir``;
    capture files an earlier pass drained are skipped
    (``wal_source.drain_new_captures``). Returns the number of XLogData
    frames written this pass."""
    return drain_new_captures(
        frames_path, out_dir,
        lambda frames: ReplicationTailer(
            frames, send or (lambda b: None), out_dir
        ).run(),
    )


__all__ = [
    "PG_EPOCH_OFFSET_US",
    "PgWireSession",
    "ScramClient",
    "encode_password_message",
    "encode_simple_query",
    "encode_startup_message",
    "md5_password",
    "dial",
    "live_drain_tcp",
    "LiveReplicationConnection",
    "PgServerError",
    "decode_error_fields",
    "encode_copydata_message",
    "message_stream",
    "drain_recorded_frames",
    "PrimaryKeepalive",
    "ReplicationTailer",
    "XLogData",
    "create_slot_command",
    "decode_copydata",
    "decode_standby_status",
    "encode_keepalive",
    "encode_standby_status",
    "encode_xlog_data",
    "format_lsn",
    "identify_system_command",
    "parse_lsn",
    "start_replication_command",
]
