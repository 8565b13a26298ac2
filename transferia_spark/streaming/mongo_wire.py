"""Pure-Python MongoDB wire plane: BSON codec + OP_MSG + SCRAM auth.

≈ ``pkg/providers/mongo`` in transferia/transferia, which reads through
the official Go driver; this is the jar-less/driver-less live path the
repo's other storages already have (PG COPY, MySQL SELECT, ClickHouse
HTTP, Kafka wire). Everything here is built from public specs:

- **BSON** (bsonspec.org): the document codec — the full element set a
  CDC/snapshot read meets (double/string/doc/array/binary/ObjectId/
  bool/UTC-datetime/null/regex/int32/timestamp/int64/decimal128).
  Decimal128 decodes as an opaque 16-byte wrapper (exact pass-through;
  arithmetic belongs in the engine, not the codec).
- **OP_MSG** (opcode 2013, MongoDB 3.6+): section-kind-0 command
  bodies; the first ``hello`` rides legacy **OP_QUERY**/OP_REPLY like
  real drivers do, so pre-auth works against any server version.
- **SCRAM-SHA-256 / SCRAM-SHA-1** via ``saslStart``/``saslContinue``
  commands, reusing the repo's RFC 5802/7677 :class:`ScramClient`
  (pg_replication.py); SHA-1 uses Mongo's historical
  ``md5(user:mongo:password)`` derived secret.

The executor-side consumer is :class:`MongoWireClientFactory` — a
picklable ``client_factory`` for :class:`~transferia_spark.sources.
mongo.MongoSource`, presenting the pymongo shape the source already
programs against (``client[db][coll].find/aggregate``,
``list_collection_names``), so the existing ``_id``-range parallel
units gain a LIVE transport with no jar and no pymongo: every Spark
task dials the server and drains exactly one range through
find/getMore cursor batches.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import struct
import threading as _threading

from transferia_spark import durable
from transferia_spark.streaming.wal_source import (
    event_file,
    last_published_event,
    next_file_no,
    read_state,
)

# ----------------------------------------------------------------- BSON


class ObjectId:
    """12-byte BSON ObjectId; compares/sorts by raw bytes (what _id
    range delimiters need) and prints as the canonical 24-hex form."""

    __slots__ = ("raw",)

    def __init__(self, raw: bytes | str):
        if isinstance(raw, str):
            raw = bytes.fromhex(raw)
        if len(raw) != 12:
            raise ValueError("ObjectId needs 12 bytes / 24 hex chars")
        self.raw = bytes(raw)

    def __repr__(self):
        return f"ObjectId({self.raw.hex()!r})"

    def __str__(self):
        return self.raw.hex()

    def __eq__(self, other):
        return isinstance(other, ObjectId) and self.raw == other.raw

    def __lt__(self, other):
        return self.raw < other.raw

    def __hash__(self):
        return hash(self.raw)


class Decimal128:
    """Opaque IEEE 754-2008 decimal128 (16 LE bytes, exact
    pass-through)."""

    __slots__ = ("raw",)

    def __init__(self, raw: bytes):
        if len(raw) != 16:
            raise ValueError("Decimal128 needs 16 bytes")
        self.raw = bytes(raw)

    def __eq__(self, other):
        return isinstance(other, Decimal128) and self.raw == other.raw

    def __repr__(self):
        return f"Decimal128({self.raw.hex()!r})"


class BsonTimestamp:
    """BSON internal timestamp (0x11): (time_t seconds, increment)."""

    __slots__ = ("time", "inc")

    def __init__(self, time: int, inc: int):
        self.time, self.inc = int(time), int(inc)

    def __eq__(self, other):
        return (
            isinstance(other, BsonTimestamp)
            and (self.time, self.inc) == (other.time, other.inc)
        )

    def __lt__(self, other):
        return (self.time, self.inc) < (other.time, other.inc)

    def __hash__(self):
        return hash((self.time, self.inc))

    def __repr__(self):
        return f"BsonTimestamp({self.time}, {self.inc})"


class Int64(int):
    """Force BSON int64 (0x12) regardless of magnitude — MongoDB
    requires it for specific fields (``getMore``'s cursor id rejects
    int32 with TypeMismatch even when the value fits)."""

    __slots__ = ()


class Binary(bytes):
    """bytes + BSON binary subtype (plain bytes encode as subtype 0)."""

    def __new__(cls, data: bytes, subtype: int = 0):
        self = super().__new__(cls, data)
        self.subtype = subtype
        return self


class Regex:
    __slots__ = ("pattern", "options")

    def __init__(self, pattern: str, options: str = ""):
        self.pattern, self.options = pattern, options

    def __eq__(self, other):
        return (
            isinstance(other, Regex)
            and (self.pattern, self.options)
            == (other.pattern, other.options)
        )

    def __repr__(self):
        return f"Regex({self.pattern!r}, {self.options!r})"


_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _cstring(s: str) -> bytes:
    b = s.encode("utf-8")
    if b"\x00" in b:
        raise ValueError("BSON cstring cannot contain NUL")
    return b + b"\x00"


def encode_document(doc) -> bytes:
    """dict (ordered) → BSON document bytes."""
    body = bytearray()
    for k, v in doc.items():
        body += _encode_element(k, v)
    return struct.pack("<i", len(body) + 5) + bytes(body) + b"\x00"


def _encode_element(k: str, v) -> bytes:
    name = _cstring(k)
    if v is None:
        return b"\x0a" + name
    if isinstance(v, bool):  # before int — bool is an int subclass
        return b"\x08" + name + (b"\x01" if v else b"\x00")
    if isinstance(v, float):
        return b"\x01" + name + struct.pack("<d", v)
    if isinstance(v, Int64):
        return b"\x12" + name + struct.pack("<q", v)
    if isinstance(v, int):
        if -(2**31) <= v < 2**31:
            return b"\x10" + name + struct.pack("<i", v)
        return b"\x12" + name + struct.pack("<q", v)
    if isinstance(v, str):
        b = v.encode("utf-8") + b"\x00"
        return b"\x02" + name + struct.pack("<i", len(b)) + b
    if isinstance(v, ObjectId):
        return b"\x07" + name + v.raw
    if isinstance(v, Decimal128):
        return b"\x13" + name + v.raw
    if isinstance(v, BsonTimestamp):
        return b"\x11" + name + struct.pack("<II", v.inc, v.time)
    if isinstance(v, Binary):
        return (
            b"\x05" + name + struct.pack("<i", len(v))
            + bytes([v.subtype]) + bytes(v)
        )
    if isinstance(v, (bytes, bytearray)):
        return (
            b"\x05" + name + struct.pack("<i", len(v)) + b"\x00" + bytes(v)
        )
    if isinstance(v, _dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=_dt.timezone.utc)
        ms = int(v.timestamp() * 1000)
        return b"\x09" + name + struct.pack("<q", ms)
    if isinstance(v, Regex):
        return b"\x0b" + name + _cstring(v.pattern) + _cstring(v.options)
    if isinstance(v, dict):
        return b"\x03" + name + encode_document(v)
    if isinstance(v, (list, tuple)):
        return b"\x04" + name + encode_document(
            {str(i): x for i, x in enumerate(v)}
        )
    raise TypeError(f"cannot BSON-encode {type(v).__name__}")


def decode_document(data: bytes, pos: int = 0):
    """BSON document bytes → (dict, end_pos)."""
    (ln,) = struct.unpack_from("<i", data, pos)
    end = pos + ln
    if data[end - 1] != 0:
        raise ValueError("BSON document missing terminator")
    pos += 4
    out: dict = {}
    while pos < end - 1:
        t = data[pos]
        pos += 1
        nul = data.index(b"\x00", pos)
        k = data[pos:nul].decode("utf-8")
        pos = nul + 1
        out[k], pos = _decode_value(t, data, pos)
    return out, end


def _decode_value(t: int, data: bytes, pos: int):
    if t == 0x01:
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if t == 0x02 or t == 0x0D:  # string / JS code
        (ln,) = struct.unpack_from("<i", data, pos)
        pos += 4
        return data[pos:pos + ln - 1].decode("utf-8"), pos + ln
    if t == 0x03:
        return decode_document(data, pos)
    if t == 0x04:
        doc, pos = decode_document(data, pos)
        return [doc[str(i)] for i in range(len(doc))], pos
    if t == 0x05:
        (ln,) = struct.unpack_from("<i", data, pos)
        sub = data[pos + 4]
        pos += 5
        return Binary(data[pos:pos + ln], sub), pos + ln
    if t == 0x06:  # undefined (deprecated)
        return None, pos
    if t == 0x07:
        return ObjectId(data[pos:pos + 12]), pos + 12
    if t == 0x08:
        return data[pos] != 0, pos + 1
    if t == 0x09:
        (ms,) = struct.unpack_from("<q", data, pos)
        return _EPOCH + _dt.timedelta(milliseconds=ms), pos + 8
    if t == 0x0A:
        return None, pos
    if t == 0x0B:
        nul = data.index(b"\x00", pos)
        pat = data[pos:nul].decode("utf-8")
        pos = nul + 1
        nul = data.index(b"\x00", pos)
        opts = data[pos:nul].decode("utf-8")
        return Regex(pat, opts), nul + 1
    if t == 0x10:
        return struct.unpack_from("<i", data, pos)[0], pos + 4
    if t == 0x11:
        inc, tm = struct.unpack_from("<II", data, pos)
        return BsonTimestamp(tm, inc), pos + 8
    if t == 0x12:
        return struct.unpack_from("<q", data, pos)[0], pos + 8
    if t == 0x13:
        return Decimal128(data[pos:pos + 16]), pos + 16
    raise ValueError(f"unsupported BSON element type 0x{t:02x}")


# ------------------------------------------------------------ wire ops

OP_REPLY = 1
OP_QUERY = 2004
OP_MSG = 2013


def encode_op_msg(body: dict, request_id: int) -> bytes:
    doc = encode_document(body)
    ln = 16 + 4 + 1 + len(doc)  # header + flagBits + section kind 0
    return (
        struct.pack("<iiii", ln, request_id, 0, OP_MSG)
        + struct.pack("<i", 0)  # flagBits
        + b"\x00"  # section kind 0: body
        + doc
    )


def decode_op_msg(frame: bytes) -> dict:
    ln, _req, _resp, opcode = struct.unpack_from("<iiii", frame, 0)
    if opcode != OP_MSG:
        raise ValueError(f"expected OP_MSG, got opcode {opcode}")
    pos = 16 + 4  # header + flagBits
    kind = frame[pos]
    pos += 1
    if kind != 0:
        raise ValueError(f"unsupported OP_MSG section kind {kind}")
    doc, _ = decode_document(frame, pos)
    return doc


def encode_op_query(
    collection: str, query: dict, request_id: int, n_return: int = -1
) -> bytes:
    doc = encode_document(query)
    body = (
        struct.pack("<i", 0)  # flags
        + _cstring(collection)
        + struct.pack("<ii", 0, n_return)
        + doc
    )
    return struct.pack("<iiii", 16 + len(body), request_id, 0, OP_QUERY) + body


def decode_op_reply(frame: bytes) -> list[dict]:
    ln, _req, _resp, opcode = struct.unpack_from("<iiii", frame, 0)
    if opcode != OP_REPLY:
        raise ValueError(f"expected OP_REPLY, got opcode {opcode}")
    _flags, _cursor, _start, n = struct.unpack_from("<iqii", frame, 16)
    pos = 16 + 20
    docs = []
    for _ in range(n):
        doc, pos = decode_document(frame, pos)
        docs.append(doc)
    return docs


# --------------------------------------------------------------- client


class MongoServerError(RuntimeError):
    def __init__(self, doc: dict):
        super().__init__(
            f"mongo command failed (code {doc.get('code')}): "
            f"{doc.get('errmsg', doc)}"
        )
        self.doc = doc


class MongoWireClient:
    """Blocking single-connection command client: hello (legacy
    OP_QUERY), optional SCRAM auth, then OP_MSG commands with
    find/getMore cursor draining.

    Given ``seeds`` (a resolved ``+srv`` seedlist or a multi-host
    ``mongodb://`` authority), the constructor dials them IN ORDER
    with failover — a dead first seed just moves on, the Kafka
    bootstrap pattern — and discovers the topology from each node's
    ``hello``: replica-set members the seeds didn't name are enqueued
    from ``hello.hosts``/``hello.primary``, ``replica_set`` must match
    the node's ``setName``, and ``read_preference`` picks the node
    (``primary`` redials the reported primary; ``secondaryPreferred``
    settles for the primary only when no secondary answers; etc.).
    ``direct_connection`` skips discovery and takes the first node
    that answers — the spec's escape hatch.
    ≈ pkg/providers/mongo/client.go (the official driver's SDAM,
    reduced to one blocking dial)."""

    _MAX_DISCOVERY_DIALS = 16

    def __init__(
        self,
        host: str | None = None,
        port: int = 27017,
        timeout: float = 30.0,
        user: str | None = None,
        password: str = "",
        auth_source: str = "admin",
        auth_mechanism: str = "SCRAM-SHA-256",
        tls: bool = False,
        tls_ca: str | None = None,
        tls_insecure: bool = False,
        seeds: list[tuple[str, int]] | None = None,
        read_preference: str = "primary",
        replica_set: str | None = None,
        direct_connection: bool = False,
    ):
        self._req = 0
        self._tls = (tls or bool(tls_ca), tls_ca, tls_insecure)
        self._timeout = timeout
        queue = [tuple(s) for s in (seeds or [])]
        if not queue:
            queue = [(host or "127.0.0.1", port)]
        pref = (read_preference or "primary").replace("_", "").lower()
        if pref not in ("primary", "primarypreferred", "secondary",
                        "secondarypreferred", "nearest"):
            raise ValueError(
                f"unsupported readPreference {read_preference!r}"
            )
        self._sock, self.hello, self.node = self._dial_seedlist(
            queue, pref, replica_set,
            direct_connection or (len(queue) == 1 and not seeds),
        )
        try:
            if user is not None:
                self._authenticate(
                    user, password, auth_source, auth_mechanism
                )
        except BaseException:
            self._sock.close()
            raise

    def _dial_node(self, host: str, port: int):
        """One (connect, TLS, hello) attempt → (socket, hello doc)."""
        import socket

        sock = socket.create_connection((host, port),
                                        timeout=self._timeout)
        sock.settimeout(self._timeout)
        tls, tls_ca, tls_insecure = self._tls
        if tls:
            # Mongo TLS is implicit from byte 0 (no STARTTLS), same as
            # Kafka — managed deployments (Atlas-style) require it.
            # Same three-mode trust ladder as the Kafka/PG/MySQL
            # planes. ≈ pkg/providers/mongo/client.go TLS options.
            from transferia_spark.streaming.tlsutil import wrap_client_tls

            try:
                sock = wrap_client_tls(
                    sock, host, tls_ca=tls_ca, tls_insecure=tls_insecure,
                )
                sock.settimeout(self._timeout)
            except BaseException:
                sock.close()
                raise
        try:
            self._sock = sock  # _hello/_recv use the instance socket
            hello = self._hello()
            # OP_MSG needs wire version >= 6 (server 3.6) — older
            # servers would answer protocol garbage; fail with the
            # reason instead
            max_wire = int(hello.get("maxWireVersion", 0))
            if max_wire < 6:
                raise MongoServerError({
                    "code": 0,
                    "errmsg": (
                        f"server speaks maxWireVersion {max_wire} "
                        "(< 6, MongoDB 3.6) — the OP_MSG command "
                        "plane this client uses is not supported"
                    ),
                })
        except BaseException:
            sock.close()
            raise
        return sock, hello

    def _dial_seedlist(self, queue, pref, replica_set, direct):
        """Walk the seedlist (plus hello-discovered members) until a
        node satisfies the read preference; keep the best
        non-preferred node as the fallback for *Preferred modes."""
        errors: list[str] = []
        dial_excs: list[BaseException] = []
        tried: set[tuple[str, int]] = set()
        fallback = None  # (sock, hello, node) for the *Preferred modes
        dials = 0
        i = 0
        while i < len(queue) and dials < self._MAX_DISCOVERY_DIALS:
            node = queue[i]
            i += 1
            if node in tried:
                continue
            tried.add(node)
            dials += 1
            try:
                sock, hello = self._dial_node(*node)
            except (OSError, ValueError, MongoServerError) as e:
                errors.append(f"{node[0]}:{node[1]}: {e}")
                dial_excs.append(e)
                continue
            if direct:
                return sock, hello, node
            set_name = hello.get("setName")
            if replica_set and set_name != replica_set:
                sock.close()
                errors.append(
                    f"{node[0]}:{node[1]}: setName {set_name!r} != "
                    f"replicaSet {replica_set!r}"
                )
                continue
            # topology discovery: members the seeds didn't name
            discovered = list(hello.get("hosts") or [])
            if hello.get("primary"):
                discovered.insert(0, hello["primary"])
            ins = i
            for hp in discovered:
                member = _split_host_port(hp)
                if member not in tried and member not in queue[i:]:
                    # discovered members jump the remaining seeds IN
                    # ORDER (the reported primary leads the list) — a
                    # fixed-index insert would reverse them and dial
                    # the primary last (code-review r13)
                    queue.insert(ins, member)
                    ins += 1
            is_primary = bool(
                hello.get("isWritablePrimary", hello.get("ismaster"))
            )
            is_secondary = bool(hello.get("secondary"))
            standalone = set_name is None and not is_secondary
            if pref == "nearest" or standalone:
                if fallback is not None:
                    fallback[0].close()
                return sock, hello, node
            if pref in ("primary", "primarypreferred"):
                if is_primary:
                    if fallback is not None:
                        fallback[0].close()
                    return sock, hello, node
                if pref == "primarypreferred" and fallback is None:
                    fallback = (sock, hello, node)
                    continue
            else:  # secondary / secondarypreferred
                if is_secondary:
                    if fallback is not None:
                        fallback[0].close()
                    return sock, hello, node
                if pref == "secondarypreferred" and fallback is None:
                    fallback = (sock, hello, node)
                    continue
            sock.close()
            errors.append(
                f"{node[0]}:{node[1]}: role "
                f"{'primary' if is_primary else 'secondary' if is_secondary else 'arbiter/ghost'}"
                f" does not satisfy readPreference={pref}"
            )
        if fallback is not None:
            return fallback
        if dials == 1 and len(dial_excs) == 1:
            # one node, one dial-time failure: surface it with its own
            # type (ssl.SSLError, auth MongoServerError, ECONNREFUSED…)
            # — the single-host error contract predates failover
            raise dial_excs[0]
        raise ConnectionError(
            f"no mongo node satisfied readPreference={pref} after "
            f"{dials} dial(s): " + "; ".join(errors)
        )

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass

    # -- transport ------------------------------------------------------

    def _recv_exact(self, n: int) -> bytes:
        out = b""
        while len(out) < n:
            chunk = self._sock.recv(n - len(out))
            if not chunk:
                raise ConnectionError("server closed mid-response")
            out += chunk
        return out

    def _recv_frame(self) -> bytes:
        head = self._recv_exact(4)
        (ln,) = struct.unpack("<i", head)
        return head + self._recv_exact(ln - 4)

    def _next_req(self) -> int:
        self._req += 1
        return self._req

    def _hello(self) -> dict:
        self._sock.sendall(
            encode_op_query("admin.$cmd", {"hello": 1}, self._next_req())
        )
        frame = self._recv_frame()
        opcode = struct.unpack_from("<i", frame, 12)[0]
        # modern servers may answer hello with OP_MSG even to OP_QUERY?
        # No — OP_QUERY gets OP_REPLY; keep the strict path and let a
        # protocol violation be loud.
        [doc] = decode_op_reply(frame) if opcode == OP_REPLY else [
            decode_op_msg(frame)
        ]
        if not doc.get("ok"):
            raise MongoServerError(doc)
        return doc

    def command(self, db: str, body: dict) -> dict:
        """One OP_MSG command against ``db``; non-ok raises with the
        server's code/errmsg. The reply's ``responseTo`` must match the
        request id we sent — on a SHARED socket a previous exchange
        that died between send and a full read leaves its late reply
        in the stream, and accepting it as this call's answer would
        silently return the wrong documents (code-review r14); the
        mismatch raises ConnectionError (an OSError) so pooled callers
        evict and redial."""
        body = {**body, "$db": db}
        req = self._next_req()
        self._sock.sendall(encode_op_msg(body, req))
        frame = self._recv_frame()
        resp_to = struct.unpack_from("<i", frame, 8)[0]
        if resp_to != req:
            raise ConnectionError(
                f"out-of-sync OP_MSG reply (responseTo={resp_to}, "
                f"expected {req}): a previous exchange on this socket "
                "died mid-reply — the connection must be redialed"
            )
        doc = decode_op_msg(frame)
        if not doc.get("ok"):
            raise MongoServerError(doc)
        return doc

    # -- auth -------------------------------------------------------------

    def _authenticate(
        self, user: str, password: str, source: str, mechanism: str
    ) -> None:
        from transferia_spark.streaming.pg_replication import ScramClient

        mech = mechanism.upper()
        if mech == "SCRAM-SHA-256":
            secret, algo = password, "sha256"
        elif mech == "SCRAM-SHA-1":
            # Mongo's historical derived secret (public auth spec):
            # md5hex("user:mongo:password") is the SCRAM password
            import hashlib

            secret = hashlib.md5(
                f"{user}:mongo:{password}".encode()
            ).hexdigest()
            algo = "sha1"
        else:
            raise ValueError(
                f"unsupported auth_mechanism {mechanism!r} "
                "(SCRAM-SHA-256 or SCRAM-SHA-1)"
            )
        scram = ScramClient(
            user, secret, scram_username=user, algo=algo
        )
        first = self.command(source, {
            "saslStart": 1,
            "mechanism": mech,
            "payload": Binary(scram.client_first()),
            "options": {"skipEmptyExchange": True},
        })
        final = self.command(source, {
            "saslContinue": 1,
            "conversationId": first["conversationId"],
            "payload": Binary(
                scram.client_final(bytes(first["payload"]))
            ),
        })
        scram.verify_server_final(bytes(final["payload"]))
        while not final.get("done"):
            # servers without skipEmptyExchange need one empty round
            final = self.command(source, {
                "saslContinue": 1,
                "conversationId": first["conversationId"],
                "payload": Binary(b""),
            })

    # -- cursors -----------------------------------------------------------

    def drain_cursor(
        self,
        db: str,
        collection: str,
        first_doc: dict,
        batch_size: int = 1000,
        max_time_ms: int | None = None,
        stop_on_empty_batch: bool = False,
        on_batch=None,
    ):
        """Yield documents from a command's cursor, following getMore —
        each batch is O(batch_size) client memory, never O(result).
        The cursor id travels as an explicit BSON int64 (servers
        reject int32 there even when the value fits — code-review
        r11). ``stop_on_empty_batch`` is the tailable-cursor caught-up
        signal change-stream drains stop on. ``on_batch(cursor)`` sees
        each reply's cursor document once its documents were yielded
        (change-stream drains read ``postBatchResumeToken`` there)."""
        cur = first_doc["cursor"]
        batch = cur["firstBatch"]
        cid = cur["id"]
        yield from batch
        if on_batch is not None:
            on_batch(cur)
        while cid and (batch or not stop_on_empty_batch):
            body: dict = {
                "getMore": Int64(cid),
                "collection": collection,
                "batchSize": batch_size,
            }
            if max_time_ms is not None:
                body["maxTimeMS"] = max_time_ms
            cur = self.command(db, body)["cursor"]
            batch = cur["nextBatch"]
            cid = cur["id"]
            yield from batch
            if on_batch is not None:
                on_batch(cur)

    def find(
        self,
        db: str,
        collection: str,
        filter: dict | None = None,
        sort: dict | None = None,
        limit: int = 0,
        batch_size: int = 1000,
        projection: dict | None = None,
    ):
        body: dict = {
            "find": collection,
            "filter": filter or {},
            "batchSize": batch_size,
        }
        if sort:
            body["sort"] = sort
        if limit:
            body["limit"] = limit
        if projection:
            body["projection"] = projection
        return self.drain_cursor(
            db, collection, self.command(db, body), batch_size
        )

    def aggregate(
        self, db: str, collection: str, pipeline: list, batch_size: int = 1000
    ):
        doc = self.command(db, {
            "aggregate": collection,
            "pipeline": list(pipeline),
            "cursor": {"batchSize": batch_size},
        })
        return self.drain_cursor(db, collection, doc, batch_size)

    def list_collection_names(self, db: str) -> list[str]:
        doc = self.command(db, {"listCollections": 1, "nameOnly": True})
        return [d["name"] for d in doc["cursor"]["firstBatch"]]


# --------------------------------------------------- DNS SRV (+srv URIs)


def _dns_encode_name(name: str) -> bytes:
    out = bytearray()
    for label in name.rstrip(".").split("."):
        b = label.encode("idna") if label else b""
        if not 0 < len(b) < 64:
            raise ValueError(f"bad DNS label in {name!r}")
        out.append(len(b))
        out += b
    out.append(0)
    return bytes(out)


def _dns_read_name(data: bytes, pos: int) -> tuple[str, int]:
    """Parse a possibly-compressed DNS name (RFC 1035 §4.1.4)."""
    labels = []
    jumped = False
    end = pos
    hops = 0
    while True:
        ln = data[pos]
        if ln & 0xC0 == 0xC0:  # compression pointer
            if not jumped:
                end = pos + 2
            pos = ((ln & 0x3F) << 8) | data[pos + 1]
            jumped = True
            hops += 1
            if hops > 64:
                raise ValueError("DNS name compression loop")
            continue
        pos += 1
        if ln == 0:
            if not jumped:
                end = pos
            return ".".join(labels), end
        labels.append(data[pos:pos + ln].decode("ascii",
                                                errors="replace"))
        pos += ln


def _dns_query_tcp(msg: bytes, host: str, port: int,
                   timeout: float) -> bytes:
    """RFC 1035 §4.2.2 TCP transport: the same question with a 2-byte
    length prefix — the fallback when a UDP answer arrives truncated
    (TC bit), e.g. a large Atlas replica set's SRV answer."""
    import socket
    import struct as _struct

    with socket.create_connection((host, port), timeout=timeout) as s:
        s.settimeout(timeout)
        s.sendall(_struct.pack(">H", len(msg)) + msg)
        head = b""
        while len(head) < 2:
            chunk = s.recv(2 - len(head))
            if not chunk:
                raise ValueError("DNS TCP peer closed before length")
            head += chunk
        (ln,) = _struct.unpack(">H", head)
        data = b""
        while len(data) < ln:
            chunk = s.recv(ln - len(data))
            if not chunk:
                raise ValueError("DNS TCP peer closed mid-message")
            data += chunk
    return data


def _dns_query(name: str, qtype: int, resolver: str,
               timeout: float = 5.0) -> list[tuple[int, bytes, bytes]]:
    """One DNS question → [(type, rdata, full_message)] answer records
    (RFC 1035). UDP first with one retry on timeout; replies from a
    peer other than the resolver are ignored (off-path spoof
    hardening); a truncated reply (TC bit) re-asks over TCP — a large
    replica-set seedlist can overflow one UDP datagram."""
    import socket
    import struct as _struct

    import time as _time

    qid = int.from_bytes(os.urandom(2), "big")
    msg = _struct.pack(">HHHHHH", qid, 0x0100, 1, 0, 0, 0)
    msg += _dns_encode_name(name) + _struct.pack(">HH", qtype, 1)
    host, _, port = resolver.partition(":")
    port_n = int(port or 53)
    # resolve the resolver ONCE and send to that same address — a
    # multi-A resolver hostname resolved independently by sendto could
    # answer from an address the stranger filter then discards
    # (advisor r13)
    try:
        resolver_ip = socket.gethostbyname(host)
    except OSError:
        resolver_ip = host
    data = None
    for attempt in (1, 2):  # one retry on a lost datagram
        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        try:
            sock.sendto(msg, (resolver_ip, port_n))
            # wall-clock deadline across the stranger-skipping loop:
            # each spoofed packet must not re-arm the full timeout
            deadline = _time.monotonic() + timeout
            try:
                while True:
                    remaining = deadline - _time.monotonic()
                    if remaining <= 0:
                        data = None
                        break
                    sock.settimeout(remaining)
                    data, addr = sock.recvfrom(4096)
                    if addr[0] == resolver_ip and addr[1] == port_n:
                        break
                    data = None  # answer from a stranger — keep waiting
            except TimeoutError:
                data = None
        finally:
            sock.close()
        if data is not None:
            break
        if attempt == 2:
            raise TimeoutError(
                f"DNS query {name!r} to {resolver} timed out "
                f"({timeout}s × 2 attempts)"
            )
    if data[:2] != qid.to_bytes(2, "big"):
        raise ValueError("DNS response id mismatch")
    flags = _struct.unpack_from(">H", data, 2)[0]
    if flags & 0x0200:  # TC: answer truncated — re-ask over TCP
        data = _dns_query_tcp(msg, host, port_n, timeout)
    rid, flags, qd, an, _ns, _ar = _struct.unpack_from(">HHHHHH", data, 0)
    if rid != qid:
        raise ValueError("DNS response id mismatch")
    rcode = flags & 0xF
    if rcode:
        raise ValueError(
            f"DNS query {name!r} type {qtype} failed (rcode {rcode})"
        )
    pos = 12
    for _ in range(qd):
        _n, pos = _dns_read_name(data, pos)
        pos += 4
    out = []
    for _ in range(an):
        _n, pos = _dns_read_name(data, pos)
        rtype, _cls, _ttl, rdlen = _struct.unpack_from(">HHIH", data, pos)
        pos += 10
        # (type, rdata offset, rdata length, whole message) — names
        # inside rdata may carry compression pointers into the rest of
        # the message, so the slice alone cannot be parsed
        out.append((rtype, pos, rdlen, data))
        pos += rdlen
    return out


# TXT options the seedlist spec allows a DNS record to set; anything
# else (e.g. tlsInsecure) is REJECTED loudly — DNS is unauthenticated,
# so a spoofed TXT record must not be able to weaken the connection
# (spec security MUST; advisor finding r12).
_SRV_TXT_ALLOWED = frozenset({"authSource", "replicaSet",
                              "loadBalanced"})


def srv_target_in_parent_domain(target: str, hostname: str) -> bool:
    """Seedlist-spec security MUST: an SRV target is only a valid seed
    when it sits at or under the queried hostname's PARENT domain
    (``cluster0.example.com`` → targets must end in ``example.com``);
    anything else is a DNS redirect, not a seed."""
    labels = hostname.rstrip(".").split(".")
    parent = ".".join(labels[1:]).lower()
    t = target.rstrip(".").lower()
    return bool(parent) and (t == parent or t.endswith("." + parent))


def _weighted_seed_order(
    groups: dict[int, list[tuple[str, int, int]]], rng
) -> list[tuple[str, int]]:
    """RFC 2782 selection: ascending priority groups; within a group,
    repeated weighted-random draws (weight-0 targets last-ish). With a
    seeded ``rng`` the order is deterministic — tests pin it."""
    out: list[tuple[str, int]] = []
    for prio in sorted(groups):
        pool = list(groups[prio])
        while pool:
            total = sum(w for _t, _p, w in pool)
            if total == 0:
                pick = rng.randrange(len(pool))
            else:
                point = rng.randrange(total)
                acc = 0
                pick = 0
                for i, (_t, _p, w) in enumerate(pool):
                    acc += w
                    if point < acc:
                        pick = i
                        break
            t, p, _w = pool.pop(pick)
            out.append((t, p))
    return out


def resolve_srv_seedlist(
    hostname: str,
    resolver: str | None = None,
    timeout: float = 5.0,
    service: str = "mongodb",
    rng=None,
) -> tuple[list[tuple[str, int]], dict]:
    """``mongodb+srv`` resolution per the public MongoDB seedlist
    spec: SRV records at ``_<service>._tcp.<host>`` give the seed
    (target, port) list — priority groups ascending, weighted-random
    order within a group (RFC 2782) — and the single TXT record at
    ``<host>`` carries default URI options. Spec MUSTs enforced here:
    the query hostname needs ≥3 labels, every SRV target must end with
    the hostname's parent domain (an out-of-domain record is a
    redirect attack, not a seed), at most one TXT record may exist,
    and TXT keys outside authSource/replicaSet/loadBalanced are
    rejected (DNS must not weaken TLS). Pure stdlib DNS — the same
    no-install stance as the rest of the wire plane. The resolver
    defaults to the first nameserver in /etc/resolv.conf."""
    import struct as _struct

    if resolver is None:
        resolver = "127.0.0.53"
        try:
            with open("/etc/resolv.conf") as f:
                for line in f:
                    parts = line.split()
                    if len(parts) >= 2 and parts[0] == "nameserver":
                        resolver = parts[1]
                        break
        except OSError:
            pass
    labels = hostname.rstrip(".").split(".")
    if len(labels) < 3:
        raise ValueError(
            "mongodb+srv hostnames need at least three labels "
            f"(host.domain.tld), got {hostname!r}"
        )
    parent = ".".join(labels[1:]).lower()
    groups: dict[int, list[tuple[str, int, int]]] = {}
    for rtype, off, _rdlen, msg in _dns_query(
        f"_{service}._tcp.{hostname}", 33, resolver, timeout
    ):
        if rtype != 33:
            continue  # CNAME chains ride along; only SRV carries seeds
        prio, weight, port = _struct.unpack_from(">HHH", msg, off)
        # the target name may carry compression pointers into the
        # question section — parse against the whole message
        target, _end = _dns_read_name(msg, off + 6)
        if not srv_target_in_parent_domain(target, hostname):
            raise ValueError(
                f"mongodb+srv: SRV target {target!r} is outside the "
                f"queried parent domain {parent!r} (seedlist spec "
                "rejects out-of-domain redirects)"
            )
        groups.setdefault(prio, []).append((target, port, weight))
    if not groups:
        raise ValueError(
            f"mongodb+srv: no SRV records at _{service}._tcp.{hostname}"
        )
    if rng is None:
        import random

        rng = random.Random()
    seeds = _weighted_seed_order(groups, rng)
    options: dict = {}
    try:
        answers = _dns_query(hostname, 16, resolver, timeout)
    except (ValueError, TimeoutError):
        answers = []  # no TXT record (NXDOMAIN/timeout) is common
    txt_records = [
        (off, rdlen, msg)
        for rtype, off, rdlen, msg in answers
        if rtype == 16
    ]
    if len(txt_records) > 1:
        raise ValueError(
            f"mongodb+srv: {len(txt_records)} TXT records at "
            f"{hostname} — the seedlist spec allows at most one"
        )
    for off, rdlen, msg in txt_records:
        pos, end, txt = off, off + rdlen, []
        while pos < end:
            ln = msg[pos]
            txt.append(msg[pos + 1:pos + 1 + ln].decode())
            pos += 1 + ln
        import urllib.parse

        for k, v in urllib.parse.parse_qsl("".join(txt)):
            if k not in _SRV_TXT_ALLOWED:
                raise ValueError(
                    f"mongodb+srv: TXT option {k!r} at {hostname} "
                    "is not in the seedlist spec's allowlist "
                    "(authSource/replicaSet/loadBalanced) — "
                    "refusing DNS-supplied connection options"
                )
            options[k] = v
    return seeds, options


# --------------------------------------------- pymongo-shaped adapter


def _split_host_port(hp: str, default_port: int = 27017
                     ) -> tuple[str, int]:
    """One ``host[:port]`` token, bracketed IPv6 literals included."""
    hp = hp.strip()
    if hp.startswith("["):
        host, _, rest = hp[1:].partition("]")
        port = rest.lstrip(":")
        return host, int(port) if port else default_port
    host, _, port = hp.partition(":")
    if not host:
        raise ValueError(f"empty host in mongo uri seed {hp!r}")
    return host, int(port) if port else default_port


def parse_mongo_uri(uri: str, srv_resolver: str | None = None) -> dict:
    """``mongodb://`` and ``mongodb+srv://`` URI parse (authSource,
    authMechanism and the standard TLS options honored: ``tls``/
    ``ssl``, ``tlsCAFile``, ``tlsInsecure``/
    ``tlsAllowInvalidCertificates``; plus the topology options
    ``readPreference``, ``replicaSet``, ``directConnection``,
    ``srvMaxHosts``). Multi-host ``mongodb://h1,h2:p2/...`` URIs and
    resolved ``+srv`` seedlists land in ``seeds`` — the client dials
    them in order with failover and hello-based primary discovery
    (r13; previously only the first seed was dialed). ``+srv``
    resolves via DNS (TXT options as defaults; TLS on unless
    explicitly disabled) — ``srv_resolver`` overrides the system
    nameserver, for tests."""
    import urllib.parse

    u = urllib.parse.urlsplit(uri)
    # netloc by hand: urlsplit cannot represent multi-host authorities
    # (mongodb://h1:p1,h2:p2) — u.port would raise on access
    userinfo, _, hostpart = u.netloc.rpartition("@")
    username = password = None
    if userinfo:
        user_enc, sep, pass_enc = userinfo.partition(":")
        # an empty username stays None — 'mongodb://:pw@h/' must not
        # trigger a SCRAM attempt with user '' (code-review r13)
        username = urllib.parse.unquote(user_enc) if user_enc else None
        password = urllib.parse.unquote(pass_enc) if sep else None
    q = dict(urllib.parse.parse_qsl(u.query))
    if u.scheme == "mongodb+srv":
        # the public seedlist spec: SRV records give the seeds, the
        # TXT record gives default options, TLS defaults ON
        # (r12 — previously a loud error; the DNS client is pure
        # stdlib like the rest of the wire plane)
        if ":" in hostpart or "," in hostpart:
            raise ValueError(
                "mongodb+srv URIs must not carry a port or more than "
                "one hostname"
            )
        seeds, txt_opts = resolve_srv_seedlist(
            hostpart, resolver=srv_resolver
        )
        q = {**txt_opts, **q}  # URI options win over TXT defaults
        q.setdefault("tls", "true")
        max_hosts = int(q.get("srvMaxHosts", 0))
        if max_hosts > 0:
            # the resolver already weighted-shuffled within priority
            # groups, so the prefix IS the spec's random selection
            seeds = seeds[:max_hosts]
    elif u.scheme in ("mongodb", ""):
        seeds = [
            _split_host_port(hp)
            for hp in (hostpart.split(",") if hostpart else [])
        ] or [("127.0.0.1", 27017)]
    else:
        raise ValueError(f"unsupported mongo uri scheme {u.scheme!r}")

    def flag(*names: str) -> bool:
        return any(
            str(q.get(n, "false")).lower() in ("true", "1", "yes")
            for n in names
        )

    return {
        "host": seeds[0][0],
        "port": seeds[0][1],
        "seeds": seeds,
        "user": username,
        "password": password or "",
        "auth_source": q.get("authSource", "admin"),
        "auth_mechanism": q.get("authMechanism", "SCRAM-SHA-256"),
        "tls": flag("tls", "ssl"),
        "tls_ca": q.get("tlsCAFile"),
        "tls_insecure": flag("tlsInsecure",
                             "tlsAllowInvalidCertificates"),
        "read_preference": q.get("readPreference", "primary"),
        "replica_set": q.get("replicaSet"),
        "direct_connection": flag("directConnection"),
    }


class _WireCollection:
    def __init__(self, client: MongoWireClient, db: str, name: str):
        self._c, self._db, self._name = client, db, name

    def find(self, filter=None, sort=None, **kw):
        return self._c.find(
            self._db, self._name, filter=filter,
            sort=dict(sort) if sort else None, **kw,
        )

    def aggregate(self, pipeline, **kw):
        return self._c.aggregate(self._db, self._name, pipeline, **kw)


class _WireDatabase:
    def __init__(self, client: MongoWireClient, db: str):
        self._c, self._db = client, db

    def list_collection_names(self):
        return self._c.list_collection_names(self._db)

    def __getitem__(self, name: str) -> _WireCollection:
        return _WireCollection(self._c, self._db, name)


class MongoWireAdapter:
    """The pymongo shape :class:`MongoSource` programs against, over
    one wire client."""

    def __init__(self, uri: str, timeout: float = 30.0):
        import urllib.parse

        self._client = MongoWireClient(
            timeout=timeout, **parse_mongo_uri(uri)
        )
        # retryWrites URI flag (default true, like pymongo) — some
        # Mongo-compatible services (e.g. ones that advertise a
        # setName but reject txnNumber) require retryWrites=false
        q = dict(urllib.parse.parse_qsl(
            urllib.parse.urlsplit(uri).query
        ))
        self._retry_writes = str(
            q.get("retryWrites", "true")
        ).lower() not in ("false", "0", "no")

    def __getitem__(self, db: str) -> _WireDatabase:
        return _WireDatabase(self._client, db)

    def command(self, db: str, body: dict) -> dict:
        """Raw OP_MSG command passthrough (the wire applier's write
        commands ride this; pymongo's Database.command analog)."""
        return self._client.command(db, body)

    def supports_retryable_writes(self) -> bool:
        """True when write commands should carry ``lsid``/``txnNumber``
        (retryable writes): the target is a replica-set member or
        mongos advertising logical sessions AND the URI did not say
        ``retryWrites=false``. A shard-key-changing update REQUIRES a
        retryable write or transaction on mongos ≥4.2; standalones
        REJECT ``txnNumber`` ("Transaction numbers are only allowed on
        a replica set member or mongos") and pre-3.6 servers know no
        sessions. The caller owns the session id and numbers so a
        redial-and-retry resends the SAME txnNumber and the server
        dedupes the replay (the retryable-writes spec contract)."""
        if not self._retry_writes:
            return False
        h = self._client.hello or {}
        return "logicalSessionTimeoutMinutes" in h and bool(
            h.get("setName") or h.get("msg") == "isdbgrid"
        )

    def close(self):
        self._client.close()


def bson_to_jsonable(v):
    """BSON value → JSON-safe value for the recorded change-stream
    format (ObjectId/Binary/Decimal128 → hex strings, datetimes → ISO,
    internal timestamps → {t, i}; containers recurse)."""
    if isinstance(v, ObjectId):
        return v.raw.hex()
    if isinstance(v, BsonTimestamp):
        return {"t": v.time, "i": v.inc}
    if isinstance(v, Decimal128):
        return v.raw.hex()
    if isinstance(v, Regex):
        return v.pattern
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, _dt.datetime):
        return v.isoformat()
    if isinstance(v, dict):
        return {k: bson_to_jsonable(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [bson_to_jsonable(x) for x in v]
    return v


def _live_client(live: dict) -> MongoWireClient:
    """``replication.source.live`` → a dialed client: a ``uri`` or
    host/port/user/password/auth_source/auth_mechanism/tls fields."""
    if live.get("uri"):
        cfg = parse_mongo_uri(live["uri"])
    else:
        cfg = {
            "host": live["host"],
            "port": int(live.get("port", 27017)),
            "user": live.get("user"),
            "password": live.get("password", ""),
            "auth_source": live.get("auth_source", "admin"),
            "auth_mechanism": live.get(
                "auth_mechanism", "SCRAM-SHA-256"
            ),
            "tls": bool(live.get("tls") or live.get("tls_ca")),
            "tls_ca": live.get("tls_ca"),
            "tls_insecure": bool(live.get("tls_insecure")),
        }
    return MongoWireClient(timeout=float(live.get("timeout", 30.0)), **cfg)


def live_drain_change_stream(live: dict, out_dir: str) -> int:
    """``replication.source.live`` config → one catch-up drain of a
    collection's change stream into the recorded JSONL directory the
    ``mongostream`` DataSource tails — the ``mongowire`` drain of the
    wire-format table in ``tasks/replicate.py``, beside the pgwire and
    mysqlwire live connections
    (≈ ``pkg/providers/mongo/change_stream_watcher.go:38``: watch →
    batcher → pusher, with the resume token as the durable position).

    ``live``: ``{uri | host/port/user/password/auth_source, database,
    collection, start_after?, batch_size?, max_await_ms?}``. The drain
    pulls until the server returns an empty batch (caught up), appends
    events verbatim (resume token `_id` included — the reader derives
    its (clusterTime, order) offsets from it) as one durably published
    ``live_<n>.jsonl`` file, and only then persists the position in
    ``out_dir/_resume.json`` so the next drain asks the server for
    only-new events; replayed events are idempotent anyway (the
    reader's offsets filter at-or-below positions). The position
    (``_data``) is the last reply's ``postBatchResumeToken`` when the
    server sends one, else the last event's token: a stream opened
    without a token starts at "now", so an empty first drain (the
    snapshot seed's) must still pin where it stood, or the changes
    made before the second drain are never asked for; and on a quiet
    collection of a busy replica set the high-water mark keeps moving
    while no event arrives, so the resume point stays inside the
    oplog window. Beside it ``after`` records the last published
    event's token, which tells a crash between publish and persist
    apart from a quiet drain (see the dedupe below).
    """
    db, coll = live["database"], live["collection"]
    os.makedirs(out_dir, exist_ok=True)
    token = live.get("start_after")
    after = saved = None
    if token is None:
        try:
            saved = json.loads(read_state(out_dir, "_resume.json"))
            token, after = saved["_data"], saved.get("after")
        except (TypeError, ValueError, KeyError):
            token = None
        # crash-window dedupe: events publish before the token
        # persists, so when the newest PUBLISHED file's last token is
        # not the one the state file says was published last, a crash
        # fell between the two and the file is the further-along
        # position. When it matches, the saved high-water mark (at or
        # past that event) stands
        tail = last_published_event(out_dir, "live_")
        try:
            data = tail["_id"]["_data"]
        except (KeyError, TypeError):
            data = None  # no file or an unreadable tail
        if data and data != after:
            token = after = data

    cs: dict = {"fullDocument": "updateLookup"}
    if token:
        cs["resumeAfter"] = {"_data": token}
    client = _live_client(live)
    n = 0
    try:
        bs = int(live.get("batch_size", 500))
        doc = client.command(db, {
            "aggregate": coll,
            "pipeline": [{"$changeStream": cs}],
            "cursor": {"batchSize": bs},
        })
        seq = next_file_no(out_dir, "live_")
        last_token, last_event = token, after
        post_batch: list = []

        def note_post_batch(cur):
            t = (cur.get("postBatchResumeToken") or {}).get("_data")
            if t:
                post_batch.append(t)

        with event_file(out_dir, f"live_{seq:06d}.jsonl") as out:
            for ev in client.drain_cursor(
                db, coll, doc, bs,
                max_time_ms=int(live.get("max_await_ms", 200)),
                stop_on_empty_batch=True,
                on_batch=note_post_batch,
            ):
                ev = bson_to_jsonable(ev)
                # the resume token doubles as the event position; a
                # tokenless event cannot be resumed past — loud
                data = (ev.get("_id") or {}).get("_data")
                if not data:
                    raise ValueError(
                        "change stream event without a resume "
                        f"token: {ev.get('operationType')}"
                    )
                out.write(json.dumps(ev) + "\n")
                last_token = last_event = data
                n += 1
        if post_batch:
            last_token = post_batch[-1]
        state = {"_data": last_token, "after": last_event}
        if last_token and state != saved:
            durable.publish(
                os.path.join(out_dir, "_resume.json"), json.dumps(state)
            )
        return n
    finally:
        client.close()


# ------------------------------------------------------ oplog fallback


def decode_oplog_v2_diff(diff: dict, prefix: str = ""):
    """MongoDB's ``$v: 2`` oplog update *diff* format → the public
    change-stream ``updateDescription`` shape:
    ``(updatedFields, removedFields, truncatedArrays)`` with dotted
    paths, exactly what a change stream would have reported for the
    same update (≈ the reference's ``oplog_v2_parser.go``; format per
    the mongo source's oplog_diff spec):

    - ``i``/``u``: {field: new value} — inserted / updated fields
    - ``d``: {field: false} — removed fields
    - ``s<field>``: a sub-diff for an object field (recurse, dotted)
    - a sub-diff with ``a: true`` is an ARRAY diff: ``l`` is the new
      (truncated) length, ``u<idx>``/``s<idx>`` address elements
    """
    updated: dict = {}
    removed: list = []
    truncated: list = []

    def dot(f: str) -> str:
        return f"{prefix}.{f}" if prefix else f

    def walk(d: dict, pre: str) -> None:
        if d.get("a") is True:
            if "l" in d:
                truncated.append(
                    {"field": pre, "newSize": int(d["l"])}
                )
            for k, v in d.items():
                if k in ("a", "l"):
                    continue
                if k[:1] == "u" and k[1:].isdigit():
                    updated[f"{pre}.{k[1:]}"] = v
                elif k[:1] == "s" and k[1:].isdigit() and isinstance(
                    v, dict
                ):
                    walk(v, f"{pre}.{k[1:]}")
                else:
                    raise ValueError(
                        f"unsupported oplog array-diff key {k!r}"
                    )
            return
        for f, v in (d.get("i") or {}).items():
            updated[f"{pre}.{f}" if pre else f] = v
        for f, v in (d.get("u") or {}).items():
            updated[f"{pre}.{f}" if pre else f] = v
        for f in (d.get("d") or {}):
            removed.append(f"{pre}.{f}" if pre else f)
        for k, v in d.items():
            if k in ("i", "u", "d"):
                continue
            if k[:1] == "s" and len(k) > 1 and isinstance(v, dict):
                walk(v, f"{pre}.{k[1:]}" if pre else k[1:])
            else:
                raise ValueError(
                    f"unsupported oplog diff key {k!r}"
                )

    walk(diff, prefix)
    return updated, removed, truncated


def oplog_entry_to_change_event(entry: dict) -> dict | None:
    """One ``local.oplog.rs`` document → the change-stream event shape
    the ``mongostream`` reader consumes (explicit clusterTime/order
    position from the oplog ``ts``); None for non-row entries (noops,
    commands). ≈ ``local_oplog_rs_watcher.go`` + ``oplog_v2_parser.go``
    — the reference's fallback when change streams are unavailable
    (pre-4.0 servers, missing privileges)."""
    op = entry.get("op")
    if op not in ("i", "u", "d"):
        return None  # 'n' noop, 'c' command — not row changes
    ts = entry["ts"]
    ns = entry.get("ns") or ""
    db, _, coll = ns.partition(".")
    ev: dict = {
        "clusterTime": int(ts.time),
        "order": int(ts.inc),
        "ns": {"db": db, "coll": coll},
    }
    o = entry.get("o") or {}
    if op == "i":
        ev["operationType"] = "insert"
        ev["documentKey"] = {"_id": o.get("_id")}
        ev["fullDocument"] = o
        return ev
    if op == "d":
        ev["operationType"] = "delete"
        ev["documentKey"] = {"_id": o.get("_id")}
        return ev
    # update: documentKey rides in o2; the o payload is one of the
    # three public update encodings
    ev["documentKey"] = dict(entry.get("o2") or {})
    if o.get("$v") == 2 and isinstance(o.get("diff"), dict):
        upd, rem, trunc = decode_oplog_v2_diff(o["diff"])
        ev["operationType"] = "update"
        ev["updateDescription"] = {
            "updatedFields": upd,
            "removedFields": rem,
            **({"truncatedArrays": trunc} if trunc else {}),
        }
        return ev
    if "$set" in o or "$unset" in o:
        # the pre-4.2 modifier encoding
        ev["operationType"] = "update"
        ev["updateDescription"] = {
            "updatedFields": dict(o.get("$set") or {}),
            "removedFields": sorted(o.get("$unset") or {}),
        }
        return ev
    # whole-document replacement
    ev["operationType"] = "replace"
    ev["fullDocument"] = o
    return ev


def _decode_applyops(ops: list, ts) -> list[dict]:
    """Inner applyOps row operations → change events, all stamped with
    the OUTER entry's ``ts`` (inner entries carry no timestamp of their
    own, so the whole transaction shares one resume position)."""
    out = []
    for inner in ops:
        if not isinstance(inner, dict):
            raise ValueError(
                f"malformed applyOps entry: {type(inner).__name__}"
            )
        if inner.get("op") == "c":
            continue  # nested commands (e.g. prepare) — not rows
        ev = oplog_entry_to_change_event({**inner, "ts": ts})
        if ev is not None:
            out.append(ev)
    return out


def oplog_entry_to_change_events(entry: dict) -> list[dict]:
    """Like :func:`oplog_entry_to_change_event` but EXPANDS
    multi-document transactions: an ``op: "c"`` entry whose command is
    ``applyOps`` (servers ≥4.0 write transactions this way) yields one
    change event per inner row operation, in entry order, each stamped
    with the OUTER entry's ``ts``. The reference's
    ``local_oplog_rs_watcher.go`` drops applyOps entirely; this closes
    that hole because the oplog fallback's own pitch (privilege-
    limited deployments) is exactly where transactions still flow.
    Non-transaction commands (create/drop/...) yield nothing.

    STATELESS: prepared / multi-entry (partialTxn) transaction entries
    yield [] here — they only become visible at their commit, which
    needs cross-entry state; drains track that via
    :class:`OplogTransactionBuffer` (r14)."""
    if entry.get("op") != "c":
        ev = oplog_entry_to_change_event(entry)
        return [ev] if ev is not None else []
    o = entry.get("o") or {}
    ops = o.get("applyOps")
    if not isinstance(ops, list):
        return []  # create/drop/collMod/... — not row changes
    if o.get("prepare") or o.get("partialTxn"):
        # emitting at prepare time would surface writes an abort may
        # discard (code-review r13); the stateful buffer handles these
        import logging

        logging.getLogger(__name__).debug(
            "skipping %s applyOps oplog entry at ts=%s (stateless "
            "decode; use OplogTransactionBuffer)",
            "prepared" if o.get("prepare") else "partial",
            entry.get("ts"),
        )
        return []
    return _decode_applyops(ops, entry["ts"])


class OplogTransactionBuffer:
    """Stateful oplog decode for PREPARED and MULTI-ENTRY transactions
    (beyond the reference, which drops all applyOps): ``prepare:true``
    / ``partialTxn:true`` applyOps entries buffer their decoded row
    events keyed by (lsid, txnNumber); the matching ``commitTransaction``
    command (or the final non-partial applyOps entry of an unprepared
    large transaction) flushes them RESTAMPED to the committing entry's
    ``ts`` — exactly the position a real change stream reports for
    transactional writes; ``abortTransaction`` discards them, so an
    aborted prepare never surfaces.

    State is JSON-safe (events pass through ``bson_to_jsonable`` at
    buffer time) so a drain can persist pending transactions across
    runs (``to_state``/``from_state``) — a prepare read in one drain
    whose commit arrives in the next still emits.

    Crash-safety contract (code-review r14): buffering is IDEMPOTENT —
    each pending txn records the oplog positions of the entries it
    absorbed, so a drain that re-reads a prepare/partialTxn entry
    after restoring the sidecar skips it instead of duplicating its
    rows. Flushes are OBSERVABLE — ``flushed`` holds the txns a commit
    (or final chain entry) popped this run, so the drain can persist a
    pre-publish "union" sidecar and re-derive either outcome of a
    crash that races the events-file publish."""

    def __init__(self, max_buffered_ops: int = 100_000):
        #: key -> {"events": [jsonable change events...],
        #:         "entries": [[t, i] oplog positions absorbed]}
        self.pending: dict[str, dict] = {}
        #: txns popped by a commit/final-chain entry since construction
        #: (key -> the popped pending value) — drain crash bookkeeping
        self.flushed: dict[str, dict] = {}
        #: txns discarded by an abortTransaction since construction —
        #: the drain must rewrite the sidecar for these too, or a
        #: stale pre-abort sidecar surviving a crash window would
        #: strand them as pending forever (code-review r14)
        self.aborted: list[str] = []
        self.max_buffered_ops = max_buffered_ops

    @staticmethod
    def _txn_key(entry: dict) -> str | None:
        lsid, txn = entry.get("lsid"), entry.get("txnNumber")
        if lsid is None or txn is None:
            return None
        return json.dumps(
            {"lsid": bson_to_jsonable(lsid), "txn": int(txn)},
            sort_keys=True, separators=(",", ":"),
        )

    @staticmethod
    def _stamp(events: list[dict], ts) -> list[dict]:
        for ev in events:
            ev["clusterTime"] = int(ts.time)
            ev["order"] = int(ts.inc)
        return events

    def feed(self, entry: dict) -> list[dict]:
        """One oplog entry → the change events it makes VISIBLE (its
        own rows, or a whole transaction at its commit point)."""
        if entry.get("op") != "c":
            ev = oplog_entry_to_change_event(entry)
            return [ev] if ev is not None else []
        o = entry.get("o") or {}
        ts = entry.get("ts")
        if isinstance(o.get("applyOps"), list):
            key = self._txn_key(entry)
            events = _decode_applyops(o["applyOps"], ts)
            if o.get("prepare") or o.get("partialTxn"):
                if key is None:
                    # no session identity to correlate the commit with
                    # — fall back to the reference's behavior (dropped)
                    import logging

                    logging.getLogger(__name__).warning(
                        "dropping %s applyOps entry at ts=%s: no "
                        "lsid/txnNumber to await its commit on",
                        "prepared" if o.get("prepare") else "partial",
                        ts,
                    )
                    return []
                buf = self.pending.setdefault(
                    key, {"events": [], "entries": []}
                )
                pos = [int(ts.time), int(ts.inc)]
                if pos in buf["entries"]:
                    # sidecar-restored txn re-reading its own entries
                    # after a crash: already absorbed — idempotent
                    return []
                buf["entries"].append(pos)
                buf["events"].extend(
                    bson_to_jsonable(ev) for ev in events
                )
                total = sum(
                    len(v["events"]) for v in self.pending.values()
                )
                if total > self.max_buffered_ops:
                    raise ValueError(
                        f"oplog transaction buffer overflow: {total} "
                        f"buffered ops across {len(self.pending)} open "
                        "transactions exceeds max_buffered_ops="
                        f"{self.max_buffered_ops}"
                    )
                return []
            if key is not None and key in self.pending:
                # final entry of an unprepared multi-entry (partialTxn
                # chain) transaction: it commits the whole chain
                popped = self.pending.pop(key)
                self.flushed[key] = popped
                events = popped["events"] + events
            return self._stamp(events, ts)
        if "commitTransaction" in o:
            key = self._txn_key(entry)
            popped = self.pending.pop(key, None) if key else None
            if popped is None:
                return []
            self.flushed[key] = popped
            return self._stamp(popped["events"], ts)
        if "abortTransaction" in o:
            key = self._txn_key(entry)
            if key and self.pending.pop(key, None) is not None:
                self.aborted.append(key)
            return []
        return []

    def to_state(self) -> dict:
        return {"pending": self.pending}

    @classmethod
    def from_state(cls, state: dict,
                   max_buffered_ops: int = 100_000
                   ) -> "OplogTransactionBuffer":
        buf = cls(max_buffered_ops)
        for k, v in (state.get("pending") or {}).items():
            if isinstance(v, list):  # pre-r14 sidecar shape
                v = {"events": list(v), "entries": []}
            buf.pending[k] = {
                "events": list(v.get("events") or []),
                "entries": [list(p) for p in v.get("entries") or []],
            }
        return buf


def live_drain_oplog(live: dict, out_dir: str) -> int:
    """Oplog-tailing analog of :func:`live_drain_change_stream` — the
    catch-up drain reads ``local.oplog.rs`` rows for one collection
    past the persisted position and appends change-stream-shaped
    events to the recorded JSONL directory the ``mongostream``
    DataSource tails. The position is the oplog ``ts`` (a BSON
    Timestamp — the same (clusterTime, order) pair the reader's
    offsets run on), persisted in ``_resume_oplog.json``. Reading the
    oplog requires privileges on ``local`` but NOT the changeStream
    aggregation stage — the reference's fallback deployment shape."""
    db, coll = live["database"], live["collection"]
    os.makedirs(out_dir, exist_ok=True)
    start = live.get("start_after_ts")
    if start is None:
        try:
            doc = json.loads(read_state(out_dir, "_resume_oplog.json"))
            start = (int(doc["t"]), int(doc["i"]))
        except (TypeError, ValueError, KeyError):
            start = (0, 0)
        # crash-window dedupe: events publish before the token
        # resume position persists, so a crash between the two would
        # re-emit the newest file's events on the next drain. The
        # newest PUBLISHED file's last event position therefore
        # supersedes the persisted resume ts when it is ahead. An
        # EXPLICIT start_after_ts is an intentional rewind — never
        # clamped (code-review r13)
        tail = last_published_event(out_dir, "oplog_")
        try:
            start = max(start, (int(tail["clusterTime"]),
                                int(tail["order"])))
        except (KeyError, TypeError, ValueError):
            pass  # no file or an unreadable tail: the persisted ts
    else:
        start = (int(start[0]), int(start[1]))

    # pending-transaction sidecar (r14): a prepare:true / partialTxn
    # chain read in THIS drain may commit in a LATER one — buffered
    # events persist here so the commit still emits them. Two-phase
    # protocol (code-review r14 — a single pre-publish delete raced
    # the events-file publish and could lose a committed txn):
    #   1. BEFORE the publish, the sidecar holds pending ∪ flushed
    #      plus the flushed keys and the drain's events-file seq;
    #   2. AFTER the publish, it is rewritten to the true pending set.
    # A crash between the phases is re-derivable at load time: the
    # flushed txns are dropped iff their events file actually
    # published (below); otherwise they stay pending and their commit
    # re-reads, because the resume position only persists after phase
    # 2. Re-reading buffered entries is idempotent (each pending txn
    # records the oplog positions it absorbed).
    max_txn_ops = int(live.get("max_txn_buffer_ops", 100_000))
    txn_file = os.path.join(out_dir, "_txn_pending.json")
    try:
        txn_state = json.loads(read_state(out_dir, "_txn_pending.json"))
    except (TypeError, ValueError):
        txn_state = {}
    flushed_keys = txn_state.get("flushed") or []
    txn_seq = txn_state.get("seq")
    if flushed_keys and txn_seq is not None and os.path.exists(
        os.path.join(out_dir, f"oplog_{int(txn_seq):06d}.jsonl")
    ):
        # phase-1 sidecar survived a crash AFTER the publish: the
        # flushed txns' rows are in the published file — drop them
        for k in flushed_keys:
            (txn_state.get("pending") or {}).pop(k, None)
    try:
        txn = OplogTransactionBuffer.from_state(txn_state, max_txn_ops)
    except (ValueError, KeyError, TypeError, AttributeError):
        txn = OplogTransactionBuffer(max_txn_ops)

    client = _live_client(live)
    n = 0
    try:
        bs = int(live.get("batch_size", 500))
        seq = next_file_no(out_dir, "oplog_")
        last = start
        ns_want = f"{db}.{coll}"
        # server filter: ts plus (our ns OR a command entry) — a bare
        # ns match would skip applyOps transaction entries (their ns is
        # admin.$cmd), while ts-only would stream every tenant's oplog
        # over the wire (code-review r13); decoded events re-filter by
        # ns because transactions interleave collections
        with event_file(out_dir, f"oplog_{seq:06d}.jsonl") as out:
            for entry in client.find(
                "local", "oplog.rs",
                filter={
                    "ts": {"$gt": BsonTimestamp(*start)},
                    "$or": [{"ns": ns_want}, {"op": "c"}],
                },
                batch_size=bs,
            ):
                ts = entry.get("ts")
                if not isinstance(ts, BsonTimestamp):
                    raise ValueError(
                        "oplog entry without a ts Timestamp — cannot "
                        "order or resume"
                    )
                last = (ts.time, ts.inc)
                for ev in txn.feed(entry):
                    if f"{ev['ns']['db']}.{ev['ns']['coll']}" != ns_want:
                        continue  # other collections ride the oplog
                    out.write(json.dumps(bson_to_jsonable(ev)) + "\n")
                    n += 1
            # phase 1 — pre-publish "union" sidecar: pending ∪ flushed,
            # annotated with the flushed keys and this drain's events
            # seq, so a crash on either side of the publish loses
            # nothing. Aborted txns are simply OMITTED (nothing of
            # theirs can emit; if this drain crashes before the resume
            # persists, the abort re-reads and re-discards) — but their
            # occurrence still forces the rewrite, or a stale pre-abort
            # sidecar would strand them as pending across a later crash
            # window
            if txn.pending or txn.flushed or txn.aborted:
                durable.publish(txn_file, json.dumps({
                    "pending": {**txn.flushed, **txn.pending},
                    "flushed": sorted(txn.flushed),
                    "seq": seq,
                }))
        # phase 2 — post-publish: the flushed txns are out (or were
        # entirely filtered to other collections); only true pending
        # remain in the sidecar
        if txn.pending:
            durable.publish(txn_file, json.dumps(
                {**txn.to_state(), "flushed": [], "seq": seq}
            ))
        elif os.path.exists(txn_file):
            os.remove(txn_file)
        if last != start:
            durable.publish(os.path.join(out_dir, "_resume_oplog.json"),
                            json.dumps({"t": last[0], "i": last[1]}))
        return n
    finally:
        client.close()


def mongo_wire_client_factory(uri: str) -> MongoWireAdapter:
    """Drop-in ``client_factory`` for MongoSource — a LIVE socket
    transport with zero dependencies; the factory itself is a
    module-level function, so executor tasks pickle the reference and
    dial their own connections."""
    return MongoWireAdapter(uri)


#: per-process adapter memo (the schema-registry ``client_for``
#: pattern, parsers/schema_registry.py:606): the mongo sink's
#: shard-key provider/fetcher run once per partition per batch, and a
#: fresh adapter there is a fresh TCP+TLS+SCRAM handshake — at
#: WRITE_SHARDS=16 and a ~333ms batch cadence that is ~48 dials/second
#: per table against a sharded target. PySpark executor workers run
#: one task at a time per process; the DRIVER, however, calls the
#: shard-key provider from each streaming query's own thread, so a
#: per-adapter lock serializes wire traffic on the single socket
#: (code-review r14 — two driver threads could interleave OP_MSG
#: frames and read each other's replies).
_SHARED_ADAPTERS: dict = {}
_SHARED_ADAPTER_LOCKS: dict = {}
_SHARED_ADAPTERS_MUTEX = _threading.Lock()


def _shared_adapter_lock(key):
    with _SHARED_ADAPTERS_MUTEX:
        lk = _SHARED_ADAPTER_LOCKS.get(key)
        if lk is None:
            lk = _SHARED_ADAPTER_LOCKS[key] = _threading.RLock()
        return lk


def shared_wire_adapter(uri: str, timeout: float = 30.0) -> MongoWireAdapter:
    key = (uri, timeout)
    with _shared_adapter_lock(key):
        a = _SHARED_ADAPTERS.get(key)
        if a is None:
            a = _SHARED_ADAPTERS[key] = MongoWireAdapter(
                uri, timeout=timeout
            )
        return a


def evict_shared_adapter(uri: str, timeout: float = 30.0) -> None:
    key = (uri, timeout)
    with _shared_adapter_lock(key):
        a = _SHARED_ADAPTERS.pop(key, None)
        if a is not None:
            try:
                a.close()
            except OSError:
                pass


def with_shared_adapter(uri: str, fn, timeout: float = 30.0):
    """Run ``fn(adapter)`` on the memoized adapter, holding its lock
    across the call (one request/reply exchange in flight per socket);
    on a transport error (a long-idle pooled socket the server closed,
    a failover) evict the dead client and retry ONCE on a fresh dial.
    Only a MongoServerError leaves the adapter pooled — the reply was
    fully read, so the protocol state is clean; ANY other failure may
    have died between send and a full read, leaving an unread late
    reply that would poison the next caller's exchange (code-review
    r14), so the adapter is evicted on every non-server error,
    including failures of the retry itself."""
    with _shared_adapter_lock((uri, timeout)):
        try:
            return fn(shared_wire_adapter(uri, timeout))
        except MongoServerError:
            raise
        except OSError:
            evict_shared_adapter(uri, timeout)
            try:
                return fn(shared_wire_adapter(uri, timeout))
            except MongoServerError:
                raise
            except Exception:
                evict_shared_adapter(uri, timeout)
                raise
        except Exception:
            evict_shared_adapter(uri, timeout)
            raise


__all__ = [
    "Binary",
    "BsonTimestamp",
    "Int64",
    "Decimal128",
    "MongoServerError",
    "MongoWireAdapter",
    "MongoWireClient",
    "ObjectId",
    "Regex",
    "decode_document",
    "decode_op_msg",
    "decode_op_reply",
    "bson_to_jsonable",
    "decode_oplog_v2_diff",
    "live_drain_change_stream",
    "live_drain_oplog",
    "OplogTransactionBuffer",
    "oplog_entry_to_change_event",
    "oplog_entry_to_change_events",
    "encode_document",
    "encode_op_msg",
    "encode_op_query",
    "mongo_wire_client_factory",
    "parse_mongo_uri",
    "resolve_srv_seedlist",
    "shared_wire_adapter",
    "evict_shared_adapter",
    "with_shared_adapter",
    "srv_target_in_parent_domain",
]
