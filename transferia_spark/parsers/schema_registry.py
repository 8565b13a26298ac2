"""Confluent Schema Registry client + pure-Python Avro binary codec.

≈ ``pkg/schemaregistry/confluent`` + ``pkg/parsers/registry/
confluentschemaregistry`` in transferia/transferia: the reference
resolves the 4-byte schema id of the Confluent wire frame against a
live registry and decodes the Avro body with the WRITER schema it gets
back. The registry is a small HTTP JSON API (GET /schemas/ids/{id},
POST /subjects/{s}/versions), so the client is stdlib-only like the
repo's ClickHouse/Elastic/YT planes; the Avro binary layout is a
public spec (zigzag-varint ints, length-prefixed bytes/strings,
union-index prefixes) and shares the varint primitives with the
protobuf wire decoder.

Scope: the codec covers the full Avro binary type system EXCEPT
recursive schemas (a record type referencing itself) — those raise
loudly. Logical types decode as their underlying primitive, matching
what a schema-unaware consumer sees.

All three registry schema types decode (the reference engine's
dispatch, ``engine/parser.go:44``): AVRO here, JSON schema-checked via
:class:`JsonSchemaCodec`, PROTOBUF via the message-indexes prefix +
``parsers/proto_schema.ProtoCodec`` with registry ``references``
resolved recursively as imports.
"""

from __future__ import annotations

import json
import struct

# Avro ints/longs are zigzag base-128 varints — the protobuf sint and
# Kafka record-delta encoding
from transferia_spark.parsers.protowire import read_zigzag, write_zigzag


# ------------------------------------------------------- Avro binary


class AvroCodec:
    """Decode/encode Avro binary against ONE parsed writer schema.

    Named types are registered on first definition and resolvable by
    (namespaced) name afterwards, per the spec; self-recursion is
    rejected at parse time (bounded decode depth is a feature for a
    streaming engine, not a limitation).
    """

    def __init__(self, schema: str | dict | list):
        self._named: dict[str, dict] = {}
        self.schema = self._parse(
            json.loads(schema) if isinstance(schema, str) else schema,
            namespace="",
            defining=set(),
        )

    # -- schema normalization ------------------------------------------

    def _parse(self, s, namespace: str, defining: set):
        if isinstance(s, str):
            if s in (
                "null", "boolean", "int", "long", "float", "double",
                "bytes", "string",
            ):
                return {"type": s}
            full = s if "." in s else (
                f"{namespace}.{s}" if namespace else s
            )
            if full in defining or s in defining:
                raise ValueError(
                    f"recursive Avro schema {s!r} is not supported"
                )
            got = self._named.get(full) or self._named.get(s)
            if got is None:
                raise ValueError(f"unknown Avro type reference {s!r}")
            return got
        if isinstance(s, list):  # union
            return {
                "type": "union",
                "branches": [
                    self._parse(b, namespace, defining) for b in s
                ],
            }
        t = s["type"]
        if isinstance(t, (dict, list)):
            # {"type": {...}} wrapper
            return self._parse(t, namespace, defining)
        if t in (
            "null", "boolean", "int", "long", "float", "double",
            "bytes", "string",
        ):
            # annotated primitive: logicalType is PRESERVED — it does
            # not change the binary layout, but writers (e.g. the avro
            # serializer's timestamp coercion) must know the unit a
            # long carries (timestamp-millis vs -micros, code-review
            # r11 pass 3)
            out = {"type": t}
            if s.get("logicalType"):
                out["logicalType"] = s["logicalType"]
            return out
        if t in ("record", "error"):
            ns = s.get("namespace", namespace)
            name = s["name"] if "." in s["name"] else (
                f"{ns}.{s['name']}" if ns else s["name"]
            )
            out = {"type": "record", "name": name, "fields": []}
            self._named[name] = out
            self._named.setdefault(s["name"], out)
            for f in s["fields"]:
                out["fields"].append(
                    (
                        f["name"],
                        self._parse(
                            f["type"], ns, defining | {name, s["name"]}
                        ),
                    )
                )
            return out
        if t == "enum":
            out = {"type": "enum", "symbols": list(s["symbols"])}
            self._named[s["name"]] = out
            return out
        if t == "fixed":
            out = {"type": "fixed", "size": int(s["size"])}
            self._named[s["name"]] = out
            return out
        if t == "array":
            return {
                "type": "array",
                "items": self._parse(s["items"], namespace, defining),
            }
        if t == "map":
            return {
                "type": "map",
                "values": self._parse(s["values"], namespace, defining),
            }
        return self._parse(t, namespace, defining)

    # -- decode ---------------------------------------------------------

    def decode(self, data: bytes):
        value, pos = self._read(self.schema, data, 0)
        return value

    def _read(self, s: dict, data: bytes, pos: int):
        t = s["type"]
        if t == "null":
            return None, pos
        if t == "boolean":
            return data[pos] != 0, pos + 1
        if t in ("int", "long"):
            return read_zigzag(data, pos)
        if t == "float":
            return struct.unpack_from("<f", data, pos)[0], pos + 4
        if t == "double":
            return struct.unpack_from("<d", data, pos)[0], pos + 8
        if t in ("bytes", "string"):
            ln, pos = read_zigzag(data, pos)
            raw = data[pos:pos + ln]
            pos += ln
            return (raw.decode("utf-8") if t == "string" else raw), pos
        if t == "fixed":
            raw = data[pos:pos + s["size"]]
            return raw, pos + s["size"]
        if t == "enum":
            idx, pos = read_zigzag(data, pos)
            return s["symbols"][idx], pos
        if t == "union":
            idx, pos = read_zigzag(data, pos)
            return self._read(s["branches"][idx], data, pos)
        if t == "record":
            out = {}
            for name, fs in s["fields"]:
                out[name], pos = self._read(fs, data, pos)
            return out, pos
        if t == "array":
            out = []
            while True:
                n, pos = read_zigzag(data, pos)
                if n == 0:
                    return out, pos
                if n < 0:  # block with byte size prefix
                    n = -n
                    _sz, pos = read_zigzag(data, pos)
                for _ in range(n):
                    v, pos = self._read(s["items"], data, pos)
                    out.append(v)
        if t == "map":
            out = {}
            while True:
                n, pos = read_zigzag(data, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _sz, pos = read_zigzag(data, pos)
                for _ in range(n):
                    k, pos = self._read({"type": "string"}, data, pos)
                    out[k], pos = self._read(s["values"], data, pos)
        raise ValueError(f"unsupported Avro type {t!r}")

    # -- encode (the producer twin; also what the tests round-trip) -----

    def encode(self, value) -> bytes:
        return bytes(self._write(self.schema, value))

    def _write(self, s: dict, value) -> bytearray:
        t = s["type"]
        out = bytearray()
        if t == "null":
            return out
        if t == "boolean":
            out.append(1 if value else 0)
        elif t in ("int", "long"):
            out += write_zigzag(int(value))
        elif t == "float":
            out += struct.pack("<f", float(value))
        elif t == "double":
            out += struct.pack("<d", float(value))
        elif t == "string":
            raw = value.encode("utf-8")
            out += write_zigzag(len(raw)) + raw
        elif t == "bytes":
            out += write_zigzag(len(value)) + bytes(value)
        elif t == "fixed":
            if len(value) != s["size"]:
                raise ValueError(
                    f"fixed size mismatch: {len(value)} != {s['size']}"
                )
            out += bytes(value)
        elif t == "enum":
            out += write_zigzag(s["symbols"].index(value))
        elif t == "union":
            idx = self._union_branch(s["branches"], value)
            out += write_zigzag(idx)
            out += self._write(s["branches"][idx], value)
        elif t == "record":
            for name, fs in s["fields"]:
                out += self._write(fs, value.get(name))
        elif t == "array":
            if value:
                out += write_zigzag(len(value))
                for v in value:
                    out += self._write(s["items"], v)
            out += write_zigzag(0)
        elif t == "map":
            if value:
                out += write_zigzag(len(value))
                for k, v in value.items():
                    out += self._write({"type": "string"}, k)
                    out += self._write(s["values"], v)
            out += write_zigzag(0)
        else:
            raise ValueError(f"unsupported Avro type {t!r}")
        return out

    @staticmethod
    def _union_branch(branches: list[dict], value) -> int:
        kind = (
            "null" if value is None
            else "boolean" if isinstance(value, bool)
            else "record" if isinstance(value, dict)
            else "string" if isinstance(value, str)
            else "bytes" if isinstance(value, (bytes, bytearray))
            else "double" if isinstance(value, float)
            else "long" if isinstance(value, int)
            else "array" if isinstance(value, list)
            else None
        )
        for i, b in enumerate(branches):
            if b["type"] == kind:
                return i
        # int/long and float/double interchange
        for i, b in enumerate(branches):
            if kind == "long" and b["type"] == "int":
                return i
            if kind == "double" and b["type"] == "float":
                return i
            if kind == "record" and b["type"] == "map":
                return i
        raise ValueError(f"no union branch for {type(value).__name__}")


# ------------------------------------------------ Confluent wire frame

MAGIC = 0


def split_confluent_frame(value: bytes) -> tuple[int, bytes]:
    """1 magic byte (0x0) + 4-byte big-endian schema id + body."""
    if not value or value[0] != MAGIC:
        raise ValueError(
            f"not a Confluent-framed payload (magic byte "
            f"{value[:1].hex() or '<empty>'}, want 00)"
        )
    (schema_id,) = struct.unpack_from(">i", value, 1)
    return schema_id, value[5:]


def encode_confluent_frame(schema_id: int, body: bytes) -> bytes:
    return b"\x00" + struct.pack(">i", schema_id) + body


def extract_message_indexes(body: bytes) -> tuple[list[int], bytes]:
    """Confluent PROTOBUF framing puts a zigzag-varint array (count,
    then indexes) between the schema id and the proto body, addressing
    a (possibly nested) message declaration; the single byte 0 is the
    shortcut for [0] = first top-level message.  ≈ extractMessageIndexes
    (utils_protobuf.go:119) + the Confluent wire spec."""
    count, pos = read_zigzag(body, 0)
    if count == 0:
        return [0], body[pos:]
    if count < 0 or count > 128:
        raise ValueError(f"implausible message-index count {count}")
    indexes = []
    for _ in range(count):
        v, pos = read_zigzag(body, pos)
        indexes.append(v)
    return indexes, body[pos:]


def encode_message_indexes(indexes: list[int]) -> bytes:
    if indexes == [0]:
        return b"\x00"
    out = bytearray(write_zigzag(len(indexes)))
    for v in indexes:
        out += write_zigzag(v)
    return bytes(out)


# ----------------------------------------------------- JSON Schema body


class JsonSchemaCodec:
    """Schema-checked JSON bodies, matching the reference engine's
    JSON support (utils_json.go processPayload): the registry schema
    must be ``type: object``; properties map to engine types
    (integer→int64, number→float64, boolean, string, array/object→any
    per types_json.go:23), ``required`` fields must be present, and a
    value of the wrong JSON type fails loudly (the reference routes
    that row to unparsed).  A ``oneOf`` null branch makes the field
    fully optional — presence AND nullability — exactly like the
    reference (utils_json.go:75 clears isRequired on the null branch;
    this deliberately diverges from strict JSON Schema semantics,
    where required is a presence check, to stay behavior-compatible)."""

    _TYPES = {
        "integer": "bigint", "number": "double", "boolean": "boolean",
        "string": "string", "array": "any", "object": "any",
    }

    def __init__(self, schema: str | dict):
        s = json.loads(schema) if isinstance(schema, str) else schema
        if s.get("type") != "object":
            raise ValueError("JSON schema type must be 'object'")
        self.title = s.get("title", "")
        required = set(s.get("required") or [])
        #: name → (engine type, required); sorted like the reference's
        #: MapKeysInOrder so column order is deterministic
        self.columns: list[tuple[str, str, bool]] = []
        for name in sorted((s.get("properties") or {})):
            prop = s["properties"][name] or {}
            jtype = prop.get("type")
            req = name in required
            for branch in prop.get("oneOf") or []:
                if (branch or {}).get("type") == "null":
                    req = False
                else:
                    jtype = (branch or {}).get("type")
            self.columns.append((name, self._TYPES.get(jtype, "any"), req))

    def decode(self, body: bytes) -> dict:
        doc = json.loads(body)
        if not isinstance(doc, dict):
            raise ValueError("JSON body is not an object")
        out = {}
        for name, etype, required in self.columns:
            if name not in doc:
                if required:
                    raise ValueError(
                        f"required field {name!r} missing from payload"
                    )
                out[name] = None
                continue
            out[name] = self._convert(name, doc[name], etype, required)
        return out

    @staticmethod
    def _convert(name: str, v, etype: str, required: bool):
        if v is None:
            if required:
                raise ValueError(f"required field {name!r} is null")
            return None
        ok = (
            etype == "any"
            or (etype == "boolean" and isinstance(v, bool))
            or (etype == "bigint" and isinstance(v, int)
                and not isinstance(v, bool))
            or (etype == "double" and isinstance(v, (int, float))
                and not isinstance(v, bool))
            or (etype == "string" and isinstance(v, str))
        )
        if not ok:
            raise ValueError(
                f"field {name!r}: {type(v).__name__} value does not "
                f"match schema type {etype}"
            )
        return float(v) if etype == "double" else v


# ----------------------------------------------------- registry client


class RegistryHTTPError(RuntimeError):
    """Non-404 registry HTTP failure — transport/infra, NOT a
    per-record data error: deliberately a RuntimeError so the parser's
    unparsed routing never swallows it and the replicate supervisor
    classifies it transient (retried)."""


class SchemaRegistryClient:
    """Stdlib-HTTP client for the Confluent Schema Registry REST API
    with a bounded id→schema cache (ids are immutable server-side, so
    cache entries never invalidate — the bound only caps memory)."""

    def __init__(
        self,
        base_url: str,
        auth: tuple[str, str] | None = None,
        timeout: float = 15.0,
        cache_size: int = 256,
        tls_ca: str | None = None,
        tls_insecure: bool = False,
    ):
        self.base_url = base_url.rstrip("/")
        self.auth = auth
        self.timeout = timeout
        self.cache_size = cache_size
        #: how long an id's 404 is believed before re-probing —
        #: registration races and replica lag resolve in seconds;
        #: without any cache a dead id costs one GET per record
        self.negative_ttl = 60.0
        # custom-CA https (the common on-prem registry setup) — the
        # same trust ladder as the Kafka/Mongo wire planes; ≈ the
        # reference SR parser config's TLSFile
        # (parser_config_confluent_schema_registry_common.go:12)
        self._ssl_ctx = None
        if tls_ca or tls_insecure:
            from transferia_spark.streaming.tlsutil import (
                client_tls_context,
            )

            self._ssl_ctx = client_tls_context(tls_ca, tls_insecure)
        from collections import OrderedDict

        self._cache: OrderedDict[int, dict] = OrderedDict()

    def _request(self, path: str, payload: dict | None = None) -> dict:
        import base64
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self.base_url + path,
            data=(
                json.dumps(payload).encode() if payload is not None
                else None
            ),
            method="POST" if payload is not None else "GET",
        )
        req.add_header(
            "Accept", "application/vnd.schemaregistry.v1+json"
        )
        if payload is not None:
            req.add_header(
                "Content-Type", "application/vnd.schemaregistry.v1+json"
            )
        if self.auth:
            tok = base64.b64encode(
                f"{self.auth[0]}:{self.auth[1]}".encode()
            ).decode()
            req.add_header("Authorization", f"Basic {tok}")
        try:
            with urllib.request.urlopen(
                req, timeout=self.timeout, context=self._ssl_ctx
            ) as r:
                return json.loads(r.read())
        except urllib.error.HTTPError as e:
            detail = e.read().decode(errors="replace")[:500]
            if e.code == 404:
                # data-shaped: the id/subject does not exist —
                # eligible for unparsed routing
                raise ValueError(
                    f"schema registry {path}: HTTP {e.code} {detail}"
                ) from e
            # 5xx/429/...: INFRA, must stay loud — a ValueError here
            # would dead-letter records through on_invalid='unparsed'
            # during a registry outage (code-review r12). 401/403 are
            # CONFIGURATION (wrong creds cannot heal by retrying):
            # still a RegistryHTTPError so the parser never swallows
            # them, but marked [FATAL] so the replicate supervisor
            # surfaces instead of retrying forever (pass 3)
            fatal = " [FATAL]" if e.code in (401, 403) else ""
            raise RegistryHTTPError(
                f"schema registry {path}: HTTP {e.code}{fatal} {detail}"
            ) from e

    def get_schema(self, schema_id: int) -> dict:
        """id → ``{"schema": str, "schemaType": "AVRO"|"JSON"|...}``
        (absent schemaType = AVRO, per the API). Unknown ids (HTTP
        404) negative-cache in the same bounded LRU: ids are only
        issued by registration and never recycled, so a 404 id stays
        404 — without the sentinel, a topic carrying frames with an
        unregistered id under on_invalid='unparsed' would issue one
        blocking GET per RECORD forever (code-review r12)."""
        import time as _time

        hit = self._cache.get(schema_id)
        if hit is not None:
            if isinstance(hit, tuple) and hit[0] is _NOT_FOUND:
                # negative entry: registration races / replica lag
                # make a 404 only MOSTLY permanent — re-probe after
                # the TTL, and raise a FRESH exception meanwhile (a
                # cached instance grows its __traceback__ per raise)
                # — code-review r12
                if _time.time() < hit[2]:
                    self._cache.move_to_end(schema_id)
                    raise ValueError(hit[1])
                del self._cache[schema_id]
            else:
                self._cache.move_to_end(schema_id)
                return hit
        try:
            out = self._request(f"/schemas/ids/{schema_id}")
        except ValueError as e:
            if "HTTP 404" in str(e):
                self._cache[schema_id] = (
                    _NOT_FOUND, str(e),
                    _time.time() + self.negative_ttl,
                )
                while len(self._cache) > self.cache_size:
                    self._cache.popitem(last=False)
            raise
        out.setdefault("schemaType", "AVRO")
        self._cache[schema_id] = out
        while len(self._cache) > self.cache_size:
            self._cache.popitem(last=False)
        return out

    def register_schema(
        self, subject: str, schema: str, schema_type: str = "AVRO"
    ) -> int:
        """POST the schema under ``subject`` → its global id (the
        producer-side half; idempotent server-side for equal schemas)."""
        payload = {"schema": schema}
        if schema_type != "AVRO":
            payload["schemaType"] = schema_type
        return int(
            self._request(f"/subjects/{subject}/versions", payload)["id"]
        )

    def latest(self, subject: str) -> dict:
        return self._request(f"/subjects/{subject}/versions/latest")

    def subject_version(self, subject: str, version) -> dict:
        return self._request(f"/subjects/{subject}/versions/{version}")

    def resolve_references(
        self, refs: list[dict], _depth: int = 0
    ) -> dict[str, str]:
        """Schema ``references`` → {reference name: schema text},
        recursively (a referenced schema may reference further) with a
        depth bound — ≈ ResolveReferencesRecursive
        (pkg/schemaregistry/confluent)."""
        if _depth > 8:
            raise ValueError("schema reference chain deeper than 8")
        out: dict[str, str] = {}
        for r in refs or []:
            meta = self.subject_version(r["subject"], r["version"])
            out.update(
                self.resolve_references(
                    meta.get("references") or [], _depth + 1
                )
            )
            out[r["name"]] = meta["schema"]
        return out


#: negative-cache marker for unknown schema ids
_NOT_FOUND = object()

#: per-process client memo — executor tasks are short-lived, so a
#: client built per task restarts the id→schema cache empty and
#: re-issues registry GETs every micro-batch (code-review r11); ids
#: are immutable server-side, so sharing across tasks is always safe
_CLIENTS: dict = {}


def client_for(
    base_url: str,
    auth: tuple[str, str] | None = None,
    timeout: float = 15.0,
    tls_ca: str | None = None,
    tls_insecure: bool = False,
) -> SchemaRegistryClient:
    key = (base_url, auth, tls_ca, tls_insecure)
    c = _CLIENTS.get(key)
    if c is None:
        c = _CLIENTS[key] = SchemaRegistryClient(
            base_url, auth=auth, timeout=timeout,
            tls_ca=tls_ca, tls_insecure=tls_insecure,
        )
    return c


class _RawJson:
    title = ""

    @staticmethod
    def decode(body: bytes):
        return json.loads(body)


def build_table_id(policy: str, schema_type: str, name: str) -> str:
    """Schema-derived routing table id ≈ the reference's
    table_name_policy.go: ``manual:<t>`` pins one table; ``debezium``
    splits the JSON schema title on its first dot (schema.table) and
    requires exactly 4 dot segments of a proto full message name
    (taking segments 2 and 3, BuildProtobufTableID); ``title`` /
    ``message_name`` use the bare name.  AVRO (which the reference's
    SR parser doesn't speak) gets the record full name treated like a
    proto message name."""
    if policy.startswith("manual:"):
        return policy[len("manual:"):]
    if not name:
        # a top-level Avro union/primitive/array, or a title-less JSON
        # schema, carries no name to route by — silence here would send
        # every such record to an empty-string table (code-review r11
        # pass 5)
        raise ValueError(
            f"{schema_type} schema carries no record name/title to "
            "derive a table id from; use table_name_policy="
            "'manual:<table>'"
        )
    if policy == "debezium":
        if schema_type == "JSON":
            parts = name.split(".", 1)
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise ValueError(
                    f"can't split JSON schema title {name!r} into "
                    "schema and table names (want 'schema.table')"
                )
            return f"{parts[0]}.{parts[1]}"
        parts = name.split(".")
        if schema_type == "AVRO" and len(parts) >= 2:
            return f"{parts[-2]}.{parts[-1]}"
        if len(parts) != 4:
            raise ValueError(
                f"can't split message name {name!r} into schema and "
                "table names (want 4 dot segments)"
            )
        return f"{parts[1]}.{parts[2]}"
    if policy in ("title", "message_name"):
        return name if schema_type == "JSON" else name.rsplit(".", 1)[-1]
    raise ValueError(
        f"unknown table_name_policy {policy!r} "
        "(manual:<table>/debezium/title/message_name)"
    )


def decode_confluent_full(value: bytes, client: SchemaRegistryClient):
    """Framed payload → ``(schema_id, decoded dict, schema_type,
    source name)`` where the source name feeds
    :func:`build_table_id` — the JSON schema title, the addressed
    proto message's full name, or the Avro record's full name."""
    schema_id, rec = decode_confluent(value, client)
    meta = client.get_schema(schema_id)
    stype = meta.get("schemaType", "AVRO")
    codec = meta.get("_codec")
    if stype == "AVRO":
        name = codec.schema.get("name", "") if codec else ""
    elif stype == "JSON":
        name = getattr(codec, "title", "")
    else:
        indexes, _ = extract_message_indexes(value[5:])
        name = codec.schema.message_by_indexes(indexes).full_name
    return schema_id, rec, stype, name


def decode_confluent(value: bytes, client: SchemaRegistryClient):
    """Framed payload → ``(schema_id, decoded dict)``: resolve the id,
    then decode by schemaType — all three registry types, matching the
    reference engine's dispatch (engine/parser.go:44): AVRO via
    :class:`AvroCodec`, JSON schema-checked via
    :class:`JsonSchemaCodec`, PROTOBUF via the message-indexes walk +
    :class:`~transferia_spark.parsers.proto_schema.ProtoCodec` (with
    registry ``references`` resolved recursively as imports)."""
    schema_id, body = split_confluent_frame(value)
    meta = client.get_schema(schema_id)
    stype = meta.get("schemaType", "AVRO")
    codec = meta.get("_codec")
    if stype == "AVRO":
        if codec is None:
            codec = meta["_codec"] = AvroCodec(meta["schema"])
        return schema_id, codec.decode(body)
    if stype == "JSON":
        if codec is None:
            try:
                codec = JsonSchemaCodec(meta["schema"])
            except (ValueError, KeyError):
                # permissive registrations ('{}', no 'type', array
                # schemas) carry no column contract — raw json.loads
                # passthrough, the pre-r11 behavior, instead of killing
                # the stream at codec construction (code-review r11
                # pass 4); object-typed schemas stay strict
                codec = _RawJson()
            meta["_codec"] = codec
        return schema_id, codec.decode(body)
    if stype == "PROTOBUF":
        if codec is None:
            from transferia_spark.parsers.proto_schema import ProtoCodec

            imports = client.resolve_references(
                meta.get("references") or []
            )
            codec = meta["_codec"] = ProtoCodec(
                meta["schema"], imports=imports
            )
        indexes, proto_body = extract_message_indexes(body)
        return schema_id, codec.decode(proto_body, indexes)
    raise ValueError(
        f"schema id {schema_id} has unknown schemaType {stype!r} "
        "(AVRO/JSON/PROTOBUF)"
    )


# ------------------------------------------- registry-driven drift


class RegistrySchemaDrift(RuntimeError):
    """A record's WRITER schema adds columns beyond the declared
    output schema. Deliberately a RuntimeError (transient to the
    replicate supervisor): the supervisor evolves the declared schema
    from the registry and restarts the stream into it — per-record
    writer-schema resolution IS the reference's drift handling
    (engine/parser.go:44). A retyped column raises ValueError instead
    (fatal — widening-only evolution cannot express it)."""


_AVRO_ENGINE = {
    "int": "bigint", "long": "bigint", "float": "double",
    "double": "double", "boolean": "boolean", "string": "string",
    "bytes": "binary", "fixed": "binary", "enum": "string",
}


def _avro_engine_type(s: dict) -> str:
    t = s["type"]
    if t == "union":
        real = [b for b in s["branches"] if b["type"] != "null"]
        if len(real) == 1:
            return _avro_engine_type(real[0])
        return "any"
    return _AVRO_ENGINE.get(t, "any")


def _codec_for(meta: dict, client: SchemaRegistryClient):
    """meta → cached decode codec (the same lazy construction
    decode_confluent performs, factored so drift tooling can reuse
    it)."""
    codec = meta.get("_codec")
    if codec is not None:
        return codec
    stype = meta.get("schemaType", "AVRO")
    if stype == "AVRO":
        codec = AvroCodec(meta["schema"])
    elif stype == "JSON":
        try:
            codec = JsonSchemaCodec(meta["schema"])
        except (ValueError, KeyError):
            codec = _RawJson()
    elif stype == "PROTOBUF":
        from transferia_spark.parsers.proto_schema import ProtoCodec

        codec = ProtoCodec(
            meta["schema"],
            imports=client.resolve_references(
                meta.get("references") or []
            ),
        )
    else:
        raise ValueError(f"unknown schemaType {stype!r}")
    meta["_codec"] = codec
    return codec


def registry_engine_columns(
    meta: dict,
    client: SchemaRegistryClient,
    indexes: list[int] | None = None,
) -> list[tuple[str, str]]:
    """Writer schema → [(column, engine type)] across all three
    registry schema types (engine types per types_json.go /
    types_protobuf.go / the Avro analog: bigint/double/boolean/
    string/binary/any). Non-record/permissive schemas carry no column
    contract → []."""
    stype = meta.get("schemaType", "AVRO")
    codec = _codec_for(meta, client)
    if stype == "AVRO":
        sch = codec.schema
        if sch.get("type") != "record":
            return []
        return [(n, _avro_engine_type(t)) for n, t in sch["fields"]]
    if stype == "JSON":
        if isinstance(codec, _RawJson):
            return []
        return [(n, t) for n, t, _req in codec.columns]
    return [(n, t) for n, t, _n in codec.columns(indexes or [0])]


def _engine_type_fits(etype: str, declared) -> bool:
    """Can a writer column of engine type ``etype`` inhabit the
    DECLARED Spark column type? Coarse on purpose, mirroring
    json_kind_compatible: the check exists to catch RETYPES."""
    from pyspark.sql import types as T

    if etype == "any":
        return True
    if etype in ("bigint", "int"):
        # proto int32/sint32/... surface as engine 'int'
        return isinstance(declared, (
            T.ByteType, T.ShortType, T.IntegerType, T.LongType,
            T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,
            T.StringType,
        ))
    if etype in ("double", "float"):
        return isinstance(declared, (
            T.FloatType, T.DoubleType, T.DecimalType, T.StringType,
        ))
    if etype == "boolean":
        return isinstance(declared, (T.BooleanType, T.StringType))
    if etype == "string":
        return isinstance(declared, (
            T.StringType, T.CharType, T.VarcharType, T.DateType,
            T.TimestampType, T.TimestampNTZType, T.BinaryType,
            T.DecimalType,
        ))
    if etype == "binary":
        return isinstance(declared, (T.BinaryType, T.StringType))
    return True


#: writer schema ids already checked against a declared column set —
#: per-process like the client memo (ids are immutable server-side)
_VALIDATED_IDS: set = set()


def declared_key(declared: dict) -> tuple:
    """Precompute the (name, type) memo key once per stream — the
    guard runs per RECORD, and rebuilding simpleString tuples there
    dominated the memoized fast path (code-review r12)."""
    return tuple(sorted(
        (n, t.simpleString()) for n, t in declared.items()
    ))


def check_registry_drift(
    raw: bytes, client: SchemaRegistryClient, declared: dict,
    dkey: tuple | None = None,
) -> None:
    """Guard one framed record's writer schema against the DECLARED
    output columns ``{name: spark DataType}``:

    - new writer columns → :class:`RegistrySchemaDrift` (transient;
      the supervisor evolves the declared schema and restarts) with a
      machine-readable ``id=<n> indexes=<i.j>`` marker;
    - a retyped declared column → ValueError (fatal);
    - known-compatible ids memoize per process (one registry check
      per new id, not per record).
    """
    sid, body = split_confluent_frame(raw)
    meta = client.get_schema(sid)
    indexes: list[int] | None = None
    if meta.get("schemaType") == "PROTOBUF":
        indexes, _rest = extract_message_indexes(body)
    key = (
        client.base_url,
        # names AND types: the same column names under different
        # declared types are a different retype question entirely
        # (code-review r12)
        dkey if dkey is not None else declared_key(declared),
        sid,
        tuple(indexes or ()),
    )
    if key in _VALIDATED_IDS:
        return
    cols = registry_engine_columns(meta, client, indexes)
    retyped = [
        (n, t, declared[n].simpleString())
        for n, t in cols
        if n in declared and not _engine_type_fits(t, declared[n])
    ]
    if retyped:
        raise ValueError(
            f"registry-schema-retype id={sid}: writer schema retypes "
            f"declared columns {retyped} ((column, writer engine "
            "type, declared type)) — widening-only evolution cannot "
            "express a retype; update the declared schema and "
            "re-activate the transfer"
        )
    extras = [n for n, _ in cols if n not in declared]
    if extras:
        raise RegistrySchemaDrift(
            f"registry-schema-drift id={sid} "
            f"indexes={'.'.join(map(str, indexes or []))} adds "
            f"columns {sorted(extras)} beyond the declared schema — "
            "the supervisor evolves the declared schema from the "
            "registry and restarts the stream"
        )
    _VALIDATED_IDS.add(key)


__all__ = [
    "AvroCodec",
    "RegistryHTTPError",
    "RegistrySchemaDrift",
    "check_registry_drift",
    "declared_key",
    "registry_engine_columns",
    "JsonSchemaCodec",
    "SchemaRegistryClient",
    "split_confluent_frame",
    "encode_confluent_frame",
    "extract_message_indexes",
    "encode_message_indexes",
    "decode_confluent",
    "decode_confluent_full",
    "build_table_id",
]
