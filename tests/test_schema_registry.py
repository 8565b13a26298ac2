"""Live Confluent Schema Registry client + pure-Python Avro binary
codec (r10 verdict next #4 ≈ pkg/schemaregistry/confluent +
pkg/parsers/registry/confluentschemaregistry): loopback HTTP registry,
id→schema cache behavior, and executor-side frame decode through the
confluent_schema_registry parser."""

from __future__ import annotations

import json
import struct
import threading

import pytest

from transferia_spark.parsers.schema_registry import (
    AvroCodec,
    SchemaRegistryClient,
    decode_confluent,
    encode_confluent_frame,
    split_confluent_frame,
)

REC_SCHEMA = json.dumps({
    "type": "record", "name": "Order", "namespace": "shop",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "price", "type": "double"},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "attrs", "type": {"type": "map", "values": "long"}},
        {"name": "note", "type": ["null", "string"]},
        {"name": "status", "type": {
            "type": "enum", "name": "St", "symbols": ["NEW", "PAID"]}},
        {"name": "digest", "type": {
            "type": "fixed", "name": "D8", "size": 4}},
        {"name": "child", "type": {
            "type": "record", "name": "Child",
            "fields": [{"name": "k", "type": "int"}]}},
    ],
})

REC_VALUE = {
    "id": -42, "name": "héllo", "price": 1.25,
    "tags": ["a", "b"], "attrs": {"x": 1, "y": -2},
    "note": None, "status": "PAID", "digest": b"\x01\x02\x03\x04",
    "child": {"k": 7},
}


def test_avro_codec_round_trip_record():
    codec = AvroCodec(REC_SCHEMA)
    out = codec.decode(codec.encode(REC_VALUE))
    assert out == REC_VALUE
    v2 = dict(REC_VALUE, note="set", status="NEW", tags=[], attrs={})
    assert codec.decode(codec.encode(v2)) == v2


def test_avro_zigzag_and_block_sized_arrays():
    """Negative block counts carry a byte-size prefix (writers use them
    for skippability) — the decoder must honor them; zigzag edges
    round-trip."""
    codec = AvroCodec('{"type": "array", "items": "long"}')
    # hand-build: block of -2 items (count -2, size 2 bytes), items 1, 2,
    # then terminator 0
    from transferia_spark.parsers.protowire import write_zigzag

    raw = (
        write_zigzag(-2) + write_zigzag(2)
        + write_zigzag(1) + write_zigzag(2) + write_zigzag(0)
    )
    assert codec.decode(bytes(raw)) == [1, 2]

    lc = AvroCodec('"long"')
    for v in (0, -1, 1, 2**62, -(2**62), 63, -64):
        assert lc.decode(lc.encode(v)) == v


def test_avro_codec_property_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    codec = AvroCodec(json.dumps({
        "type": "record", "name": "R", "fields": [
            {"name": "a", "type": "long"},
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "u", "type": ["null", "long", "string"]},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
        ],
    }))

    @settings(max_examples=100, deadline=None)
    @given(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        st.text(max_size=50),
        st.binary(max_size=50),
        st.one_of(st.none(), st.integers(-1000, 1000), st.text(max_size=10)),
        st.lists(st.integers(-(2**31), 2**31), max_size=10),
    )
    def check(a, s, b, u, xs):
        v = {"a": a, "s": s, "b": b, "u": u, "xs": xs}
        assert codec.decode(codec.encode(v)) == v

    check()


def test_avro_recursive_schema_is_loud():
    with pytest.raises(ValueError, match="recursive"):
        AvroCodec(json.dumps({
            "type": "record", "name": "Node", "fields": [
                {"name": "next", "type": ["null", "Node"]},
            ],
        }))


def test_confluent_frame_split():
    f = encode_confluent_frame(77, b"body")
    assert f[0] == 0 and struct.unpack_from(">i", f, 1)[0] == 77
    assert split_confluent_frame(f) == (77, b"body")
    with pytest.raises(ValueError, match="magic"):
        split_confluent_frame(b"\x01xxxx")
    with pytest.raises(ValueError, match="magic"):
        split_confluent_frame(b"")


# ------------------------------------------------- loopback registry


def _registry(schemas: dict[int, dict], hits: list, require_auth=None,
              subject_versions: dict | None = None,
              tls: tuple[str, str] | None = None):
    import http.server

    class H(http.server.BaseHTTPRequestHandler):
        def _send(self, code, obj):
            out = json.dumps(obj).encode()
            self.send_response(code)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def do_GET(self):
            hits.append(("GET", self.path,
                         self.headers.get("Authorization")))
            if require_auth and \
                    self.headers.get("Authorization") != require_auth:
                self._send(401, {"message": "unauthorized"})
                return
            if self.path.startswith("/schemas/ids/"):
                sid = int(self.path.rsplit("/", 1)[1])
                if sid in schemas:
                    self._send(200, schemas[sid])
                else:
                    self._send(404, {
                        "error_code": 40403,
                        "message": "Schema not found"})
            elif self.path.startswith("/subjects/") and \
                    "/versions/" in self.path:
                _, _, subject, _, version = self.path.split("/")
                meta = (subject_versions or {}).get((subject, version))
                if meta is not None:
                    self._send(200, meta)
                else:
                    self._send(404, {
                        "error_code": 40402,
                        "message": "Version not found"})
            else:
                self._send(404, {"message": "nope"})

        def do_POST(self):
            ln = int(self.headers.get("Content-Length", 0))
            body = json.loads(self.rfile.read(ln))
            hits.append(("POST", self.path, body))
            nid = max(schemas) + 1 if schemas else 1
            schemas[nid] = {
                "schema": body["schema"],
                "schemaType": body.get("schemaType", "AVRO"),
            }
            self._send(200, {"id": nid})

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    if tls is not None:
        import ssl

        ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ctx.load_cert_chain(*tls)
        srv.socket = ctx.wrap_socket(srv.socket, server_side=True)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def test_registry_client_fetch_cache_register_and_errors():
    hits: list = []
    schemas = {7: {"schema": REC_SCHEMA}}
    srv = _registry(schemas, hits)
    try:
        c = SchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        got = c.get_schema(7)
        assert got["schema"] == REC_SCHEMA
        assert got["schemaType"] == "AVRO"  # default filled in
        # cache hit: no second GET
        c.get_schema(7)
        assert len([h for h in hits if h[0] == "GET"]) == 1
        # unknown id is loud with the server detail
        with pytest.raises(ValueError, match="40403"):
            c.get_schema(999)
        # register returns the new id, fetchable afterwards
        nid = c.register_schema("orders-value", '"long"')
        assert c.get_schema(nid)["schema"] == '"long"'
        # bounded cache evicts oldest
        small = SchemaRegistryClient(
            f"http://127.0.0.1:{srv.server_port}", cache_size=1
        )
        small.get_schema(7)
        small.get_schema(nid)
        assert list(small._cache) == [nid]
    finally:
        srv.shutdown()


def test_registry_client_basic_auth_header():
    hits: list = []
    import base64

    tok = "Basic " + base64.b64encode(b"u:p").decode()
    srv = _registry({1: {"schema": '"long"'}}, hits, require_auth=tok)
    try:
        noauth = SchemaRegistryClient(
            f"http://127.0.0.1:{srv.server_port}"
        )
        # 401 is INFRA (RegistryHTTPError, r12) — misconfigured creds
        # must fail the stream loudly, never dead-letter records
        from transferia_spark.parsers.schema_registry import (
            RegistryHTTPError,
        )

        with pytest.raises(RegistryHTTPError, match="401") as ei:
            noauth.get_schema(1)
        # wrong creds are CONFIGURATION: never swallowed by unparsed
        # routing (RuntimeError), and [FATAL]-marked so the replicate
        # supervisor surfaces instead of retrying forever
        from transferia_spark.tasks.replicate import is_fatal

        assert is_fatal(ei.value)
        ok = SchemaRegistryClient(
            f"http://127.0.0.1:{srv.server_port}", auth=("u", "p")
        )
        assert ok.get_schema(1)["schema"] == '"long"'
    finally:
        srv.shutdown()


JSON_SCHEMA = json.dumps({
    "type": "object", "title": "orders.evt",
    "properties": {
        "id": {"type": "integer"},
        "name": {"type": "string"},
        "score": {"type": "number"},
        "opt": {"oneOf": [{"type": "null"}, {"type": "string"}]},
    },
    "required": ["id", "name"],
})

PROTO_SCHEMA = """
syntax = "proto3";
package shop;
import "common.proto";
message Evt {
  int64 id = 1;
  string name = 2;
  Status status = 3;
  common.Geo where = 4;
  enum Status { NEW = 0; DONE = 1; }
}
message Other { bool x = 1; }
"""

PROTO_COMMON = """
syntax = "proto3";
package common;
message Geo { string city = 1; }
"""


def test_decode_confluent_avro_json_and_protobuf_routes():
    """All three registry schema types decode, matching the reference
    engine's dispatch (engine/parser.go:44) — JSON is schema-checked
    (required/type enforcement), PROTOBUF resolves its registry
    references as imports and walks the message-indexes prefix."""
    hits: list = []
    schemas = {
        5: {"schema": REC_SCHEMA},
        6: {"schema": JSON_SCHEMA, "schemaType": "JSON"},
        8: {"schema": PROTO_SCHEMA, "schemaType": "PROTOBUF",
            "references": [
                {"name": "common.proto", "subject": "common",
                 "version": 1}]},
    }
    srv = _registry(
        schemas, hits,
        subject_versions={("common", "1"): {"schema": PROTO_COMMON}},
    )
    try:
        c = SchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        codec = AvroCodec(REC_SCHEMA)
        sid, rec = decode_confluent(
            encode_confluent_frame(5, codec.encode(REC_VALUE)), c
        )
        assert (sid, rec) == (5, REC_VALUE)
        # JSON: typed + nullable-through-oneOf + absent-optional → None
        sid, rec = decode_confluent(
            encode_confluent_frame(6, b'{"id": 1, "name": "a", "score": 2}'),
            c,
        )
        assert (sid, rec) == (6, {
            "id": 1, "name": "a", "opt": None, "score": 2.0})
        with pytest.raises(ValueError, match="required"):
            decode_confluent(encode_confluent_frame(6, b'{"name": "a"}'), c)
        # PROTOBUF: [0] shortcut frame, enum by name, imported message
        from transferia_spark.parsers.proto_schema import (
            ProtoCodec,
            field_spec,
        )
        from transferia_spark.parsers.protowire import encode_message
        from transferia_spark.parsers.schema_registry import (
            encode_message_indexes,
        )

        pc = ProtoCodec(PROTO_SCHEMA, {"common.proto": PROTO_COMMON})
        body = encode_message(
            field_spec(pc.schema.message_by_indexes([0])),
            {"id": 9, "name": "p", "status": 1, "where": {"city": "oslo"}},
        )
        sid, rec = decode_confluent(
            encode_confluent_frame(8, encode_message_indexes([0]) + body),
            c,
        )
        assert (sid, rec) == (8, {
            "id": 9, "name": "p", "status": "DONE",
            "where": {"city": "oslo"}})
        # the reference GETs hit /subjects/common/versions/1 exactly once
        ref_gets = [h for h in hits if h[0] == "GET"
                    and h[1] == "/subjects/common/versions/1"]
        assert len(ref_gets) == 1
        # second message addressable by explicit indexes [1]
        body2 = encode_message(
            field_spec(pc.schema.message_by_indexes([1])), {"x": True}
        )
        sid, rec = decode_confluent(
            encode_confluent_frame(8, encode_message_indexes([1]) + body2),
            c,
        )
        assert (sid, rec) == (8, {"x": True})
    finally:
        srv.shutdown()


def test_build_table_id_policies():
    """≈ table_name_policy.go: manual pin, debezium-style splits (JSON
    title first-dot, proto 4-segment), bare title/message_name."""
    from transferia_spark.parsers.schema_registry import build_table_id

    assert build_table_id("manual:t1", "JSON", "ignored") == "t1"
    assert build_table_id("debezium", "JSON", "shop.orders") \
        == "shop.orders"
    assert build_table_id("debezium", "JSON", "a.b.c") == "a.b.c"
    with pytest.raises(ValueError, match="schema and table"):
        build_table_id("debezium", "JSON", "notitle")
    assert build_table_id(
        "debezium", "PROTOBUF", "corp.shop.orders.Evt"
    ) == "shop.orders"
    with pytest.raises(ValueError, match="4 dot segments"):
        build_table_id("debezium", "PROTOBUF", "shop.Evt")
    assert build_table_id("debezium", "AVRO", "ns.shop.Order") \
        == "shop.Order"
    assert build_table_id("title", "JSON", "shop.orders") == "shop.orders"
    assert build_table_id(
        "message_name", "PROTOBUF", "corp.shop.orders.Evt"
    ) == "Evt"
    with pytest.raises(ValueError, match="unknown table_name_policy"):
        build_table_id("bogus", "JSON", "x")
    # nameless schemas (top-level Avro union, title-less JSON) must
    # not silently route to an empty table id — manual pin excepted
    with pytest.raises(ValueError, match="manual"):
        build_table_id("title", "AVRO", "")
    with pytest.raises(ValueError, match="manual"):
        build_table_id("debezium", "JSON", "")
    assert build_table_id("manual:t", "AVRO", "") == "t"


def test_parser_table_name_policy_routes_mixed_schema_types(spark):
    """confluent_schema_registry + table_name_policy: each record gains
    a `_table` column derived from ITS schema (JSON title / proto
    message name), feeding the replicate verb's multi-table router."""
    from transferia_spark.parsers.registry import build_parser
    from transferia_spark.parsers.proto_schema import (
        ProtoCodec,
        field_spec,
    )
    from transferia_spark.parsers.protowire import encode_message
    from transferia_spark.parsers.schema_registry import (
        encode_confluent_frame,
        encode_message_indexes,
    )

    hits: list = []
    srv = _registry(
        {
            6: {"schema": JSON_SCHEMA, "schemaType": "JSON"},
            8: {"schema": PROTO_SCHEMA, "schemaType": "PROTOBUF",
                "references": [
                    {"name": "common.proto", "subject": "common",
                     "version": 1}]},
        },
        hits,
        subject_versions={("common", "1"): {"schema": PROTO_COMMON}},
    )
    try:
        pc = ProtoCodec(PROTO_SCHEMA, {"common.proto": PROTO_COMMON})
        body = encode_message(
            field_spec(pc.schema.message_by_indexes([0])),
            {"id": 3, "name": "p"},
        )
        frames = [
            (encode_confluent_frame(6, b'{"id": 1, "name": "j"}'),),
            (encode_confluent_frame(
                8, encode_message_indexes([0]) + body),),
        ]
        parse = build_parser(
            "confluent_schema_registry",
            registry_url=f"http://127.0.0.1:{srv.server_port}",
            schema="id long, name string",
            table_name_policy="title",
        )
        rows = {
            r["_table"]: r
            for r in parse(
                spark.createDataFrame(frames, "value binary")
            ).collect()
        }
        assert set(rows) == {"orders.evt", "Evt"}
        assert rows["orders.evt"]["id"] == 1
        assert rows["Evt"]["name"] == "p"
    finally:
        srv.shutdown()


def _cloudevent_frame(dataschema_uri: str, body: bytes,
                      type_url: str, subject: str = "s1") -> bytes:
    """Wire-exact CloudEvents protobuf envelope via the repo's own
    codec spec — no cloudevents SDK."""
    from transferia_spark.parsers.cloudevents_proto import _envelope
    from transferia_spark.parsers.proto_schema import field_spec
    from transferia_spark.parsers.protowire import encode_message

    env = _envelope().schema.message_by_name("CloudEvent")
    spec = field_spec(env)
    return encode_message(spec, {
        "id": "ev-1", "source": "//src", "spec_version": "1.0",
        "type": "demo.created",
        "attributes": [
            {"key": "dataschema", "value": {"ce_uri": dataschema_uri}},
            {"key": "subject", "value": {"ce_string": subject}},
            {"key": "time", "value": {
                "ce_timestamp": {"seconds": 1_700_000_000,
                                 "nanos": 500_000_000}}},
        ],
        "proto_data": {"type_url": type_url, "value": body},
    })


def test_cloudevents_proto_binding_end_to_end(spark):
    """The reference's actual cloudevents flow (cloudevents/engine):
    protobuf envelope → dataschema URI names registry + schema id →
    Any type_url addresses the message (NO message-indexes prefix) →
    decoded payload; mandatory time/dataschema enforced."""
    from transferia_spark.parsers.cloudevents_proto import (
        extract_schema_id_and_url,
        unpack_cloudevent,
    )
    from transferia_spark.parsers.proto_schema import (
        ProtoCodec,
        field_spec,
    )
    from transferia_spark.parsers.protowire import encode_message
    from transferia_spark.parsers.registry import build_parser

    assert extract_schema_id_and_url(
        "http://localhost:8081/schemas/ids/2"
    ) == ("http://localhost:8081", 2)
    # path-mounted registries (Apicurio/Karapace ccompat) keep their
    # prefix; ids in query strings don't count (code-review r11 pass 5)
    assert extract_schema_id_and_url(
        "http://h:1/apis/ccompat/v7/schemas/ids/7"
    ) == ("http://h:1/apis/ccompat/v7", 7)
    with pytest.raises(ValueError, match="schemas/ids"):
        extract_schema_id_and_url("http://h:1/subjects/x")
    with pytest.raises(ValueError, match="schemas/ids"):
        extract_schema_id_and_url("http://h:1/x?u=/schemas/ids/5")

    hits: list = []
    srv = _registry(
        {4: {"schema": PROTO_SCHEMA, "schemaType": "PROTOBUF",
             "references": [
                 {"name": "common.proto", "subject": "common",
                  "version": 1}]}},
        hits,
        subject_versions={("common", "1"): {"schema": PROTO_COMMON}},
    )
    try:
        uri = f"http://127.0.0.1:{srv.server_port}/schemas/ids/4"
        pc = ProtoCodec(PROTO_SCHEMA, {"common.proto": PROTO_COMMON})
        body = encode_message(
            field_spec(pc.schema.message_by_name("shop.Evt")),
            {"id": 11, "name": "ce", "status": 1,
             "where": {"city": "oslo"}},
        )
        frame = _cloudevent_frame(
            uri, body, "type.googleapis.com/shop.Evt"
        )
        # the Any spec allows any authority: resolution goes by the
        # LAST path segment, never silently the first message
        from transferia_spark.parsers.cloudevents_proto import (
            unpack_cloudevent as _unpack,
        )

        other = _cloudevent_frame(uri, body, "type.example.com/shop.Evt")
        assert _unpack(other)[2] == "shop.Evt"
        bare = _cloudevent_frame(uri, body, "shop.Evt")
        assert _unpack(bare)[2] == "shop.Evt"
        # envelope unpack surfaces the reference's mandatory fields
        fields, data, proto_path = unpack_cloudevent(frame)
        assert (fields["id"], fields["subject"], proto_path) == (
            "ev-1", "s1", "shop.Evt")
        assert fields["time"] == 1_700_000_000.5
        assert data == body
        # full flow through the Spark parser — a Kafka tombstone rides
        # as a null row (code-review r11 pass 5), system cols carry
        parse = build_parser(
            "cloudevents", binding="proto", add_system_cols=True
        )
        rows = parse(
            spark.createDataFrame(
                [(frame, 3), (None, 4)], "value binary, offset int"
            )
        ).orderBy("_offset").collect()
        assert len(rows) == 2
        r = rows[0]
        assert (r["id"], r["subject"], r["_schema_id"]) == ("ev-1", "s1", 4)
        assert json.loads(r["payload"]) == {
            "id": 11, "name": "ce", "status": "DONE",
            "where": {"city": "oslo"}}
        # tz-AWARE instant: 1_700_000_000.5 s epoch exactly, no
        # session-timezone shift (code-review r11 pass 5)
        from datetime import timezone as _tz

        assert r["time"].replace(
            tzinfo=_tz.utc
        ).timestamp() == 1_700_000_000.5
        # system columns follow the parser contract (_offset/_idx/...)
        assert r["_offset"] == 3 and r["_idx"] == 3
        assert rows[1]["id"] is None and rows[1]["_offset"] == 4
        # a missing time attribute is loud (reference: mandatory)
        from transferia_spark.parsers.cloudevents_proto import (
            _envelope as _env,
        )

        env = _env().schema.message_by_name("CloudEvent")
        bad = encode_message(field_spec(env), {
            "id": "x", "source": "s", "type": "t",
            "attributes": [
                {"key": "dataschema", "value": {"ce_uri": uri}}],
            "proto_data": {"type_url": "a/b", "value": b""},
        })
        with pytest.raises(ValueError, match="time"):
            unpack_cloudevent(bad)
    finally:
        srv.shutdown()


def test_permissive_json_schemas_fall_back_to_raw_loads():
    """'{}', type-less, and array JSON schemas carry no column
    contract — bodies ride through as plain parsed JSON instead of
    killing the stream at codec construction (code-review r11 pass 4);
    object-typed schemas stay strict."""
    hits: list = []
    schemas = {
        1: {"schema": "{}", "schemaType": "JSON"},
        2: {"schema": json.dumps({"type": "array"}), "schemaType": "JSON"},
        3: {"schema": JSON_SCHEMA, "schemaType": "JSON"},
    }
    srv = _registry(schemas, hits)
    try:
        c = SchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        assert decode_confluent(
            encode_confluent_frame(1, b'{"a": 1}'), c
        ) == (1, {"a": 1})
        assert decode_confluent(
            encode_confluent_frame(2, b"[1, 2]"), c
        ) == (2, [1, 2])
        with pytest.raises(ValueError, match="required"):
            decode_confluent(encode_confluent_frame(3, b"{}"), c)
    finally:
        srv.shutdown()


def test_parser_resolves_ids_on_executors(spark):
    """confluent_schema_registry + registry_url: executor tasks resolve
    ids over HTTP and decode Avro bodies with the writer schema —
    MIXED schema ids in one batch, system columns carried through."""
    from transferia_spark.parsers.registry import build_parser

    v1 = json.dumps({
        "type": "record", "name": "E", "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
        ],
    })
    v2 = json.dumps({
        "type": "record", "name": "E", "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "extra", "type": ["null", "string"]},
        ],
    })
    hits: list = []
    srv = _registry({1: {"schema": v1}, 2: {"schema": v2}}, hits)
    c1, c2 = AvroCodec(v1), AvroCodec(v2)
    try:
        frames = [
            (encode_confluent_frame(1, c1.encode(
                {"id": i, "name": f"n{i}"})), i)
            for i in range(4)
        ] + [
            (encode_confluent_frame(2, c2.encode(
                {"id": i, "name": f"n{i}", "extra": "x"})), i)
            for i in range(4, 6)
        ]
        df = spark.createDataFrame(frames, "value binary, _offset long")
        parser = build_parser(
            "confluent_schema_registry",
            registry_url=f"http://127.0.0.1:{srv.server_port}",
            schema="id long, name string",
        )
        rows = parser(df).collect()
        assert sorted((r.id, r.name, r._schema_id, r._offset)
                      for r in rows) == [
            (i, f"n{i}", 1 if i < 4 else 2, i) for i in range(6)
        ]
    finally:
        srv.shutdown()


def test_parser_live_requires_declared_schema():
    from transferia_spark.parsers.registry import build_parser

    with pytest.raises(ValueError, match="schema"):
        build_parser(
            "confluent_schema_registry", registry_url="http://x"
        )


@pytest.mark.slow
def test_avro_serializer_and_live_registration_round_trip(spark):
    """The produce twin: avro_serializer encodes rows under the writer
    schema, confluent_sr_serializer REGISTERS it live and frames with
    the returned id, and the registry parser decodes the frames back —
    full sink→source parity with no pre-shared id."""
    from transferia_spark.parsers.registry import build_parser
    from transferia_spark.serializers import confluent_sr_serializer

    writer = json.dumps({
        "type": "record", "name": "E", "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": ["null", "string"]},
        ],
    })
    hits: list = []
    srv = _registry({}, hits)
    try:
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "c")], "id long, name string"
        )
        wire = confluent_sr_serializer(
            df,
            registry_url=f"http://127.0.0.1:{srv.server_port}",
            subject="events-value",
            schema_json=writer,
            schema_type="AVRO",
        )
        rows = wire.collect()
        assert len(rows) == 3
        sid = int.from_bytes(bytes(rows[0].value)[1:5], "big")
        assert ("POST", "/subjects/events-value/versions",
                {"schema": writer}) in [
            (h[0], h[1], h[2]) for h in hits if h[0] == "POST"
        ]
        parser = build_parser(
            "confluent_schema_registry",
            registry_url=f"http://127.0.0.1:{srv.server_port}",
            schema="id long, name string",
        )
        back = parser(wire).collect()
        assert sorted((r.id, r.name, r._schema_id) for r in back) == [
            (1, "a", sid), (2, None, sid), (3, "c", sid),
        ]
        # tombstone rows (null value) ride through as null rows
        tomb = spark.createDataFrame(
            [(b"k1", None)], "key binary, value binary"
        )
        trows = parser(tomb).collect()
        assert trows[0].id is None and trows[0]._schema_id is None
    finally:
        srv.shutdown()


def test_confluent_serializer_needs_id_or_registry():
    from transferia_spark.serializers import confluent_sr_serializer

    with pytest.raises(ValueError, match="schema_id"):
        confluent_sr_serializer(None)


def test_avro_serializer_nullable_ints_and_timestamps(spark):
    """code-review r11 pass 2: Arrow→pandas coerces nullable longs to
    float64 and hands timestamps as pd.Timestamp — the serializer
    restores what the WRITER SCHEMA demands (integers back from
    integral floats; timestamp-millis longs or ISO strings)."""
    import datetime as dt

    from transferia_spark.parsers.schema_registry import AvroCodec
    from transferia_spark.serializers import avro_serializer

    writer = json.dumps({
        "type": "record", "name": "E", "fields": [
            {"name": "id", "type": ["null", "long"]},
            {"name": "ts", "type": {
                "type": "long", "logicalType": "timestamp-millis"}},
            {"name": "ts_us", "type": {
                "type": "long", "logicalType": "timestamp-micros"}},
            {"name": "ts_s", "type": "string"},
        ],
    })
    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(1, t0, t0, t0, t0), (None, t0, t0, t0, t0)],
        "id long, ts timestamp, ts_us timestamp, ts_s timestamp, "
        "extra_ts timestamp",  # absent from the writer: dropped
    )
    codec = AvroCodec(writer)
    vals = [codec.decode(bytes(r.value))
            for r in avro_serializer(df, writer).collect()]
    ids = sorted((v["id"] is None, v["id"]) for v in vals)
    assert ids == [(False, 1), (True, None)]
    # EXACT instants (code-review r11 pass 3: the earlier `or ts > 0`
    # assertion was vacuous): independent epoch computation through
    # zoneinfo with the SESSION tz Spark localized the naive value to
    from zoneinfo import ZoneInfo

    tz = spark.conf.get("spark.sql.session.timeZone")
    expected_ms = int(
        t0.replace(tzinfo=ZoneInfo(tz)).timestamp() * 1000
    )
    for v in vals:
        assert v["ts"] == expected_ms
        assert v["ts_us"] == expected_ms * 1000  # micros, not millis
        assert v["ts_s"].endswith("+00:00")  # UTC-normalized ISO
        assert "extra_ts" not in v

    # a long field with NO logicalType cannot silently guess the unit
    for bad_field in (
        {"name": "ts", "type": "long"},
        {"name": "ts", "type": "double"},
    ):
        bad = json.dumps({
            "type": "record", "name": "B", "fields": [bad_field],
        })
        with pytest.raises(Exception, match="timestamp"):
            avro_serializer(
                spark.createDataFrame([(t0,)], "ts timestamp"), bad
            ).collect()


def test_registry_client_custom_ca_https(tmp_path):
    """Private-CA https registry (the common on-prem setup): tls_ca
    pins trust with hostname checking; the default context (public
    CAs only) must REJECT the self-signed server; tls_insecure is the
    explicit opt-out. ≈ the reference SR parser config's TLSFile
    (parser_config_confluent_schema_registry_common.go:12)."""
    import ssl
    import subprocess

    cert, key = str(tmp_path / "cert.pem"), str(tmp_path / "key.pem")
    subprocess.run(
        ["openssl", "req", "-x509", "-newkey", "rsa:2048",
         "-keyout", key, "-out", cert, "-days", "1", "-nodes",
         "-subj", "/CN=localhost",
         "-addext", "subjectAltName=IP:127.0.0.1,DNS:localhost"],
        check=True, capture_output=True,
    )
    hits: list = []
    srv = _registry({5: {"schema": '"long"'}}, hits, tls=(cert, key))
    base = f"https://127.0.0.1:{srv.server_port}"
    try:
        c = SchemaRegistryClient(base, tls_ca=cert)
        assert c.get_schema(5)["schema"] == '"long"'
        nid = c.register_schema("t-value", '"int"')
        assert c.get_schema(nid)["schema"] == '"int"'
        # no CA given → system trust store → self-signed fails loudly
        with pytest.raises((ssl.SSLError, OSError)):
            SchemaRegistryClient(base).get_schema(5)
        # explicit opt-out works
        ok = SchemaRegistryClient(base, tls_insecure=True)
        assert ok.get_schema(5)["schema"] == '"long"'
    finally:
        srv.shutdown()


def test_client_for_memo_keys_include_tls(tmp_path):
    from transferia_spark.parsers.schema_registry import client_for

    a = client_for("http://r:1", auth=None)
    b = client_for("http://r:1", auth=None, tls_insecure=True)
    c = client_for("http://r:1", auth=None)
    assert a is c and a is not b


def test_parser_routes_invalid_records_to_unparsed(spark):
    """ADVICE r11: one bad record must not poison the topic. The
    default on_invalid='unparsed' turns per-record schema violations
    (wrong-typed field, bad magic, unknown id) into null rows carrying
    _unparsed_raw + _error — the repo's dead-letter convention
    (route_unparsed) — while on_invalid='fail' keeps the loud raise."""
    from transferia_spark.parsers.registry import build_parser

    js = json.dumps({
        "type": "object", "title": "shop.events",
        "properties": {"id": {"type": "integer"},
                       "name": {"type": "string"}},
        "required": ["id"],
    })
    srv = _registry({3: {"schema": js, "schemaType": "JSON"}}, [])
    base = dict(
        registry_url=f"http://127.0.0.1:{srv.server_port}",
        schema="id long, name string",
    )
    good = encode_confluent_frame(3, b'{"id": 1, "name": "a"}')
    wrong_type = encode_confluent_frame(3, b'{"id": "oops"}')
    missing_req = encode_confluent_frame(3, b'{"name": "b"}')
    bad_magic = b"\x01\x00\x00\x00\x03{}"
    unknown_id = encode_confluent_frame(99, b'{"id": 2}')
    try:
        df = spark.createDataFrame(
            [(good, 0), (wrong_type, 1), (missing_req, 2),
             (bad_magic, 3), (unknown_id, 4), (None, 5)],
            "value binary, _offset long",
        )
        rows = {r._offset: r for r in build_parser(
            "confluent_schema_registry", **base)(df).collect()}
        assert (rows[0].id, rows[0].name, rows[0]._error) == (1, "a", None)
        assert rows[0]._unparsed_raw is None
        for off, frag in [(1, "does not match"), (2, "required"),
                          (3, "magic"), (4, "40403")]:
            r = rows[off]
            assert r.id is None and r._schema_id is None
            assert frag in r._error
            assert bytes(r._unparsed_raw) == df.collect()[off].value
        # tombstone stays a plain null row, NOT an unparsed one
        assert rows[5]._error is None and rows[5]._unparsed_raw is None

        # strict mode keeps the old loud behavior and drops the
        # dead-letter columns from the schema
        strict = build_parser(
            "confluent_schema_registry", on_invalid="fail", **base)
        out = strict(df.filter("_offset = 0"))
        assert "_unparsed_raw" not in out.columns
        with pytest.raises(Exception, match="does not match"):
            strict(df.filter("_offset = 1")).collect()
        with pytest.raises(ValueError, match="on_invalid"):
            build_parser("confluent_schema_registry",
                         on_invalid="bogus", **base)
    finally:
        srv.shutdown()


def test_registry_engine_columns_all_three_types():
    """Writer schema → engine columns across AVRO/JSON/PROTOBUF — the
    classification half of registry-driven drift."""
    from transferia_spark.parsers.schema_registry import (
        registry_engine_columns,
    )

    class StubClient:
        base_url = "http://r"

        def resolve_references(self, refs, _depth=0):
            return {}

    c = StubClient()
    avro = {"schemaType": "AVRO", "schema": json.dumps({
        "type": "record", "name": "E", "fields": [
            {"name": "id", "type": "long"},
            {"name": "ok", "type": "boolean"},
            {"name": "note", "type": ["null", "string"]},
            {"name": "raw", "type": "bytes"},
            {"name": "mix", "type": ["long", "string"]},
            {"name": "xs", "type": {"type": "array", "items": "long"}},
        ],
    })}
    assert registry_engine_columns(avro, c) == [
        ("id", "bigint"), ("ok", "boolean"), ("note", "string"),
        ("raw", "binary"), ("mix", "any"), ("xs", "any"),
    ]
    # non-record avro → no column contract
    assert registry_engine_columns(
        {"schemaType": "AVRO", "schema": '"long"'}, c) == []

    js = {"schemaType": "JSON", "schema": json.dumps({
        "type": "object", "properties": {
            "id": {"type": "integer"}, "score": {"type": "number"},
        }, "required": ["id"],
    })}
    assert registry_engine_columns(js, c) == [
        ("id", "bigint"), ("score", "double"),
    ]
    # permissive JSON registration → no contract
    assert registry_engine_columns(
        {"schemaType": "JSON", "schema": "{}"}, c) == []

    proto = {"schemaType": "PROTOBUF", "schema": """
        syntax = "proto3";
        message M { int64 id = 1; string name = 2;
                    map<string, int64> attrs = 3; }
    """}
    assert registry_engine_columns(proto, c) == [
        ("id", "bigint"), ("name", "string"), ("attrs", "any"),
    ]


def test_check_registry_drift_classification():
    """New writer columns → transient RegistrySchemaDrift with the
    machine-readable id marker; a retype → fatal ValueError; matching
    ids memoize (one registry round per new id, not per record)."""
    from pyspark.sql import types as T

    from transferia_spark.parsers.schema_registry import (
        RegistrySchemaDrift,
        check_registry_drift,
    )

    v1 = json.dumps({"type": "record", "name": "E", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
    ]})
    v2 = json.dumps({"type": "record", "name": "E", "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": "string"},
        {"name": "note", "type": ["null", "string"]},
    ]})
    v3 = json.dumps({"type": "record", "name": "E", "fields": [
        {"name": "id", "type": "string"},
    ]})
    hits: list = []
    srv = _registry({1: {"schema": v1}, 2: {"schema": v2},
                     3: {"schema": v3}}, hits)
    try:
        c = SchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        declared = {"id": T.LongType(), "name": T.StringType()}
        frame = encode_confluent_frame(1, b"")
        check_registry_drift(frame, c, declared)
        n = len(hits)
        check_registry_drift(frame, c, declared)  # memoized
        assert len(hits) == n
        with pytest.raises(RegistrySchemaDrift,
                           match=r"registry-schema-drift id=2"):
            check_registry_drift(encode_confluent_frame(2, b""), c,
                                 declared)
        with pytest.raises(ValueError, match="registry-schema-retype"):
            check_registry_drift(encode_confluent_frame(3, b""), c,
                                 declared)
        # the evolved declared set validates the once-drifting id
        declared2 = dict(declared, note=T.StringType())
        check_registry_drift(encode_confluent_frame(2, b""), c,
                             declared2)
    finally:
        srv.shutdown()


def test_check_registry_drift_protobuf_indexes_marker():
    """PROTOBUF drift: the marker carries the message-indexes path
    (the addressed message, not just the schema id), the supervisor
    parses it back, and map-entry slots count in the walk."""
    from pyspark.sql import types as T

    from transferia_spark.parsers.schema_registry import (
        RegistrySchemaDrift,
        check_registry_drift,
        encode_message_indexes,
        registry_engine_columns,
    )
    from transferia_spark.tasks.replicate import _registry_drift_signal

    proto = """
        syntax = "proto3";
        message Outer {
          map<string, string> attrs = 1;
          message Evt { int64 k = 1; string n = 2; string note = 3; }
          Evt evt = 2;
        }
    """
    meta = {"schemaType": "PROTOBUF", "schema": proto}

    class C:
        base_url = "scripted://p"

        def get_schema(self, sid):
            return meta

        def resolve_references(self, refs, _depth=0):
            return {}

    c = C()
    # Evt sits at [0, 1]: the synthetic AttrsEntry occupies slot 0
    assert registry_engine_columns(meta, c, [0, 1]) == [
        ("k", "bigint"), ("n", "string"), ("note", "string"),
    ]
    frame = b"\x00" + (77).to_bytes(4, "big") \
        + encode_message_indexes([0, 1]) + b""
    declared = {"k": T.LongType(), "n": T.StringType()}
    with pytest.raises(RegistrySchemaDrift) as ei:
        check_registry_drift(frame, c, declared)
    sig = _registry_drift_signal(ei.value)
    assert sig == (77, [0, 1])
    # evolved declared set validates
    check_registry_drift(
        frame, c, dict(declared, note=T.StringType())
    )


def test_evolve_schema_file_from_registry_proto_indexes(spark, tmp_path):
    """The supervisor half resolves the PROTOBUF writer schema at the
    marker's indexes and appends exactly its new columns."""
    from transferia_spark.tasks.replicate import (
        evolve_schema_file_from_registry,
    )

    proto = """
        syntax = "proto3";
        message Outer {
          map<string, string> attrs = 1;
          message Evt { int64 k = 1; string n = 2; double score = 4;
                        bool live = 5; }
          Evt evt = 2;
        }
    """
    srv = _registry({9: {"schema": proto, "schemaType": "PROTOBUF"}}, [])
    sf = str(tmp_path / "schema.ddl")
    with open(sf, "w") as f:
        f.write("k bigint, n string")
    src = {
        "schema_file": sf,
        "parser": {
            "type": "confluent_schema_registry",
            "registry_url": f"http://127.0.0.1:{srv.server_port}",
        },
    }
    try:
        added = evolve_schema_file_from_registry(src, 9, [0, 1])
        assert added == ["score", "live"]
        with open(sf) as f:
            assert f.read() == "k bigint, n string, score double, live boolean"
        # idempotent: nothing new on a replayed marker
        assert evolve_schema_file_from_registry(src, 9, [0, 1]) == []
    finally:
        srv.shutdown()


def test_drift_guard_covers_every_engine_type_and_keys_on_types():
    """code-review r12: (a) the fits-check and the supervisor's
    engine→Spark map must cover EVERY engine type the three codecs can
    emit ('int'/'float' were missing — a proto int32 drift KeyError'd
    the supervisor); (b) the validated-ids memo keys on declared
    TYPES, not just names — same names under different types is a
    different retype question."""
    from pyspark.sql import types as T

    from transferia_spark.parsers.proto_schema import PROTO_COLUMN_TYPES
    from transferia_spark.parsers.schema_registry import (
        _AVRO_ENGINE,
        JsonSchemaCodec,
        _engine_type_fits,
        check_registry_drift,
    )
    from transferia_spark.tasks.replicate import _ENGINE_TO_SPARK_DDL

    every = (set(PROTO_COLUMN_TYPES.values()) | set(_AVRO_ENGINE.values())
             | set(JsonSchemaCodec._TYPES.values()) | {"any"})
    assert every <= set(_ENGINE_TO_SPARK_DDL), every
    # the fits-check must give a REAL verdict (not fall-through-True)
    # for every engine type: an int/float writer into a boolean column
    # is a retype
    for et in every - {"any"}:
        assert not _engine_type_fits(et, T.TimestampType()) or et in (
            "string",
        ), et
    assert _engine_type_fits("int", T.LongType())
    assert _engine_type_fits("float", T.DoubleType())
    assert not _engine_type_fits("float", T.LongType())
    # int→boolean stays permitted on purpose: MySQL BOOLEAN is
    # tinyint(1), the same stance json_kind_compatible takes
    assert _engine_type_fits("int", T.BooleanType())

    # (b) memo key includes types
    v = json.dumps({"type": "record", "name": "E", "fields": [
        {"name": "k", "type": "long"}]})
    srv = _registry({4: {"schema": v}}, [])
    try:
        c = SchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        frame = encode_confluent_frame(4, b"")
        check_registry_drift(frame, c, {"k": T.LongType()})  # validates
        with pytest.raises(ValueError, match="registry-schema-retype"):
            check_registry_drift(frame, c, {"k": T.DateType()})
    finally:
        srv.shutdown()


def test_unknown_schema_id_is_negative_cached():
    """code-review r12: under on_invalid='unparsed' a topic carrying
    an unregistered id must not issue one registry GET per record —
    404s negative-cache (ids are never recycled) and stay loud."""
    hits: list = []
    srv = _registry({1: {"schema": '"long"'}}, hits)
    try:
        c = SchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        for _ in range(5):
            with pytest.raises(ValueError, match="40403"):
                c.get_schema(999)
        assert len([h for h in hits if h[0] == "GET"]) == 1
        # real ids still resolve and cache independently
        assert c.get_schema(1)["schema"] == '"long"'
    finally:
        srv.shutdown()


def test_registry_5xx_is_infra_loud_not_unparsed(spark):
    """code-review r12 pass 2: a registry outage (503/429/401) is
    INFRA — it must fail the stream loudly, never dead-letter records
    as unparsed data errors. Only 404 is data-shaped."""
    import http.server
    import threading

    from transferia_spark.parsers.registry import build_parser
    from transferia_spark.parsers.schema_registry import (
        RegistryHTTPError,
        encode_confluent_frame,
    )

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            out = b'{"message": "registry restarting"}'
            self.send_response(503)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        c = SchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        with pytest.raises(RegistryHTTPError, match="503") as ei:
            c.get_schema(1)
        from transferia_spark.tasks.replicate import is_fatal

        assert not is_fatal(ei.value)  # outage: supervisor retries
        # and it is a RuntimeError (supervisor-transient), NOT a
        # ValueError the unparsed routing would swallow
        assert not issubclass(RegistryHTTPError, ValueError)
        df = spark.createDataFrame(
            [(encode_confluent_frame(1, b"{}"), 0)],
            "value binary, _offset long",
        )
        parsed = build_parser(
            "confluent_schema_registry",
            registry_url=f"http://127.0.0.1:{srv.server_port}",
            schema="k long",
        )(df)
        with pytest.raises(Exception, match="503"):
            parsed.collect()
    finally:
        srv.shutdown()


def test_unknown_id_negative_cache_expires_and_raises_fresh():
    """code-review r12 pass 2: a 404 can be a registration race /
    replica lag — the negative entry re-probes after the TTL; and
    each hit raises a FRESH exception (re-raising one cached instance
    grows its __traceback__ per raise)."""
    import time

    hits: list = []
    schemas: dict = {}
    srv = _registry(schemas, hits)
    try:
        c = SchemaRegistryClient(f"http://127.0.0.1:{srv.server_port}")
        c.negative_ttl = 0.2
        errs = []
        for _ in range(2):
            with pytest.raises(ValueError, match="40403") as ei:
                c.get_schema(31)
            errs.append(ei.value)
        assert errs[0] is not errs[1]  # fresh instances
        assert len([h for h in hits if h[0] == "GET"]) == 1
        # the producer registers; after the TTL the id resolves
        schemas[31] = {"schema": '"long"'}
        time.sleep(0.25)
        assert c.get_schema(31)["schema"] == '"long"'
    finally:
        srv.shutdown()
