"""Pure-Python protobuf wire-format decoder.

The protobuf wire format is four primitive encodings — varint (wire
type 0), 64-bit fixed (1), length-delimited (2), 32-bit fixed (5) —
composed by (field_number << 3 | wire_type) tags. This module decodes
it with no dependency on ``google.protobuf`` or the spark-protobuf jar,
driven by a minimal field spec instead of a compiled descriptor:

    {1: ("id", "int64"), 2: ("name", "string"),
     3: ("score", "double"), 4: ("tags", "repeated string"),
     5: ("inner", ("message", {1: ("x", "int32")}))}

It backs the protobuf parser's ``engine="python"`` path
(``registry.py``), giving the parser executable evidence in
environments without the jar (≈ ``pkg/parsers/registry/protobuf`` in
transferia/transferia, which embeds a full descriptor-driven decoder);
the jar path remains the production fast path. Unknown fields are
skipped by wire type, repeated scalars accept both packed and unpacked
encodings, and later occurrences of a singular field win — all per the
public encoding spec.

The encode helpers exist so tests can build wire-exact messages without
protoc; they are not a serializer surface.
"""

from __future__ import annotations

import struct
from typing import Any

_VARINT_TYPES = {"int32", "int64", "uint32", "uint64", "bool", "enum"}
_ZIGZAG_TYPES = {"sint32", "sint64"}
_FIXED64_TYPES = {"fixed64", "sfixed64", "double"}
_FIXED32_TYPES = {"fixed32", "sfixed32", "float"}
_LEN_TYPES = {"string", "bytes"}

_WIRE_VARINT, _WIRE_F64, _WIRE_LEN, _WIRE_F32 = 0, 1, 2, 5


# ------------------------------------------------------------ primitives


def read_varint(data: bytes, pos: int) -> tuple[int, int]:
    """Base-128 varint at ``pos`` → (value, next_pos)."""
    result = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated varint")
        b = data[pos]
        result |= (b & 0x7F) << shift
        pos += 1
        if not (b & 0x80):
            return result, pos
        shift += 7
        if shift > 70:
            raise ValueError("varint too long")


def encode_varint(value: int) -> bytes:
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(value: int) -> int:
    return (value >> 1) ^ -(value & 1)


def zigzag_encode(value: int) -> int:
    return (value << 1) ^ (value >> 63)


def read_zigzag(data: bytes, pos: int) -> tuple[int, int]:
    """Zigzag base-128 varint at ``pos`` → (signed value, next_pos) —
    protobuf sint, Avro int/long and Kafka record-delta encoding."""
    v, pos = read_varint(data, pos)
    return zigzag_decode(v), pos


def write_zigzag(value: int) -> bytes:
    return encode_varint(zigzag_encode(value) & 0xFFFFFFFFFFFFFFFF)


def _to_signed(value: int, bits: int) -> int:
    if value >= 1 << (bits - 1):
        value -= 1 << bits
    return value


# --------------------------------------------------------------- decode


def _decode_scalar(typ: str, wire: int, data: bytes, pos: int) -> tuple[Any, int]:
    if typ in _VARINT_TYPES or typ in _ZIGZAG_TYPES:
        v, pos = read_varint(data, pos)
        if typ in _ZIGZAG_TYPES:
            return zigzag_decode(v), pos
        if typ == "bool":
            return bool(v), pos
        if typ == "int32":
            return _to_signed(v & 0xFFFFFFFFFFFFFFFF, 64), pos
        if typ == "int64":
            return _to_signed(v, 64), pos
        return v, pos
    if typ in _FIXED64_TYPES:
        raw = data[pos : pos + 8]
        if typ == "double":
            return struct.unpack("<d", raw)[0], pos + 8
        v = struct.unpack("<Q", raw)[0]
        return (_to_signed(v, 64) if typ == "sfixed64" else v), pos + 8
    if typ in _FIXED32_TYPES:
        raw = data[pos : pos + 4]
        if typ == "float":
            return struct.unpack("<f", raw)[0], pos + 4
        v = struct.unpack("<I", raw)[0]
        return (_to_signed(v, 32) if typ == "sfixed32" else v), pos + 4
    raise ValueError(f"unknown scalar type {typ!r}")


def _skip(wire: int, data: bytes, pos: int) -> int:
    if wire == _WIRE_VARINT:
        _, pos = read_varint(data, pos)
        return pos
    if wire == _WIRE_F64:
        return pos + 8
    if wire == _WIRE_LEN:
        n, pos = read_varint(data, pos)
        return pos + n
    if wire == _WIRE_F32:
        return pos + 4
    raise ValueError(f"cannot skip wire type {wire}")


def decode_message(data: bytes, fields: dict[int, tuple]) -> dict:
    """Decode one message against the field spec. Singular fields keep
    the LAST occurrence (the spec's merge rule); ``repeated`` fields
    accumulate, accepting packed and unpacked scalar encodings."""
    out: dict[str, Any] = {}
    for _num, (name, typ) in fields.items():
        if isinstance(typ, str) and typ.startswith("repeated "):
            out[name] = []
        elif isinstance(typ, tuple) and typ[0] == "repeated message":
            out[name] = []
    pos = 0
    while pos < len(data):
        tag, pos = read_varint(data, pos)
        num, wire = tag >> 3, tag & 7
        spec = fields.get(num)
        if spec is None:
            pos = _skip(wire, data, pos)
            continue
        name, typ = spec
        if isinstance(typ, tuple):
            # ("message", spec) keeps the last occurrence (the spec's
            # merge rule, approximated); ("repeated message", spec)
            # accumulates — map<k,v> entries and repeated submessages
            if wire != _WIRE_LEN:
                # a renumbered/corrupt field must not read a varint
                # VALUE as a byte length (code-review r11 pass 4)
                raise ValueError(
                    f"field {num} ({name}): message field arrived "
                    f"with wire type {wire}, want length-delimited"
                )
            n, pos = read_varint(data, pos)
            sub = decode_message(data[pos : pos + n], typ[1])
            pos += n
            if typ[0] == "repeated message":
                out[name].append(sub)
            else:
                out[name] = sub
            continue
        repeated = typ.startswith("repeated ")
        base = typ[len("repeated "):] if repeated else typ
        if base in _LEN_TYPES:
            n, pos = read_varint(data, pos)
            raw = data[pos : pos + n]
            pos += n
            val = raw.decode("utf-8") if base == "string" else raw
            if repeated:
                out[name].append(val)
            else:
                out[name] = val
        elif repeated and wire == _WIRE_LEN:
            # packed repeated scalars: a length-delimited run of values
            n, pos = read_varint(data, pos)
            end = pos + n
            while pos < end:
                val, pos = _decode_scalar(base, wire, data, pos)
                out[name].append(val)
        else:
            val, pos = _decode_scalar(base, wire, data, pos)
            if repeated:
                out[name].append(val)
            else:
                out[name] = val
    return out


# --------------------------------------------------- encode (test helper)


def encode_field(num: int, typ: str | tuple, value: Any) -> bytes:
    """Wire-encode one field (tests build messages with this — protoc
    is not needed for wire-exact fixtures)."""
    if isinstance(typ, tuple) and typ[0] == "repeated message":
        return b"".join(
            encode_field(num, ("message", typ[1]), v) for v in value
        )
    if isinstance(typ, tuple) and typ[0] == "message":
        body = b"".join(
            encode_field(n, t, value[name])
            for n, (name, t) in typ[1].items()
            if name in value
        )
        return encode_varint(num << 3 | _WIRE_LEN) + encode_varint(len(body)) + body
    if typ.startswith("repeated "):
        base = typ[len("repeated "):]
        return b"".join(encode_field(num, base, v) for v in value)
    if typ in _LEN_TYPES:
        raw = value.encode("utf-8") if typ == "string" else bytes(value)
        return encode_varint(num << 3 | _WIRE_LEN) + encode_varint(len(raw)) + raw
    if typ in _ZIGZAG_TYPES:
        return encode_varint(num << 3) + encode_varint(zigzag_encode(value))
    if typ in _VARINT_TYPES:
        return encode_varint(num << 3) + encode_varint(value & 0xFFFFFFFFFFFFFFFF)
    if typ == "double":
        return encode_varint(num << 3 | _WIRE_F64) + struct.pack("<d", value)
    if typ == "float":
        return encode_varint(num << 3 | _WIRE_F32) + struct.pack("<f", value)
    if typ in _FIXED64_TYPES:
        return encode_varint(num << 3 | _WIRE_F64) + struct.pack(
            "<Q", value & 0xFFFFFFFFFFFFFFFF
        )
    if typ in _FIXED32_TYPES:
        return encode_varint(num << 3 | _WIRE_F32) + struct.pack(
            "<I", value & 0xFFFFFFFF
        )
    raise ValueError(f"cannot encode type {typ!r}")


def encode_message(fields: dict[int, tuple], values: dict) -> bytes:
    return b"".join(
        encode_field(num, typ, values[name])
        for num, (name, typ) in fields.items()
        if name in values
    )


__all__ = [
    "decode_message",
    "encode_message",
    "encode_field",
    "read_varint",
    "encode_varint",
    "zigzag_decode",
    "zigzag_encode",
    "read_zigzag",
    "write_zigzag",
]
