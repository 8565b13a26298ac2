"""zstd record payloads through ``kafka_wire.decompress_records``
(pyarrow's bundled libzstd) — round-trip-pinned against a real zstd
encoder across compression levels and data shapes, plus hand-built
frames for the paths an encoder rarely emits and loud-corruption
contracts."""

from __future__ import annotations

import json
import os
import random

import pyarrow as pa
import pytest

from transferia_spark.sinks.kafka_wire import (
    compress_records,
    decompress_records,
)

ZSTD_MAGIC = 0xFD2FB528


def zstd_decompress(data: bytes) -> bytes:
    return decompress_records(4, data)


def _shapes() -> dict[str, bytes]:
    rng = random.Random(11)
    words = [b"alpha", b"beta", b"gamma", b"delta", bytes(rng.randbytes(12))]
    big = bytearray()
    for _ in range(120_000):
        big += words[rng.randrange(5)]
    here = os.path.join(
        os.path.dirname(__file__), "..", "transferia_spark", "sinks"
    )
    with open(os.path.join(here, "kafka_wire.py"), "rb") as f:
        src = f.read()
    return {
        "empty": b"",
        "one": b"x",
        "tiny": b"abcde",
        "rle": b"z" * 40_000,
        "repeat": b"hello world, hello world! " * 400,
        "incompressible": rng.randbytes(6000),
        "jsonish": json.dumps(
            [
                {"user_id": i, "name": f"user-{i % 97}", "tags": ["a", "b"]}
                for i in range(3000)
            ]
        ).encode(),
        "source_code": src * 3,
        # > 128 KiB blocks → multi-block frame, treeless literals and
        # Repeat-mode sequence tables across block boundaries
        "big_multiblock": bytes(big),
    }


@pytest.mark.parametrize("level", [1, 3, 9, 19])
def test_roundtrip_against_libzstd(level):
    codec = pa.Codec("zstd", compression_level=level)
    for name, data in _shapes().items():
        frame = codec.compress(data, asbytes=True)
        assert zstd_decompress(frame) == data, f"{name} @ {level}"


def test_hypothesis_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    codec1 = pa.Codec("zstd", compression_level=1)
    codec19 = pa.Codec("zstd", compression_level=19)

    # mix literal runs and repetitions so sequences + huffman engage
    piece = st.one_of(
        st.binary(max_size=64),
        st.tuples(
            st.binary(min_size=1, max_size=8),
            st.integers(min_value=1, max_value=200),
        ).map(lambda t: t[0] * t[1]),
    )

    @settings(max_examples=60, deadline=None)
    @given(st.lists(piece, max_size=20))
    def check(pieces):
        data = b"".join(pieces)
        for codec in (codec1, codec19):
            frame = codec.compress(data, asbytes=True)
            assert zstd_decompress(frame) == data

    check()


def test_concatenated_and_skippable_frames():
    codec = pa.Codec("zstd", compression_level=3)
    a = codec.compress(b"first frame ", asbytes=True)
    b = codec.compress(b"second frame", asbytes=True)
    skip = (0x184D2A53).to_bytes(4, "little") + (4).to_bytes(4, "little") + b"junk"
    assert zstd_decompress(a + skip + b) == b"first frame second frame"
    assert zstd_decompress(skip + a) == b"first frame "  # skippable prefix


def test_handbuilt_frames_rare_paths():
    # raw-block frame WITHOUT content size (streaming-mode shape the
    # Java client produces): fhd=0 → window descriptor, no FCS
    frame = ZSTD_MAGIC.to_bytes(4, "little") + bytes([0x00, 0x00])
    frame += ((5 << 3) | 1).to_bytes(3, "little") + b"hello"
    assert zstd_decompress(frame) == b"hello"
    # RLE block: block size = regenerated count, one content byte
    frame = ZSTD_MAGIC.to_bytes(4, "little") + bytes([0x20, 9])
    frame += ((9 << 3) | (1 << 1) | 1).to_bytes(3, "little") + b"x"
    assert zstd_decompress(frame) == b"x" * 9
    # multi-block: raw + RLE + empty raw last block
    frame = ZSTD_MAGIC.to_bytes(4, "little") + bytes([0x00, 0x00])
    frame += ((2 << 3) | 0).to_bytes(3, "little") + b"ab"
    frame += ((3 << 3) | (1 << 1) | 0).to_bytes(3, "little") + b"c"
    frame += (1).to_bytes(3, "little")  # last, raw, size 0
    assert zstd_decompress(frame) == b"abccc"
    # the produce path round-trips everything
    for data in _shapes().values():
        bits, comp = compress_records("zstd", data)
        assert bits == 4
        assert zstd_decompress(comp) == data


def test_corruption_is_loud_never_indexerror():
    codec = pa.Codec("zstd", compression_level=3)
    good = codec.compress(b"payload " * 100, asbytes=True)
    with pytest.raises(ValueError, match="corrupt zstd"):
        zstd_decompress(b"\x00\x01\x02\x03rest")  # bad magic
    with pytest.raises(ValueError, match="corrupt zstd"):
        zstd_decompress(good[: len(good) - 3])  # truncated tail
    with pytest.raises(ValueError, match="corrupt zstd"):
        zstd_decompress(good[:6])  # truncated header
    # reserved block type 3
    frame = ZSTD_MAGIC.to_bytes(4, "little") + bytes([0x00, 0x00])
    frame += ((1 << 3) | (3 << 1) | 1).to_bytes(3, "little") + b"x"
    with pytest.raises(ValueError, match="corrupt zstd"):
        zstd_decompress(frame)
    # dictionary frames are refused by name, not misdecoded
    frame = ZSTD_MAGIC.to_bytes(4, "little") + bytes([0x01, 0x00, 7])
    with pytest.raises(ValueError, match="Dictionary"):
        zstd_decompress(frame + ((0 << 3) | 1).to_bytes(3, "little"))
    # declared content size must match what regenerates
    bad = bytearray(codec.compress(b"abc", asbytes=True))
    # fhd for a 3-byte input is single-segment with a 1-byte FCS at [5]
    assert bad[4] & 0x20
    bad[5] = 9
    with pytest.raises(ValueError, match="corrupt zstd"):
        zstd_decompress(bytes(bad))
    # flipping a byte inside the compressed body must never escape as
    # IndexError — ValueError or (rarely) silent-valid is acceptable
    blob = bytearray(codec.compress(os.urandom(400) * 3, asbytes=True))
    rng = random.Random(5)
    for _ in range(200):
        i = rng.randrange(6, len(blob))
        old = blob[i]
        blob[i] = rng.randrange(256)
        try:
            zstd_decompress(bytes(blob))
        except ValueError:
            pass
        blob[i] = old


def test_kafka_record_batch_zstd_consumes():
    """The wire consumer's decode path: a zstd-compressed RecordBatch
    (libzstd on both sides) decodes back to the exact records."""
    from transferia_spark.sinks.kafka_wire import (
        decode_record_set,
        encode_record_batch,
    )

    recs = [(f"k{i}".encode(), (f"v{i}-" * 20).encode()) for i in range(50)]
    batch = encode_record_batch(recs, base_offset=100, compression="zstd")
    plain = encode_record_batch(recs, base_offset=100)
    assert len(batch) < len(plain)  # it actually compressed
    rows = decode_record_set(batch)
    assert [(r["key"], r["value"]) for r in rows] == recs
    assert [r["offset"] for r in rows] == list(range(100, 150))
