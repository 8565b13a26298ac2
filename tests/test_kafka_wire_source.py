"""Pure-wire Kafka CONSUMER (streaming/kafka_source.py): a REAL
loopback broker speaking Metadata/ListOffsets/Fetch — rows produced by
the repo's own wire PRODUCER come back through the new
DataSourceStreamReader (r9 verdict next #4 ≈ kafka/source.go:105)."""

from __future__ import annotations

import socket
import struct
import threading

import pytest

from transferia_spark.sinks.kafka_wire import (
    decode_record_batch,
    decode_record_set,
    encode_record_batch,
)

# ------------------------------------------------------- scripted broker


def _enc_str(s: str | None) -> bytes:
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode()
    return struct.pack(">h", len(b)) + b


def _read_str(body: bytes, pos: int):
    (ln,) = struct.unpack_from(">h", body, pos)
    pos += 2
    if ln < 0:
        return None, pos
    return body[pos:pos + ln].decode(), pos + ln


class LoopbackBroker:
    """Single-node broker: RecordBatch v2 log per (topic, partition);
    answers Produce v3, Metadata v1, ListOffsets v1, Fetch v4."""

    def __init__(self, topics: dict[str, int]):
        # topic -> partition -> list of (key, value, timestamp_ms)
        self.log: dict[str, dict[int, list]] = {
            t: {p: [] for p in range(n)} for t, n in topics.items()
        }
        self._srv = socket.socket()
        self._srv.bind(("127.0.0.1", 0))
        self._srv.listen(16)
        self.port = self._srv.getsockname()[1]
        self._closed = False
        t = threading.Thread(target=self._accept_loop, daemon=True)
        t.start()

    def close(self):
        self._closed = True
        self._srv.close()

    def _accept_loop(self):
        while not self._closed:
            try:
                conn, _ = self._srv.accept()
            except OSError:
                return
            threading.Thread(
                target=self._serve, args=(conn,), daemon=True
            ).start()

    def _serve(self, conn: socket.socket):
        def recv_exact(n):
            out = b""
            while len(out) < n:
                b = conn.recv(n - len(out))
                if not b:
                    return None
                out += b
            return out

        while True:
            head = recv_exact(4)
            if head is None:
                conn.close()
                return
            (ln,) = struct.unpack(">i", head)
            body = recv_exact(ln)
            if body is None:
                conn.close()
                return
            api, _ver, corr = struct.unpack_from(">hhi", body, 0)
            pos = 8
            _cid, pos = _read_str(body, pos)
            resp = {
                0: self._produce, 1: self._fetch,
                2: self._list_offsets, 3: self._metadata,
                8: self._offset_commit, 9: self._offset_fetch,
                10: self._find_coordinator,
                22: self._init_producer_id,
            }[api](body, pos)
            frame = struct.pack(">i", corr) + resp
            conn.sendall(struct.pack(">i", len(frame)) + frame)

    def _find_coordinator(self, body: bytes, pos: int) -> bytes:
        # FindCoordinator v0: this broker coordinates every group
        return (
            struct.pack(">h", 0) + struct.pack(">i", 0)
            + _enc_str("127.0.0.1") + struct.pack(">i", self.port)
        )

    def _offset_commit(self, body: bytes, pos: int) -> bytes:
        group, pos = _read_str(body, pos)
        _gen = struct.unpack_from(">i", body, pos)[0]
        pos += 4
        _member, pos = _read_str(body, pos)
        pos += 8  # retention
        (n_topics,) = struct.unpack_from(">i", body, pos)
        pos += 4
        commits = getattr(self, "commits", None)
        if commits is None:
            commits = self.commits = {}  # (group, topic, part) -> off
        out = struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic, pos = _read_str(body, pos)
            (n_parts,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out += _enc_str(topic) + struct.pack(">i", n_parts)
            for _p in range(n_parts):
                part, off = struct.unpack_from(">iq", body, pos)
                pos += 12
                _meta, pos = _read_str(body, pos)
                commits[(group, topic, part)] = off
                out += struct.pack(">ih", part, 0)
        return out

    def _offset_fetch(self, body: bytes, pos: int) -> bytes:
        group, pos = _read_str(body, pos)
        (n_topics,) = struct.unpack_from(">i", body, pos)
        pos += 4
        commits = getattr(self, "commits", {})
        out = struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic, pos = _read_str(body, pos)
            (n_parts,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out += _enc_str(topic) + struct.pack(">i", n_parts)
            for _p in range(n_parts):
                (part,) = struct.unpack_from(">i", body, pos)
                pos += 4
                off = commits.get((group, topic, part), -1)
                out += struct.pack(">iq", part, off)
                out += _enc_str(None) + struct.pack(">h", 0)
        return out

    def _init_producer_id(self, body: bytes, pos: int) -> bytes:
        # InitProducerId v0: throttle, error, pid, epoch
        self._next_pid = getattr(self, "_next_pid", 1000) + 1
        return struct.pack(">ihqh", 0, 0, self._next_pid, 0)

    def _produce(self, body: bytes, pos: int) -> bytes:
        _txid, pos = _read_str(body, pos)
        _acks, _timeout = struct.unpack_from(">hi", body, pos)
        pos += 6
        (n_topics,) = struct.unpack_from(">i", body, pos)
        pos += 4
        out = struct.pack(">i", n_topics)
        seqs = getattr(self, "_seqs", None)
        if seqs is None:
            seqs = self._seqs = {}  # (topic, part, pid) -> next seq
        for _ in range(n_topics):
            topic, pos = _read_str(body, pos)
            (n_parts,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out += _enc_str(topic) + struct.pack(">i", n_parts)
            for _p in range(n_parts):
                part, set_len = struct.unpack_from(">ii", body, pos)
                pos += 8
                batch = decode_record_batch(body[pos:pos + set_len])
                pos += set_len
                plog = self.log[topic][part]
                base = len(plog)
                pid, bseq = batch["producer_id"], batch["base_sequence"]
                if pid >= 0 and bseq >= 0:
                    # KIP-98 idempotence: a replayed (pid, sequence)
                    # dedupes with DUPLICATE_SEQUENCE_NUMBER (46)
                    expect = seqs.get((topic, part, pid), 0)
                    if bseq < expect:
                        out += struct.pack(">ihqq", part, 46, base, -1)
                        continue
                    seqs[(topic, part, pid)] = \
                        bseq + len(batch["records"])
                for r in batch["records"]:
                    plog.append((r["key"], r["value"], r["timestamp"]))
                out += struct.pack(">ihqq", part, 0, base, -1)
        return out + struct.pack(">i", 0)  # throttle

    def _metadata(self, body: bytes, pos: int) -> bytes:
        (n,) = struct.unpack_from(">i", body, pos)
        pos += 4
        names = []
        for _ in range(n):
            nm, pos = _read_str(body, pos)
            names.append(nm)
        out = struct.pack(">i", 1)  # one broker
        out += struct.pack(">i", 0) + _enc_str("127.0.0.1")
        out += struct.pack(">i", self.port) + _enc_str(None)  # rack
        out += struct.pack(">i", 0)  # controller id
        out += struct.pack(">i", len(names))
        for nm in names:
            parts = self.log.get(nm, {})
            out += struct.pack(">h", 0 if nm in self.log else 3)
            out += _enc_str(nm) + b"\x00"  # not internal
            out += struct.pack(">i", len(parts))
            for p in sorted(parts):
                out += struct.pack(">hii", 0, p, 0)
                out += struct.pack(">ii", 1, 0)  # replicas [0]
                out += struct.pack(">ii", 1, 0)  # isr [0]
        return out

    def _list_offsets(self, body: bytes, pos: int) -> bytes:
        pos += 4  # replica id
        (n_topics,) = struct.unpack_from(">i", body, pos)
        pos += 4
        out = struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic, pos = _read_str(body, pos)
            (n_parts,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out += _enc_str(topic) + struct.pack(">i", n_parts)
            for _p in range(n_parts):
                part, ts = struct.unpack_from(">iq", body, pos)
                pos += 12
                off = 0 if ts == -2 else len(self.log[topic][part])
                out += struct.pack(">ihqq", part, 0, -1, off)
        return out

    def _fetch(self, body: bytes, pos: int) -> bytes:
        pos += 16 + 1  # replica, max_wait, min_bytes, max_bytes, isolation
        (n_topics,) = struct.unpack_from(">i", body, pos)
        pos += 4
        out = struct.pack(">i", 0)  # throttle
        out += struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic, pos = _read_str(body, pos)
            (n_parts,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out += _enc_str(topic) + struct.pack(">i", n_parts)
            for _p in range(n_parts):
                part, off, _pmax = struct.unpack_from(">iqi", body, pos)
                pos += 16
                plog = self.log[topic][part]
                hw = len(plog)
                if off < hw:
                    recs = [(k, v) for k, v, _t in plog[off:]]
                    rec_set = encode_record_batch(
                        recs, base_offset=off,
                        base_timestamp=plog[off][2],
                    )
                else:
                    rec_set = b""
                out += struct.pack(">ihqq", part, 0, hw, hw)
                out += struct.pack(">i", 0)  # aborted txns
                out += struct.pack(">i", len(rec_set)) + rec_set
        return out


# ---------------------------------------------------------------- tests


def test_consumer_loopback_e2e_produce_then_fetch(spark, tmp_path):
    """Full circle with NO jars: the wire producer ships RecordBatch v2
    frames to a loopback broker; the wire consumer streams them back
    with Spark's natural offsets — exact keys/values, both partitions,
    dense offsets."""
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.queues import KafkaSink

    broker = LoopbackBroker({"shop.orders": 2})
    port = broker.port

    def transport(frame: bytes) -> None:
        s = socket.create_connection(("127.0.0.1", port), timeout=10)
        try:
            s.sendall(frame)
            s.recv(4096)  # drain the ack (producer is fire-and-forget)
        finally:
            s.close()

    try:
        sink = KafkaSink(
            bootstrap_servers=f"127.0.0.1:{port}",
            num_partitions=2,
            transport=transport,
        )
        df = spark.createDataFrame(
            [(str(i), f"v{i}") for i in range(20)],
            "key string, value string",
        )
        sink.write(df, TableID("shop", "orders"))
        produced = sum(len(v) for v in broker.log["shop.orders"].values())
        assert produced == 20
        assert all(len(v) > 0 for v in broker.log["shop.orders"].values())

        from transferia_spark.streaming.kafka_source import kafka_wire_stream

        stream = kafka_wire_stream(
            spark, f"127.0.0.1:{port}", "shop.orders",
            starting_offsets="earliest",
        )
        q = (
            stream.writeStream.format("memory")
            .queryName("kafka_wire_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = spark.sql("SELECT * FROM kafka_wire_sink").collect()
        assert len(rows) == 20
        got = sorted(
            (bytes(r.key).decode(), bytes(r.value).decode()) for r in rows
        )
        assert got == sorted((str(i), f"v{i}") for i in range(20))
        assert {r.partition for r in rows} == {0, 1}
        for p in (0, 1):
            offs = sorted(r.offset for r in rows if r.partition == p)
            assert offs == list(range(len(offs)))  # dense natural offsets
        assert all(r.topic == "shop.orders" for r in rows)
    finally:
        broker.close()


def test_kafka_wire_source_through_parser_to_sink(spark, tmp_path):
    """The reference's Kafka source chain — consume → parse → push
    (kafka/source.go:105: franz-go → parsequeue → parser) — composed
    from the repo's own parts with NO jars: wire producer → loopback
    broker → wire consumer (raw mirror frame) → registry json parser →
    parquet sink; typed rows land with the queue system columns."""
    import json as _json

    from transferia_spark.parsers.registry import build_parser
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.queues import KafkaSink

    broker = LoopbackBroker({"events": 1})
    port = broker.port

    def transport(frame: bytes) -> None:
        s = socket.create_connection(("127.0.0.1", port), timeout=10)
        try:
            s.sendall(frame)
            s.recv(4096)
        finally:
            s.close()

    try:
        payloads = [
            _json.dumps({"id": i, "name": f"n{i}", "extra": "x"})
            for i in range(6)
        ]
        sink = KafkaSink(
            bootstrap_servers=f"127.0.0.1:{port}", transport=transport
        )
        df = spark.createDataFrame(
            [(str(i), p) for i, p in enumerate(payloads)],
            "key string, value string",
        )
        sink.write(df, TableID("", "events"))

        from transferia_spark.streaming.kafka_source import kafka_wire_stream

        stream = kafka_wire_stream(
            spark, f"127.0.0.1:{port}", "events",
            starting_offsets="earliest",
        )
        parsed = build_parser("json", schema="id long, name string")(stream)
        out = str(tmp_path / "out")
        q = (
            parsed.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = spark.read.parquet(out).collect()
        assert sorted((r.id, r.name) for r in rows) == [
            (i, f"n{i}") for i in range(6)
        ]
        # queue system columns + unknown-field overflow survive
        # (producer order within the batch is not key order — only the
        # offset SET is dense)
        assert sorted(r._offset for r in rows) == list(range(6))
        assert {r._partition for r in rows} == {0}
        r0 = next(r for r in rows if r.id == 0)
        assert r0._rest["extra"] == "x"
        assert all(r._unparsed_raw is None for r in rows)
    finally:
        broker.close()


@pytest.mark.slow
def test_replicate_verb_consumes_kafkawire(spark, tmp_path):
    """r10: `format: kafkawire` in the replicate verb — the pure-wire
    consumer feeds the registry parser and lands append ChangeItems in
    a bucketed target through `run_replication` alone; a second pass
    drains ONLY new records from the Spark checkpoint (natural
    offsets ≈ kafka/source.go:105)."""
    import json as _json

    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.queues import KafkaSink
    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )
    from transferia_spark.tasks.replicate import run_replication

    broker = LoopbackBroker({"mirror": 2})
    port = broker.port

    def transport(frame: bytes) -> None:
        s = socket.create_connection(("127.0.0.1", port), timeout=10)
        try:
            s.sendall(frame)
            s.recv(4096)
        finally:
            s.close()

    def produce(lo, hi):
        sink = KafkaSink(
            bootstrap_servers=f"127.0.0.1:{port}", num_partitions=2,
            transport=transport,
        )
        df = spark.createDataFrame(
            [(str(i), _json.dumps({"id": i, "name": f"n{i}"}))
             for i in range(lo, hi)],
            "key string, value string",
        )
        sink.write(df, TableID("", "mirror"))

    src = str(tmp_path / "seed.parquet")
    spark.createDataFrame([(0, "seed")], "id long, name string").coalesce(
        1
    ).write.parquet(src)
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    try:
        produce(1, 7)
        spec = transfer_from_yaml(f"""
type: SNAPSHOT_ONLY
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: kafkawire
    bootstrap: 127.0.0.1:{port}
    topic: mirror
    schema: "id long, name string"
    options: {{starting_offsets: earliest}}
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 4}}
""")
        run_replication(
            spark, spec, state_dir=state, once=True, retry_interval=0.0
        )
        table = BucketedParquetTable(
            spark, target, keys=["id"], n_buckets=4
        )
        got = {(r.id, r.name) for r in table.read().collect()}
        assert got == {(i, f"n{i}") for i in range(1, 7)}
        # new records arrive; the next pass drains ONLY them
        produce(7, 10)
        run_replication(
            spark, spec, state_dir=state, once=True, retry_interval=0.0
        )
        got = {(r.id, r.name) for r in table.read().collect()}
        assert got == {(i, f"n{i}") for i in range(1, 10)}
    finally:
        broker.close()


def test_fetch_client_offsets_and_metadata():
    broker = LoopbackBroker({"t": 3})
    from transferia_spark.streaming.kafka_source import KafkaFetchClient

    try:
        c = KafkaFetchClient("127.0.0.1", broker.port, timeout=10)
        md = c.metadata("t")
        assert md["topics"]["t"]["partitions"] == {0: 0, 1: 0, 2: 0}
        assert md["brokers"][0] == ("127.0.0.1", broker.port)
        assert c.list_offsets("t", -1) == {0: 0, 1: 0, 2: 0}
        broker.log["t"][1] = [(b"k", b"v", 123)]
        assert c.list_offsets("t", -1) == {0: 0, 1: 1, 2: 0}
        assert c.list_offsets("t", -2) == {0: 0, 1: 0, 2: 0}
        part = c.fetch("t", 1, 0)
        [rec] = part["records"]
        assert part["high_watermark"] == 1
        assert rec["key"] == b"k" and rec["value"] == b"v"
        assert rec["offset"] == 0 and rec["timestamp"] == 123
        # the loopback broker IS the leader → for_leader returns self
        assert c.for_leader("t", 1) is c
        c.close()
        # unknown topic is loud
        c2 = KafkaFetchClient("127.0.0.1", broker.port, timeout=10)
        with pytest.raises(ValueError, match="metadata error"):
            c2.metadata("nope")
        c2.close()
    finally:
        broker.close()


def test_reader_bounded_catchup_never_regresses():
    """max_records_per_batch caps the PLANNED end (not the read range)
    so no record between cap and checkpoint can be skipped, and a
    later smaller log-end (impossible in Kafka, defensive) never plans
    a regressed offset."""
    from transferia_spark.streaming.kafka_source import KafkaWireStreamReader

    r = KafkaWireStreamReader({
        "bootstrap": "127.0.0.1:1", "topic": "t",
        "max_records_per_batch": "5",
    })

    class StubClient:
        def __init__(self):
            self.ends = {0: 12}

        def list_offsets(self, topic, ts, md=None):
            return dict(self.ends)

    r._client = StubClient()
    # no base yet: first latest is uncapped (safe, just bigger)
    assert r.latestOffset() == {"0": 12}
    parts = r.partitions({"0": 0}, {"0": 12})
    assert [(p.partition, p.start, p.end) for p in parts] == [(0, 0, 12)]
    # base now 12; log grows to 25 → capped at 12+5
    r._client.ends[0] = 25
    assert r.latestOffset() == {"0": 17}
    # defensive: a log-end below base never regresses the plan
    r._client.ends[0] = 3
    assert r.latestOffset() == {"0": 17}


def test_decode_record_set_drops_truncated_tail():
    full = encode_record_batch([(b"a", b"1")], base_offset=0)
    second = encode_record_batch([(b"b", b"2")], base_offset=1)
    recs = decode_record_set(full + second[: len(second) - 3])
    assert [r["key"] for r in recs] == [b"a"]  # partial tail dropped
    recs = decode_record_set(full + second)
    assert [r["offset"] for r in recs] == [0, 1]


def test_decode_rejects_compression_and_skips_control_batches():
    """code-review r10 (updated r11): a CORRUPT compressed payload
    must fail naming the cause (not a baffling record-length
    mismatch) for every codec — all four decode pure-Python now —
    and a transactional producer's commit/abort markers (control bit
    0x20) must not surface as data rows."""
    import struct

    from transferia_spark.sinks.kafka_wire import crc32c

    def with_attributes(batch: bytes, attrs: int) -> bytes:
        tail = bytearray(batch[21:])
        struct.pack_into(">h", tail, 0, attrs)
        head = (
            batch[:17]
            + struct.pack(">I", crc32c(bytes(tail)))
        )
        return head + bytes(tail)

    plain = encode_record_batch([(b"k", b"v")], base_offset=0)
    # gzip bit set but payload is NOT gzip → corrupt, named as such
    gz = with_attributes(plain, 0x01)
    with pytest.raises(ValueError, match="corrupt gzip"):
        decode_record_batch(gz)
    # snappy decodes pure-Python now — garbage payload fails naming
    # the corruption, not a baffling record-length mismatch
    sn = with_attributes(plain, 0x02)
    with pytest.raises(ValueError, match="snappy"):
        decode_record_batch(sn)
    # zstd decodes pure-Python too (zstd_pure.py) — a non-zstd
    # payload fails as corruption, never the old install-remedy gate
    zs = with_attributes(plain, 0x04)
    with pytest.raises(ValueError, match="corrupt zstd"):
        decode_record_batch(zs)
    ctrl = with_attributes(
        encode_record_batch([(b"\x00\x00\x00\x01", b"")], base_offset=1),
        0x20,
    )
    data = encode_record_batch([(b"k2", b"v2")], base_offset=2)
    recs = decode_record_set(plain + ctrl + data)
    # the marker's offset (1) is a gap, not a row
    assert [r["offset"] for r in recs] == [0, 2]
    assert decode_record_batch(ctrl)["control"] is True


def test_gpfdist_seq_one_token_upgrade_fallback(tmp_path):
    """code-review r10: a pre-upgrade single-token seq marker (= last
    APPLIED seq) must keep deduping a replay of that seq after the
    format gained the pre-append length."""
    import urllib.request

    from transferia_spark.sinks.gpfdist_server import GpfdistServer

    d = tmp_path / "unload" / "t"
    d.mkdir(parents=True)
    (d / "seg0.txt").write_bytes(b"1\ta\n")
    (d / "seg0.seq").write_text("12")  # old format: seq 12 applied
    srv = GpfdistServer(str(tmp_path))
    try:
        def post(seq, data):
            req = urllib.request.Request(
                f"http://127.0.0.1:{srv.port}/unload/t", data=data,
                method="POST",
            )
            req.add_header("X-GP-SEGMENT-ID", "0")
            req.add_header("X-GP-SEQ", str(seq))
            urllib.request.urlopen(req, timeout=10).read()

        post(12, b"1\ta\n")  # replay of the applied chunk: deduped
        assert (d / "seg0.txt").read_bytes() == b"1\ta\n"
        post(13, b"2\tb\n")  # the stream continues
        assert (d / "seg0.txt").read_bytes() == b"1\ta\n2\tb\n"
        # code-review r10 pass 2 (reproduced live before the fix): the
        # fallback journal must PERSIST — a lost-response retransmit of
        # the first post-upgrade chunk must dedup, not re-append
        assert (d / "seg0.seq").read_text().split()[0] == "13"
        post(13, b"2\tb\n")
        assert (d / "seg0.txt").read_bytes() == b"1\ta\n2\tb\n"
    finally:
        srv.close()


def test_reader_advances_past_compacted_and_control_gaps():
    """code-review r10 pass 2: a compacted batch whose retained records
    all sit below the requested offset must not re-fetch forever — the
    reader advances to the batch end (base + last_offset_delta + 1)."""
    import struct as _struct

    import transferia_spark.streaming.kafka_source as mod
    from transferia_spark.sinks.kafka_wire import (
        crc32c,
        decode_record_set_with_end,
    )

    # a batch spanning offsets 5..15 that retains only 5 and 7
    # (compaction): two records with offset deltas 0 and 2, but
    # lastOffsetDelta 10 — hand-built the way a compacted segment is
    from transferia_spark.sinks.kafka_wire import encode_record

    recs = encode_record(0, 0, b"a", b"1") + encode_record(2, 0, b"b", b"2")
    # attributes(2) lastOffsetDelta(4) ts(16) pid(8) epoch(2)
    # baseSeq(4) count(4) records
    head = (
        _struct.pack(">h", 0) + _struct.pack(">i", 10)
        + _struct.pack(">qq", 0, 0) + _struct.pack(">q", -1)
        + _struct.pack(">h", -1) + _struct.pack(">i", -1)
        + _struct.pack(">i", 2) + recs
    )
    body = (
        _struct.pack(">i", -1) + b"\x02"
        + _struct.pack(">I", crc32c(head)) + head
    )
    raw = _struct.pack(">q", 5) + _struct.pack(">i", len(body)) + body
    records, nxt = decode_record_set_with_end(raw)
    assert [r["offset"] for r in records] == [5, 7]
    assert nxt == 16  # base 5 + lastOffsetDelta 10 + 1

    # reader loop: fetch at 9 returns that batch → off jumps to 16
    class StubClient:
        def __init__(self, *a, **k):
            self.fetches = []

        def for_leader(self, topic, partition):
            return self

        def fetch(self, topic, partition, off, isolation_level=0):
            self.fetches.append(off)
            if off < 16:
                return {"records": records, "high_watermark": 20,
                        "next_offset": nxt}
            return {
                "records": [
                    {"offset": off, "timestamp": 0, "key": b"k",
                     "value": b"v", "headers": []}
                ],
                "high_watermark": 20,
                "next_offset": off + 1,
            }

        def close(self):
            pass

    reader = mod.KafkaWireStreamReader(
        {"bootstrap": "127.0.0.1:1", "topic": "t"}
    )
    saved = mod.KafkaFetchClient
    mod.KafkaFetchClient = StubClient
    try:
        rows = list(reader._read_tuples(mod._TopicSlice(0, 9, 17)))
    finally:
        mod.KafkaFetchClient = saved
    # fetch at 9 once (not an infinite loop), then the gap skipped
    assert [r[4] for r in rows] == [16]


def test_parse_bootstrap_multi_host_and_malformed():
    """r10 verdict wrong #2: the standard comma-separated
    bootstrap.servers string crashed on int('9092,host2...')."""
    from transferia_spark.streaming.kafka_source import _parse_bootstrap

    assert _parse_bootstrap("h1:9092,h2:9093, h3 ") == [
        ("h1", 9092), ("h2", 9093), ("h3", 9092)
    ]
    assert _parse_bootstrap("solo") == [("solo", 9092)]
    with pytest.raises(ValueError, match="malformed bootstrap"):
        _parse_bootstrap("h1:nope")
    with pytest.raises(ValueError, match="empty bootstrap"):
        _parse_bootstrap(" , ")
    # bracketed IPv6 literals — the standard client form (r11 verdict
    # missing #4)
    assert _parse_bootstrap("[::1]:9092,[2001:db8::2]:9093,[fe80::1]") \
        == [("::1", 9092), ("2001:db8::2", 9093), ("fe80::1", 9092)]
    with pytest.raises(ValueError, match="malformed bootstrap"):
        _parse_bootstrap("[::1")
    with pytest.raises(ValueError, match="malformed bootstrap"):
        _parse_bootstrap("[::1]9092")


def test_connect_bootstrap_failover_to_second_broker():
    """A down first broker must not kill the source — stock clients
    iterate the list; all-down raises ONE error naming every attempt."""
    from transferia_spark.streaming.kafka_source import connect_bootstrap

    # grab a port that refuses connections (bound then closed)
    dead = socket.socket()
    dead.bind(("127.0.0.1", 0))
    dead_port = dead.getsockname()[1]
    dead.close()

    broker = LoopbackBroker({"t": 1})
    try:
        c = connect_bootstrap(
            f"127.0.0.1:{dead_port},127.0.0.1:{broker.port}", timeout=5
        )
        assert c.metadata("t")["topics"]["t"]["partitions"] == {0: 0}
        c.close()
        with pytest.raises(ConnectionError, match=str(dead_port)):
            connect_bootstrap(
                f"127.0.0.1:{dead_port},127.0.0.1:{dead_port}", timeout=5
            )
    finally:
        broker.close()


def test_starting_offsets_validation_and_explicit_form():
    """ADVICE r10: a typo'd starting_offsets silently meant 'latest';
    now it raises. The stock connector's explicit JSON form resolves
    per-partition (-1 latest, -2 earliest, N exact)."""
    from transferia_spark.streaming.kafka_source import (
        KafkaWireStreamReader,
    )

    with pytest.raises(ValueError, match="starting_offsets"):
        KafkaWireStreamReader({
            "bootstrap": "h:1", "topic": "t",
            "starting_offsets": "earliets",
        })

    r = KafkaWireStreamReader({
        "bootstrap": "h:1", "topic": "t",
        "starting_offsets": '{"t": {"0": 5, "1": -1, "2": -2}}',
    })

    class StubClient:
        def list_offsets(self, topic, ts, md=None):
            return {0: 100, 1: 100, 2: 100} if ts == -1 else {
                0: 10, 1: 10, 2: 10
            }

    r._client = StubClient()
    assert r.initialOffset() == {"0": 5, "1": 100, "2": 10}


def test_read_retries_on_not_leader_and_nulls_sentinel_timestamp():
    """Mid-read leadership churn (fetch error 6) re-resolves the leader
    and continues; a -1 record timestamp surfaces as NULL, not 1969."""
    import transferia_spark.streaming.kafka_source as mod
    from transferia_spark.streaming.kafka_source import KafkaFetchError

    class StubClient:
        calls = []

        def __init__(self, *a, **k):
            pass

        def for_leader(self, topic, partition):
            StubClient.calls.append("lead")
            return self

        def fetch(self, topic, partition, off, isolation_level=0):
            StubClient.calls.append(off)
            if StubClient.calls.count("lead") < 2:
                raise KafkaFetchError(topic, partition, 6)
            return {
                "records": [
                    {"offset": off, "timestamp": -1, "key": b"k",
                     "value": b"v", "headers": []},
                    {"offset": off + 1, "timestamp": 1_700_000_000_000,
                     "key": b"k2", "value": b"v2", "headers": []},
                ],
                "high_watermark": 2,
                "next_offset": off + 2,
            }

        def close(self):
            pass

    saved = mod.KafkaFetchClient
    mod.KafkaFetchClient = StubClient
    try:
        reader = mod.KafkaWireStreamReader(
            {"bootstrap": "127.0.0.1:1", "topic": "t"}
        )
        rows = list(reader._read_tuples(mod._TopicSlice(0, 0, 2)))
    finally:
        mod.KafkaFetchClient = saved
    assert [r[4] for r in rows] == [0, 1]
    assert rows[0][5] is None  # -1 sentinel → null
    assert rows[1][5] is not None
    # leader was re-resolved exactly once after the NOT_LEADER
    assert StubClient.calls.count("lead") == 2


def test_read_gives_up_after_bounded_leader_refreshes():
    import transferia_spark.streaming.kafka_source as mod
    from transferia_spark.streaming.kafka_source import KafkaFetchError

    class AlwaysNotLeader:
        def __init__(self, *a, **k):
            pass

        def for_leader(self, topic, partition):
            return self

        def fetch(self, topic, partition, off, isolation_level=0):
            raise KafkaFetchError(topic, partition, 6)

        def close(self):
            pass

    saved = mod.KafkaFetchClient
    mod.KafkaFetchClient = AlwaysNotLeader
    try:
        reader = mod.KafkaWireStreamReader(
            {"bootstrap": "127.0.0.1:1", "topic": "t"}
        )
        with pytest.raises(KafkaFetchError, match="fetch error 6"):
            list(reader._read_tuples(mod._TopicSlice(0, 0, 2)))
    finally:
        mod.KafkaFetchClient = saved


@pytest.mark.slow
def test_kafkawire_untimestamped_policy(spark, tmp_path):
    """ADVICE r10 + code-review r11: a -1 (no producer timestamp)
    record must not order as 1969 in the collapse — default is a loud
    failure naming the knob; `on_untimestamped: offset` switches the
    WHOLE stream to partition-offset ordering (a ts/offset mix would
    put two ordering domains in one column and untimestamped records
    would always lose)."""
    import json as _json

    from transferia_spark.tasks.replicate import build_replication_stream

    broker = LoopbackBroker({"m": 2})
    broker.log["m"][0] = [(b"1", _json.dumps({"id": 1}).encode(), -1)]
    broker.log["m"][1] = [
        (b"2", _json.dumps({"id": 2}).encode(), 1_700_000_000_000)
    ]
    base = {
        "format": "kafkawire",
        "bootstrap": f"127.0.0.1:{broker.port}",
        "topic": "m",
        "schema": "id long",
        "options": {"starting_offsets": "earliest"},
    }
    try:
        df = build_replication_stream(
            spark, {**base, "on_untimestamped": "offset"}
        )
        q = (
            df.writeStream.format("memory").queryName("unts_ok")
            .option("checkpointLocation", str(tmp_path / "c1"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        rows = {r.id: r._lsn
                for r in spark.sql("SELECT * FROM unts_ok").collect()}
        # offset mode: EVERY record orders by its partition offset
        # (one domain), not a ts/offset mix
        assert rows == {1: 0, 2: 0}

        # default: loud, names the knob
        df2 = build_replication_stream(spark, dict(base))
        q2 = (
            df2.writeStream.format("memory").queryName("unts_fail")
            .option("checkpointLocation", str(tmp_path / "c2"))
            .trigger(availableNow=True).start()
        )
        with pytest.raises(Exception, match="producer timestamp"):
            q2.awaitTermination(60)
    finally:
        broker.close()


def test_gzip_record_batch_round_trip():
    """r10 verdict next #3: gzip (codec 1) decodes via stdlib —
    compressed produce → decode gives back exact records, offsets,
    timestamps; the attributes carry the codec bits."""
    recs = [(b"k1", b"v" * 500), (None, b"w" * 500), (b"k3", None)]
    batch = encode_record_batch(
        recs, base_offset=7, base_timestamp=1_700_000_000_000,
        compression="gzip",
    )
    plain = encode_record_batch(
        recs, base_offset=7, base_timestamp=1_700_000_000_000
    )
    assert len(batch) < len(plain)  # it actually compressed
    out = decode_record_batch(batch)
    assert out["attributes"] & 0x07 == 1
    assert [(r["key"], r["value"], r["offset"]) for r in out["records"]] \
        == [(k, v, 7 + i) for i, (k, v) in enumerate(recs)]
    # record-set walk (fetch response shape) handles compressed batches
    mixed = plain + batch
    assert len(decode_record_set(mixed)) == 6


def test_compressed_batch_property_roundtrip():
    """Hypothesis: decode(encode(recs, gzip)) ≡ decode(encode(recs))
    for arbitrary key/value byte payloads incl. None and empties."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    blob = st.one_of(st.none(), st.binary(max_size=200))

    @settings(max_examples=50, deadline=None)
    @given(st.lists(st.tuples(blob, blob), min_size=1, max_size=20))
    def check(recs):
        gz = decode_record_batch(
            encode_record_batch(recs, base_offset=3, compression="gzip")
        )
        pl = decode_record_batch(encode_record_batch(recs, base_offset=3))
        strip = lambda rs: [
            (r["key"], r["value"], r["offset"], r["timestamp"])
            for r in rs
        ]
        assert strip(gz["records"]) == strip(pl["records"])

    check()


def test_all_codecs_produce_and_decode_without_installs():
    """Every codec produces and consumes with nothing beyond pyarrow:
    gzip on the stdlib, snappy/lz4/zstd on pyarrow's bundled C codecs.
    An unknown compression name is refused."""
    recs = [(b"k%d" % i, b"v" * (i * 7)) for i in range(20)]
    for codec in ("gzip", "snappy", "lz4", "zstd"):
        got = decode_record_batch(
            encode_record_batch(recs, base_offset=3, compression=codec)
        )
        assert [(r["key"], r["value"]) for r in got["records"]] == recs
    with pytest.raises(ValueError, match="unknown compression"):
        encode_record_batch([(b"k", b"v")], compression="brotli")


def test_stored_snappy_lz4_consume_loopback_e2e():
    """snappy/lz4 produce → broker log → wire reader consume: the full
    loop a mirror pipeline runs when it writes back the lz4/snappy
    topic it consumed."""
    from transferia_spark.streaming.kafka_source import (
        KafkaWireStreamReader,
    )

    class RawBroker(LoopbackBroker):
        """Serves a pre-encoded (compressed) record set verbatim."""

        def __init__(self, raw: bytes, hw: int):
            super().__init__({"m": 1})
            self.raw, self.hw = raw, hw

        def _list_offsets(self, body, pos):
            pos += 4
            (n_topics,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out = struct.pack(">i", n_topics)
            for _ in range(n_topics):
                topic, pos = _read_str(body, pos)
                (n_parts,) = struct.unpack_from(">i", body, pos)
                pos += 4
                out += _enc_str(topic) + struct.pack(">i", n_parts)
                for _p in range(n_parts):
                    part, ts = struct.unpack_from(">iq", body, pos)
                    pos += 12
                    off = 0 if ts == -2 else self.hw
                    out += struct.pack(">ihqq", part, 0, -1, off)
            return out

        def _fetch(self, body, pos):
            pos += 17
            (n_topics,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out = struct.pack(">i", 0) + struct.pack(">i", n_topics)
            for _ in range(n_topics):
                topic, pos = _read_str(body, pos)
                (n_parts,) = struct.unpack_from(">i", body, pos)
                pos += 4
                out += _enc_str(topic) + struct.pack(">i", n_parts)
                for _p in range(n_parts):
                    part, off, _pm = struct.unpack_from(">iqi", body, pos)
                    pos += 16
                    rec_set = b"" if off >= self.hw else self.raw
                    out += struct.pack(">ihqq", part, 0, self.hw, -1)
                    out += struct.pack(">i", 0)
                    out += struct.pack(">i", len(rec_set)) + rec_set
            return out

    for codec in ("snappy", "lz4"):
        batch = encode_record_batch(
            [(b"a", b"1"), (b"b", b"2" * 99)], base_offset=0,
            compression=codec,
        )
        broker = RawBroker(batch, 2)
        try:
            r = KafkaWireStreamReader({
                "bootstrap": f"127.0.0.1:{broker.port}", "topic": "m",
                "starting_offsets": "earliest",
            })
            rows = []
            for sl in r.partitions(r.initialOffset(), r.latestOffset()):
                rows.extend(r._read_tuples(sl))
            r.stop()
            assert [(bytes(k), bytes(v)) for k, v, *_ in rows] == [
                (b"a", b"1"), (b"b", b"2" * 99)
            ]
        finally:
            broker.close()


def _txn_batch(recs, base_offset, pid=-1, attrs=0):
    """Rewrite a batch's attributes + producer_id (and CRC) — the
    encoder has no transactional producer, tests build the layouts."""
    import struct as _struct

    from transferia_spark.sinks.kafka_wire import crc32c

    b = encode_record_batch(recs, base_offset=base_offset)
    tail = bytearray(b[21:])
    _struct.pack_into(">h", tail, 0, attrs)
    _struct.pack_into(">q", tail, 22, pid)
    return b[:17] + _struct.pack(">I", crc32c(bytes(tail))) + bytes(tail)


def _txn_layout():
    """offsets 0-1 pid-7 txn data (ABORTED), 2 abort marker, 3-4 pid-8
    txn data (committed), 5 commit marker, 6 plain record."""
    import struct as _struct

    abort_key = _struct.pack(">hh", 0, 0)  # version 0, type 0 = abort
    commit_key = _struct.pack(">hh", 0, 1)
    return b"".join([
        _txn_batch([(b"a0", b"x"), (b"a1", b"x")], 0, pid=7, attrs=0x10),
        _txn_batch([(abort_key, b"")], 2, pid=7, attrs=0x30),
        _txn_batch([(b"c0", b"y"), (b"c1", b"y")], 3, pid=8, attrs=0x10),
        _txn_batch([(commit_key, b"")], 5, pid=8, attrs=0x30),
        _txn_batch([(b"p0", b"z")], 6),
    ])


def test_read_committed_filters_aborted_transactions():
    """KIP-98 consumer walk: under READ_COMMITTED the aborted
    producer's transactional batches vanish (their offsets stay gaps),
    committed and non-transactional data surfaces; READ_UNCOMMITTED
    keeps everything but the markers."""
    from transferia_spark.sinks.kafka_wire import (
        decode_record_set_with_end,
    )

    data = _txn_layout()
    keys = lambda rs: [r["key"] for r in rs]
    committed, nxt = decode_record_set_with_end(data, aborted=[(7, 0)])
    assert keys(committed) == [b"c0", b"c1", b"p0"]
    assert [r["offset"] for r in committed] == [3, 4, 6]
    assert nxt == 7
    uncommitted, _ = decode_record_set_with_end(data)
    assert keys(uncommitted) == [b"a0", b"a1", b"c0", b"c1", b"p0"]
    # interleaved producers: only the aborted one's records drop, and
    # its abort marker closes the range for LATER (reused-pid) batches
    import struct as _struct

    abort_key = _struct.pack(">hh", 0, 0)
    inter = b"".join([
        _txn_batch([(b"a", b"")], 0, pid=7, attrs=0x10),
        _txn_batch([(b"b", b"")], 1, pid=8, attrs=0x10),
        _txn_batch([(b"c", b"")], 2, pid=7, attrs=0x10),
        _txn_batch([(abort_key, b"")], 3, pid=7, attrs=0x30),
        _txn_batch([(b"d", b"")], 4, pid=7, attrs=0x10),  # next txn
    ])
    got, _ = decode_record_set_with_end(inter, aborted=[(7, 0)])
    assert keys(got) == [b"b", b"d"]


class TxnBroker(LoopbackBroker):
    """Serves a FIXED transactional log for one topic-partition:
    honors the fetch's isolation byte (aborted list + LSO cap) the way
    a real broker does."""

    def __init__(self):
        super().__init__({"txn": 1})
        self.raw = _txn_layout()
        self.hw = 7
        self.lso = 7
        self.aborted = [(7, 0)]

    def _list_offsets(self, body, pos):
        pos += 4
        (n_topics,) = struct.unpack_from(">i", body, pos)
        pos += 4
        out = struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic, pos = _read_str(body, pos)
            (n_parts,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out += _enc_str(topic) + struct.pack(">i", n_parts)
            for _p in range(n_parts):
                part, ts = struct.unpack_from(">iq", body, pos)
                pos += 12
                off = 0 if ts == -2 else self.hw
                out += struct.pack(">ihqq", part, 0, -1, off)
        return out

    def _fetch(self, body, pos):
        iso = body[pos + 16]
        pos += 17
        (n_topics,) = struct.unpack_from(">i", body, pos)
        pos += 4
        out = struct.pack(">i", 0) + struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic, pos = _read_str(body, pos)
            (n_parts,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out += _enc_str(topic) + struct.pack(">i", n_parts)
            for _p in range(n_parts):
                part, off, _pm = struct.unpack_from(">iqi", body, pos)
                pos += 16
                cap = self.lso if iso == 1 else self.hw
                rec_set = b"" if off >= cap else self.raw
                out += struct.pack(
                    ">ihqq", part, 0, self.hw,
                    self.lso if iso == 1 else -1,
                )
                if iso == 1:
                    out += struct.pack(">i", len(self.aborted))
                    for pid, first in self.aborted:
                        out += struct.pack(">qq", pid, first)
                else:
                    out += struct.pack(">i", 0)
                out += struct.pack(">i", len(rec_set)) + rec_set
        return out


def test_wire_reader_isolation_levels_end_to_end():
    """The reader plane: read_committed plans to the LSO and yields
    only committed + plain records; read_uncommitted yields aborted
    data too; a bogus isolation option is loud."""
    from transferia_spark.streaming.kafka_source import (
        KafkaWireStreamReader,
    )

    broker = TxnBroker()
    try:
        base = {
            "bootstrap": f"127.0.0.1:{broker.port}", "topic": "txn",
            "starting_offsets": "earliest",
        }
        with pytest.raises(ValueError, match="isolation_level"):
            KafkaWireStreamReader({**base, "isolation_level": "bogus"})

        def drain(opts):
            r = KafkaWireStreamReader(opts)
            start = r.initialOffset()
            end = r.latestOffset()
            rows = []
            for sl in r.partitions(start, end):
                rows.extend(r._read_tuples(sl))
            r.stop()
            return [bytes(t[0]) for t in rows], end

        committed, end_c = drain(
            {**base, "isolation_level": "read_committed"}
        )
        assert committed == [b"c0", b"c1", b"p0"]
        assert end_c == {"0": 7}  # planned to the LSO
        everything, _ = drain(base)  # default read_uncommitted
        assert everything == [b"a0", b"a1", b"c0", b"c1", b"p0"]
    finally:
        broker.close()


def test_idempotent_produce_stamps_and_dedupes():
    """KIP-98 idempotent produce, ON by default like franz-go: the
    transport allocates a pid via InitProducerId, stamps each batch
    with (pid, epoch, sequence), and a replay of already-acked data
    (simulating a lost ack + caller retry) dedupes broker-side instead
    of duplicating."""
    from transferia_spark.sinks.kafka_wire import (
        batch_record_count,
        stamp_producer,
    )
    from transferia_spark.streaming.kafka_source import (
        KafkaWireTransport,
    )

    # unit: the stamp patches pid/epoch/seq and the CRC still verifies
    b = encode_record_batch([(b"k1", b"v1"), (b"k2", b"v2")])
    assert batch_record_count(b) == 2
    stamped = stamp_producer(b, 777, 3, 12)
    got = decode_record_batch(stamped)
    assert (got["producer_id"], got["producer_epoch"],
            got["base_sequence"]) == (777, 3, 12)
    assert [r["key"] for r in got["records"]] == [b"k1", b"k2"]

    broker = LoopbackBroker({"t": 1})
    try:
        t = KafkaWireTransport(f"127.0.0.1:{broker.port}", timeout=10)
        t.produce("t", {0: encode_record_batch([(b"a", b"1")])})
        t.produce("t", {0: encode_record_batch([(b"b", b"2")])})
        assert t._pid is not None and t._seq[("t", 0)] == 2
        # sequences are per-batch cumulative: the broker saw 0 then 1
        assert broker._seqs[("t", 0, t._pid)] == 2
        # replay: ack lost, caller resends the SAME data — rewinding
        # the local sequence reproduces the duplicate (pid, seq) send
        t._seq[("t", 0)] = 1
        t.produce("t", {0: encode_record_batch([(b"b", b"2")])})
        assert [k for k, _v, _t in broker.log["t"][0]] == [b"a", b"b"]
        # a NEW process (pickle round-trip) starts a fresh pid session
        import pickle

        t2 = pickle.loads(pickle.dumps(t))
        assert t2._pid is None and t2._seq == {}
        t2.produce("t", {0: encode_record_batch([(b"c", b"3")])})
        assert t2._pid != t._pid  # a NEW pid session, not a reuse
        assert [k for k, _v, _t in broker.log["t"][0]] == [
            b"a", b"b", b"c"]
        t.close()
        t2.close()
        # opt-out keeps the unstamped shape (pid -1, no InitProducerId)
        t3 = KafkaWireTransport(
            f"127.0.0.1:{broker.port}", timeout=10, idempotent=False
        )
        t3.produce("t", {0: encode_record_batch([(b"d", b"4")])})
        assert t3._pid is None
        t3.close()
    finally:
        broker.close()


class LostAckBroker(LoopbackBroker):
    """Persists the FIRST data produce, then kills the connection
    before acking — the classic lost-ack; the redial's resend must
    dedupe on (pid, sequence), not duplicate."""

    dropped = False

    def _produce(self, body, pos):
        resp = super()._produce(body, pos)
        if not LostAckBroker.dropped:
            LostAckBroker.dropped = True
            raise ConnectionAbortedError  # _serve closes the socket
        return resp

    def _serve(self, conn):
        try:
            super()._serve(conn)
        except ConnectionAbortedError:
            conn.close()


def test_idempotent_produce_survives_lost_ack_without_duplicating():
    """code-review r11 pass 6: the dedupe must be reachable from the
    production path — a socket that dies AFTER the broker persisted
    the batch but BEFORE the ack triggers an in-process redial that
    resends the SAME stamped bytes; the broker answers
    DUPLICATE_SEQUENCE_NUMBER and the records land exactly once."""
    from transferia_spark.streaming.kafka_source import (
        KafkaWireTransport,
    )

    LostAckBroker.dropped = False
    broker = LostAckBroker({"t": 1})
    try:
        t = KafkaWireTransport(f"127.0.0.1:{broker.port}", timeout=10)
        t.produce("t", {0: encode_record_batch([(b"a", b"1")])})
        assert LostAckBroker.dropped
        assert [k for k, _v, _t in broker.log["t"][0]] == [b"a"]
        # the session keeps working after the redial
        t.produce("t", {0: encode_record_batch([(b"b", b"2")])})
        assert [k for k, _v, _t in broker.log["t"][0]] == [b"a", b"b"]
        t.close()
    finally:
        broker.close()


def test_group_id_mirrors_committed_offsets_for_lag_tooling():
    """With group_id the reader mirrors each finished batch's end
    offsets via standalone OffsetCommit (generation -1, no
    membership) so standard lag monitors see progress; a coordinator
    failure is ADVISORY — logged, never fatal. ≈ the reference's
    ack-after-push group commits (kafka/source.go)."""
    from transferia_spark.streaming.kafka_source import (
        KafkaWireStreamReader,
    )

    broker = LoopbackBroker({"t": 1})
    try:
        from transferia_spark.streaming.kafka_source import (
            KafkaWireTransport,
        )

        t = KafkaWireTransport(f"127.0.0.1:{broker.port}", timeout=10)
        t.produce("t", {0: encode_record_batch([(b"a", b"1"),
                                                (b"b", b"2")])})
        t.close()
        r = KafkaWireStreamReader({
            "bootstrap": f"127.0.0.1:{broker.port}", "topic": "t",
            "starting_offsets": "earliest", "group_id": "mirror-g",
        })
        start = r.initialOffset()
        end = r.latestOffset()
        list(r.read(list(r.partitions(start, end))[0]))
        r.commit(end)
        assert broker.commits[("mirror-g", "t", 0)] == 2
        r.stop()
        # no group_id → no commit traffic at all
        r2 = KafkaWireStreamReader({
            "bootstrap": f"127.0.0.1:{broker.port}", "topic": "t",
            "starting_offsets": "earliest",
        })
        r2.commit({"0": 2})
        assert len(broker.commits) == 1
        r2.stop()
    finally:
        broker.close()

    # advisory: a dead coordinator logs, never raises — and tears the
    # possibly-poisoned driver connection down (code-review r11
    # pass 7: a swallowed timeout would desync the SHARED socket and
    # kill the next batch's planning on a correlation-id mismatch)
    r3 = KafkaWireStreamReader({
        "bootstrap": "127.0.0.1:1", "topic": "t",
        "starting_offsets": "earliest", "group_id": "g",
    })
    r3.commit({"0": 5})  # bootstrap refuses connections → swallowed
    assert r3._client is None  # poisoned connection torn down
    r3.stop()


def test_starting_offsets_group_resumes_from_committed():
    """The resume half of the group mirror: starting_offsets='group'
    reads the group's committed positions (FindCoordinator +
    OffsetFetch), so a consumer migrating off the reference's group
    consumer continues at its exact offsets; partitions without a
    commit fall back (default earliest — no silent skip)."""
    from transferia_spark.streaming.kafka_source import (
        KafkaWireStreamReader,
        KafkaWireTransport,
    )

    broker = LoopbackBroker({"t": 2})
    try:
        t = KafkaWireTransport(f"127.0.0.1:{broker.port}", timeout=10)
        recs = [(b"k%d" % i, b"v") for i in range(4)]
        for p in (0, 1):
            batch = encode_record_batch(recs)
            t.produce("t", {p: batch})
        t.close()
        # a prior consumer (the reference) committed offset 3 on p0 only
        broker.commits = {("legacy-g", "t", 0): 3}
        base = {
            "bootstrap": f"127.0.0.1:{broker.port}", "topic": "t",
            "starting_offsets": "group", "group_id": "legacy-g",
        }
        r = KafkaWireStreamReader(base)
        assert r.initialOffset() == {"0": 3, "1": 0}  # p1 → earliest
        r.stop()
        r2 = KafkaWireStreamReader({**base, "group_fallback": "latest"})
        assert r2.initialOffset() == {"0": 3, "1": 4}  # p1 → log-end
        r2.stop()
        with pytest.raises(ValueError, match="group_id"):
            KafkaWireStreamReader({
                **base, "group_id": None
            }).initialOffset()
        with pytest.raises(ValueError, match="group_fallback"):
            KafkaWireStreamReader({**base, "group_fallback": "bogus"})
    finally:
        broker.close()


def test_snappy_fast_path_agrees_with_pure_decoder():
    """libsnappy decodes a raw block sized by the block's own varint;
    garbage fails with a NAMED error."""
    import pyarrow as pa

    from transferia_spark.parsers.protowire import encode_varint
    from transferia_spark.sinks.kafka_wire import decompress_records

    data = b"skew " * 5000
    comp = pa.compress(data, codec="snappy", asbytes=True)
    assert decompress_records(2, comp) == data
    with pytest.raises(ValueError, match="snappy"):
        decompress_records(2, encode_varint(5) + bytes([1, 9]))


def test_zstd_producer_works_lib_free():
    """zstd produce needs no zstandard package: pyarrow's libzstd
    emits a standard frame the wire consumer decodes back exactly."""
    recs = [(b"k1", b"v1" * 50), (None, b""), (b"k3", None)]
    batch = encode_record_batch(recs, base_offset=7, compression="zstd")
    got = decode_record_batch(batch)
    assert got["attributes"] & 0x07 == 4
    assert [(r["key"], r["value"]) for r in got["records"]] == recs
    assert [r["offset"] for r in got["records"]] == [7, 8, 9]


def test_compressed_produce_consume_e2e(spark, tmp_path):
    """KafkaSink(compression='gzip') → loopback broker → wire consumer:
    the full circle over compressed batches."""
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.queues import KafkaSink
    from transferia_spark.streaming.kafka_source import kafka_wire_stream

    broker = LoopbackBroker({"gz": 1})
    port = broker.port

    def transport(frame: bytes) -> None:
        s = socket.create_connection(("127.0.0.1", port), timeout=10)
        try:
            s.sendall(frame)
            s.recv(4096)
        finally:
            s.close()

    try:
        sink = KafkaSink(
            bootstrap_servers=f"127.0.0.1:{port}", transport=transport,
            compression="gzip",
        )
        df = spark.createDataFrame(
            [(str(i), f"val{i}" * 50) for i in range(12)],
            "key string, value string",
        )
        sink.write(df, TableID("", "gz"))
        assert len(broker.log["gz"][0]) == 12

        stream = kafka_wire_stream(
            spark, f"127.0.0.1:{port}", "gz",
            starting_offsets="earliest",
        )
        q = (
            stream.writeStream.format("memory").queryName("gz_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        rows = spark.sql("SELECT * FROM gz_sink").collect()
        assert sorted(bytes(r.key).decode() for r in rows) == sorted(
            str(i) for i in range(12)
        )
    finally:
        broker.close()


def test_starting_offsets_by_timestamp():
    """startingOffsetsByTimestamp parity: ListOffsets with a real ms
    timestamp resolves each partition's first offset at/after it; a
    partition with nothing at/after the timestamp starts at log-end."""
    from transferia_spark.streaming.kafka_source import (
        KafkaWireStreamReader,
    )

    r = KafkaWireStreamReader({
        "bootstrap": "h:1", "topic": "t",
        "starting_offsets_by_timestamp": "1700000000000",
    })

    class StubClient:
        def list_offsets(self, topic, ts, md=None):
            if ts == 1_700_000_000_000:
                return {0: 7, 1: -1}
            assert ts == -1
            return {0: 100, 1: 50}

    r._client = StubClient()
    assert r.initialOffset() == {"0": 7, "1": 50}

    with pytest.raises(ValueError, match="mutually exclusive"):
        KafkaWireStreamReader({
            "bootstrap": "h:1", "topic": "t",
            "starting_offsets": "earliest",
            "starting_offsets_by_timestamp": "1700000000000",
        })


def test_include_headers_e2e(spark, tmp_path):
    """include_headers=true appends the stock connector's headers
    column; a headers-carrying producer round-trips through a broker
    that retains them."""
    from transferia_spark.sinks.kafka_wire import (
        encode_record_batch,
    )
    from transferia_spark.streaming.kafka_source import (
        KafkaWireDataSource,
        kafka_wire_stream,
    )

    assert "headers" in KafkaWireDataSource(
        {"include_headers": "true"}
    ).schema()
    assert "headers" not in KafkaWireDataSource({}).schema()

    class HeaderBroker(LoopbackBroker):
        def _produce(self, body, pos):
            _txid, pos = _read_str(body, pos)
            pos += 6
            (n_topics,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out = struct.pack(">i", n_topics)
            for _ in range(n_topics):
                topic, pos = _read_str(body, pos)
                (n_parts,) = struct.unpack_from(">i", body, pos)
                pos += 4
                out += _enc_str(topic) + struct.pack(">i", n_parts)
                for _p in range(n_parts):
                    part, set_len = struct.unpack_from(">ii", body, pos)
                    pos += 8
                    batch = decode_record_batch(body[pos:pos + set_len])
                    pos += set_len
                    plog = self.log[topic][part]
                    base = len(plog)
                    for r in batch["records"]:
                        plog.append(
                            (r["key"], r["value"], r["timestamp"],
                             r["headers"])
                        )
                    out += struct.pack(">ihqq", part, 0, base, -1)
            return out + struct.pack(">i", 0)

        def _fetch(self, body, pos):
            pos += 17
            (n_topics,) = struct.unpack_from(">i", body, pos)
            pos += 4
            out = struct.pack(">i", 0) + struct.pack(">i", n_topics)
            for _ in range(n_topics):
                topic, pos = _read_str(body, pos)
                (n_parts,) = struct.unpack_from(">i", body, pos)
                pos += 4
                out += _enc_str(topic) + struct.pack(">i", n_parts)
                for _p in range(n_parts):
                    part, off, _pm = struct.unpack_from(">iqi", body, pos)
                    pos += 16
                    plog = self.log[topic][part]
                    hw = len(plog)
                    if off < hw:
                        rec_set = encode_record_batch(
                            [(k, v) for k, v, _t, _h in plog[off:]],
                            base_offset=off,
                            base_timestamp=plog[off][2],
                            headers_per_record=[
                                h for _k, _v, _t, h in plog[off:]
                            ],
                        )
                    else:
                        rec_set = b""
                    out += struct.pack(">ihqq", part, 0, hw, hw)
                    out += struct.pack(">i", 0)
                    out += struct.pack(">i", len(rec_set)) + rec_set
            return out

    broker = HeaderBroker({"h": 1})
    try:
        # produce records WITH headers straight through the socket
        from transferia_spark.sinks.kafka_wire import (
            encode_produce_request,
        )

        batch = encode_record_batch(
            [(b"k1", b"v1"), (b"k2", b"v2")],
            base_timestamp=1_700_000_000_000,
            headers_per_record=[
                [("trace", b"abc"), ("null_h", None)], [],
            ],
        )
        s = socket.create_connection(("127.0.0.1", broker.port), 10)
        s.sendall(encode_produce_request("h", {0: batch}))
        s.recv(4096)
        s.close()

        stream = kafka_wire_stream(
            spark, f"127.0.0.1:{broker.port}", "h",
            starting_offsets="earliest", include_headers="true",
        )
        assert "headers" in stream.columns
        q = (
            stream.writeStream.format("memory").queryName("hdr_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(60)
        rows = {bytes(r.key).decode(): r
                for r in spark.sql("SELECT * FROM hdr_sink").collect()}
        h1 = {h.key: (bytes(h.value) if h.value is not None else None)
              for h in rows["k1"].headers}
        assert h1 == {"trace": b"abc", "null_h": None}
        assert rows["k2"].headers == []
    finally:
        broker.close()


def _snappy_literal_compress(data: bytes) -> bytes:
    """Valid snappy with literal-only elements (the spec permits any
    element mix) — the test-side encoder for round trips."""
    from transferia_spark.parsers.protowire import encode_varint

    out = bytearray(encode_varint(len(data)))
    pos = 0
    while pos < len(data):
        chunk = data[pos:pos + 60]
        out += bytes([(len(chunk) - 1) << 2]) + chunk
        pos += len(chunk)
    return bytes(out)


def test_pure_python_snappy_decode():
    """Hand-built raw snappy blocks through the consumer's decode."""
    from transferia_spark.parsers.protowire import encode_varint
    from transferia_spark.sinks.kafka_wire import decompress_records

    def snappy_decompress(raw: bytes) -> bytes:
        return decompress_records(2, raw)

    # literal-only round trip incl. the 1-byte extended length form
    data = bytes(range(256)) * 3
    assert snappy_decompress(_snappy_literal_compress(data)) == data
    # extended literal: tag 60 (1 extra len byte), 100 bytes
    payload = b"x" * 100
    raw = encode_varint(100) + bytes([60 << 2, 99]) + payload
    assert snappy_decompress(raw) == payload
    # copy1 element: "abc" + copy(len 9, offset 3) = RLE of "abc"
    raw = (
        encode_varint(12)
        + bytes([(3 - 1) << 2]) + b"abc"
        + bytes([((9 - 4) << 2) | 1, 3])
    )
    assert snappy_decompress(raw) == b"abcabcabcabc"
    # copy2 element with non-overlapping offset
    raw = (
        encode_varint(8)
        + bytes([(4 - 1) << 2]) + b"wxyz"
        + bytes([((4 - 1) << 2) | 2]) + (4).to_bytes(2, "little")
    )
    assert snappy_decompress(raw) == b"wxyzwxyz"
    # corruption is loud
    with pytest.raises(ValueError, match="corrupt snappy"):
        snappy_decompress(encode_varint(5) + bytes([1, 9]))  # bad offset
    with pytest.raises(ValueError, match="corrupt snappy"):  # short
        snappy_decompress(encode_varint(99) + bytes([(3 - 1) << 2]) + b"abc")


def _lz4_literal_block(data: bytes) -> bytes:
    """One LZ4 block holding only literals (valid last sequence)."""
    lit = len(data)
    if lit < 15:
        return bytes([lit << 4]) + data
    out = bytearray([15 << 4])
    rest = lit - 15
    while rest >= 255:
        out.append(255)
        rest -= 255
    out.append(rest)
    return bytes(out) + data


# FLG 0x40 (v1, linked blocks), BD 0x40 (64 KB), and the header
# checksum liblz4 verifies: (xxh32(FLG, BD) >> 8) & 0xFF
_LZ4_HEADER = bytes([0x40, 0x40, 0xC0])


def _lz4_frame(blocks: list[tuple[bool, bytes]]) -> bytes:
    """Minimal LZ4 frame: FLG v1 (linked blocks, no checksums/size),
    BD 64KB, header checksum; blocks = [(is_uncompressed, payload)]."""
    out = bytearray((0x184D2204).to_bytes(4, "little"))
    out += _LZ4_HEADER
    for uncompressed, payload in blocks:
        size = len(payload) | (0x80000000 if uncompressed else 0)
        out += size.to_bytes(4, "little") + payload
    out += (0).to_bytes(4, "little")  # EndMark
    return bytes(out)


def test_pure_python_lz4_decode():
    """Hand-built lz4 frames through the consumer's decode."""
    from transferia_spark.sinks.kafka_wire import decompress_records

    def lz4_frame_decompress(frame: bytes) -> bytes:
        return decompress_records(3, frame)

    # literal-only block round trip (incl. extended literal length)
    data = b"The quick brown fox jumps over the lazy dog" * 10
    frame = _lz4_frame([(False, _lz4_literal_block(data))])
    assert lz4_frame_decompress(frame) == data

    # a block ends with >= 5 literals and its last match starts >= 12
    # bytes before the end (the spec's end-of-block rules liblz4
    # enforces), hence the literal tail after each match
    tail = b"-end-of-block"
    end = _lz4_literal_block(tail)

    # block with a match sequence: 5 literals + match(offset 5, len 5)
    blk = bytes([(5 << 4) | (5 - 4)]) + b"hello" + (5).to_bytes(2, "little")
    frame = _lz4_frame([(False, blk + end)])
    assert lz4_frame_decompress(frame) == b"hellohello" + tail

    # overlapping match = run extension: 1 literal + offset 1, len 8
    blk = bytes([(1 << 4) | (8 - 4)]) + b"z" + (1).to_bytes(2, "little")
    frame = _lz4_frame([(False, blk + end)])
    assert lz4_frame_decompress(frame) == b"z" * 9 + tail

    # LINKED blocks: second block's match reaches the FIRST block's
    # output (offset 5 over empty literals)
    blk2 = bytes([(0 << 4) | (5 - 4)]) + (5).to_bytes(2, "little")
    frame = _lz4_frame([
        (False, _lz4_literal_block(b"hello")), (False, blk2 + end),
    ])
    assert lz4_frame_decompress(frame) == b"hellohello" + tail

    # uncompressed (high-bit) blocks pass through
    frame = _lz4_frame([(True, b"raw bytes")])
    assert lz4_frame_decompress(frame) == b"raw bytes"

    with pytest.raises(ValueError, match="corrupt lz4"):  # frame magic
        lz4_frame_decompress(b"\x00\x00\x00\x00rest")


_XERIAL_HEADER = b"\x82SNAPPY\x00" + (1).to_bytes(4, "big") * 2


def _with_records(plain: bytes, codec: int, records: bytes) -> bytes:
    """``plain`` (an uncompressed RecordBatch v2) with its records
    region replaced by ``records`` under ``codec``, CRC recomputed."""
    from transferia_spark.sinks.kafka_wire import crc32c

    new_tail = bytearray(plain[21:61]) + records
    struct.pack_into(">h", new_tail, 0, codec)
    body = (
        plain[12:17]  # partitionLeaderEpoch + magic
        + struct.pack(">I", crc32c(bytes(new_tail)))
        + bytes(new_tail)
    )
    return plain[:8] + struct.pack(">i", len(body)) + body


def test_compressed_record_batch_snappy_lz4_paths():
    """A RecordBatch v2 whose records region is snappy (xerial-framed
    AND raw) or lz4-frame compressed, built by hand, decodes."""
    plain = encode_record_batch(
        [(b"k1", b"v1"), (None, b"v2")], base_offset=3,
        base_timestamp=1_700_000_000_000,
    )
    recs = plain[61:]

    def check(batch):
        out = decode_record_batch(batch)
        assert [(r["offset"], r["key"], r["value"])
                for r in out["records"]] == [
            (3, b"k1", b"v1"), (4, None, b"v2"),
        ]

    snappy = _snappy_literal_compress(recs)
    check(_with_records(plain, 2, snappy))  # raw snappy
    xerial = _XERIAL_HEADER + struct.pack(">i", len(snappy)) + snappy
    check(_with_records(plain, 2, xerial))
    check(_with_records(plain, 3, _lz4_frame(
        [(False, _lz4_literal_block(recs))]
    )))


def test_lz4_corruption_is_loud_not_indexerror():
    """code-review r11 pass 2: truncated blocks/frames raise the
    module's 'corrupt lz4' ValueError, never a bare IndexError or a
    silent partial decode."""
    from transferia_spark.sinks.kafka_wire import decompress_records

    def lz4_frame_decompress(frame: bytes) -> bytes:
        return decompress_records(3, frame)

    # block declares 3 bytes, carries 1
    frame = bytearray((0x184D2204).to_bytes(4, "little"))
    frame += _LZ4_HEADER
    frame += (3).to_bytes(4, "little") + b"\x10"
    with pytest.raises(ValueError, match="corrupt lz4"):
        lz4_frame_decompress(bytes(frame))
    # frame truncated before EndMark: loud, not partial output
    good_block = _lz4_literal_block(b"hi")
    frame2 = bytearray((0x184D2204).to_bytes(4, "little"))
    frame2 += _LZ4_HEADER
    frame2 += len(good_block).to_bytes(4, "little") + good_block
    with pytest.raises(ValueError, match="corrupt lz4"):
        lz4_frame_decompress(bytes(frame2))


def _corrupt_payloads() -> list:
    """(codec bits, payload) cases no decoder may accept: each
    codec's real output cut short, garbage, a gzip member followed by
    junk or a cut-short member, and malformed xerial snappy framing."""
    import gzip

    import pyarrow as pa

    from transferia_spark.sinks.kafka_wire import compress_records

    data = b"record bytes " * 200
    cases = []
    for codec in ("gzip", "snappy", "lz4", "zstd"):
        bits, comp = compress_records(codec, data)
        cases.append((bits, f"{codec}-truncated", comp[: len(comp) // 2]))
        cases.append((bits, f"{codec}-garbage", b"garbage " * 8))
    member = gzip.compress(b"first ")
    second = gzip.compress(b"second")
    cases += [
        (1, "gzip-trailing-junk", member + b"junk"),
        (1, "gzip-second-member-truncated", member + second[:-3]),
        (1, "gzip-second-member-header-only", member + second[:10]),
    ]
    block = pa.compress(data, codec="snappy", asbytes=True)
    chunk = struct.pack(">i", len(block)) + block
    cases += [
        (2, "xerial-chunk-overruns",
         _XERIAL_HEADER + struct.pack(">i", len(block) + 9) + block),
        (2, "xerial-trailing-bytes", _XERIAL_HEADER + chunk + b"\x01\x02"),
        (2, "xerial-header-only", _XERIAL_HEADER),
        (2, "xerial-short-header", _XERIAL_HEADER[:12]),
        (2, "xerial-negative-length",
         _XERIAL_HEADER + struct.pack(">i", -5) + block),
    ]
    return [pytest.param(bits, payload, id=case)
            for bits, case, payload in cases]


@pytest.mark.parametrize("bits,payload", _corrupt_payloads())
def test_codec_errors_are_fatal_value_errors(bits, payload):
    """Every codec error reaches the caller as ValueError("corrupt
    <codec>: …") — never pyarrow's OSError, which the wire reader and
    producer take for a dropped connection — and the replication
    supervisor classifies it fatal instead of retrying."""
    from transferia_spark.tasks.replicate import is_fatal

    codec = {1: "gzip", 2: "snappy", 3: "lz4", 4: "zstd"}[bits]
    plain = encode_record_batch([(b"k", b"v")], base_offset=0)
    with pytest.raises(ValueError, match=f"^corrupt {codec}: ") as info:
        decode_record_batch(_with_records(plain, bits, payload))
    assert type(info.value) is ValueError
    assert is_fatal(info.value)


def test_frames_without_content_size_decode():
    """A streaming encoder writes zstd and lz4 frames with no content
    size; consumers also meet several zstd frames or gzip members back
    to back. All of them decode through the record-batch path."""
    import gzip

    import pyarrow as pa

    recs = [(f"k{i}".encode(), f"value-{i}-".encode() * 9) for i in range(40)]
    plain = encode_record_batch(recs, base_offset=10)
    records = plain[61:]

    def stream(codec: str, data: bytes) -> bytes:
        sink = pa.BufferOutputStream()
        with pa.CompressedOutputStream(sink, codec) as out:
            out.write(data)
        return sink.getvalue().to_pybytes()

    half = len(records) // 2
    payloads = {
        (4, "zstd"): stream("zstd", records),
        (3, "lz4"): stream("lz4", records),
        (4, "two zstd frames"): (
            stream("zstd", records[:half]) + stream("zstd", records[half:])
        ),
        (1, "two gzip members"): (
            gzip.compress(records[:half]) + gzip.compress(records[half:])
        ),
    }
    for (bits, what), payload in payloads.items():
        got = decode_record_batch(_with_records(plain, bits, payload))
        assert [(r["key"], r["value"]) for r in got["records"]] == recs, what
        assert [r["offset"] for r in got["records"]] == list(range(10, 50))


def test_split_slices_respect_max_splits():
    """code-review r11 pass 2: decode_splits is a CONTRACT — never
    more sub-slices than asked."""
    from transferia_spark.streaming.wal_source import attach_split_slices

    for n_ck, mx in ((20, 8), (4, 2), (100, 8), (3, 8)):
        idx = {"f": ([(i * 10, i * 100) for i in range(1, n_ck + 1)],
                     True)}
        slices = attach_split_slices(
            ["f"], 0, n_ck * 10 + 5, idx, mx,
        )
        assert len(slices) <= mx, (n_ck, mx, len(slices))
        # tiling is exact regardless
        assert slices[0].lo == 0 and slices[-1].hi == n_ck * 10 + 5
        for a, b in zip(slices, slices[1:]):
            assert a.hi == b.lo


def test_lso_probe_failure_is_logged_and_tears_down_client(
    monkeypatch, caplog
):
    """ADVICE r11: a probe that dies mid-response leaves unread bytes
    on the shared planning socket — the next correlated request would
    desync. The swallow stays (planning must not fail on a flaky
    probe) but is debug-logged, and the poisoned client is CLOSED so
    the planner redials."""
    import logging

    from transferia_spark import sinks as _s  # noqa: F401
    import transferia_spark.sinks.kafka_wire as kw
    from transferia_spark.streaming.kafka_source import (
        KafkaFetchClient,
        KafkaWireStreamReader,
    )

    broker = LoopbackBroker({"t": 1})
    try:
        c = KafkaFetchClient("127.0.0.1", broker.port, timeout=5)

        def boom(*a, **k):
            raise ValueError("truncated probe response")

        monkeypatch.setattr(kw, "decode_fetch_response", boom)
        with caplog.at_level(logging.DEBUG,
                             logger="transferia_spark.streaming"
                                    ".kafka_source"):
            out = c.stable_offsets("t", {0: 9})
        assert out == {0: 9}  # falls back to the high watermark
        assert c.closed  # poisoned socket torn down
        assert any("LSO probe" in r.message and "truncated probe" in
                   r.message for r in caplog.records)
        monkeypatch.undo()

        # the planner redials a torn-down driver client transparently
        r = KafkaWireStreamReader({
            "bootstrap": f"127.0.0.1:{broker.port}", "topic": "t",
        })
        a = r._driver_client()
        a.close()
        b = r._driver_client()
        assert b is not a and not b.closed
        r.stop()
    finally:
        broker.close()


def test_read_committed_wait_is_bounded():
    """ADVICE r11: an LSO that never advances (hung transactional
    producer) must not block the Spark task forever — the 0.2 s retry
    is now bounded by max_transaction_wait and raises a NAMED error."""
    from transferia_spark.streaming.kafka_source import (
        KafkaTransactionWaitTimeout,
        KafkaWireStreamReader,
        _TopicSlice,
    )

    broker = TxnBroker()
    broker.lso = 5  # frozen below the planned end, never advances
    try:
        r = KafkaWireStreamReader({
            "bootstrap": f"127.0.0.1:{broker.port}", "topic": "txn",
            "isolation_level": "read_committed",
            "max_transaction_wait": "0.6",
        })
        with pytest.raises(KafkaTransactionWaitTimeout,
                           match=r"LSO stuck at 5"):
            list(r.read(_TopicSlice(0, 5, 7)))
    finally:
        broker.close()


@pytest.mark.slow
def test_registry_driven_schema_drift_restart_e2e(spark, tmp_path):
    """r11 verdict next #4: a topic whose WRITER schema evolves
    mid-stream. v2 adds a column → the in-stream guard raises the
    transient RegistrySchemaDrift, the supervisor evolves schema_file
    from the registry and the restarted stream lands the new column;
    a RETYPE raises the fatal loud control. ≈ engine/parser.go:44
    (per-record writer-schema resolution IS the drift handling)."""
    import json as _json

    from test_schema_registry import _registry
    from transferia_spark.parsers.schema_registry import (
        AvroCodec,
        encode_confluent_frame,
    )
    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.queues import KafkaSink
    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )
    from transferia_spark.tasks.replicate import run_replication

    v1 = _json.dumps({
        "type": "record", "name": "E", "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
        ],
    })
    v2 = _json.dumps({
        "type": "record", "name": "E", "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "note", "type": ["null", "string"]},
        ],
    })
    v3_retype = _json.dumps({
        "type": "record", "name": "E", "fields": [
            {"name": "id", "type": "string"},
        ],
    })
    schemas = {1: {"schema": v1}, 2: {"schema": v2},
               3: {"schema": v3_retype}}
    reg = _registry(schemas, [])
    broker = LoopbackBroker({"ev": 1})
    port = broker.port
    c1, c2, c3 = AvroCodec(v1), AvroCodec(v2), AvroCodec(v3_retype)

    def transport(frame: bytes) -> None:
        s = socket.create_connection(("127.0.0.1", port), timeout=10)
        try:
            s.sendall(frame)
            s.recv(4096)
        finally:
            s.close()

    def produce(frames):
        sink = KafkaSink(
            bootstrap_servers=f"127.0.0.1:{port}", num_partitions=1,
            transport=transport, serializer=lambda df: df.selectExpr(
                "key", "value"),
        )
        df = spark.createDataFrame(
            [(str(i), bytes(f)) for i, f in enumerate(frames)],
            "key string, value binary",
        )
        sink.write(df, TableID("", "ev"))

    schema_file = str(tmp_path / "schema.ddl")
    with open(schema_file, "w") as f:
        f.write("id long, name string")
    src = str(tmp_path / "seed.parquet")
    spark.createDataFrame([(0, "seed")], "id long, name string").coalesce(
        1
    ).write.parquet(src)
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_ONLY
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: kafkawire
    bootstrap: 127.0.0.1:{port}
    topic: ev
    schema_file: {schema_file}
    parser:
      type: confluent_schema_registry
      registry_url: http://127.0.0.1:{reg.server_port}
    options: {{starting_offsets: earliest}}
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 2}}
""")
    try:
        produce([
            encode_confluent_frame(1, c1.encode(
                {"id": i, "name": f"n{i}"})) for i in (1, 2, 3)
        ])
        run_replication(
            spark, spec, state_dir=state, once=True, retry_interval=0.0
        )
        table = BucketedParquetTable(
            spark, target, keys=["id"], n_buckets=2
        )
        assert {(r.id, r.name) for r in table.read().collect()} == {
            (i, f"n{i}") for i in (1, 2, 3)
        }

        # writer schema EVOLVES mid-stream: v2 adds `note`
        produce([
            encode_confluent_frame(2, c2.encode(
                {"id": i, "name": f"n{i}", "note": f"x{i}"}))
            for i in (4, 5)
        ])
        run_replication(
            spark, spec, state_dir=state, once=True, retry_interval=0.0,
            max_attempts=3,
        )
        # schema_file evolved (widening-only, nullable append)
        with open(schema_file) as f:
            assert "note" in f.read()
        got = {(r.id, r.name, r.note)
               for r in table.read().collect()}
        assert got == {(1, "n1", None), (2, "n2", None), (3, "n3", None),
                       (4, "n4", "x4"), (5, "n5", "x5")}

        # a RETYPE (id long -> string) is the loud fatal control
        produce([encode_confluent_frame(3, c3.encode({"id": "nope"}))])
        with pytest.raises(Exception, match="registry-schema-retype"):
            run_replication(
                spark, spec, state_dir=state, once=True,
                retry_interval=0.0, max_attempts=3,
            )
    finally:
        broker.close()
        reg.shutdown()


def test_lso_probe_self_failure_spares_peer_sockets(monkeypatch):
    """code-review r12: when the POISONED probe socket is the
    bootstrap client's own, peers carry their own (healthy)
    connections — close() would kill them mid-probe-round. Only the
    bootstrap socket tears down; the planner's redial then closes the
    family."""
    import transferia_spark.sinks.kafka_wire as kw
    from transferia_spark.streaming.kafka_source import KafkaFetchClient

    broker = LoopbackBroker({"t": 1})
    try:
        c = KafkaFetchClient("127.0.0.1", broker.port, timeout=5)

        class FakePeer:
            closed = False

            def close(self):
                self.closed = True

        peer = FakePeer()
        c._peers[("other", 1)] = peer
        monkeypatch.setattr(
            kw, "decode_fetch_response",
            lambda *a, **k: (_ for _ in ()).throw(ValueError("boom")),
        )
        assert c.stable_offsets("t", {0: 9}) == {0: 9}
        assert c.closed and not peer.closed
        monkeypatch.undo()
        c.close()  # the redial path closes the family
        assert peer.closed
    finally:
        broker.close()


@pytest.mark.slow
def test_registry_driven_schema_drift_restart_protobuf_e2e(
    spark, tmp_path
):
    """r12 verdict next #6: the SAME mid-stream drift contract with a
    PROTOBUF writer — v2 adds a field → transient RegistrySchemaDrift
    whose marker carries the message-indexes path, the supervisor
    evolves schema_file from the registry (proto engine columns) and
    the restarted stream lands the new column; a retype stays the
    loud fatal control. Exercises the `id=<n> indexes=<i.j>` marker
    path LIVE, not just in the classify unit."""
    from test_schema_registry import _registry
    from transferia_spark.parsers.proto_schema import (
        ProtoCodec,
        field_spec,
    )
    from transferia_spark.parsers.protowire import encode_message
    from transferia_spark.parsers.schema_registry import (
        encode_confluent_frame,
        encode_message_indexes,
    )
    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.queues import KafkaSink
    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )
    from transferia_spark.tasks.replicate import run_replication

    v1 = """
        syntax = "proto3";
        message E { int64 id = 1; string name = 2; }
    """
    v2 = """
        syntax = "proto3";
        message E { int64 id = 1; string name = 2; string note = 3; }
    """
    v3_retype = """
        syntax = "proto3";
        message E { string id = 1; }
    """
    schemas = {
        sid: {"schema": s, "schemaType": "PROTOBUF"}
        for sid, s in ((1, v1), (2, v2), (3, v3_retype))
    }
    reg = _registry(schemas, [])
    broker = LoopbackBroker({"ev": 1})
    port = broker.port

    def pbody(schema: str, rec: dict) -> bytes:
        pc = ProtoCodec(schema)
        return encode_message_indexes([0]) + encode_message(
            field_spec(pc.schema.message_by_indexes([0])), rec
        )

    def transport(frame: bytes) -> None:
        s = socket.create_connection(("127.0.0.1", port), timeout=10)
        try:
            s.sendall(frame)
            s.recv(4096)
        finally:
            s.close()

    def produce(frames):
        sink = KafkaSink(
            bootstrap_servers=f"127.0.0.1:{port}", num_partitions=1,
            transport=transport, serializer=lambda df: df.selectExpr(
                "key", "value"),
        )
        df = spark.createDataFrame(
            [(str(i), bytes(f)) for i, f in enumerate(frames)],
            "key string, value binary",
        )
        sink.write(df, TableID("", "ev"))

    schema_file = str(tmp_path / "schema.ddl")
    with open(schema_file, "w") as f:
        f.write("id long, name string")
    src = str(tmp_path / "seed.parquet")
    spark.createDataFrame(
        [(0, "seed")], "id long, name string"
    ).coalesce(1).write.parquet(src)
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_ONLY
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: kafkawire
    bootstrap: 127.0.0.1:{port}
    topic: ev
    schema_file: {schema_file}
    parser:
      type: confluent_schema_registry
      registry_url: http://127.0.0.1:{reg.server_port}
    options: {{starting_offsets: earliest}}
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 2}}
""")
    try:
        produce([
            encode_confluent_frame(
                1, pbody(v1, {"id": i, "name": f"n{i}"})
            ) for i in (1, 2)
        ])
        run_replication(
            spark, spec, state_dir=state, once=True, retry_interval=0.0
        )
        table = BucketedParquetTable(
            spark, target, keys=["id"], n_buckets=2
        )
        assert {(r.id, r.name) for r in table.read().collect()} == {
            (1, "n1"), (2, "n2"),
        }

        # PROTO writer evolves mid-stream: v2 adds `note`
        produce([
            encode_confluent_frame(
                2, pbody(v2, {"id": i, "name": f"n{i}", "note": f"x{i}"})
            ) for i in (3, 4)
        ])
        run_replication(
            spark, spec, state_dir=state, once=True, retry_interval=0.0,
            max_attempts=3,
        )
        with open(schema_file) as f:
            assert "note" in f.read()
        got = {(r.id, r.name, r.note) for r in table.read().collect()}
        assert got == {(1, "n1", None), (2, "n2", None),
                       (3, "n3", "x3"), (4, "n4", "x4")}

        # retype (id int64 -> string) is the loud fatal control
        produce([encode_confluent_frame(3, pbody(v3_retype,
                                                 {"id": "nope"}))])
        with pytest.raises(Exception, match="registry-schema-retype"):
            run_replication(
                spark, spec, state_dir=state, once=True,
                retry_interval=0.0, max_attempts=3,
            )
    finally:
        broker.close()
        reg.shutdown()


@pytest.mark.slow
def test_registry_driven_schema_drift_restart_json_e2e(spark, tmp_path):
    """r14 (verdict next #4, closes the drift matrix): the SAME
    mid-stream drift contract with a JSON-SCHEMA writer — v2 adds an
    optional ``note`` property → transient RegistrySchemaDrift, the
    supervisor evolves schema_file from the registry
    (JsonSchemaCodec engine columns) and the restarted stream lands
    the new column; a retype (integer → string) stays the loud fatal
    control. AVRO and PROTOBUF twins above; the classify logic is
    schema-type-generic, this pins the JSON path LIVE."""
    import json as _json

    from test_schema_registry import _registry
    from transferia_spark.parsers.schema_registry import (
        encode_confluent_frame,
    )
    from transferia_spark.plans.config import transfer_from_yaml
    from transferia_spark.schema.colschema import TableID
    from transferia_spark.sinks.queues import KafkaSink
    from transferia_spark.streaming.bucketed_table import (
        BucketedParquetTable,
    )
    from transferia_spark.tasks.replicate import run_replication

    v1 = _json.dumps({
        "type": "object", "title": "shop.ev",
        "properties": {"id": {"type": "integer"},
                       "name": {"type": "string"}},
        "required": ["id", "name"],
    })
    v2 = _json.dumps({
        "type": "object", "title": "shop.ev",
        "properties": {
            "id": {"type": "integer"},
            "name": {"type": "string"},
            "note": {"oneOf": [{"type": "null"},
                               {"type": "string"}]},
        },
        "required": ["id", "name"],
    })
    v3_retype = _json.dumps({
        "type": "object", "title": "shop.ev",
        "properties": {"id": {"type": "string"}},
        "required": ["id"],
    })
    schemas = {
        sid: {"schema": s, "schemaType": "JSON"}
        for sid, s in ((1, v1), (2, v2), (3, v3_retype))
    }
    reg = _registry(schemas, [])
    broker = LoopbackBroker({"ev": 1})
    port = broker.port

    def transport(frame: bytes) -> None:
        s = socket.create_connection(("127.0.0.1", port), timeout=10)
        try:
            s.sendall(frame)
            s.recv(4096)
        finally:
            s.close()

    def produce(frames):
        sink = KafkaSink(
            bootstrap_servers=f"127.0.0.1:{port}", num_partitions=1,
            transport=transport, serializer=lambda df: df.selectExpr(
                "key", "value"),
        )
        df = spark.createDataFrame(
            [(str(i), bytes(f)) for i, f in enumerate(frames)],
            "key string, value binary",
        )
        sink.write(df, TableID("", "ev"))

    def jframe(sid: int, rec: dict) -> bytes:
        return encode_confluent_frame(
            sid, _json.dumps(rec).encode()
        )

    schema_file = str(tmp_path / "schema.ddl")
    with open(schema_file, "w") as f:
        f.write("id long, name string")
    src = str(tmp_path / "seed.parquet")
    spark.createDataFrame(
        [(0, "seed")], "id long, name string"
    ).coalesce(1).write.parquet(src)
    target = str(tmp_path / "target")
    state = str(tmp_path / "state")
    spec = transfer_from_yaml(f"""
type: SNAPSHOT_ONLY
src: {{type: file, params: {{path: {src}, format: parquet}}}}
dst: {{type: file, params: {{path: {tmp_path}/unused, format: parquet}}}}
replication:
  source:
    format: kafkawire
    bootstrap: 127.0.0.1:{port}
    topic: ev
    schema_file: {schema_file}
    parser:
      type: confluent_schema_registry
      registry_url: http://127.0.0.1:{reg.server_port}
    options: {{starting_offsets: earliest}}
  target: {{kind: bucketed, root: {target}, keys: [id], n_buckets: 2}}
""")
    try:
        produce([jframe(1, {"id": i, "name": f"n{i}"}) for i in (1, 2)])
        run_replication(
            spark, spec, state_dir=state, once=True, retry_interval=0.0
        )
        table = BucketedParquetTable(
            spark, target, keys=["id"], n_buckets=2
        )
        assert {(r.id, r.name) for r in table.read().collect()} == {
            (1, "n1"), (2, "n2"),
        }

        # JSON writer evolves mid-stream: v2 adds optional `note`
        produce([
            jframe(2, {"id": i, "name": f"n{i}", "note": f"x{i}"})
            for i in (3, 4)
        ])
        run_replication(
            spark, spec, state_dir=state, once=True, retry_interval=0.0,
            max_attempts=3,
        )
        with open(schema_file) as f:
            assert "note" in f.read()
        got = {(r.id, r.name, r.note) for r in table.read().collect()}
        assert got == {(1, "n1", None), (2, "n2", None),
                       (3, "n3", "x3"), (4, "n4", "x4")}

        # retype (id integer -> string) is the loud fatal control
        produce([jframe(3, {"id": "nope"})])
        with pytest.raises(Exception, match="registry-schema-retype"):
            run_replication(
                spark, spec, state_dir=state, once=True,
                retry_interval=0.0, max_attempts=3,
            )
    finally:
        broker.close()
        reg.shutdown()


def test_kafkawire_arrow_fast_path_equivalence(spark, tmp_path):
    """r13: the kafkawire reader yields arrow RecordBatches by default
    (headers off) — rows must be IDENTICAL to arrow_batches=false,
    including binary key/value, offsets and timestamps; with
    include_headers the tuple path serves (header structs ride nested
    in lists)."""
    import json as _json  # noqa: F401

    broker = LoopbackBroker({"t": 1})
    port = broker.port

    def transport(frame: bytes) -> None:
        s = socket.create_connection(("127.0.0.1", port), timeout=10)
        try:
            s.sendall(frame)
            s.recv(4096)
        finally:
            s.close()

    try:
        from transferia_spark.schema.colschema import TableID
        from transferia_spark.sinks.queues import KafkaSink
        from transferia_spark.streaming.kafka_source import (
            kafka_wire_stream,
        )

        sink = KafkaSink(
            bootstrap_servers=f"127.0.0.1:{port}", transport=transport,
            serializer=lambda df: df.selectExpr("key", "value"),
        )
        df = spark.createDataFrame(
            [(f"k{i}", bytes([i]) * 8) for i in range(40)],
            "key string, value binary",
        )
        sink.write(df, TableID("", "t"))

        def drain(tag: str, **opts):
            stream = kafka_wire_stream(
                spark, f"127.0.0.1:{port}", "t",
                starting_offsets="earliest", **opts,
            )
            out = str(tmp_path / f"out_{tag}")
            q = (
                stream.writeStream.format("parquet")
                .option("path", out)
                .option(
                    "checkpointLocation", str(tmp_path / f"ck_{tag}")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(60)
            return sorted(
                (bytes(r.key or b""), bytes(r.value), r.partition,
                 r.offset, r.timestamp)
                for r in spark.read.parquet(out).collect()
            )

        rows_arrow = drain("arrow")
        rows_tuple = drain("tuple", arrow_batches="false")
        assert rows_arrow == rows_tuple
        assert len(rows_arrow) == 40
        # offsets are dense (produce order is not key order)
        assert sorted(r[3] for r in rows_arrow) == list(range(40))
        # headers path still consumes (tuple fallback)
        rows_hdr = drain("hdr", include_headers="true")
        assert sorted(r[3] for r in rows_hdr) == list(range(40))
    finally:
        broker.close()
