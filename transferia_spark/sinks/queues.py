"""Queue sinks (Kafka) — gated on connector-jar availability.

≈ ``pkg/providers/kafka/sink.go`` + ``writer/`` in transferia/transferia:
serialize (json/debezium/native/mirror/raw_column via
``transferia_spark.serializers``) then produce, topic per table. The
Spark kafka writer (``format("kafka")``) ships in the external
spark-sql-kafka package; this container does not bundle it, so the
sink validates availability at construction and fails with the remedy
instead of an executor-side ClassNotFound.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from transferia_spark.schema.colschema import TableID
from transferia_spark.sinks.base import CleanupPolicy, Sink, register_sink

KAFKA_PACKAGE = "org.apache.spark:spark-sql-kafka-0-10_2.13"


def _kafka_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


@register_sink
class KafkaSink(Sink):
    """Produce serialized rows to a topic per table.

    Two engines:

    - connector (default fast path): Spark's ``format("kafka")`` writer
      from the spark-sql-kafka package — batching, retries, idempotence
      come from the Java client.
    - pure-Python wire protocol (``sinks/kafka_wire.py``): rows encode
      into RecordBatch v2 frames inside ``foreachPartition`` — murmur2
      key partitioning for stock-producer parity — and ship through the
      injectable ``transport(frame_bytes)`` (a socket in production;
      recorded in tests, since no broker runs in this container). Used
      automatically when the jar is absent and a transport is given.
    """

    TYPE = "kafka"

    def __init__(
        self,
        bootstrap_servers: str,
        topic_for: Callable[[TableID], str] | None = None,
        serializer: Callable[[DataFrame], DataFrame] | None = None,
        options: dict | None = None,
        num_partitions: int = 1,
        batch_records: int = 500,
        transport: Callable[[bytes], None] | None = None,
        compression: str | None = None,
    ):
        self.bootstrap_servers = bootstrap_servers
        self.topic_for = topic_for or (lambda t: t.fqtn())
        self.serializer = serializer
        self.options = options or {}
        self.num_partitions = num_partitions
        self.batch_records = batch_records
        self.transport = transport
        #: wire-engine record-batch compression: gzip (stdlib), snappy,
        #: lz4 or zstd (pyarrow's bundled C codecs) — each produces and
        #: consumes with no further install.
        #: The connector engine takes kafka.compression.type via
        #: ``options`` instead.
        self.compression = compression

    def cleanup(self, table: TableID, policy: CleanupPolicy) -> None:
        # queues are append-only; cleanup (topic recreation) is an
        # admin-API concern, same as the reference
        return

    def _write_wire(self, out: DataFrame, topic: str) -> None:
        from transferia_spark.sinks.kafka_wire import (
            encode_produce_request,
            encode_record_batch,
            partition_for,
        )

        n_parts = self.num_partitions
        batch_records = self.batch_records
        transport = self.transport
        compression = self.compression
        cols = out.columns
        key_col = "key" if "key" in cols else None
        if "value" not in cols:
            # never guess the payload column — shipping cols[0] could
            # silently publish the key (or an arbitrary column) as the
            # message value (ADVICE r4)
            raise ValueError(
                "queue sink expects a 'value' column (optionally 'key'); "
                f"got columns {cols}. Run a serializer (e.g. "
                "serialize_json/serialize_native) to produce the "
                "key/value frame before the queue sink."
            )
        val_col = "value"

        def per_partition(rows):
            by_part: dict[int, list] = {}

            def flush():
                batches = {
                    part: encode_record_batch(
                        recs, compression=compression
                    )
                    for part, recs in by_part.items()
                    if recs
                }
                if batches:
                    if hasattr(transport, "produce"):
                        # leader-routed path (KafkaWireTransport):
                        # each partition's batch reaches ITS leader
                        transport.produce(topic, batches)
                    else:
                        for part, batch in batches.items():
                            transport(
                                encode_produce_request(
                                    topic, {part: batch}
                                )
                            )
                by_part.clear()

            n = 0
            for row in rows:
                k = row[key_col] if key_col else None
                kb = (
                    k if isinstance(k, (bytes, bytearray)) else
                    (str(k).encode() if k is not None else None)
                )
                v = row[val_col]
                vb = (
                    v if isinstance(v, (bytes, bytearray)) else
                    (str(v).encode() if v is not None else None)
                )
                by_part.setdefault(
                    partition_for(kb, n_parts), []
                ).append((kb, vb))
                n += 1
                if n >= batch_records:
                    flush()
                    n = 0
            flush()

        out.foreachPartition(per_partition)

    def write(self, df: DataFrame, table: TableID) -> None:
        out = self.serializer(df) if self.serializer else df
        topic = self.topic_for(table)
        if not _kafka_available(df.sparkSession):
            if self.transport is not None:
                self._write_wire(out, topic)
                return
            raise NotImplementedError(
                f"kafka sink needs --packages {KAFKA_PACKAGE}, or pass "
                "transport= for the pure-Python wire-protocol producer"
            )
        writer = (
            out.write.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("topic", topic)
        )
        for k, v in self.options.items():
            writer = writer.option(k, v)
        writer.save()

    def write_cdc(self, batch: DataFrame, table: TableID, keys: list[str]) -> None:
        # event-log semantics: every change is produced, no collapse
        self.write(batch, table)
