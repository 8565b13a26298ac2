"""Structured Streaming surface: replication sources, CDC apply, rollups.

≈ the reference's replication half (SURVEY §2.2/§2.3/§3.2): sources
push ChangeItem batches through transformers into sinks with
at-least-once + idempotent-apply semantics. Here: `readStream` →
DataFrame transform chain → `writeStream.foreachBatch(...)` with
checkpointing; the bufferer/ack machinery collapses into Spark
micro-batch triggers and offset checkpoints.
"""

from transferia_spark.streaming.readers import (  # noqa: F401
    file_stream,
    rate_cdc_stream,
    rate_stream,
)
from transferia_spark.streaming.cdc_apply import ParquetTable  # noqa: F401
from transferia_spark.streaming.bucketed_table import (  # noqa: F401
    BucketedCdcApplySink,
    BucketedParquetTable,
)
from transferia_spark.streaming.rollup import windowed_rollup  # noqa: F401
from transferia_spark.streaming.joins import (  # noqa: F401
    enrich_static,
    interval_join,
    stream_dedup,
)
from transferia_spark.streaming.pipeline import ReplicationPipeline  # noqa: F401
from transferia_spark.streaming.wal_source import (  # noqa: F401
    WalJsonDataSource,
    wal_output_schema,
)
from transferia_spark.streaming.schema_drift import (  # noqa: F401
    SchemaRegistry,
    run_with_drift_handling,
)
