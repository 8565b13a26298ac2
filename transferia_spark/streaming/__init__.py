"""Structured Streaming surface: replication sources, CDC apply, rollups.

≈ the reference's replication half (SURVEY §2.2/§2.3/§3.2): sources
push ChangeItem batches through transformers into sinks with
at-least-once + idempotent-apply semantics. Here: `readStream` →
DataFrame transform chain → `writeStream.foreachBatch(...)` with
checkpointing; the bufferer/ack machinery collapses into Spark
micro-batch triggers and offset checkpoints.
"""
