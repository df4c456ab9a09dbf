"""Sinks. The reference writes only to Kafka (Tamer.scala:64-87); we provide
Kafka plus Parquet/memory/console, all honoring the per-epoch idempotence
contract required by the engine loop (see engine.py docstring)."""

from tamer_spark.sinks.base import ConsoleSink, MemorySink, ParquetEpochSink
from tamer_spark.sinks.kafka import KafkaSink, TransactionalKafkaSink
from tamer_spark.sinks.shards import (
    assign_shard,
    shard_diff,
    shard_manifest,
    verify_shards,
    write_training_shards,
)

__all__ = [
    "ParquetEpochSink",
    "MemorySink",
    "ConsoleSink",
    "KafkaSink",
    "TransactionalKafkaSink",
    "assign_shard",
    "shard_manifest",
    "verify_shards",
    "shard_diff",
    "write_training_shards",
]
