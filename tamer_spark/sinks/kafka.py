"""Kafka sinks: at-least-once batch writer + exactly-once transactional writer.

The reference's only sink is a transactional producer writing ``Record[K,V]``s
plus the new state in ONE Kafka transaction (Tamer.scala:64-87,150-186), so a
replayed epoch can never duplicate. Two Spark re-expressions, because Spark's
built-in Kafka batch sink cannot do transactions at all:

- :class:`KafkaSink` — ``df.write.format("kafka")`` with idempotent producers.
  **At-least-once**: a replayed epoch appends again. Pair with keyed
  downstream dedup on ``(epoch, key)`` (put the epoch in the record key or a
  header) — the honest default when the Spark connector does the writing.
  Note: Spark's Kafka batch sink never calls initTransactions/commit, so
  passing ``kafka.transactional.id`` through it is broken twice over — a
  transactional producer that never begins a transaction cannot send, and one
  shared id across N executor tasks would make the producers fence each
  other (ProducerFencedException). We therefore do NOT set it.

- :class:`TransactionalKafkaSink` — the reference-faithful exactly-once path:
  ``foreachPartition``-style producers, one transaction per (epoch,
  partition) with transactional id ``{fingerprint}-{epoch}-{partition}``:

  * distinct id per partition → parallel tasks never fence each other;
  * the id embeds the pipeline fingerprint → two pipelines can share a
    broker without colliding;
  * replaying (epoch, partition) reuses the SAME id → ``init_transactions``
    fences the crashed attempt's zombie transaction (aborting its
    uncommitted writes) before the retry begins — Kafka's fencing is the
    point, not an accident;
  * an **epoch marker** record (key ``{fingerprint}-{epoch}-{partition}``,
    sent to ``marker_topic``) rides INSIDE the data transaction, so "this
    partition committed" is atomic with the data. A replay first consults
    the markers (``read_committed``) and skips partitions that already
    committed — that closes the crash window between sink commit and engine
    state commit, which fencing alone cannot (fencing stops *uncommitted*
    zombies; it does not undo a *committed* transaction).

  Consumers must read with ``isolation.level=read_committed`` to see
  exactly-once.

No Kafka client library ships in this environment; the producer is a factory
seam (``confluent_kafka.Producer``-compatible) like ``kafka_admin`` uses, and
the per-partition protocol is a pure function unit-tested with fakes.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import DataFrame


@dataclass
class KafkaSink:
    """At-least-once Kafka batch sink (Spark connector path).

    Requires ``spark-sql-kafka-0-10`` on the classpath at write time. The
    DataFrame must carry the Kafka sink schema (``key``, ``value``,
    optionally ``topic/partition/headers/timestamp``) — produced by
    :func:`tamer_spark.operators.records.to_records`.

    Idempotent producers stop broker-retry duplicates; they do NOT stop
    epoch-replay duplicates. To make the documented downstream dedup on
    (epoch, key) actually implementable, ``write`` stamps the epoch into a
    ``tamer.epoch`` record header — consumers drop records whose (epoch,
    key) they have already seen. For true exactly-once use
    :class:`TransactionalKafkaSink`.
    """

    bootstrap_servers: str
    topic: str

    def write(self, df: DataFrame, epoch: int) -> None:
        from pyspark.sql import functions as F

        tag = F.struct(
            F.lit("tamer.epoch").alias("key"),
            F.encode(F.lit(str(epoch)), "UTF-8").alias("value"),
        )
        if "headers" in df.columns:
            df = df.withColumn("headers", F.array_append(F.col("headers"), tag))
        else:
            df = df.withColumn("headers", F.array(tag))
        (
            df.write.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
            .option("topic", self.topic)
            .option("kafka.includeHeaders", "true")
            .option("kafka.enable.idempotence", "true")
            .save()
        )


def transactional_id(fingerprint: str, epoch: int, partition_id: int) -> str:
    """One producer identity per (pipeline, epoch, partition) — parallel
    tasks never share an id (no self-fencing), replays reuse it (zombie
    fencing)."""
    return f"{fingerprint}-{epoch}-{partition_id}"


def marker_key(fingerprint: str, epoch: int, partition_id: int) -> str:
    return f"{fingerprint}-{epoch}-{partition_id}"


def produce_partition(
    rows: Iterable[Any],
    *,
    partition_id: int,
    epoch: int,
    fingerprint: str,
    topic: str,
    marker_topic: str,
    producer_factory: Callable[[dict], Any],
    marker_exists: Callable[[Any, str, str], bool],
) -> int:
    """Write one RDD partition as one Kafka transaction; returns rows sent
    (-1 = skipped, marker already committed).

    The full exactly-once protocol, driven per executor task:
    fence (init_transactions with the deterministic id) → replay check
    (committed marker?) → begin → data + marker → commit.
    ``producer_factory`` receives the producer config and must return a
    ``confluent_kafka.Producer``-compatible object.
    """
    tid = transactional_id(fingerprint, epoch, partition_id)
    producer = producer_factory(
        {"transactional.id": tid, "enable.idempotence": True}
    )
    # Fencing FIRST: any zombie from a crashed attempt with this id is
    # aborted before we look at markers, so a half-written (uncommitted)
    # attempt can never be mistaken for a committed one.
    producer.init_transactions()
    key = marker_key(fingerprint, epoch, partition_id)
    if marker_exists(producer, marker_topic, key):
        return -1  # this (epoch, partition) already committed — replay no-op
    producer.begin_transaction()
    n = 0
    try:
        for row in rows:
            producer.produce(topic, key=row.key, value=row.value)
            n += 1
        # marker rides inside the transaction: data+marker commit atomically
        producer.produce(marker_topic, key=key, value=str(n))
        producer.commit_transaction()
    except Exception:
        producer.abort_transaction()
        raise
    return n


@dataclass
class TransactionalKafkaSink:
    """Exactly-once Kafka sink: per-partition transactional producers with
    epoch-fenced commit markers (reference semantics: Tamer.scala:150-186).

    The per-partition marker skip is only sound if a REPLAYED epoch assigns
    every row to the same partition it committed under the first time — a
    recomputed batch with Spark's arbitrary partitioning does not guarantee
    that (a row could move from a committed partition to an uncommitted one
    and be written twice, or the reverse and be lost). ``write`` therefore
    hash-repartitions the batch on the record key into a FIXED
    ``num_partitions`` before the protocol runs: for identical batch
    content — which the engine's state-driven iteration guarantees on
    replay — hash(key) % n is deterministic, so (epoch, partition) names
    the same row set on every attempt.

    ``producer_factory`` / ``marker_exists`` are the client seams; the
    default factory builds ``confluent_kafka.Producer`` (gated import) with
    the bootstrap servers merged in. ``marker_exists`` must check
    ``marker_topic`` with ``isolation.level=read_committed``.
    """

    bootstrap_servers: str
    topic: str
    fingerprint: str
    marker_topic: str | None = None
    producer_factory: Callable[[dict], Any] | None = None
    marker_exists: Callable[[Any, str, str], bool] | None = None
    #: fixed write parallelism; part of the sink's identity — changing it
    #: between a crash and its replay invalidates committed markers, so
    #: treat it like the topic name (configuration, not tuning)
    num_partitions: int = 16
    #: filled per write() with (partition_id, rows_sent) for observability
    last_result: list = field(default_factory=list)

    def _factory(self) -> Callable[[dict], Any]:
        if self.producer_factory is not None:
            return self.producer_factory
        bootstrap = self.bootstrap_servers

        def build(config: dict) -> Any:
            try:
                from confluent_kafka import Producer
            except ImportError as e:  # pragma: no cover — not in this env
                raise NotImplementedError(
                    "TransactionalKafkaSink needs confluent_kafka (or pass "
                    "producer_factory=)"
                ) from e
            return Producer({"bootstrap.servers": bootstrap, **config})

        return build

    def write(self, df: DataFrame, epoch: int) -> None:
        topic = self.topic
        marker_topic = self.marker_topic or f"{self.topic}.epochs"
        fingerprint = self.fingerprint
        factory = self._factory()
        marker_exists = self.marker_exists
        if marker_exists is None:
            raise NotImplementedError(
                "pass marker_exists= (a read_committed check of the marker "
                "topic); no Kafka consumer library in this environment"
            )

        def run(pid: int, rows: Iterator[Any]) -> Iterator[tuple[int, int]]:
            yield (
                pid,
                produce_partition(
                    rows,
                    partition_id=pid,
                    epoch=epoch,
                    fingerprint=fingerprint,
                    topic=topic,
                    marker_topic=marker_topic,
                    producer_factory=factory,
                    marker_exists=marker_exists,
                ),
            )

        from pyspark.sql import functions as F

        # Deterministic row→partition mapping (see class docstring): replays
        # of the same batch content land every row in the same partition id,
        # which is what makes the per-partition marker skip sound.
        df = df.repartition(self.num_partitions, F.col("key"))
        # mapPartitionsWithIndex + collect instead of foreachPartition: the
        # tiny (partition, count) results double as the write receipt
        self.last_result = df.rdd.mapPartitionsWithIndex(run).collect()
