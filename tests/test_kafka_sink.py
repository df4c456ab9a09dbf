"""Transactional Kafka sink protocol tests (fake producer — no broker in CI).

What must hold for exactly-once (reference: Tamer.scala:150-186):
- one transactional id per (pipeline, epoch, partition): parallel tasks never
  fence each other, two pipelines never collide;
- replaying a partition reuses its id → init_transactions fences the zombie;
- the epoch marker commits atomically with the data, and a replay of an
  already-committed partition is a no-op (skip), closing the crash window
  between sink commit and engine state commit;
- a mid-write failure aborts the transaction (no partial data visible).
"""

from __future__ import annotations

import os
from collections import namedtuple

import pytest

from tamer_spark.sinks.kafka import (
    TransactionalKafkaSink,
    marker_key,
    produce_partition,
    transactional_id,
)

Rec = namedtuple("Rec", ["key", "value"])


class FakeBroker:
    """Committed state shared across fake producers, like a broker would."""

    def __init__(self):
        self.committed: dict[str, list] = {}  # topic -> records
        self.fenced_ids: set[str] = set()
        self.active_tids: set[str] = set()

    def marker_exists(self, producer, topic, key):
        return any(k == key for k, _ in self.committed.get(topic, []))


class FakeProducer:
    def __init__(self, broker: FakeBroker, config: dict, fail_after: int | None = None):
        self.broker = broker
        self.tid = config["transactional.id"]
        self.pending: list[tuple[str, str, str]] = []
        self.in_txn = False
        self.fail_after = fail_after
        self.aborted = False

    def init_transactions(self):
        # real Kafka: any open transaction with this id is aborted and older
        # producers with the id are fenced
        if self.tid in self.broker.active_tids:
            self.broker.fenced_ids.add(self.tid)
        self.broker.active_tids.add(self.tid)

    def begin_transaction(self):
        self.in_txn = True

    def produce(self, topic, key, value):
        assert self.in_txn, "transactional producer sent outside a transaction"
        if self.fail_after is not None and len(self.pending) >= self.fail_after:
            raise RuntimeError("injected produce failure")
        self.pending.append((topic, key, value))

    def commit_transaction(self):
        for topic, key, value in self.pending:
            self.broker.committed.setdefault(topic, []).append((key, value))
        self.pending = []
        self.in_txn = False

    def abort_transaction(self):
        self.pending = []
        self.in_txn = False
        self.aborted = True


def _produce(broker, rows, pid=0, epoch=1, fp="fp", fail_after=None):
    producers = []

    def factory(config):
        p = FakeProducer(broker, config, fail_after=fail_after)
        producers.append(p)
        return p

    n = produce_partition(
        rows,
        partition_id=pid,
        epoch=epoch,
        fingerprint=fp,
        topic="t",
        marker_topic="t.epochs",
        producer_factory=factory,
        marker_exists=broker.marker_exists,
    )
    return n, producers


def test_transactional_ids_distinct_per_partition_and_pipeline():
    ids = {
        transactional_id(fp, e, p)
        for fp in ("pipeA", "pipeB")
        for e in (0, 1)
        for p in (0, 1, 2)
    }
    assert len(ids) == 12  # no collisions across pipelines/epochs/partitions


def test_commit_writes_data_plus_marker_atomically():
    broker = FakeBroker()
    n, _ = _produce(broker, [Rec(b"k1", b"v1"), Rec(b"k2", b"v2")])
    assert n == 2
    assert broker.committed["t"] == [(b"k1", b"v1"), (b"k2", b"v2")]
    assert broker.committed["t.epochs"] == [(marker_key("fp", 1, 0), "2")]


def test_replay_of_committed_partition_is_skipped():
    broker = FakeBroker()
    _produce(broker, [Rec(b"k1", b"v1")])
    n, _ = _produce(broker, [Rec(b"k1", b"v1")])  # replay after state-commit crash
    assert n == -1  # skipped — no duplicate data, no duplicate marker
    assert len(broker.committed["t"]) == 1
    assert len(broker.committed["t.epochs"]) == 1


def test_failure_aborts_transaction_no_partial_data():
    broker = FakeBroker()
    with pytest.raises(RuntimeError):
        _produce(broker, [Rec(b"a", b"1"), Rec(b"b", b"2")], fail_after=1)
    assert "t" not in broker.committed  # nothing visible
    # retry with same id succeeds and fences the crashed attempt
    n, producers = _produce(broker, [Rec(b"a", b"1"), Rec(b"b", b"2")])
    assert n == 2
    assert transactional_id("fp", 1, 0) in broker.fenced_ids


def test_sink_runs_one_transaction_per_rdd_partition(spark):
    # executor-side fakes: defined locally so cloudpickle ships them by value
    # (module-level test classes aren't importable on executor workers)
    def factory(config):
        class P:
            def __init__(self):
                self.tid = config["transactional.id"]
                self.pending = []
                self.in_txn = False

            def init_transactions(self):
                pass

            def begin_transaction(self):
                self.in_txn = True

            def produce(self, topic, key, value):
                assert self.in_txn
                self.pending.append((topic, key, value))

            def commit_transaction(self):
                self.in_txn = False

            def abort_transaction(self):
                self.in_txn = False

        return P()

    sink = TransactionalKafkaSink(
        bootstrap_servers="fake:9092",
        topic="t",
        fingerprint="fp",
        producer_factory=factory,
        marker_exists=lambda producer, topic, key: False,
        num_partitions=4,
    )
    df = spark.createDataFrame(
        [(f"k{i}".encode(), f"v{i}".encode()) for i in range(8)], "key binary, value binary"
    )
    sink.write(df, epoch=7)
    # NOTE: factory runs on executors; in local mode the broker object is
    # per-worker, so assert via the driver-side receipt instead
    assert sorted(pid for pid, _ in sink.last_result) == [0, 1, 2, 3]
    assert sum(max(n, 0) for _, n in sink.last_result) == 8

    # deterministic row→partition mapping: an identical batch written again
    # (an epoch replay) produces the identical per-partition row counts —
    # the property that makes the per-partition marker skip sound
    first = sorted(sink.last_result)
    df2 = spark.createDataFrame(
        [(f"k{i}".encode(), f"v{i}".encode()) for i in range(8)], "key binary, value binary"
    ).repartition(7)  # different incoming partitioning, same content
    sink.write(df2, epoch=7)
    assert sorted(sink.last_result) == first


def test_engine_with_transactional_sink_exactly_once(spark, tmp_path):
    """End-to-end: engine loop + transactional Kafka sink on the production
    path (keyed repartition, one transaction per executor task) delivers each
    record exactly once through crashes at BOTH crash boundaries —
    (a) sink write fails mid-transaction (abort + engine retry),
    (b) crash after sink commit but before state commit (replay skipped via
    the committed epoch markers).

    The broker is file-backed because Spark's Python workers are separate
    processes; for the same reason the one-shot failure is a flag file named
    after the transactional id, not a counter."""
    from pyspark.sql import functions as F

    from perfbench.fakebroker import FileBroker
    from tamer_spark.engine import Pipeline, RetryPolicy
    from tamer_spark.state import fingerprint as fp

    broker = FileBroker(str(tmp_path / "broker"))
    flags = tmp_path / "fail-once"
    flags.mkdir()
    parts = 4
    schema = "key binary, value binary"

    class Src:
        def initial_state(self):
            return 0

        def state_fingerprint(self):
            return fp("kafka-e2e", 6)

        def iteration(self, state, spark_):
            if state >= 6:
                return None, state
            i = state + 1
            return spark_.createDataFrame([(f"k{i}".encode(), f"v{i}".encode())], schema), i

    def factory(config):
        producer = broker(config)
        try:
            os.remove(os.path.join(flags, config["transactional.id"]))
        except FileNotFoundError:
            return producer
        produce = producer.produce

        def fail_on_marker(topic, key=None, value=None):
            if topic.endswith(".epochs"):  # data sent, marker not: mid-transaction
                raise RuntimeError("injected mid-transaction failure")
            produce(topic, key=key, value=value)

        producer.produce = fail_on_marker
        return producer

    receipts = {}

    class Receipts:
        """Keeps every write's (partition, rows sent) receipt by epoch."""

        def __init__(self, sink):
            self.sink = sink

        def write(self, df, epoch):
            self.sink.write(df, epoch)
            receipts[epoch] = sorted(self.sink.last_result)

    def sink():
        return Receipts(
            TransactionalKafkaSink(
                bootstrap_servers="fake:9092",
                topic="t",
                fingerprint="pipe1",
                producer_factory=factory,
                marker_exists=broker.marker_exists,
                num_partitions=parts,
            )
        )

    # (a) epoch 2 carries k3; its partition's first producer dies between
    # the data record and the marker → abort → engine retries the write
    (pid,) = (
        spark.createDataFrame([(b"k3", b"v3")], schema)
        .repartition(parts, F.col("key"))
        .rdd.mapPartitionsWithIndex(lambda i, rows: [i for _ in rows])
        .collect()
    )
    flag = flags / transactional_id("pipe1", 2, pid)
    flag.touch()
    cp = str(tmp_path / "cp")
    pipe = Pipeline(Src(), sink(), cp, retry=RetryPolicy(retries=3, base_delay_s=0.0))
    pipe.run(spark, until=lambda s: s >= 3)
    assert not flag.exists()  # the failure was injected and consumed
    # the aborted attempt's k3 sits in the log, invisible to read_committed
    assert sum(k == b"k3" for k, _ in broker.read("t", read_committed=False)) == 2

    # (b) roll the checkpoint back one epoch (crash before state commit);
    # the replayed epoch must be skipped by its markers, not re-appended
    store = pipe._store()
    doc = store.load()
    store.commit(doc.epoch - 1, doc.state - 1)
    receipts.clear()
    Pipeline(Src(), sink(), cp).run(spark, until=lambda s: s >= 6)
    assert receipts[2] == [(p, -1) for p in range(parts)]  # every partition skipped
    assert sorted(receipts) == [2, 3, 4, 5]

    keys = sorted(k.decode() for k, _ in broker.read("t"))
    assert keys == [f"k{i}" for i in range(1, 7)], keys  # exactly once each
    # one marker per committed (epoch, partition), never duplicated
    marker_keys = [k for k, _ in broker.read("t.epochs")]
    assert len(marker_keys) == len(set(marker_keys)) == 6 * parts
