"""The file broker honours read_committed, fencing and the sink's marker skip."""

from collections import namedtuple

import pytest

from perfbench.fakebroker import FileBroker, ProducerFenced
from tamer_spark.sinks.kafka import marker_key, produce_partition

Rec = namedtuple("Rec", ["key", "value"])


def _produce(broker, rows, epoch=1, pid=0):
    return produce_partition(
        rows, partition_id=pid, epoch=epoch, fingerprint="fp", topic="t", marker_topic="t.epochs",
        producer_factory=broker, marker_exists=broker.marker_exists,
    )


def test_read_committed_hides_open_and_aborted_transactions(tmp_path):
    b = FileBroker(str(tmp_path))
    done = b.producer({"transactional.id": "a"})
    done.init_transactions()
    done.begin_transaction()
    done.produce("t", key=b"k1", value=b"v1")
    done.commit_transaction()
    open_ = b.producer({"transactional.id": "b"})
    open_.init_transactions()
    open_.begin_transaction()
    open_.produce("t", key=b"k2", value=b"v2")
    aborted = b.producer({"transactional.id": "c"})
    aborted.init_transactions()
    aborted.begin_transaction()
    aborted.produce("t", key=b"k3", value=b"v3")
    aborted.abort_transaction()
    open_._close()  # flush the open transaction's log without committing
    assert b.read("t") == [(b"k1", b"v1")]
    assert sorted(b.read("t", read_committed=False)) == [(b"k1", b"v1"), (b"k2", b"v2"), (b"k3", b"v3")]


def test_reinit_fences_the_zombie(tmp_path):
    b = FileBroker(str(tmp_path))
    zombie = b.producer({"transactional.id": "fp-1-0"})
    zombie.init_transactions()
    zombie.begin_transaction()
    zombie.produce("t", key=b"k", value=b"old")
    retry = b.producer({"transactional.id": "fp-1-0"})
    retry.init_transactions()
    with pytest.raises(ProducerFenced):
        zombie.commit_transaction()
    retry.begin_transaction()
    retry.produce("t", key=b"k", value=b"new")
    retry.commit_transaction()
    assert b.read("t") == [(b"k", b"new")]


def test_replayed_partition_is_skipped_by_its_committed_marker(tmp_path):
    b = FileBroker(str(tmp_path))
    rows = [Rec(b"k1", b"v1"), Rec(b"k2", b"v2")]
    assert _produce(b, rows) == 2
    assert _produce(b, rows) == -1  # replay after a crash before the state commit
    assert b.read("t") == rows
    assert b.read("t.epochs") == [(marker_key("fp", 1, 0).encode(), b"2")]
    assert _produce(b, rows, epoch=2) == 2  # a new epoch is not skipped


def test_a_failed_transaction_leaves_no_marker_and_is_redone(tmp_path):
    b = FileBroker(str(tmp_path))

    def broken():
        yield Rec(b"k1", b"v1")
        raise RuntimeError("task died mid-partition")

    with pytest.raises(RuntimeError):
        _produce(b, broken())
    assert b.read("t") == [] and not b.marker_exists(None, "t.epochs", marker_key("fp", 1, 0))
    assert _produce(b, [Rec(b"k1", b"v1")]) == 1
    assert b.read("t") == [(b"k1", b"v1")]
