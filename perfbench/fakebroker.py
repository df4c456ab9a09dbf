"""File-backed stand-in for a transactional Kafka broker.

No Kafka client or broker is installed, so ``TransactionalKafkaSink`` writes
through this fake. It keeps the broker-side rules the sink's exactly-once
protocol relies on, on local files so that Spark's Python workers (separate
processes) share one broker:

- ``init_transactions`` bumps the producer epoch of a transactional id and
  aborts whatever that id left open: a zombie from a crashed attempt is fenced
  and its records never become visible;
- records are appended to the log as they are produced, but a
  ``read_committed`` reader sees only those of committed transactions;
- ``commit_transaction`` from a fenced producer fails.

Layout under ``root``: ``ids/<tid>`` holds the current producer epoch,
``log/<topic>/<tid>.<epoch>`` the records of one transaction and
``commits/<tid>.<epoch>`` marks it committed. A record is a 4-byte big-endian
key length, the key, a 4-byte value length and the value.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass


class ProducerFenced(Exception):
    pass


def _as_bytes(x) -> bytes:
    return x.encode("utf-8") if isinstance(x, str) else bytes(x)


def _read_log(path: str) -> list[tuple[bytes, bytes]]:
    with open(path, "rb") as f:
        data = f.read()
    out, pos = [], 0
    while pos < len(data):
        (klen,) = struct.unpack_from(">I", data, pos)
        key = data[pos + 4 : pos + 4 + klen]
        pos += 4 + klen
        (vlen,) = struct.unpack_from(">I", data, pos)
        out.append((key, data[pos + 4 : pos + 4 + vlen]))
        pos += 4 + vlen
    return out


@dataclass
class FileBroker:
    root: str

    def __post_init__(self):
        for d in ("ids", "log", "commits"):
            os.makedirs(os.path.join(self.root, d), exist_ok=True)

    def producer(self, config: dict) -> "FileProducer":
        return FileProducer(self, config["transactional.id"])

    __call__ = producer  # the sink's producer_factory seam

    def producer_epoch(self, tid: str) -> int:
        try:
            with open(os.path.join(self.root, "ids", tid), encoding="utf-8") as f:
                return int(f.read())
        except FileNotFoundError:
            return -1

    def is_committed(self, tid: str, epoch: int) -> bool:
        return os.path.exists(os.path.join(self.root, "commits", f"{tid}.{epoch}"))

    def read(self, topic: str, read_committed: bool = True) -> list[tuple[bytes, bytes]]:
        """Every record of ``topic``, transaction by transaction in name order;
        with ``read_committed`` only those of committed transactions."""
        tdir = os.path.join(self.root, "log", topic)
        if not os.path.isdir(tdir):
            return []
        out = []
        for name in sorted(os.listdir(tdir)):
            tid, _, epoch = name.rpartition(".")
            if read_committed and not self.is_committed(tid, int(epoch)):
                continue
            out.extend(_read_log(os.path.join(tdir, name)))
        return out

    def marker_exists(self, producer, topic: str, key: str) -> bool:
        """The sink's ``marker_exists`` seam: a read_committed lookup."""
        want = _as_bytes(key)
        return any(k == want for k, _ in self.read(topic, read_committed=True))


class FileProducer:
    """``confluent_kafka.Producer``-shaped transactional producer."""

    def __init__(self, broker: FileBroker, tid: str):
        self.broker = broker
        self.tid = tid
        self.epoch: int | None = None
        self._files: dict[str, object] = {}

    def _check_not_fenced(self) -> None:
        if self.epoch is None or self.broker.producer_epoch(self.tid) != self.epoch:
            raise ProducerFenced(f"{self.tid} epoch {self.epoch} is fenced")

    def init_transactions(self) -> None:
        self.epoch = self.broker.producer_epoch(self.tid) + 1
        path = os.path.join(self.broker.root, "ids", self.tid)
        with open(path + ".tmp", "w", encoding="utf-8") as f:
            f.write(str(self.epoch))
        os.replace(path + ".tmp", path)
        # earlier epochs of this id that never committed stay invisible to
        # read_committed: the files remain, as aborted records stay in a log

    def begin_transaction(self) -> None:
        self._check_not_fenced()

    def produce(self, topic: str, key=None, value=None) -> None:
        f = self._files.get(topic)
        if f is None:
            tdir = os.path.join(self.broker.root, "log", topic)
            os.makedirs(tdir, exist_ok=True)
            f = self._files[topic] = open(os.path.join(tdir, f"{self.tid}.{self.epoch}"), "wb")
        k, v = _as_bytes(key if key is not None else b""), _as_bytes(value if value is not None else b"")
        f.write(struct.pack(">I", len(k)) + k + struct.pack(">I", len(v)) + v)

    def _close(self) -> None:
        for f in self._files.values():
            f.close()
        self._files = {}

    def commit_transaction(self) -> None:
        self._close()
        self._check_not_fenced()
        path = os.path.join(self.broker.root, "commits", f"{self.tid}.{self.epoch}")
        os.close(os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY))

    def abort_transaction(self) -> None:
        self._close()
