"""The engine loop: stateful, incremental, exactly-once micro-batch ingestion.

This is the Spark re-expression of the reference runtime
(core/src/main/scala/tamer/Tamer.scala):

- ``Source`` plays the role of ``Setup`` (core/src/main/scala/tamer/Setup.scala:26-34):
  an initial state, a stable fingerprint, and an ``iteration`` that turns the
  current state into one batch of data (a DataFrame — the analog of the
  ``NonEmptyChunk[Record[K,V]]`` queue) plus the next state.
- ``Sink.write(df, epoch)`` is the transactional produce (Tamer.scala:64-87);
  sinks must be **idempotent per epoch** — re-writing the same epoch after a
  crash must not duplicate data. File sinks get this from deterministic
  per-epoch paths + overwrite; Kafka gets it from a transactional producer
  whose transactional.id embeds (fingerprint, epoch).
- ``Pipeline.run`` is ``runLoop`` (Tamer.scala:244-250, 329-335): resume or
  initialize state, then repeat {iteration → sink write → state commit}.
  The reference makes {data produce, offset commit, state produce} a single
  Kafka transaction (Tamer.scala:150-186); Spark cannot span a sink write and
  a state write in one transaction, so we use **epoch idempotence**: state
  ``(epoch+1, new_state)`` is committed only *after* the sink commit, by the
  single rename in ``StateStore.commit``. A crash anywhere before that rename
  replays the epoch against an idempotent sink; after it, the loop resumes at
  the next epoch — the same exactly-once observable behavior.

Unlike the reference there is no in-process bounded queue between source and
sink fibers (Tamer.scala:333): the DataFrame *is* the batch, executors do the
parallelism, and backpressure is per-iteration batch sizing (window length /
page size / maxKeys), which is where the reference's ``bufferSize`` knob ends
up too.

Retry policy: the reference hard-codes 10 × exponential backoff from 100 ms
and marks it FIXME (Tamer.scala:58); here it's configurable.
"""

from __future__ import annotations

import logging
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator, Protocol

from pyspark.sql import DataFrame, SparkSession

from tamer_spark.errors import TamerError
from tamer_spark.state import StateStore, fingerprint

log = logging.getLogger("tamer_spark.engine")


class Source(Protocol):
    """A stateful incremental source (the reference's ``Setup``)."""

    def initial_state(self) -> Any: ...

    def state_fingerprint(self) -> str:
        """Stable identity of (source descriptor, initial state) — guards
        against resuming a different pipeline's checkpoint."""
        ...

    def iteration(self, state: Any, spark: SparkSession) -> tuple[DataFrame | None, Any]:
        """Pull one batch for ``state``; return (batch, next_state).

        ``batch`` may be None/empty (no new data — a normal outcome, unlike
        the reference's REST source which spins, RESTSetup.scala:208-215).
        Returning ``next_state == state`` with an empty batch means "no
        progress"; the loop then sleeps ``poll_interval``.
        """
        ...


class Sink(Protocol):
    def write(self, df: DataFrame, epoch: int) -> None:
        """Write one epoch. MUST be idempotent for a repeated ``epoch``."""
        ...


@dataclass
class RetryPolicy:
    """Configurable retry (reference: hard-coded 10×exp-from-100ms, Tamer.scala:58)."""

    retries: int = 10
    base_delay_s: float = 0.1
    max_delay_s: float = 30.0

    def delays(self) -> Iterator[float]:
        d = self.base_delay_s
        for _ in range(self.retries):
            yield d
            d = min(d * 2, self.max_delay_s)


@dataclass
class BatchMetrics:
    """Per-iteration metrics exposed to state folds / observers.

    Mirrors ``ResultMetadata(queryExecutionTimeInNanos)`` + pulled-at
    (reference db/src/main/scala/tamer/db/model.scala:30-33).
    """

    epoch: int
    rows: int
    iteration_s: float
    write_s: float


@dataclass
class Pipeline:
    """resume-or-init → iterate → idempotent write → commit state → repeat."""

    source: Source
    sink: Sink
    checkpoint_dir: str
    group_id: str = "default"
    retry: RetryPolicy = field(default_factory=RetryPolicy)
    # no-progress polling backs off exponentially from poll_interval_s to
    # poll_max_s, resetting on progress — the reference's
    # ``Schedule.exponential(min) || spaced(max)`` bucket-poll schedule
    # (S3Setup.scala:74-77); set poll_max_s == poll_interval_s for fixed-rate
    poll_interval_s: float = 1.0
    poll_max_s: float = 300.0
    observer: Callable[[BatchMetrics], None] | None = None
    sleep_fn: Callable[[float], None] = time.sleep

    def _store(self) -> StateStore:
        return StateStore(self.checkpoint_dir, self.source.state_fingerprint(), self.group_id)

    def run(
        self,
        spark: SparkSession,
        max_iterations: int | None = None,
        until: Callable[[Any], bool] | None = None,
    ) -> Any:
        """Run the loop; returns the final state.

        ``max_iterations`` / ``until(state)`` bound the otherwise-perpetual
        loop (the reference's runLoop never terminates; tests and backfills
        want a stopping condition).
        """
        store = self._store()
        doc = store.load() or store.initialize(self.source.initial_state())
        log.info("pipeline start: fingerprint=%s epoch=%d", store.fingerprint, doc.epoch)
        iterations = 0
        idle_delay = self.poll_interval_s
        while True:
            if max_iterations is not None and iterations >= max_iterations:
                return doc.state
            if until is not None and until(doc.state):
                return doc.state
            t0 = time.monotonic()
            df, new_state = self.source.iteration(doc.state, spark)
            t1 = time.monotonic()
            rows = 0
            if df is not None:
                rows = self._write_with_retry(df, doc.epoch)
            t2 = time.monotonic()
            progressed = new_state != doc.state or rows > 0
            # Commit AFTER the sink write. The store's rename is the single
            # commit point: a crash before it replays the epoch against the
            # idempotent sink → exactly-once observable.
            doc = store.commit(doc.epoch + 1, new_state)
            if self.observer:
                self.observer(BatchMetrics(doc.epoch - 1, rows, t1 - t0, t2 - t1))
            iterations += 1
            if progressed:
                idle_delay = self.poll_interval_s
            else:
                self.sleep_fn(idle_delay)
                idle_delay = min(idle_delay * 2, self.poll_max_s)

    def run_until_drained(self, spark: SparkSession, idle_iterations: int = 2) -> Any:
        """Backfill mode: run until ``idle_iterations`` consecutive empty
        iterations (the engine-loop analog of Trigger.AvailableNow — drain
        what exists, then stop)."""
        idle = {"n": 0}
        prev_observer = self.observer

        def observing(m: BatchMetrics) -> None:
            idle["n"] = 0 if m.rows else idle["n"] + 1
            if prev_observer:
                prev_observer(m)

        self.observer = observing
        try:
            return self.run(spark, until=lambda s: idle["n"] >= idle_iterations)
        finally:
            self.observer = prev_observer

    def _write_with_retry(self, df: DataFrame, epoch: int) -> int:
        """Pin the batch, count it, write it, release it.

        ``persist()`` makes the live source plan execute ONCE per epoch in
        the normal path: the row count materializes the cache, the sink
        write and any retries read the cached blocks. Without it, count +
        write would run the source query twice — a 2× tax on every ingest
        epoch, and a non-deterministic source (rows arriving between
        executions) could write a different batch than the one it
        counted/advanced state by. Caveat: Spark caching is best-effort —
        a lost executor recomputes its blocks from lineage (re-touching the
        source); MEMORY_AND_DISK narrows that window but cannot close it,
        so sinks still carry the per-epoch idempotence contract.
        The empty-batch skip stays: an all-idle poll never reaches the sink.
        """
        from pyspark import StorageLevel

        last: Exception | None = None
        attempts = [0.0, *self.retry.delays()]
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            for delay in attempts:
                if delay:
                    time.sleep(delay)
                try:
                    n = df.count()
                    if n:
                        self.sink.write(df, epoch)
                    return n
                except Exception as e:  # noqa: BLE001 — retry any sink failure
                    last = e
                    log.warning("sink write failed (epoch=%d): %s", epoch, e)
        finally:
            df.unpersist()
        raise TamerError(f"sink write failed after {self.retry.retries} retries") from last


__all__ = [
    "Source",
    "Sink",
    "Pipeline",
    "RetryPolicy",
    "BatchMetrics",
    "fingerprint",
]
