"""The three ingestion-loop workloads and the hooks that time them.

Each workload drives ``engine.Pipeline`` through its public seams only: the
source's ``iteration``, the lister's ``list_keys``, the REST source's
``fetch``, the sink's ``write``, ``StateStore.load``/``commit``, and the
pipeline's ``observer`` and ``sleep_fn``. With tracing off the hooks read the
clock and the machine's CPU ticks twice per epoch (iteration start,
observer); with tracing on they also record spans, counts and Spark
job/stage/task counts per epoch.

Crashes are injected as :class:`InjectedCrash`, a ``BaseException`` raised by
the sink wrapper *after* the wrapped sink committed: it escapes the engine's
retry (which catches ``Exception``), and the workload restarts a fresh
``Pipeline`` on the same checkpoint, which must replay the epoch without
duplicating it.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from typing import Any, Callable, NamedTuple

from perfbench import fixtures, oracles
from perfbench.fakebroker import FileBroker
from perfbench.spans import Tracer, self_by_name, total_by_name

DERBY_DRIVER = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
CLK_TCK = os.sysconf("SC_CLK_TCK")


class InjectedCrash(BaseException):
    """A process death right after the sink committed (not an ingest failure)."""


def quantile(values: list[float], q: float, weights: list[float] | None = None) -> float:
    """Inclusive-rank quantile of ``values`` (each repeated ``weights`` times)."""
    pairs = sorted(zip(values, weights or [1] * len(values)))
    total = sum(w for _, w in pairs)
    target, acc = q * total, 0.0
    for v, w in pairs:
        acc += w
        if acc >= target:
            return v
    return pairs[-1][0]


def cpu_ticks() -> tuple[int, int, int]:
    """(stolen, busy, all) CPU ticks of this machine since boot, from the
    first line of Linux's /proc/stat. Busy is user, nice, system, irq and
    softirq time."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], ticks[0] + ticks[1] + ticks[2] + ticks[5] + ticks[6], sum(ticks)


def steal_share(a: tuple[int, int, int], b: tuple[int, int, int]) -> float:
    """Share of the machine's CPU time between two ``cpu_ticks`` readings that
    the hypervisor gave to other guests."""
    total = b[2] - a[2]
    return (b[0] - a[0]) / total if total > 0 else 0.0


def busy_s(a: tuple[int, int, int], b: tuple[int, int, int]) -> float:
    """CPU seconds the machine spent busy between two ``cpu_ticks`` readings."""
    return (b[1] - a[1]) / CLK_TCK


class Mark(NamedTuple):
    """A point in time with the CPU ticks read at it."""

    t: float
    ticks: tuple[int, int, int]


def mark() -> Mark:
    return Mark(time.perf_counter(), cpu_ticks())


class Sample(NamedTuple):
    value: float
    steal: float  # steal share over the interval the value measures
    weight: float = 1.0


class Resume(NamedTuple):
    """From the restart call after a crash to the replayed epoch's commit."""

    wall: float
    steal: float
    cpu: float


QUIET_KEEP = 4  # keep the least-stolen quarter of the samples ...
QUIET_MIN = 5  # ... but no fewer than five of them


def quiet_median(samples: list[Sample]) -> float:
    """Weighted median of the least-stolen samples: the quietest quarter,
    at least ``QUIET_MIN`` (all, if there are fewer), and every sample whose
    steal share ties with the last one kept.

    On a shared host, time the hypervisor hands to other guests stretched
    Spark epochs by up to 60% (handoffs wait for a descheduled vCPU), in
    bursts lasting seconds to minutes. Keeping the least disturbed samples
    measures the program rather than its neighbours. Without steal (all
    shares equal) this is the plain median."""
    shares = sorted(s.steal for s in samples)
    keep = max(math.ceil(len(shares) / QUIET_KEEP), min(len(shares), QUIET_MIN))
    kept = [s for s in samples if s.steal <= shares[keep - 1]]
    return quantile([s.value for s in kept], 0.5, [s.weight for s in kept])


@dataclass
class Epoch:
    seq: int
    epoch: int
    rows: int
    start: float  # Source.iteration called
    commit: float  # observer fired, after the state commit
    state: Any
    round: int
    ticks: tuple[tuple[int, int, int], tuple[int, int, int]]  # cpu_ticks at start and commit
    spark: tuple[int, int, int] = (0, 0, 0)  # jobs, stages, tasks (traced)

    @property
    def steal(self) -> float:
        return steal_share(*self.ticks)

    @property
    def cpu(self) -> float:
        return busy_s(*self.ticks)


@dataclass
class Harness:
    """Per-run hooks shared by all workloads."""

    spark: Any
    tracer: Tracer
    epochs: list[Epoch] = field(default_factory=list)
    resumes: list[Resume] = field(default_factory=list)
    sink_attempts: int = 0
    sink_failures: int = 0
    idle_sleep_s: float = 0.0
    round: int = 0

    def __post_init__(self):
        self._seq = 0
        self._iter_start = mark()
        self.last_state: Any = None
        self._span_mark = 0
        self._resume_t0: Mark | None = None

    @property
    def trace(self) -> bool:
        return self.tracer.enabled

    def reset(self) -> None:
        """Forget set-up epochs before the measured phase."""
        self.epochs.clear()
        self.resumes.clear()
        self.idle_sleep_s = 0.0

    # -- hooks ---------------------------------------------------------------

    def hook_source(self, source) -> None:
        inner = source.iteration

        def iteration(state, spark):
            self._seq += 1
            self.tracer.trace_id = self._seq
            self._span_mark = len(self.tracer.spans)
            if self.trace:
                spark.sparkContext.setJobGroup(f"epoch-{self._seq}", "perfbench epoch")
            self._iter_start = mark()
            with self.tracer.span("sources.iteration"):
                df, new_state = inner(state, spark)
            self.last_state = new_state
            return df, new_state

        source.iteration = iteration

    def observer(self, m) -> None:
        now = mark()
        if self._resume_t0 is not None:
            t0 = self._resume_t0
            self.resumes.append(Resume(now.t - t0.t, steal_share(t0.ticks, now.ticks), busy_s(t0.ticks, now.ticks)))
            self._resume_t0 = None
        start = self._iter_start
        e = Epoch(self._seq, m.epoch, m.rows, start.t, now.t, self.last_state, self.round, (start.ticks, now.ticks))
        if self.trace:
            self._close_epoch_trace(m, now.t)
            e.spark = self._spark_counts(f"epoch-{self._seq}")
        self.epochs.append(e)

    def sleep(self, seconds: float) -> None:
        self.idle_sleep_s += seconds
        time.sleep(seconds)

    def drive(self, make_pipeline: Callable[[], Any], run: Callable[[Any], Any]) -> Any:
        """Run a pipeline; after each injected crash, restart a fresh one on
        the same checkpoint and time it up to the replayed epoch's commit."""
        while True:
            pipeline = make_pipeline()
            try:
                return run(pipeline)
            except InjectedCrash:
                self._resume_t0 = mark()

    # -- traced-run bookkeeping ---------------------------------------------

    def _close_epoch_trace(self, m, now: float) -> None:
        """Build the epoch's span tree. The engine's write interval (persist,
        count and Sink.write: ``write_s`` long, ending where the state commit
        starts) adopts the sink spans; the epoch root adopts the rest."""
        t = self.tracer
        mine = t.spans[self._span_mark :]
        commit = next((s for s in mine if s.name == "state.commit" and s.parent_id is None), None)
        if m.write_s > 0 and commit is not None:
            lo = commit.start - m.write_s
            wid = t.add_span("engine.write", lo, commit.start, None)
            t.reparent(t.spans[self._span_mark :], wid, lo, commit.start)
        start = self._iter_start.t
        root = t.add_span("engine.epoch", start, now, None)
        t.reparent(t.spans[self._span_mark :], root, start, now)

    def _spark_counts(self, group: str) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = stages = tasks = 0
        for jid in st.getJobIdsForGroup(group):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is not None and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return jobs, stages, tasks


class HookedSink:
    """Times ``Sink.write`` from outside and counts attempts and failures. An
    epoch whose ``crash_key(epoch, state)`` is in ``crash_at`` crashes once,
    after the wrapped sink committed it."""

    def __init__(self, harness: Harness, inner, crash_at: set, crash_key: Callable[[int, Any], Any]):
        self.h = harness
        self.inner = inner
        self.crash_at = crash_at
        self.crash_key = crash_key

    def write(self, df, epoch: int) -> None:
        h = self.h
        h.sink_attempts += 1
        try:
            with h.tracer.span("sinks.write"):
                self.inner.write(df, epoch)
        except Exception:
            h.sink_failures += 1
            raise
        key = self.crash_key(epoch, h.last_state)
        if key in self.crash_at:
            self.crash_at.discard(key)
            raise InjectedCrash(f"injected crash after the sink committed epoch {epoch}")


def hook_state_store(tracer: Tracer) -> Callable[[], None]:
    """Trace ``StateStore.load``/``commit`` for every store the engine builds;
    returns the function that removes the hooks."""
    from tamer_spark.state import StateStore

    load, commit = StateStore.load, StateStore.commit

    def traced_load(self):
        with tracer.span("state.load"):
            return load(self)

    def traced_commit(self, epoch, new_state):
        with tracer.span("state.commit"):
            return commit(self, epoch, new_state)

    StateStore.load, StateStore.commit = traced_load, traced_commit

    def restore() -> None:
        StateStore.load, StateStore.commit = load, commit

    return restore


# ---------------------------------------------------------------------------
# result assembly
# ---------------------------------------------------------------------------

@dataclass
class Outcome:
    """What one workload run produced, before it is printed."""

    metrics: dict[str, float]  # end-to-end
    layers: dict[str, float]  # per-layer, traced run only
    checks: list  # traced run: the attribution check
    verify: list[Callable[[], list]]  # oracles, run after peak memory is read
    sink_attempts: int
    sink_failures: int
    context: dict


def end_to_end(setups: list[float], epochs: list[Epoch], fresh: list[Sample],
               resumes: list[Resume]) -> tuple[dict, dict]:
    """The end-to-end metrics every workload reports over its measured data
    epochs, and the wall-clock latency record that goes with them.

    The metrics other than ``setup_s`` count the machine's busy CPU time,
    which leaves out time the hypervisor gave to other guests: on a shared
    host, steal stretched the same epochs' wall time by up to 60% from one
    minute to the next while their CPU time moved far less. The
    record keeps the latencies a user waits for, each as a steal-aware
    median next to the plain one; ``rows_per_s`` is each epoch's
    processed-rows rate, as in a Structured Streaming progress report."""
    data = [e for e in epochs if e.rows]
    metrics = {
        "setup_s": statistics.median(setups),
        "cpu_s_per_epoch": statistics.median(e.cpu for e in data),
        "rows_per_cpu_s": statistics.median(e.rows / e.cpu for e in data),
        "resume_cpu_s": statistics.median(r.cpu for r in resumes),
    }
    latencies = {
        "rows_per_s": [Sample(e.rows / (e.commit - e.start), e.steal) for e in data],
        "epoch_s_p50": [Sample(e.commit - e.start, e.steal) for e in data],
        "freshness_s_p50": fresh,
        "resume_s_p50": [Sample(r.wall, r.steal) for r in resumes],
    }
    record = {
        name: {
            "steal_aware": quiet_median(xs),
            "all_samples": quantile([x.value for x in xs], 0.5, [x.weight for x in xs]),
            "n": len(xs),
            "steal_share_p50": statistics.median(x.steal for x in xs),
        }
        for name, xs in latencies.items()
    }
    return metrics, record


def layer_metrics(h: Harness, measured: list[Epoch]) -> dict[str, float]:
    """Per-layer metrics of a traced run over its ``measured`` epochs, as
    means per committed data epoch.

    Layer self times of one epoch sum to its wall time; ``engine.loop_s`` is
    the part no wrapped call covers. Run totals: idle polls, idle sleep,
    retries and skipped partitions."""
    t = h.tracer
    data = [e for e in measured if e.rows]
    traces = {e.seq for e in data}
    # the epoch trees only: a state.load that follows an epoch carries its id
    spans = [s for s in t.spans if s.trace_id in traces and (s.parent_id or s.name == "engine.epoch")]
    n = max(1, len(traces))
    self_t, total_t = self_by_name(spans), total_by_name(spans)
    counts: dict[str, float] = {}
    for (tid, name), v in t.counts.items():
        if tid in traces:
            counts[name] = counts.get(name, 0.0) + v
    wall = sum(e.commit - e.start for e in data)
    loads = [s.duration for s in t.spans if s.name == "state.load"]
    fetch = total_t.get("sources.rest.fetch", 0.0)
    return {
        "engine.epoch_wall_s": wall / n,
        "engine.loop_s": self_t.get("engine.epoch", 0.0) / n,
        "engine.materialize_s": self_t.get("engine.write", 0.0) / n,
        "engine.idle_polls": float(len(measured) - len(data)),
        "engine.idle_sleep_s": h.idle_sleep_s,
        "engine.sink_retries": float(h.sink_failures),
        "engine.spark_jobs_per_epoch": sum(e.spark[0] for e in data) / n,
        "engine.spark_stages_per_epoch": sum(e.spark[1] for e in data) / n,
        "engine.spark_tasks_per_epoch": sum(e.spark[2] for e in data) / n,
        "sources.iteration_s": total_t.get("sources.iteration", 0.0) / n,
        "sources.objectstore.list_s": total_t.get("sources.objectstore.list", 0.0) / n,
        "sources.objectstore.list_calls": counts.get("sources.objectstore.list_calls", 0.0) / n,
        "sources.objectstore.keys_listed": counts.get("sources.objectstore.keys_listed", 0.0) / n,
        "sources.rest.fetch_s": fetch / n,
        "sources.rest.frame_s": (total_t.get("sources.iteration", 0.0) - fetch) / n if fetch else 0.0,
        "state.load_s": statistics.fmean(loads) if loads else 0.0,
        "state.commit_s": total_t.get("state.commit", 0.0) / n,
        "state.commits": len(measured) / n,
        "sinks.write_s": total_t.get("sinks.write", 0.0) / n,
        "sinks.kafka.transactions": counts.get("sinks.kafka.transactions", 0.0) / n,
        "sinks.kafka.records": counts.get("sinks.kafka.records", 0.0) / n,
        "sinks.kafka.partitions_skipped": counts.get("sinks.kafka.partitions_skipped", 0.0),
        "serde.encode_s": total_t.get("serde.encode", 0.0) / n,
        "serde.records": counts.get("serde.records", 0.0) / n,
        "serde.bytes": counts.get("serde.bytes", 0.0) / n,
        "operators.build_s": total_t.get("operators.build", 0.0) / n,
        "operators.dedup.kept_ratio": (
            counts.get("operators.dedup.kept", 0.0) / counts["operators.dedup.rows"]
            if counts.get("operators.dedup.rows") else 0.0
        ),
        # checked, not reported: every second of a data epoch has a layer
        "_unattributed_s": (wall - sum(self_t.values())) / n,
    }


def attribution_check(layers: dict[str, float]) -> oracles.Check:
    """Layer self times must add up to the traced epoch wall."""
    gap = layers.pop("_unattributed_s")
    return oracles.Check("trace.attribution", abs(gap) < 1e-6, {"unattributed_s": gap})


# ---------------------------------------------------------------------------
# shared plumbing
# ---------------------------------------------------------------------------

def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def read_parquet_epochs(path: str, columns: list[str], epoch: int | None = None) -> dict[int, list[tuple]]:
    """Committed ``epoch=N`` directories of a ParquetEpochSink (or only
    ``epoch``), read with pyarrow (not Spark): epoch -> rows."""
    import pyarrow.parquet as pq

    out = {}
    if not os.path.isdir(path):
        return out
    for name in os.listdir(path):
        if name.startswith("epoch=") and epoch in (None, int(name[6:])):
            table = pq.read_table(os.path.join(path, name), columns=columns)
            out[int(name.split("=", 1)[1])] = list(zip(*(table.column(c).to_pylist() for c in columns)))
    return out


def tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; Spark's _SUCCESS and .crc excluded."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if not name.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


def state_stats(checkpoint: str) -> dict[str, float]:
    """History files and current doc size, as found: never cleaned mid-run."""
    hist = os.path.join(checkpoint, "history")
    doc = os.path.join(checkpoint, "state.json")
    return {
        "state.history_files": float(len(os.listdir(hist)) if os.path.isdir(hist) else 0),
        "state.doc_bytes": float(os.path.getsize(doc) if os.path.exists(doc) else 0),
    }


def pipeline_factory(h: Harness, source, sink, checkpoint: str, poll_s: float) -> Callable[[], Any]:
    from tamer_spark.engine import Pipeline

    return lambda: Pipeline(
        source, sink, checkpoint, poll_interval_s=poll_s, poll_max_s=poll_s,
        observer=h.observer, sleep_fn=h.sleep,
    )


@dataclass
class Drain:
    """Measured rounds of a closed-loop drain."""

    setups: list[float] = field(default_factory=list)
    fresh: list[Sample] = field(default_factory=list)
    epochs: list[Epoch] = field(default_factory=list)
    resumes: list[Resume] = field(default_factory=list)
    rounds: int = 0


def drain_rounds(h: Harness, seconds: float, run_round: Callable[[int], Mark]) -> Drain:
    """Repeat ``run_round(r)``: build round r's inputs and drain them;
    returns the mark at which the inputs became available. Each round is one
    set-up sample, timed to its first commit. Round 0 also warms the JIT and
    is not measured otherwise. Later rounds are measured: they start while
    less than ``seconds`` have passed since round 0 ended."""
    d = Drain()
    t_end = float("inf")
    while d.rounds < 2 or time.perf_counter() < t_end:
        h.round = r = d.rounds
        first, resumed = len(h.epochs), len(h.resumes)
        t_build = time.perf_counter()
        t0 = run_round(r)
        done = [e for e in h.epochs[first:] if e.rows]
        d.setups.append(done[0].commit - t_build)
        if r == 0:
            t_end = time.perf_counter() + seconds
        else:
            # one freshness sample per round: its rows' median wait, so that
            # rounds, not positions within a round, are what steal selects
            wait = quantile([e.commit - t0.t for e in done], 0.5, [e.rows for e in done])
            d.fresh.append(Sample(wait, steal_share(t0.ticks, done[-1].ticks[1])))
            d.epochs += done
            d.resumes += h.resumes[resumed:]
        d.rounds += 1
    return d


# ---------------------------------------------------------------------------
# objstore_tail — open loop
# ---------------------------------------------------------------------------

OBJ_PREFIX = "myFolder2/myPrefix"
OBJ_PRELOAD = 30  # objects already in the bucket, listed on every poll
OBJ_LINES = 40
# Offered load, fixed so that every commit sees the same schedule: about 60%
# of the closed-loop capacity of a 4-core host (≈0.2 s per warm epoch).
OBJ_RATE = 2.5  # objects per second
OBJ_RESUMES = 10  # crash-resume probes after the tail
OBJ_POLL_S = 0.05


def objstore_tail(spark, tracer: Tracer, seed: int, seconds: float, work: str) -> Outcome:
    from tamer_spark.sinks.base import ParquetEpochSink
    from tamer_spark.sources.objectstore import LocalFSLister, ObjectCursorSource

    h = Harness(spark, tracer)
    crash_at: set = set()
    setups = []
    # Three set-ups, each on a fresh bucket and checkpoint, timed to the
    # first commit. The first one then drains the preloaded objects: epoch
    # times settle only after about a dozen epochs of JIT warm-up. The last
    # one's pipeline tails the generator.
    for r in range(3):
        h.round = r
        t0 = time.perf_counter()
        base = fresh_dir(os.path.join(work, f"obj-{r}"))
        bucket = os.path.join(base, "bucket")
        os.makedirs(os.path.join(bucket, os.path.dirname(OBJ_PREFIX)))
        writer = fixtures.ObjectWriter(bucket, OBJ_PREFIX, seed, OBJ_RATE, OBJ_LINES, OBJ_PRELOAD + 1, 0.0)
        for n in range(1, OBJ_PRELOAD + 1):
            writer.write_object(n)
        lister = LocalFSLister(bucket)
        lister.list_keys = counted_list(tracer, lister.list_keys)
        start = 0 if r == 0 else OBJ_PRELOAD - 1
        src = ObjectCursorSource(lister, OBJ_PREFIX, cursor_kind="number", initial_number=start)
        h.hook_source(src)
        out = os.path.join(base, "out")
        sink = HookedSink(h, ParquetEpochSink(out), crash_at, lambda epoch, state: state["cursor"])
        make = pipeline_factory(h, src, sink, os.path.join(base, "ckpt"), OBJ_POLL_S)
        h.drive(make, lambda p: p.run(spark, max_iterations=1))
        setups.append(time.perf_counter() - t0)
        if r == 0:
            first_epoch = h.epochs[0].commit - h.epochs[0].start
            h.drive(make, lambda p: p.run(spark, until=lambda s: s["cursor"] >= OBJ_PRELOAD))
    h.reset()

    h.round = 3
    t0 = time.perf_counter()
    writer.until = t0 + seconds
    hard_stop = t0 + seconds + 60
    writer.start(t0)
    try:
        h.drive(
            make,
            lambda p: p.run(
                spark,
                until=lambda s: time.perf_counter() > hard_stop
                or (writer.done() and s["cursor"] >= writer.last),
            ),
        )
    finally:
        writer.stop()
    if writer.error is not None:
        raise writer.error
    tail = [e for e in h.epochs if e.rows]

    # crash-resume probes, kept out of the tail so that freshness measures
    # the loop alone: each new object crashes once after its sink commit
    h.round = 4
    last = writer.last
    for n in range(last + 1, last + 1 + OBJ_RESUMES):
        writer.write_object(n)
        crash_at.add(n)
        h.drive(make, lambda p: p.run(spark, max_iterations=1))
        last = n

    def verify() -> list:
        committed = read_parquet_epochs(out, ["value"])
        expected = {n: fixtures.object_lines(seed, n, OBJ_LINES) for n in range(OBJ_PRELOAD, last + 1)}
        return oracles.check_objects({e: [r[0] for r in rows] for e, rows in committed.items()}, expected)

    # freshness: from the object's scheduled creation to the commit of the
    # epoch that consumed it, which also lends the sample its steal share
    fresh = [Sample(e.commit - writer.due[e.state["cursor"]], e.steal) for e in tail]
    late = [writer.written[n] - writer.due[n] for n in writer.due]
    metrics, record = end_to_end(setups, tail, fresh, h.resumes)
    layers, checks = {}, []
    if tracer.enabled:
        measured = [e for e in h.epochs if e.round == 3]
        layers = layer_metrics(h, measured)
        files, size = tree_stats(out)
        layers.update(state_stats(os.path.join(base, "ckpt")))
        layers.update({"sinks.parquet.files": files / len(tail), "sinks.parquet.bytes": size / len(tail),
                       "session.first_epoch_s": first_epoch})
        checks.append(attribution_check(layers))
    context = {
        "objects": len(writer.due),
        "tail_epochs": len(tail),
        "rate_per_s": OBJ_RATE,
        "generator_lateness_s_p50": quantile(late, 0.5),
        "generator_lateness_s_max": max(late),
        "crashes": len(h.resumes),
        "latency": record,
    }
    return Outcome(metrics, layers, checks, [verify], h.sink_attempts, h.sink_failures, context)


def counted_list(tracer: Tracer, list_keys):
    """``Lister.list_keys`` timed as one span, with calls and keys counted."""

    def listing(prefix, start_after=None):
        with tracer.span("sources.objectstore.list"):
            keys = list_keys(prefix, start_after=start_after)
        tracer.count("sources.objectstore.list_calls")
        tracer.count("sources.objectstore.keys_listed", len(keys))
        return keys

    return listing


# ---------------------------------------------------------------------------
# jdbc_kafka_backfill — closed-loop drain
# ---------------------------------------------------------------------------

USERS_ROWS = 22_000
USERS_FROM = datetime(2020, 1, 1, tzinfo=timezone.utc)
# Two windows: the first holds 57% of the rows, so the median row of a round
# always commits with it, never with the replayed second window.
USERS_STEP = timedelta(days=190)
# Derby needs the Spark-created lower-case columns quoted, and cannot parse
# the "+00:00" offset render_sql emits, so the template cuts it off.
USERS_QUERY = (
    'SELECT "id", "name", "description", "modified_at" FROM users '
    "WHERE \"modified_at\" > TIMESTAMP(SUBSTR('{from_ts}', 1, LOCATE('+', '{from_ts}') - 1)) "
    "AND \"modified_at\" <= TIMESTAMP(SUBSTR('{to_ts}', 1, LOCATE('+', '{to_ts}') - 1))"
)
USERS_SCHEMA = {
    "type": "record",
    "name": "User",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "name", "type": "string"},
        {"name": "description", "type": ["null", "string"]},
        {"name": "modified_at", "type": {"type": "long", "logicalType": "timestamp-millis"}},
    ],
}
JDBC_CRASH_EPOCH = 1  # each measured round crashes once, after its second window


class AvroKafkaSink:
    """users rows -> Avro values (``serde.avro.encode_df``) keyed by id ->
    ``TransactionalKafkaSink``. The traced run materialises the encoded batch
    once, to time the encoder; the untraced run leaves it lazy."""

    def __init__(self, kafka, tracer: Tracer):
        self.kafka = kafka
        self.tracer = tracer

    def write(self, df, epoch: int) -> None:
        from pyspark.sql import functions as F

        from tamer_spark.serde.avro import encode_df

        values = df.select("id", "name", "description", F.unix_millis("modified_at").alias("modified_at"))
        encoded = encode_df(values, ["id", "name", "description", "modified_at"], USERS_SCHEMA)
        # encode_df keeps only the value; the id is its first field: one
        # length byte (32 characters) and the 32 bytes of the id
        records = encoded.select(F.substring("value", 2, 32).alias("key"), "value")
        t = self.tracer
        if t.enabled:
            records = records.persist()
            with t.span("serde.encode"):
                row = records.agg(F.count("*").alias("n"), F.sum(F.length("value")).alias("b")).collect()[0]
            t.count("serde.records", row["n"])
            t.count("serde.bytes", row["b"] or 0)
        try:
            with t.span("sinks.kafka"):
                self.kafka.write(records, epoch)
        finally:
            if t.enabled:
                records.unpersist()
        sent = [n for _, n in self.kafka.last_result]
        t.count("sinks.kafka.transactions", sum(1 for n in sent if n >= 0))
        t.count("sinks.kafka.records", sum(n for n in sent if n >= 0))
        t.count("sinks.kafka.partitions_skipped", sum(1 for n in sent if n < 0))


def jdbc_kafka_backfill(spark, tracer: Tracer, seed: int, seconds: float, work: str) -> Outcome:
    from tamer_spark.serde.avro import AvroCodec
    from tamer_spark.sinks.kafka import TransactionalKafkaSink
    from tamer_spark.sources.jdbc import JdbcTumblingSource

    h = Harness(spark, tracer)
    t_fix = time.perf_counter()
    db = os.path.join(os.path.abspath(work), "usersdb")
    rows = fixtures.users_rows(seed, USERS_ROWS)
    fixtures.load_users(spark, f"jdbc:derby:{db};create=true", "users", rows, DERBY_DRIVER)
    fixture_s = time.perf_counter() - t_fix
    codec = AvroCodec(USERS_SCHEMA)
    verify = []
    base = ""

    def run_round(r: int) -> Mark:
        nonlocal base
        base = fresh_dir(os.path.join(work, f"jdbc-{r}"))
        broker = FileBroker(os.path.join(base, "broker"))
        src = JdbcTumblingSource(
            url=f"jdbc:derby:{db}", query_template=USERS_QUERY, ts_column="modified_at",
            from_ts=USERS_FROM, step=USERS_STEP, properties={"driver": DERBY_DRIVER},
        )
        h.hook_source(src)
        kafka = TransactionalKafkaSink(
            "file-broker", "users", fingerprint=src.state_fingerprint(),
            producer_factory=broker, marker_exists=broker.marker_exists,
        )
        crash_at = {JDBC_CRASH_EPOCH} if r else set()  # round 0 only warms up
        sink = HookedSink(h, AvroKafkaSink(kafka, tracer), crash_at, lambda epoch, state: epoch)
        t0 = mark()
        h.drive(
            pipeline_factory(h, src, sink, os.path.join(base, "ckpt"), 0.01),
            lambda p: p.run_until_drained(spark, idle_iterations=1),
        )
        verify.append(lambda: oracles.check_kafka(
            broker.read("users"), rows, USERS_FROM.replace(tzinfo=None), codec, seed + r))
        return t0

    d = drain_rounds(h, seconds, run_round)
    metrics, record = end_to_end([fixture_s + s for s in d.setups], d.epochs, d.fresh, d.resumes)
    layers, checks = {}, []
    if tracer.enabled:
        layers = layer_metrics(h, [e for e in h.epochs if e.round > 0])
        layers.update(state_stats(os.path.join(base, "ckpt")))
        layers["session.first_epoch_s"] = h.epochs[0].commit - h.epochs[0].start
        checks.append(attribution_check(layers))
    context = {"rounds": d.rounds, "rows": len(rows), "fixture_s": fixture_s, "crashes": len(h.resumes), "latency": record}
    return Outcome(metrics, layers, checks, verify, h.sink_attempts, h.sink_failures, context)


# ---------------------------------------------------------------------------
# rest_dedup_epochs — closed-loop drain
# ---------------------------------------------------------------------------

REST_PAGES = 4
REST_WARMUP_PAGES = 8  # round 0: the ~9 Spark jobs per epoch need a long JIT warm-up
REST_PAGE_SIZE = 500
REST_DUP_PAGES = 0.4  # share of pages that re-serve earlier texts
REST_DUP_DOCS = 0.5  # share of such a page's documents that are re-served
REST_CRASH_EPOCHS = {1, 3}  # each measured round crashes after its 2nd and 4th page


class DedupSink:
    """Exact incremental dedup in front of a ParquetEpochSink.

    Epoch N's batch is deduplicated (``dedup_exact_incremental``) against the
    digests the sink holds for epochs < N only, so a replayed epoch sees the
    same index as its first attempt. Survivors are written with their digest:
    the sink is both the curated output and the digest index."""

    def __init__(self, spark, path: str, tracer: Tracer):
        from tamer_spark.sinks.base import ParquetEpochSink

        self.spark = spark
        self.sink = ParquetEpochSink(path)
        self.tracer = tracer

    def _index_before(self, epoch: int):
        path = self.sink.path
        dirs = [
            os.path.join(path, d)
            for d in (os.listdir(path) if os.path.isdir(path) else [])
            if d.startswith("epoch=") and int(d[6:]) < epoch and os.path.exists(os.path.join(path, d, "_SUCCESS"))
        ]
        if not dirs:
            return self.spark.createDataFrame([], "content_hash string")
        return self.spark.read.option("basePath", path).parquet(*dirs).select("content_hash")

    def write(self, df, epoch: int) -> None:
        from tamer_spark.operators.dedup_incremental import dedup_exact_incremental

        t = self.tracer
        index = self._index_before(epoch)
        with t.span("operators.build"):
            survivors = dedup_exact_incremental(df, index, text_col="text", id_col="doc_id")
        self.sink.write(survivors.select("doc_id", "text", "content_hash"), epoch)
        if t.enabled:
            t.count("operators.dedup.kept", sum(len(r) for r in read_parquet_epochs(self.sink.path, ["doc_id"], epoch).values()))
            t.count("operators.dedup.rows", df.count())


def rest_dedup_epochs(spark, tracer: Tracer, seed: int, seconds: float, work: str) -> Outcome:
    from tamer_spark.sources.rest import PaginatedRestSource, json_lines_decoder

    h = Harness(spark, tracer)
    t_fix = time.perf_counter()
    server = fixtures.PageServer()
    fixture_s = time.perf_counter() - t_fix
    verify, index_rows, sink_files = [], [], []
    base = ""

    def run_round(r: int) -> Mark:
        nonlocal base
        base = fresh_dir(os.path.join(work, f"rest-{r}"))
        n_pages = REST_PAGES if r else REST_WARMUP_PAGES
        pages = fixtures.document_pages(seed, r, n_pages, REST_PAGE_SIZE, REST_DUP_PAGES, REST_DUP_DOCS)
        src = PaginatedRestSource(
            server.add_round(r, pages), page_decoder=json_lines_decoder,
            schema="doc_id long, text string", fixed_page_element_count=REST_PAGE_SIZE,
        )
        src.fetch = tracer.wrap("sources.rest.fetch", src.fetch)
        h.hook_source(src)
        dedup = DedupSink(spark, os.path.join(base, "curated"), tracer)
        crash_at = set(REST_CRASH_EPOCHS) if r else set()  # round 0 only warms up
        sink = HookedSink(h, dedup, crash_at, lambda epoch, state: epoch)
        t0 = mark()
        h.drive(
            pipeline_factory(h, src, sink, os.path.join(base, "ckpt"), 0.01),
            lambda p: p.run_until_drained(spark, idle_iterations=1),
        )

        def check() -> list:
            curated = read_parquet_epochs(dedup.sink.path, ["doc_id", "text"])
            return [oracles.check_curated([row for rows in curated.values() for row in rows], pages)]

        verify.append(check)
        if tracer.enabled and r > 0:
            index_rows.append(sum(len(rows) for rows in read_parquet_epochs(dedup.sink.path, ["doc_id"]).values()))
            sink_files.append(tree_stats(dedup.sink.path))
        return t0

    try:
        d = drain_rounds(h, seconds, run_round)
    finally:
        server.close()
    metrics, record = end_to_end([fixture_s + s for s in d.setups], d.epochs, d.fresh, d.resumes)
    layers, checks = {}, []
    if tracer.enabled:
        layers = layer_metrics(h, [e for e in h.epochs if e.round > 0])
        n = len(d.epochs)
        layers.update(state_stats(os.path.join(base, "ckpt")))
        layers.update({
            "sinks.parquet.files": sum(f for f, _ in sink_files) / n,
            "sinks.parquet.bytes": sum(b for _, b in sink_files) / n,
            "operators.index_rows": statistics.fmean(index_rows),
            "session.first_epoch_s": h.epochs[0].commit - h.epochs[0].start,
        })
        checks.append(attribution_check(layers))
    context = {"rounds": d.rounds, "crashes": len(h.resumes), "latency": record}
    return Outcome(metrics, layers, checks, verify, h.sink_attempts, h.sink_failures, context)


WORKLOADS = {
    "objstore_tail": objstore_tail,
    "jdbc_kafka_backfill": jdbc_kafka_backfill,
    "rest_dedup_epochs": rest_dedup_epochs,
}
