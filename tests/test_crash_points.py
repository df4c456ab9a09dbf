"""Exactly-once through a crash at every step of one epoch.

An epoch is: source iteration → sink write → state commit (the rename of
``state.json.tmp`` over ``state.json``) → observer. A ``BaseException``
escapes the engine's sink retry, like a killed process. Each case crashes
epoch ``CRASH_EPOCH`` at one step, then restarts a fresh ``Pipeline`` on the
same checkpoint and sink and checks:

- the restart resumes at the epoch the crash left committed: the crashed
  epoch itself (replayed) for every step before the rename, the next one
  after it — never an earlier epoch;
- every row lands exactly once, under its own epoch;
- the checkpoint directory holds only the state doc (plus, right after a
  crash inside the commit, its tmp file).
"""

from __future__ import annotations

import os

import pytest

from tamer_spark.engine import Pipeline
from tamer_spark.sinks import MemorySink, ParquetEpochSink
from tamer_spark.state import fingerprint

LIMIT = 4  # epochs 0..3 carry data
CRASH_EPOCH = 2
PARTS = 4  # rows per epoch; a mid-write crash writes half of them

STEPS = ["before_write", "mid_write", "after_write", "in_commit", "after_commit"]
# the epoch a restart resumes at: the rename is the one commit point
RESUMED = {step: CRASH_EPOCH for step in STEPS} | {"after_commit": CRASH_EPOCH + 1}


class Crash(BaseException):
    """A process kill: not an ``Exception``, so no retry catches it."""


class MultiRowSource:
    """state = int cursor; epoch i-1 emits rows (i, 0..PARTS-1) for i ≤ LIMIT."""

    def initial_state(self):
        return 0

    def state_fingerprint(self):
        return fingerprint("crash-points", LIMIT, PARTS)

    def iteration(self, state, spark):
        if state >= LIMIT:
            return None, state
        i = state + 1
        rows = [(i, p) for p in range(PARTS)]
        return spark.createDataFrame(rows, "key int, part int").repartition(2), i


class CrashingSink:
    """Wraps the real sink; crashes ``CRASH_EPOCH`` at a sink-side step, or
    arms the commit-side crash once the write is done."""

    def __init__(self, inner, step: str):
        self.inner = inner
        self.step = step
        self.armed = False

    def write(self, df, epoch):
        if epoch != CRASH_EPOCH:
            return self.inner.write(df, epoch)
        if self.step == "before_write":
            raise Crash("before the sink write")
        if self.step == "mid_write":
            self.inner.write(df.where(f"part < {PARTS // 2}"), epoch)
            raise Crash("mid sink write, partial output left behind")
        self.inner.write(df, epoch)
        if self.step == "after_write":
            raise Crash("after the sink write, before the state commit")
        self.armed = self.step == "in_commit"


def _written(sink, spark):
    """(key, part, epoch) of every row the sink holds."""
    if isinstance(sink, MemorySink):
        return sorted((r.key, r.part, e) for e, rows in sink.epochs.items() for r in rows)
    return sorted((r.key, r.part, r.epoch) for r in sink.read(spark).collect())


@pytest.mark.parametrize("sink_kind", ["memory", "parquet"])
@pytest.mark.parametrize("step", STEPS)
def test_crash_at_each_step_resumes_exactly_once(spark, tmp_path, monkeypatch, step, sink_kind):
    inner = MemorySink() if sink_kind == "memory" else ParquetEpochSink(str(tmp_path / "out"))
    cp = str(tmp_path / "cp")
    crashing = CrashingSink(inner, step)
    state_path = os.path.join(cp, "state.json")
    real_replace = os.replace

    def replace(src, dst):
        if crashing.armed and os.fspath(dst) == state_path:
            crashing.armed = False
            raise Crash("inside the commit: tmp written and fsynced, not yet renamed")
        real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)

    def observer(m):
        if step == "after_commit" and m.epoch == CRASH_EPOCH:
            raise Crash("after the state commit")

    pipe = Pipeline(MultiRowSource(), crashing, cp, poll_interval_s=0.0, observer=observer)
    with pytest.raises(Crash):
        pipe.run(spark, until=lambda s: s >= LIMIT)
    after_crash = set(os.listdir(cp))

    epochs = []
    restarted = Pipeline(
        MultiRowSource(), inner, cp, poll_interval_s=0.0, observer=lambda m: epochs.append(m.epoch)
    )
    assert restarted.run_until_drained(spark, idle_iterations=2) == LIMIT
    assert epochs[0] == RESUMED[step], f"restart resumed at epoch {epochs[0]}"

    expected = sorted((i, p, i - 1) for i in range(1, LIMIT + 1) for p in range(PARTS))
    assert _written(inner, spark) == expected
    # two idle polls committed epochs of their own; no trail grew beside the doc
    assert epochs[-1] == LIMIT + 1
    assert after_crash <= {"state.json", "state.json.tmp"}
    assert os.listdir(cp) == ["state.json"]
