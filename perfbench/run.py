"""Ingestion-loop benchmark for ``engine.Pipeline``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload objstore_tail --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 30

One run starts a local Spark session on every core, builds the workload's
inputs from ``--seed``, drives the pipeline for ``--seconds``, checks the
committed output exactly-once against an oracle, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``). The line before it records host noise and run context.
``--workload all`` runs every workload untraced and traced in one process and
prints both metric sets plus the tracing overhead. See README.md for what each
metric measures and which layer should move it.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import tamer_spark  # noqa: E402 — without the program there is nothing to measure

from perfbench.spans import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, cpu_ticks, hook_state_store, steal_share  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_epoch": "s",
    "rows_per_cpu_s": "rows/cpu-s",
    "resume_cpu_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.first_epoch_s": "s",
    "sources.iteration_s": "s",
    "sources.objectstore.list_s": "s",
    "sources.objectstore.list_calls": "count",
    "sources.objectstore.keys_listed": "count",
    "sources.rest.fetch_s": "s",
    "sources.rest.frame_s": "s",
    "engine.epoch_wall_s": "s",
    "engine.loop_s": "s",
    "engine.materialize_s": "s",
    "engine.idle_polls": "count",
    "engine.idle_sleep_s": "s",
    "engine.sink_retries": "count",
    "engine.spark_jobs_per_epoch": "count",
    "engine.spark_stages_per_epoch": "count",
    "engine.spark_tasks_per_epoch": "count",
    "state.load_s": "s",
    "state.commit_s": "s",
    "state.commits": "count",
    "state.history_files": "count",
    "state.doc_bytes": "bytes",
    "sinks.write_s": "s",
    "sinks.parquet.files": "count",
    "sinks.parquet.bytes": "bytes",
    "sinks.kafka.transactions": "count",
    "sinks.kafka.records": "count",
    "sinks.kafka.partitions_skipped": "count",
    "serde.encode_s": "s",
    "serde.records": "count",
    "serde.bytes": "bytes",
    "operators.build_s": "s",
    "operators.dedup.kept_ratio": "ratio",
    "operators.index_rows": "count",
}


# A single-workload run that is still going after this long is stuck: it
# stops Spark and exits non-zero, leaving time to shut down within 180 s.
RUN_LIMIT_S = 150


class Overrun(BaseException):
    """Raised by the run-time alarm; escapes every retry and crash handler."""


def overrun(signum, frame):
    raise Overrun(f"run exceeded {RUN_LIMIT_S} s")


def host_calibration() -> float:
    """Seconds for a fixed single-thread loop (md5 chain and an integer sum):
    a Spark-free host-speed reference recorded with every run."""
    import hashlib

    t0 = time.perf_counter()
    h = b"x" * 64
    for _ in range(120_000):
        h = hashlib.md5(h).digest()
    s = 0
    for i in range(3_000_000):
        s += i
    return time.perf_counter() - t0


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb() -> tuple[float, float]:
    """Peak resident memory of this Python process and of the Spark JVM."""
    from pyspark import SparkContext

    return _vm_hwm_mb("self"), _vm_hwm_mb(SparkContext._gateway.proc.pid)


def start_session(work: str):
    """Local Spark on every core, with every file it writes kept in ``work``."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no hsperfdata files in the system temp directory, for any JVM Spark starts
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # A fixed young generation keeps peak RSS tracking retained memory
    # rather than G1's run-to-run heap sizing.
    java_opts = (
        f"-Xmn256m -Djava.io.tmpdir={tmp} -Duser.timezone=UTC "
        f"-Dderby.system.home={work}/derby -Dderby.stream.error.file={work}/derby.log"
    )
    spark = tamer_spark.get_spark(
        "perfbench",
        master=f"local[{cores}]",
        **{
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def run_workload(spark, name: str, seed: int, seconds: float, trace: bool, work: str, session_s: float):
    tracer = Tracer(trace)
    restore = hook_state_store(tracer) if trace else (lambda: None)
    # one directory per mode: an embedded Derby database stays open until exit
    wdir = os.path.join(work, name + ("-traced" if trace else ""))
    os.makedirs(wdir)
    try:
        out = WORKLOADS[name](spark, tracer, seed, seconds, wdir)
    finally:
        restore()
    # memory first: the oracles read the whole output into this process
    python_mb, jvm_mb = peak_rss_mb()
    out.metrics["peak_rss_mb"] = python_mb + jvm_mb
    out.context.update(peak_python_mb=python_mb, peak_jvm_mb=jvm_mb)
    for verify in out.verify:
        out.checks += verify()
    if trace:
        tracer.dump(os.path.join(work, f"trace-{name}.jsonl"))
        out.layers["session.start_s"] = session_s
    out.metrics["setup_s"] += session_s
    return out


def metrics(outcomes: list, names: dict[str, str], key: str, prefix: bool) -> dict:
    """``{name: {"value", "unit"}}`` for every metric in ``names``; a layer a
    workload bypasses reads 0."""
    out = {}
    for wl, outcome in outcomes:
        values = getattr(outcome, key)
        for name, unit in names.items():
            v = float(values.get(name, 0.0))
            if not math.isfinite(v):
                raise RuntimeError(f"{wl}: metric {name} was not measured ({v})")
            out[f"{wl}.{name}" if prefix else name] = {"value": v, "unit": unit}
    return out


def verdict(outcomes: list) -> dict:
    return {
        "correct": all(c.ok for _, out in outcomes for c in out.checks),
        "attempted": sum(out.sink_attempts + len(out.checks) for _, out in outcomes),
        "failed": sum(out.sink_failures + sum(not c.ok for c in out.checks) for _, out in outcomes),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.workload != "all":
        signal.signal(signal.SIGALRM, overrun)
        signal.alarm(RUN_LIMIT_S)

    work = os.path.join(HERE, "_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    noise = {"load_1m_start": os.getloadavg()[0], "host_calib_s": host_calibration()}
    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        names = list(WORKLOADS) if args.workload == "all" else [args.workload]
        modes = [False, True] if args.workload == "all" else [bool(args.trace)]
        runs = {(n, m): run_workload(spark, n, args.seed, args.seconds, m, work, session_s) for n in names for m in modes}
    finally:
        stop_session(spark)
    noise["load_1m_end"] = os.getloadavg()[0]
    noise["steal_share"] = steal_share(ticks0, cpu_ticks())

    context = {"noise": noise, "session_start_s": session_s}
    for (n, m), out in runs.items():
        context[f"{n}{'.traced' if m else ''}"] = {
            **out.context,
            "checks": [{"name": c.name, "ok": c.ok, **c.detail} for c in out.checks],
        }
    if args.workload == "all":
        for n in names:
            plain, traced = runs[(n, False)].metrics, runs[(n, True)].metrics
            context[n]["trace_overhead"] = {k: traced[k] - plain[k] for k in ("cpu_s_per_epoch", "rows_per_cpu_s")}
        print(json.dumps(context))
        for title, key, table, mode in (("end-to-end", "metrics", END_TO_END, False), ("per-layer", "layers", PER_LAYER, True)):
            print(f"# {title}")
            for n in names:
                for name, unit in table.items():
                    print(f"{n:22s} {name:34s} {getattr(runs[(n, mode)], key).get(name, 0.0):14.6g} {unit}")
        final = verdict([(n, out) for (n, _), out in runs.items()])
        final["metrics"] = metrics([(n, runs[(n, False)]) for n in names], END_TO_END, "metrics", True)
    else:
        print(json.dumps(context))
        run = [(names[0], runs[(names[0], bool(args.trace))])]
        final = verdict(run)
        final["metrics"] = metrics(run, *((PER_LAYER, "layers") if args.trace else (END_TO_END, "metrics")), False)
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
