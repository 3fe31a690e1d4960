"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The benchmark generates its inputs from
``--seed``, builds a Spark session through the package's public
``session.get_spark``, runs the workload, checks the outputs, and prints as
its last stdout line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (see README.md in this directory). The line before it is
a ``{"perfbench": ...}`` record of the run's settings, sample counts and
failures. The exit code is non-zero when a check fails or the run cannot
start (for instance when the package is not in the checkout).

Every file the run writes goes under ``.perfbench_work/`` in the checkout
and is removed when the run ends.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload name -> module in this directory with ``run(spark, ctx, seconds, trace)``
WORKLOADS = {
    "query_session": "session_loop",
    "stream_ingest": "stream_ingest",
}
END_TO_END = {
    "setup_s": "s",
    "throughput": "1/s",
    "latency_ms_p50": "ms",
    "latency_ms_p75": "ms",
}
PER_LAYER = {
    "session.start_s": "s",
    "warmup.pass_s": "s",
    "landing.tables": "count",
    "queries.build_ms": "ms",
    "queries.eager_jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "scheduler.jobs": "count",
    "scheduler.stages": "count",
    "scheduler.tasks": "count",
    "executor.run_ms": "ms",
    "executor.cpu_ms": "ms",
    "executor.gc_ms": "ms",
    "executor.shuffle_write_bytes": "bytes",
    "executor.input_bytes": "bytes",
    "transfer.action_ms": "ms",
    "transfer.result_rows": "count",
    "session.persisted_rdds": "count",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "sink.add_batch_ms": "ms",
    "sink.files_written": "count",
    "sink.bytes_per_record": "bytes",
    "stream.batch_ms": "ms",
    "stream.batches": "count",
    "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "stream.backlog_records_max": "count",
    "generator.late_ms_max": "ms",
    "manager.start_ms": "ms",
    "manager.stop_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.rows_updated": "count",
    "state.commit_ms": "ms",
    "state.batch_ms": "ms",
    "state.batches": "count",
    "trace.overhead_pct": "%",
    "trace.latency_ms_p50": "ms",
}
DRIVER_MEMORY = "2g"
# Hard stop: the run must end (and its JVM with it) well inside 180 s.
DEADLINE_S = 170


@dataclass
class Context:
    seed: int
    t0: float
    work: str
    data_dir: str
    warehouse: str


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _isolate(work: str) -> dict[str, str]:
    """Point every place Spark and Python write to at this run's own
    directory, and make the package importable by Python workers."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # every JVM, the spark-submit launcher included: temp files here,
        # no hsperfdata files in the system temp directory
        "JAVA_TOOL_OPTIONS": " ".join(p for p in (
            os.environ.get("JAVA_TOOL_OPTIONS"),
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        ) if p),
    }
    os.environ.update(env)
    return env


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def _stop(spark) -> None:
    """Stop streams and the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def _result(correct: bool, attempted: int, failed: int, metrics: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(metrics.get(k, 0.0)), "unit": u}
            for k, u in units.items()
        },
    })


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "franzoxide_spark", "session.py")):
        print("perfbench: franzoxide_spark is not in this checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = _isolate(work)

    def on_alarm(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    # last resort if the alarm cannot interrupt a blocked call
    killer = threading.Timer(DEADLINE_S + 5, os._exit, args=(3,))
    killer.daemon = True
    killer.start()

    spark = None
    try:
        import datagen

        ctx = Context(args.seed, T0, work, os.path.join(work, "data"),
                      os.path.join(work, "warehouse"))
        rows = datagen.generate(ctx.data_dir, args.seed)

        from franzoxide_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            driver_memory=DRIVER_MEMORY,
            extra_conf=_spark_conf(work),
        )
        start_s = time.perf_counter() - t
        workload = importlib.import_module(WORKLOADS[args.workload])
        out = workload.run(spark, ctx, args.seconds, bool(args.trace))
    finally:
        if spark is not None:
            _stop(spark)
        signal.alarm(0)
        killer.cancel()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is using it, or it is already gone

    correct = out["failed"] == 0
    print(json.dumps({"perfbench": {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": {**env, "driver_memory": DRIVER_MEMORY,
                     **_spark_conf(work)},
        "rows": rows,
        "samples": out["samples"],
        "info": out["info"],
        "end_to_end": out["e2e"],
        "failures": out["failures"][:20],
    }}))
    if args.trace:
        layers = {"session.start_s": start_s,
                  "trace.latency_ms_p50": out["e2e"]["latency_ms_p50"],
                  **out["layers"]}
        line = _result(correct, out["attempted"], out["failed"], layers, PER_LAYER)
    else:
        line = _result(correct, out["attempted"], out["failed"], out["e2e"], END_TO_END)
    print(line)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
