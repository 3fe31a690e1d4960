"""Time named queries in isolation with bench.py's protocol.

Usage: python scripts/isolate_bench.py [--runs N] [--explain] qname [qname ...]

Same protocol as bench.py (warm session, toPandas materialization, a
session reset after every run, min of N) on the named queries only, so
the load window of a 176-query suite is out of the picture. Next to the
full-run min it reports the split of a run into plan build (Python
DataFrame construction, including eager jobs such as landing writes) and
execution, and the Spark jobs the last run started. With --explain it
also prints each query's formatted plan. Environment:
SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from franzoxide_spark import measure  # noqa: E402
from franzoxide_spark import queries as q  # noqa: E402
from franzoxide_spark.session import get_spark  # noqa: E402


def run(spark, sf_dir: str, names: list[str], runs: int = 5) -> dict:
    """``{query: {"min", "build", "exec", "jobs", "samples"}}``: min full
    run, min build, min execution (seconds), and the job count of the
    last run."""
    errors = measure.warm(spark, sf_dir)
    if errors:
        raise RuntimeError(f"warm-up failed: {errors}")
    tracker = spark.sparkContext.statusTracker()
    out: dict[str, dict] = {}
    for name in names:
        fn = q.QUERIES[name]
        build: list[float] = []
        execute: list[float] = []
        jobs = 0

        def one() -> None:
            nonlocal jobs
            before = set(tracker.getJobIdsForGroup(None))
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            df.toPandas()
            build.append(round(t1 - t0, 4))
            execute.append(round(time.perf_counter() - t1, 4))
            jobs = len(set(tracker.getJobIdsForGroup(None)) - before)

        spark.sparkContext.setJobDescription(name)
        samples = list(measure.timed_runs(spark, one, runs))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "build": min(build),
                     "exec": min(execute), "jobs": jobs, "samples": samples}
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="isolate_bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out = run(spark, sf_dir, args.names, args.runs)
        if args.explain:
            for name in args.names:
                print(f"===== {name} =====")
                q.QUERIES[name](spark, sf_dir).explain("formatted")
        print(json.dumps(out, indent=1))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
