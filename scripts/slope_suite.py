"""Scale slopes: each query's seconds on R-times replicas over its seconds
on the base fixtures.

sf0.1 is bound by the scheduler floor (8 and 32 cores measured the same
suite time in round 17), so optimization targets are chosen by slope,
not by sf0.1 seconds. Each query is timed at both scales through the
noop sink, which computes every column of every row without a driver
transfer (q79-class outputs overflow toPandas at 10x); min of N runs
on a warm session, with a session reset after every run.

Replicas are built once into .scale/x<R> by measure.build_scaled (every
table, disjoint key populations per replica; see its REPLICA_LAW) and
reused while that directory exists.

Usage: python scripts/slope_suite.py [--out FILE] [qname ...]
  Default: every registered query; name a family's queries to time only
  those. Env: SPARK_GRAFT_SCALE_R (10), SPARK_GRAFT_SF_DIR
  (/root/testdata/sf0.1), SPARK_GRAFT_BENCH_RUNS (2).

Prints one JSON document, queries sorted by descending ratio; a ratio
well above R marks a super-linear plan. Results are recorded in
OPTIMIZATION_r18.md and BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)

from franzoxide_spark import measure  # noqa: E402
from franzoxide_spark import queries as q  # noqa: E402
from franzoxide_spark.session import get_spark  # noqa: E402


def run(spark, src: str, scaled_dir: str, r: int, runs: int,
        names: list[str] | None = None) -> dict:
    """Time ``names`` (default: every query) on ``src`` and on its
    ``r``-times replica in ``scaled_dir`` (built when missing). A query
    that fails is recorded under ``errors`` and the sweep goes on."""
    q.load_all()
    loop = names or sorted(q.QUERIES)
    unknown = [n for n in loop if n not in q.QUERIES]
    if unknown:
        raise ValueError(f"unknown queries: {unknown}")
    if not os.path.isdir(scaled_dir):
        measure.build_scaled(spark, src, scaled_dir, r)

    def best(name: str, sf_dir: str) -> float:
        return min(measure.timed_runs(
            spark,
            lambda: q.QUERIES[name](spark, sf_dir)
            .write.format("noop").mode("overwrite").save(),
            runs,
        ))

    result: dict = {"replication": r, "base": src, "runs": runs,
                    "queries": {}, "errors": measure.warm(spark, src)}
    for name in loop:
        spark.sparkContext.setJobDescription(f"slope:{name}")
        try:
            base, scaled = best(name, src), best(name, scaled_dir)
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            result["errors"][name] = f"{type(e).__name__}: {e}"[:200]
            continue
        ratio = round(scaled / max(base, 1e-9), 2)
        result["queries"][name] = {
            "base_s": base, "scaled_s": scaled, "ratio": ratio,
        }
        print(f"{name}: {base:.3f} -> {scaled:.3f}  ({ratio:.2f}x)",
              file=sys.stderr, flush=True)
    result["queries"] = dict(
        sorted(result["queries"].items(), key=lambda kv: -kv[1]["ratio"])
    )
    return result


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    r = int(os.environ.get("SPARK_GRAFT_SCALE_R", "10"))
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    spark = get_spark(app_name="slope_suite")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        result = run(spark, src, os.path.join(_HERE, ".scale", f"x{r}"),
                     r, runs, args.names)
    finally:
        spark.stop()
    doc = json.dumps(result, indent=1)
    if args.out:
        with open(args.out, "w") as f:
            f.write(doc)
    print(doc)


if __name__ == "__main__":
    main()
