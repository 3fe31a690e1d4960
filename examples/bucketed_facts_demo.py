"""Measured evidence for the co-bucketed fact-fact landing (r16 verdict
optional item #4): orders⋈lineitem on the order key at replica scales
where BROADCAST NO LONGER APPLIES.

At sf0.1 the relational contract queries broadcast their small side, so
bucketing buys no suite time — the claim that needs a number is the
100 TB regime where both sides are fact-sized and the join pays a full
shuffle+sort of each. This script builds R× replicas of orders/lineitem
with measure.build_scaled (TPC-H's own growth law: disjoint orderkey
populations per replica), lands both sides ONCE as bucketed+in-bucket-
sorted catalog tables (operators/bucketing.py — the capability
plan-pinned by tests/test_plans.py::test_bucketed_join_has_no_exchange),
and times the canonical fact-fact workload

    lineitem ⋈ orders ON orderkey → revenue per order-priority

with auto-broadcast DISABLED on BOTH arms (modelling both sides too big
to broadcast) through measure.compare_arms: result identity first, then
interleaved runs with a session reset after each. The landing build time
is reported separately — it is the write-once cost the
land-once/join-many trade amortizes (same cost model as the
shingle/events/posting landings).

Usage: python examples/bucketed_facts_demo.py
  [env: SPARK_GRAFT_FACTS_R ("10,30"), SPARK_GRAFT_BENCH_RUNS (3),
   SPARK_GRAFT_SF_DIR (/root/testdata/sf0.1)]
Prints one JSON document; results are recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from franzoxide_spark.measure import build_scaled, compare_arms  # noqa: E402
from franzoxide_spark.operators.bucketing import write_bucketed  # noqa: E402
from franzoxide_spark.session import get_spark  # noqa: E402

N_BUCKETS = 64


def workload(li, o):
    """Fact-fact join + priority rollup; the join dominates, the rollup
    keeps the result tiny so timing measures the join, not the sink."""
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    scales = [
        int(x)
        for x in os.environ.get("SPARK_GRAFT_FACTS_R", "10,30").split(",")
    ]
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    work = tempfile.mkdtemp(prefix="bucketed_facts_")
    spark = get_spark(
        app_name="bucketed_facts_demo",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the regime under test: neither fact side broadcasts
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"n_buckets": N_BUCKETS, "runs": runs, "scales": {}}
    try:
        for r in scales:
            sdir = os.path.join(work, f"x{r}")
            t0 = time.perf_counter()
            build_scaled(spark, sf_dir, sdir, r, tables=("lineitem", "orders"))
            build_s = round(time.perf_counter() - t0, 2)

            li = spark.read.parquet(
                os.path.join(sdir, "lineitem.parquet")
            ).select("l_orderkey", "l_extendedprice", "l_discount")
            o = spark.read.parquet(
                os.path.join(sdir, "orders.parquet")
            ).select("o_orderkey", "o_orderpriority")

            t0 = time.perf_counter()
            write_bucketed(
                li, f"bf_lineitem_x{r}", "l_orderkey", N_BUCKETS,
                sort_by="l_orderkey",
            )
            write_bucketed(
                o, f"bf_orders_x{r}", "o_orderkey", N_BUCKETS,
                sort_by="o_orderkey",
            )
            land_s = round(time.perf_counter() - t0, 2)

            arms = compare_arms(spark, {
                "plain": lambda: workload(li, o),
                "bucketed": lambda: workload(
                    spark.table(f"bf_lineitem_x{r}"),
                    spark.table(f"bf_orders_x{r}"),
                ),
            }, runs)
            # the join itself is exchange-free on the bucketed arm: the
            # ONLY exchange left is the 5-row priority rollup's
            out["scales"][f"x{r}"] = {
                "build_s": build_s,
                "land_s": land_s,
                "bucketed_join_exchange_free":
                    arms["bucketed"]["exchanges"] <= 1,
                **arms,
            }
            print(json.dumps({f"x{r}": out["scales"][f"x{r}"]}), flush=True)
            spark.sql(f"DROP TABLE IF EXISTS bf_lineitem_x{r}")
            spark.sql(f"DROP TABLE IF EXISTS bf_orders_x{r}")
            shutil.rmtree(sdir, ignore_errors=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
