"""Measured evidence for the q119 scale claim: bucketing co-locates the
shingle self-join and removes its exchange+sort (the n·log n term that
put q119 ~1.2x over linear at 30x, BASELINE.md round-9 table).

Lands the (doc_id, n, g) shingle-hash relation of a scaled documents
fixture once with dedup.land_shingle_relation (bucketed and in-bucket
sorted on g), copies it to plain parquet, then times the candidate-pair
aggregation (the q119 core: self-join on g, count per pair) over each.
With both sides bucketed and sorted on the join key, the sort-merge join
needs NO exchange (visible in the plan), so the supra-linear term
disappears; the plain path pays a full shuffle+sort of the exploded
relation on every run.

This is the write-once/join-many trade a 100 TB deployment makes: the
dedup corpus is landed bucketed by shingle hash, and every downstream
containment/jaccard/minhash-verify pass joins exchange-free.

Usage: python examples/bucketed_join_demo.py
  [env: SPARK_GRAFT_SCALE_DIR (default .scale/x30 — build it first with
  SPARK_GRAFT_SCALE_R=30 python scripts/slope_suite.py), SPARK_GRAFT_BENCH_RUNS]
Prints one JSON document; results are recorded in BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from franzoxide_spark.measure import compare_arms  # noqa: E402
from franzoxide_spark.operators.dedup import land_shingle_relation  # noqa: E402
from franzoxide_spark.session import get_spark  # noqa: E402
from franzoxide_spark.tables import table  # noqa: E402

N_BUCKETS = 64


def candidate_pairs(ex):
    """The q119 core: pairs sharing >= 1 shingle, counted per pair."""
    a, b = ex.alias("a"), ex.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id"), F.col("b.doc_id"))
        .agg(F.count(F.lit(1)).alias("i"))
    )


def main() -> None:
    scale_dir = os.environ.get(
        "SPARK_GRAFT_SCALE_DIR",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), ".scale", "x30"),
    )
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    # auto-broadcast OFF for this demo: the engine session's 64 MB
    # threshold would otherwise broadcast the ENTIRE multi-million-row
    # shingle relation (measured: a 7.8M-row broadcast hash build, ~48 s
    # and memory-hostile — exactly what a 100 TB corpus cannot do). The
    # comparison of record is shuffled SMJ vs bucketed co-located SMJ.
    spark = get_spark(
        app_name="bucketed_join_demo",
        extra_conf={"spark.sql.autoBroadcastJoinThreshold": "-1"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = table(spark, scale_dir, "documents")
    spark.sql("DROP TABLE IF EXISTS demo_bucketed")
    bucketed = land_shingle_relation(
        docs, "text", "doc_id", "demo_bucketed", n_buckets=N_BUCKETS
    )
    plain_path = os.path.join(os.path.dirname(scale_dir), "demo_plain")
    bucketed.write.mode("overwrite").parquet(plain_path)
    plain = spark.read.parquet(plain_path)

    arms = compare_arms(
        spark,
        {"plain": lambda: candidate_pairs(plain),
         "bucketed": lambda: candidate_pairs(bucketed)},
        runs,
    )
    print(json.dumps({"n_shingle_rows": plain.count(),
                      "n_buckets": N_BUCKETS, "scale_dir": scale_dir,
                      "arms": arms}, indent=1))
    spark.sql("DROP TABLE IF EXISTS demo_bucketed")
    shutil.rmtree(plain_path, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
