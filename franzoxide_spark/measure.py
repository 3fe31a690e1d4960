"""Measurement primitives shared by bench.py, the scripts and the demos.

One copy of each idea a timing harness needs:

- :func:`reset` returns a session to the clean state every timed run
  starts from;
- :func:`timed_runs` times a zero-argument callable N times, resetting
  after every run;
- :func:`warm` is the table-schema and q02 warm-up before a timed pass;
- :func:`compare_arms` checks that two or more plans give the same rows,
  then times them interleaved;
- :func:`build_scaled` writes R-times replicas of the fixture tables.

Every setting is an argument; nothing here reads the environment.
"""

from __future__ import annotations

import os
import re
import shutil
import time
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from franzoxide_spark import queries as q
from franzoxide_spark.tables import TABLES, table


def reset(spark: SparkSession) -> None:
    """Clear the SQL cache and unpersist every persisted RDD, so the next
    run starts from the same clean session the DuckDB side gets per
    statement. Queries that ``cache()`` internally (q33's and q34's
    signatures) or persist (the fanned relations, q139's iterations)
    would otherwise serve a later run from the blocks an earlier one left.
    A failure here is swallowed: cleanup must never fail a measurement."""
    try:
        spark.catalog.clearCache()
        for rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).values():
            rdd.unpersist(False)
    except Exception:  # noqa: BLE001
        pass


def timed_runs(
    spark: SparkSession, run: Callable[[], object], runs: int
) -> Iterator[float]:
    """Yield the wall seconds (4 dp) of ``runs`` calls of ``run``, with a
    :func:`reset` after every call, failed ones included. ``run`` builds
    and materializes the query; the materialization it picks (toPandas,
    a noop write, count) is part of what is timed.

    A generator, so a caller that must keep the samples taken before a
    failing run has them: the exception reaches it after the earlier
    samples were yielded."""
    for _ in range(runs):
        t0 = time.perf_counter()
        try:
            run()
            elapsed = time.perf_counter() - t0
        finally:
            reset(spark)
        yield round(elapsed, 4)


def warm(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Warm the catalog (file listings and parquet footers of every table)
    and the JVM/codegen paths with one q02 run, then :func:`reset`.
    Returns ``{"table:<name>" | "warmup:<query>": error}`` for what
    failed, so one broken table does not stop the queries that never
    read it."""
    q.load_all()
    errors: dict[str, str] = {}
    for t in TABLES:
        try:
            table(spark, sf_dir, t).schema
        except Exception as e:  # noqa: BLE001
            errors[f"table:{t}"] = f"{type(e).__name__}: {e}"[:300]
    name = "q02_agg_pricing_summary"
    try:
        q.QUERIES[name](spark, sf_dir).toPandas()
    except Exception as e:  # noqa: BLE001
        errors[f"warmup:{name}"] = f"{type(e).__name__}: {e}"[:300]
    reset(spark)
    return errors


def _exchanges(df: DataFrame) -> int:
    """Shuffle ``Exchange`` nodes in ``df``'s executed plan (with AQE on,
    the plan as first planned); broadcast and reused exchanges are not
    counted."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\bExchange\b", plan))


def compare_arms(
    spark: SparkSession,
    arms: dict[str, Callable[[], DataFrame]],
    runs: int,
) -> dict[str, dict]:
    """Time two or more ways of computing one relation against each other.

    Each arm is a zero-argument callable that builds its DataFrame. The
    arms must give the same multiset of rows (``exceptAll`` both ways
    against the first arm); otherwise this raises ``ValueError`` before
    any timing. The arms then run interleaved, forward in even rounds and
    reversed in odd ones, so host drift and run order hit every arm
    alike; each run is a build plus a noop write, with a :func:`reset`
    after it. Returns ``{arm: {"samples": [...], "min": s,
    "exchanges": n}}``."""
    frames = {label: build() for label, build in arms.items()}
    (first, ref), *rest = frames.items()
    for label, df in rest:
        if not (ref.exceptAll(df).isEmpty() and df.exceptAll(ref).isEmpty()):
            raise ValueError(
                f"arms {first!r} and {label!r} give different rows; "
                "not timing them"
            )
    out = {label: {"samples": [], "exchanges": _exchanges(df)}
           for label, df in frames.items()}
    reset(spark)
    order = list(arms)
    for i in range(runs):
        for label in order if i % 2 == 0 else order[::-1]:
            out[label]["samples"] += timed_runs(
                spark,
                lambda: arms[label]().write.format("noop")
                .mode("overwrite").save(),
                1,
            )
    for arm in out.values():
        arm["min"] = min(arm["samples"])
    return out


def _shift(k: int) -> Callable:
    return lambda c: c + F.col("__rep") * k


def _suffix_tokens(c):
    return F.array_join(
        F.transform(
            F.split(c, " "),
            lambda t: F.concat(t, F.lit("_"), F.col("__rep").cast("string")),
        ),
        " ",
    )


# The replica growth law: per table, how replica ``__rep`` rewrites a
# column (unlisted columns are copied). Replicas are disjoint key
# populations, so each replica's join, group and near-dup structure is
# exactly the source's and growth adds keys, never join fan-out or
# bigger clusters — how a corpus, an event stream or TPC-H's own SF
# grows. Documents get a per-replica token suffix, so no shingle or gram
# matches across replicas; embeddings shift ``label`` (q36's blocking
# key) so replicas are distinct blocks; customer's shift equals events'
# user shift so q108's events x customer key overlap replicates too.
# nation/region stay fixed as in TPC-H, and c_nationkey/s_nationkey are
# not shifted, so dimension broadcasts and q147's nation residual keep
# their real selectivity.
REPLICA_LAW: dict[str, dict[str, Callable]] = {
    "documents": {"doc_id": _shift(1_000_000), "text": _suffix_tokens},
    "embeddings": {"vec_id": _shift(1_000_000), "label": _shift(100)},
    "events": {"event_id": _shift(100_000_000), "user_id": _shift(1_000_000)},
    "lineitem": {
        "l_orderkey": _shift(100_000_000),
        "l_partkey": _shift(10_000_000),
        "l_suppkey": _shift(1_000_000),
    },
    "orders": {"o_orderkey": _shift(100_000_000), "o_custkey": _shift(1_000_000)},
    "customer": {"c_custkey": _shift(1_000_000)},
    "supplier": {"s_suppkey": _shift(1_000_000)},
    "part": {"p_partkey": _shift(10_000_000)},
    "nation": {},
    "region": {},
}


def build_scaled(
    spark: SparkSession,
    src: str,
    out: str,
    r: int,
    tables: Iterable[str] | None = None,
) -> None:
    """Write ``r`` replicas of the fixture tables under ``src`` to ``out``
    (replaced if it exists) by :data:`REPLICA_LAW`; ``tables`` limits the
    build to a subset. Each rewritten column keeps its source type."""
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    reps = spark.range(r).withColumnRenamed("id", "__rep")
    for name in tables or REPLICA_LAW:
        law = REPLICA_LAW[name]
        df = table(spark, src, name)
        if law:
            df = df.crossJoin(reps).select(*[
                law[f.name](F.col(f.name)).cast(f.dataType).alias(f.name)
                if f.name in law else f.name
                for f in df.schema.fields
            ])
        df.write.parquet(os.path.join(out, f"{name}.parquet"))
