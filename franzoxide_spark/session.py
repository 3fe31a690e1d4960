"""SparkSession bootstrap.

Single place that encodes the engine's execution-model defaults:

- AQE on (runtime re-planning, partition coalescing, skew-join handling) —
  at 100 TB this is what adapts shuffle partition counts per stage.
- ``spark.sql.shuffle.partitions`` sized to cores for local runs; on a real
  cluster AQE coalescing makes the static value a ceiling, not a target.
- UTC session timezone so timestamp semantics match the DuckDB oracle and
  are reproducible across clusters.
- Arrow enabled: every pandas-UDF boundary is Arrow-batched.
- Local masters ship the package to the Python workers: the package's
  parent directory goes on the workers' ``PYTHONPATH``, so UDF queries run
  from any working directory. On a cluster the package must be installed
  on the nodes.
- Local masters run the Python workers under ``worker_daemon``. Every
  Python task calls ``importlib.invalidate_caches()``, and before CPython
  3.13 (gh-103200) that re-parses pyspark.zip, the py4j zip and the Spark
  jar: 165-275 ms per call in a worker task on a 4-core host. The daemon
  re-reads an archive only when its stat stamp has changed, and on Python
  3.13+ it leaves the standard (lazy) invalidation alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")
PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "franzoxide_spark",
    master: str | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local mode is one JVM; on a cluster only ``master`` changes — all query
    code is partition-parallel and never collects to the driver except
    final small results.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", DEFAULT_SHUFFLE_PARTITIONS)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # 64 MB: generous enough that every dim/vocab/sketch table in the
        # suite goes broadcast. Caveat measured at 30x replica scale
        # (examples/bucketed_join_demo.py): a corpus-sized relation whose
        # ESTIMATE slips under this gets a multi-million-row broadcast
        # hash build (48 s vs 11 s shuffled) — jobs joining two
        # corpus-sized sides should pass autoBroadcastJoinThreshold=-1
        # via extra_conf, as that demo does.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Repeated map keys keep the last occurrence — the reference's
        # HashMap-insert header semantics (kafka.rs:117).
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # Older events.parquet fixtures stored TIMESTAMP(NANOS); Spark has
        # no nanosecond timestamp type, so read those as a long and convert
        # in tables.py (current fixtures store TIMESTAMP(MICROS), for which
        # this conf is a harmless no-op).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if master.startswith("local"):
        builder = (
            builder.config("spark.executorEnv.PYTHONPATH", PACKAGE_PARENT)
            .config("spark.python.daemon.module", "franzoxide_spark.worker_daemon")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
