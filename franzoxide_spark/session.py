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
- Local masters put a small java.nio local FileSystem (``jvm/``) on the
  JVM class path for ``file:`` paths. Without libhadoop, Hadoop's
  ``RawLocalFileSystem`` starts a ``chmod`` process for every file it
  creates and every directory it makes, and a ``readlink`` process for
  every FileContext rename. One checkpoint-file commit (WAL, commit log,
  sink metadata, state-store delta) took 45-75 ms that way and takes about
  3 ms in-process. File contents, modes and ``.crc`` checksums are the same.
  The jar is built once with ``javac``; without one, the session starts on
  the stock FileSystem.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import zipfile

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
_SHIM_FS_CONF = {
    "spark.hadoop.fs.file.impl": "franzoxide.hadoop.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "franzoxide.hadoop.NioLocalFs",
}
_CLASSPATH_KEYS = ("spark.driver.extraClassPath", "spark.executor.extraClassPath")

log = logging.getLogger(__name__)


def _shim_jar(build_dir: str = os.path.join(JVM_DIR, "build")) -> str | None:
    """The local-FileSystem shim's jar, compiled from ``jvm/*.java`` against
    Spark's Hadoop jar on first use and cached under a hash of both. None,
    with one warning, when it cannot be built."""
    javac = shutil.which("javac")
    hadoop = sorted(glob.glob(
        os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")))
    if javac is None or not hadoop:
        log.warning("no javac or no Hadoop jar: local sessions use Hadoop's "
                    "stock local FileSystem")
        return None
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    digest = hashlib.sha256(os.path.basename(hadoop[-1]).encode())
    for src in sources:
        with open(src, "rb") as f:
            digest.update(f.read())
    jar = os.path.join(build_dir, f"{digest.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(build_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=build_dir)
    classes, tmp_jar = os.path.join(tmp, "classes"), os.path.join(tmp, "shim.jar")
    try:
        subprocess.run(
            [javac, "--release", "17", "-nowarn", "-d", classes,
             "-cp", hadoop[-1], *sources],
            check=True, capture_output=True, text=True)
        with zipfile.ZipFile(tmp_jar, "w") as zf:
            for cls in sorted(glob.glob(os.path.join(classes, "**", "*.class"),
                                        recursive=True)):
                zf.write(cls, os.path.relpath(cls, classes))
        os.replace(tmp_jar, jar)  # atomic: concurrent builders agree
    except (OSError, subprocess.CalledProcessError) as e:
        log.warning("could not build the local FileSystem shim, local "
                    "sessions use Hadoop's stock one: %s",
                    getattr(e, "stderr", None) or e)
        return None
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return jar


def _session_conf(
    master: str | None,
    driver_memory: str | None,
    extra_conf: dict[str, str] | None,
) -> dict[str, str]:
    """Every Spark setting ``get_spark`` applies, caller's ``extra_conf``
    last (a caller's extra class path is kept, with the shim jar appended)."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    conf = {
        "spark.master": master,
        "spark.sql.shuffle.partitions": cpus,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": (
            driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")),
        "spark.ui.enabled": "false",
        # 64 MB: generous enough that every dim/vocab/sketch table in the
        # suite goes broadcast. Caveat measured at 30x replica scale
        # (examples/bucketed_join_demo.py): a corpus-sized relation whose
        # ESTIMATE slips under this gets a multi-million-row broadcast
        # hash build (48 s vs 11 s shuffled) — jobs joining two
        # corpus-sized sides should pass autoBroadcastJoinThreshold=-1
        # via extra_conf, as that demo does.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Repeated map keys keep the last occurrence — the reference's
        # HashMap-insert header semantics (kafka.rs:117).
        "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
        # Older events.parquet fixtures stored TIMESTAMP(NANOS); Spark has
        # no nanosecond timestamp type, so read those as a long and convert
        # in tables.py (current fixtures store TIMESTAMP(MICROS), for which
        # this conf is a harmless no-op).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    extra = dict(extra_conf or {})
    if master.startswith("local"):
        conf["spark.executorEnv.PYTHONPATH"] = PACKAGE_PARENT
        conf["spark.python.daemon.module"] = "franzoxide_spark.worker_daemon"
        jar = _shim_jar()
        if jar is not None:
            conf.update(_SHIM_FS_CONF)
            for key in _CLASSPATH_KEYS:
                conf[key] = os.pathsep.join(p for p in (extra.pop(key, None), jar) if p)
    conf.update(extra)
    return conf


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
    conf = _session_conf(master, driver_memory, extra_conf)
    if SparkContext._gateway is not None:
        # a running JVM keeps the class path it started with
        for key in _SHIM_FS_CONF:
            conf.pop(key, None)
    builder = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
