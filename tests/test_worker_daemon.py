"""The Python worker daemon and the package shipping of local sessions.

- ``worker_daemon.invalidate_caches`` re-reads a zip archive only when the
  archive changed, and still finds modules added by a rewrite.
- The session's workers run under that daemon: a second
  ``importlib.invalidate_caches()`` in a task reads no archive.
- UDF queries run from a working directory outside the repo, with no
  ``PYTHONPATH``: ``get_spark`` puts the package on the workers' path.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd

from franzoxide_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)  # a new file, as a rebuilt archive is


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a"])
    importer = zipimport.zipimporter(archive)
    assert _load(importer, "a").NAME == "a"

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    worker_daemon.invalidate_caches(importer)  # no stamp yet: reads
    first = len(reads)
    worker_daemon.invalidate_caches(importer)
    worker_daemon.invalidate_caches(importer)
    assert first == 1
    assert len(reads) == first, "an unchanged archive was re-read"
    assert importer.find_spec("b") is None

    _write_zip(archive, ["a", "b"])
    worker_daemon.invalidate_caches(importer)
    assert len(reads) == first + 1, "a rewritten archive was not re-read"
    assert _load(importer, "b").NAME == "b"


def test_session_workers_skip_unchanged_archives(spark):
    """Fails when the workers run the stock ``pyspark.daemon`` on
    Python < 3.13: every invalidation re-reads every zip archive."""

    def probe(batches):
        import importlib
        import sys
        import zipimport

        reads = []
        read_directory = zipimport._read_directory

        def counting(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            first = len(reads)
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame(
            {"zips": [zips], "first": [first], "second": [len(reads) - first]}
        )

    n = spark.sparkContext.defaultParallelism
    rows = (
        spark.range(n, numPartitions=n)
        .mapInPandas(probe, "zips long, first long, second long")
        .collect()
    )
    assert len(rows) == n
    for r in rows:
        assert r.zips > 0, "no zip importers in the worker: the probe proves nothing"
        assert r.second == 0, f"a repeated invalidation re-read {r.second} archives"


def test_udf_queries_run_outside_the_repo(spark, sf_dir, tmp_path):
    """q75 and q151 run pandas UDFs. Run from a directory outside the repo
    with no ``PYTHONPATH``, their workers can only import the package if
    the session ships it."""
    from franzoxide_spark.queries import QUERIES, load_all

    load_all()
    names = ["q75_multimodal_frames", "q151_mg_sketch_rollup"]
    expected = {n: QUERIES[n](spark, sf_dir).count() for n in names}

    script = (
        "import json, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from franzoxide_spark.queries import QUERIES, load_all\n"
        "from franzoxide_spark.session import get_spark\n"
        "load_all()\n"
        "spark = get_spark(app_name='outside_repo', driver_memory='1g')\n"
        f"print(json.dumps({{n: QUERIES[n](spark, {sf_dir!r}).count() "
        f"for n in {names!r}}}))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == expected
    assert all(v > 0 for v in got.values())
