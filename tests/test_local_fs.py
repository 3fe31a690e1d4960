"""The java.nio local FileSystem of local sessions, and the session conf.

- ``NioRawLocalFileSystem`` gives the same modes, link statuses and errors
  as Hadoop's ``RawLocalFileSystem`` on the same directory; the checksummed
  wrappers still write ``.crc`` sidecars, and the checkpoint manager's
  create-if-absent guard still holds.
- The tests' session runs on the shim: its ``file`` FileSystem and
  AbstractFileSystem are the shim's classes.
- ``session._session_conf`` puts the shim on local masters only, keeps a
  caller's class path, falls back to the stock FileSystem without
  ``javac``, and reads ``SPARK_GRAFT_CPUS`` when it is called.
"""

from __future__ import annotations

import logging
import os
import shutil
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from franzoxide_spark import session

SHIM_KEYS = (
    "spark.driver.extraClassPath",
    "spark.executor.extraClassPath",
    "spark.hadoop.fs.file.impl",
    "spark.hadoop.fs.AbstractFileSystem.file.impl",
)
CFM = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"


def _jclass(spark, name):
    obj = spark._jvm
    for part in name.split("."):
        obj = getattr(obj, part)
    return obj


def _path(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path(str(p))


def _raw_fss(spark):
    """A stock and a shim raw local FileSystem, both initialised on file:///."""
    conf = spark._jsc.hadoopConfiguration()
    uri = spark._jvm.java.net.URI.create("file:///")
    fss = {}
    for name, cls in (("stock", "org.apache.hadoop.fs.RawLocalFileSystem"),
                      ("shim", "franzoxide.hadoop.NioRawLocalFileSystem")):
        fs = _jclass(spark, cls)()
        fs.initialize(uri, conf)
        fss[name] = fs
    return fss


def _confs(spark):
    """The session's Hadoop conf, and a copy on Hadoop's stock local classes."""
    conf = spark._jsc.hadoopConfiguration()
    stock = spark._jvm.org.apache.hadoop.conf.Configuration(conf)
    stock.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
    stock.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    return {"stock": stock, "shim": conf}


def _java_error(call):
    try:
        call()
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()
    return None


def test_session_runs_on_the_shim(spark):
    """Fails on Hadoop's stock local FileSystem."""
    conf = spark._jsc.hadoopConfiguration()
    uri = spark._jvm.java.net.URI.create("file:///")
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    afs = spark._jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf).getDefaultFileSystem()
    assert fs.getClass().getName() == "franzoxide.hadoop.NioLocalFileSystem"
    assert afs.getClass().getName() == "franzoxide.hadoop.NioLocalFs"


@pytest.mark.parametrize("mode", ["644", "755", "700", "600", "1755"])
def test_modes_match_stock(spark, tmp_path, mode):
    """``1755`` has the sticky bit, which the shim leaves to the parent."""
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    modes = {}
    for name, fs in _raw_fss(spark).items():
        d = tmp_path / name
        fs.mkdirs(_path(spark, d / "made"), perm)
        fs.create(_path(spark, d / "created"), True).close()
        fs.create(_path(spark, d / "chmodded"), True).close()
        fs.setPermission(_path(spark, d / "chmodded"), perm)
        modes[name] = {f: oct(os.stat(d / f).st_mode) for f in ("made", "created", "chmodded")}
    assert modes["shim"] == modes["stock"]
    assert int(modes["shim"]["chmodded"], 8) & 0o7777 == int(mode, 8)


def test_link_status_matches_stock(spark, tmp_path):
    (tmp_path / "file").write_text("abc")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "link")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    fss = _raw_fss(spark)

    def status(fs, p):
        try:
            st = fs.getFileLinkStatus(_path(spark, p))
        except Py4JJavaError as e:
            return e.java_exception.getClass().getName()
        return (st.isFile(), st.isDirectory(), st.isSymlink(), st.getLen(),
                st.getPath().toString(), st.getModificationTime(),
                st.getPermission().toString(),
                st.getSymlink().toString() if st.isSymlink() else None)

    cases = ["file", "dir", "link", "dangling", "missing"]
    paths = [tmp_path / c for c in cases] + [f"file:{tmp_path}/link"]
    got = {name: [status(fs, p) for p in paths] for name, fs in fss.items()}
    assert got["shim"] == got["stock"]
    by_case = dict(zip(cases, got["shim"]))
    assert by_case["link"][2] and by_case["dangling"][2]
    assert not by_case["file"][2] and by_case["dir"][1]
    assert by_case["missing"] == "java.io.FileNotFoundException"


def test_checksum_sidecars_are_kept(spark, tmp_path):
    spark.range(3).repartition(2).write.parquet(str(tmp_path / "data"))
    parts = [p.name for p in (tmp_path / "data").iterdir() if p.name.startswith("part-")]
    assert parts
    for part in parts:
        assert (tmp_path / "data" / f".{part}.crc").is_file()

    for name, conf in _confs(spark).items():
        fs = spark._jvm.org.apache.hadoop.fs.FileSystem.newInstance(
            spark._jvm.java.net.URI.create("file:///"), conf)
        out = fs.create(_path(spark, tmp_path / name / "fs" / "f"), True)
        out.write(bytearray(b"x" * 1000))
        out.close()
        fs.close()
        base = _path(spark, tmp_path / name / "ckpt")
        fm = _jclass(spark, CFM)(base, conf)
        fm.mkdirs(base)
        out = fm.createAtomic(_path(spark, tmp_path / name / "ckpt" / "0"), False)
        out.write(bytearray(b"v1\n{}"))
        out.close()
    for sub in ("fs/.f.crc", "ckpt/.0.crc"):
        assert (tmp_path / "shim" / sub).read_bytes() == (tmp_path / "stock" / sub).read_bytes()
    assert sorted(os.listdir(tmp_path / "shim" / "ckpt")) == sorted(os.listdir(tmp_path / "stock" / "ckpt"))


def test_checkpoint_create_if_absent_still_fails_on_a_second_writer(spark, tmp_path):
    for name, conf in _confs(spark).items():
        base = _path(spark, tmp_path / name)
        fm = _jclass(spark, CFM)(base, conf)
        fm.mkdirs(base)
        target = _path(spark, tmp_path / name / "0")
        errors = []
        for text in (b"first", b"second"):
            out = fm.createAtomic(target, False)
            out.write(bytearray(text))
            errors.append(_java_error(out.close))
        assert errors == [None, "org.apache.hadoop.fs.FileAlreadyExistsException"], name
        assert (tmp_path / name / "0").read_bytes() == b"first"


def test_session_conf_local_masters_only():
    for master in ("spark://host:7077", "yarn", "k8s://https://host:6443"):
        conf = session._session_conf(master, None, None)
        assert conf["spark.master"] == master
        assert not set(SHIM_KEYS) & set(conf), master
        assert "spark.python.daemon.module" not in conf


def test_session_conf_appends_the_jar_to_a_callers_class_path():
    conf = session._session_conf("local[2]", None, {"spark.driver.extraClassPath": "/opt/x.jar"})
    jar = conf["spark.executor.extraClassPath"]
    assert jar.endswith(".jar") and os.path.isfile(jar)
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join(["/opt/x.jar", jar])
    assert conf["spark.hadoop.fs.file.impl"] == "franzoxide.hadoop.NioLocalFileSystem"
    assert conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] == "franzoxide.hadoop.NioLocalFs"


def test_session_conf_local_cluster_sets_the_executor_class_path():
    conf = session._session_conf("local-cluster[2,1,1024]", None, None)
    assert set(SHIM_KEYS) <= set(conf)
    assert conf["spark.executor.extraClassPath"] == conf["spark.driver.extraClassPath"]


def test_session_conf_without_javac_uses_the_stock_filesystem(monkeypatch, caplog):
    monkeypatch.setattr(shutil, "which", lambda *a, **k: None)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        conf = session._session_conf("local[2]", None, None)
    assert not set(SHIM_KEYS) & set(conf)
    assert len([r for r in caplog.records if r.levelno == logging.WARNING]) == 1


def test_session_conf_reads_cpus_when_called(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = session._session_conf(None, None, None)
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"


def test_shim_sources_compile_from_scratch(tmp_path):
    jar = session._shim_jar(str(tmp_path))
    assert jar is not None and os.path.dirname(jar) == str(tmp_path)
    with zipfile.ZipFile(jar) as zf:
        names = set(zf.namelist())
    assert {f"franzoxide/hadoop/{c}.class" for c in
            ("NioRawLocalFileSystem", "NioLocalFileSystem", "NioLocalFs")} <= names
    assert os.listdir(tmp_path) == [os.path.basename(jar)]  # no build leftovers
