"""tables.ensure_parallel — the one parallelism decision — and
tables.fanned_table, the session-memoized fan-out shim built on it.

Contract under test: row identity with the plain catalog relation,
once-per-session materialization (same object back), the identity gates
(many-split and oversized scans come back un-fanned, whether the splits
are files or row groups), and actual parallelism (the fanned relation
plans >1 partition where the plain scan plans 1)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from franzoxide_spark import tables
from franzoxide_spark.measure import reset
from franzoxide_spark.tables import ensure_parallel, fanned_table, table


def test_fanned_rows_identical_to_plain(spark, sf_dir):
    plain = table(spark, sf_dir, "documents")
    fanned = fanned_table(spark, sf_dir, "documents")
    # exact multiset equality both directions (exceptAll is row-exact)
    assert fanned.exceptAll(plain).count() == 0
    assert plain.exceptAll(fanned).count() == 0
    assert fanned.schema == plain.schema


def test_fanned_table_memoizes_per_session(spark, sf_dir):
    a = fanned_table(spark, sf_dir, "documents")
    b = fanned_table(spark, sf_dir, "documents")
    assert a is b  # one materialization serves every caller this session


def test_fanned_table_actually_fans_out(spark, sf_dir):
    plain = table(spark, sf_dir, "documents")
    fanned = fanned_table(spark, sf_dir, "documents")
    # the fixture is one file -> one split; the shim must beat that
    assert plain.rdd.getNumPartitions() == 1
    assert (
        fanned.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_fanout_size_gate_returns_plain_relation(spark, sf_dir, monkeypatch):
    # an "oversized" scan (cap forced to 1 byte) must come back un-fanned
    # so the block manager is never asked to pin a big table
    monkeypatch.setattr(tables, "_FANOUT_MAX_BYTES", 1)
    key = (tables._session_key(spark), sf_dir, "orders")
    tables._FANOUT.pop(key, None)
    try:
        df = fanned_table(spark, sf_dir, "orders")
        assert df is table(spark, sf_dir, "orders")
        assert key not in tables._FANOUT  # gate result is not cached
    finally:
        tables._FANOUT.pop(key, None)


def test_fanout_cache_purged_with_stale_sessions(spark, sf_dir):
    # plant a fake stale-session entry; the next ensure_session_confs on
    # the live session must purge it (the _CATALOG lifecycle, extended)
    stale_key = ("dead-app/0", sf_dir, "documents")
    tables._FANOUT[stale_key] = table(spark, sf_dir, "documents")
    tables._CONFED_SESSIONS.discard(tables._session_key(spark))
    tables.ensure_session_confs(spark)
    assert stale_key not in tables._FANOUT


def test_fanned_relation_survives_external_cache_clear(spark, sf_dir):
    """The measurement reset (measure.reset) clears the cache and
    unpersists every RDD between timed runs. A persisted
    relation must RECOMPUTE through that (and re-register its persist);
    the original localCheckpoint variant crashed with 'checkpoint block
    not found' on every post-clear consumer (45-error artifact)."""
    fanned = fanned_table(spark, sf_dir, "documents")
    n_before = fanned.count()  # materialize
    reset(spark)
    again = fanned_table(spark, sf_dir, "documents")
    assert again.count() == n_before  # recomputes, no dangling blocks
    lvl = again.storageLevel
    assert lvl.useMemory or lvl.useDisk  # persist re-registered


def test_fanned_events_ts_normalization_preserved(spark, sf_dir):
    # fanned_table wraps table(), so the events ts fixture normalization
    # (nanos->micros / ntz->ltz) must ride through unchanged
    plain = table(spark, sf_dir, "events").select(F.max("ts").alias("m"))
    fanned = fanned_table(spark, sf_dir, "events").select(
        F.max("ts").alias("m")
    )
    assert plain.collect() == fanned.collect()


def test_fan_out_composes_with_fanned_table(spark, sf_dir):
    """r16 verdict #2 structural guard: a persisted fanned relation fed
    to an operator that repartitions internally (ensure_parallel) must
    pass through UNCHANGED — the eight r16-extension reverts showed the
    double-materialization footgun (q155 1.38 vs 0.57 s). The guard is
    ensure_parallel's partition-count check on non-file inputs: at
    target parallelism it is the identity, so the composed plan carries
    exactly ONE round-robin exchange (the fanned_table one)."""
    fanned = fanned_table(spark, sf_dir, "documents")
    out = ensure_parallel(fanned)
    assert out is fanned  # identity: no second repartition on top
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the only round-robin exchange lives INSIDE the cached relation (the
    # fanned_table one — its embedded AQE string may print the plan twice,
    # final + initial, so count is not a stable assert); nothing ABOVE the
    # InMemoryRelation node repartitions again
    above, _, inside = plan.partition("InMemoryRelation")
    assert "RoundRobinPartitioning" not in above, plan
    assert "RoundRobinPartitioning" in inside, plan
    # and on a plain single-split scan the operator's own fan-out still
    # fires (the at-scale no-op is the split-count gate, not this guard)
    plain = table(spark, sf_dir, "documents")
    fanned_by_op = ensure_parallel(plain)
    assert fanned_by_op is not plain


def test_scan_of_many_files_is_left_alone(spark, tmp_path):
    """The file-count gate: a scan of at least ``defaultParallelism``
    files already has its parallelism, so ensure_parallel returns it
    unchanged and fanned_table serves the plain, pushdown-able scan."""
    target = spark.sparkContext.defaultParallelism
    path = tmp_path / "orders.parquet"
    path.mkdir()
    for i in range(target):
        pq.write_table(
            pa.table({"o_orderkey": [i]}), str(path / f"part-{i}.parquet")
        )
    plain = table(spark, str(tmp_path), "orders")
    assert len(plain.inputFiles()) == target
    assert ensure_parallel(plain) is plain
    assert fanned_table(spark, str(tmp_path), "orders") is plain


def test_one_file_of_many_row_groups_is_left_alone(spark, tmp_path):
    """The split-count gate: parquet splits a file at row groups, so one
    file whose row groups already give the scan ``defaultParallelism``
    non-empty tasks comes back unchanged. Counting files alone read it
    as one split and forced a full-data shuffle on it."""
    target = spark.sparkContext.defaultParallelism
    n_groups, rows = 2 * target, 4096
    path = str(tmp_path / "wide.parquet")
    pq.write_table(
        pa.table({"v": pa.array(range(n_groups * rows), pa.int64())}),
        path,
        row_group_size=rows,
        compression="none",
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == n_groups
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(os.path.getsize(path) // n_groups))
    try:
        df = spark.read.parquet(path)
        tasks = df.select(F.spark_partition_id()).distinct().count()
        assert tasks >= target
        assert ensure_parallel(df) is df
    finally:
        spark.conf.set(key, prev)


def test_projection_counts_the_splits_of_its_scan(spark, sf_dir, tmp_path):
    """The byte term sizes the scan leaves under the plan, not the
    projection: Catalyst scales a projection's size by row width, so
    q104's four ``lineitem`` columns read about a third of the scan's
    bytes and the count fell under the target while the scan itself
    plans twice the target in splits. Shape: sf0.1 ``lineitem`` copied
    into 2 files of 20,000-row groups, with ``maxPartitionBytes`` at 2m
    on a 4-core session (scaled with the core count elsewhere)."""
    from franzoxide_spark.queries.relational import _Q104_COLS

    src = os.path.join(os.path.dirname(sf_dir), "sf0.1", "lineitem.parquet")
    if not os.path.exists(src):
        pytest.skip("sf0.1 fixtures absent")
    target = spark.sparkContext.defaultParallelism
    li = pq.read_table(src)
    path = tmp_path / "lineitem.parquet"
    path.mkdir()
    half = li.num_rows // 2
    for i, part in enumerate((li.slice(0, half), li.slice(half))):
        pq.write_table(
            part, str(path / f"part-{i}.parquet"), row_group_size=20_000
        )
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str((2 << 20) * 4 // target))
    try:
        scan = table(spark, str(tmp_path), "lineitem")
        projected = scan.select(*_Q104_COLS)
        assert scan.rdd.getNumPartitions() >= target
        assert ensure_parallel(scan) is scan
        assert ensure_parallel(projected) is projected
        assert tables.plan_size_bytes(projected) < tables.plan_size_bytes(
            projected, scans=True
        )
    finally:
        spark.conf.set(key, prev)
