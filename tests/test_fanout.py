"""tables.fanned_table — the session-memoized fan-out shim for
single-split fixture scans (the generalized q56 fix, r16).

Contract under test: row identity with the plain catalog relation,
once-per-session materialization (same object back), the identity gates
(many-split and oversized scans come back un-fanned), and actual
parallelism (the fanned relation plans >1 partition where the plain
scan plans 1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from franzoxide_spark import tables
from franzoxide_spark.tables import fanned_table, table


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
    """bench.py's inter-query hygiene (_clear_session_state) clears the
    cache and unpersists every RDD between timed queries. A persisted
    relation must RECOMPUTE through that (and re-register its persist);
    the original localCheckpoint variant crashed with 'checkpoint block
    not found' on every post-clear consumer (45-error artifact)."""
    fanned = fanned_table(spark, sf_dir, "documents")
    n_before = fanned.count()  # materialize
    # the exact bench.py clear
    spark.catalog.clearCache()
    for rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).values():
        rdd.unpersist(False)
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
    to an operator that repartitions internally (corpus_stats._fan_out)
    must pass through UNCHANGED — the eight r16-extension reverts showed
    the double-materialization footgun (q155 1.38 vs 0.57 s). The guard
    is _fan_out's partition-count check: at target parallelism it is the
    identity, so the composed plan carries exactly ONE round-robin
    exchange (the fanned_table one)."""
    from franzoxide_spark.operators.corpus_stats import _fan_out

    fanned = fanned_table(spark, sf_dir, "documents")
    out = _fan_out(fanned)
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
    fanned_by_op = _fan_out(plain)
    assert fanned_by_op is not plain
