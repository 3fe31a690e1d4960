"""The measurement module (franzoxide_spark/measure.py) and the two CLIs
built on it: the reset-after-every-run protocol, the arm comparison's
identity gate and interleaving, the replica growth law, and in-process
smoke runs of scripts/isolate_bench.py and scripts/slope_suite.py on the
shared session."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from franzoxide_spark import measure
from franzoxide_spark import queries as q
from franzoxide_spark.tables import table
from scripts import isolate_bench, slope_suite


def _persisted(spark) -> dict:
    return dict(spark.sparkContext._jsc.getPersistentRDDs())


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_every_timed_run_starts_from_a_reset_session(spark, sf_dir):
    """q34 caches its simhash signatures. Run 2 must not find run 1's
    cache (or any persisted RDD): the DuckDB side it is compared with
    never reuses a statement's work."""
    q.load_all()
    measure.reset(spark)
    seen = []

    def run():
        seen.append((_persisted(spark), _cache_empty(spark)))
        q.QUERIES["q34_simhash_neardup"](spark, sf_dir).toPandas()
        assert not _cache_empty(spark)  # the run did cache its signatures

    samples = list(measure.timed_runs(spark, run, 2))
    assert len(samples) == 2 and all(s > 0 for s in samples)
    assert seen == [({}, True), ({}, True)]


def test_timed_runs_resets_after_a_failing_run(spark):
    spark.range(10).cache().count()

    def boom():
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        list(measure.timed_runs(spark, boom, 2))
    assert not _persisted(spark) and _cache_empty(spark)


def test_reset_leaves_nothing_persisted(spark):
    df = spark.range(100).withColumn("x", F.col("id") * 2).cache()
    df.count()
    assert _persisted(spark)
    measure.reset(spark)
    assert not _persisted(spark) and _cache_empty(spark)


def test_compare_arms_refuses_arms_that_differ_by_one_row(spark):
    calls = []

    def arm(label, n):
        def build():
            calls.append(label)
            return spark.range(n)
        return build

    with pytest.raises(ValueError, match="different rows"):
        measure.compare_arms(spark, {"a": arm("a", 10), "b": arm("b", 11)}, 3)
    assert calls == ["a", "b"]  # built once for the check, never timed


def test_compare_arms_interleaves_equal_arms(spark):
    calls = []

    def arm(label, df):
        def build():
            calls.append(label)
            return df
        return build

    base = spark.range(50).withColumn("k", F.col("id") % 5)
    shuffled = base.repartition(3, "k")
    out = measure.compare_arms(
        spark, {"plain": arm("plain", base), "shuffled": arm("shuffled", shuffled)},
        runs=2,
    )
    # one build each for the identity check, then forward, then reversed
    assert calls == ["plain", "shuffled",
                     "plain", "shuffled", "shuffled", "plain"]
    assert out["plain"]["exchanges"] == 0
    assert out["shuffled"]["exchanges"] == 1
    for arm_out in out.values():
        assert len(arm_out["samples"]) == 2
        assert arm_out["min"] == min(arm_out["samples"])


@pytest.fixture(scope="module")
def scaled_dir(spark, sf_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("scaled") / "x2")
    measure.build_scaled(spark, sf_dir, out, 2)
    return out


def test_build_scaled_doubles_every_replicated_table(spark, sf_dir, scaled_dir):
    for name, law in measure.REPLICA_LAW.items():
        src = table(spark, sf_dir, name)
        rep = table(spark, scaled_dir, name)
        assert rep.schema == src.schema, name
        if not law:  # nation/region stay as they are
            assert sorted(rep.collect()) == sorted(src.collect()), name
            continue
        assert rep.count() == 2 * src.count(), name
        for col in law:
            if col == "text":
                continue
            n_src = src.select(col).distinct().count()
            assert rep.select(col).distinct().count() == 2 * n_src, (name, col)


def test_isolate_bench_reports_the_split(spark, sf_dir):
    out = isolate_bench.run(spark, sf_dir, ["q02_agg_pricing_summary"], runs=2)
    rec = out["q02_agg_pricing_summary"]
    assert {"min", "build", "exec", "jobs"} <= set(rec)
    assert rec["min"] == min(rec["samples"]) and len(rec["samples"]) == 2
    assert 0 < rec["build"] < rec["min"] and 0 < rec["exec"] <= rec["min"]
    assert rec["jobs"] >= 1


def test_slope_suite_reports_base_scaled_and_ratio(spark, sf_dir, scaled_dir):
    out = slope_suite.run(spark, sf_dir, scaled_dir, 2, 1,
                          ["q02_agg_pricing_summary"])
    assert not out["errors"]
    rec = out["queries"]["q02_agg_pricing_summary"]
    assert rec["base_s"] > 0 and rec["scaled_s"] > 0
    assert rec["ratio"] == round(rec["scaled_s"] / rec["base_s"], 2)
