"""Semantic + plan-shape tests for operators/funnel.py (q71) and
operators/sketch.py (q72). Oracle parity for the fixture-bound queries
runs in test_oracle_queries.py; these pin ordering semantics (funnel
stages must advance in time), the CMS never-undercount guarantee under
forced collisions, and the bounded-state / single-shuffle plan shapes.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from franzoxide_spark.operators.funnel import funnel
from franzoxide_spark.operators.sketch import (
    cms_build,
    cms_heavy_hitters,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, t, datetime.datetime(2024, 1, 1, 0, 0, s)) for u, t, s in rows],
        "user_id long, event_type string, ts timestamp",
    )


# --------------------------------------------------------------------------
# funnel
# --------------------------------------------------------------------------


def test_funnel_requires_stages_in_time_order(spark):
    rows = [
        # user 1: view(1) -> click(2) -> purchase(3): full funnel
        (1, "view", 1), (1, "click", 2), (1, "purchase", 3),
        # user 2: purchase BEFORE click: chain breaks at stage 3
        (2, "view", 1), (2, "purchase", 2), (2, "click", 4),
        # user 3: click only, never viewed: stage 1 never opens
        (3, "click", 1), (3, "purchase", 2),
    ]
    out = {
        r["user_id"]: r
        for r in funnel(
            _ev(spark, rows), "user_id", "event_type", "ts",
            ["view", "click", "purchase"],
        ).collect()
    }
    assert out[1]["stage_reached"] == 3
    assert out[2]["stage_reached"] == 2 and out[2]["stage3_ts"] is None
    assert out[3]["stage_reached"] == 0 and out[3]["stage1_ts"] is None


def test_funnel_picks_first_qualifying_timestamp_per_stage(spark):
    # two clicks after the view: stage 2 is the EARLIER one (second 3),
    # which then admits the purchase at second 4
    rows = [(1, "view", 2), (1, "click", 5), (1, "click", 3), (1, "purchase", 4)]
    out = funnel(
        _ev(spark, rows), "user_id", "event_type", "ts",
        ["view", "click", "purchase"],
    ).collect()[0]
    assert out["stage2_ts"].second == 3
    assert out["stage_reached"] == 3


def test_funnel_same_timestamp_does_not_advance(spark):
    # strict ordering: click at the same instant as the view doesn't count
    rows = [(1, "view", 1), (1, "click", 1)]
    out = funnel(
        _ev(spark, rows), "user_id", "event_type", "ts", ["view", "click"]
    ).collect()[0]
    assert out["stage_reached"] == 1 and out["stage2_ts"] is None


def test_funnel_plan_is_single_shuffle_no_joins(spark):
    df = funnel(
        _ev(spark, [(1, "view", 1)]), "user_id", "event_type", "ts",
        ["view", "click", "purchase"],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    # one Exchange for the user partitioning; the final aggregate is
    # co-partitioned on the same key, so no second full shuffle of data
    assert plan.count("Exchange hashpartitioning") <= 2


# --------------------------------------------------------------------------
# count-min sketch
# --------------------------------------------------------------------------


def test_cms_never_undercounts_even_with_forced_collisions(spark):
    # width=2 forces heavy collisions; the CMS guarantee (est >= exact)
    # must still hold for every item
    rows = [(f"item{i % 7}",) for i in range(200)]
    df = spark.createDataFrame(rows, "word string")
    out = cms_heavy_hitters(df, "word", k=7, depth=3, width=2).collect()
    assert len(out) == 7
    assert all(r["overestimate"] for r in out)
    assert all(r["cms_est"] >= r["exact_cnt"] for r in out)


def test_cms_sketch_size_is_bounded_by_depth_times_width(spark):
    rows = [(f"w{i}",) for i in range(500)]
    df = spark.createDataFrame(rows, "word string")
    sketch = cms_build(df, "word", depth=4, width=16)
    assert sketch.count() <= 4 * 16


def test_cms_recovers_the_true_heavy_hitter(spark):
    rows = [("whale",)] * 100 + [(f"minnow{i}",) for i in range(50)]
    df = spark.createDataFrame(rows, "word string")
    top = cms_heavy_hitters(df, "word", k=1, depth=4, width=64).collect()
    assert top[0]["word"] == "whale"
    assert top[0]["exact_cnt"] == 100


def test_cms_probe_broadcasts_the_sketch(spark):
    rows = [(f"w{i % 9}",) for i in range(100)]
    df = spark.createDataFrame(rows, "word string")
    plan = (
        cms_heavy_hitters(df, "word", k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


# --------------------------------------------------------------------------
# Misra-Gries mergeable rollup (operators/sketch.py)
# --------------------------------------------------------------------------


def test_mg_fold_and_merge_bounds():
    from collections import Counter

    from franzoxide_spark.operators.sketch import _mg_fold, mg_merge

    cap = 5
    # two daily streams with one true heavy item (7) and a noise tail
    day1 = [7] * 40 + list(range(100, 130)) * 2
    day2 = [7] * 25 + [8] * 30 + list(range(200, 220)) * 3
    true = Counter(day1 + day2)
    n = len(day1) + len(day2)
    merged = mg_merge([_mg_fold(sorted(day1), cap), _mg_fold(sorted(day2), cap)], cap)
    assert len(merged) <= cap
    bound = n / (cap + 1)
    for item, est in merged.items():
        assert est <= true[item]                      # never overcounts
        assert est >= true[item] - bound              # bounded undercount
    # any item with true count > n/(cap+1) MUST survive the merge
    for item, cnt in true.items():
        if cnt > bound:
            assert item in merged, (item, cnt, bound)


def test_mg_merge_matches_direct_sketch_guarantee():
    from collections import Counter

    from franzoxide_spark.operators.sketch import _mg_fold, mg_merge

    cap = 8
    streams = [
        sorted([i % 11 for i in range(d * 37, d * 37 + 120)]) for d in range(4)
    ]
    merged = mg_merge([_mg_fold(s, cap) for s in streams], cap)
    direct = _mg_fold(sorted(x for s in streams for x in s), cap)
    true = Counter(x for s in streams for x in s)
    n = sum(len(s) for s in streams)
    # both obey the same bound even if contents differ
    for sk in (merged, direct):
        for item, est in sk.items():
            assert true[item] - n / (cap + 1) <= est <= true[item]


def test_mg_rollup_is_partitioning_independent(spark):
    from franzoxide_spark.operators.sketch import mg_sketch_rollup

    rows = [
        (f"2024-01-0{1 + i % 3}", "2024-01-01", i % 7) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "day string, week string, user_id long")
    outs = []
    for parts in (1, 13):
        out = mg_sketch_rollup(
            df.repartition(parts), "day", "week", "user_id", capacity=4
        )
        outs.append({tuple(r) for r in out.collect()})
    assert outs[0] == outs[1] and len(outs[0]) > 0


def test_bloom_never_misses_a_true_hit(spark):
    """No-false-negative property: every shingle actually present in the
    eval set must be bloom-positive (n_true rows all probe positive →
    n_bloom_pos >= n_true and every true hit is inside the positives)."""
    from pyspark.sql import functions as F

    from franzoxide_spark.operators.sketch import bloom_probe_report

    eval_docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    pool = spark.createDataFrame(
        [
            ("a", 2, "the quick brown fox jumps high"),   # shares shingles
            ("a", 3, "completely different words entirely here now"),
        ],
        "source string, doc_id long, text string",
    )
    row = bloom_probe_report(pool, eval_docs, "text", "source").collect()[0]
    assert row["n_true"] >= 1
    assert row["n_bloom_pos"] >= row["n_true"]
    assert row["n_false_pos"] == row["n_bloom_pos"] - row["n_true"]


def test_bloom_build_is_mergeable(spark):
    """bit_or of two half-builds equals the build of the union — the
    mergeable-sketch contract shared with HLL/CMS/MG."""
    from pyspark.sql import functions as F

    from franzoxide_spark.operators.sketch import bloom_build

    a = spark.createDataFrame([(f"g{i}",) for i in range(50)], "g string")
    b = spark.createDataFrame([(f"g{i}",) for i in range(50, 100)], "g string")
    both = a.unionAll(b)
    merged = (
        bloom_build(a, "g")
        .unionAll(bloom_build(b, "g"))
        .groupBy("word_idx")
        .agg(F.expr("bit_or(bits)").alias("bits"))
    )
    direct = bloom_build(both, "g")
    got = {(r["word_idx"], r["bits"]) for r in merged.collect()}
    want = {(r["word_idx"], r["bits"]) for r in direct.collect()}
    assert got == want


def test_bloom_probe_report_preserves_group_dtype(spark):
    """bloom_probe_report rides the group key through a string union
    internally; the OUTPUT must restore the caller's dtype (r8 ADVICE —
    a bigint group key silently came back as string)."""
    from franzoxide_spark.operators.sketch import bloom_probe_report

    pool = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "grp long, text string",
    )
    eval_docs = spark.createDataFrame(
        [("alpha beta gamma delta",)], "text string"
    )
    out = bloom_probe_report(pool, eval_docs, "text", "grp")
    assert out.schema["grp"].dataType.simpleString() == "bigint"
    assert {r["grp"] for r in out.collect()} == {1, 2}


def test_cms_depth_bound_refused_on_the_driver():
    """r12 review: the K-M stride h1 + d*h2 overflows int64 beyond
    depth 8 — a DATA-DEPENDENT mid-scan failure. Refused up front with
    the bound in the message, on both the Spark and mirror builders."""
    import pytest

    from franzoxide_spark.operators.sketch import (
        cms_build,
        sql_cms_heavy_hitters,
    )

    with pytest.raises(ValueError, match=r"\[1, 8\]"):
        cms_build(None, "x", depth=9)
    with pytest.raises(ValueError, match=r"\[1, 8\]"):
        sql_cms_heavy_hitters("t", "x", depth=0)
    with pytest.raises(ValueError, match="width"):
        sql_cms_heavy_hitters("t", "x", width=0)


def test_bloom_landed_path_matches_adhoc_path(spark, sf_dir):
    """The landed probe (bucketed shingle relation) and the ad-hoc probe
    (tokenize + explode) share ONE hash contract — HASH60 of the
    shingle, md5 of its decimal string for the bit layout — so the two
    paths must be row-for-row identical (r14): q165, which probes the
    landing, against the ad-hoc operator on q165's eval split."""
    from pyspark.sql import functions as F

    from franzoxide_spark.operators.sketch import bloom_probe_report_flagged
    from franzoxide_spark.queries.corpus import q165
    from franzoxide_spark.tables import table

    landed = {tuple(r) for r in q165(spark, sf_dir).collect()}
    docs = table(spark, sf_dir, "documents")
    adhoc = {tuple(r) for r in bloom_probe_report_flagged(
        docs.withColumn("__is_eval", F.col("doc_id") % 97 == 0),
        "text", "source", "__is_eval",
    ).collect()}
    assert landed == adhoc and len(landed) > 0


def test_bloom_empty_eval_set_reports_all_negative(spark):
    """An EMPTY eval slice must yield an empty bloom (0 set bits) and an
    all-negative report — not an error — on both the ad-hoc and landed
    paths (r14 edge review)."""
    from pyspark.sql import functions as F

    from franzoxide_spark.operators.dedup import land_shingle_relation
    from franzoxide_spark.operators.sketch import (
        bloom_probe_report_flagged,
        bloom_probe_report_landed,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "a"),
            (2, "zeta eta theta iota kappa", "b"),
        ],
        "doc_id long, text string, source string",
    )
    flagged = docs.withColumn("__e", F.lit(False))
    out = {
        tuple(r)
        for r in bloom_probe_report_flagged(
            flagged, "text", "source", "__e"
        ).collect()
    }
    assert {r[0] for r in out} == {"a", "b"}
    assert all(
        n_pos == 0 and n_true == 0 and n_fp == 0
        for _, _n, n_pos, n_true, n_fp, _f in out
    )

    spark.sql("DROP TABLE IF EXISTS bloom_empty_eval_t")
    rel = land_shingle_relation(
        docs, "text", "doc_id", "bloom_empty_eval_t", n_buckets=4
    )
    meta = docs.select("doc_id", "source", F.lit(False).alias("__e"))
    landed = {
        tuple(r)
        for r in bloom_probe_report_landed(
            rel, meta, "doc_id", "source", "__e"
        ).collect()
    }
    assert landed == out
    spark.sql("DROP TABLE IF EXISTS bloom_empty_eval_t")
