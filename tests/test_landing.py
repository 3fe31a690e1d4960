"""The shared landing protocol (operators/landing.py): the events and
posting families on the session/marker/adoption flow, and the
landed-vs-plain row identity of every registry query routed through a
landing."""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil

from pyspark.sql import functions as F

from franzoxide_spark.operators.landing import (
    land_events_relation,
    shared_events_relation,
)
from franzoxide_spark.streaming.stateful import batch_ttl_session_dedup
from franzoxide_spark.tables import table


def _name(ident) -> str:
    return "events_rel_" + hashlib.md5(repr(ident).encode()).hexdigest()[:12]


def test_shared_events_relation_lands_once_and_retires_the_exchange(
    spark, sf_dir
):
    """First call writes, second call session-reuses (telemetry-visible);
    the landed relation feeds q177's batch face with ZERO exchanges and
    the identical relation to the plain path — the whole point of the
    events landing."""
    from franzoxide_spark.operators.landing import LANDING_EVENTS

    ev = table(spark, sf_dir, "events")
    key = f"{sf_dir}/events#land_once"
    name = _name(("events", key, "user_id", "ts", 4))
    try:
        n0 = len(LANDING_EVENTS)
        rel1 = shared_events_relation(ev, "user_id", "ts", key, n_buckets=4)
        rel2 = shared_events_relation(ev, "user_id", "ts", key, n_buckets=4)
        decisions = [e["decision"] for e in LANDING_EVENTS[n0:]
                     if e["table"] == name]
        assert decisions == ["written", "session-reuse"], decisions
        # schema passes through untouched
        assert rel1.columns == ev.columns
        assert rel2.count() == ev.count()

        out_b = batch_ttl_session_dedup(rel1, "user_id", "event_type",
                                        "ts", 3600)
        plan = out_b._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0, plan
        out_p = batch_ttl_session_dedup(ev, "user_id", "event_type",
                                        "ts", 3600)
        assert out_p.exceptAll(out_b).count() == 0
        assert out_b.exceptAll(out_p).count() == 0
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_shared_events_relation_adopts_fresh_marked_landing(spark, sf_dir):
    """Cross-session adoption with the r15-parametrized bucket spec: a
    fresh session finding a marked, fingerprint-matching events landing
    adopts it as an external table CLUSTERED BY the user key (no
    re-land — file mtimes untouched), and the adopted relation still
    retires the exchange."""
    from franzoxide_spark.operators.landing import _LANDING_MARKER

    ev = table(spark, sf_dir, "events")
    key_a = f"{sf_dir}/events#adopt_writer"
    key_b = f"{sf_dir}/events#adopt_reader"
    name_a = _name(("events", key_a, "user_id", "ts", 4))
    name_b = _name(("events", key_b, "user_id", "ts", 4))
    wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix("file:")
    dir_a, dir_b = os.path.join(wh, name_a), os.path.join(wh, name_b)
    try:
        rel_a = shared_events_relation(ev, "user_id", "ts", key_a,
                                       n_buckets=4)
        with open(os.path.join(dir_a, _LANDING_MARKER)) as fh:
            marker = json.load(fh)
        assert marker["bucket_cols"] == ["user_id"]
        assert marker["sort_cols"] == ["user_id", "ts"]
        shutil.copytree(dir_a, dir_b)
        assert not spark.catalog.tableExists(name_b)
        before = {p: os.path.getmtime(p)
                  for p in glob.glob(dir_b + "/*.parquet")}
        rel_b = shared_events_relation(ev, "user_id", "ts", key_b,
                                       n_buckets=4)
        after = {p: os.path.getmtime(p)
                 for p in glob.glob(dir_b + "/*.parquet")}
        assert after == before, "adoption re-landed instead of reusing"
        assert rel_b.count() == rel_a.count()
        out = batch_ttl_session_dedup(rel_b, "user_id", "event_type",
                                      "ts", 3600)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 0, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name_a}")
        spark.sql(f"DROP TABLE IF EXISTS {name_b}")
        for d in (dir_a, dir_b):
            shutil.rmtree(d, ignore_errors=True)


def test_land_events_relation_layout_and_neutrality(spark, sf_dir):
    """The landing is semantically neutral (same rows, same schema) and
    writes one file per bucket (the adoption census contract)."""
    ev = table(spark, sf_dir, "events")
    try:
        rel = land_events_relation(ev, "user_id", "ts",
                                   "ev_layout_test", n_buckets=4)
        assert rel.columns == ev.columns
        assert rel.exceptAll(ev).count() == 0
        assert ev.exceptAll(rel).count() == 0
        wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix(
            "file:")
        files = glob.glob(os.path.join(wh, "ev_layout_test", "*.parquet"))
        assert len(files) == 4, files
    finally:
        spark.sql("DROP TABLE IF EXISTS ev_layout_test")


# --------------------------------------------------------------------------
# r16 registry routing: landed-vs-ad-hoc row identity, pinned per query
# --------------------------------------------------------------------------
import pytest

from franzoxide_spark.queries import QUERIES, load_all


def _routed_names():
    load_all()
    from tests.test_plans import EVENTS_FAMILY_ROUTED

    return EVENTS_FAMILY_ROUTED


@pytest.mark.parametrize("name", _routed_names())
def test_events_family_landed_path_is_row_identical(
    name, spark, sf_dir, monkeypatch
):
    """The landing is a physical-plan change only: every routed
    events-family query returns the exact same rows through the bucketed
    landing (default) as through the plain parquet scan
    (the ``corpus._events_rel`` seam) — the per-query identity pin the
    r16 routing's done-criterion names."""
    from tests.test_plans import serve_plain_events

    load_all()
    with monkeypatch.context() as m:
        serve_plain_events(m)
        plain = QUERIES[name](spark, sf_dir)
    landed = QUERIES[name](spark, sf_dir)
    assert landed.columns == plain.columns, name
    assert landed.exceptAll(plain).count() == 0, name
    assert plain.exceptAll(landed).count() == 0, name


_RETRIEVAL_ROUTED = ("q137_bm25_topk", "q157_hybrid_rrf")


@pytest.mark.parametrize("name", _RETRIEVAL_ROUTED)
def test_retrieval_landed_path_is_row_identical(
    name, spark, sf_dir, monkeypatch
):
    """r16 retrieval landing (verdict item #4): q137/q157 through the
    term-bucketed posting landing (df baked in) return exactly the rows
    of the ad-hoc posting build (the operators' ``posting_rel=None``
    path)."""
    from tests.test_plans import serve_adhoc_postings

    load_all()
    with monkeypatch.context() as m:
        serve_adhoc_postings(m)
        plain = QUERIES[name](spark, sf_dir)
    landed = QUERIES[name](spark, sf_dir)
    assert landed.columns == plain.columns, name
    assert landed.exceptAll(plain).count() == 0, name
    assert plain.exceptAll(landed).count() == 0, name


def test_shared_posting_relation_lands_once_with_index_metadata(
    spark, sf_dir,
):
    """Third family on shared_landing (r16): first call writes the
    term-bucketed posting table with df AND corpus stats baked in,
    second call session-reuses; the marker carries the term bucket/sort
    spec (what adoption replays) and the baked columns equal what the
    ad-hoc build + stats pass would compute."""
    import pyspark.sql.functions as F

    from franzoxide_spark.operators.landing import (
        LANDING_EVENTS,
        _LANDING_MARKER,
    )
    from franzoxide_spark.operators.retrieval import shared_posting_relation
    from franzoxide_spark.functions.text import tokens

    docs = table(spark, sf_dir, "documents")
    key = f"{sf_dir}/documents#posting_land_once"
    name = "posting_rel_" + hashlib.md5(
        repr(("posting", "pfdf2", key, "doc_id", "text", 4)).encode()
    ).hexdigest()[:12]
    try:
        n0 = len(LANDING_EVENTS)
        rel1 = shared_posting_relation(docs, "doc_id", "text", key,
                                       n_buckets=4)
        rel2 = shared_posting_relation(docs, "doc_id", "text", key,
                                       n_buckets=4)
        decisions = [e["decision"] for e in LANDING_EVENTS[n0:]
                     if e["table"] == name]
        assert decisions == ["written", "session-reuse"], decisions
        assert set(rel1.columns) == {
            "doc_id", "term", "tf", "dl", "df", "n_docs", "avgdl"}
        # marker records the term bucket/sort layout for adoption
        wh = str(spark.conf.get("spark.sql.warehouse.dir")).removeprefix(
            "file:")
        with open(os.path.join(wh, name, _LANDING_MARKER)) as fh:
            marker = json.load(fh)
        assert marker["bucket_cols"] == ["term"]
        assert marker["sort_cols"] == ["term"]
        # baked df: rows per term == document frequency
        bad_df = (
            rel1.groupBy("term", "df").agg(F.count("*").alias("n"))
            .filter(F.col("n") != F.col("df")).count()
        )
        assert bad_df == 0
        # baked stats equal the live stats pass (constant on every row)
        live = docs.select(
            F.count("*").alias("n_docs"),
            F.avg(F.when(tokens("text").isNotNull(),
                         F.size(tokens("text")))).alias("avgdl"),
        ).first()
        baked = rel2.select("n_docs", "avgdl").distinct().collect()
        assert len(baked) == 1
        assert baked[0]["n_docs"] == live["n_docs"]
        assert abs(baked[0]["avgdl"] - live["avgdl"]) < 1e-9
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
