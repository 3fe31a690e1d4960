"""BM25 retrieval (operators/retrieval.py): closed-form score check on a
hand-built corpus + the inverted-index plan-shape invariants. Cross-engine
parity runs in tests/test_oracle_queries.py (q137)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from franzoxide_spark.operators.retrieval import bm25_topk

K1, B = 1.2, 0.75


def _ref_bm25(docs: dict[int, str], query: str, k1=K1, b=B) -> dict[int, float]:
    """Plain-Python BM25 oracle (Robertson idf, binary query tf)."""
    toks = {d: t.split(" ") for d, t in docs.items()}
    n = len(docs)
    avgdl = sum(len(t) for t in toks.values()) / n
    out = {}
    for d, t in toks.items():
        score = 0.0
        for term in set(query.split(" ")):
            tf = t.count(term)
            if tf == 0:
                continue
            df = sum(1 for tt in toks.values() if term in tt)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            score += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
        if score > 0:
            out[d] = round(score, 6)
    return out


def test_bm25_matches_closed_form(spark):
    docs = {
        1: "the cat sat on the mat",
        2: "the dog sat",
        3: "cat cat cat",
        4: "entirely unrelated words here",
    }
    ddf = spark.createDataFrame(
        [(i, t) for i, t in docs.items()], "doc_id int, text string"
    )
    qdf = spark.createDataFrame([(1, "cat sat")], "query_id int, query_text string")
    got = {
        r["doc_id"]: r["bm25"]
        for r in bm25_topk(ddf, qdf, "doc_id", "text", k=10).collect()
    }
    assert got == _ref_bm25(docs, "cat sat")


def test_bm25_rank_order_and_k(spark):
    # doc 3 has the highest tf for "cat" and is shortest -> rank 1
    ddf = spark.createDataFrame(
        [(1, "cat a b c"), (2, "cat cat a b"), (3, "cat cat"), (4, "x y")],
        "doc_id int, text string",
    )
    qdf = spark.createDataFrame([(7, "cat")], "query_id int, query_text string")
    rows = (
        bm25_topk(ddf, qdf, "doc_id", "text", k=2)
        .orderBy("rk")
        .collect()
    )
    assert [r["doc_id"] for r in rows] == [3, 2]
    assert all(r["query_id"] == 7 for r in rows)


def _mmr_ref(cands, n, lam):
    """Plain-Python MMR oracle. cands: list of (nid, rel, vec)."""
    import numpy as np

    cands = sorted(cands)
    unit = []
    for _, _, v in cands:
        a = np.asarray(v, dtype="float64")
        nrm = np.linalg.norm(a) or 1.0
        unit.append(a / nrm)
    chosen, out = [], []
    for rank in range(1, min(n, len(cands)) + 1):
        best, best_score = None, None
        for i, (nid, rel, _) in enumerate(cands):
            if i in chosen:
                continue
            pen = max((float(unit[i] @ unit[j]) for j in chosen), default=0.0)
            s = round(lam * rel - (1 - lam) * pen if chosen else lam * rel, 6)
            if best is None or s > best_score:
                best, best_score = i, s
        chosen.append(best)
        out.append((cands[best][0], rank, best_score))
    return out


def test_mmr_matches_reference_and_diversifies(spark):
    from franzoxide_spark.operators.retrieval import mmr_rerank

    # two near-identical high-rel candidates + two distinct mid-rel ones:
    # pure relevance order would take both twins; MMR must not
    cands = [
        (1, 10, 0.99, [1.0, 0.0, 0.0]),
        (1, 11, 0.98, [0.999, 0.01, 0.0]),   # twin of 10
        (1, 12, 0.80, [0.0, 1.0, 0.0]),
        (1, 13, 0.70, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        cands, "query_id long, neighbor_id long, rel double, vec array<double>"
    )
    got = [
        (r["neighbor_id"], r["sel_rank"], r["mmr"])
        for r in mmr_rerank(df, n=3, lam=0.5).orderBy("sel_rank").collect()
    ]
    ref = _mmr_ref([(nid, rel, v) for _, nid, rel, v in cands], 3, 0.5)
    assert got == ref
    assert got[0][0] == 10                      # first pick = top relevance
    picked = {g[0] for g in got}
    assert not {10, 11} <= picked               # the twin was skipped


def test_mmr_lambda_one_is_relevance_order(spark):
    from franzoxide_spark.operators.retrieval import mmr_rerank

    cands = [
        (2, i, 1.0 - i / 10, [float(i == j) for j in range(4)])
        for i in range(4)
    ]
    df = spark.createDataFrame(
        cands, "query_id long, neighbor_id long, rel double, vec array<double>"
    )
    got = [
        r["neighbor_id"]
        for r in mmr_rerank(df, n=4, lam=1.0).orderBy("sel_rank").collect()
    ]
    assert got == [0, 1, 2, 3]


def test_bm25_plan_is_inverted_index_shaped(spark, sf_dir, monkeypatch):
    """Ad-hoc path: query terms / df / stats all enter broadcast. Landed
    path (r16): df and stats are BAKED INTO the index, so exactly one
    broadcast (the query terms) remains. Either way no sort-merge
    machinery and no nested-loop join over the corpus."""
    from franzoxide_spark.queries import QUERIES, load_all
    from tests.test_plans import serve_adhoc_postings

    load_all()

    def _plan():
        df = QUERIES["q137_bm25_topk"](spark, sf_dir)
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted")
        )

    with monkeypatch.context() as m:
        serve_adhoc_postings(m)
        plan = _plan()
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    plan = _plan()
    # formatted mode prints each node twice (tree + details): one join
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rrf_fusion_properties(spark):
    from franzoxide_spark.operators.retrieval import rrf_fuse

    # doc 5 is rank 1 in BOTH lists -> must fuse to rank 1;
    # doc 9 only in list A at rank 2, doc 7 only in list B at rank 2
    a = spark.createDataFrame(
        [(1, 5, 1), (1, 9, 2)], "query_id int, doc_id long, rk int"
    )
    b = spark.createDataFrame(
        [(1, 5, 1), (1, 7, 2)], "query_id int, doc_id long, rk int"
    )
    rows = rrf_fuse(a, b, "doc_id", k=60, n=10).orderBy("rk").collect()
    assert [r["doc_id"] for r in rows] == [5, 7, 9]  # tie 7/9 -> id asc
    assert rows[0]["rrf"] == round(2 / 61, 6)
    assert rows[1]["rrf"] == rows[2]["rrf"] == round(1 / 62, 6)


def test_sql_bm25_escapes_quotes_in_query_text():
    """A query literal containing an apostrophe must not break the DuckDB
    statement (ADVICE r7: '' doubling when inlining)."""
    import duckdb

    from franzoxide_spark.operators.retrieval import sql_bm25_topk

    sql = sql_bm25_topk(
        "documents", [(1, "o'brien's cat")], "doc_id", "text", k=5
    )
    assert "o''brien''s" in sql
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'the cat sat'), (2, 'o''brien''s dog')) t(doc_id, text)"
    )
    rows = con.execute(sql).fetchall()  # must parse and run
    assert all(len(r) == 4 for r in rows)


def test_hybrid_rrf_equals_unfused_composition(spark, sf_dir):
    """hybrid_rrf_topk's contract: row-for-row identical to
    rrf_fuse(bm25_topk(...), term_recall_topk(...)) — the fusion only
    shares the posting-list shuffle, never changes a rank. Also pin the
    shuffle claim: exactly ONE corpus-wide exchange on (doc, term) in
    the fused plan (plus bounded rank/fuse exchanges), vs two corpus
    passes unfused."""
    from franzoxide_spark.operators.retrieval import (
        bm25_topk,
        hybrid_rrf_topk,
        rrf_fuse,
        term_recall_topk,
    )
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "data spark engine")],
        "query_id int, query_text string",
    )
    fused = hybrid_rrf_topk(docs, queries, "doc_id", "text", k=20, n=10)
    a = bm25_topk(docs, queries, "doc_id", "text", k=20)
    b = term_recall_topk(docs, queries, "doc_id", "text", k=20)
    unfused = rrf_fuse(a, b, "doc_id", k=60, n=10)
    assert sorted(map(tuple, fused.collect())) == sorted(
        map(tuple, unfused.collect())
    )


def test_pretokenized_paths_match_raw_text_paths(spark, sf_dir):
    """bm25_topk/term_recall_topk's pretokenized=True (share one
    tokenize pass across rankers, the q101 pattern) must produce
    byte-identical rankings to the raw-text path — locked so a future
    tokens() change can't silently diverge the two."""
    from pyspark.sql import functions as F

    from franzoxide_spark.functions.text import tokens
    from franzoxide_spark.operators.retrieval import (
        bm25_topk,
        term_recall_topk,
    )
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("__toks"))
    queries = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "data spark engine")],
        "query_id int, query_text string",
    )
    for fn in (bm25_topk, term_recall_topk):
        raw = fn(docs, queries, "doc_id", "text", k=15)
        pre = fn(toks, queries, "doc_id", "__toks", k=15, pretokenized=True)
        assert sorted(map(tuple, raw.collect())) == sorted(
            map(tuple, pre.collect())
        ), fn.__name__


def test_bm25_avgdl_skips_null_text(spark):
    """With ANSI off, Spark's legacy size(NULL) is -1: a NULL-text doc
    must not drag avgdl down (the SQL mirror's AVG skips NULLs), or
    every score diverges cross-engine (r13 review). A corpus with and
    without a NULL doc must produce identical scores."""
    from franzoxide_spark.operators.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [(1, "spark shuffles data"), (2, "duckdb scans parquet"),
         (3, "spark broadcasts small tables")],
        "doc_id long, text string",
    )
    docs_with_null = docs.unionAll(
        spark.createDataFrame([(4, None)], "doc_id long, text string")
    )
    queries = spark.createDataFrame([(1, "spark tables")],
                                    "query_id long, query_text string")
    import duckdb
    import pandas as pd

    from franzoxide_spark.operators.retrieval import sql_bm25_topk

    got = sorted(
        (r["query_id"], r["doc_id"], r["rk"], r["bm25"])
        for r in bm25_topk(
            docs_with_null, queries, "doc_id", "text", k=10
        ).collect()
    )
    con = duckdb.connect()
    con.register(
        "t",
        pd.DataFrame(
            {"doc_id": [1, 2, 3, 4],
             "text": ["spark shuffles data", "duckdb scans parquet",
                      "spark broadcasts small tables", None]}
        ),
    )
    want = sorted(
        map(tuple, con.execute(
            sql_bm25_topk("t", [(1, "spark tables")], "doc_id", "text",
                          k=10)
        ).fetchall())
    )
    con.close()
    assert got == want, (got, want)
    # and the NULL doc itself never ranks
    assert all(d != 4 for (_, d, _, _) in got)
