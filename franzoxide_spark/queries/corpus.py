"""Corpus-statistics queries (q60-q62): the train-on-corpus / score-corpus
scoring family over ``documents`` (operators/corpus_stats.py).

All three are oracle-checked. They register after the driver's 50-record
CORRECTNESS window (which is already filled by the 50 unique operators of
rounds 1-6 — see the twin-ordering note in queries/llm.py), so their
driver record is rows-only at best; the binding oracle check runs in
tests/test_oracle_queries.py, which parametrizes over every registry
entry with the exact driver compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from franzoxide_spark.operators.corpus_stats import (
    char_trigram_lm,
    dsir_logratio,
    sql_char_trigram_lm,
    sql_dsir_logratio,
    sql_tfidf_top_terms,
    tfidf_top_terms,
)
from franzoxide_spark.queries import register
from franzoxide_spark.tables import fanned_table, table


# --------------------------------------------------------------------------
# Q60 — TF-IDF top terms per document
# --------------------------------------------------------------------------
def q60(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, "doc_id", "text", k=3)


# --------------------------------------------------------------------------
# Q61 — char-trigram LM quality score (CCNet-style perplexity proxy)
# --------------------------------------------------------------------------
def q61(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanned_table(spark, sf_dir, "documents")
    return char_trigram_lm(docs, "doc_id", "text")


# --------------------------------------------------------------------------
# Q62 — DSIR hashed importance log-weights (target = English slice)
# --------------------------------------------------------------------------
def q62(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dsir_logratio(
        docs, "doc_id", "text", target_pred=F.col("lang") == "en", n_buckets=1024
    )


# --------------------------------------------------------------------------
# Q64 — temperature-based domain mixture weights (mT5/XLM-R style):
#        w(d) ∝ tokens(d)^alpha, sampling rate capped at max_epochs.
#        The data-mixing planner a multilingual/multi-source training run
#        executes before sampling; one map-side-combined aggregation over
#        a domain-count-bounded key space, so the corpus never shuffles
#        more than its partial counts at any scale.
# --------------------------------------------------------------------------
_Q64_ALPHA = 0.5
_Q64_TARGET_TOKENS = 1_000_000
_Q64_MAX_EPOCHS = 4.0


def q64(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    dom = docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("tokens"),
    )
    w_all = Window.partitionBy()  # ≤ |langs|x|sources| rows: single partition fine
    pw = F.pow(F.col("tokens").cast("double"), F.lit(_Q64_ALPHA))
    weight = F.round(pw / F.sum(pw).over(w_all), 6)
    rate = F.round(
        F.least(
            F.lit(_Q64_TARGET_TOKENS) * weight / F.col("tokens").cast("double"),
            F.lit(_Q64_MAX_EPOCHS),
        ),
        6,
    )
    return dom.select(
        "lang",
        "source",
        F.col("n_docs").cast("int").alias("n_docs"),
        "tokens",
        weight.alias("weight"),
        rate.alias("sampling_rate"),
    )


_Q64_SQL = f"""
WITH dom AS (
  SELECT lang, source, COUNT(*) AS n_docs,
         SUM(len(string_split(text, ' '))) AS tokens
  FROM documents GROUP BY lang, source
),
w AS (
  SELECT *, pow(CAST(tokens AS DOUBLE), {_Q64_ALPHA})
            / SUM(pow(CAST(tokens AS DOUBLE), {_Q64_ALPHA})) OVER () AS raw_w
  FROM dom
)
SELECT lang, source, CAST(n_docs AS INT) AS n_docs,
       CAST(tokens AS BIGINT) AS tokens,
       ROUND(raw_w, 6) AS weight,
       ROUND(LEAST({_Q64_TARGET_TOKENS} * ROUND(raw_w, 6)
                   / CAST(tokens AS DOUBLE), {_Q64_MAX_EPOCHS}), 6)
         AS sampling_rate
FROM w
"""


register("q60_tfidf_top_terms", q60, sql_tfidf_top_terms("documents", "doc_id", "text", k=3))
register("q61_trigram_lm_quality", q61, sql_char_trigram_lm("documents", "doc_id", "text"))
register(
    "q62_dsir_importance",
    q62,
    sql_dsir_logratio("documents", "doc_id", "text", "lang = 'en'", n_buckets=1024),
)
register("q64_mixture_weights", q64, _Q64_SQL)


# --------------------------------------------------------------------------
# Q65 — overlapping token-window chunking (context-window preparation
#        between curation and packing; operators/chunking.py — one
#        codegen'd map-only projection, no UDF, no shuffle)
# --------------------------------------------------------------------------
def q65(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.chunking import chunk_documents

    docs = fanned_table(spark, sf_dir, "documents")
    return chunk_documents(docs, "doc_id", "text", window=64, overlap=8).select(
        "doc_id", "chunk_idx", "chunk_text", "chunk_tokens"
    )


def _q65_sql() -> str:
    from franzoxide_spark.operators.chunking import sql_chunk_documents

    inner = sql_chunk_documents("documents", "doc_id", "text", window=64, overlap=8)
    return (
        "SELECT doc_id, chunk_idx, chunk_text, "
        f"CAST(chunk_tokens AS INT) AS chunk_tokens FROM ({inner})"
    )


register("q65_chunk_documents", q65, _q65_sql())


# --------------------------------------------------------------------------
# Q66 — skew-salted join (operators/skew.py): results must equal the
#        plain join, so the PLAIN join is the oracle; what the salting
#        changes is only the shuffle distribution (hot user_id rows
#        spread over `salt` reducers). Exact aggregates (count/min/max)
#        keep the comparison FP-accumulation-free.
# --------------------------------------------------------------------------
def q66(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.skew import salted_join

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    c = table(spark, sf_dir, "customer").selectExpr(
        "c_custkey as user_id", "c_mktsegment"
    )
    return (
        salted_join(ev, c, "user_id", salt=8)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )


_Q66_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(MAX(value), 6) AS max_value
FROM (SELECT event_id, user_id, value FROM events) e
JOIN (SELECT c_custkey AS user_id, c_mktsegment FROM customer) c
  USING (user_id)
GROUP BY c_mktsegment
"""


register("q66_skew_salted_join", q66, _Q66_SQL)


# --------------------------------------------------------------------------
# Q67 — cross-document duplicated k-gram coverage (Lee et al. 2022 shape):
#        per-doc fraction of k-gram occurrences shared with ≥1 other doc.
#        operators/span_dedup.py — gram stream shuffles once on gram hash
#        with map-side combine; no all-pairs joins.
# --------------------------------------------------------------------------
def q67(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.span_dedup import crossdoc_span_coverage

    docs = table(spark, sf_dir, "documents")
    return crossdoc_span_coverage(docs, "doc_id", "text", k=3, threshold=0.5)


def _q67_sql() -> str:
    from franzoxide_spark.operators.span_dedup import sql_crossdoc_span_coverage

    return sql_crossdoc_span_coverage("documents", "doc_id", "text", k=3, threshold=0.5)


register("q67_crossdoc_span_coverage", q67, _q67_sql())


# --------------------------------------------------------------------------
# Q68 — hashed bag-of-words linear quality classifier (fastText-shaped
#        serving path): hashed unigram features ⋈ broadcast weight vector
#        → per-doc integer score → one sigmoid. Weights are a
#        deterministic hash-derived stand-in; a trained vector is the
#        same broadcast table and the plan does not change.
# --------------------------------------------------------------------------
def q68(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.span_dedup import hashed_linear_score

    docs = fanned_table(spark, sf_dir, "documents")
    return hashed_linear_score(spark, docs, "doc_id", "text", n_buckets=4096)


def _q68_sql() -> str:
    from franzoxide_spark.operators.span_dedup import sql_hashed_linear_score

    return sql_hashed_linear_score("documents", "doc_id", "text", n_buckets=4096)


register("q68_hashed_linear_score", q68, _q68_sql())


# --------------------------------------------------------------------------
# Q70 — out-of-vocabulary rate vs the corpus's own top-V vocabulary
#        (operators/corpus_stats.py:oov_rate): vocab via
#        TakeOrderedAndProject (never a global sort), broadcast to the
#        token stream; vocab_size=16 so the tiny fixture vocabulary
#        actually produces nonzero OOV rates.
# --------------------------------------------------------------------------
def q70(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.corpus_stats import oov_rate

    docs = fanned_table(spark, sf_dir, "documents")
    return oov_rate(docs, "doc_id", "text", vocab_size=16)


def _q70_sql() -> str:
    from franzoxide_spark.operators.corpus_stats import sql_oov_rate

    return sql_oov_rate("documents", "doc_id", "text", vocab_size=16)


register("q70_oov_rate", q70, _q70_sql())


# --------------------------------------------------------------------------
# Q71 — ordered funnel analysis over events (operators/funnel.py):
#        view → click → purchase, each stage's first timestamp strictly
#        after the previous stage's. One shuffle on user_id, chained
#        whole-partition window mins, no joins. Timestamps stringified
#        for the cross-engine compare (the windows-family idiom).
# --------------------------------------------------------------------------
_FUNNEL_STAGES = ("view", "click", "purchase")
_TS_FMT_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _events_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared user-key-bucketed events landing for the events
    family (r16 plan item #1, the r11 shingle-landing move on the second
    family): every user-keyed registry query (funnel q71, cohorts q73,
    sessions q74/q149, rolling features q89, transitions q98, WAU q102,
    convert-latency q105, burstiness q110, TTL dedup q177) routes its
    events scan through ONE landing per (session, corpus) — bucketed by
    the raw user key, in-bucket sorted (user_id, ts) — so the family's
    shared plan shape loses its only super-scan term, the user-key
    exchange (plan-asserted in tests/test_plans.py; landed-vs-ad-hoc row
    identity pinned per query in tests/test_landing.py). The
    landing write amortizes across the family exactly as the 100 TB
    posture argues."""
    from franzoxide_spark.operators.landing import shared_events_relation

    return shared_events_relation(
        table(spark, sf_dir, "events"), "user_id", "ts",
        source_key=f"{sf_dir}/events",
    )


def q71(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.funnel import funnel

    ev = _events_rel(spark, sf_dir)
    out = funnel(ev, "user_id", "event_type", "ts", _FUNNEL_STAGES)
    return out.select(
        "user_id",
        *[
            F.date_format(f"stage{i}_ts", _TS_FMT_US).alias(f"stage{i}_s")
            for i in range(1, len(_FUNNEL_STAGES) + 1)
        ],
        "stage_reached",
    )


def _q71_sql() -> str:
    from franzoxide_spark.operators.funnel import sql_funnel

    inner = sql_funnel("events", "user_id", "event_type", "ts", _FUNNEL_STAGES)
    fmt = ", ".join(
        f"strftime(stage{i}_ts, '%Y-%m-%d %H:%M:%S.%f') AS stage{i}_s"
        for i in range(1, len(_FUNNEL_STAGES) + 1)
    )
    return f"SELECT user_id, {fmt}, stage_reached FROM ({inner})"


register("q71_funnel_stages", q71, _q71_sql())


# --------------------------------------------------------------------------
# Q72 — count-min-sketch heavy hitters over the word stream
#        (operators/sketch.py): the sketch kept RELATIONAL (d×w rows,
#        corpus-size-invariant) so both build and probe are plain
#        aggregations/joins and DuckDB can mirror them — unlike Spark's
#        binary count_min_sketch blob, which nothing in SQL can probe.
# --------------------------------------------------------------------------
def q72(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.sketch import cms_heavy_hitters

    words = table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("word")
    )
    return cms_heavy_hitters(words, "word", k=10, depth=4, width=256)


def _q72_sql() -> str:
    from franzoxide_spark.operators.sketch import sql_cms_heavy_hitters

    stream = "(SELECT UNNEST(string_split(text, ' ')) AS word FROM documents)"
    return sql_cms_heavy_hitters(stream, "word", k=10, depth=4, width=256)


register("q72_cms_heavy_hitters", q72, _q72_sql())


# --------------------------------------------------------------------------
# Q73 — weekly retention cohorts: users bucketed by the week of their
#        first event; for each (cohort_week, week_offset) the distinct
#        users active then. Cohort assignment is a whole-partition window
#        min (same single user-key shuffle as q71 — no self-join), the
#        final agg is map-side-combined over a (weeks × offsets)-bounded
#        key space.
# --------------------------------------------------------------------------
def q73(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events_rel(spark, sf_dir).select("user_id", "ts")
    w = Window.partitionBy("user_id")
    wk = F.date_trunc("week", F.col("ts"))
    with_cohort = ev.select(
        "user_id",
        wk.alias("__wk"),
        F.min(wk).over(w).alias("__cohort"),
    )
    return (
        with_cohort.groupBy("__cohort", "__wk")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .select(
            F.date_format("__cohort", "yyyy-MM-dd").alias("cohort_week"),
            F.floor(
                (F.col("__wk").cast("long") - F.col("__cohort").cast("long"))
                / (7 * 86400)
            )
            .cast("int")
            .alias("week_offset"),
            "n_users",
        )
    )


_Q73_SQL = """
WITH e AS (
  SELECT user_id, date_trunc('week', ts) AS wk,
         MIN(date_trunc('week', ts)) OVER (PARTITION BY user_id) AS cohort
  FROM events
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
       CAST(FLOOR(date_diff('day', cohort, wk) / 7.0) AS INT) AS week_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM e GROUP BY cohort, wk
"""


register("q73_retention_cohorts", q73, _Q73_SQL)


# --------------------------------------------------------------------------
# Q74 — sessionized event sequences: 30-minute-gap sessions per user
#        (lag + cumulative gap count over one user-key shuffle — the
#        sessionization q27 does with session_window, here kept explicit
#        so the session id can key a training-sequence string), then the
#        ordered event-type path per session. The behavioral-sequence
#        builder of a user-action LM pipeline.
# --------------------------------------------------------------------------
_Q74_GAP_MIN = 30


def q74(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.timeseries import with_session_index

    ev = _events_rel(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    sess = with_session_index(
        ev, "user_id", "ts", "event_id", gap_s=_Q74_GAP_MIN * 60
    )
    return (
        sess.groupBy("user_id", "session_idx")
        .agg(
            F.count("*").alias("n_events"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
        )
        .select(
            "user_id",
            F.col("session_idx").cast("int").alias("session_idx"),
            F.col("n_events").cast("int").alias("n_events"),
            "path",
        )
    )


_Q74_SQL = f"""
WITH o AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL '{_Q74_GAP_MIN} minutes'
              OR LAG(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS session_idx
  FROM o
)
SELECT user_id, CAST(session_idx AS INT) AS session_idx,
       CAST(COUNT(*) AS INT) AS n_events,
       string_agg(event_type, '>' ORDER BY ts, event_id) AS path
FROM s GROUP BY user_id, session_idx
"""


register("q74_session_sequences", q74, _Q74_SQL)


# --------------------------------------------------------------------------
# Q76 — mixture sampling EXECUTION: materialize q64's temperature-sampling
#        plan. Each doc replicates floor(rate) times plus one more with
#        probability frac(rate), decided by the deterministic seeded hash
#        (replay-safe, engine-agnostic — the property that makes the
#        sampled corpus reproducible across engines and restarts). Rates
#        are a (lang,source)-bounded broadcast; replication is a map-side
#        explode of a sequence — the corpus never shuffles. Output is the
#        per-domain audit: realized vs planned sampled token counts.
# --------------------------------------------------------------------------
def q76(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.text import hash60

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.size(F.split("text", " ")).alias("n_tok")
    )
    rates = q64(spark, sf_dir).select("lang", "source", "tokens", "sampling_rate")
    u = (
        F.pmod(hash60(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), F.lit(1_000_000))
        / 1_000_000.0
    )
    copies = (
        F.floor("sampling_rate")
        + F.when(u < F.col("sampling_rate") - F.floor("sampling_rate"), 1).otherwise(0)
    ).cast("int")
    sampled = (
        docs.join(F.broadcast(rates), ["lang", "source"])
        .withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .select(
            "lang", "source", "n_tok", "tokens", "sampling_rate",
            F.explode(F.expr("sequence(1, __copies)")).alias("__epoch"),
        )
    )
    return sampled.groupBy("lang", "source").agg(
        F.count("*").cast("int").alias("n_sampled_docs"),
        F.sum("n_tok").alias("sampled_tokens"),
        F.round(F.first("sampling_rate") * F.first("tokens"), 2).alias(
            "planned_tokens"
        ),
    )


def _q76_sql() -> str:
    from franzoxide_spark.functions.text import sql_hash60

    h = sql_hash60("'mix:' || CAST(doc_id AS VARCHAR)")
    return f"""
WITH rates AS ({_Q64_SQL.strip()}),
d AS (
  SELECT doc_id, lang, source, len(string_split(text, ' ')) AS n_tok
  FROM documents
),
j AS (
  SELECT d.*, r.tokens, r.sampling_rate,
         CAST(FLOOR(r.sampling_rate)
              + CASE WHEN ({h} % 1000000) / 1000000.0
                          < r.sampling_rate - FLOOR(r.sampling_rate)
                     THEN 1 ELSE 0 END AS INT) AS copies
  FROM d JOIN rates r USING (lang, source)
),
s AS (
  SELECT lang, source, n_tok, tokens, sampling_rate
  FROM j, UNNEST(range(1, copies + 1)) AS e(i)
  WHERE copies > 0
)
SELECT lang, source, CAST(COUNT(*) AS INT) AS n_sampled_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sampled_tokens,
       ROUND(FIRST(sampling_rate) * FIRST(tokens), 2) AS planned_tokens
FROM s GROUP BY lang, source
"""


register("q76_mixture_sampling", q76, _q76_sql())


# --------------------------------------------------------------------------
# Q77 — scalar int8 embedding quantization audit (functions/vectors.py):
#        per-vector max-abs scale, round-trip reconstruction MSE, max
#        |code|. The 4x memory-bandwidth lever for ANN at scale (IVF/LSH
#        shortlists scan codes; only the rerank touches full precision).
#        Entirely map-side expressions — no shuffle, no UDF; both engines
#        fold the list in element order, so the FP accumulation sequence
#        is identical and the 6-dp compare is deterministic.
# --------------------------------------------------------------------------
def q77(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.vectors import (
        dequant_mse,
        maxabs_scale,
        quantize_int8,
    )

    # the quantization expressions are interpreted HOFs (CPU-bound
    # map work): the fanned relation spreads a single-file scan across
    # cores — no-op with real input splits. Project the scale ONCE per
    # row; inlining it in the mse/max_code lambdas re-runs the O(dim)
    # fold per element (O(dim^2) per vector, ~3x wall at dim=64).
    emb = fanned_table(spark, sf_dir, "embeddings").withColumn(
        "_s", F.expr(maxabs_scale("embedding"))
    )
    codes = quantize_int8("embedding", scale="_s")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round("_s", 6).alias("scale"),
        dequant_mse("embedding", scale="_s").alias("mse"),
        F.array_max(F.transform(codes, lambda c: F.abs(c))).alias("max_code"),
    )


def _q77_sql() -> str:
    from franzoxide_spark.functions.vectors import sql_quant_audit

    a = sql_quant_audit("embedding")
    return f"""
SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
       {a['scale']} AS scale, {a['mse']} AS mse, {a['max_code']} AS max_code
FROM embeddings
"""


register("q77_embedding_quantization", q77, _q77_sql())


# --------------------------------------------------------------------------
# Q78 — numeric table profile (operators/profile.py): the data-quality
#        snapshot before trusting a new data drop. One aggregation job
#        for all columns, exact-decimal means (no FP-accumulation flap),
#        map-side unpivot of the 1-row aggregate.
# --------------------------------------------------------------------------
_Q78_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q78(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.profile import profile_numeric

    # two whole-table agg passes (moments + exact countDistinct) over
    # the single-split lineitem scan — fanned so both passes use the
    # cores (identity at scale, where lineitem has real splits)
    return profile_numeric(fanned_table(spark, sf_dir, "lineitem"), _Q78_COLS)


def _q78_sql() -> str:
    from franzoxide_spark.operators.profile import sql_profile_numeric

    return sql_profile_numeric("lineitem", _Q78_COLS)


register("q78_table_profile", q78, _q78_sql())


# --------------------------------------------------------------------------
# Q79 — hourly gap fill + forward fill over events (operators/
#        timeseries.py): regularize each user's series so every hour
#        between their first and last event exists, carrying the last
#        observed hourly value-sum through the gaps.
# --------------------------------------------------------------------------
def q79(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.timeseries import gap_fill_hourly

    ev = _events_rel(spark, sf_dir)
    return gap_fill_hourly(ev, "user_id", "ts", "value")


def _q79_sql() -> str:
    from franzoxide_spark.operators.timeseries import sql_gap_fill_hourly

    return sql_gap_fill_hourly("events", "user_id", "ts", "value")


register("q79_gap_fill_ffill", q79, _q79_sql())


# --------------------------------------------------------------------------
# Q80 — MAD outlier screen per event type (operators/stats.py): robust
#        median/MAD anomaly counting; group key space bounds every
#        intermediate, stream shuffles on the key with partial aggs.
# --------------------------------------------------------------------------
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.stats import mad_outliers

    return mad_outliers(
        table(spark, sf_dir, "events"), "event_type", "value", n_sigmas=3.0
    )


def _q80_sql() -> str:
    from franzoxide_spark.operators.stats import sql_mad_outliers

    return sql_mad_outliers("events", "event_type", "value", n_sigmas=3.0)


register("q80_mad_outliers", q80, _q80_sql())


# --------------------------------------------------------------------------
# Q81 — group-wise OLS trend (operators/stats.py): per-event-type linear
#        drift of value over time from exact integer/decimal sums — one
#        map-side-combined shuffle, slope/intercept are a handful of
#        double ops on identical operands in both engines.
# --------------------------------------------------------------------------
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.stats import groupwise_ols

    return groupwise_ols(table(spark, sf_dir, "events"), "event_type", "ts", "value")


def _q81_sql() -> str:
    from franzoxide_spark.operators.stats import sql_groupwise_ols

    return sql_groupwise_ols("events", "event_type", "ts", "value")


register("q81_groupwise_ols", q81, _q81_sql())


# --------------------------------------------------------------------------
# Q82 — C4-style duplicated-span REMOVAL (operators/rewrite.py): rewrite
#        every document with corpus-widely duplicated 16-token blocks cut
#        out (first occurrence survives) — the rewrite third mode of the
#        dedup family (q29 drops docs, q67 measures spans, q82 edits).
# --------------------------------------------------------------------------
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.rewrite import block_dedup_rewrite

    return block_dedup_rewrite(table(spark, sf_dir, "documents"), block=16)


def _q82_sql() -> str:
    from franzoxide_spark.operators.rewrite import sql_block_dedup_rewrite

    return sql_block_dedup_rewrite("documents", block=16)


register("q82_block_dedup_rewrite", q82, _q82_sql())


# --------------------------------------------------------------------------
# Q83 — kNN label propagation (operators/similarity.py): majority-vote
#        classification of a held-out tenth of the embedding table
#        against the labeled rest — the seed-label bootstrap used to
#        train corpus quality/domain classifiers from a small annotated
#        set. Broadcast query side; labeled pool never shuffles.
# --------------------------------------------------------------------------
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.similarity import knn_label_propagation

    emb = table(spark, sf_dir, "embeddings")
    return knn_label_propagation(
        emb.filter(F.col("vec_id") % 10 != 0),
        emb.filter(F.col("vec_id") % 10 == 0),
        "vec_id",
        "embedding",
        "label",
        k=5,
    )


def _q83_sql() -> str:
    from franzoxide_spark.operators.similarity import sql_knn_label_propagation

    return sql_knn_label_propagation(
        "embeddings", "vec_id", "embedding", "label", "vec_id % 10 = 0", k=5
    )


register("q83_knn_label_propagation", q83, _q83_sql())


# --------------------------------------------------------------------------
# Q84 — deterministic training-order shuffle (operators/ordering.py):
#        reproducible shard-major permutation, no global sort — the one
#        wide exchange is the shard hash; every window partition is
#        bounded by corpus/n_shards.
# --------------------------------------------------------------------------
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.ordering import deterministic_shuffle

    return deterministic_shuffle(
        table(spark, sf_dir, "documents"), "doc_id", seed=42, n_shards=8
    )


def _q84_sql() -> str:
    from franzoxide_spark.operators.ordering import sql_deterministic_shuffle

    return sql_deterministic_shuffle("documents", "doc_id", seed=42, n_shards=8)


register("q84_deterministic_shuffle", q84, _q84_sql())


# --------------------------------------------------------------------------
# Q85 — triplet hard-negative mining (operators/similarity.py): per
#        anchor, the hardest same-label positive and cross-label
#        negative — contrastive-pair construction for embedding
#        fine-tuning. Anchors broadcast; pool never shuffles.
# --------------------------------------------------------------------------
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.similarity import hard_negative_mining

    emb = table(spark, sf_dir, "embeddings")
    return hard_negative_mining(
        emb, emb.filter(F.col("vec_id") < 50), "vec_id", "embedding", "label"
    )


def _q85_sql() -> str:
    from franzoxide_spark.operators.similarity import sql_hard_negative_mining

    return sql_hard_negative_mining(
        "embeddings", "vec_id", "embedding", "label", "vec_id < 50"
    )


register("q85_hard_negative_mining", q85, _q85_sql())


# --------------------------------------------------------------------------
# Q86 — per-source distribution drift (operators/drift.py): JS divergence
#        of every source's unigram distribution vs the corpus over a
#        broadcast top-V vocab — the between-snapshot drift monitor that
#        feeds mixture reweighting (q64/q76). Bounded grid after one
#        token aggregation per side.
# --------------------------------------------------------------------------
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.drift import source_js_divergence

    return source_js_divergence(
        table(spark, sf_dir, "documents"), "source", "text", v=500
    )


def _q86_sql() -> str:
    from franzoxide_spark.operators.drift import sql_source_js_divergence

    return sql_source_js_divergence("documents", "source", "text", v=500)


register("q86_source_js_divergence", q86, _q86_sql())


# --------------------------------------------------------------------------
# Q87 — bigram PMI phrase mining (operators/corpus_stats.py): top-50
#        adjacent token pairs by pointwise mutual information (min
#        count 5) — the phrase-vocab pass before tokenizer training.
#        Unigram table broadcasts; only adjacent pairs materialize.
# --------------------------------------------------------------------------
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.corpus_stats import bigram_pmi_topk

    return bigram_pmi_topk(
        table(spark, sf_dir, "documents"), "text", min_count=5, k=50
    )


def _q87_sql() -> str:
    from franzoxide_spark.operators.corpus_stats import sql_bigram_pmi_topk

    return sql_bigram_pmi_topk("documents", "text", min_count=5, k=50)


register("q87_bigram_pmi", q87, _q87_sql())


# --------------------------------------------------------------------------
# Q88 — edit-distance near-dup (operators/dedup.py): SimHash-blocked
#        candidates verified by relative Levenshtein — the character-
#        level fuzzy axis the token-set dedup family can't see (OCR
#        noise, typo farms, template fills). Oracle = the q34 relation
#        with the same exact edit-distance gate.
# --------------------------------------------------------------------------
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.dedup import edit_distance_near_duplicates

    return edit_distance_near_duplicates(
        table(spark, sf_dir, "documents"), "text", "doc_id",
        max_hamming=3, max_rel_edit=0.02,
    )


def _q88_sql() -> str:
    from franzoxide_spark.queries.llm import Q34_SQL

    return f"""
WITH pairs AS ({Q34_SQL})
SELECT id_a, id_b, hamming,
       CAST(levenshtein(da.text, db.text) AS INT) AS edit_dist,
       ROUND(CAST(levenshtein(da.text, db.text) AS DOUBLE)
             / greatest(len(da.text), len(db.text)), 6) AS rel_edit
FROM pairs
JOIN documents da ON pairs.id_a = da.doc_id
JOIN documents db ON pairs.id_b = db.doc_id
WHERE ROUND(CAST(levenshtein(da.text, db.text) AS DOUBLE)
            / greatest(len(da.text), len(db.text)), 6) <= 0.02
"""


register("q88_edit_distance_neardup", q88, _q88_sql())


# --------------------------------------------------------------------------
# Q89 — rolling time-range features (operators/timeseries.py): per-event
#        trailing 7-day / 1-hour counts and exact sums plus inter-event
#        gap — the point-in-time feature-store derivation from an event
#        log. One shuffle on the key; all frames share one sort.
# --------------------------------------------------------------------------
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.timeseries import rolling_time_features

    ev = _events_rel(spark, sf_dir)
    return rolling_time_features(ev, "event_id", "user_id", "ts", "value")


def _q89_sql() -> str:
    from franzoxide_spark.operators.timeseries import sql_rolling_time_features

    return sql_rolling_time_features("events", "event_id", "user_id", "ts", "value")


register("q89_rolling_time_features", q89, _q89_sql())


# --------------------------------------------------------------------------
# Q90 — join-key skew report (operators/skew.py): the diagnosis that
#        decides between a plain shuffle join, AQE skew splitting, and
#        q66's salted join. One corpus shuffle into per-key counts; the
#        Gini rank-sum groups keys by count value so the only window
#        runs over distinct counts, never key cardinality.
# --------------------------------------------------------------------------
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.skew import join_skew_report

    return join_skew_report(_events_rel(spark, sf_dir), "user_id")


def _q90_sql() -> str:
    from franzoxide_spark.operators.skew import sql_join_skew_report

    return sql_join_skew_report("events", "user_id")


register("q90_join_skew_report", q90, _q90_sql())


# --------------------------------------------------------------------------
# Q91 — pairwise Pearson correlation matrix (operators/profile.py): the
#        redundancy check over a fact table's numeric columns. One scan,
#        exact-decimal co-moments; the corr formula itself runs as the
#        identical double expression on both engines.
# --------------------------------------------------------------------------
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.profile import correlation_matrix

    return correlation_matrix(table(spark, sf_dir, "lineitem"), _Q78_COLS)


def _q91_sql() -> str:
    from franzoxide_spark.operators.profile import sql_correlation_matrix

    return sql_correlation_matrix("lineitem", _Q78_COLS)


register("q91_correlation_matrix", q91, _q91_sql())


# --------------------------------------------------------------------------
# Q92 — per-label centroid distance outliers (operators/similarity.py):
#        the mislabeled-vector audit. Exact-integer centroid sums
#        (shuffle is |labels|*dim partials, corpus shuffles once for
#        the per-label rank), centroids broadcast back.
# --------------------------------------------------------------------------
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.similarity import centroid_outliers

    emb = table(spark, sf_dir, "embeddings")
    return centroid_outliers(emb, "vec_id", "embedding", "label", k=5)


def _q92_sql() -> str:
    from franzoxide_spark.operators.similarity import sql_centroid_outliers

    return sql_centroid_outliers("embeddings", "vec_id", "embedding", "label", k=5)


register("q92_centroid_outliers", q92, _q92_sql())


# --------------------------------------------------------------------------
# Q94 — vocabulary build + document encoding (operators/corpus_stats.py):
#        the tokenizer-apply step between q70's coverage check and a
#        training batch. Served by the map-side twin since r17: bounded
#        top-V vocab collected once, encode in ONE Arrow pass — no join,
#        no corpus shuffle (the relational vocab_encode form remains the
#        operator's oracle-mirrorable reference, parity-tested).
# --------------------------------------------------------------------------
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.corpus_stats import vocab_encode_mapside

    # two full tokenize passes (vocab count + encode) over the 1-file
    # fixture scan — fan out once per session (identity at scale).
    # r17: the map-side twin is now the served path — the top-V vocab is
    # a bounded (LIMIT 1000) collect shipped as a dict into one Arrow
    # pass, so the explode -> broadcast join -> doc-reassembly shuffle
    # of the join form disappears (interleaved A/B: 1.963 -> 1.265 s
    # min, -36%; output parity with vocab_encode pinned in
    # tests/test_corpus_stats.py and hash-checked against the same
    # relational oracle SQL).
    docs = fanned_table(spark, sf_dir, "documents")
    enc = vocab_encode_mapside(
        docs, "doc_id", "text", vocab_size=1000, max_tokens=32
    )
    # Driver-facing export serializes the id array: oracle-checked
    # queries emit only scalar columns (the driver canonicalizer can't
    # hash list cells — guarded by tests/test_oracle_queries.py).
    return enc.withColumn("ids", F.array_join("ids", ","))


def _q94_sql() -> str:
    from franzoxide_spark.operators.corpus_stats import sql_vocab_encode

    inner = sql_vocab_encode(
        "documents", "doc_id", "text", vocab_size=1000, max_tokens=32
    )
    return (
        "SELECT doc_id, n_tokens, array_to_string(ids, ',') AS ids, "
        f"oov_count FROM ({inner})"
    )


register("q94_vocab_encode", q94, _q94_sql())


# --------------------------------------------------------------------------
# Q95 — length-bucketed batch planning (operators/packing.py): fixed-size
#        batches of length-sorted documents per language with the
#        padding-waste audit (pad_tokens IS the wasted compute). One
#        group-key shuffle; sort, row_number, and the batch agg all ride
#        the same partitioning.
# --------------------------------------------------------------------------
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.packing import length_batch_plan

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    return length_batch_plan(docs, "doc_id", "n_tok", "lang", batch_docs=16)


def _q95_sql() -> str:
    from franzoxide_spark.operators.packing import sql_length_batch_plan

    return sql_length_batch_plan(
        "documents", "doc_id", "len(string_split(text, ' '))", "lang", batch_docs=16
    )


register("q95_length_batch_plan", q95, _q95_sql())


# --------------------------------------------------------------------------
# Q97 — fixed-width numeric histogram (operators/profile.py): the shape
#        view q78's min/max/mean can't give. Two passes: 1-row min/max
#        broadcast, then map-side binning into a bins-bounded key space;
#        empty bins emitted so the output is always exactly `bins` rows.
# --------------------------------------------------------------------------
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.profile import numeric_histogram

    return numeric_histogram(table(spark, sf_dir, "lineitem"), "l_extendedprice", bins=20)


def _q97_sql() -> str:
    from franzoxide_spark.operators.profile import sql_numeric_histogram

    return sql_numeric_histogram("lineitem", "l_extendedprice", bins=20)


register("q97_numeric_histogram", q97, _q97_sql())


# --------------------------------------------------------------------------
# Q98 — event-type transition matrix: per-user consecutive (from → to)
#        event-type pairs with row-normalized probabilities — the
#        Markov-prior view of the q74 behavioral sequences (what a
#        next-action model's training data looks like in aggregate).
#        One user-key shuffle for the lag; the cell grid is bounded by
#        |event_types|² so everything after the partial agg is tiny.
#        Timestamp ties break on event_id (same total order as q89).
# --------------------------------------------------------------------------
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events_rel(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("long"), "event_id"
    )
    pairs = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    cell = pairs.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wn = Window.partitionBy("from_type")
    return cell.select(
        "from_type",
        "to_type",
        F.col("n").cast("int").alias("n"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wn).cast("double"), 6
        ).alias("p"),
    )


_Q98_SQL = """
WITH ordered AS (
  SELECT event_type AS to_type,
         LAG(event_type) OVER (PARTITION BY user_id
           ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS from_type
  FROM events
),
cell AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM ordered WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type
)
SELECT from_type, to_type, CAST(n AS INT) AS n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE), 6) AS p
FROM cell
"""


register("q98_event_transitions", q98, _Q98_SQL)


# --------------------------------------------------------------------------
# Q102 — rolling 7-day active users (WAU): distinct users per trailing
#        7-day window, exactly. Rolling COUNT(DISTINCT) has no window-
#        frame form in either engine; the composition is (user, day)
#        dedup → each active day contributes to the 7 windows ending
#        d..d+6 (sequence explode, bounded ×7 fanout) → count distinct
#        per window end. Shuffles: the (user, day) dedup and the final
#        per-window distinct — both map-side-combined; windows with no
#        activity in range simply don't emit (the gap-fill is q79's job).
# --------------------------------------------------------------------------
def q102(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_rel(spark, sf_dir)
    # r17: fold the rolling-distinct composition onto the user-bucketed
    # landing. groupBy(user_id) needs NO exchange there, and the per-user
    # covered-window set (union of the per-active-day [d, d+6] window
    # ranges, array_distinct'd in the JVM) emits each (user, window)
    # pair exactly ONCE — so the final per-window aggregate is a plain
    # map-side-combined count instead of a second full-data
    # distinct-aggregate. The old shape paid a (user, day) distinct AND
    # a countDistinct expansion, both full-data exchanges. Identical
    # result on non-null user ids (all fixtures; countDistinct would
    # ignore null users where this counts the null group once).
    span = ev.agg(F.date_trunc("day", F.max("ts")).alias("__last"))
    user_windows = (
        ev.groupBy("user_id")
        .agg(
            F.collect_set(F.date_trunc("day", "ts")).alias("__days")
        )
        .select(
            F.explode(
                F.array_distinct(
                    F.flatten(
                        F.expr(
                            "transform(__days, d -> "
                            "sequence(d, d + interval 6 days, interval 1 day))"
                        )
                    )
                )
            ).alias("__w")
        )
    )
    return (
        user_windows.crossJoin(F.broadcast(span))
        .filter(F.col("__w") <= F.col("__last"))
        .groupBy(F.date_format("__w", "yyyy-MM-dd").alias("window_end"))
        .agg(F.count(F.lit(1)).cast("int").alias("wau"))
    )


_Q102_SQL = """
WITH user_days AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
),
span AS (SELECT date_trunc('day', MAX(ts)) AS last_day FROM events),
contrib AS (
  SELECT user_id, w
  FROM user_days,
       UNNEST(generate_series(d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS t(w),
       span
  WHERE w <= last_day
)
SELECT strftime(w, '%Y-%m-%d') AS window_end,
       CAST(COUNT(DISTINCT user_id) AS INT) AS wau
FROM contrib GROUP BY w
"""


register("q102_rolling_wau", q102, _Q102_SQL)


# --------------------------------------------------------------------------
# Q105 — funnel time-to-convert percentiles: the latency dimension q71's
#        stage table lacks — per transition (view→click, click→purchase),
#        converting users' exact interpolated p50/p90 seconds between
#        first-times. Rides q71's single user-key shuffle; the
#        percentile groups are |transitions|-bounded (exact `percentile`
#        buffers per group — swap approx_percentile at extreme user
#        counts, the q49-documented trade).
# --------------------------------------------------------------------------
def q105(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.funnel import funnel

    ev = _events_rel(spark, sf_dir)
    f = funnel(ev, "user_id", "event_type", "ts", _FUNNEL_STAGES)
    # ONE aggregation over ONE funnel execution: per transition the
    # diff is null for non-converters, and count/percentile ignore
    # nulls — a union of per-transition arms would re-run the whole
    # funnel (full corpus scan + user shuffle) once per transition
    aggs = []
    for i in range(1, len(_FUNNEL_STAGES)):
        diff = F.when(
            F.col("stage_reached") >= i + 1,
            F.col(f"stage{i + 1}_ts").cast("long")
            - F.col(f"stage{i}_ts").cast("long"),
        )
        aggs += [
            F.count(diff).cast("int").alias(f"__n_{i}"),
            F.round(F.percentile(diff, F.lit(0.5)), 6).alias(f"__p50_{i}"),
            F.round(F.percentile(diff, F.lit(0.9)), 6).alias(f"__p90_{i}"),
        ]
    one = f.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(
                    f"{_FUNNEL_STAGES[i - 1]}>{_FUNNEL_STAGES[i]}"
                ).alias("transition"),
                F.col(f"__n_{i}").alias("n_converted"),
                F.col(f"__p50_{i}").alias("p50_s"),
                F.col(f"__p90_{i}").alias("p90_s"),
            )
            for i in range(1, len(_FUNNEL_STAGES))
        ]
    )
    return one.select(F.explode(rows).alias("t")).select("t.*")


def _q105_sql() -> str:
    from franzoxide_spark.operators.funnel import sql_funnel

    inner = sql_funnel("events", "user_id", "event_type", "ts", _FUNNEL_STAGES)
    arms = []
    for i in range(1, len(_FUNNEL_STAGES)):
        name = f"{_FUNNEL_STAGES[i - 1]}>{_FUNNEL_STAGES[i]}"
        d = (
            f"CASE WHEN stage_reached >= {i + 1} THEN"
            f" CAST(FLOOR(epoch(stage{i + 1}_ts)) AS BIGINT)"
            f" - CAST(FLOOR(epoch(stage{i}_ts)) AS BIGINT) END"
        )
        arms.append(
            f"""SELECT '{name}' AS transition,
       CAST(COUNT({d}) AS INT) AS n_converted,
       ROUND(quantile_cont({d}, 0.5), 6) AS p50_s,
       ROUND(quantile_cont({d}, 0.9), 6) AS p90_s
FROM f"""
        )
    return f"WITH f AS ({inner})\n" + " UNION ALL ".join(arms)


register("q105_funnel_latency", q105, _q105_sql())


# --------------------------------------------------------------------------
# Q109 — quantile feature discretization: exact decile boundaries of
#        the event value (one percentile aggregate), then a map-side
#        bucket assignment (bucket = #boundaries strictly below the
#        value) and per-bucket stats. The GBDT-style feature-binning
#        prep — the scale-safe alternative to NTILE's global sort:
#        boundaries are 9 numbers broadcast as literals into a pure
#        map stage. Boundaries are rounded to 6 dp BEFORE the compare
#        so both engines make identical bucket decisions at the edges.
# --------------------------------------------------------------------------
_Q109_QS = [i / 10.0 for i in range(1, 10)]


def q109(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        *[
            F.round(F.percentile("value", F.lit(q)), 6).alias(f"__b{i}")
            for i, q in enumerate(_Q109_QS)
        ]
    ).first()
    bs = [bounds[f"__b{i}"] for i in range(len(_Q109_QS))]
    v = F.round(F.col("value").cast("double"), 6)
    bucket = sum(
        [(v > F.lit(b)).cast("int") for b in bs], F.lit(0)
    ).alias("bucket")
    return (
        ev.select(bucket, F.col("value").cast("double").alias("__v"))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("int").alias("n"),
            F.round(F.min("__v"), 6).alias("lo"),
            F.round(F.max("__v"), 6).alias("hi"),
        )
    )


_Q109_SQL = f"""
WITH bounds AS (
  SELECT {", ".join(f"ROUND(quantile_cont(value, {q}), 6) AS b{i}"
                    for i, q in enumerate(_Q109_QS))}
  FROM events
),
assigned AS (
  SELECT {" + ".join(f"CAST(ROUND(CAST(value AS DOUBLE), 6) > b{i} AS INT)"
                     for i in range(len(_Q109_QS)))} AS bucket,
         CAST(value AS DOUBLE) AS v
  FROM events, bounds
)
SELECT bucket, CAST(COUNT(*) AS INT) AS n,
       ROUND(MIN(v), 6) AS lo, ROUND(MAX(v), 6) AS hi
FROM assigned GROUP BY bucket
"""


register("q109_quantile_binning", q109, _Q109_SQL)


# --------------------------------------------------------------------------
# Q110 — inter-arrival burstiness per user: mean/σ of the gaps between a
#        user's consecutive events and the Goh–Barabási burstiness
#        B = (σ−μ)/(σ+μ) ∈ [−1, 1] (−1 periodic, 0 Poisson, → 1 bursty)
#        — the behavioral-regularity feature that separates bots from
#        humans in an event log. Gaps are INTEGER seconds (same q89
#        total order), so Σg and Σg² accumulate exactly in decimal and
#        the μ/σ formulas run as identical double expressions on both
#        engines (the q91 pattern). One user-key shuffle shared by the
#        lag and the aggregation.
# --------------------------------------------------------------------------
def q110(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events_rel(spark, sf_dir)
    wo = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("long"), "event_id"
    )
    g = (
        F.col("ts").cast("long")
        - F.lag(F.col("ts").cast("long")).over(wo)
    )
    gaps = ev.select("user_id", g.alias("__g")).filter(
        F.col("__g").isNotNull()
    )
    agg = gaps.groupBy("user_id").agg(
        F.count("*").alias("__n"),
        F.sum(F.col("__g").cast("decimal(19,0)")).cast("double").alias("__s"),
        F.sum(
            F.col("__g").cast("decimal(19,0)")
            * F.col("__g").cast("decimal(19,0)")
        )
        .cast("double")
        .alias("__s2"),
    )
    n = F.col("__n").cast("double")
    mu = F.col("__s") / n
    sigma = F.sqrt(F.col("__s2") / n - (F.col("__s") / n) * (F.col("__s") / n))
    return agg.select(
        "user_id",
        F.col("__n").cast("int").alias("n_gaps"),
        F.round(mu, 6).alias("mean_gap_s"),
        F.round(sigma, 6).alias("std_gap_s"),
        F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
    )


_Q110_SQL = """
WITH gaps AS (
  SELECT user_id,
         CAST(FLOOR(epoch(ts)) AS BIGINT)
           - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id) AS g
  FROM events
),
agg AS (
  SELECT user_id, COUNT(*) AS n,
         CAST(SUM(CAST(g AS HUGEINT)) AS DOUBLE) AS s,
         CAST(SUM(CAST(g AS HUGEINT) * g) AS DOUBLE) AS s2
  FROM gaps WHERE g IS NOT NULL GROUP BY user_id
)
SELECT user_id, CAST(n AS INT) AS n_gaps,
       ROUND(s / CAST(n AS DOUBLE), 6) AS mean_gap_s,
       ROUND(SQRT(s2 / CAST(n AS DOUBLE)
                  - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE))), 6)
         AS std_gap_s,
       ROUND((SQRT(s2 / CAST(n AS DOUBLE)
                   - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)))
              - s / CAST(n AS DOUBLE))
             / (SQRT(s2 / CAST(n AS DOUBLE)
                     - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)))
                + s / CAST(n AS DOUBLE)), 6) AS burstiness
FROM agg
"""


register("q110_interarrival_burstiness", q110, _Q110_SQL)


# --------------------------------------------------------------------------
# Q112 — class-balance plan over the labeled embedding table: per label
#        its share, the inverse-frequency class weight N/(k·n) a loss
#        function would use, and the integer oversample factor that
#        levels the classes — the imbalanced-training prep between
#        labeling (q83) and batch construction (q95). One partial-
#        aggregated shuffle into a |labels|-bounded grid; the global
#        totals ride a single-partition window over that grid (bounded,
#        never the corpus).
# --------------------------------------------------------------------------
def q112(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = table(spark, sf_dir, "embeddings")
    per = emb.groupBy("label").agg(F.count("*").alias("__n"))
    w = Window.partitionBy()
    total = F.sum("__n").over(w)
    k = F.count("*").over(w)
    mx = F.max("__n").over(w)
    return per.select(
        "label",
        F.col("__n").cast("int").alias("n"),
        F.round(F.col("__n").cast("double") / total.cast("double"), 6).alias(
            "frac"
        ),
        F.round(
            total.cast("double") / (k.cast("double") * F.col("__n").cast("double")),
            6,
        ).alias("class_weight"),
        F.ceil(mx.cast("double") / F.col("__n").cast("double"))
        .cast("int")
        .alias("oversample"),
    )


_Q112_SQL = """
WITH per AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label)
SELECT label, CAST(n AS INT) AS n,
       ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE), 6) AS frac,
       ROUND(CAST(SUM(n) OVER () AS DOUBLE)
             / (CAST(COUNT(*) OVER () AS DOUBLE) * CAST(n AS DOUBLE)), 6)
         AS class_weight,
       CAST(CEIL(CAST(MAX(n) OVER () AS DOUBLE) / CAST(n AS DOUBLE)) AS INT)
         AS oversample
FROM per
"""


register("q112_class_balance_plan", q112, _Q112_SQL)


# --------------------------------------------------------------------------
# Q114 — interval-join attribution (the batch face of the stream-stream
#        watermarked interval join, streaming/joins.py). view->purchase
#        pairs per user within a 2-hour bound, rolled up per view-hour.
#        Streaming semantics (watermark state eviction, late-pair drop)
#        are locked by tests/test_streaming.py; this entry oracle-checks
#        the join predicate + lag math. One shuffle per side on user_id,
#        interval bound as a join residual — never a cartesian.
# --------------------------------------------------------------------------
def q114(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.numeric import dec
    from franzoxide_spark.streaming.joins import interval_join

    ev = _events_rel(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "value"
    )
    pairs = interval_join(
        views, purchases, on="user_id", left_ts="v_ts", right_ts="p_ts",
        upper="2 hours",
    )
    return (
        pairs.withColumn(
            "__lag_us", F.unix_micros("p_ts") - F.unix_micros("v_ts")
        )
        .groupBy(
            F.date_format(F.date_trunc("hour", "v_ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("view_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.round(F.avg("__lag_us") / F.lit(1e6), 3).alias("avg_lag_s"),
            # exact-decimal sum (dec()): raw double addition order differs
            # across engines and can flap the 2-dp round (the q163 fix)
            F.round(F.sum(dec(F.col("value"))).cast("double"), 2)
            .alias("attributed_value"),
        )
    )


def _q114_sql() -> str:
    from franzoxide_spark.functions.numeric import sql_dec

    return f"""
WITH v AS (
  SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase'
)
SELECT strftime(date_trunc('hour', v_ts), '%Y-%m-%d %H:%M:%S') AS view_hour,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT v.user_id) AS n_users,
       ROUND(AVG(date_diff('microsecond', v_ts, p_ts)) / 1e6, 3) AS avg_lag_s,
       ROUND(CAST(SUM({sql_dec('value')}) AS DOUBLE), 2) AS attributed_value
FROM v JOIN p ON v.user_id = p.user_id
   AND p_ts > v_ts AND p_ts <= v_ts + INTERVAL 2 HOUR
GROUP BY 1
"""


_Q114_SQL = _q114_sql()


register("q114_interval_join_attribution", q114, _Q114_SQL)


# --------------------------------------------------------------------------
# Q117 — per-group winsorization report (operators/stats.py): quantile-
#        clip events.value per event_type — the outlier treatment a
#        feature/reward column gets before training, with clip counts and
#        exact-decimal before/after means.
# --------------------------------------------------------------------------
def q117(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.stats import winsorize_report

    return winsorize_report(
        table(spark, sf_dir, "events"), "value", "event_type"
    )


def _q117_sql() -> str:
    from franzoxide_spark.operators.stats import sql_winsorize_report

    return sql_winsorize_report("events", "value", "event_type")


register("q117_winsorize_report", q117, _q117_sql())


# --------------------------------------------------------------------------
# Q121 — JSON key profile (operators/profile.py:json_key_profile):
#        schema-on-read exploration of a payload column — per key,
#        presence fraction and text-level value kinds. The fixture's
#        props is single-key, so the query enriches it deterministically
#        (same string construction on both engines) into a variable-key
#        object with optional boolean/numeric members.
# --------------------------------------------------------------------------
def q121(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.profile import json_key_profile

    ev = fanned_table(spark, sf_dir, "events")
    j = F.concat(
        F.lit('{"id": '), F.col("event_id").cast("string"),
        F.lit(', "tag": "'), F.col("event_type"), F.lit('"'),
        F.when(F.col("event_id") % 3 == 0, F.lit(', "ok": true')).otherwise(
            F.lit("")
        ),
        F.when(
            F.col("event_id") % 4 == 0,
            F.concat(
                F.lit(', "score": '), (F.col("user_id") % 100).cast("string")
            ),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    return json_key_profile(ev.select(j.alias("j")), "j")


def _q121_sql() -> str:
    from franzoxide_spark.operators.profile import sql_json_key_profile

    rel = """(
  SELECT '{"id": ' || event_id || ', "tag": "' || event_type || '"'
         || CASE WHEN event_id % 3 = 0 THEN ', "ok": true' ELSE '' END
         || CASE WHEN event_id % 4 = 0
                 THEN ', "score": ' || CAST(user_id % 100 AS VARCHAR)
                 ELSE '' END
         || '}' AS j
  FROM events
)"""
    return sql_json_key_profile(rel, "j")


register("q121_json_key_profile", q121, _q121_sql())


# --------------------------------------------------------------------------
# Q124 — incremental aggregate refresh (operators/incremental.py): the
#        Spark side refreshes a stored rollup by merging it with the
#        delta's partial aggregate (cost ~ delta); the oracle aggregates
#        the WHOLE table directly — a hash match proves the merge path
#        is exactly the full recompute, the equivalence every
#        materialized-view refresh rests on.
# --------------------------------------------------------------------------
_Q124_CUTOFF = "2024-01-15"


def q124(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.incremental import (
        finalize,
        merge_partials,
        partial_agg,
    )

    ev = table(spark, sf_dir, "events")
    cut = F.lit(_Q124_CUTOFF).cast("timestamp")
    # stored/delta partials from ONE scan (r17): the refresh boundary is
    # a grouping key, so the (event_type, side) rollup IS the union of
    # the stored partial and the delta partial — merge_partials re-sums
    # them per event_type exactly as it would two separate frames
    # (counts and exact-decimal sums are order-free), but the old shape
    # scanned events twice with complementary ts filters to build the
    # two sides. In production only the delta side is computed per
    # refresh; in this self-contained proof both sides come from the
    # same table, so one partitioned pass is the honest cost.
    parts = partial_agg(
        ev.withColumn("__side", F.col("ts") >= cut),
        ["event_type", "__side"],
        "value",
    ).drop("__side")
    return finalize(merge_partials(parts, keys=["event_type"]), ["event_type"])


def _q124_sql() -> str:
    from franzoxide_spark.functions.numeric import sql_dec

    return f"""
SELECT event_type, COUNT(*) AS n,
       CAST(SUM({sql_dec("value")}) AS DOUBLE) AS value_sum,
       ROUND(CAST(SUM({sql_dec("value")}) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS value_avg
FROM events GROUP BY event_type
"""


register("q124_incremental_refresh", q124, _q124_sql())


# --------------------------------------------------------------------------
# Q126 — bottom-k sampled quantiles (streaming/stateful.py:
#        batch_bottomk_quantiles): the batch face of the streaming
#        quantile estimator — per-key uniform sample = the capacity rows
#        with the smallest deterministic id-hashes, quartiles
#        interpolated over the sample. Oracle-checking this face (plus
#        the exact stream==batch parity test) pins the streaming
#        operator's semantics end-to-end.
# --------------------------------------------------------------------------
_Q126_CAP = 128


def q126(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.streaming.stateful import batch_bottomk_quantiles

    ev = table(spark, sf_dir, "events")
    out = batch_bottomk_quantiles(ev, "event_type", "event_id", "value", _Q126_CAP)
    return out.select(
        "key", "n_seen", "sample_n",
        F.round("p25", 6).alias("p25"),
        F.round("p50", 6).alias("p50"),
        F.round("p75", 6).alias("p75"),
    )


def _q126_sql() -> str:
    from franzoxide_spark.functions.text import sql_hash60

    return f"""
WITH keyed AS (
  SELECT CAST(event_type AS VARCHAR) AS key, event_id AS rid, value
  FROM events
),
h AS (SELECT key, rid, value, {sql_hash60("rid")} AS hh FROM keyed),
rk AS (
  SELECT key, value,
         row_number() OVER (PARTITION BY key ORDER BY hh, rid) AS rk
  FROM h
),
tot AS (SELECT key, COUNT(*) AS n_seen FROM keyed GROUP BY key)
SELECT key, n_seen,
       CAST(COUNT(*) AS INT) AS sample_n,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.5), 6) AS p50,
       ROUND(quantile_cont(value, 0.75), 6) AS p75
FROM rk JOIN tot USING (key)
WHERE rk <= {_Q126_CAP}
GROUP BY key, n_seen
"""


register("q126_bottomk_quantiles", q126, _q126_sql())


# --------------------------------------------------------------------------
# Q127 — geohash density (operators/geo.py): spatial GROUP BY on the
#        public-spec geohash cell (bit-interleave + base32, the
#        geospatial sibling of q123's z-curve). Events carry no
#        coordinates, so lat/lon derive deterministically from ids with
#        the identical expression on both engines; encoding correctness
#        itself is pinned by the spec vectors in tests/test_geo.py.
# --------------------------------------------------------------------------
_Q127_LAT = "((user_id * 37) % 17000) / 100.0 - 85.0"
_Q127_LON = "((event_id * 91) % 36000) / 100.0 - 180.0"


def q127(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.geo import with_geohash

    # r17 fan-out audit: REVERTED to the plain scan (plain 0.45-0.46 s
    # vs fanned 0.55-0.69 s — this consumer projects a 2-column sliver,
    # so the full-width fanned materialization is pure overhead)
    ev = table(spark, sf_dir, "events").select(
        F.expr(_Q127_LAT).alias("lat"), F.expr(_Q127_LON).alias("lon")
    )
    return (
        with_geohash(ev, "lat", "lon", precision=3, out_col="cell")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def _q127_sql() -> str:
    from franzoxide_spark.operators.geo import sql_geohash

    return f"""
WITH pts AS (
  SELECT {_Q127_LAT} AS lat, {_Q127_LON} AS lon FROM events
)
SELECT {sql_geohash("lat", "lon", 3)} AS cell, COUNT(*) AS n_events
FROM pts GROUP BY 1
"""


register("q127_geohash_density", q127, _q127_sql())


# --------------------------------------------------------------------------
# Q129 — completeness monitor (operators/timeseries.py): per-day counts
#        over the FULL date span with missing days emitted as n=0 (the
#        alert case a bare groupBy hides), flagged against the trailing
#        7-day average.
# --------------------------------------------------------------------------
def q129(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.timeseries import completeness_monitor

    return completeness_monitor(table(spark, sf_dir, "events"))


def _q129_sql() -> str:
    from franzoxide_spark.operators.timeseries import sql_completeness_monitor

    return sql_completeness_monitor("events")


register("q129_completeness_monitor", q129, _q129_sql())


# --------------------------------------------------------------------------
# Q132 — string-column type inference (operators/profile.py): the
#        schema-suggestion pass over schemaless string data, using the
#        SAME try_cast ladder a later CAST will enforce. Inputs are
#        events fields re-rendered as strings (with %7 ids corrupted to
#        non-numeric text so no column is trivially 100% castable).
# --------------------------------------------------------------------------
def q132(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.profile import infer_column_types

    # try_cast ladder over five derived string columns of EVERY row —
    # the classic single-task wall on the 1-file fixture (fanned_table
    # is identity at scale, where the scan has natural splits)
    ev = fanned_table(spark, sf_dir, "events")
    s = ev.select(
        F.when(F.col("event_id") % 7 == 0, F.lit("n/a"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("user_s"),
        F.col("value").cast("string").alias("value_s"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_s"),
        F.when(F.col("event_id") % 2 == 0, F.lit("true"))
        .otherwise(F.lit("false"))
        .alias("flag_s"),
        F.col("event_type").alias("type_s"),
    )
    return infer_column_types(s, ["user_s", "value_s", "day_s", "flag_s", "type_s"])


def _q132_sql() -> str:
    from franzoxide_spark.operators.profile import sql_infer_column_types

    rel = """(
  SELECT CASE WHEN event_id % 7 = 0 THEN 'n/a'
              ELSE CAST(user_id AS VARCHAR) END AS user_s,
         CAST(value AS VARCHAR) AS value_s,
         strftime(ts, '%Y-%m-%d') AS day_s,
         CASE WHEN event_id % 2 = 0 THEN 'true' ELSE 'false' END AS flag_s,
         event_type AS type_s
  FROM events
)"""
    return sql_infer_column_types(rel, ["user_s", "value_s", "day_s", "flag_s", "type_s"])


register("q132_type_inference", q132, _q132_sql())


# --------------------------------------------------------------------------
# Q141 — frequent co-occurrence pairs (operators/basket.py): per-user
#        event-type baskets, pairs with support + lift — the A-Priori
#        first pass / association-rule primitive. Map-side pair explode
#        over bounded baskets; the SQL mirror uses the equivalent
#        self-join form.
# --------------------------------------------------------------------------
def q141(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.basket import frequent_pairs

    ev = _events_rel(spark, sf_dir)
    return frequent_pairs(ev, "user_id", "event_type", min_support=0.05)


def _q141_sql() -> str:
    from franzoxide_spark.operators.basket import sql_frequent_pairs

    return sql_frequent_pairs("events", "user_id", "event_type", min_support=0.05)


register("q141_frequent_pairs", q141, _q141_sql())


# --------------------------------------------------------------------------
# Q143 — last-touch conversion attribution: each purchase credits the
#        user's most recent prior non-purchase event within the 1-hour
#        lookback ('direct' when none) — the marketing-attribution shape
#        on the same single user-key shuffle as the rest of the event
#        family. Deterministic total order: (ts, event_id).
# --------------------------------------------------------------------------
_Q143_LOOKBACK_S = 3600


def q143(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _events_rel(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(
            F.col("event_type") != "purchase",
            F.struct(F.col("ts").alias("t"), F.col("event_type").alias("ch")),
        ),
        ignorenulls=True,
    ).over(w)
    attributed = (
        ev.withColumn("__touch", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.when(
                F.col("__touch").isNotNull()
                & (
                    F.col("ts").cast("long") - F.col("__touch.t").cast("long")
                    <= _Q143_LOOKBACK_S
                ),
                F.col("__touch.ch"),
            )
            .otherwise(F.lit("direct"))
            .alias("channel")
        )
    )
    return attributed.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases")
    )


_Q143_SQL = f"""
WITH touched AS (
  SELECT event_type, ts,
         last_value(CASE WHEN event_type <> 'purchase'
                         THEN struct_pack(t := ts, ch := event_type) END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS tch
  FROM events
)
SELECT CASE WHEN tch IS NOT NULL
             AND CAST(FLOOR(epoch(ts)) AS BIGINT)
                 - CAST(FLOOR(epoch(tch.t)) AS BIGINT) <= {_Q143_LOOKBACK_S}
            THEN tch.ch ELSE 'direct' END AS channel,
       COUNT(*) AS n_purchases
FROM touched
WHERE event_type = 'purchase'
GROUP BY 1
"""


register("q143_purchase_attribution", q143, _Q143_SQL)


# --------------------------------------------------------------------------
# Q145 — A/B experiment report with Welch's t: users split into arms by
#        id parity, per-arm n / mean / sample variance of the event
#        value, then the Welch statistic and its Satterthwaite df.
#        Moments come from exact-decimal Σx / Σx² (ONE map-side-combined
#        conditional-aggregation pass over the log — the scale shape of
#        every metrics pipeline), so the variances cannot flap on FP
#        accumulation order; the final t/df arithmetic is the identical
#        double expression on identical inputs in both engines.
# --------------------------------------------------------------------------
def q145(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.numeric import dec

    ev = table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    arm_a = (F.col("user_id") % 2) == 0
    v = dec(F.col("value"))
    agg = ev.agg(
        F.sum(arm_a.cast("long")).alias("n_a"),
        F.sum((~arm_a).cast("long")).alias("n_b"),
        F.sum(F.when(arm_a, v)).cast("double").alias("s_a"),
        F.sum(F.when(~arm_a, v)).cast("double").alias("s_b"),
        F.sum(F.when(arm_a, v * v)).cast("double").alias("ss_a"),
        F.sum(F.when(~arm_a, v * v)).cast("double").alias("ss_b"),
    )
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_a = (F.col("ss_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("ss_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    qa = var_a / F.col("n_a")
    qb = var_b / F.col("n_b")
    t = (mean_a - mean_b) / F.sqrt(qa + qb)
    df = (qa + qb) * (qa + qb) / (
        qa * qa / (F.col("n_a") - 1) + qb * qb / (F.col("n_b") - 1)
    )
    return agg.select(
        F.col("n_a").cast("int").alias("n_a"),
        F.col("n_b").cast("int").alias("n_b"),
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.round(var_a, 6).alias("var_a"),
        F.round(var_b, 6).alias("var_b"),
        F.round(t, 6).alias("welch_t"),
        F.round(df, 6).alias("welch_df"),
    )


def _q145_sql() -> str:
    from franzoxide_spark.functions.numeric import sql_dec

    v = sql_dec("value")
    return f"""
WITH agg AS (
  SELECT SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS n_b,
         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN {v} END) AS DOUBLE) AS s_a,
         CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN {v} END) AS DOUBLE) AS s_b,
         CAST(SUM(CASE WHEN user_id % 2 = 0 THEN {v} * {v} END) AS DOUBLE) AS ss_a,
         CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN {v} * {v} END) AS DOUBLE) AS ss_b
  FROM events WHERE value IS NOT NULL
)
SELECT CAST(n_a AS INT) AS n_a, CAST(n_b AS INT) AS n_b,
       ROUND(s_a / n_a, 6) AS mean_a,
       ROUND(s_b / n_b, 6) AS mean_b,
       ROUND((ss_a - s_a * s_a / n_a) / (n_a - 1), 6) AS var_a,
       ROUND((ss_b - s_b * s_b / n_b) / (n_b - 1), 6) AS var_b,
       ROUND((s_a / n_a - s_b / n_b)
             / sqrt((ss_a - s_a * s_a / n_a) / (n_a - 1) / n_a
                    + (ss_b - s_b * s_b / n_b) / (n_b - 1) / n_b), 6)
         AS welch_t,
       ROUND(((ss_a - s_a * s_a / n_a) / (n_a - 1) / n_a
              + (ss_b - s_b * s_b / n_b) / (n_b - 1) / n_b)
             * ((ss_a - s_a * s_a / n_a) / (n_a - 1) / n_a
                + (ss_b - s_b * s_b / n_b) / (n_b - 1) / n_b)
             / (((ss_a - s_a * s_a / n_a) / (n_a - 1) / n_a)
                * ((ss_a - s_a * s_a / n_a) / (n_a - 1) / n_a) / (n_a - 1)
                + ((ss_b - s_b * s_b / n_b) / (n_b - 1) / n_b)
                * ((ss_b - s_b * s_b / n_b) / (n_b - 1) / n_b) / (n_b - 1)),
             6) AS welch_df
FROM agg
"""


register("q145_ab_welch_report", q145, _q145_sql())


# --------------------------------------------------------------------------
# Q149 — hourly session concurrency: how many 30-minute-gap sessions
#        (q74's sessionizer) are live in each hour — the load-curve /
#        capacity metric. Sessions collapse to (start, end) on the one
#        user-key shuffle, each session explodes into its own hour span
#        (bounded by session duration, not corpus size), and the final
#        count is a map-side-combined hour aggregation — no global sweep
#        line, no unpartitioned window.
# --------------------------------------------------------------------------
def q149(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.timeseries import with_session_index

    ev = _events_rel(spark, sf_dir).select("user_id", "ts", "event_id")
    sess = with_session_index(
        ev, "user_id", "ts", "event_id", gap_s=_Q74_GAP_MIN * 60
    )
    spans = sess.groupBy("user_id", "session_idx").agg(
        F.date_trunc("hour", F.min("ts")).alias("__h0"),
        F.date_trunc("hour", F.max("ts")).alias("__h1"),
    )
    return (
        spans.select(
            F.explode(
                F.expr("sequence(__h0, __h1, interval 1 hour)")
            ).alias("__h")
        )
        .groupBy(F.date_format("__h", "yyyy-MM-dd HH:00").alias("hour_s"))
        .agg(F.count(F.lit(1)).cast("int").alias("n_active_sessions"))
    )


_Q149_SQL = f"""
WITH o AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL '{_Q74_GAP_MIN} minutes'
              OR LAG(ts) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT *, SUM(is_new) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS session_idx
  FROM o
),
spans AS (
  SELECT user_id, session_idx,
         date_trunc('hour', MIN(ts)) AS h0,
         date_trunc('hour', MAX(ts)) AS h1
  FROM s GROUP BY user_id, session_idx
),
hours AS (
  SELECT UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM spans
)
SELECT strftime(h, '%Y-%m-%d %H:00') AS hour_s,
       CAST(COUNT(*) AS INT) AS n_active_sessions
FROM hours GROUP BY h
"""


register("q149_session_concurrency", q149, _Q149_SQL)


# --------------------------------------------------------------------------
# Q152 — per-user EWMA level of daily event value (α = 0.3): the
#        smoothing-forecast primitive, demonstrating RECURRENCES as
#        first-class relational ops — the fold runs inside a codegen'd
#        aggregate() HOF over each user's day-ordered series (DuckDB:
#        list_reduce, same seed-on-first semantics), so both engines
#        execute the identical chain of double ops and agree bitwise.
#        One user-day aggregation + one user collect — series length is
#        bounded by the retention window, not corpus size.
# --------------------------------------------------------------------------
_Q152_ALPHA = 0.3


def q152(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.numeric import dec

    ev = _events_rel(spark, sf_dir).filter(F.col("value").isNotNull())
    daily = ev.groupBy(
        "user_id", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.round(F.sum(dec(F.col("value"))).cast("double"), 6).alias("v"))
    a = _Q152_ALPHA
    return (
        daily.groupBy("user_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(day, v))),"
                " s -> s.v)"
            ).alias("__vs")
        )
        .select(
            "user_id",
            F.size("__vs").cast("int").alias("n_days"),
            F.round(
                F.expr(
                    # element_at is 1-based like slice; bare __vs[1]
                    # bracket indexing is 0-BASED in Spark and would seed
                    # with the SECOND element
                    f"aggregate(slice(__vs, 2, size(__vs) - 1),"
                    f" cast(element_at(__vs, 1) as double),"
                    f" (acc, x) -> {a} * x + {1 - a} * acc)"
                ),
                6,
            ).alias("ewma_level"),
        )
    )


def _q152_sql() -> str:
    from franzoxide_spark.functions.numeric import sql_dec

    a = _Q152_ALPHA
    return f"""
WITH daily AS (
  SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
         ROUND(CAST(SUM({sql_dec("value")}) AS DOUBLE), 6) AS v
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id, strftime(ts, '%Y-%m-%d')
),
series AS (
  SELECT user_id, list(v ORDER BY day) AS vs FROM daily GROUP BY user_id
)
SELECT user_id,
       CAST(len(vs) AS INT) AS n_days,
       ROUND(CAST(list_reduce(vs, (acc, x) -> {a} * x + {1 - a} * acc)
                  AS DOUBLE), 6) AS ewma_level
FROM series
"""


register("q152_ewma_level", q152, _q152_sql())


# --------------------------------------------------------------------------
# Q155 — approximate-FD discovery (operators/profile.py: fd_report):
#        candidate determinant→dependent pairs on part scored by the g3
#        error (min fraction of rows to delete for the FD to hold) —
#        the schema-normalization discovery tool beside q78/q132. The
#        key column p_partkey demonstrates a holding FD; the brand/type
#        directions are partial on purpose.
# --------------------------------------------------------------------------
_Q155_PAIRS = [
    ("p_partkey", "p_brand"),
    ("p_brand", "p_type"),
    ("p_type", "p_brand"),
    ("p_size", "p_brand"),
]


def q155(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.profile import fd_report

    return fd_report(table(spark, sf_dir, "part"), _Q155_PAIRS)


def _q155_sql() -> str:
    from franzoxide_spark.operators.profile import sql_fd_report

    return sql_fd_report("part", _Q155_PAIRS)


register("q155_fd_discovery", q155, _q155_sql())


# --------------------------------------------------------------------------
# Q158 — day-of-week seasonality strength per event type: decompose the
#        daily count series into a dow-mean seasonal component and a
#        residual; strength = 1 - var(residual)/var(deseasonalized-
#        input) (the STL seasonality-strength statistic over a weekly
#        period). Exact counts, variances from exact sums evaluated in
#        the identical expression both engines — bounded by
#        |event_type| x |days|.
# --------------------------------------------------------------------------
def q158(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.dayofweek("ts").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w_type = Window.partitionBy("event_type")
    w_dow = Window.partitionBy("event_type", "dow")
    dec = (
        daily.withColumn("mean_all", F.avg("n").over(w_type))
        .withColumn("mean_dow", F.avg("n").over(w_dow))
        .withColumn("resid", F.col("n") - F.col("mean_dow"))
        .withColumn("detr", F.col("n") - F.col("mean_all"))
    )
    return dec.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("int").alias("n_days"),
        F.round(F.avg("n"), 6).alias("mean_daily"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col("resid") * F.col("resid"))
            / F.sum(F.col("detr") * F.col("detr")),
            6,
        ).alias("dow_strength"),
    )


_Q158_SQL = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         dayofweek(ts) + 1 AS dow, COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
),
dec AS (
  SELECT event_type, n,
         AVG(n) OVER (PARTITION BY event_type) AS mean_all,
         AVG(n) OVER (PARTITION BY event_type, dow) AS mean_dow
  FROM daily
)
SELECT event_type,
       CAST(COUNT(*) AS INT) AS n_days,
       ROUND(AVG(n), 6) AS mean_daily,
       ROUND(1.0 - SUM((n - mean_dow) * (n - mean_dow))
                   / SUM((n - mean_all) * (n - mean_all)), 6) AS dow_strength
FROM dec GROUP BY event_type
"""


register("q158_dow_seasonality", q158, _Q158_SQL)


# --------------------------------------------------------------------------
# Q159 — CUSUM change detection over daily event counts (Page 1954):
#        per event type, the one-sided cumulative-sum excursion
#        s_t = max(0, s_{t-1} + (x_t - mean - slack)) over the
#        day-ordered count series — the drift alarm for ingestion
#        monitoring (q129's count-based twin). Second member of the
#        recurrence-as-fold family (q152): the identical left fold runs
#        in Spark's aggregate() HOF and DuckDB's list_reduce, so both
#        engines produce bit-identical excursions. Output: max excursion
#        + alarm flag per type; series bounded by the calendar.
# --------------------------------------------------------------------------
_Q159_SLACK = 0.05   # x mean
_Q159_THRESH = 0.30  # alarm when max excursion > 30% of mean x days


def q159(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        table(spark, sf_dir, "events")
        .groupBy("event_type", F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # exact integer mean enters the fold as the same double both engines
    per_type = daily.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, n))),"
            " s -> cast(s.n as double))"
        ).alias("__vs"),
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("__mean"),
    )
    fold = (
        f"aggregate(__vs, struct(cast(0.0 as double) as s,"
        f" cast(0.0 as double) as mx),"
        f" (acc, x) -> named_struct("
        f"'s', greatest(cast(0.0 as double),"
        f" acc.s + x - __mean * {1 + _Q159_SLACK}),"
        f" 'mx', greatest(acc.mx, greatest(cast(0.0 as double),"
        f" acc.s + x - __mean * {1 + _Q159_SLACK}))),"
        f" acc -> acc.mx)"
    )
    return per_type.select(
        "event_type",
        F.size("__vs").cast("int").alias("n_days"),
        F.round("__mean", 6).alias("mean_daily"),
        F.round(F.expr(fold), 6).alias("max_cusum"),
        (
            F.expr(fold)
            > F.col("__mean") * F.size("__vs") * _Q159_THRESH
        ).alias("alarm"),
    )


_Q159_SQL = f"""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
per_type AS (
  SELECT event_type,
         list(CAST(n AS DOUBLE) ORDER BY day) AS vs,
         CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_daily
  FROM daily GROUP BY event_type
),
folded AS (
  SELECT event_type, len(vs) AS n_days, mean_daily,
         list_reduce(
           list_prepend([0.0, 0.0], list_transform(vs, x -> [x, 0.0])),
           (acc, xe) -> [
             greatest(0.0, acc[1] + xe[1] - mean_daily * {1 + _Q159_SLACK}),
             greatest(acc[2], greatest(0.0,
               acc[1] + xe[1] - mean_daily * {1 + _Q159_SLACK}))
           ]
         )[2] AS max_cusum
  FROM per_type
)
SELECT event_type, CAST(n_days AS INT) AS n_days,
       ROUND(mean_daily, 6) AS mean_daily,
       ROUND(max_cusum, 6) AS max_cusum,
       max_cusum > mean_daily * n_days * {_Q159_THRESH} AS alarm
FROM folded
"""


register("q159_cusum_drift", q159, _Q159_SQL)


# --------------------------------------------------------------------------
# Q163 — LEFT-OUTER watermarked interval join (streaming/joins.py,
#        how='left_outer'): every view, with its purchase if one landed
#        in (v_ts, v_ts + 2h] — unmatched views emit null-padded, which
#        is what turns q114's pair stream into a CONVERSION RATE. The
#        common attribution ask the inner variant can't answer: "how
#        many views converted?" needs the views that didn't. Streaming
#        face: unmatched rows emit only after the watermark passes their
#        interval (state eviction — locked by tests/test_streaming.py);
#        this batch face oracle-checks the null-padding + rate math.
#        Same plan as q114: one shuffle per side on user_id, interval
#        residual, never a cartesian; outer adds no shuffle.
# --------------------------------------------------------------------------
def q163(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.numeric import dec
    from franzoxide_spark.streaming.joins import interval_join

    ev = _events_rel(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "value"
    )
    pairs = interval_join(
        views, purchases, on="user_id", left_ts="v_ts", right_ts="p_ts",
        upper="2 hours", how="left_outer",
    )
    # per-VIEW reduction first: a view matched by several purchases is
    # ONE view that converted (review r8 — the raw join-row count
    # inflated the rate), while attributed value legitimately sums every
    # in-window purchase
    # exact-decimal value sums (dec(), the q152/q171 convention): raw
    # double addition is order-sensitive, so the cross-engine 2-dp round
    # could flap on a half-cent boundary (r8 ADVICE)
    per_view = pairs.groupBy("user_id", "v_ts").agg(
        F.max(F.col("p_ts").isNotNull().cast("int")).alias("__conv"),
        F.sum(dec(F.coalesce(F.col("value"), F.lit(0.0)))).alias("__val"),
    )
    return (
        per_view.groupBy(
            F.date_format(F.date_trunc("hour", "v_ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("view_hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.sum("__conv").cast("bigint").alias("n_converted"),
            F.round(F.sum("__conv") / F.count(F.lit(1)), 6)
            .alias("conversion_rate"),
            F.round(F.sum("__val").cast("double"), 2)
            .alias("attributed_value"),
        )
    )


def _q163_sql() -> str:
    from franzoxide_spark.functions.numeric import sql_dec

    # value sums ride sql_dec (exact decimal) to mirror the Spark side —
    # see the dec() note in q163
    return f"""
WITH v AS (
  SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase'
),
per_view AS (
  SELECT v.user_id, v_ts,
         MAX(CASE WHEN p_ts IS NOT NULL THEN 1 ELSE 0 END) AS conv,
         SUM(COALESCE({sql_dec('value')}, 0)) AS val
  FROM v LEFT JOIN p ON v.user_id = p.user_id
     AND p_ts > v_ts AND p_ts <= v_ts + INTERVAL 2 HOUR
  GROUP BY v.user_id, v_ts
)
SELECT strftime(date_trunc('hour', v_ts), '%Y-%m-%d %H:%M:%S') AS view_hour,
       COUNT(*) AS n_views,
       CAST(SUM(conv) AS BIGINT) AS n_converted,
       ROUND(CAST(SUM(conv) AS DOUBLE) / COUNT(*), 6) AS conversion_rate,
       ROUND(CAST(SUM(val) AS DOUBLE), 2) AS attributed_value
FROM per_view
GROUP BY 1
"""


_Q163_SQL = _q163_sql()


register("q163_interval_join_outer_conversion", q163, _Q163_SQL)


# --------------------------------------------------------------------------
# Q164 — Zipf rank-frequency fit per source (operators/corpus_stats.py:
#        zipf_fit): OLS of ln(count) on ln(rank) over each source's top
#        100 terms via rank-ordered folds (the recurrence-as-fold
#        family), so both engines sum identical doubles in identical
#        order. The corpus-level power-law diagnostic: alpha ≈ 1 reads
#        like language, flat flags boilerplate, steep a collapsed vocab.
# --------------------------------------------------------------------------
def q164(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.corpus_stats import zipf_fit

    docs = table(spark, sf_dir, "documents")
    return zipf_fit(docs, "text", "source", top_ranks=100)


def _q164_sql() -> str:
    from franzoxide_spark.operators.corpus_stats import sql_zipf_fit

    return sql_zipf_fit("documents", "text", "source", top_ranks=100)


register("q164_zipf_fit", q164, _q164_sql())


# --------------------------------------------------------------------------
# Q166 — A/B sample-ratio-mismatch audit (operators/stats.py:
#        ab_srm_check): deterministic hash-bucket assignment of users,
#        per-event-type distinct-unit counts per arm, chi-square vs the
#        50/50 design (alarm > 3.841, df=1 p=.05) — the experimentation
#        guardrail that catches a broken randomizer before any metric is
#        read. Exact integer counts, closed-form chi2, no RNG state.
# --------------------------------------------------------------------------
def q166(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.stats import ab_srm_check

    ev = _events_rel(spark, sf_dir)
    return ab_srm_check(ev, "user_id", "event_type")


def _q166_sql() -> str:
    from franzoxide_spark.operators.stats import sql_ab_srm_check

    return sql_ab_srm_check("events", "user_id", "event_type")


register("q166_ab_srm_check", q166, _q166_sql())


# --------------------------------------------------------------------------
# Q165 — Bloom-filter decontamination pre-filter (operators/sketch.py:
#        bloom_build/bloom_probe_report): the eval set's shingles enter
#        an 8 KiB relational Bloom (1024 int64 words, 4 seeded hashes,
#        bit_or-mergeable like every sketch here); corpus shingles probe
#        it map-side and positives are EXACT-verified — per source the
#        bloom-positive / true-hit / false-positive ledger. The
#        constant-memory membership path for when the deny-list side is
#        too big to broadcast exactly (q54/q56 stay the exact default).
#        Same %97 eval split as q56.
# --------------------------------------------------------------------------
def q165(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.sketch import bloom_probe_report_landed
    from franzoxide_spark.queries.llm import _docs_shingle_rel

    # probe the dedup family's bucketed shingle landing: the corpus
    # side becomes a scan of pre-exploded HASH60 keys — no tokenize, no
    # explode, no shingle shuffle (r14 verdict #2). Bit-identical to the
    # ad-hoc bloom_probe_report_flagged (same hash contract; pinned in
    # tests/test_funnel_sketch.py).
    meta = table(spark, sf_dir, "documents").select(
        "doc_id", "source", (F.col("doc_id") % 97 == 0).alias("__is_eval"),
    )
    return bloom_probe_report_landed(
        _docs_shingle_rel(spark, sf_dir), meta, "doc_id", "source",
        "__is_eval",
    )


def _q165_sql() -> str:
    from franzoxide_spark.operators.sketch import sql_bloom_probe_report

    return sql_bloom_probe_report(
        "documents", "doc_id % 97 = 0", "doc_id % 97 != 0", "text", "source"
    )


register("q165_bloom_decontam_prefilter", q165, _q165_sql())


# --------------------------------------------------------------------------
# Q167 — Heaps'-law vocabulary-growth fit (operators/corpus_stats.py:
#        heaps_fit): each source is one (total tokens, distinct tokens)
#        point; the single-row OLS of ln V on ln N gives V ≈ k·N^beta —
#        the planning law for how big q94/q138's vocab gets at 100 TB,
#        estimated from the sources at hand. Group-ordered folds keep
#        both engines bit-identical (the q164/q152 construction).
# --------------------------------------------------------------------------
def q167(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.corpus_stats import heaps_fit

    docs = table(spark, sf_dir, "documents")
    return heaps_fit(docs, "text", "source")


def _q167_sql() -> str:
    from franzoxide_spark.operators.corpus_stats import sql_heaps_fit

    return sql_heaps_fit("documents", "text", "source")


register("q167_heaps_fit", q167, _q167_sql())


# --------------------------------------------------------------------------
# Q170 — Kaplan-Meier retention survival (operators/timeseries.py):
#        product-limit estimator over user lifetimes with right-
#        censoring (users active within 7 days of observation end are
#        censored, not churned) — the survival curve q73's cohort grid
#        can't express. Duration-ordered product folds (the q152/q164
#        family) keep both engines bit-identical; all heavy work is one
#        user-key shuffle + a span-bounded per-duration table.
# --------------------------------------------------------------------------
def q170(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.timeseries import kaplan_meier_retention

    ev = _events_rel(spark, sf_dir)
    return kaplan_meier_retention(ev, "user_id", "ts")


def _q170_sql() -> str:
    from franzoxide_spark.operators.timeseries import sql_kaplan_meier

    return sql_kaplan_meier("events", "user_id", "ts")


register("q170_kaplan_meier_retention", q170, _q170_sql())


# --------------------------------------------------------------------------
# Q171 — Holt linear-trend forecast (operators/timeseries.py): per-user
#        double-exponential smoothing over daily value sums — level +
#        trend one-step forecast, the drift-aware sibling of q152's
#        EWMA. Third recurrence-as-fold member (EWMA, CUSUM, Holt);
#        struct-accumulator fold == DuckDB [l,b]-list fold bit-for-bit.
# --------------------------------------------------------------------------
def q171(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.timeseries import holt_linear_trend

    ev = _events_rel(spark, sf_dir)
    return holt_linear_trend(ev, "user_id", "ts", "value")


def _q171_sql() -> str:
    from franzoxide_spark.operators.timeseries import sql_holt_linear_trend

    return sql_holt_linear_trend("events", "user_id", "ts", "value")


register("q171_holt_trend_forecast", q171, _q171_sql())


# --------------------------------------------------------------------------
# Q172 — Benford first-digit audit (operators/stats.py: benford_audit):
#        per order-priority class, the first-significant-digit
#        distribution of o_totalprice vs Benford's log10(1+1/d) with a
#        chi-square triage flag — the classic fabricated/synthetic-
#        numbers detector. Exact digit counts, deterministic 9-term
#        chi2; one (group, digit) map-side-combined aggregate.
# --------------------------------------------------------------------------
def q172(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.stats import benford_audit

    o = table(spark, sf_dir, "orders")
    return benford_audit(o, "o_totalprice", "o_orderpriority")


def _q172_sql() -> str:
    from franzoxide_spark.operators.stats import sql_benford_audit

    return sql_benford_audit("orders", "o_totalprice", "o_orderpriority")


register("q172_benford_audit", q172, _q172_sql())


# --------------------------------------------------------------------------
# Q173 — Gini revenue concentration (operators/stats.py:
#        gini_concentration): per market segment, the Gini coefficient
#        + top-1% share of customer order revenue — the concentration
#        diagnostic behind skew planning (q90's join-skew twin on the
#        value axis). Exact scale-4 integers + decimal(38,0) rank sums,
#        so the 6-dp round cannot flap; rank-tie order is irrelevant by
#        construction.
# --------------------------------------------------------------------------
def q173(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.stats import gini_concentration

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    rev = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "c_mktsegment", "o_totalprice"
    )
    return gini_concentration(rev, "o_totalprice", "c_mktsegment")


def _q173_sql() -> str:
    from franzoxide_spark.operators.stats import sql_gini_concentration

    inner = sql_gini_concentration(
        "(SELECT c_mktsegment, o_totalprice"
        " FROM orders JOIN customer ON o_custkey = c_custkey)",
        "o_totalprice",
        "c_mktsegment",
    )
    return inner


register("q173_gini_concentration", q173, _q173_sql())


# --------------------------------------------------------------------------
# Q174 — daily-series autocorrelation (operators/timeseries.py:
#        daily_acf): lag 1..7 ACF of the daily event-count series —
#        the periodicity diagnostic behind q158's day-of-week strength
#        (weekly cycle = lag-7 peak; duplicated-ingest days = spikes).
#        Day-ordered folds over a span-bounded series; fourth
#        recurrence-as-fold member.
# --------------------------------------------------------------------------
def q174(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.timeseries import daily_acf

    ev = table(spark, sf_dir, "events")
    return daily_acf(ev, "ts")


def _q174_sql() -> str:
    from franzoxide_spark.operators.timeseries import sql_daily_acf

    return sql_daily_acf("events", "ts")


register("q174_daily_acf", q174, _q174_sql())


# --------------------------------------------------------------------------
# Q175 — spatial radius join (operators/geo.py: radius_join): event
#        pings within 100 km of each synthetic store — per store the
#        catchment count, distinct users, and nearest ping. Bucketed on
#        a conservative 1°×12° grid (cells ≥ radius at any latitude in
#        range), 3×3 neighbor fan-out on the broadcast store side, exact
#        haversine verify rounded to 6 dp on BOTH engines so the pair
#        set is identical. Never all-pairs — the q33 discipline on a
#        sphere, completing the geo family with q127's cell density.
# --------------------------------------------------------------------------
def q175(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.geo import radius_join

    c = table(spark, sf_dir, "customer")
    stores = c.filter(F.col("c_custkey") % 200 == 0).select(
        F.col("c_custkey").alias("anchor_id"),
        (((F.col("c_custkey") * 53) % 16000) / 100.0 - 80.0).alias("lat"),
        (((F.col("c_custkey") * 97) % 35000) / 100.0 - 175.0).alias("lon"),
    )
    ev = table(spark, sf_dir, "events")
    pings = ev.select(
        F.col("event_id").alias("point_id"),
        F.col("user_id").alias("__u"),
        F.expr(_Q127_LAT).alias("lat"),
        F.expr(_Q127_LON).alias("lon"),
    )
    # user_id rides THROUGH radius_join as a passthrough column — the
    # events table is scanned once, with no recovery join (review r8)
    pairs = radius_join(stores, pings, radius_km=100.0)
    return pairs.groupBy("anchor_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pings"),
        F.countDistinct("__u").cast("bigint").alias("n_users"),
        F.min("dist_km").alias("nearest_km"),
    )


def _q175_sql() -> str:
    from franzoxide_spark.operators.geo import sql_radius_join

    stores = (
        "(SELECT c_custkey AS anchor_id,"
        " ((c_custkey * 53) % 16000) / 100.0 - 80.0 AS lat,"
        " ((c_custkey * 97) % 35000) / 100.0 - 175.0 AS lon"
        " FROM customer WHERE c_custkey % 200 = 0)"
    )
    pings = (
        f"(SELECT event_id AS point_id, user_id, {_Q127_LAT} AS lat,"
        f" {_Q127_LON} AS lon FROM events)"
    )
    rj = sql_radius_join(stores, pings, radius_km=100.0, extra_cols=("user_id",))
    return f"""
WITH pairs AS ({rj})
SELECT anchor_id,
       CAST(COUNT(*) AS BIGINT) AS n_pings,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       MIN(dist_km) AS nearest_km
FROM pairs
GROUP BY anchor_id
"""


register("q175_geo_radius_join", q175, _q175_sql())


# --------------------------------------------------------------------------
# Q176 — FULL-OUTER watermarked interval join (streaming/joins.py,
#        how='full_outer'): the symmetric reconciliation q163's left-outer
#        can't answer — every view AND every ORPHANED purchase (no view in
#        the 2h window before it). Join rows classify three ways: matched
#        pair, view_only (p_ts null), purchase_only (v_ts null); the
#        report counts each kind per hour of the row's own event time and
#        sums purchase value in exact decimal. Streaming face (both-sides
#        null-padded late emission after watermark) is locked in
#        tests/test_streaming.py; this batch face oracle-checks the
#        relation. Plan: one shuffle per side on user_id, interval
#        residual on the sorted join — outer adds no shuffle, never a
#        cartesian; at 100 TB this scales exactly like q114/q163.
# --------------------------------------------------------------------------
def q176(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.numeric import dec
    from franzoxide_spark.streaming.joins import interval_join

    ev = _events_rel(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "value"
    )
    pairs = interval_join(
        views, purchases, on="user_id", left_ts="v_ts", right_ts="p_ts",
        upper="2 hours", how="full_outer",
    )
    kind = (
        F.when(F.col("v_ts").isNotNull() & F.col("p_ts").isNotNull(),
               F.lit("matched"))
        .when(F.col("p_ts").isNull(), F.lit("view_only"))
        .otherwise(F.lit("purchase_only"))
    )
    hour = F.date_format(
        F.date_trunc("hour", F.coalesce("v_ts", "p_ts")),
        "yyyy-MM-dd HH:mm:ss",
    )
    return (
        pairs.groupBy(kind.alias("row_kind"), hour.alias("event_hour"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(dec(F.coalesce(F.col("value"), F.lit(0.0))))
                .cast("double"), 2,
            ).alias("value_sum"),
        )
    )


def _q176_sql() -> str:
    from franzoxide_spark.functions.numeric import sql_dec

    return f"""
WITH v AS (
  SELECT user_id, ts AS v_ts FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT v_ts, p_ts, value
  FROM v FULL JOIN p ON v.user_id = p.user_id
     AND p_ts > v_ts AND p_ts <= v_ts + INTERVAL 2 HOUR
)
SELECT CASE WHEN v_ts IS NOT NULL AND p_ts IS NOT NULL THEN 'matched'
            WHEN p_ts IS NULL THEN 'view_only'
            ELSE 'purchase_only' END AS row_kind,
       strftime(date_trunc('hour', COALESCE(v_ts, p_ts)),
                '%Y-%m-%d %H:%M:%S') AS event_hour,
       COUNT(*) AS n_rows,
       ROUND(CAST(SUM(COALESCE({sql_dec('value')}, 0)) AS DOUBLE), 2)
         AS value_sum
FROM j
GROUP BY 1, 2
"""


register("q176_interval_join_full_reconcile", q176, _q176_sql())

# --------------------------------------------------------------------------
# Q177 — TTL-session-scoped exact dedup, batch face of
#        streaming/stateful.py:stateful_dedup_ttl (r15 unfreeze #1a):
#        per user, events sorted by time are cut into TTL sessions at
#        gaps > 1h (the q110/q168 lag+running-sum window shape) and the
#        first occurrence of each event_type within each session emits
#        with its event time. The streaming face holds exactly this
#        relation in TTL'd per-key state (watermark-evicted), parity- and
#        eviction-tested in tests/test_streaming.py. Plan: ONE user-key
#        shuffle; window + group work is key-bounded — at 100 TB this is
#        the same shape as every events-family query here.
# --------------------------------------------------------------------------
def q177(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.streaming.stateful import batch_ttl_session_dedup

    ev = _events_rel(spark, sf_dir)
    return batch_ttl_session_dedup(ev, "user_id", "event_type", "ts", 3600)


_Q177_SQL = """
WITH e AS (
  SELECT CAST(user_id AS VARCHAR) AS key,
         CAST(event_type AS VARCHAR) AS member,
         CAST(FLOOR(epoch(ts)) AS BIGINT) AS es
  FROM events WHERE ts IS NOT NULL
),
s AS (
  SELECT key, member, es,
         CASE WHEN es - LAG(es) OVER (PARTITION BY key ORDER BY es) > 3600
              THEN 1 ELSE 0 END AS new_s
  FROM e
),
s2 AS (
  SELECT key, member, es,
         SUM(new_s) OVER (PARTITION BY key ORDER BY es
                          ROWS UNBOUNDED PRECEDING) AS sess
  FROM s
)
SELECT key, member, CAST(MIN(es) AS BIGINT) AS first_es
FROM s2 GROUP BY key, sess, member
"""


register("q177_ttl_session_dedup", q177, _Q177_SQL)

# --------------------------------------------------------------------------
# Q178 — near-duplicate GATE, batch face of
#        streaming/stateful.py:streaming_neardup_gate (r15 unfreeze #1b):
#        one verdict row per doc — admitted, or flagged with dup_of = the
#        smallest-id earlier doc it exact-verifies >= 0.8 Jaccard against
#        (q33's exact pair relation underneath). The online-curation
#        decision the pairs relation (q33) and the cluster survivors
#        (q57) don't directly answer: "does THIS arriving doc pass?".
#        Streaming parity (id-ordered arrival) in tests/test_streaming.py.
# --------------------------------------------------------------------------
def q178(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.dedup import neardup_gate

    return neardup_gate(
        table(spark, sf_dir, "documents"), "text", "doc_id",
        threshold=0.8, num_hashes=8, bands=4, shingle_k=3,
    )


def _q178_sql() -> str:
    from franzoxide_spark.queries.llm import Q33_SQL

    return f"""
WITH pairs AS ({Q33_SQL}),
flagged AS (
  SELECT id_b AS doc_id, MIN(id_a) AS dup_of,
         arg_min(jaccard, id_a) AS j
  FROM pairs GROUP BY id_b
)
SELECT d.doc_id,
       CAST(CASE WHEN f.doc_id IS NULL THEN 1 ELSE 0 END AS INT) AS admitted,
       f.dup_of AS dup_of,
       ROUND(f.j, 6) AS jaccard
FROM documents d LEFT JOIN flagged f USING (doc_id)
"""


register("q178_neardup_gate", q178, _q178_sql())

# --------------------------------------------------------------------------
# Q179 — DYNAMIC-bound interval join (streaming/joins.py interval_join
#        upper_col=, r15 unfreeze #2): view-to-purchase attribution where
#        each view carries its own window — 30/60/90/120 min by user tier
#        (user_id % 4), the per-key dynamic bound the fixed-interval
#        q114/q163/q176 family can't express. The constant 2h cap stays
#        in the join as the state-eviction bound (least(win, cap) is the
#        effective window — here cap == max tier, so semantics are purely
#        dynamic). Report: per window tier, matched pairs, attributed
#        value (exact decimal), distinct buyers. Streaming face (both
#        sides streaming, watermarked, same condition) is locked in
#        tests/test_streaming.py; plan is the family's: one shuffle per
#        side on user_id, range residual, no cartesian.
# --------------------------------------------------------------------------
def q179(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.numeric import dec
    from franzoxide_spark.streaming.joins import interval_join

    ev = _events_rel(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("v_ts"),
        (F.lit(1800) * (F.lit(1) + F.col("user_id") % 4)).alias("win_s"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), "value"
    )
    pairs = interval_join(
        views, purchases, on="user_id", left_ts="v_ts", right_ts="p_ts",
        upper="2 hours", upper_col="win_s",
    )
    return pairs.groupBy("win_s").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.sum(dec(F.col("value"))).cast("double"), 2)
        .alias("value_sum"),
        F.countDistinct("user_id").cast("int").alias("n_buyers"),
    )


def _q179_sql() -> str:
    from franzoxide_spark.functions.numeric import sql_dec

    return f"""
WITH v AS (
  SELECT user_id, ts AS v_ts, 1800 * (1 + user_id % 4) AS win_s
  FROM events WHERE event_type = 'view'
),
p AS (
  SELECT user_id, ts AS p_ts, value FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT v.user_id, win_s, value
  FROM v JOIN p ON v.user_id = p.user_id
     AND p_ts > v_ts
     AND p_ts <= v_ts + INTERVAL 2 HOUR
     AND p_ts <= v_ts + win_s * INTERVAL 1 SECOND
)
SELECT win_s, COUNT(*) AS n_pairs,
       ROUND(CAST(SUM({sql_dec('value')}) AS DOUBLE), 2) AS value_sum,
       CAST(COUNT(DISTINCT user_id) AS INT) AS n_buyers
FROM j GROUP BY win_s
"""


register("q179_dynamic_interval_join", q179, _q179_sql())
