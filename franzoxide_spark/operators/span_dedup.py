"""Cross-document span-level duplication + hashed linear quality scoring.

Two Tier-C (SURVEY.md §2.3) corpus operators the reference engine (a
Kafka→S3 connector, src/s3.rs — no query surface) does not have; both are
driver-mandated LLM-pipeline extensions:

* ``crossdoc_span_coverage`` — the corpus-wide analogue of Lee et al. 2022
  ("Deduplicating Training Data Makes Language Models Better"): for every
  document, what fraction of its k-gram occurrences also appears in at
  least one OTHER document. q57/q63 answer "which documents are near-
  duplicates of each other"; this answers "how much of each document is
  boilerplate shared across the corpus", the signal used to mask or drop
  duplicated spans before training.

* ``hashed_linear_score`` — a fastText-shaped quality classifier serving
  path: hashed bag-of-words features joined against a broadcast weight
  vector, summed per document, squashed through a sigmoid. The weights
  here are a deterministic hash-derived stand-in (documented below); the
  deliverable is the serving shape — at 100 TB a trained weight vector is
  still just an ``n_buckets``-row broadcast table and the plan does not
  change.

Scale notes (both operators):
- The k-gram / token stream is the only corpus-sized intermediate and it
  is consumed by hash-partitioned aggregations with map-side combine —
  no all-pairs joins, no driver-side collection, no Python in the hot
  path (everything is codegen'd expressions + hash joins).
- ``crossdoc_span_coverage`` shuffles the (gram-hash, doc) pairs once;
  the duplicated-hash side of the coverage join is bounded by the number
  of *distinct duplicated* k-grams, far below corpus size in real data.
- ``hashed_linear_score`` broadcasts the weight table (n_buckets rows)
  and shuffles only per-document partial sums. Integer weights keep the
  per-document sum exact, so the cross-engine compare is FP-safe: the
  only floating-point op is one final sigmoid per document.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from franzoxide_spark.functions.text import hash60, sql_hash60
from franzoxide_spark.tables import ensure_parallel


# --------------------------------------------------------------------------
# k-gram occurrence stream (NOT distinct — q35's `shingles` dedups per doc,
# coverage needs multiplicity: a doc that repeats a shared gram 5 times has
# 5 duplicated positions, not 1)
# --------------------------------------------------------------------------


def _gram_occurrences(tokens_col: str, k: int) -> F.Column:
    return F.expr(
        f"case when size({tokens_col}) < {k}"
        " then cast(array() as array<string>)"
        f" else transform(sequence(1, size({tokens_col}) - {k - 1}),"
        f" i -> concat_ws(' ', slice({tokens_col}, i, {k}))) end"
    )


def _gram_hash_occurrences(tokens_col: str, k: int) -> F.Column:
    """Occurrence stream of 64-bit gram hashes WITHOUT building the gram
    strings — ``xxhash64`` over the token-array slice with k folded in as
    an extra hashed argument, exactly ``functions.text.gram_hashes`` minus
    its ``array_distinct`` (coverage needs multiplicity)."""
    return F.expr(
        f"case when size({tokens_col}) < {k}"
        " then cast(array() as array<bigint>)"
        f" else transform(sequence(1, size({tokens_col}) - {k - 1}),"
        f" i -> xxhash64(slice({tokens_col}, i, {k}), {k})) end"
    )


def _sql_gram_occurrences(tokens_expr: str, k: int) -> str:
    return (
        f"list_transform(range(1, greatest(len({tokens_expr}) - {k - 2}, 1)),"
        f" i -> array_to_string(({tokens_expr})[i:i+{k - 1}], ' '))"
    )


# --------------------------------------------------------------------------
# cross-document duplicated k-gram coverage
# --------------------------------------------------------------------------


def crossdoc_span_coverage(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Per-document fraction of k-gram occurrences shared with ≥1 other doc.

    Output: (id, n_grams, dup_grams, dup_fraction, keep) where keep is
    ``dup_fraction < threshold``. Documents shorter than k tokens have
    zero grams and keep=true.

    Plan shape (r17, guide §2.3 "aggregate before you shuffle"): gram
    stream → ONE exchange keyed by gram computing per-gram
    ``(occurrences, min_doc, max_doc)`` → grams exclusive to a single
    document (min == max) re-aggregate per doc (narrow 2-column rows,
    distinct-gram-bounded) → ``dup_grams = n_grams − exclusive_occ``.
    Identity: a gram's occurrences are either all in one doc (min==max;
    none shared) or spread over ≥2 docs (every occurrence shared with
    another doc by definition), so per-doc shared occurrences are the
    complement of per-doc exclusive occurrences. This replaces the
    previous (gram, doc) pair aggregation + doc-frequency self-join +
    per-doc sum (two corpus-gram exchanges and a join; the reference
    pipeline in tests/test_span_dedup.py keeps that shape and pins
    equality on the real fixture). Assumes non-null ``id_col`` (as every
    caller here guarantees): min/max skip nulls, so a null-id document's
    grams would not register as exclusive.

    Grouping keys are ``xxhash64(token-slice, k)`` — 8-byte longs, never
    the gram strings (r17, guide §2.3 "narrower types"/"shuffle keys
    instead of payloads"; the same trade q101 adopted in r15). Exact for
    counting because tokens are space-split (token-sequence <-> gram
    string is a bijection) and a 64-bit collision between two distinct
    grams of the same corpus is negligible at any tested SF — the DuckDB
    oracle keeps raw strings and the results hash-match at
    sf0.001/0.01/0.1 (tests/test_span_dedup.py pins hash-keyed ==
    raw-gram-keyed on the fixtures). The win is threefold: no concat_ws
    string build in the interpreted gram transform, an 8-byte vs
    gram-text shuffle row, and long-key hash aggregation/join.

    The gram transform is an interpreted higher-order function (Catalyst
    does not codegen ``transform``/``slice``), i.e. CPU-bound map work —
    so a scan that under-parallelizes (one small parquet file → one
    task) serializes it. ``tables.ensure_parallel`` repartitions only
    in that case; with real input splits (any 100 TB layout) it is a
    no-op and the operator adds no pre-shuffle.
    """
    toks = ensure_parallel(docs.select(id_col, text_col)).select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("__t"),
    )
    # n_grams is arithmetic on token count — building the gram array just
    # to size() it would run the interpreted transform a second time
    totals = toks.select(
        id_col,
        F.greatest(F.size("__t") - (k - 1), F.lit(0)).alias("n_grams"),
    )
    grams = toks.select(
        id_col, F.explode(_gram_hash_occurrences("__t", k)).alias("__g")
    )
    # one exchange: per-gram occurrence count + the doc-id range; map-side
    # combine collapses to distinct-grams-per-partition before the shuffle
    per_g = grams.groupBy("__g").agg(
        F.count("*").alias("__occ"),
        F.min(id_col).alias("__lo"),
        F.max(id_col).alias("__hi"),
    )
    # grams whose every occurrence lives in ONE doc (min==max): none of
    # their occurrences are shared; everything else is shared entirely
    excl_per_doc = (
        per_g.filter(F.col("__lo") == F.col("__hi"))
        .groupBy(F.col("__lo").alias(id_col))
        .agg(F.sum("__occ").alias("__excl"))
    )
    dup_expr = F.col("n_grams") - F.coalesce("__excl", F.lit(0))
    frac = F.when(
        F.col("n_grams") == 0, F.lit(0.0)
    ).otherwise(F.col("dup_grams").cast("double") / F.col("n_grams"))
    return (
        totals.join(excl_per_doc, id_col, "left")
        .withColumn("dup_grams", dup_expr)
        .select(
            id_col,
            F.col("n_grams").cast("int").alias("n_grams"),
            F.col("dup_grams").cast("int").alias("dup_grams"),
            F.round(frac, 6).alias("dup_fraction"),
            (F.round(frac, 6) < F.lit(threshold)).alias("keep"),
        )
    )


def sql_crossdoc_span_coverage(
    table: str,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> str:
    grams = _sql_gram_occurrences("t", k)
    return f"""
WITH toks AS (
  SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {table}
),
g AS (
  SELECT {id_col}, UNNEST({grams}) AS gram FROM toks
),
pairs AS (
  SELECT gram, {id_col}, COUNT(*) AS occ FROM g GROUP BY gram, {id_col}
),
dup AS (SELECT gram FROM pairs GROUP BY gram HAVING COUNT(*) > 1),
per_doc AS (
  SELECT {id_col}, SUM(occ) AS dup_grams
  FROM pairs JOIN dup USING (gram) GROUP BY {id_col}
),
tot AS (
  SELECT {id_col}, GREATEST(len(t) - {k - 1}, 0) AS n_grams FROM toks
)
SELECT t.{id_col},
       CAST(n_grams AS INT) AS n_grams,
       CAST(COALESCE(dup_grams, 0) AS INT) AS dup_grams,
       ROUND(CASE WHEN n_grams = 0 THEN 0.0
                  ELSE COALESCE(dup_grams, 0) * 1.0 / n_grams END, 6)
         AS dup_fraction,
       ROUND(CASE WHEN n_grams = 0 THEN 0.0
                  ELSE COALESCE(dup_grams, 0) * 1.0 / n_grams END, 6)
         < {threshold} AS keep
FROM tot t LEFT JOIN per_doc USING ({id_col})
"""


# --------------------------------------------------------------------------
# hashed bag-of-words linear classifier (fastText-shaped serving path)
# --------------------------------------------------------------------------

# Deterministic stand-in weights: wt(b) = hash60('w:' || b) % 2001 - 1000,
# an integer in [-1000, 1000]. A trained model replaces this derivation
# with a real (bucket, weight) table; nothing else in the plan changes.
_WT_SPARK = "cast({h} % 2001 - 1000 as bigint)"


def linear_weight_table(spark: SparkSession, n_buckets: int) -> DataFrame:
    h = hash60(F.concat(F.lit("w:"), F.col("id").cast("string")))
    return spark.range(n_buckets).select(
        F.col("id").alias("__b"),
        (h % 2001 - 1000).cast("bigint").alias("__wt"),
    )


def hashed_linear_score(
    spark: SparkSession,
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int = 4096,
) -> DataFrame:
    """Per-document linear score over hashed unigram features.

    Output: (id, n_tokens, score_sum, prob, keep). ``score_sum`` is an
    exact integer (order-independent across engines); ``prob`` is the one
    floating-point op, sigmoid(score_sum / (1000 * n_tokens)); ``keep``
    compares the integer sum against zero so the gate itself is FP-free.
    """
    feats = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).select(id_col, F.pmod(hash60(F.col("__tok")), F.lit(n_buckets)).alias("__b"))
    weights = linear_weight_table(spark, n_buckets)
    agg = (
        feats.join(F.broadcast(weights), "__b")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("__wt").alias("score_sum"),
        )
    )
    mean = F.col("score_sum").cast("double") / (F.col("n_tokens") * 1000.0)
    return agg.select(
        id_col,
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("score_sum").cast("bigint").alias("score_sum"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean)), 6).alias("prob"),
        (F.col("score_sum") >= 0).alias("keep"),
    )


def sql_hashed_linear_score(
    table: str, id_col: str, text_col: str, n_buckets: int = 4096
) -> str:
    wt_h = sql_hash60("'w:' || CAST(i AS VARCHAR)")
    tok_h = sql_hash60("tok")
    return f"""
WITH w AS (
  SELECT i AS b, CAST({wt_h} % 2001 - 1000 AS BIGINT) AS wt
  FROM UNNEST(range(0, {n_buckets})) AS t(i)
),
feat AS (
  SELECT {id_col}, {tok_h} % {n_buckets} AS b
  FROM (SELECT {id_col}, UNNEST(string_split({text_col}, ' ')) AS tok
        FROM {table})
),
agg AS (
  SELECT {id_col}, COUNT(*) AS n_tokens, SUM(wt) AS score_sum
  FROM feat JOIN w USING (b) GROUP BY {id_col}
)
SELECT {id_col},
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(score_sum AS BIGINT) AS score_sum,
       ROUND(1.0 / (1.0 + exp(-(CAST(score_sum AS DOUBLE)
                                / (n_tokens * 1000.0)))), 6) AS prob,
       score_sum >= 0 AS keep
FROM agg
"""
