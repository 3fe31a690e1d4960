"""Corpus-statistics scoring operators: TF-IDF, char-n-gram LM quality,
and DSIR hashed importance weights.

These are the "train a tiny model on the corpus, then score the corpus
with it" family a training-data pipeline runs before mixing/filtering:

- ``tfidf_top_terms``      — per-document top-k distinguishing terms.
- ``char_trigram_lm``      — CCNet-style quality proxy: a character
                             trigram unigram-LM trained on the corpus
                             itself; per-doc mean negative log-likelihood
                             flags degenerate/boilerplate text (CCNet
                             trains KenLM; the trigram model keeps the
                             same two-pass shape with a vocabulary that
                             is BOUNDED BY THE CHARSET, not the corpus).
- ``dsir_logratio``        — Data Selection with Importance Resampling
                             (Xie et al., 2023): hashed n-gram bucket
                             log-likelihood ratios between a target slice
                             and the raw corpus; per-doc mean is the
                             importance log-weight.

Scale notes (the whole point of these shapes at 100 TB):

- The trigram LM table is ≤ |charset|³ rows no matter how big the corpus
  is — the train pass is a map-side-combined groupBy over a bounded key
  space, and the score pass joins it BROADCAST, so the corpus is read
  once (the exploded stream is persisted and shared by both passes) and
  never shuffled.
- DSIR's state is exactly ``n_buckets`` rows by construction (that is the
  paper's point — hashing bounds the feature space), so the distribution
  build collapses map-side and the scoring join is a broadcast; the
  corpus never shuffles here either.
- TF-IDF is the one member with corpus-sized shuffles (doc-term and
  term): both aggregations partial-aggregate map-side, and the stopword
  skew on the term shuffle is the standard AQE-skew-join case. No
  all-pairs blowup anywhere.

Reference parity: the reference engine (valdo404/franzoxide, a Rust
Kafka→S3 connector, src/s3.rs + src/kafka.rs) has no analytics surface —
this family extends the driver-mandated LLM-pipeline tier (SURVEY.md
§2.3), not a reference operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from franzoxide_spark.functions.text import (
    _grams_expr,
    hash60,
    sql_hash60,
    sql_ngrams_with_dups,
    sql_tokens,
    tokens,
)
from franzoxide_spark.tables import ensure_parallel

# --------------------------------------------------------------------------
# TF-IDF top terms
# --------------------------------------------------------------------------


def tfidf_top_terms(
    docs: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Top-``k`` terms per document by smoothed TF-IDF.

    ``tfidf = tf * (ln((N+1)/(df+1)) + 1)`` (sklearn's smooth-idf form).
    Plan shape (r18): one shuffle to (doc, term) with map-side combine,
    df via a vocabulary-bounded aggregate broadcast-joined back onto the
    pair stream, one doc-partition window for the top-k. The corpus
    document count enters as a broadcast 1-row cross join so the whole
    thing stays a single lazy plan. Scores are rounded to 6 decimals
    BEFORE ranking so the (score desc, term asc) order is identical in
    any engine.

    The df attach was a term-partition WINDOW through r17 — a second
    full-pair-stream exchange, and the skewed one (stopwords own most
    pairs; AQE skew handling covers only JOINS, not windows — guide
    §2.5, correcting the old comment here). The aggregate+broadcast-join
    form removes that exchange outright: df per term is a map-side-
    combined count whose output is bounded by the VOCABULARY (Heaps-law
    sublinear — the same boundedness argument as q61's trigram LM and
    q94's vocab table), and the probe back onto the pair stream is a
    broadcast hash join. Interleaved A/B (min-of-6, noop, identity
    asserted; BASELINE.md "Round-18 q60 df-attach"): sf0.1 floor-band
    flat-to-slightly-worse (r17: 1.299 vs 1.374 min — why it was not
    taken then), 10x replicas flat in BOTH growth modes (suffixed
    2.28/2.36 vs 2.18/2.48, verbatim 1.156/1.205 vs 1.132/1.208
    min/med), 30x verbatim the join
    form wins 5/6 rounds (1.875/1.907 -> 1.740/1.807) and the gap grows
    with scale — taken on the 30x evidence plus the structural shape
    (one fewer corpus-sized exchange, no unsplittable hot-term window
    partition).
    """
    # No ensure_parallel here: unlike the LM/DSIR scoring scans, every
    # stage after the explode is itself a shuffle, so input parallelism
    # does not bound the job and the extra round-robin exchange only costs
    # (measured 0.97 s vs 1.50 s at sf0.1 with it).
    toks = docs.select(id_col, tokens(text_col).alias("__toks"))
    terms = toks.select(id_col, F.explode("__toks").alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("__n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("__n") + 1).cast("double")
                        / (F.col("df") + 1).cast("double")
                    )
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    w_doc = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w_doc))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "rk", "tfidf")
    )


def sql_tfidf_top_terms(
    table: str, id_col: str, text_col: str, k: int = 3
) -> str:
    return f"""
WITH t AS (
  SELECT {id_col}, unnest({sql_tokens(text_col)}) AS term FROM {table}
),
tf AS (SELECT {id_col}, term, COUNT(*) AS tf FROM t GROUP BY {id_col}, term),
n AS (SELECT COUNT(*) AS n_docs FROM {table}),
s AS (
  SELECT {id_col}, term,
         ROUND(tf * (ln(CAST(n_docs + 1 AS DOUBLE)
                        / CAST(COUNT(*) OVER (PARTITION BY term) + 1 AS DOUBLE))
                     + 1.0), 6) AS tfidf
  FROM tf, n
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY {id_col}
                               ORDER BY tfidf DESC, term ASC) AS rk
  FROM s
)
SELECT {id_col}, term, CAST(rk AS INT) AS rk, tfidf FROM r WHERE rk <= {k}
"""


# --------------------------------------------------------------------------
# char-trigram LM quality score
# --------------------------------------------------------------------------


def _char_trigrams_expr(text_col: str) -> str:
    """All character trigrams of ``text_col`` (duplicates kept). Spark's
    ``sequence(1, 0)`` DESCENDS, so length<3 short-circuits to empty."""
    return (
        f"case when length({text_col}) < 3"
        " then cast(array() as array<string>)"
        f" else transform(sequence(1, length({text_col}) - 2),"
        f" i -> substring({text_col}, i, 3)) end"
    )


def char_trigram_lm(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean negative log-likelihood under a char-trigram
    unigram LM trained on the corpus itself. Higher ``nll`` = rarer
    character patterns = lower-quality/out-of-distribution text, the
    CCNet perplexity-bucket signal.

    Two passes over one persisted trigram stream: (1) train — map-side-
    combined groupBy over the charset-bounded trigram space (≤ |charset|³
    rows no matter the corpus size); (2) score — broadcast-join the tiny
    LM back onto the stream and average per document. No corpus-sized
    shuffle at any scale: the only wide exchanges are the bounded LM
    aggregation and the per-doc partial-aggregated mean.

    Documents shorter than 3 characters have no trigrams and drop out —
    mirrored exactly by the SQL oracle's inner join. Per-trigram log
    probs are rounded to 6 decimals before the per-doc mean (absorbs
    cross-engine libm ULP drift); the mean is rounded to 4.
    """
    tri = (
        ensure_parallel(docs)
        .select(
            id_col, F.explode(F.expr(_char_trigrams_expr(text_col))).alias("tri")
        )
        # Both passes read the exploded stream; persisting it means the
        # explode runs once instead of twice (~2x on the measured wall).
        # At cluster scale this is a deliberate memory-for-scan trade —
        # the stream is token-sized; spill-safe MEMORY_AND_DISK default.
        .persist()
    )
    lm = tri.groupBy("tri").agg(F.count("*").alias("cnt"))
    # total trigram occurrences: single-partition window over the LM table
    # is fine — the table is charset-bounded, not corpus-bounded.
    lm = lm.withColumn("__tot", F.sum("cnt").over(Window.partitionBy()))
    lm = lm.select(
        "tri",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("__tot").cast("double")), 6
        ).alias("logp"),
    )
    return (
        tri.join(F.broadcast(lm), "tri")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_tri"),
            F.round(-F.avg("logp"), 4).alias("nll"),
        )
    )


def sql_char_trigram_lm(table: str, id_col: str, text_col: str) -> str:
    tri_list = (
        f"list_transform(range(1, greatest(len({text_col}) - 1, 1)),"
        f" i -> substr({text_col}, CAST(i AS INT), 3))"
    )
    return f"""
WITH tri AS (
  SELECT {id_col}, unnest({tri_list}) AS tri FROM {table}
),
lm AS (SELECT tri, COUNT(*) AS cnt FROM tri GROUP BY tri),
tot AS (SELECT SUM(cnt) AS tot FROM lm),
lp AS (
  SELECT tri, ROUND(ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE)), 6) AS logp
  FROM lm, tot
)
SELECT {id_col}, CAST(COUNT(*) AS INT) AS n_tri, ROUND(-AVG(logp), 4) AS nll
FROM tri JOIN lp USING (tri)
GROUP BY {id_col}
"""


# --------------------------------------------------------------------------
# DSIR hashed importance log-weights
# --------------------------------------------------------------------------


def dsir_logratio(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    target_pred,
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR importance log-weight per document.

    Word bigrams are hashed into ``n_buckets`` buckets (the cross-engine
    seedless ``hash60``); two Laplace-smoothed unigram distributions over
    buckets are estimated — the target slice (rows where ``target_pred``,
    a boolean Column, holds) and the raw corpus — and each document
    scores the mean log-likelihood ratio of its buckets:

        llr(b) = ln((t_cnt+1)/(t_tot+B)) - ln((r_cnt+1)/(r_tot+B))

    Positive = looks like the target distribution. The bucket table is
    exactly ``n_buckets`` rows regardless of corpus size, so the
    distribution build collapses map-side and the scoring join is
    broadcast — the hashing is what makes this shape 100 TB-safe.

    Documents with <2 tokens have no bigrams and drop out (mirrored by
    the oracle's inner join).
    """
    toks = ensure_parallel(docs).select(
        id_col, target_pred.alias("__is_tgt"), tokens(text_col).alias("__toks")
    )
    grams = toks.select(
        id_col, "__is_tgt", F.explode(F.expr(_grams_expr("__toks", 2))).alias("g")
    )
    # Both the distribution build and the scoring join consume the hashed
    # bucket stream; persist it so the explode + md5 run once (the md5 is
    # the cross-engine hash contract and the single most expensive
    # per-gram expression here). Token-sized, spill-safe.
    b = grams.select(
        id_col, "__is_tgt", F.pmod(hash60(F.col("g")), F.lit(n_buckets)).alias("b")
    ).persist()
    dist = b.groupBy("b").agg(
        F.count("*").alias("r_cnt"),
        F.sum(F.when(F.col("__is_tgt"), 1).otherwise(0)).alias("t_cnt"),
    )
    w_all = Window.partitionBy()  # n_buckets rows: single partition is fine
    dist = dist.select(
        "b",
        F.round(
            F.log(
                (F.col("t_cnt") + 1).cast("double")
                / (F.sum("t_cnt").over(w_all) + n_buckets).cast("double")
            )
            - F.log(
                (F.col("r_cnt") + 1).cast("double")
                / (F.sum("r_cnt").over(w_all) + n_buckets).cast("double")
            ),
            6,
        ).alias("llr"),
    )
    return (
        b.join(F.broadcast(dist), "b")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_grams"),
            # + 0.0 canonicalizes IEEE -0.0 to +0.0 (a doc whose mean llr
            # rounds to zero from below would otherwise print "-0.000000"
            # in one engine and "0.000000" in the other)
            (F.round(F.avg("llr"), 4) + F.lit(0.0)).alias("dsir_logratio"),
        )
    )


def sql_dsir_logratio(
    table: str,
    id_col: str,
    text_col: str,
    target_pred_sql: str,
    n_buckets: int = 1024,
) -> str:
    return f"""
WITH toks AS (
  SELECT {id_col}, ({target_pred_sql}) AS is_tgt,
         {sql_tokens(text_col)} AS t
  FROM {table}
),
g AS (
  SELECT {id_col}, is_tgt, unnest({sql_ngrams_with_dups('t', 2)}) AS g
  FROM toks
),
b AS (SELECT {id_col}, is_tgt, {sql_hash60('g')} % {n_buckets} AS b FROM g),
dist AS (
  SELECT b, COUNT(*) AS r_cnt,
         SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS t_cnt
  FROM b GROUP BY b
),
llr AS (
  SELECT b,
         ROUND(ln(CAST(t_cnt + 1 AS DOUBLE)
                  / CAST(SUM(t_cnt) OVER () + {n_buckets} AS DOUBLE))
               - ln(CAST(r_cnt + 1 AS DOUBLE)
                    / CAST(SUM(r_cnt) OVER () + {n_buckets} AS DOUBLE)),
               6) AS llr
  FROM dist
)
SELECT {id_col}, CAST(COUNT(*) AS INT) AS n_grams,
       ROUND(AVG(llr), 4) + 0.0 AS dsir_logratio
FROM b JOIN llr USING (b)
GROUP BY {id_col}
"""


# --------------------------------------------------------------------------
# out-of-vocabulary rate against the corpus's own top-V unigram vocabulary
# --------------------------------------------------------------------------


def oov_rate(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 1000,
) -> DataFrame:
    """Per-document OOV fraction vs the corpus's top-``vocab_size`` words.

    The tokenizer-coverage health check a training pipeline runs before
    committing to a vocabulary: high OOV rate flags documents a fixed
    vocab would shred into unknowns. Vocabulary = the ``vocab_size`` most
    frequent words with a deterministic (count DESC, word ASC) tie-break,
    so the result is reproducible across engines and runs.

    Scale shape: the word-count table is bounded by distinct words (far
    below corpus size); its top-V is ``orderBy().limit()``, which Spark
    executes as TakeOrderedAndProject (per-partition top-V, driver merge
    of V-row heaps — never a global sort). The vocab then broadcasts, so
    the corpus-sized token stream shuffles exactly once, on the id, with
    map-side combine.
    """
    toks = ensure_parallel(docs.select(id_col, text_col)).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__w")
    )
    counts = toks.groupBy("__w").agg(F.count("*").alias("__c"))
    vocab = (
        counts.orderBy(F.desc("__c"), F.asc("__w"))
        .limit(vocab_size)
        .select("__w", F.lit(1).alias("__in"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "__w", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
    )
    return per_doc.select(
        id_col,
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.col("n_oov").cast("int").alias("n_oov"),
        F.round(
            F.col("n_oov").cast("double") / F.col("n_tokens"), 6
        ).alias("oov_rate"),
    )


def sql_oov_rate(
    table: str, id_col: str, text_col: str, vocab_size: int = 1000
) -> str:
    return f"""
WITH tok AS (
  SELECT {id_col}, UNNEST({sql_tokens(text_col)}) AS w FROM {table}
),
cnt AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
vocab AS (SELECT w FROM cnt ORDER BY c DESC, w ASC LIMIT {vocab_size}),
per AS (
  SELECT t.{id_col}, COUNT(*) AS n_tokens,
         SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM tok t LEFT JOIN vocab v ON t.w = v.w
  GROUP BY t.{id_col}
)
SELECT {id_col}, CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_oov AS INT) AS n_oov,
       ROUND(n_oov * 1.0 / n_tokens, 6) AS oov_rate
FROM per
"""


# --------------------------------------------------------------------------
# bigram PMI phrase mining
# --------------------------------------------------------------------------


def bigram_pmi_topk(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` token bigrams by pointwise mutual information — the
    word2vec-style phrase-detection pass that decides which adjacent
    token pairs ("new york", "machine learning") deserve a fused vocab
    entry before tokenizer training.

    PMI = ln(c_xy * N^2 / (M * c_x * c_y)) with c_xy the bigram count,
    c_x/c_y unigram counts, N total tokens, M total bigrams; pairs below
    ``min_count`` are noise and dropped before ranking (standard
    practice, and what keeps the ranked table bounded). Rounded to 6
    decimals before the (pmi desc, x, y) ranking so both engines cut
    identically; ranks are dense in registration order (row_number).

    Scale shape: two corpus-sized token aggregations (unigrams, bigrams)
    with map-side combine; the unigram table is vocabulary-bounded and
    broadcasts into the bigram stream twice (left word, right word); the
    final top-k is a TakeOrdered, never a global sort. No all-pairs
    work: only ADJACENT pairs are ever materialized.
    """
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")

    toks = docs.select(tokens(text_col).alias("t"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("w_cnt"))
    )
    bg = (
        toks.select(
            F.explode(
                F.expr(
                    "case when size(t) < 2 then"
                    " cast(array() as array<struct<x:string,y:string>>)"
                    " else transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] as x, t[i] as y)) end"
                )
            ).alias("b")
        )
        .select("b.x", "b.y")
        .groupBy("x", "y")
        .agg(F.count("*").alias("xy_cnt"))
        .filter(F.col("xy_cnt") >= min_count)
    )
    totals = toks.agg(
        F.sum(F.size("t")).alias("n_tok"),
        F.sum(F.greatest(F.size("t") - 1, F.lit(0))).alias("n_big"),
    )
    scored = (
        bg.join(F.broadcast(uni.withColumnRenamed("w", "x")
                            .withColumnRenamed("w_cnt", "x_cnt")), "x")
        .join(F.broadcast(uni.withColumnRenamed("w", "y")
                          .withColumnRenamed("w_cnt", "y_cnt")), "y")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "pmi",
            F.round(
                F.expr(
                    "ln((xy_cnt * cast(n_tok as double) * n_tok)"
                    " / (cast(n_big as double) * x_cnt * y_cnt))"
                ),
                6,
            ),
        )
    )
    w = Window.orderBy(F.desc("pmi"), "x", "y")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("x", "y", F.col("xy_cnt").cast("int").alias("xy_cnt"),
                "pmi", F.col("rnk").cast("int").alias("rnk"))
    )


def sql_bigram_pmi_topk(
    table: str = "documents",
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> str:
    toks = sql_tokens(text_col)
    return f"""
WITH t AS (SELECT {toks} AS t FROM {table}),
uni AS (
  SELECT unnest(t) AS w FROM t
),
ucnt AS (SELECT w, COUNT(*) AS w_cnt FROM uni GROUP BY w),
bg AS (
  SELECT t[CAST(i AS INT)] AS x, t[CAST(i AS INT) + 1] AS y
  FROM t, LATERAL unnest(range(1, greatest(len(t), 1))) AS u(i)
),
bcnt AS (
  SELECT x, y, COUNT(*) AS xy_cnt FROM bg GROUP BY x, y
  HAVING COUNT(*) >= {min_count}
),
tot AS (
  SELECT SUM(len(t)) AS n_tok,
         SUM(greatest(len(t) - 1, 0)) AS n_big
  FROM t
),
scored AS (
  SELECT x, y, xy_cnt,
         ROUND(ln((xy_cnt * CAST(n_tok AS DOUBLE) * n_tok)
                  / (CAST(n_big AS DOUBLE) * ux.w_cnt * uy.w_cnt)), 6) AS pmi
  FROM bcnt
  JOIN ucnt ux ON bcnt.x = ux.w
  JOIN ucnt uy ON bcnt.y = uy.w
  CROSS JOIN tot
)
SELECT x, y, CAST(xy_cnt AS INT) AS xy_cnt, pmi, CAST(rnk AS INT) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY pmi DESC, x, y) AS rnk
      FROM scored)
WHERE rnk <= {k}
"""


# --------------------------------------------------------------------------
# vocabulary build + document encoding (tokenizer-apply)
# --------------------------------------------------------------------------


def vocab_encode(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 1000,
    max_tokens: int = 32,
) -> DataFrame:
    """Build a frequency-ranked top-V vocabulary over the corpus, then
    encode each document's first ``max_tokens`` tokens to ids (OOV → 0):
    (id, n_tokens, ids array<int>, oov_count) — the tokenizer-apply step
    between q70's coverage check and an actual training batch. Vocab id
    1 is the most frequent token; ties rank alphabetically so the
    mapping is reproducible across runs and engines.

    Scale shape: the vocab is token counts (one map-side-combined
    shuffle over the token stream) → TakeOrdered top-V (never a global
    sort) → row_number over V rows; the V-row vocab then BROADCASTS
    into the encode join, and the only corpus-sized shuffle is the
    doc-id reassembly of (pos, id) pairs. At 100 TB the reassembly
    shuffle disappears too: ship the broadcast vocab as a plain dict
    into an Arrow-batched UDF and emit the id array map-side — the
    join+regroup form here is the one DuckDB can mirror bit-for-bit.
    """
    toks = ensure_parallel(docs.select(id_col, text_col)).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__t")
    )
    cnt = (
        toks.select(F.explode("__t").alias("__tok"))
        .groupBy("__tok")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.desc("__c"), "__tok")
        .limit(vocab_size)
    )
    from pyspark.sql import Window

    vocab = cnt.withColumn(
        "__tid",
        F.row_number().over(Window.orderBy(F.desc("__c"), "__tok")),
    ).select("__tok", "__tid")
    ex = toks.select(
        id_col,
        F.posexplode(F.slice("__t", 1, max_tokens)).alias("__pos", "__tok"),
    )
    enc = ex.join(F.broadcast(vocab), "__tok", "left").select(
        id_col, "__pos", F.coalesce("__tid", F.lit(0)).alias("__tid")
    )
    return enc.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_tokens"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("__pos", "__tid"))),
            lambda s: s["__tid"].cast("int"),
        ).alias("ids"),
        F.sum(F.when(F.col("__tid") == 0, 1).otherwise(0))
        .cast("int")
        .alias("oov_count"),
    )


def sql_vocab_encode(
    table: str,
    id_col: str,
    text_col: str,
    vocab_size: int = 1000,
    max_tokens: int = 32,
) -> str:
    return f"""
WITH tk AS (SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {table}),
cnt AS (
  SELECT tok, COUNT(*) AS c
  FROM (SELECT unnest(t) AS tok FROM tk) GROUP BY tok
),
vocab AS (
  SELECT tok, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS tid
  FROM (SELECT * FROM cnt ORDER BY c DESC, tok LIMIT {vocab_size})
),
ex AS (
  SELECT {id_col}, i AS pos, t[i] AS tok
  FROM tk, UNNEST(range(1, least(len(t), {max_tokens}) + 1)) AS r(i)
),
enc AS (
  SELECT {id_col}, pos, COALESCE(tid, 0) AS tid
  FROM ex LEFT JOIN vocab USING (tok)
)
SELECT {id_col}, CAST(COUNT(*) AS INT) AS n_tokens,
       list(CAST(tid AS INT) ORDER BY pos) AS ids,
       CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS INT) AS oov_count
FROM enc GROUP BY {id_col}
"""


def vocab_encode_mapside(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    vocab_size: int = 1000,
    max_tokens: int = 32,
) -> DataFrame:
    """The 100 TB twin of :func:`vocab_encode` — identical output, zero
    corpus shuffle. The top-V vocab (bounded, tiny) is collected once and
    shipped to executors as a plain dict inside an Arrow ``mapInPandas``
    closure; every document encodes map-side in one pass, so the
    explode → join → doc-reassembly pipeline (two corpus-wide stages)
    disappears entirely. This is the shape a production tokenizer-apply
    runs at scale; the join form stays the oracle-checked default
    because DuckDB can mirror it relationally. Parity with
    :func:`vocab_encode` is asserted in tests/test_corpus_stats.py.
    """
    cnt = (
        ensure_parallel(docs.select(text_col))
        .select(F.explode(F.split(F.col(text_col), " ")).alias("__tok"))
        .groupBy("__tok")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.desc("__c"), "__tok")
        .limit(vocab_size)
        .collect()
    )
    # rank 1 = most frequent; ties alphabetical — same order as the
    # TakeOrdered above, so ids match vocab_encode's row_number exactly
    tok2id = {r["__tok"]: i + 1 for i, r in enumerate(cnt)}
    # mirror the input id column's actual type — hardcoding long would
    # break the documented output parity with vocab_encode for string ids
    id_type = dict(docs.dtypes)[id_col]
    out_schema = (
        f"{id_col} {id_type}, n_tokens int, ids array<int>, oov_count int"
    )

    def _encode(batches):
        import pandas as pd

        for pdf in batches:
            ids_col, n_col, oov_col = [], [], []
            for text in pdf[text_col]:
                toks = text.split(" ")[:max_tokens]
                ids = [tok2id.get(t, 0) for t in toks]
                ids_col.append(ids)
                n_col.append(len(ids))
                oov_col.append(sum(1 for i in ids if i == 0))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    "n_tokens": n_col,
                    "ids": ids_col,
                    "oov_count": oov_col,
                }
            )

    return ensure_parallel(docs.select(id_col, text_col)).mapInPandas(
        _encode, schema=out_schema
    )


# --------------------------------------------------------------------------
# Zipf rank-frequency fit (power-law diagnostic)
# --------------------------------------------------------------------------


def zipf_fit(
    docs: DataFrame,
    text_col: str,
    group_col: str,
    top_ranks: int = 100,
) -> DataFrame:
    """Per group: the Zipf exponent of the token rank-frequency curve —
    OLS of ln(count) on ln(rank) over the top ``top_ranks`` terms, so
    count ≈ C·rank^(-alpha). Natural corpora sit near alpha ≈ 1; a much
    flatter slope flags template/boilerplate-dominated text, a steeper
    one a collapsed vocabulary — the corpus-level "does this read like
    language" diagnostic next to q58/q61's per-document gates.

    Cross-engine determinism: the per-group OLS moments are computed by
    FOLDS over rank-ordered arrays (the q152/q159 recurrence-as-fold
    family) — Spark ``aggregate`` and DuckDB ``list_reduce`` add the
    same ≤ top_ranks doubles in the same order, and the 0.0 seed is
    exact under IEEE (0 + x == x), so the engines agree bit-for-bit
    (modulo a last-ulp ln() difference the 6-dp round absorbs, the same
    accepted risk as q61/q137).

    Scale shape: one map-side-combined token-count shuffle; the window
    rank runs per group over term counts (count-domain, not corpus-
    domain); everything after the top-R filter is R-bounded per group.
    """
    cnt = (
        docs.select(group_col, F.explode(F.split(text_col, " ")).alias("__t"))
        .groupBy(group_col, "__t")
        .agg(F.count("*").alias("__c"))
    )
    r = F.row_number().over(
        Window.partitionBy(group_col).orderBy(F.desc("__c"), "__t")
    )
    top = cnt.withColumn("__r", r).filter(F.col("__r") <= top_ranks)
    srt = "array_sort(collect_list(struct(__r, __c)))"
    agg = top.groupBy(group_col).agg(
        F.count("*").alias("n_terms"),
        F.expr(
            f"aggregate({srt}, cast(0.0 as double),"
            " (a, s) -> a + ln(cast(s.__r as double)))"
        ).alias("__sx"),
        F.expr(
            f"aggregate({srt}, cast(0.0 as double),"
            " (a, s) -> a + ln(cast(s.__c as double)))"
        ).alias("__sy"),
        F.expr(
            f"aggregate({srt}, cast(0.0 as double),"
            " (a, s) -> a + ln(cast(s.__r as double))"
            " * ln(cast(s.__c as double)))"
        ).alias("__sxy"),
        F.expr(
            f"aggregate({srt}, cast(0.0 as double),"
            " (a, s) -> a + ln(cast(s.__r as double))"
            " * ln(cast(s.__r as double)))"
        ).alias("__sxx"),
    )
    n = F.col("n_terms").cast("double")
    denom = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    # try_divide: a single-term group has sx = sxx = 0 -> denom 0, which
    # under the session's ANSI mode would ABORT the job; DuckDB's /
    # yields NULL there, and try_divide matches that (review r8 finding)
    slope = F.try_divide(n * F.col("__sxy") - F.col("__sx") * F.col("__sy"), denom)
    return agg.select(
        group_col,
        F.col("n_terms").cast("int").alias("n_terms"),
        F.round(-slope, 6).alias("zipf_alpha"),
        F.round(
            F.try_divide(F.col("__sy") - slope * F.col("__sx"), n), 6
        ).alias("ln_c_intercept"),
    )


def sql_zipf_fit(
    table: str, text_col: str, group_col: str, top_ranks: int = 100
) -> str:
    """DuckDB mirror of :func:`zipf_fit` — identical rank-ordered folds."""
    return f"""
WITH cnt AS (
  SELECT {group_col}, tok, COUNT(*) AS c
  FROM (SELECT {group_col}, UNNEST(string_split({text_col}, ' ')) AS tok
        FROM {table})
  GROUP BY {group_col}, tok
),
top AS (
  SELECT * FROM (
    SELECT {group_col}, c,
           ROW_NUMBER() OVER (PARTITION BY {group_col}
                              ORDER BY c DESC, tok) AS r
    FROM cnt
  ) WHERE r <= {top_ranks}
),
folded AS (
  SELECT {group_col}, COUNT(*) AS n_terms,
         list_reduce(list_prepend(0.0,
           list(ln(CAST(r AS DOUBLE)) ORDER BY r)), (a, x) -> a + x) AS sx,
         list_reduce(list_prepend(0.0,
           list(ln(CAST(c AS DOUBLE)) ORDER BY r)), (a, x) -> a + x) AS sy,
         list_reduce(list_prepend(0.0,
           list(ln(CAST(r AS DOUBLE)) * ln(CAST(c AS DOUBLE)) ORDER BY r)),
           (a, x) -> a + x) AS sxy,
         list_reduce(list_prepend(0.0,
           list(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)) ORDER BY r)),
           (a, x) -> a + x) AS sxx
  FROM top GROUP BY {group_col}
)
SELECT {group_col}, CAST(n_terms AS INT) AS n_terms,
       ROUND(-(CAST(n_terms AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_terms AS DOUBLE) * sxx - sx * sx), 6) AS zipf_alpha,
       ROUND((sy - (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_terms AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n_terms AS DOUBLE), 6) AS ln_c_intercept
FROM folded
"""


def heaps_fit(
    docs: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Heaps'-law fit across groups: each group contributes one
    (N = total tokens, V = distinct tokens) point, and the output is the
    single-row OLS of ln V on ln N — V ≈ k·N^beta, the vocabulary-growth
    law (beta ≈ 0.4-0.6 for natural text). The planning companion to
    q164's Zipf exponent: beta predicts how big the q94/q138 vocabulary
    gets as the corpus scales, BEFORE the corpus exists.

    Determinism: N and V are exact integers per group; the OLS moments
    fold over the GROUP-NAME-ORDERED list of (ln N, ln V) points — both
    engines sum the same <=|groups| doubles in the same order (the
    q164/q152 fold construction).

    Scale shape: one (group, token) distinct-count shuffle (map-side
    combined) + a group-cardinality aggregate; the fold runs over
    |groups| rows on one reducer — bounded by the grouping key space,
    never the corpus.
    """
    per_tok = docs.select(
        group_col, F.explode(F.split(text_col, " ")).alias("__t")
    )
    per_grp = per_tok.groupBy(group_col).agg(
        F.count("*").alias("__n"),
        F.countDistinct("__t").alias("__v"),
    )
    srt = f"array_sort(collect_list(struct({group_col}, __n, __v)))"
    folded = per_grp.agg(
        F.count("*").alias("n_groups"),
        F.expr(
            f"aggregate({srt}, cast(0.0 as double),"
            " (a, s) -> a + ln(cast(s.__n as double)))"
        ).alias("__sx"),
        F.expr(
            f"aggregate({srt}, cast(0.0 as double),"
            " (a, s) -> a + ln(cast(s.__v as double)))"
        ).alias("__sy"),
        F.expr(
            f"aggregate({srt}, cast(0.0 as double),"
            " (a, s) -> a + ln(cast(s.__n as double))"
            " * ln(cast(s.__v as double)))"
        ).alias("__sxy"),
        F.expr(
            f"aggregate({srt}, cast(0.0 as double),"
            " (a, s) -> a + ln(cast(s.__n as double))"
            " * ln(cast(s.__n as double)))"
        ).alias("__sxx"),
    )
    n = F.col("n_groups").cast("double")
    denom = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    # try_divide: one group (or groups with equal N) -> denom 0; ANSI
    # mode would abort, DuckDB yields NULL — match it (review r8)
    beta = F.try_divide(n * F.col("__sxy") - F.col("__sx") * F.col("__sy"), denom)
    # `+ 0.0` after rounding normalizes IEEE signed zero: the engines'
    # ln() implementations (JVM vs libm) differ in the last ulp, so a
    # fit whose true slope is 0 can round to -0.0 on one engine and
    # +0.0 on the other — numerically equal, rendered differently
    # (r12 sf0.1 sweep finding; mirrored in sql_heaps_fit)
    return folded.select(
        F.col("n_groups").cast("int").alias("n_groups"),
        (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        (
            F.round(
                F.try_divide(F.col("__sy") - beta * F.col("__sx"), n), 6
            )
            + F.lit(0.0)
        ).alias("ln_k"),
    )


def sql_heaps_fit(table: str, text_col: str, group_col: str) -> str:
    """DuckDB mirror of :func:`heaps_fit` — identical group-ordered folds."""
    return f"""
WITH per_grp AS (
  SELECT {group_col}, COUNT(*) AS n, COUNT(DISTINCT tok) AS v
  FROM (SELECT {group_col}, UNNEST(string_split({text_col}, ' ')) AS tok
        FROM {table})
  GROUP BY {group_col}
),
folded AS (
  SELECT COUNT(*) AS n_groups,
         list_reduce(list_prepend(0.0,
           list(ln(CAST(n AS DOUBLE)) ORDER BY {group_col})),
           (a, x) -> a + x) AS sx,
         list_reduce(list_prepend(0.0,
           list(ln(CAST(v AS DOUBLE)) ORDER BY {group_col})),
           (a, x) -> a + x) AS sy,
         list_reduce(list_prepend(0.0,
           list(ln(CAST(n AS DOUBLE)) * ln(CAST(v AS DOUBLE))
                ORDER BY {group_col})),
           (a, x) -> a + x) AS sxy,
         list_reduce(list_prepend(0.0,
           list(ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE))
                ORDER BY {group_col})),
           (a, x) -> a + x) AS sxx
  FROM per_grp
)
SELECT CAST(n_groups AS INT) AS n_groups,
       ROUND((CAST(n_groups AS DOUBLE) * sxy - sx * sy)
             / (CAST(n_groups AS DOUBLE) * sxx - sx * sx), 6)
         + 0.0 AS heaps_beta,
       ROUND((sy - (CAST(n_groups AS DOUBLE) * sxy - sx * sy)
                   / (CAST(n_groups AS DOUBLE) * sxx - sx * sx) * sx)
             / CAST(n_groups AS DOUBLE), 6)
         + 0.0 AS ln_k
FROM folded
"""
