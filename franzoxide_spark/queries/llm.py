"""LLM-training-data pipeline queries (Q29-Q31 + Q33-Q43).

Dedup family (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
cosine), similarity search (exact brute-force + LSH ANN), text analysis
(lang-ID, quality, tokenization, fingerprinting), multimodal byte
plumbing, and an as-of join. Operators live in ``operators/``; each query
here binds one to the fixture tables with a DuckDB oracle wherever the op
is deterministic + SQL-expressible (the LSH ANN is approximate-by-design
-> rows-only, with recall measured in tests against the exact path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from franzoxide_spark.functions.text import (
    BPE_ISH_PATTERN,
    LANG_ORDER,
    bpe_ish_count,
    lang_score,
    rolling_fingerprint,
    sql_bpe_ish_count,
    sql_lang_score,
    sql_rolling_fingerprint,
    tokens,
)
from franzoxide_spark.operators.asof import asof_join
from franzoxide_spark.operators.dedup import (
    containment_pairs,
    embedding_near_duplicates,
    exact_dedup,
    jaccard_pairs,
    minhash_near_duplicates,
    simhash_near_duplicates,
)
from franzoxide_spark.operators.multimodal import (
    byte_stats,
    media_frame_from_documents,
)
from franzoxide_spark.operators.similarity import lsh_ann_topk, topk_cosine_exact
from franzoxide_spark.queries import register
from franzoxide_spark.tables import fanned_table, table

# --------------------------------------------------------------------------
# Q29 — exact dedup on text hash
# --------------------------------------------------------------------------
def q29(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(table(spark, sf_dir, "documents"), "text", "doc_id")


Q29_SQL = """
SELECT sha256(text) AS content_sha, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# --------------------------------------------------------------------------
# Q30 — exact top-k cosine for 10 fixed query vectors
# --------------------------------------------------------------------------
def q30(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 fan-out audit: REVERTED to the plain scan (plain 0.67-0.85 s
    # vs fanned 0.85-1.11 s on the r17 host — the pair finder's
    # tile/block machinery repartitions internally, the q92/q85 class)
    emb = table(spark, sf_dir, "embeddings")
    return topk_cosine_exact(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding", k=5
    )


Q30_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
     c AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         ROUND(list_cosine_similarity(CAST(qv AS DOUBLE[]), CAST(nv AS DOUBLE[])), 6) AS cos
  FROM q CROSS JOIN c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cos, CAST(rnk AS INT) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM scored)
WHERE rnk <= 5
"""


# --------------------------------------------------------------------------
# Q31 — text stats with a median filter
# --------------------------------------------------------------------------
def q31(spark: SparkSession, sf_dir: str, exact: bool = True) -> DataFrame:
    """Text stats above the corpus-median char count.

    ``exact=True`` (the oracle path) computes the interpolated median by
    buffering all values in one agg buffer; at 100 TB pass ``exact=False``
    for the approx_percentile twin (bounded-memory GK sketch, rank error
    <= n/accuracy) — for a > p50 gate the difference is at most the
    boundary documents.
    """
    docs = fanned_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", F.size(tokens("text"))
    )
    median = (
        "percentile(n_chars, 0.5)" if exact
        else "approx_percentile(n_chars, 0.5, 10000)"
    )
    p50 = docs.agg(F.expr(median).alias("p50"))
    return (
        docs.join(F.broadcast(p50))
        .filter(F.col("n_chars") > F.col("p50"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            (F.sum("n_tokens").cast("double") / F.count(F.lit(1))).alias("avg_tokens"),
            F.max("n_chars").alias("max_chars"),
        )
    )


Q31_SQL = """
WITH st AS (
  SELECT lang, n_chars,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
  FROM documents
),
p AS (SELECT quantile_cont(n_chars, 0.5) AS p50 FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens,
       MAX(n_chars) AS max_chars
FROM st, p WHERE st.n_chars > p.p50
GROUP BY lang
"""


# --------------------------------------------------------------------------
# Q33 — MinHash + LSH near-duplicate pairs (verified with exact Jaccard)
# --------------------------------------------------------------------------
def q33(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_duplicates(
        table(spark, sf_dir, "documents"), "text", "doc_id",
        threshold=0.8, num_hashes=8, bands=4, shingle_k=3,
    )


_H60 = "CAST('0x' || substr(md5(CAST({i} AS VARCHAR) || ':' || {s}), 1, 15) AS BIGINT)"
_SHINGLES = (
    "list_distinct(list_transform(range(1, greatest(len(tk) - 1, 1)),"
    " i -> array_to_string(tk[i:i+2], ' ')))"
)
_MINHASH_SIG_SQL = None  # built below from the operator's constants


def _build_minhash_sig_sql() -> str:
    from franzoxide_spark.operators.dedup import sql_minhash_sig

    return sql_minhash_sig("ss", 8)


Q33_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS ss FROM toks),
sig AS (
  SELECT doc_id, ss, {_build_minhash_sig_sql()} AS sg
  FROM sh
),
bands AS (
  SELECT doc_id, k AS band, sg[2 * k + 1] AS h1, sg[2 * k + 2] AS h2
  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
             / CAST(len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss))
                    AS DOUBLE), 6) AS jaccard
FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
WHERE ROUND(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
            / CAST(len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss))
                   AS DOUBLE), 6) >= 0.8
"""


# --------------------------------------------------------------------------
# Q34 — SimHash near-duplicate pairs (hamming <= 3 on 32-bit signatures)
# --------------------------------------------------------------------------
def q34(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_duplicates(
        table(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=3
    )


Q34_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
tok AS (
  SELECT doc_id, unnest({_SHINGLES}) AS t FROM toks
),
th AS (SELECT doc_id, {_H60.format(i="0", s="t")} AS h FROM tok),
votes AS (
  SELECT doc_id, j,
         CASE WHEN (h & (CAST(1 AS BIGINT) << j)) != 0 THEN 1 ELSE -1 END AS v
  FROM th, (SELECT unnest(range(0, 32)) AS j)
),
sv AS (SELECT doc_id, j, SUM(v) AS s FROM votes GROUP BY 1, 2),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)
              AS BIGINT) AS simhash
  FROM sv GROUP BY 1
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# --------------------------------------------------------------------------
# Q57 — near-dup clustering: MinHash pairs -> connected components ->
# one survivor (min doc_id) per cluster. The step that turns pair
# finders into dedup decisions.
# --------------------------------------------------------------------------
def q57(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH pairs (q33's exact plan) clustered into connected
    components by distributed min-label propagation
    (operators/dedup.py:neardup_clusters); survivor = min id per
    component. Oracle: the same pair relation fed to a recursive CTE."""
    from franzoxide_spark.operators.dedup import neardup_clusters

    return neardup_clusters(q33(spark, sf_dir))


def _q57_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({Q33_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS n, src AS r FROM edges
  UNION
  SELECT e.dst AS n, reach.r FROM reach JOIN edges e ON e.src = reach.n
),
cc AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n)
SELECT doc_id, cluster_id, doc_id = cluster_id AS is_survivor FROM cc
"""


# --------------------------------------------------------------------------
# Q35 — exact n-gram Jaccard pairs (shingle-join)
# --------------------------------------------------------------------------
def _docs_shingle_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared bucketed shingle landing for the dedup family
    (r10 verdict item #3): the registry's q35/q35b/q119 all route their
    self-joins through ONE landed relation per (session, corpus), so the
    bench measures the landed (exchange-free-join) path and the write-once
    cost amortizes across the family — the 100 TB land-once/join-many
    posture BASELINE.md argues."""
    from franzoxide_spark.operators.dedup import shared_shingle_relation

    return shared_shingle_relation(
        table(spark, sf_dir, "documents"), "text", "doc_id",
        source_key=f"{sf_dir}/documents",
    )


def q35(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.3,
        shingle_rel=_docs_shingle_rel(spark, sf_dir),
    )


def q35b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opt-in ppjoin-style prefix-filter twin of q35 — identical result
    set (checked against the SAME oracle), different candidate generator:
    rarest-first global shingle order, prefix length n - ceil(t*n) + 1,
    array_intersect verify on candidates only. The variant for
    high-threshold or shingle-skewed corpora where the plain shingle join
    degrades (see operators/dedup.py:jaccard_pairs_prefix)."""
    from franzoxide_spark.operators.dedup import jaccard_pairs_prefix

    return jaccard_pairs_prefix(
        table(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.3,
        shingle_rel=_docs_shingle_rel(spark, sf_dir),
    )


Q35_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS ss FROM toks),
ex AS (SELECT doc_id,
              unnest(list_transform(ss,
                g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT))) AS g
       FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(CAST(i AS DOUBLE) / CAST(len(sa.ss) + len(sb.ss) - i AS DOUBLE), 6)
         AS jaccard
FROM inter JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
WHERE ROUND(CAST(i AS DOUBLE) / CAST(len(sa.ss) + len(sb.ss) - i AS DOUBLE), 6)
      >= 0.3
"""


# --------------------------------------------------------------------------
# Q36 — embedding-cosine near-dup, blocked by label
# --------------------------------------------------------------------------
def q36(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked all-pairs cosine: candidate pairs only within a label block
    (the blocking key is the shuffle key at scale — each block's pairwise
    work is independent), computed as vectorized numpy matmuls over
    id-band tiles so no single task ever materializes O(n^2) for a hot
    block (the r2 scale hazard). Arrow-batched; no per-pair Python."""
    from franzoxide_spark.operators.similarity import blocked_cosine_pairs

    emb = table(spark, sf_dir, "embeddings")
    return blocked_cosine_pairs(
        emb, "label", "vec_id", "embedding", threshold=0.3, tile_cap=4096
    )


Q36_SQL = """
SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) >= 0.3
"""


# --------------------------------------------------------------------------
# Q37 — LSH-bucketed approximate NN (rows-only: approximate by design;
#        recall vs the exact path is asserted in tests/test_llm_ops.py)
# --------------------------------------------------------------------------
def q37(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, bits=4, max_probe_hamming=1,
    )


def _q37_sql() -> str:
    """DuckDB mirror of the deterministic LSH path: the ±1 hyperplanes are
    driver-side md5-derived literals shared with the Spark side via
    ``_plane_matrix`` (single source of truth), the multiprobe is the same
    XOR-mask explode, and the rerank is exact — so the whole 'approximate'
    query is cross-engine reproducible and hash-checkable, same pattern as
    Q33's mirrored MinHash. Multiplying by ±1.0 and float->double casts
    are exact in IEEE754, so the only cross-engine risk is summation order
    in the sign decision; both engines fold the 64 terms sequentially."""
    from franzoxide_spark.operators.similarity import _plane_matrix, _probe_masks

    planes = _plane_matrix(4, 64)

    def arr(row: list[float]) -> str:
        return "[" + ", ".join(f"{v:.1f}" for v in row) + "]::DOUBLE[]"

    sig_terms = " + ".join(
        f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {arr(p)})"
        f" > 0 THEN {1 << j} ELSE 0 END)"
        for j, p in enumerate(planes)
    )
    masks = ", ".join(f"({m})" for m in _probe_masks(4, 1))
    return f"""
WITH sig AS (
  SELECT vec_id, embedding, CAST({sig_terms} AS BIGINT) AS lsh_sig
  FROM embeddings
),
probes AS (
  SELECT s.vec_id AS query_id, s.embedding AS qv,
         xor(s.lsh_sig, CAST(m.mask AS BIGINT)) AS probe_sig
  FROM sig s CROSS JOIN (VALUES {masks}) m(mask)
  WHERE s.vec_id < 10
),
cand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id,
         ROUND(list_cosine_similarity(CAST(p.qv AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cos
  FROM probes p JOIN sig c ON c.lsh_sig = p.probe_sig
  WHERE c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos, CAST(rnk AS INT) AS rnk
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rnk
      FROM cand)
WHERE rnk <= 5
"""


# --------------------------------------------------------------------------
# Q38 — language-ID heuristic (stopword lexicon argmax)
# --------------------------------------------------------------------------
def q38(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-language n-gram scoring of every document (also the q96/q146/
    # q156 front end) — fanned single-file fixture scan, identity at scale
    docs = fanned_table(spark, sf_dir, "documents").withColumn(
        "__toks", tokens("text")
    )
    scored = docs.select(
        "doc_id",
        "lang",
        *[lang_score("__toks", lg).alias(f"s_{lg}") for lg in LANG_ORDER],
    )
    m = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_ORDER])
    pred = F.when(F.col(f"s_{LANG_ORDER[0]}") == m, LANG_ORDER[0])
    for lg in LANG_ORDER[1:]:
        pred = pred.when(F.col(f"s_{lg}") == m, lg)
    return scored.withColumn("pred_lang", pred).withColumn(
        "correct", (F.col("pred_lang") == F.col("lang")).cast("int")
    )


_TOKS_SQL = "string_split(text, ' ')"
_SCORES_SQL = ",\n       ".join(
    f"{sql_lang_score(_TOKS_SQL, lg)} AS s_{lg}" for lg in LANG_ORDER
)
_M = "GREATEST(" + ", ".join(f"s_{lg}" for lg in LANG_ORDER) + ")"
_PRED = "CASE " + " ".join(
    f"WHEN s_{lg} = {_M} THEN '{lg}'" for lg in LANG_ORDER
) + " END"
Q38_SQL = f"""
WITH scored AS (
  SELECT doc_id, lang,
       {_SCORES_SQL}
  FROM documents
)
SELECT doc_id, lang, {", ".join(f"s_{lg}" for lg in LANG_ORDER)},
       {_PRED} AS pred_lang,
       CAST({_PRED} = lang AS INT) AS correct
FROM scored
"""


# --------------------------------------------------------------------------
# Q39 — quality scoring (length / punctuation / stopword ratios)
# --------------------------------------------------------------------------
def _pred_lang_expr(toks_col: str = "__toks"):
    """Row-wise argmax language prediction — q38's pred as ONE nested
    expression (no named s_<lg> intermediates), so a consumer can fuse
    it into a single-pass projection (q156). Same scores, same greatest/
    when-chain tiebreak as q38; ProjectExec's subexpression elimination
    collapses the doubled score references."""
    scores = [lang_score(toks_col, lg) for lg in LANG_ORDER]
    m = F.greatest(*scores)
    pred = F.when(scores[0] == m, LANG_ORDER[0])
    for lg, s in zip(LANG_ORDER[1:], scores[1:]):
        pred = pred.when(s == m, lg)
    return pred


def _quality_parts() -> dict:
    """q39's row-wise quality features as reusable expressions (relation
    must carry text, __toks, n_chars) — q39 renders them all, q156 fuses
    just ``quality`` into its one-pass vote projection. One definition so
    the two can't drift (the q156 oracle locks the shared math)."""
    n_tok = F.size("__toks").cast("double")
    n_punct = F.size(
        F.regexp_extract_all("text", F.lit("[^A-Za-z0-9 ]"), 0)
    ).cast("double")
    stop_ratio = lang_score("__toks", "en").cast("double") / n_tok
    punct_ratio = n_punct / F.col("n_chars").cast("double")
    quality = F.round(
        0.4 * stop_ratio
        + 0.3 * (1.0 - punct_ratio)
        + 0.3 * F.least(n_tok / 100.0, F.lit(1.0)),
        6,
    )
    return {
        "n_tok": n_tok,
        "stop_ratio": stop_ratio,
        "punct_ratio": punct_ratio,
        "quality": quality,
    }


def q39(spark: SparkSession, sf_dir: str) -> DataFrame:
    # regex-heavy per-doc quality features (also the q156 front end) —
    # fanned single-file fixture scan, identity at scale
    docs = fanned_table(spark, sf_dir, "documents").withColumn(
        "__toks", tokens("text")
    )
    parts = _quality_parts()
    n_tok = parts["n_tok"]
    n_upper = F.size(F.regexp_extract_all("text", F.lit("[A-Z]"), 0)).cast("double")
    stop_ratio = parts["stop_ratio"]
    punct_ratio = parts["punct_ratio"]
    quality = parts["quality"]
    # Gopher-style repetition signal: fraction of tokens that repeat an
    # earlier token (1 - type/token ratio). High values flag boilerplate
    # and degenerate generations; pure per-row codegen, no shuffle.
    rep_ratio = 1.0 - F.size(F.array_distinct("__toks")).cast("double") / n_tok
    return docs.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(rep_ratio, 6).alias("rep_ratio"),
        n_upper.cast("int").alias("n_upper"),
        quality.alias("quality"),
        F.when(quality > 0.5, "high").when(quality > 0.3, "mid").otherwise("low").alias("band"),
    )


Q39_SQL = f"""
WITH st AS (
  SELECT doc_id, n_chars,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE) AS n_distinct,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE) AS n_punct,
         CAST(len(regexp_extract_all(text, '[A-Z]')) AS DOUBLE) AS n_upper,
         CAST({sql_lang_score("string_split(text, ' ')", "en")} AS DOUBLE) AS s_en
  FROM documents
),
calc AS (
  SELECT doc_id, n_tok, n_upper,
         s_en / n_tok AS stop_ratio,
         n_punct / CAST(n_chars AS DOUBLE) AS punct_ratio,
         1.0 - n_distinct / n_tok AS rep_ratio,
         ROUND(0.4 * (s_en / n_tok)
               + 0.3 * (1.0 - n_punct / CAST(n_chars AS DOUBLE))
               + 0.3 * LEAST(n_tok / 100.0, 1.0), 6) AS quality
  FROM st
)
SELECT doc_id, CAST(n_tok AS INT) AS n_tokens,
       ROUND(stop_ratio, 6) AS stop_ratio,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(rep_ratio, 6) AS rep_ratio,
       CAST(n_upper AS INT) AS n_upper,
       quality,
       CASE WHEN quality > 0.5 THEN 'high'
            WHEN quality > 0.3 THEN 'mid' ELSE 'low' END AS band
FROM calc
"""


# --------------------------------------------------------------------------
# Q40 — token counting (whitespace + BPE-ish regex), per language
# --------------------------------------------------------------------------
def q40(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanned_table(spark, sf_dir, "documents")
    st = docs.select(
        "lang",
        F.size(tokens("text")).alias("ws_tokens"),
        bpe_ish_count("text").alias("bpe_tokens"),
    )
    return st.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("sum_ws"),
        F.sum("bpe_tokens").alias("sum_bpe"),
        (F.sum("ws_tokens").cast("double") / F.count(F.lit(1))).alias("avg_ws"),
        F.max("bpe_tokens").alias("max_bpe"),
    )


Q40_SQL = f"""
WITH st AS (
  SELECT lang,
         CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
         {sql_bpe_ish_count("text")} AS bpe_tokens
  FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS sum_ws,
       CAST(SUM(bpe_tokens) AS BIGINT) AS sum_bpe,
       CAST(SUM(ws_tokens) AS DOUBLE) / COUNT(*) AS avg_ws,
       MAX(bpe_tokens) AS max_bpe
FROM st GROUP BY lang
"""


# --------------------------------------------------------------------------
# Q41 — rolling-hash document fingerprint
# --------------------------------------------------------------------------
def q41(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanned_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        rolling_fingerprint("text").alias("fingerprint"),
        "n_chars",
    )


Q41_SQL = f"""
SELECT doc_id, {sql_rolling_fingerprint("text")} AS fingerprint, n_chars
FROM documents
"""


# --------------------------------------------------------------------------
# Q42 — multimodal byte plumbing (binary media column + typed metadata)
# --------------------------------------------------------------------------
def q42(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = media_frame_from_documents(table(spark, sf_dir, "documents"))
    return byte_stats(media)


Q42_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       substr(sha256(text), 1, 16) AS sha256_pfx,
       CAST(n_chars % 640 AS INT) AS width,
       CAST(n_chars % 480 AS INT) AS height,
       'fake/v1' AS format
FROM documents
"""


# --------------------------------------------------------------------------
# Q43 — as-of join: latest order per customer at each event's time
# --------------------------------------------------------------------------
def q43(spark: SparkSession, sf_dir: str) -> DataFrame:
    # project the left side to the three consumed columns BEFORE the
    # as-of join (r17, guide §2.2): asof_join's aggregate keys on every
    # left column, so unconsumed event columns would widen the grouping
    # keys (and the shuffled partial rows), not just the scan
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = table(spark, sf_dir, "orders")
    j = asof_join(
        ev, o,
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        right_cols=["o_totalprice"],
        left_id="event_id", right_id="o_orderkey",
    )
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate_s"),
        "o_totalprice",
    )


Q43_SQL = """
WITH j AS (
  SELECT e.event_id, e.user_id, e.ts,
         o.o_orderkey, o.o_orderdate, o.o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC NULLS LAST,
                                     o.o_orderkey DESC NULLS LAST) AS rn
  FROM events e LEFT JOIN orders o
    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
       o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
       o_totalprice
FROM j WHERE rn = 1
"""

def q43b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The as-of join's 100 TB path (asof.py:asof_join_pandas): co-partition
    both sides on the key and linear-merge per group with pd.merge_asof —
    no fan-out row inflation, one shuffle per side. Registered as a twin
    against the SAME Q43_SQL oracle as q43 (the q31/q49 exact/approx twin
    pattern), so the scale path itself is hash-matched, not just
    equivalence-tested."""
    from franzoxide_spark.operators.asof import asof_join_pandas

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("o_ts"),
        "o_orderkey",
        "o_totalprice",
    )
    j = asof_join_pandas(
        ev, o,
        key="user_id", left_ts="ts", right_ts="o_ts",
        right_tiebreak="o_orderkey",
        out_schema=(
            "event_id bigint, user_id bigint, ts timestamp,"
            " r_o_ts timestamp, r_o_orderkey bigint, r_o_totalprice double"
        ),
    )
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.col("r_o_orderkey").alias("o_orderkey"),
        F.date_format("r_o_ts", "yyyy-MM-dd").alias("o_orderdate_s"),
        F.col("r_o_totalprice").alias("o_totalprice"),
    )


# --------------------------------------------------------------------------
# Q51 — PII-style scrubbing (regex redaction over text)
# --------------------------------------------------------------------------
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"


def q51(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact synthetic emails. The fixture texts contain none, so a
    deterministic injection (every 7th doc gets a contact line) exercises
    both the match and no-match paths; both engines run the same RE2/Java-
    compatible pattern."""
    docs = fanned_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.col("text"), F.lit(" contact: user"), F.col("doc_id"), F.lit("@example.com")),
    ).otherwise(F.col("text"))
    scrubbed = F.regexp_replace(injected, _EMAIL_RE, "<EMAIL>")
    return docs.select(
        "doc_id",
        F.length(injected).alias("len_before"),
        F.length(scrubbed).alias("len_after"),
        (injected != scrubbed).cast("int").alias("was_redacted"),
    )


Q51_SQL = f"""
WITH inj AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact: user' || doc_id || '@example.com'
              ELSE text END AS t
  FROM documents
)
SELECT doc_id,
       CAST(LENGTH(t) AS INT) AS len_before,
       CAST(LENGTH(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g')) AS INT)
         AS len_after,
       CAST(t != regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g') AS INT)
         AS was_redacted
FROM inj
"""


# --------------------------------------------------------------------------
# Q52 — corpus-level repeated n-grams (boilerplate detection)
# --------------------------------------------------------------------------
def q52(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 shingles by occurrence count, ranked with a total (count,
    string) tie-break — the standard boilerplate/contamination sweep.

    The shuffle key is the shingle STRING, deliberately (r9 verdict
    item #4 A/B, BASELINE.md "q52 hash-vs-string shuffle"): aggregating
    on xxhash64 with a threshold + broadcast join-back to recover the
    display strings measured 1.32 s vs 0.73 s for this shape at sf0.1 —
    the string-recovery second corpus pass costs more than the
    fixed-width shuffle key saves while map-side combine already
    collapses each distinct shingle to one row per map partition. The
    hash plan is the documented handoff if shuffle BYTES (not scans)
    become the binding term at real corpus scale."""
    from franzoxide_spark.functions.text import shingles

    docs = fanned_table(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    ex = docs.select(
        "doc_id", F.explode(shingles("__toks", k=3)).alias("g")
    )
    counts = ex.groupBy("g").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        counts.orderBy(F.desc("n_docs"), "g").limit(20)
    )


Q52_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
ex AS (SELECT doc_id, unnest({_SHINGLES}) AS g FROM toks)
SELECT g, COUNT(*) AS n_docs
FROM ex GROUP BY g
ORDER BY n_docs DESC, g
LIMIT 20
"""

register("q29_exact_dedup", q29, Q29_SQL)
register("q51_pii_scrub", q51, Q51_SQL)
register("q52_top_ngrams_boilerplate", q52, Q52_SQL)
register("q30_topk_cosine_exact", q30, Q30_SQL)
register("q31_text_stats_median", q31, Q31_SQL)
register("q33_minhash_lsh_neardup", q33, Q33_SQL)
register("q34_simhash_neardup", q34, Q34_SQL)
register("q35_ngram_jaccard_pairs", q35, Q35_SQL)
# q35b registers at the tail (see the twin-ordering note above register(q58))
register("q57_neardup_clusters", q57, _q57_sql())
register("q36_embedding_neardup_blocked", q36, Q36_SQL)
def q53(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (k-means cells + n_probe rerank) — data-adaptive
    counterpart of q37's LSH; rows-only (clustering is data-dependent),
    recall vs exact asserted in tests."""
    from franzoxide_spark.operators.similarity import ivf_ann_topk

    emb = table(spark, sf_dir, "embeddings")
    return ivf_ann_topk(
        emb, emb.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        k=5, n_lists=16, n_probe=4,
        # memoize the built index per (app, table): repeated query batches
        # probe the persisted assignment instead of re-fitting
        cache_key=("ivf", sf_dir, "embeddings"),
    )


# --------------------------------------------------------------------------
# Q54 — composed curation pipeline:
#   eval carve-out -> exact dedup -> quality gate -> benchmark
#   decontamination -> deterministic train/val/test split -> stats
# --------------------------------------------------------------------------
def q54(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data curation chain as ONE declarative plan.

    Stages (operators/curation.py for decontam + split):
      1. carve out the benchmark/eval set (doc_id % 97 == 0 stands in for
         a held-out eval suite);
      2. exact-dedup the training pool (sha-256 content key, min-id
         survivor);
      3. stopword-quality gate (stop_ratio >= 0.05);
      4. decontaminate: drop pool docs sharing any 4-gram shingle with any
         eval doc (broadcast semi-join — the eval side is tiny at any
         corpus scale);
      5. assign train/val/test (90/5/5) by seeded md5 bucket — map-side,
         order- and partitioning-independent;
      6. per-(lang, split) doc/token stats.
    Catalyst fuses 1-3 and 5-6 into the scan; the only shuffles are the
    dedup hash-agg and the tiny contaminated-id distinct."""
    from franzoxide_spark.operators.curation import decontaminate, split_assign

    docs = table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    pool = docs.filter(F.col("doc_id") % 97 != 0)
    # min-id survivor as min(struct(doc_id, ...)) — doc_id is unique, so
    # the struct order never reads past the first field and the survivor
    # set is exactly the row_number()==1 pick this replaced (r17). Unlike
    # the rank window, min() reduces MAP-SIDE: duplicate texts collapse
    # before the exchange instead of being shuffled and sorted per group,
    # and only the three consumed columns ride in the struct.
    survivors = (
        pool.groupBy(F.sha2("text", 256).alias("__sha"))
        .agg(F.min(F.struct("doc_id", "text", "lang")).alias("__r"))
        .select("__r.doc_id", "__r.text", "__r.lang")
    )
    toks = survivors.withColumn("__toks", tokens("text"))
    gated = toks.withColumn(
        "stop_ratio",
        lang_score("__toks", "en").cast("double") / F.size("__toks"),
    ).filter(F.col("stop_ratio") >= 0.05)
    # probe contamination on the raw pool (map-side explode only) so the
    # dedup aggregation lineage above executes once, not twice
    clean = decontaminate(gated, eval_docs, k=4, probe=pool)
    split = split_assign(clean)
    return split.groupBy("lang", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("__toks")).alias("sum_tokens"),
        F.round(F.min("stop_ratio"), 6).alias("min_stop_ratio"),
    )


_Q54_SHINGLE4 = (
    "list_distinct(list_transform(range(1, greatest(len(tk) - 2, 1)),"
    " i -> array_to_string(tk[i:i+3], ' ')))"
)


def _q54_sql() -> str:
    from franzoxide_spark.operators.curation import sql_split_assign

    return f"""
WITH eval_sh AS (
  SELECT DISTINCT unnest({_Q54_SHINGLE4}) AS g
  FROM (SELECT string_split(text, ' ') AS tk FROM documents WHERE doc_id % 97 = 0)
),
survivors AS (
  SELECT * FROM (
    SELECT doc_id, text, lang,
           ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
    FROM documents WHERE doc_id % 97 <> 0) WHERE rn = 1
),
gated AS (
  SELECT doc_id, text, lang,
         CAST(len(string_split(text, ' ')) AS INT) AS n_tok,
         CAST({sql_lang_score(_TOKS_SQL, "en")} AS DOUBLE)
           / len(string_split(text, ' ')) AS stop_ratio
  FROM survivors
),
contaminated AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({_Q54_SHINGLE4}) AS g
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM gated
              WHERE stop_ratio >= 0.05)) s
  JOIN eval_sh USING (g)
),
split AS (
  SELECT lang, n_tok, stop_ratio,
         {sql_split_assign("doc_id")} AS split
  FROM gated
  WHERE stop_ratio >= 0.05
    AND doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT lang, split, COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       ROUND(MIN(stop_ratio), 6) AS min_stop_ratio
FROM split
GROUP BY lang, split
"""

register("q37_lsh_ann_topk", q37, _q37_sql())
# q53 registers in queries/rows_only.py (see that module: rows-only tail)
register("q54_curation_pipeline", q54, _q54_sql())
register("q38_lang_id_heuristic", q38, Q38_SQL)
register("q39_quality_score", q39, Q39_SQL)
register("q40_token_counting", q40, Q40_SQL)
register("q41_rolling_fingerprint", q41, Q41_SQL)
register("q42_multimodal_byte_stats", q42, Q42_SQL)
# q43 (window path) registers at the tail (see the twin-ordering note above
# register(q58)); the merge_asof scale path is the one the window must keep.
register("q43b_asof_merge_scale_path", q43b, Q43_SQL)


# --------------------------------------------------------------------------
# Q58 — intra-document repetition gate (Gopher-style quality rules)
# --------------------------------------------------------------------------
def q58(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram repetition stats + keep/drop gate.

    Fractions follow the Gopher repetition rules (Rae et al. 2021,
    "Scaling Language Models", Table A1) computed over token-count
    rather than character mass: duplicate 2-gram fraction, top-2-gram
    fraction, duplicate 3-gram fraction; a document is kept when all
    three sit under their thresholds. Every stat is an array-fold
    expression over the token array — ZERO shuffle, the whole gate runs
    map-side at any corpus scale (functions/text.py:ngram_rep_stats).

    Registered past the driver's 50-record correctness window (the 50
    oracle slots are full), so its cross-engine proof is the in-repo
    DuckDB parity test (tests/test_llm_ops.py) running this exact oracle.
    """
    from franzoxide_spark.functions.text import (
        _grams_expr,
        rep_stats_from_grams,
    )

    # full-corpus gram-fold pass; single-file fixture scan -> fanned
    # (tables.fanned_table — identity at scale)
    docs = fanned_table(spark, sf_dir, "documents")
    # gram arrays projected ONCE per k — see ngram_rep_stats's docstring
    d = (
        docs.withColumn("__toks", tokens("text"))
        .withColumn("__g2", F.expr(_grams_expr("__toks", 2)))
        .withColumn("__g3", F.expr(_grams_expr("__toks", 3)))
        .withColumn("s2", rep_stats_from_grams("__g2"))
        .withColumn("s3", rep_stats_from_grams("__g3"))
    )
    frac = lambda num, den: F.when(  # noqa: E731
        den > 0, F.round(num.cast("double") / den.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    frac_dup2 = frac(F.col("s2.n") - F.col("s2.n_distinct"), F.col("s2.n"))
    frac_top2 = frac(F.col("s2.top"), F.col("s2.n"))
    frac_dup3 = frac(F.col("s3.n") - F.col("s3.n_distinct"), F.col("s3.n"))
    return d.select(
        "doc_id",
        F.col("s2.n").alias("n2"),
        frac_dup2.alias("frac_dup2"),
        frac_top2.alias("frac_top2"),
        frac_dup3.alias("frac_dup3"),
        (
            (frac_dup2 <= 0.2) & (frac_top2 <= 0.2) & (frac_dup3 <= 0.18)
        ).alias("keep"),
    )


def _q58_sql() -> str:
    from franzoxide_spark.functions.text import sql_ngrams_with_dups

    g2 = sql_ngrams_with_dups("tk", 2)
    g3 = sql_ngrams_with_dups("tk", 3)
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
e2 AS (SELECT doc_id, unnest({g2}) AS g FROM toks),
e3 AS (SELECT doc_id, unnest({g3}) AS g FROM toks),
c2 AS (
  SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS nd, MAX(cnt) AS top
  FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM e2 GROUP BY 1, 2) GROUP BY 1
),
c3 AS (
  SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS nd
  FROM (SELECT doc_id, g, COUNT(*) AS cnt FROM e3 GROUP BY 1, 2) GROUP BY 1
),
j AS (
  SELECT t.doc_id,
         COALESCE(c2.n, 0) AS n2,
         CASE WHEN COALESCE(c2.n, 0) > 0
              THEN ROUND(CAST(c2.n - c2.nd AS DOUBLE) / c2.n, 6) ELSE 0.0 END
           AS frac_dup2,
         CASE WHEN COALESCE(c2.n, 0) > 0
              THEN ROUND(CAST(c2.top AS DOUBLE) / c2.n, 6) ELSE 0.0 END
           AS frac_top2,
         CASE WHEN COALESCE(c3.n, 0) > 0
              THEN ROUND(CAST(c3.n - c3.nd AS DOUBLE) / c3.n, 6) ELSE 0.0 END
           AS frac_dup3
  FROM toks t LEFT JOIN c2 ON t.doc_id = c2.doc_id
              LEFT JOIN c3 ON t.doc_id = c3.doc_id
)
SELECT doc_id, CAST(n2 AS INT) AS n2, frac_dup2, frac_top2, frac_dup3,
       (frac_dup2 <= 0.2 AND frac_top2 <= 0.2 AND frac_dup3 <= 0.18) AS keep
FROM j
"""


# Twin-ordering: the driver records at most 50 CORRECTNESS rows in
# registration order (queries/__init__.py:load_all). With 52 oracle-checked
# entries, two must sit past the window — the two that carry an in-repo
# equivalence test against an in-window twin lose least: q35b is locked to
# q35 (tests/test_llm_ops.py prefix-filter equivalence) and q43 (window
# path) is locked to q43b (test_asof_pandas_matches_window_path). They
# register after q58/q59 so every UNIQUE operator stays driver-verified.
register("q58_repetition_gate", q58, _q58_sql())


# --------------------------------------------------------------------------
# Q59 — deterministic stratified sample (k docs per lang)
# --------------------------------------------------------------------------
def q59(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25 documents per language, chosen by seeded-hash rank
    (operators/curation.py:stratified_sample) — reproducible across
    runs, engines, and corpus growth. DuckDB parity also proven in
    tests/test_curation.py."""
    from franzoxide_spark.operators.curation import stratified_sample

    docs = table(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "doc_id", k=25).select(
        "doc_id", "lang", "sample_rank"
    )


def _q59_sql() -> str:
    from franzoxide_spark.operators.curation import sql_stratified_sample

    inner = sql_stratified_sample("documents", "lang", "doc_id", k=25)
    # ROW_NUMBER is BIGINT in DuckDB but int in Spark — align the schema
    return f"SELECT doc_id, lang, CAST(sample_rank AS INT) AS sample_rank FROM ({inner})"


register("q59_stratified_sample", q59, _q59_sql())

# Equivalence-locked twins, past the 50-record window by design (note above).
register("q35b_ngram_jaccard_prefix", q35b, Q35_SQL)
register("q43_asof_join", q43, Q43_SQL)


# --------------------------------------------------------------------------
# Q63 — semantic dedup (SemDeDup, Abbas et al. 2023): embedding-cosine
#        near-dup pairs clustered to one survivor per semantic cluster
# --------------------------------------------------------------------------
_Q63_THRESHOLD = 0.4  # SemDeDup prunes near-copies: a high-similarity bar.
# q36's 0.3 is a neighborhood-analysis setting — reusing it here made the
# pair graph dense at sf0.1 (1449 pairs / 2000 vecs, long chains); 0.4
# keeps real cluster structure on the fixtures (86 pairs, components of
# size 2-4) while staying a duplicate decision, and the clustering loop
# is now localCheckpoint-hardened against dense graphs regardless.


def q63(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked embedding-cosine pairs (q36's plan shape, at a SemDeDup
    duplicate threshold) fed to the same distributed min-label-propagation
    clustering q57 applies to lexical pairs — the SemDeDup decision in
    embedding space: every semantic cluster keeps its min-id member.
    Scale shape is the composition of its parts: the pair finder is
    label-blocked + tile-capped (never all-pairs across blocks), the
    clustering shuffles only the pair graph (pairs, not corpus), and
    unpaired vectors are implicitly their own survivor."""
    from franzoxide_spark.operators.dedup import neardup_clusters
    from franzoxide_spark.operators.similarity import blocked_cosine_pairs

    emb = fanned_table(spark, sf_dir, "embeddings")
    pairs = blocked_cosine_pairs(
        emb, "label", "vec_id", "embedding", threshold=_Q63_THRESHOLD, tile_cap=4096
    ).select("id_a", "id_b")
    return neardup_clusters(pairs).withColumnRenamed("doc_id", "vec_id")


_Q63_PAIRS_SQL = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 6)
      >= {_Q63_THRESHOLD}
"""


def _q63_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS ({_Q63_PAIRS_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS n, src AS r FROM edges
  UNION
  SELECT e.dst AS n, reach.r FROM reach JOIN edges e ON e.src = reach.n
),
cc AS (SELECT n AS vec_id, MIN(r) AS cluster_id FROM reach GROUP BY n)
SELECT vec_id, cluster_id, vec_id = cluster_id AS is_survivor FROM cc
"""


register("q63_semantic_dedup", q63, _q63_sql())


# --------------------------------------------------------------------------
# Q93 — incremental batch-vs-corpus dedup (operators/dedup.py): every
#        "new batch" document (doc_id % 10 = 0, a stand-in for a fresh
#        crawl) classified against the remaining 90% corpus as
#        exact_dup / near_dup / new. The production ingest shape: the
#        q33 self-join would re-pair the corpus against itself on every
#        drop; this bands batch×corpus only.
# --------------------------------------------------------------------------
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.dedup import incremental_dedup

    docs = table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_dedup(batch, corpus, "text", "doc_id", threshold=0.8)


_Q93_SQL = f"""
WITH newdocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
olddocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0),
nsh AS (SELECT doc_id, {_SHINGLES} AS ss
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM newdocs)),
osh AS (SELECT doc_id, {_SHINGLES} AS ss
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM olddocs)),
nsig AS (SELECT doc_id, ss, {_build_minhash_sig_sql()} AS sg FROM nsh),
osig AS (SELECT doc_id, ss, {_build_minhash_sig_sql()} AS sg FROM osh),
nbands AS (
  SELECT doc_id, k AS band, sg[2 * k + 1] AS h1, sg[2 * k + 2] AS h2
  FROM nsig, (SELECT unnest([0, 1, 2, 3]) AS k)
),
obands AS (
  SELECT doc_id, k AS band, sg[2 * k + 1] AS h1, sg[2 * k + 2] AS h2
  FROM osig, (SELECT unnest([0, 1, 2, 3]) AS k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_b, b.doc_id AS id_c
  FROM nbands a JOIN obands b
    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
),
best AS (
  SELECT id_b,
         MAX(ROUND(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
             / CAST(len(sa.ss) + len(sb.ss)
                    - len(list_intersect(sa.ss, sb.ss)) AS DOUBLE), 6))
           AS best_jaccard
  FROM cand JOIN nsig sa ON sa.doc_id = id_b
            JOIN osig sb ON sb.doc_id = id_c
  GROUP BY id_b
),
exact AS (
  SELECT DISTINCT n.doc_id FROM newdocs n JOIN olddocs o ON o.text = n.text
)
SELECT n.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN b.best_jaccard >= 0.8 THEN 'near_dup'
            ELSE 'new' END AS verdict,
       b.best_jaccard
FROM newdocs n
LEFT JOIN best b ON b.id_b = n.doc_id
LEFT JOIN exact e ON e.doc_id = n.doc_id
"""


register("q93_incremental_dedup", q93, _Q93_SQL)


# --------------------------------------------------------------------------
# Q96 — lang-ID confusion matrix: q38's heuristic prediction aggregated
#        against the declared label as (lang, pred_lang) cells with
#        within-label shares — the label-quality audit that decides
#        whether a source's declared metadata is trustworthy enough to
#        stratify on. Per-doc scoring is map-side; the grid is bounded
#        by |langs|² so everything after the partial agg is tiny.
# --------------------------------------------------------------------------
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    base = q38(spark, sf_dir).select("lang", "pred_lang")
    cell = base.groupBy("lang", "pred_lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("lang")
    return cell.select(
        "lang",
        "pred_lang",
        F.col("n").cast("int").alias("n"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w).cast("double"), 6
        ).alias("share"),
    )


_Q96_SQL = f"""
WITH base AS ({Q38_SQL}),
cell AS (
  SELECT lang, pred_lang, COUNT(*) AS n FROM base GROUP BY lang, pred_lang
)
SELECT lang, pred_lang, CAST(n AS INT) AS n,
       ROUND(CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS share
FROM cell
"""


register("q96_langid_confusion", q96, _Q96_SQL)


# --------------------------------------------------------------------------
# Q99 — per-source quantile normalization of quality scores: q39's raw
#        quality percent-ranked WITHIN each source so one global keep
#        threshold treats every source fairly (raw classifier scores are
#        not comparable across sources — the curation-pipeline step
#        between scoring and gating). Scoring is map-side; the only
#        shuffle is the source-key window; percent_rank is rank-based so
#        quality ties normalize identically on both engines.
# --------------------------------------------------------------------------
def q99(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = fanned_table(spark, sf_dir, "documents").withColumn("__toks", tokens("text"))
    n_tok = F.size("__toks").cast("double")
    n_punct = F.size(
        F.regexp_extract_all("text", F.lit("[^A-Za-z0-9 ]"), 0)
    ).cast("double")
    stop_ratio = lang_score("__toks", "en").cast("double") / n_tok
    punct_ratio = n_punct / F.col("n_chars").cast("double")
    quality = F.round(
        0.4 * stop_ratio
        + 0.3 * (1.0 - punct_ratio)
        + 0.3 * F.least(n_tok / 100.0, F.lit(1.0)),
        6,
    )
    scored = docs.select("doc_id", "source", quality.alias("quality"))
    w = Window.partitionBy("source").orderBy("quality")
    pr = F.round(F.percent_rank().over(w), 6)
    return scored.select(
        "doc_id",
        "source",
        "quality",
        pr.alias("pct_in_source"),
        (pr >= 0.2).alias("keep"),
    )


_Q99_SQL = f"""
WITH st AS (
  SELECT doc_id, source, n_chars,
         CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 ]')) AS DOUBLE)
           AS n_punct,
         CAST({sql_lang_score("string_split(text, ' ')", "en")} AS DOUBLE)
           AS s_en
  FROM documents
),
scored AS (
  SELECT doc_id, source,
         ROUND(0.4 * (s_en / n_tok)
               + 0.3 * (1.0 - n_punct / CAST(n_chars AS DOUBLE))
               + 0.3 * LEAST(n_tok / 100.0, 1.0), 6) AS quality
  FROM st
)
SELECT doc_id, source, quality,
       ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality), 6)
         AS pct_in_source,
       ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY quality), 6)
         >= 0.2 AS keep
FROM scored
"""


register("q99_score_quantile_norm", q99, _Q99_SQL)


# --------------------------------------------------------------------------
# Q100 — per-source duplication report: docs, distinct texts, duplicate
#        rate, and the largest clone family per source — "which sources
#        are copy farms" is the first question a dedup pass answers.
#        One (source, sha) map-side-combined aggregation, then a
#        source-bounded rollup; the corpus shuffles once.
# --------------------------------------------------------------------------
def q100(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17 fan-out audit: REVERTED to the plain scan (plain 0.17-0.41 s
    # vs fanned 0.42-0.45 s — the sha-group shuffle right after the
    # scan already spreads the work; fanning only adds materialization)
    docs = table(spark, sf_dir, "documents")
    per_sha = docs.groupBy(
        "source", F.sha2("text", 256).alias("__sha")
    ).agg(F.count("*").alias("__copies"))
    dup_rate = F.lit(1.0) - F.sum(F.lit(1)).cast("double") / F.sum(
        "__copies"
    ).cast("double")
    return per_sha.groupBy("source").agg(
        F.sum("__copies").cast("int").alias("n_docs"),
        F.count("*").cast("int").alias("n_distinct_texts"),
        F.round(dup_rate, 6).alias("dup_rate"),
        F.max("__copies").cast("int").alias("max_clone_family"),
    )


_Q100_SQL = """
WITH per_sha AS (
  SELECT source, sha256(text) AS sha, COUNT(*) AS copies
  FROM documents GROUP BY source, sha256(text)
)
SELECT source,
       CAST(SUM(copies) AS INT) AS n_docs,
       CAST(COUNT(*) AS INT) AS n_distinct_texts,
       ROUND(1.0 - CAST(COUNT(*) AS DOUBLE) / CAST(SUM(copies) AS DOUBLE), 6)
         AS dup_rate,
       CAST(MAX(copies) AS INT) AS max_clone_family
FROM per_sha GROUP BY source
"""


register("q100_source_dup_report", q100, _Q100_SQL)


# --------------------------------------------------------------------------
# Q101 — decontamination k-sweep: eval-overlap contamination rate at
#        shingle sizes k=3/5/8 in one relation — the sensitivity report
#        that picks q54's decontamination k (small k over-flags common
#        phrases, large k misses paraphrase overlap). Per k: eval grams
#        are tiny and BROADCAST into the pool-gram semi-join, the
#        corpus never shuffles; since r15 both sides join on
#        xxhash64(token-slice) — 8-byte keys, no gram STRING ever built
#        (the q67-documented trade; exact for counting, see
#        functions/text.py:gram_hashes). The DuckDB oracle keeps raw
#        strings: distinct-hash counts equal distinct-gram counts.
# --------------------------------------------------------------------------
_Q101_KS = (3, 5, 8)


def q101(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.text import gram_hashes

    # Shape notes (r15 A/B at sf0.1, warm JVM, best-of-6):
    #   per-k loop on gram STRINGS + localCheckpoint (the r8-r14 shape)
    #     1.73-1.86 s — concat_ws building ~1M gram strings per arm and
    #     re-hashing them in the join dominated;
    #   this shape (three union branches on xxhash64'd token slices)
    #     0.88-1.2 s — no gram string is ever materialized, the join
    #     keys are 8-byte longs, and the per-k branches triple the scan
    #     parallelism of a 1-partition fixture file;
    #   rejected: single-scan struct<k,h> explode 1.6 s (struct build +
    #     flatten), flat-array explode w/ inner-join k-recovery 1.7 s
    #     (loses branch parallelism), literal-array arrays_overlap 4.9 s
    #     (7k-string plan bloat), fused single-distinct assembly 1.6 s
    #     (the big (k,v) distinct), docs.repartition(16/32) 1.1-1.5 s
    #     (shuffle + task overhead beats the gain at this SF; at 100 TB
    #     the scan has real partitions and none of this is needed).
    #   rejected (r17 batch 4): single-scan TWO-LEVEL explode — one
    #     struct(k, hash-array) per (doc, k) (3 tiny structs/doc, not
    #     one per gram), exploded twice so k stays first-class with ONE
    #     tokenize+scan. Interleaved min-of-10: union 1.618/2.083
    #     (min/med) vs two-level 1.807/2.349 — the union's 3-branch
    #     parallelism on the 1-split fixture beats the saved tokenize.
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).withColumn("__toks", tokens("text"))

    def tagged(df: DataFrame, *cols) -> DataFrame:
        parts = [
            df.select(
                *cols, F.lit(k).alias("k"),
                F.explode(gram_hashes("__toks", k)).alias("h"),
            )
            for k in _Q101_KS
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    ev = tagged(docs.filter(F.col("doc_id") % 97 == 0))
    pool = docs.filter(F.col("doc_id") % 97 != 0)
    # dup keys in the broadcast build are fine for a semi-join; skipping
    # the pre-distinct saves a shuffle (n_eval dedups with countDistinct)
    cont = (
        tagged(pool, "doc_id")
        .join(F.broadcast(ev), ["k", "h"], "left_semi")
        .groupBy("k")
        .agg(F.countDistinct("doc_id").alias("n_contaminated"))
    )
    n_eval = ev.groupBy("k").agg(F.countDistinct("h").alias("n_eval_grams"))
    n_pool = pool.agg(F.count("*").alias("n_pool"))
    # literal k spine: a k whose eval side yields ZERO grams (every eval
    # doc shorter than k) must still emit its row with zero counts — the
    # oracle's scalar-subquery arms always do (r15 review)
    spine = spark.createDataFrame([(k,) for k in _Q101_KS], "k int")
    return (
        spine.join(n_eval, "k", "left")
        .join(cont, "k", "left")
        .crossJoin(n_pool)
        .select(
            "k",
            F.coalesce("n_eval_grams", F.lit(0)).cast("int")
            .alias("n_eval_grams"),
            F.coalesce("n_contaminated", F.lit(0)).cast("int")
            .alias("n_contaminated"),
            F.round(
                F.coalesce("n_contaminated", F.lit(0)).cast("double")
                / F.col("n_pool").cast("double"),
                6,
            ).alias("contamination_rate"),
        )
    )


def _q101_gram_sql(k: int) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(len(tk) - {k - 2}, 1)),"
        f" i -> array_to_string(tk[i:i+{k - 1}], ' ')))"
    )


def _q101_arm_sql(k: int) -> str:
    g = _q101_gram_sql(k)
    return f"""
SELECT {k} AS k,
       CAST((SELECT COUNT(DISTINCT g) FROM
              (SELECT unnest({g}) AS g FROM
                (SELECT string_split(text, ' ') AS tk FROM documents
                 WHERE doc_id % 97 = 0))) AS INT) AS n_eval_grams,
       CAST((SELECT COUNT(DISTINCT p.doc_id) FROM
              (SELECT doc_id, unnest({g}) AS g FROM
                (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
                 WHERE doc_id % 97 <> 0)) p
              JOIN (SELECT DISTINCT unnest({g}) AS g FROM
                (SELECT string_split(text, ' ') AS tk FROM documents
                 WHERE doc_id % 97 = 0)) e USING (g)) AS INT)
         AS n_contaminated,
       ROUND(CAST((SELECT COUNT(DISTINCT p.doc_id) FROM
              (SELECT doc_id, unnest({g}) AS g FROM
                (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
                 WHERE doc_id % 97 <> 0)) p
              JOIN (SELECT DISTINCT unnest({g}) AS g FROM
                (SELECT string_split(text, ' ') AS tk FROM documents
                 WHERE doc_id % 97 = 0)) e USING (g)) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM documents WHERE doc_id % 97 <> 0)
                    AS DOUBLE), 6) AS contamination_rate
"""


_Q101_SQL = " UNION ALL ".join(_q101_arm_sql(k) for k in _Q101_KS)


register("q101_decontam_k_sweep", q101, _Q101_SQL)


# --------------------------------------------------------------------------
# Q103 — PII density per source: the governance report behind q51's
#        per-doc scrub — emails and phone-shaped numbers counted per
#        source, normalized per 1k tokens, with the flag rate. Reuses
#        q51's deterministic injection so both match paths exercise;
#        counting is map-side regexp_extract_all, the aggregation key
#        space is |sources|.
# --------------------------------------------------------------------------
_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def q103(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fanned_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id"),
            F.lit("@example.com"),
        ),
    ).when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.col("text"), F.lit(" call 555-867-5309")),
    ).otherwise(F.col("text"))
    n_email = F.size(F.regexp_extract_all(injected, F.lit(_EMAIL_RE), 0))
    n_phone = F.size(F.regexp_extract_all(injected, F.lit(_PHONE_RE), 0))
    n_tok = F.size(F.split(injected, " "))
    per_doc = docs.select(
        "source",
        n_email.alias("__e"),
        n_phone.alias("__p"),
        n_tok.alias("__t"),
    )
    hits = F.sum("__e") + F.sum("__p")
    return per_doc.groupBy("source").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum("__e").cast("int").alias("n_emails"),
        F.sum("__p").cast("int").alias("n_phones"),
        F.round(
            hits.cast("double") * 1000.0 / F.sum("__t").cast("double"), 6
        ).alias("pii_per_1k_tokens"),
        F.round(
            F.sum(((F.col("__e") + F.col("__p")) > 0).cast("int")).cast(
                "double"
            )
            / F.count("*").cast("double"),
            6,
        ).alias("flag_rate"),
    )


_Q103_SQL = f"""
WITH inj AS (
  SELECT source,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact: user' || doc_id || '@example.com'
              WHEN doc_id % 11 = 0
              THEN text || ' call 555-867-5309'
              ELSE text END AS t
  FROM documents
),
per_doc AS (
  SELECT source,
         len(regexp_extract_all(t, '{_EMAIL_RE}')) AS e,
         len(regexp_extract_all(t, '{_PHONE_RE}')) AS p,
         len(string_split(t, ' ')) AS tok
  FROM inj
)
SELECT source, CAST(COUNT(*) AS INT) AS n_docs,
       CAST(SUM(e) AS INT) AS n_emails,
       CAST(SUM(p) AS INT) AS n_phones,
       ROUND(CAST(SUM(e) + SUM(p) AS DOUBLE) * 1000.0
             / CAST(SUM(tok) AS DOUBLE), 6) AS pii_per_1k_tokens,
       ROUND(CAST(SUM(CASE WHEN e + p > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS flag_rate
FROM per_doc GROUP BY source
"""


register("q103_pii_density_report", q103, _Q103_SQL)


# --------------------------------------------------------------------------
# Q111 — hashed sparse feature export: per document the sorted
#        (bucket, tf) pairs of the 4096-bucket hashed bag-of-words as
#        parallel comma-joined strings (svmlight-style serialization) —
#        the step that feeds q68's linear classifier (and any
#        hashed-feature trainer) without materializing a dense
#        4096-wide row. Same hash60 bucket function as q68, so exported
#        indices line up with the served weight table. Two
#        map-side-combined shuffles on (doc, bucket) then doc; nothing
#        corpus-wide beyond the token stream. The export columns are
#        STRINGS, not arrays: every oracle-checked registry entry must
#        emit only scalar columns (the driver's canonicalizer sorts a
#        pandas frame over all columns and list cells are unhashable —
#        r7 verdict #1; guarded by tests/test_oracle_queries.py).
# --------------------------------------------------------------------------
_Q111_BUCKETS = 4096


def q111(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.text import hash60

    docs = fanned_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("__tok")
    ).select(
        "doc_id",
        F.pmod(hash60(F.col("__tok")), F.lit(_Q111_BUCKETS)).alias("__b"),
    )
    counts = feats.groupBy("doc_id", "__b").agg(F.count("*").alias("__tf"))
    srt = F.sort_array(F.collect_list(F.struct("__b", "__tf")))
    return counts.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("nnz"),
        F.sum("__tf").cast("int").alias("total_tf"),
        F.array_join(
            F.transform(srt, lambda s: s["__b"].cast("int")), ","
        ).alias("idx"),
        F.array_join(
            F.transform(srt, lambda s: s["__tf"].cast("int")), ","
        ).alias("tf"),
    )


def _q111_sql() -> str:
    from franzoxide_spark.functions.text import sql_hash60

    tok_h = sql_hash60("tok")
    return f"""
WITH feat AS (
  SELECT doc_id, {tok_h} % {_Q111_BUCKETS} AS b
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
        FROM documents)
),
c AS (SELECT doc_id, b, COUNT(*) AS tf FROM feat GROUP BY doc_id, b)
SELECT doc_id, CAST(COUNT(*) AS INT) AS nnz,
       CAST(SUM(tf) AS INT) AS total_tf,
       string_agg(CAST(b AS VARCHAR), ',' ORDER BY b) AS idx,
       string_agg(CAST(tf AS VARCHAR), ',' ORDER BY b) AS tf
FROM c GROUP BY doc_id
"""


register("q111_sparse_feature_export", q111, _q111_sql())


# --------------------------------------------------------------------------
# Q115 — leakage-free split: near-dup clusters (q57's relation over q33
#        pairs) are the split unit, so two near-copies can never land in
#        different train/val/test splits — the contamination a doc-keyed
#        split (q54's) leaves in ~10% of pairs at 90/5/5.
# --------------------------------------------------------------------------
def q115(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.curation import cluster_safe_split

    docs = table(spark, sf_dir, "documents")
    return cluster_safe_split(docs, q33(spark, sf_dir), id_col="doc_id")


def _q115_sql() -> str:
    from franzoxide_spark.operators.curation import sql_split_assign

    return f"""
WITH RECURSIVE pairs AS ({Q33_SQL}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach AS (
  SELECT src AS n, src AS r FROM edges
  UNION
  SELECT e.dst AS n, reach.r FROM reach JOIN edges e ON e.src = reach.n
),
cc AS (SELECT n AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY n),
keyed AS (
  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
)
SELECT doc_id, cluster_id,
       {sql_split_assign("cluster_id")} AS split
FROM keyed
"""


register("q115_leakage_safe_split", q115, _q115_sql())


# --------------------------------------------------------------------------
# Q119 — asymmetric containment pairs (operators/dedup.py:
#        containment_pairs): |S(inner) ∩ S(outer)| / |S(inner)| over
#        3-token shingles — the subsumption decision Jaccard misses (a
#        long doc quoting a short one is ~0 Jaccard, ~1 containment, and
#        the subsumed doc is the redundant one).
# --------------------------------------------------------------------------
_Q119_T = 0.7


def q119(spark: SparkSession, sf_dir: str) -> DataFrame:
    return containment_pairs(
        table(spark, sf_dir, "documents"), "text", "doc_id",
        threshold=_Q119_T,
        shingle_rel=_docs_shingle_rel(spark, sf_dir),
    )


Q119_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS ss FROM toks),
sz AS (SELECT doc_id, len(ss) AS n FROM sh),
ex AS (SELECT doc_id,
              unnest(list_transform(ss,
                g -> CAST('0x' || substr(md5(g), 1, 15) AS BIGINT))) AS g
       FROM sh),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pp AS (
  SELECT id_a, id_b, i, na.n AS na, nb.n AS nb
  FROM inter
  JOIN sz na ON na.doc_id = id_a
  JOIN sz nb ON nb.doc_id = id_b
)
SELECT id_inner, id_outer, containment FROM (
  SELECT id_a AS id_inner, id_b AS id_outer,
         ROUND(CAST(i AS DOUBLE) / CAST(na AS DOUBLE), 6) AS containment
  FROM pp
  UNION ALL
  SELECT id_b AS id_inner, id_a AS id_outer,
         ROUND(CAST(i AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS containment
  FROM pp
)
WHERE containment >= {_Q119_T}
"""


register("q119_containment_pairs", q119, Q119_SQL)


# --------------------------------------------------------------------------
# Q134 — deterministic weighted sampling (operators/curation.py:
#        weighted_sample, Efraimidis-Spirakis): sample 100 documents
#        with probability ∝ n_chars — the curriculum/mixture primitive
#        that is reproducible across runs, engines, and partitionings.
# --------------------------------------------------------------------------
def q134(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.curation import weighted_sample

    docs = table(spark, sf_dir, "documents")
    return weighted_sample(docs, "doc_id", "n_chars", k=100).select(
        "doc_id", "n_chars", "sample_key"
    )


def _q134_sql() -> str:
    from franzoxide_spark.operators.curation import sql_weighted_sample

    inner = sql_weighted_sample("documents", "doc_id", "n_chars", 100)
    return f"SELECT doc_id, n_chars, sample_key FROM ({inner})"


register("q134_weighted_sample", q134, _q134_sql())


# --------------------------------------------------------------------------
# Q136 — filter operating curve: for a grid of quality thresholds, the
#        docs and tokens a "keep quality >= t" filter retains (count +
#        token share) — how the operating point of a corpus filter gets
#        chosen: the knee of this curve, not a guessed constant. Scores
#        come from q39's exact relation (same CTE both engines); one
#        corpus score pass, then the sweep lives on the bounded
#        |grid| x aggregate domain.
# --------------------------------------------------------------------------
_Q136_GRID = [0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65, 0.70]


def q136(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One corpus pass for the whole curve (r17, guide §2.3 "aggregate
    # before you shuffle"): the former shape ran the q39 score relation
    # TWICE (totals + the swept branch) and crossJoined the swept branch
    # against the 9-row grid, putting 9x the corpus rows through the
    # aggregate. Here every threshold is a conditional-sum column pair
    # in ONE ungrouped aggregation (map-side partial, single final row),
    # and the 9 output rows are unpivoted from that row map-side. The
    # keep predicate per threshold is identical (quality >= t over the
    # same double literals), so every count/sum — and therefore every
    # output cell — is unchanged.
    scored = q39(spark, sf_dir).select("n_tokens", "quality")
    aggs = [F.sum("n_tokens").alias("__toks")]
    for i, t in enumerate(_Q136_GRID):
        keep = F.col("quality") >= F.lit(t)
        aggs.append(F.sum(keep.cast("long")).cast("bigint").alias(f"__d{i}"))
        aggs.append(
            F.sum(F.when(keep, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias(f"__t{i}")
        )
    one = scored.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.round(F.lit(t), 2).alias("threshold"),
                F.col(f"__d{i}").alias("docs_kept"),
                F.col(f"__t{i}").alias("tokens_kept"),
                F.round(
                    F.col(f"__t{i}").cast("double")
                    / F.col("__toks").cast("double"),
                    6,
                ).alias("token_share"),
            )
            for i, t in enumerate(_Q136_GRID)
        ]
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


def _q136_sql() -> str:
    grid = ", ".join(f"({t})" for t in _Q136_GRID)
    return f"""
WITH scored AS ({Q39_SQL}),
grid(threshold) AS (VALUES {grid}),
tot AS (SELECT COUNT(*) AS docs, SUM(n_tokens) AS toks FROM scored)
SELECT ROUND(threshold, 2) AS threshold,
       CAST(SUM(CASE WHEN quality >= threshold THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_kept,
       CAST(SUM(CASE WHEN quality >= threshold THEN n_tokens ELSE 0 END)
            AS BIGINT) AS tokens_kept,
       ROUND(CAST(SUM(CASE WHEN quality >= threshold THEN n_tokens
                           ELSE 0 END) AS DOUBLE)
             / CAST(tot.toks AS DOUBLE), 6) AS token_share
FROM scored CROSS JOIN grid CROSS JOIN tot
GROUP BY threshold, tot.toks
"""


register("q136_filter_operating_curve", q136, _q136_sql())


# --------------------------------------------------------------------------
# Q137 — BM25 top-k retrieval (operators/retrieval.py: bm25_topk): the
#        sparse lexical side of the search family (q30/q37/q53 are the
#        dense side) — inverted-index plan, query terms broadcast, work
#        bounded by touched posting lists, not corpus size.
# --------------------------------------------------------------------------
_Q137_QUERIES = [
    (1, "hash join order"),
    (2, "window sort merge stream"),
    (3, "customer line filter"),
    (4, "big data query scan"),
]


def _docs_posting_rel(
    spark: SparkSession, sf_dir: str,
    queries: list[tuple[int, str]] | None = None,
) -> DataFrame:
    """Session-shared term-bucketed posting landing for the retrieval
    family (r16, the r14/r15 verdict suggestion): q137 and q157 route
    their inverted-index build through ONE landed (doc, term, tf, dl)
    relation per (session, corpus), so the family's only corpus-wide
    shuffle is paid once and every retrieval query serves from the
    index — the shingle/events landing trade on the third family.

    The returned relation is PRE-FILTERED to the terms of ``queries``
    (default ``_Q137_QUERIES``; same ``(query_id, query_text)`` tuples
    the caller scores with). They are plan-time literals here, so the
    isin pushes into the bucketed scan as row-group/dictionary/bucket
    pruning — a true index lookup. Deriving the filter from the
    caller's OWN query list keeps the pairing safe by construction: a
    future caller with a different set cannot receive a relation
    missing its postings (which would silently zero scores — r16
    ADVICE)."""
    from franzoxide_spark.operators.retrieval import shared_posting_relation

    rel = shared_posting_relation(
        table(spark, sf_dir, "documents"), "doc_id", "text",
        source_key=f"{sf_dir}/documents",
    )
    # The query terms are plan-time literals here, so push them into the
    # landed scan as an isin filter: the bucketed+term-sorted layout
    # turns it into row-group/dictionary pruning — a true index lookup
    # (semantics-preserving: the operators' broadcast query-term join
    # keeps only these terms anyway)
    terms = sorted(
        {t for _, qt in (queries or _Q137_QUERIES) for t in qt.split(" ")}
    )
    return rel.filter(F.col("term").isin(terms))


def q137(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.retrieval import bm25_topk

    docs = table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        _Q137_QUERIES, "query_id int, query_text string"
    )
    return bm25_topk(
        docs, queries, "doc_id", "text", k=10,
        posting_rel=_docs_posting_rel(spark, sf_dir),
    )


def _q137_sql() -> str:
    from franzoxide_spark.operators.retrieval import sql_bm25_topk

    return sql_bm25_topk("documents", _Q137_QUERIES, "doc_id", "text", k=10)


register("q137_bm25_topk", q137, _q137_sql())


# --------------------------------------------------------------------------
# Q144 — k-anonymity audit (governance, next to q103's PII density): the
#        quasi-identifier classes (nation, segment, balance band) whose
#        equivalence class is smaller than k=5 — the rows a release
#        would re-identify. One map-side-combined aggregation over the
#        bounded QI grid; the summary row count is the "rows at risk"
#        number a privacy gate thresholds on.
# --------------------------------------------------------------------------
_Q144_K = 5


def q144(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    classes = c.groupBy(
        F.col("c_nationkey"),
        F.col("c_mktsegment"),
        F.floor(F.col("c_acctbal") / 2000).cast("bigint").alias("bal_band"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return classes.filter(F.col("n") < _Q144_K).select(
        "c_nationkey",
        "c_mktsegment",
        "bal_band",
        F.col("n").cast("int").alias("n"),
    )


_Q144_SQL = f"""
SELECT c_nationkey, c_mktsegment,
       CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_band,
       CAST(COUNT(*) AS INT) AS n
FROM customer
GROUP BY 1, 2, 3
HAVING COUNT(*) < {_Q144_K}
"""


register("q144_k_anonymity_audit", q144, _Q144_SQL)


# --------------------------------------------------------------------------
# Q146 — lang-ID calibration curve: bin q38's prediction confidence
#        (winning lexicon share of all lexicon hits) and report the
#        empirical accuracy per bin — the reliability diagram that says
#        whether the classifier's confidence can gate routing decisions
#        (the ML-eval twin of q96's confusion matrix). Confidence is an
#        exact integer ratio, so both engines bin identically; one
#        map-side scan + one bounded 5-bin aggregation.
# --------------------------------------------------------------------------
_Q146_BINS = 5


def q146(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = q38(spark, sf_dir)
    total = sum(F.col(f"s_{lg}") for lg in LANG_ORDER).cast("double")
    top = F.greatest(*[F.col(f"s_{lg}") for lg in LANG_ORDER]).cast("double")
    conf = F.when(total > 0, top / total).otherwise(0.0)
    b = F.least(
        F.floor(conf * _Q146_BINS).cast("int"), F.lit(_Q146_BINS - 1)
    )
    return (
        scored.withColumn("__conf", conf)
        .withColumn("bin", b)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_docs"),
            F.round(F.avg("__conf"), 6).alias("avg_conf"),
            F.round(F.avg(F.col("correct").cast("double")), 6).alias(
                "accuracy"
            ),
        )
    )


def _q146_sql() -> str:
    total = " + ".join(f"s_{lg}" for lg in LANG_ORDER)
    top = "GREATEST(" + ", ".join(f"s_{lg}" for lg in LANG_ORDER) + ")"
    return f"""
WITH scored AS ({Q38_SQL}),
confd AS (
  SELECT correct,
         CASE WHEN ({total}) > 0
              THEN CAST({top} AS DOUBLE) / ({total}) ELSE 0.0 END AS conf
  FROM scored
)
SELECT CAST(LEAST(FLOOR(conf * {_Q146_BINS}), {_Q146_BINS - 1}) AS INT) AS bin,
       CAST(COUNT(*) AS INT) AS n_docs,
       ROUND(AVG(conf), 6) AS avg_conf,
       ROUND(AVG(CAST(correct AS DOUBLE)), 6) AS accuracy
FROM confd
GROUP BY 1
"""


register("q146_langid_calibration", q146, _q146_sql())


# --------------------------------------------------------------------------
# Q150 — MinHash sketch-accuracy audit (operators/dedup.py:
#        minhash_accuracy_audit): estimated vs exact Jaccard with the
#        absolute error for every q33 LSH candidate pair — the evidence
#        behind the num_hashes/bands parameter choice. Reuses q33's
#        exact SQL signature machinery; the estimate is the signature
#        agreement fraction in both engines.
# --------------------------------------------------------------------------
def q150(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.dedup import minhash_accuracy_audit

    return minhash_accuracy_audit(
        table(spark, sf_dir, "documents"), "text", "doc_id"
    )


_Q150_SQL = f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
sh AS (SELECT doc_id, {_SHINGLES} AS ss FROM toks),
sig AS (
  SELECT doc_id, ss, {_build_minhash_sig_sql()} AS sg
  FROM sh
),
bands AS (
  SELECT doc_id, k AS band, sg[2 * k + 1] AS h1, sg[2 * k + 2] AS h2
  FROM sig, (SELECT unnest([0, 1, 2, 3]) AS k)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(len(list_filter(range(1, 9),
                                  i -> sa.sg[i] = sb.sg[i])) AS DOUBLE) / 8,
             6) AS est_jaccard,
       ROUND(CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
             / CAST(len(sa.ss) + len(sb.ss) - len(list_intersect(sa.ss, sb.ss))
                    AS DOUBLE), 6) AS jaccard,
       ROUND(ABS(CAST(len(list_filter(range(1, 9),
                                      i -> sa.sg[i] = sb.sg[i])) AS DOUBLE) / 8
                 - CAST(len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)
                   / CAST(len(sa.ss) + len(sb.ss)
                          - len(list_intersect(sa.ss, sb.ss)) AS DOUBLE)),
             6) AS abs_err
FROM cand JOIN sig sa ON sa.doc_id = id_a JOIN sig sb ON sb.doc_id = id_b
"""


register("q150_minhash_accuracy", q150, _Q150_SQL)


# --------------------------------------------------------------------------
# Q156 — weak-supervision label model (Snorkel-style): three
#        deterministic labeling functions vote keep(+1)/drop(-1)/
#        abstain(0) on every document — lang-ID agreement (q38's
#        predictor), quality thresholds (q39's exact score), and a
#        length rule — and the majority vote becomes the label. Output:
#        per-LF coverage and majority-agreement rates plus the MAJORITY
#        row — the diagnostics that tell you which heuristic to trust
#        before training a label model. One fused scan pipeline,
#        bounded |LF| x aggregate output.
# --------------------------------------------------------------------------
def q156(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Labeling functions (language agreement, quality band, length band)
    # are all ROW-WISE features of the same document — so the vote table
    # is ONE join-free projection over the shared fanned corpus scan
    # (pre-r16 shape: three q38/q39 sub-plans re-run per metric arm with
    # two doc_id joins each — 4 corpus passes + 8 joins; at 100 TB the
    # difference is one pass vs four). The shared expression builders
    # (_pred_lang_expr/_quality_parts) keep the math identical to
    # q38/q39; the oracle runs the exact pre-r16 join shape in DuckDB,
    # so any drift hash-fails.
    docs = fanned_table(spark, sf_dir, "documents").withColumn(
        "__toks", tokens("text")
    )
    q = _quality_parts()["quality"]
    v1 = F.when(_pred_lang_expr() == F.col("lang"), 1).otherwise(-1)
    v2 = F.when(q >= 0.5, 1).when(q < 0.35, -1).otherwise(0)
    v3 = (
        F.when((F.col("n_chars") >= 100) & (F.col("n_chars") <= 2000), 1)
        .when(F.col("n_chars") < 50, -1)
        .otherwise(0)
    )
    votes = docs.select(
        v1.alias("lf_lang"), v2.alias("lf_quality"), v3.alias("lf_length")
    ).withColumn(
        "maj",
        F.signum(
            F.col("lf_lang") + F.col("lf_quality") + F.col("lf_length")
        ).cast("int"),
    )
    # ONE aggregation carries every arm's metrics; the per-LF rows come
    # off it via the array-of-structs explode (the q78 render pattern).
    lfs = ("lf_lang", "lf_quality", "lf_length")
    aggs = []
    for lf in lfs:
        voting = F.col(lf) != 0
        decided = voting & (F.col("maj") != 0)
        aggs += [
            F.sum((F.col(lf) == 1).cast("long")).cast("int").alias(f"__k_{lf}"),
            F.sum((F.col(lf) == -1).cast("long")).cast("int").alias(f"__d_{lf}"),
            F.round(F.avg(voting.cast("double")), 6).alias(f"__c_{lf}"),
            F.round(
                F.sum(
                    (decided & (F.col(lf) == F.col("maj"))).cast("long")
                ).cast("double")
                / F.sum(decided.cast("long")),
                6,
            ).alias(f"__a_{lf}"),
        ]
    aggs += [
        F.sum((F.col("maj") == 1).cast("long")).cast("int").alias("__k_maj"),
        F.sum((F.col("maj") == -1).cast("long")).cast("int").alias("__d_maj"),
        F.round(F.avg((F.col("maj") != 0).cast("double")), 6).alias("__c_maj"),
    ]
    one = votes.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(lf).alias("lf"),
                F.col(f"__k_{lf}").alias("n_keep"),
                F.col(f"__d_{lf}").alias("n_drop"),
                F.col(f"__c_{lf}").alias("coverage"),
                F.col(f"__a_{lf}").alias("agree_rate"),
            )
            for lf in lfs
        ],
        F.struct(
            F.lit("majority").alias("lf"),
            F.col("__k_maj").alias("n_keep"),
            F.col("__d_maj").alias("n_drop"),
            F.col("__c_maj").alias("coverage"),
            F.lit(1.0).alias("agree_rate"),
        ),
    )
    return one.select(F.explode(rows).alias("r")).select("r.*")


def _q156_sql() -> str:
    arms = []
    for lf in ("lf_lang", "lf_quality", "lf_length"):
        arms.append(f"""
SELECT '{lf}' AS lf,
       CAST(SUM(CASE WHEN {lf} = 1 THEN 1 ELSE 0 END) AS INT) AS n_keep,
       CAST(SUM(CASE WHEN {lf} = -1 THEN 1 ELSE 0 END) AS INT) AS n_drop,
       ROUND(AVG(CASE WHEN {lf} <> 0 THEN 1.0 ELSE 0.0 END), 6) AS coverage,
       ROUND(CAST(SUM(CASE WHEN {lf} <> 0 AND maj <> 0 AND {lf} = maj
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN {lf} <> 0 AND maj <> 0 THEN 1 ELSE 0 END), 6)
         AS agree_rate
FROM votes""")
    arms.append("""
SELECT 'majority' AS lf,
       CAST(SUM(CASE WHEN maj = 1 THEN 1 ELSE 0 END) AS INT) AS n_keep,
       CAST(SUM(CASE WHEN maj = -1 THEN 1 ELSE 0 END) AS INT) AS n_drop,
       ROUND(AVG(CASE WHEN maj <> 0 THEN 1.0 ELSE 0.0 END), 6) AS coverage,
       1.0 AS agree_rate
FROM votes""")
    body = " UNION ALL ".join(arms)
    return f"""
WITH p38 AS ({Q38_SQL}),
p39 AS ({Q39_SQL}),
votes AS (
  SELECT CASE WHEN p38.pred_lang = p38.lang THEN 1 ELSE -1 END AS lf_lang,
         CASE WHEN p39.quality >= 0.5 THEN 1
              WHEN p39.quality < 0.35 THEN -1 ELSE 0 END AS lf_quality,
         CASE WHEN d.n_chars BETWEEN 100 AND 2000 THEN 1
              WHEN d.n_chars < 50 THEN -1 ELSE 0 END AS lf_length,
         CAST(sign(CASE WHEN p38.pred_lang = p38.lang THEN 1 ELSE -1 END
              + CASE WHEN p39.quality >= 0.5 THEN 1
                     WHEN p39.quality < 0.35 THEN -1 ELSE 0 END
              + CASE WHEN d.n_chars BETWEEN 100 AND 2000 THEN 1
                     WHEN d.n_chars < 50 THEN -1 ELSE 0 END) AS INT) AS maj
  FROM p38
  JOIN p39 ON p39.doc_id = p38.doc_id
  JOIN documents d ON d.doc_id = p38.doc_id
)
{body}
"""


register("q156_weak_supervision_vote", q156, _q156_sql())


# --------------------------------------------------------------------------
# Q157 — hybrid retrieval via reciprocal rank fusion (operators/
#        retrieval.py: rrf_fuse): q137's BM25 top-20 fused with a
#        distinct-term-recall top-20 by rrf = Σ 1/(60 + rank) — the
#        calibration-free hybrid-search combiner (Cormack et al. 2009).
#        Both rankers share the inverted-index shape; fusion is one
#        candidate-keyed outer join, bounded by the two top-k lists.
# --------------------------------------------------------------------------
def q157(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.operators.retrieval import hybrid_rrf_topk

    # ONE shared posting-list shuffle feeds both rankers (r9 verdict
    # item #3 — the unfused shape tokenized and shuffled the corpus
    # twice; A/B at sf0.1 in BASELINE.md "q157 tokenize-once":
    # 2.15 s unfused → 1.67 s tokenize-once → 1.60 s fused, and the
    # fused plan halves the corpus-wide shuffles, the term that
    # dominates past fixture scale).
    docs = table(spark, sf_dir, "documents")
    queries = spark.createDataFrame(
        _Q137_QUERIES, "query_id int, query_text string"
    )
    return hybrid_rrf_topk(
        docs, queries, "doc_id", "text", k=20, n=10,
        posting_rel=_docs_posting_rel(spark, sf_dir),
    )


def _q157_sql() -> str:
    from franzoxide_spark.operators.retrieval import sql_bm25_topk

    bm = sql_bm25_topk("documents", _Q137_QUERIES, "doc_id", "text", k=20)
    qvalues = ", ".join(
        f"({int(i)}, '{t.replace(chr(39), chr(39) * 2)}')"
        for i, t in _Q137_QUERIES
    )
    return f"""
WITH bm AS ({bm}),
q(query_id, query_text) AS (VALUES {qvalues}),
qt AS (
  SELECT DISTINCT query_id, unnest(string_split(query_text, ' ')) AS term
  FROM q
),
dt AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
),
hits AS (
  SELECT qt.query_id, dt.doc_id, COUNT(*) AS n_hit
  FROM dt JOIN qt USING (term)
  GROUP BY qt.query_id, dt.doc_id
),
rec AS (
  SELECT query_id, doc_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY n_hit DESC, doc_id ASC) AS rk
  FROM hits
  QUALIFY rk <= 20
),
fused AS (
  SELECT COALESCE(bm.query_id, rec.query_id) AS query_id,
         COALESCE(bm.doc_id, rec.doc_id) AS doc_id,
         ROUND(COALESCE(1.0 / (60 + bm.rk), 0.0)
               + COALESCE(1.0 / (60 + rec.rk), 0.0), 6) AS rrf
  FROM bm FULL OUTER JOIN rec
    ON bm.query_id = rec.query_id AND bm.doc_id = rec.doc_id
)
SELECT query_id, doc_id, rrf, CAST(rk AS INT) AS rk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id ASC) AS rk
  FROM fused
) WHERE rk <= 10
"""


register("q157_hybrid_rrf", q157, _q157_sql())


# --------------------------------------------------------------------------
# Q162 — Matryoshka truncation audit (Kusupati et al. 2022): cosine
#        fidelity of prefix-truncated embeddings (dim 8/16/32 of 64)
#        over a deterministic query x corpus-sample pair grid — the
#        measurement behind serving embeddings at a fraction of the
#        storage/bandwidth (the dense twin of q77's int8 audit). One
#        broadcast pair build, map-side cosines, |grid| output rows.
# --------------------------------------------------------------------------
_Q162_DIMS = (8, 16, 32)


def q162(spark: SparkSession, sf_dir: str) -> DataFrame:
    from franzoxide_spark.functions.vectors import cosine_rounded

    emb = fanned_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    pairs = c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
    # ONE pass for every truncation dim (r17; the q136 one-pass-curve
    # pattern): the full-dim cosine cf is computed once per pair (the
    # dominant per-row cost — it was recomputed per dim in the old
    # per-dim-pass union), every dim's truncated cosine rides the same
    # row, and a single ungrouped aggregate emits all dims' stats as
    # columns; stack() unpivots the 1-row aggregate map-side. Identical
    # operands per dim -> identical 6-dp stats; n_pairs is the same
    # count every arm measured.
    def _ct(d: int):
        return F.round(
            F.expr(
                f"aggregate(zip_with(slice(qv, 1, {d}), slice(cv, 1, {d}),"
                " (x, y) -> cast(x as double) * cast(y as double)),"
                " cast(0.0 as double), (acc, v) -> acc + v)"
            )
            / (
                F.sqrt(F.expr(
                    f"aggregate(transform(slice(qv, 1, {d}),"
                    " x -> cast(x as double) * cast(x as double)),"
                    " cast(0.0 as double), (acc, v) -> acc + v)"
                ))
                * F.sqrt(F.expr(
                    f"aggregate(transform(slice(cv, 1, {d}),"
                    " x -> cast(x as double) * cast(x as double)),"
                    " cast(0.0 as double), (acc, v) -> acc + v)"
                ))
            ),
            6,
        )

    sliced = pairs.select(
        cosine_rounded("qv", "cv").alias("cf"),
        *[_ct(d).alias(f"ct_{d}") for d in _Q162_DIMS],
    )
    one = sliced.agg(
        F.count(F.lit(1)).cast("int").alias("n_pairs"),
        *[
            agg
            for d in _Q162_DIMS
            for agg in (
                F.round(
                    F.avg(F.abs(F.col("cf") - F.col(f"ct_{d}"))), 6
                ).alias(f"mean_{d}"),
                F.round(
                    F.max(F.abs(F.col("cf") - F.col(f"ct_{d}"))), 6
                ).alias(f"max_{d}"),
            )
        ],
    )
    stack_args = ", ".join(
        f"{d}, n_pairs, mean_{d}, max_{d}" for d in _Q162_DIMS
    )
    return one.select(
        F.expr(
            f"stack({len(_Q162_DIMS)}, {stack_args}) AS "
            "(trunc_dim, n_pairs, mean_abs_err, max_abs_err)"
        )
    )


def _q162_sql() -> str:
    arms = []
    for d in _Q162_DIMS:
        ct = (
            f"ROUND(list_cosine_similarity("
            f"CAST(qv[1:{d}] AS DOUBLE[]), CAST(cv[1:{d}] AS DOUBLE[])), 6)"
        )
        arms.append(f"""
SELECT {d} AS trunc_dim,
       CAST(COUNT(*) AS INT) AS n_pairs,
       ROUND(AVG(ABS(cf - {ct})), 6) AS mean_abs_err,
       ROUND(MAX(ABS(cf - {ct})), 6) AS max_abs_err
FROM pairs""")
    body = " UNION ALL ".join(arms)
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
           WHERE vec_id < 10),
c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id % 5 = 0),
pairs AS (
  SELECT qid, cid, qv, cv,
         ROUND(list_cosine_similarity(CAST(qv AS DOUBLE[]),
                                      CAST(cv AS DOUBLE[])), 6) AS cf
  FROM c CROSS JOIN q WHERE qid <> cid
)
{body}
"""


register("q162_matryoshka_audit", q162, _q162_sql())
