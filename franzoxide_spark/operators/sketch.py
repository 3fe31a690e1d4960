"""Count-min sketch as a relation: bounded-memory heavy hitters.

Tier-C extension (SURVEY.md §2.3). Spark ships a `count_min_sketch`
aggregate but no SQL-level probe for the resulting binary blob, which
makes it useless for a declarative pipeline — so this operator keeps the
sketch RELATIONAL: a (depth, bucket, cnt) table of d×w rows. Build is one
map-side-combined aggregation over the item stream; probing is a join of
candidate items against the broadcast sketch with a min over depth rows.
Everything stays in JVM expressions, both legs are deterministic (the
seeded cross-engine hash from functions/text.py), and DuckDB can mirror
the whole thing — so unlike a binary sketch, this one is oracle-checkable.

Scale: the sketch is d×w rows REGARDLESS of corpus size (the point of
CMS); the item stream is shuffled once on (depth, bucket) with map-side
partial aggregation, i.e. each mapper emits at most d×w partial rows. The
standard CMS guarantee holds: estimates never undercount, and overcount
is bounded by eps·N with eps = e/width at the usual confidence for
depth rows. The exact-count leg q72 carries alongside the estimate is
small-data verification convenience — at 100 TB you would keep only the
sketch path (bounded state) and drop the exact aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Kirsch–Mitzenmacher double hashing (2006, public): the d row hashes
# are h1 + d·h2 from ONE md5 digest instead of d independent seeded
# md5 calls. md5 over the item stream is the corpus-sized cost of the
# build (everything after it is integer arithmetic), so this cuts the
# dominant term by the depth factor — same-session A/B in BASELINE.md
# ("q72 double-hash rewrite"). h2 is forced odd so the per-depth
# stride never degenerates to a constant bucket. Both 60-bit halves
# come from disjoint digest substrings; the CMS overcount bound holds
# under K-M with the usual constants.
_H1_SPARK = "cast(conv(substr(md5({s}), 1, 15), 16, 10) as bigint)"
_H2_SPARK = "(cast(conv(substr(md5({s}), 17, 15), 16, 10) as bigint) | 1)"
_H1_SQL = "CAST('0x' || substr(md5({s}), 1, 15) AS BIGINT)"
# parenthesized: `|` binds looser than `*`/`+`, so an inlined unwrapped
# `... | 1` would OR the whole bucket arithmetic, not the hash half
_H2_SQL = "(CAST('0x' || substr(md5({s}), 17, 15) AS BIGINT) | 1)"


def _check_km_params(depth: int, width: int) -> None:
    """Driver-side bound for the K-M stride: h1 + d·h2 with h1,h2 ≤
    2⁶⁰−1 stays under 2⁶³−1 iff d ≤ 7, i.e. depth ≤ 8 — beyond that the
    sum overflows int64 for large h2 values, a DATA-DEPENDENT failure
    (ANSI/DuckDB raise mid-scan only for corpora containing such items;
    non-ANSI Spark would wrap silently and diverge from the erroring
    mirror — r12 review). Refused here with the bound in the message."""
    if not 1 <= depth <= 8:
        raise ValueError(
            f"depth must be in [1, 8] (K-M stride h1 + d*h2 over 60-bit "
            f"halves overflows int64 beyond depth 8), got {depth}"
        )
    if width <= 0:
        raise ValueError(f"width must be positive, got {width}")


def _with_bucket_rows(items: DataFrame, item_col: str, depth: int,
                      width: int, keep_item: bool,
                      keep_cols: list[str] | None = None) -> DataFrame:
    """(item?, *keep_cols, d, b) rows: one md5 per input row (whole-stage
    codegen subexpression elimination computes the shared digest once for
    both halves), then depth strides derived arithmetically."""
    _check_km_params(depth, width)
    extra = list(keep_cols or [])
    lead = ([F.col(item_col)] if keep_item else []) + [
        F.col(c) for c in extra
    ]
    lead_names = ([item_col] if keep_item else []) + extra
    hashed = items.select(
        *lead,
        F.expr(_H1_SPARK.format(s=item_col)).alias("__h1"),
        F.expr(_H2_SPARK.format(s=item_col)).alias("__h2"),
    )
    return hashed.select(
        *[F.col(c) for c in lead_names],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.expr(f"pmod(__h1 + {d} * __h2, {width})").alias("b"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("__db"),
    ).select(*lead_names, "__db.d", "__db.b")


def cms_build(
    items: DataFrame, item_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """(d, b, cnt) sketch rows from an item stream — d×w rows total."""
    rows = _with_bucket_rows(items, item_col, depth, width, keep_item=False)
    return rows.groupBy("d", "b").agg(F.count("*").alias("cnt"))


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Estimated count per candidate item: min over its depth buckets.

    The sketch (d×w rows) broadcasts; candidates fan out ×depth and
    hash-join it — no shuffle of anything corpus-sized.
    """
    fanned = _with_bucket_rows(candidates, item_col, depth, width,
                               keep_item=True)
    return (
        fanned.join(F.broadcast(sketch), ["d", "b"])
        .groupBy(item_col)
        .agg(F.min("cnt").alias("cms_est"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    item_col: str,
    k: int = 10,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Top-k items by CMS estimate, with the exact count alongside.

    Output: (item, cms_est, exact_cnt, overestimate) ordered by
    (cms_est DESC, item ASC) — deterministic. ``overestimate`` must be
    true for every row (CMS never undercounts); the oracle re-derives
    the identical sketch, so this is checkable cross-engine.
    """
    items = df.select(item_col)
    exact = items.groupBy(item_col).agg(F.count("*").alias("exact_cnt"))
    # Build the sketch from the exact-count relation, weighted by cnt
    # (r17, guide §2.3 "aggregate before you shuffle"): Σ over
    # occurrences of 1 == Σ over distinct items of cnt, so every (d, b)
    # cell — and therefore every estimate — is IDENTICAL to the
    # occurrence-stream build, but the corpus is scanned ONCE (the exact
    # aggregation q72 computes anyway) and md5 runs per DISTINCT item
    # instead of per occurrence. The occurrence-stream ``cms_build``
    # stays the operator for sketch-only callers with no exact leg.
    fanned = _with_bucket_rows(
        exact.select(item_col, "exact_cnt"), item_col, depth, width,
        keep_item=True, keep_cols=["exact_cnt"],
    )
    sketch = fanned.groupBy("d", "b").agg(F.sum("exact_cnt").alias("cnt"))
    est = cms_estimate(sketch, exact.select(item_col), item_col, depth, width)
    return (
        est.join(exact, item_col)
        .select(
            item_col,
            F.col("cms_est").cast("bigint").alias("cms_est"),
            F.col("exact_cnt").cast("bigint").alias("exact_cnt"),
            (F.col("cms_est") >= F.col("exact_cnt")).alias("overestimate"),
        )
        .orderBy(F.desc("cms_est"), F.asc(item_col))
        .limit(k)
    )


def sql_cms_heavy_hitters(
    table: str, item_col: str, k: int = 10, depth: int = 4, width: int = 256
) -> str:
    # same K-M double hash as the Spark side: one md5 scan (no UNION ALL
    # re-scan per depth), strides derived arithmetically
    _check_km_params(depth, width)
    return f"""
WITH h AS (
  SELECT {_H1_SQL.format(s=item_col)} AS h1,
         {_H2_SQL.format(s=item_col)} AS h2
  FROM {table}
),
db AS (
  SELECT x.d, (h1 + x.d * h2) % {width} AS b
  FROM h, (SELECT UNNEST(range(0, {depth})) AS d) x
),
sketch AS (SELECT d, b, COUNT(*) AS cnt FROM db GROUP BY d, b),
exact AS (SELECT {item_col} AS item, COUNT(*) AS exact_cnt
          FROM {table} GROUP BY {item_col}),
cand AS (
  SELECT e.item, x.d,
         ({_H1_SQL.format(s="e.item")} + x.d * {_H2_SQL.format(s="e.item")})
           % {width} AS b
  FROM exact e, (SELECT UNNEST(range(0, {depth})) AS d) x
),
est AS (
  SELECT c.item, MIN(s.cnt) AS cms_est
  FROM cand c JOIN sketch s ON c.d = s.d AND c.b = s.b
  GROUP BY c.item
)
SELECT e.item AS {item_col},
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(exact_cnt AS BIGINT) AS exact_cnt,
       cms_est >= exact_cnt AS overestimate
FROM est e JOIN exact x ON e.item = x.item
ORDER BY cms_est DESC, e.item ASC
LIMIT {k}
"""


# --------------------------------------------------------------------------
# Misra-Gries mergeable heavy-hitter sketches
# --------------------------------------------------------------------------


def _mg_fold(stream, capacity: int) -> dict:
    """Textbook Misra-Gries (1982): at most ``capacity`` counters; a full
    table decrements all counters instead of inserting. Estimated counts
    undercount by at most (total decrements) <= n/(capacity+1)."""
    counters: dict = {}
    for item in stream:
        if item in counters:
            counters[item] += 1
        elif len(counters) < capacity:
            counters[item] = 1
        else:
            dead = []
            for k in counters:
                counters[k] -= 1
                if counters[k] == 0:
                    dead.append(k)
            for k in dead:
                del counters[k]
    return counters


def mg_merge(sketches, capacity: int) -> dict:
    """Merge MG sketches (Agarwal et al. 2012, "Mergeable Summaries"):
    sum counters by key, then subtract the (capacity+1)-th largest count
    from all and drop the non-positive — the result obeys the SAME error
    bound as a single sketch built over the concatenated streams."""
    total: dict = {}
    for sk in sketches:
        for k, v in sk.items():
            total[k] = total.get(k, 0) + v
    if len(total) > capacity:
        cut = sorted(total.values(), reverse=True)[capacity]
        total = {k: v - cut for k, v in total.items() if v - cut > 0}
    return total


def mg_sketch_rollup(
    events: DataFrame,
    bucket_col: str,
    rollup_col: str,
    item_col: str,
    capacity: int = 20,
) -> DataFrame:
    """Per-``bucket_col`` (e.g. day) Misra-Gries sketches of ``item_col``,
    merged per ``rollup_col`` (e.g. week) WITHOUT rescanning the raw
    stream — the frequency member of the mergeable-sketch family next to
    the HLL rollup (q120) and the bottom-k quantile state (q126). At
    100 TB the daily sketch is ``capacity`` counters regardless of
    stream size; re-aggregating to any coarser grain touches only
    sketches. Output: ``(rollup, item, est_count, n_days)`` for the
    items surviving the merged sketch, plus the per-rollup stream size
    ``n_total`` for the error bound est >= true - n_total/(capacity+1).

    Plan: ONE shuffle to (bucket) groups; each group folds its stream in
    arrival-independent sorted order (determinism for the tests — MG
    contents are order-dependent in general) inside Arrow batches; the
    merge pass moves only |buckets| x capacity counter rows.
    """
    import pandas as pd

    def day_sketch(pdf: pd.DataFrame) -> pd.DataFrame:
        items = sorted(pdf[item_col].tolist())
        counters = _mg_fold(items, capacity)
        return pd.DataFrame(
            {
                "rollup": pdf["rollup"].iloc[0],
                "bucket": pdf[bucket_col].iloc[0],
                "item": list(counters),
                "cnt": list(counters.values()),
                "n_rows": len(pdf),
            }
        )

    sketches = (
        events.withColumn("rollup", F.col(rollup_col))
        .groupBy(bucket_col, "rollup")
        .applyInPandas(
            day_sketch,
            schema=(
                "rollup string, bucket string, item long, cnt long,"
                " n_rows long"
            ),
        )
    )

    def week_merge(pdf: pd.DataFrame) -> pd.DataFrame:
        by_day: dict = {}
        day_rows: dict = {}
        for _, r in pdf.iterrows():
            by_day.setdefault(r["bucket"], {})[r["item"]] = r["cnt"]
            day_rows[r["bucket"]] = r["n_rows"]
        merged = mg_merge(list(by_day.values()), capacity)
        n_total = int(sum(day_rows.values()))
        return pd.DataFrame(
            {
                "rollup": pdf["rollup"].iloc[0],
                "item": list(merged),
                "est_count": list(merged.values()),
                "n_days": len(by_day),
                "n_total": n_total,
            }
        )

    return sketches.groupBy("rollup").applyInPandas(
        week_merge,
        schema=(
            "rollup string, item long, est_count long, n_days int,"
            " n_total long"
        ),
    )


# --------------------------------------------------------------------------
# Bloom-filter membership pre-filter (decontamination at constant memory)
# --------------------------------------------------------------------------

_BLOOM_BITS = 1 << 16  # 65536 bits = 1024 int64 words (8 KiB)
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_HASHES = 4


def bloom_build(eval_shingles: DataFrame, shingle_col: str) -> DataFrame:
    """Build a Bloom filter over a shingle relation as a RELATIONAL
    sketch: ``(word_idx int, bits long)`` with at most 1024 rows — the
    8 KiB bit array laid out one int64 word per row, so it broadcasts,
    unions (bit_or-merges, like every sketch in this module), and
    persists as a tiny table.

    All four bit positions come from ONE md5: the 128-bit digest is
    split into four disjoint 16-bit hex chunks, each exactly a position
    in the 2^16-bit array — one hash call per shingle instead of four
    (measured ~25% off the whole q165 at sf0.1), with the same
    independence story as seeded hashing for a uniform digest. The four
    (word, mask) pairs explode out of a single projection — one scan of
    the input, not a 4-arm union (r14: the union arms multiplied every
    upstream scan by four inside each broadcast consumer).

    Why a Bloom next to q54/q56's exact broadcast: those ship the FULL
    eval shingle-hash set (8 bytes/shingle — fine for benchmark suites,
    the documented default). When the deny-list side is itself huge
    (cross-corpus decontamination, multi-TB "do not train" sets), the
    Bloom is the constant-memory pre-filter: probe map-side at 8 KiB,
    exact-verify only the positives (q165 measures exactly that
    verification burden as its fp columns).
    """
    pairs = []
    for seed in range(_BLOOM_HASHES):
        # `div` = integer division: Spark's cast(x/64 as int) truncates
        # while DuckDB's CAST(x/64 AS INT) ROUNDS — the mirror uses //
        # so both engines build the identical bit layout (review r8)
        h = f"cast(conv(substr(__bh, {1 + 4 * seed}, 4), 16, 10) as int)"
        pairs.append(
            f"struct(({h} div 64) as word_idx,"
            f" shiftleft(cast(1 as bigint), ({h} % 64)) as m)"
        )
    return (
        eval_shingles.select(F.expr(f"md5({shingle_col})").alias("__bh"))
        .select(F.explode(F.expr("array(" + ", ".join(pairs) + ")")).alias("p"))
        .groupBy(F.col("p.word_idx").alias("word_idx"))
        .agg(F.expr("bit_or(p.m)").alias("bits"))
    )


def bloom_probe_report(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str,
    group_col: str,
    k: int = 3,
) -> DataFrame:
    """Per group: distinct corpus shingles probed against a Bloom filter
    of the eval set's shingles, with EXACT verification of the
    positives: ``(group, n_shingles, n_bloom_pos, n_true, n_false_pos,
    fp_rate)``. ``n_true`` is the ground-truth contamination count
    (what q54's exact join would flag); ``n_false_pos`` is the extra
    verification work the Bloom costs — by construction the Bloom NEVER
    misses a true hit (no false negatives), which the tests assert.

    When both inputs are slices of ONE relation, pass that relation via
    :func:`bloom_probe_report_flagged` instead — it runs the whole
    report off a single scan and a single shingle shuffle.

    ``group_col`` rides the union as a string internally and is cast
    back to its ORIGINAL dtype on output. Corpus rows whose group key is
    NULL are dropped from the report (collect_set skips NULLs) — assign
    a sentinel group upstream if those rows must be audited (r8 ADVICE).
    """
    grp_type = docs.schema[group_col].dataType
    flagged = eval_docs.select(
        F.lit(None).cast("string").alias("__grp"),
        F.col(text_col).alias("__text"),
        F.lit(True).alias("__is_eval"),
    ).unionAll(
        docs.select(
            F.col(group_col).cast("string").alias("__grp"),
            F.col(text_col).alias("__text"),
            F.lit(False).alias("__is_eval"),
        )
    )
    out = bloom_probe_report_flagged(flagged, "__text", "__grp", "__is_eval", k)
    return out.withColumn(
        "__grp", F.col("__grp").cast(grp_type)
    ).withColumnRenamed("__grp", group_col)


def bloom_probe_report_flagged(
    flagged: DataFrame,
    text_col: str,
    group_col: str,
    eval_col: str,
    k: int = 3,
) -> DataFrame:
    """Single-scan core of :func:`bloom_probe_report`: one relation with
    an ``eval_col`` boolean picking the eval side.

    Scale shape — ONE corpus scan, ONE shingle shuffle: shingles explode
    with the eval flag attached, then a single groupBy(shingle) derives
    BOTH sides at once — ``in_eval = max(flag)`` is the exact truth bit
    and the pool groups come from ``collect_set(group where not flag)``.
    The per-shingle relation localCheckpoints (shingle-domain, bounded
    by distinct shingles) because two consumers read it: the 1024-row
    bloom build (filter in_eval → bit_or) and the probe/report (probe =
    4 chained broadcast lookups of the sketch, one md5 per shingle
    split into four 16-bit chunks). Nothing corpus-sized crosses the
    wire except that one shingle shuffle — the same exchange every
    decontamination variant pays. At the bench's sf0.1 (5 000 short
    docs) every variant of this plan is FLOOR-dominated (~1.7 s against
    DuckDB's 0.8 s — job-count and codegen overhead, not data; see
    BASELINE.md r8); the shape above is the one whose cost is a single
    corpus scan + shingle exchange at real scale.
    """
    from franzoxide_spark.functions.text import HASH60_SPARK, shingles, tokens

    # Shingles enter the probe as their 60-bit md5 hashes (the dedup
    # family's HASH60 contract, functions/text.py) rather than raw
    # strings: identical cross-engine, a fixed-width shuffle key, and —
    # the point — the SAME key the bucketed shingle landing stores, so
    # :func:`bloom_probe_report_landed` can probe the landed relation
    # with bit-identical results to this ad-hoc path (r14: q165 was
    # re-exploding corpus shingles every run while the landing already
    # held them).
    hashed = F.expr(
        f"transform(__sh, s -> {HASH60_SPARK.format(s='s')})"
    )
    # no ensure_parallel: the stage after the explode is itself a shuffle, so
    # input parallelism does not bound the job (same reasoning as
    # corpus_stats' LM scorers measured at sf0.1)
    per_g = (
        flagged.withColumn("__toks", tokens(text_col))
        .withColumn("__sh", shingles("__toks", k))
        .select(
            F.col(group_col),
            F.col(eval_col).alias("__e"),
            F.explode(hashed).alias("__g"),
        )
        .groupBy("__g")
        .agg(
            F.max(F.col("__e").cast("int")).alias("__in_eval"),
            F.collect_set(
                F.when(~F.col("__e"), F.col(group_col))
            ).alias("__grps"),
        )
    )
    # The bloom builds from its OWN eval-only subtree rather than from
    # per_g: the eval slice is small by design, Catalyst prunes the
    # non-eval union arm under the filter (two-input callers never
    # rescan the corpus for it; a single-relation caller like q165 does
    # re-scan its base table for the eval rows — still cheaper than
    # checkpointing the shingle table, which is larger than the corpus
    # text itself), and per_g then has a single consumer —
    # which retires the r8 localCheckpoint of the full shingle-domain
    # table (1M-row block write+read at sf0.1, corpus-token-sized at
    # 100 TB, the plan's real cost). One driver action total, corpus
    # scanned and shuffled once. r9 A/B at sf0.1, min-of-5: r8 shape
    # 2.03 s / 1-row dense-array join 2.33 s / driver-literal probe
    # 2.45 s / this shape + hash-once 1.78 s — see BASELINE.md
    # "q165 final position (r9)".
    eval_sh = (
        flagged.filter(F.col(eval_col))
        .withColumn("__toks", tokens(text_col))
        .withColumn("__sh", shingles("__toks", k))
        .select(F.explode(hashed).alias("__g"))
        .distinct()
    )
    return _bloom_report(per_g, eval_sh, group_col)


def _bloom_report(
    per_g: DataFrame, eval_sh: DataFrame, group_col: str
) -> DataFrame:
    """Shared probe/report core: ``per_g (__g bigint, __in_eval,
    __grps)`` probed against the bloom of ``eval_sh (__g bigint)``,
    aggregated per group. The bit indices come from md5 of the 60-bit
    shingle hash's DECIMAL string — bigint-to-string renders identically
    in Spark and DuckDB, so the mirror reproduces the layout exactly."""
    # materialize the 1024-row sketch ONCE (lazy local checkpoint): the
    # probe broadcasts it four times, and without the cut each
    # BroadcastExchange re-evaluated the whole eval subtree — 4 extra
    # scans of the eval side per report (16 with the old 4-arm build)
    bloom = bloom_build(eval_sh, "cast(__g as string)").localCheckpoint(
        eager=False
    )
    # render the md5 hex ONCE per probe shingle and slice all four
    # (word, bit) pairs out of the stored string: the per-join-stage
    # md5+conv re-derivation was measured at ~0.13 s of the sf0.1 total
    # (codegen CSE does not span join operators)
    probe = per_g.filter(F.size("__grps") > 0).withColumn(
        "__md5", F.expr("md5(cast(__g as string))")
    )
    for seed in range(_BLOOM_HASHES):
        h = f"cast(conv(substr(__md5, {1 + 4 * seed}, 4), 16, 10) as int)"
        probe = probe.withColumn(
            f"__w{seed}", F.expr(f"({h} div 64)")
        ).withColumn(f"__b{seed}", F.expr(f"({h} % 64)"))
    ok = None
    for seed in range(_BLOOM_HASHES):
        side = f"__bl{seed}"
        probe = probe.join(
            F.broadcast(bloom.alias(side)),
            F.col(f"__w{seed}") == F.col(f"{side}.word_idx"),
            "left",
        )
        bits = F.col(f"{side}.bits")
        mask = F.expr(f"shiftleft(cast(1 as bigint), __b{seed})")
        test = bits.isNotNull() & (bits.bitwiseAND(mask) == mask)
        ok = test if ok is None else (ok & test)
    joined = probe.select(
        F.explode("__grps").alias(group_col),
        F.col("__in_eval"),
        ok.cast("int").alias("__all"),
    )
    pos = F.col("__all") == 1
    true_hit = F.col("__in_eval") == 1
    return joined.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(pos.cast("long")).cast("bigint").alias("n_bloom_pos"),
        F.sum(true_hit.cast("long")).cast("bigint").alias("n_true"),
        F.sum((pos & ~true_hit).cast("long")).cast("bigint")
        .alias("n_false_pos"),
        F.round(
            F.sum((pos & ~true_hit).cast("long"))
            / F.count(F.lit(1)),
            6,
        ).alias("fp_rate"),
    )


def bloom_probe_report_landed(
    shingle_rel: DataFrame,
    doc_meta: DataFrame,
    id_col: str,
    group_col: str,
    eval_col: str,
    k: int = 3,
) -> DataFrame:
    """:func:`bloom_probe_report_flagged` fed from the dedup family's
    BUCKETED shingle landing instead of re-tokenizing the corpus.

    ``shingle_rel`` is a ``(id_col, n, g)`` relation from
    ``land_shingle_relation`` / ``shared_shingle_relation`` — ``g`` is
    already the HASH60 shingle key this module probes on, so the result
    is bit-identical to the ad-hoc path. ``doc_meta`` maps
    ``(id_col -> group_col, eval_col)`` and is broadcast (doc-count
    sized — one row per document, no text). The corpus-side cost drops
    to a bucketed parquet scan + ZERO exchanges: the broadcast meta
    join preserves the landing's hash partitioning on ``g``, so the
    per-shingle aggregate reuses it (plan-asserted in test_plans.py).
    This retires q165's per-run tokenize + explode + shingle shuffle —
    at 100 TB the landing is written once per corpus snapshot and every
    decontamination pass after the first is scan-only (r14 verdict #2).

    Refuses a ``max_df``-stripped landing: stripped shingles are absent
    from every document there, which silently undercounts contamination
    against the unstripped semantics this report documents."""
    from franzoxide_spark.operators.dedup import _check_shingle_rel_k

    _check_shingle_rel_k(shingle_rel, k, "bloom_probe_report_landed")
    meta = shingle_rel.schema["g"].metadata or {}
    if meta.get("max_df") is not None:
        raise ValueError(
            "bloom_probe_report_landed: the landed relation was stripped "
            f"with max_df={meta['max_df']} — boilerplate shingles are "
            "absent from it, so contamination counts would silently "
            "undercount. Probe an unstripped landing instead."
        )
    dmeta = doc_meta.select(
        F.col(id_col),
        F.col(group_col),
        F.col(eval_col).cast("boolean").alias("__e"),
    )
    joined = shingle_rel.select(id_col, F.col("g").alias("__g")).join(
        F.broadcast(dmeta), id_col, "inner"
    )
    per_g = joined.groupBy("__g").agg(
        F.max(F.col("__e").cast("int")).alias("__in_eval"),
        F.collect_set(F.when(~F.col("__e"), F.col(group_col))).alias(
            "__grps"
        ),
    )
    eval_sh = (
        joined.filter(F.col("__e")).select("__g").distinct()
    )
    return _bloom_report(per_g, eval_sh, group_col)


def sql_bloom_probe_report(
    table: str,
    eval_pred: str,
    pool_pred: str,
    text_col: str,
    group_col: str,
    k: int = 3,
) -> str:
    """DuckDB mirror of :func:`bloom_probe_report` — the identical
    seeded-md5 bit layout, built with bit_or over per-shingle masks.
    Shingles are keyed by their HASH60 value (the dedup family's
    cross-engine contract) and the bit indices come from md5 of that
    hash's decimal string, matching :func:`_bloom_report` exactly."""
    from franzoxide_spark.functions.text import (
        sql_hash60,
        sql_shingles,
        sql_tokens,
    )

    sh = sql_shingles(sql_tokens(text_col), k)
    h60 = sql_hash60("s")
    build_arms, probe_arms = [], []
    for seed in range(_BLOOM_HASHES):
        idx = (
            f"CAST('0x' || substr(md5(CAST(g AS VARCHAR)),"
            f" {1 + 4 * seed}, 4) AS INT)"
        )
        # // (floor division), NOT CAST(x/64 AS INT): DuckDB's cast
        # ROUNDS, which shifted every idx%64 >= 32 into the next word
        # and diverged from Spark's truncating layout
        word = f"({idx} // 64) AS word_idx"
        # DuckDB's << overflows at shift 63 (Spark's shiftleft wraps to
        # the sign bit); spell the top bit out as the minimum BIGINT
        mask = (
            f"(CASE WHEN CAST({idx} % 64 AS INT) = 63"
            f" THEN CAST(-9223372036854775807 - 1 AS BIGINT)"
            f" ELSE (CAST(1 AS BIGINT) << CAST({idx} % 64 AS INT)) END) AS m"
        )
        build_arms.append(f"SELECT {word}, {mask} FROM eval_sh")
        probe_arms.append(
            f"SELECT {group_col}, g, {word}, {mask} FROM corpus_sh"
        )
    build_arms = " UNION ALL ".join(build_arms)
    probe_arms = " UNION ALL ".join(probe_arms)
    return f"""
WITH eval_sh AS (
  SELECT DISTINCT {h60} AS g
  FROM (SELECT UNNEST({sh}) AS s FROM {table} WHERE {eval_pred})
),
corpus_sh AS (
  SELECT DISTINCT {group_col}, {h60} AS g
  FROM (SELECT {group_col}, UNNEST({sh}) AS s
        FROM {table} WHERE {pool_pred})
),
bloom AS (
  SELECT word_idx, bit_or(m) AS bits FROM ({build_arms}) GROUP BY word_idx
),
probe AS ({probe_arms}),
hit AS (
  SELECT p.{group_col}, p.g,
         MIN(CASE WHEN b.bits IS NOT NULL AND (b.bits & p.m) = p.m
                  THEN 1 ELSE 0 END) AS all_ok
  FROM probe p LEFT JOIN bloom b USING (word_idx)
  GROUP BY p.{group_col}, p.g
),
truth AS (
  SELECT c.{group_col}, c.g, 1 AS t
  FROM corpus_sh c SEMI JOIN eval_sh e ON c.g = e.g
)
SELECT h.{group_col},
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN all_ok = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pos,
       CAST(SUM(CASE WHEN t IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true,
       CAST(SUM(CASE WHEN all_ok = 1 AND t IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       ROUND(CAST(SUM(CASE WHEN all_ok = 1 AND t IS NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS fp_rate
FROM hit h LEFT JOIN truth USING ({group_col}, g)
GROUP BY h.{group_col}
"""
