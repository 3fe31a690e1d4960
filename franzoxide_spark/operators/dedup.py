"""Deduplication operators for large-scale training-data pipelines.

All operators are shuffle-conscious compositions of built-in DataFrame ops
(no Python in the hot path):

- ``exact_dedup``       — hash-groupBy on a content key; survivor = min id.
                          One shuffle on the content hash; at 100 TB hash
                          the text first (64-bit) so the shuffle key is
                          fixed-width, then resolve rare collisions inside
                          the group.
- ``minhash_*``         — MinHash+LSH near-dup: per-doc signature (map-side
                          only), band explode (xN rows, still narrow),
                          bucket self-join on (band, band-hash) — the ONLY
                          shuffle is on band buckets, never all-pairs —
                          then exact Jaccard verification on candidates.
- ``simhash_*``         — 32-bit SimHash via bit-majority over word-shingle
                          features; candidate pairs via (r+1)-way signature
                          banding (pigeonhole: hamming<=r implies one band
                          equal), verified with bit_count(xor) — never an
                          all-pairs join.
- ``jaccard_pairs``     — exact n-gram Jaccard via shingle explode +
                          equi-join on the shingle (shuffle on shingle
                          hash) — the exact counterpart MinHash
                          approximates; quadratic only within documents
                          sharing a shingle.

Everything is deterministic (md5-derived hashes) so results can be
oracle-checked cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from franzoxide_spark.functions.text import (
    HASH60_SEEDED_SPARK,
    HASH60_SPARK,
    shingles,
    tokens,
)
from franzoxide_spark.operators.corpus_stats import _fan_out
from franzoxide_spark.operators.landing import shared_landing


def _shingle_hash_arrays(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """The shared dedup-family input, ONE definition of the cross-engine
    hash contract: per-doc distinct k-token shingles as 60-bit md5-derived
    hashes (join on the hash, not the string: fixed-width shuffle key;
    collision odds at 2^60 are negligible and identical cross-engine),
    as ``(id_col, h array<bigint>, n)`` with ``n`` the shingle-set size.
    jaccard_pairs / containment_pairs / jaccard_pairs_prefix and the
    bucketed landing all build from this — a contract change here is a
    contract change everywhere, never a silent divergence."""
    return (
        _with_tokens(df, text_col)
        .select(F.col(id_col), shingles("__toks", k=shingle_k).alias("s"))
        .select(
            id_col,
            F.expr(
                f"transform(s, g -> {HASH60_SPARK.format(s='g')})"
            ).alias("h"),
            F.size("s").alias("n"),
        )
    )


def _shingle_hash_relation(
    df: DataFrame, text_col: str, id_col: str, shingle_k: int
) -> DataFrame:
    """:func:`_shingle_hash_arrays` exploded to ``(id_col, n, g)``."""
    return _shingle_hash_arrays(df, text_col, id_col, shingle_k).select(
        id_col, "n", F.explode("h").alias("g")
    )


def _landed_shingle_k(rel: DataFrame) -> int | None:
    """The ``shingle_k`` a landed relation was built with, read from the
    ``g`` column's field metadata (stamped by :func:`land_shingle_relation`
    and persisted through the catalog), or None for an ad-hoc relation
    that carries no stamp."""
    try:
        meta = rel.schema["g"].metadata
    except KeyError:
        return None
    k = (meta or {}).get("shingle_k")
    return int(k) if k is not None else None


def _check_shingle_rel_k(rel: DataFrame, shingle_k: int, caller: str) -> None:
    """Refuse a k-mismatched pre-landed relation (r10 ADVICE): a relation
    landed with a different k than the caller expects yields PLAUSIBLE but
    wrong jaccard/containment scores with no error. Unstamped (ad-hoc)
    relations pass through — matching k is then the caller's contract,
    documented on the ``shingle_rel`` parameter."""
    landed_k = _landed_shingle_k(rel)
    if landed_k is not None and landed_k != shingle_k:
        raise ValueError(
            f"{caller}: shingle_rel was landed with shingle_k={landed_k} "
            f"but the caller expects shingle_k={shingle_k} — scores from a "
            "k-mismatched relation are plausible but wrong; re-land with "
            f"land_shingle_relation(..., shingle_k={shingle_k}) or pass "
            f"shingle_k={landed_k}"
        )


def land_shingle_relation(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_table: str,
    *,
    shingle_k: int = 3,
    n_buckets: int = 64,
    mode: str = "overwrite",
    max_df: int | None = None,
) -> DataFrame:
    """Write-once/join-many landing for the q35/q119 dedup family: persist
    the exploded shingle-hash relation ``(id_col, n, g)`` as a BUCKETED
    AND IN-BUCKET-SORTED table on the join key ``g``, and return the
    re-read table.

    Every downstream self-join (jaccard_pairs / containment_pairs via
    their ``shingle_rel=`` option) then runs exchange-free: both sides
    expose the same bucket partitioning on ``g``, so the sort-merge join
    needs no shuffle of the corpus-sized relation — retiring the term
    that put the ad-hoc q119 ~1.2x over linear at 30x (measured: 11.4 ->
    6.8 s at 30x with both join exchanges gone from the executed plan,
    BASELINE.md "bucketed-join evidence"; plan-asserted in
    tests/test_plans.py). This is the posture a 100 TB dedup corpus
    wants: one bucketed landing pass, then containment / jaccard /
    minhash-verify passes all join co-located.

    The residual per-bucket Sort under the join is in-partition (no
    shuffle). Spark CAN elide it too — the landing writes one file per
    bucket and ``sortBy(g)`` exactly so the scan's ordering is usable —
    but only with ``spark.sql.legacy.bucketedTableScan.outputOrdering=
    true``, which lists files during PLANNING and is deliberately left
    off: at corpus scale the planning-time listing costs more than a
    distributed in-memory sort of pre-bucketed (already clustered) runs.

    ``n_buckets`` sizes the parallelism of every downstream join — pick
    it like shuffle partitions at the target scale (buckets ~= data /
    executor-memory-sized chunks), not from the fixture.

    Skew caveat: a bucketed SMJ has no exchange for AQE to re-plan, so a
    hot shingle (boilerplate shared by millions of docs) concentrates in
    one bucket and AQE's skew-join splitting CANNOT rescue it — the cure
    is upstream: strip ubiquitous shingles BEFORE landing. ``max_df``
    productizes exactly that (the q52 boilerplate sweep as a landing
    option): shingles whose document frequency exceeds it are dropped in
    the landing pass (one extra map-side-combined frequency aggregate +
    a broadcast anti-join — the hot set is tiny by definition), which
    bounds both the largest bucket and the hot shingle's O(df²)
    candidate-pair blowup downstream. Deliberate trade, stamped in the
    relation's metadata: scores computed over a stripped relation treat
    the stripped boilerplate shingles as absent from every document
    (the standard near-dup posture — boilerplate shared by everything
    carries no dedup signal). Skew-bound asserted in tests/test_plans.py.
    """
    if max_df is not None and mode != "overwrite":
        # df counts and the post-strip n recompute are BATCH-local: under
        # append, a table-wide-hot shingle with a small in-batch df would
        # survive the strip (re-creating the skew the option prevents)
        # and a re-appearing doc id would carry batch-dependent n values
        # into the first(n) denominators — silent wrong scores. Strip
        # landings are rebuild-only.
        raise ValueError(
            "land_shingle_relation: max_df requires mode='overwrite' — "
            "document frequency is computed over this batch only, so an "
            "append would strip against partial counts and write "
            "inconsistent post-strip n values"
        )
    rel = _shingle_hash_relation(df, text_col, id_col, shingle_k)
    if max_df is not None:
        hot = (
            rel.groupBy("g")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_df)
            .select("g")
        )
        rel = rel.join(F.broadcast(hot), "g", "left_anti")
        # n must be the POST-strip set size or every downstream
        # jaccard/containment denominator still counts the stripped
        # boilerplate (scores biased low vs the documented "stripped ==
        # absent from every document" semantics). One id-keyed window in
        # the landing pass; docs losing ALL shingles drop out entirely
        # (they can't pair, which is the point of the strip).
        rel = rel.withColumn(
            "n",
            F.count(F.lit(1)).over(Window.partitionBy(id_col)).cast("int"),
        )
    (
        rel
        # stamp the build parameter on the join key's field metadata —
        # persisted through the catalog schema, so every consumer can
        # verify the relation's k against its own (r10 ADVICE: silent
        # k-mismatch = plausible-but-wrong scores)
        .withColumn(
            "g",
            F.col("g").alias(
                "g",
                metadata={"shingle_k": shingle_k}
                | ({} if max_df is None else {"max_df": max_df}),
            ),
        )
        # one file per bucket: repartition on the SAME hash(g) the bucket
        # spec uses, so each write task holds exactly one bucket's rows —
        # the sorted-bucket scan only elides the join-side Sort when a
        # bucket is a single file (multi-file buckets would need a merge)
        .repartition(n_buckets, "g")
        .write.mode(mode)
        .bucketBy(n_buckets, "g")
        .sortBy("g")
        .saveAsTable(out_table)
    )
    return df.sparkSession.table(out_table)


# Bench/driver-visible decision log (r14 verdict #3): every
# jaccard_pairs_prefix call appends its checkpoint-branch choice, so
# BENCH_DETAIL can explain by itself which prefix-checkpoint branch a
# sample ran; bench.py copies the list into the detail artifact next to
# the landing decisions (operators/landing.py:LANDING_EVENTS).
PREFIX_DECISIONS: list[dict] = []


def shared_shingle_relation(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_key: str,
    *,
    shingle_k: int = 3,
    n_buckets: int = 64,
) -> DataFrame:
    """Land-once/reuse-many wrapper over :func:`land_shingle_relation`.

    ``source_key`` identifies the corpus (e.g. ``f"{sf_dir}/documents"``)
    — the landing is keyed by (session, source_key, text_col, id_col,
    shingle_k, n_buckets), so every dedup-family query over the same
    corpus in one session shares ONE bucketed landing write and all
    downstream self-joins run exchange-free. This is the engine-level
    switch that makes the registry's q35/q35b/q119 measure the landed
    path: the write-once cost amortizes across the family exactly as the
    100 TB posture argues (land the shingle relation once per corpus
    snapshot, then containment / jaccard / prefix passes all join
    co-located).

    The table name is a digest of the key, deterministic across sessions
    at the same source. A fresh session finding a MARKED completed
    landing whose source fingerprint still matches the corpus ADOPTS it
    (external bucketed declaration over the existing files — no landing
    write at all, and no deletion of files a live sibling session may
    still be scanning, the r12 ADVICE #4 hazard). Only when the corpus
    has actually changed (fingerprint mismatch — the old landing is
    stale for every reader) is the marked dir reclaimed, with a warning
    naming the writer recorded in the marker. An unmarked
    recently-modified dir — possibly a concurrent session mid-write —
    still raises loudly instead of deleting files that may belong to a
    live writer. Concurrent jobs over the same corpus should still use
    distinct warehouses or distinct ``source_key`` values.
    """
    return shared_landing(
        df,
        ident=(source_key, text_col, id_col, shingle_k, n_buckets),
        name_prefix="shingle_rel_",
        family="shingle",
        land_fn=lambda d, name: land_shingle_relation(
            d, text_col, id_col, name,
            shingle_k=shingle_k, n_buckets=n_buckets,
        ),
        marker_extra={"n_buckets": n_buckets},
    )


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct content value — survivor is min(id).
    Returns (survivor id, content hash, n_copies)."""
    return (
        df.select(
            F.col(id_col),
            F.sha2(F.col(content_col), 256).alias("content_sha"),
        )
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


# Parametric MinHash family h_i(x) = (a_i * x + b_i) mod p over the base
# md5-derived 60-bit shingle hash folded to 31 bits (Broder '97 / Carter-
# Wegman): ONE md5 per shingle, then cheap integer mixing per hash
# function. a_i/b_i are fixed odd constants; p = 2^31-1 keeps a*x+b within
# 62 bits (no bigint overflow in either engine).
MINHASH_P = 2147483647
MINHASH_A = (1000003, 999331, 998617, 997991, 997369, 996739, 996011, 995327)
MINHASH_B = (12345, 54321, 192837, 918273, 567891, 135791, 246803, 864209)


def minhash_perm_expr(base: str, i: int) -> str:
    return f"(({MINHASH_A[i]} * {base} + {MINHASH_B[i]}) % {MINHASH_P})"


def sql_minhash_sig(shingle_set: str, num_hashes: int) -> str:
    """DuckDB mirror of the signature expression."""
    base = (
        f"(CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) % {MINHASH_P})"
    )
    mins = ", ".join(
        f"list_min(list_transform({shingle_set},"
        f" s -> ({MINHASH_A[i]} * {base} + {MINHASH_B[i]}) % {MINHASH_P}))"
        for i in range(num_hashes)
    )
    return f"[{mins}]"


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    shingle_k: int = 3,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc distinct shingle set + MinHash signature array<long>.
    Entirely map-side: hash each shingle once, apply the parametric
    family, min per function — no shuffle. ``extra_cols`` pass through
    untouched (the TTL'd streaming gate carries event time this way)."""
    perms = ", ".join(
        f"array_min(transform(bh, x -> {minhash_perm_expr('x', i)}))"
        for i in range(num_hashes)
    )
    return (
        df.select(
            F.col(id_col),
            *[F.col(c) for c in extra_cols],
            shingles("__toks", k=shingle_k).alias("shingle_set"),
        )
        .withColumn(
            "bh",
            F.expr(
                "transform(shingle_set, s -> "
                f"{HASH60_SPARK.format(s='s')} % {MINHASH_P})"
            ),
        )
        .withColumn("sig", F.expr(f"array({perms})"))
        .drop("bh")
        .withColumn("n_shingles", F.size("shingle_set"))
    )


def _with_tokens(df: DataFrame, text_col: str) -> DataFrame:
    return df.withColumn("__toks", tokens(text_col))


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    """Band the signatures and self-join per bucket: docs agreeing on ALL
    ``rows`` hashes of any band become a candidate pair (a < b)."""
    banded = sig_df.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}),"
                f" b -> struct(b as band, slice(sig, b * {rows} + 1, {rows}) as bh))"
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bh")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def verify_jaccard(
    cand: DataFrame, sig_df: DataFrame, id_col: str
) -> DataFrame:
    """Exact Jaccard on candidate pairs from their distinct shingle sets."""
    sa = sig_df.select(
        F.col(id_col).alias("id_a"), F.col("shingle_set").alias("sh_a")
    )
    sb = sig_df.select(
        F.col(id_col).alias("id_b"), F.col("shingle_set").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b"))).cast("double")
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", F.round(inter / union, 6).alias("jaccard"))
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    rows = num_hashes // bands
    # pipeline break: materialize signatures + shingle sets once (see the
    # simhash note above — same interpreted-HOF re-evaluation hazard)
    sig = minhash_signatures(
        _with_tokens(df, text_col), text_col, id_col, num_hashes, shingle_k
    ).cache()
    cand = lsh_candidate_pairs(sig, id_col, bands, rows)
    return verify_jaccard(cand, sig, id_col).filter(F.col("jaccard") >= threshold)


def neardup_gate(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Batch face of the streaming near-dup GATE
    (streaming/stateful.py:streaming_neardup_gate): one verdict row per
    doc — admitted (no earlier near-dup) or flagged with dup_of = the
    smallest-id earlier doc it verifies >= threshold against, and that
    pair's jaccard. "Earlier" is id order, matching arrival order in an
    id-monotone ingest (the parity contract). Built on exactly q33's
    pair relation, so the gate inherits its candidate generation,
    verification, and plan shape; the extra work is one id_b aggregation
    (map-side combinable) and a left join back to the id spine."""
    pairs = minhash_near_duplicates(
        df, text_col, id_col, threshold, num_hashes, bands, shingle_k
    )
    flagged = pairs.groupBy(F.col("id_b").alias(id_col)).agg(
        F.min("id_a").alias("dup_of"),
        F.min_by("jaccard", "id_a").alias("jaccard"),
    )
    return (
        df.select(id_col)
        .join(flagged, [id_col], "left")
        .select(
            id_col,
            F.col("dup_of").isNull().cast("int").alias("admitted"),
            "dup_of",
            F.round("jaccard", 6).alias("jaccard"),
        )
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32, shingle_k: int = 3
) -> DataFrame:
    """32-bit SimHash (Charikar '02) over distinct word-shingle features
    (Manku et al. '07): hash each shingle once; per bit, a ±1 vote;
    signature bit j set iff the vote sum is > 0 (<=> 2*ones > n).

    Shingles — not unigram tokens — are the feature on purpose: on a
    small shared vocabulary every doc has nearly the same token
    distribution, so token-level SimHash collapses to one signature for
    the whole corpus; the shingle space is combinatorially large, giving
    near-uniform signatures for unrelated docs while near-dups still
    agree on almost all features.

    Pure map-side expression: no explode, no shuffle; per-doc cost is one
    md5 per shingle + bits x |shingles| array ops inside codegen."""
    h = HASH60_SEEDED_SPARK.format(i="0", s="s")
    sig = (
        f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), (acc, j) ->"
        " acc + case when 2 * size(filter(th,"
        " x -> (x & shiftleft(cast(1 as bigint), j)) != 0)) > size(th)"
        " then shiftleft(cast(1 as bigint), j) else cast(0 as bigint) end)"
    )
    return (
        _with_tokens(df, text_col)
        .select(
            F.col(id_col),
            shingles("__toks", k=shingle_k).alias("shingle_set"),
        )
        .select(
            F.col(id_col),
            F.expr(f"transform(shingle_set, s -> {h})").alias("th"),
        )
        .select(F.col(id_col), F.expr(sig).alias("simhash"))
    )


def simhash_near_duplicates(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3, bits: int = 32
) -> DataFrame:
    """Banded candidate generation (pigeonhole): with the signature split
    into ``max_hamming + 1`` bands, any pair within ``max_hamming`` bits
    must agree exactly on >= 1 band -> join per band bucket instead of
    all-pairs, then verify with bit_count. Identical result set to the
    quadratic filter; the join key is (band, band_bits)."""
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    # Input parallelism guard (r18): the signature is an interpreted
    # higher-order-function expression (32 array passes per doc), so a
    # single-split input runs the whole signature pass on ONE core — the
    # 10x replica (one parquet file) measured 43x over base in the slope
    # sweep purely from this. Project the two consumed columns and
    # round-robin them to the session's parallelism first; on a real
    # multi-split corpus the repartition is a no-op.
    src = _fan_out(df.select(id_col, text_col))
    # The signature is an interpreted higher-order-function expression;
    # without a pipeline break it would be re-evaluated per band row on
    # BOTH sides of the self-join (measured: ~70x slower). Caching the
    # tiny (id, simhash) table evaluates it exactly once per doc — the
    # standard persist-the-signatures step of any LSH pipeline.
    sig = simhash_signatures(src, text_col, id_col, bits).cache()
    banded = sig.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), b -> struct(b as band,"
                f" (simhash div shiftleft(cast(1 as bigint), b * {band_bits}))"
                f" % shiftleft(cast(1 as bigint), {band_bits}) as bb))"
            )
        ).alias("e"),
    ).select(id_col, "simhash", "e.band", "e.bb")
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bb") == F.col("b.bb"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# exact n-gram Jaccard (shingle-join, not all-pairs)
# --------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_k: int = 3,
    *,
    shingle_rel: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard for every pair sharing >= 1 shingle: explode distinct
    shingles, equi-join on the shingle with a length-ratio prune
    (``t * max(|A|, |B|) <= min(|A|, |B|)`` is necessary for J >= t, so
    candidate (pair, shingle) rows failing it are dropped BEFORE the
    per-pair aggregation), count per pair, then |A∩B| / (|A|+|B|-|A∩B|).

    Measured plan decision (round 4, sf0.1 + 10x replica): a full
    prefix-filter rewrite (ppjoin-style — rarest-first global shingle
    order, prefix length ``n - ceil(t*n) + 1``, array_intersect verify)
    produced the identical oracle-checked result but ran 3.2x SLOWER
    (9.5 s vs 3.0 s) — at t=0.3 the prefix keeps ~70% of every document's
    shingles while the verify join ships full hash arrays through two
    shuffles. The hot-boilerplate-shingle hazard that prefix filtering
    guards against is handled in this engine by the q52 boilerplate sweep
    (detect + strip ubiquitous n-grams upstream), which is the cheaper
    cure at corpus scale.

    ``shingle_rel``: a pre-landed exploded relation ``(id_col, n, g)`` —
    typically ``land_shingle_relation``'s bucketed table — replaces the
    tokenize/shingle/checkpoint subtree entirely; when the relation is
    bucketed on ``g`` the self-join runs with NO exchange below the join
    (plan-asserted in tests/test_plans.py), the write-once/join-many
    posture for a corpus-scale dedup landing. A landed relation carries
    its build ``shingle_k`` in the ``g`` field metadata and a mismatch
    with this call's ``shingle_k`` raises (plausible-but-wrong-score
    guard); an ad-hoc relation without the stamp is accepted and matching
    k is the caller's contract."""
    if shingle_rel is not None:
        _check_shingle_rel_k(shingle_rel, shingle_k, "jaccard_pairs")
        # MERGE hint still pins SMJ (the co-located plan); a bucketed
        # input makes that SMJ exchange- and sort-free
        ex = shingle_rel.select(id_col, "n", "g").hint("merge")
    else:
        # Hash arrays + set size materialize ONCE (r9, the
        # containment_pairs/prefix-variant trade): the size subtree
        # otherwise re-tokenizes.
        sh = _shingle_hash_arrays(df, text_col, id_col, shingle_k)\
            .localCheckpoint(eager=False)
        # MERGE hint: both sides are corpus-sized, and the checkpoint's
        # exact stats would otherwise let the 64 MB auto-broadcast
        # threshold build a multi-million-row hash table mid-scale
        # (measured 1.8x slower at 3x replica and 48 s degenerate at 30x —
        # BASELINE.md bucketed-join section); SMJ also measured faster at
        # sf0.1 (q35 2.29 -> 2.05 s)
        ex = sh.select(id_col, "n", F.explode("h").alias("g")).hint("merge")
    a = ex.alias("a")
    b = ex.alias("b")
    t = F.lit(threshold)
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.greatest(F.col("a.n"), F.col("b.n")) * t
                <= F.least(F.col("a.n"), F.col("b.n"))
            ),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )
    # sizes ride through the pair aggregation as first(n) — n is
    # functionally dependent on the doc id, so this replaces the two
    # size-relation join-backs of the earlier shape (A/B in BASELINE.md
    # "dedup size join-back retirement": flat-to-faster at sf0.1, and two
    # fewer corpus-keyed joins at any scale)
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
        6,
    )
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# The prefix subtree (df-frequency join + per-doc rarity window) is
# consumed by BOTH candidate-join sides; a localCheckpoint collapses it
# to one compute at the price of materialization. Same-session A/Bs
# (BASELINE.md "q35b prefix-subtree checkpoint A/B"): sf0.1 checkpoint
# LOSES (4.15 vs 3.43 s, relation ~1.7 MB), 10x it WINS (6.27 vs
# 7.13 s, ~17 MB) — ~15% margins both ways. 6 MiB is the geometric
# middle of the two measured decades: below it the duplicated subtree
# is cheaper than writing the checkpoint, above it the saved compute
# grows with data while the write stays one pass.
#
# Stat-source re-derivation (r13, verdict item #1): the registry feeds
# the LANDED bucketed relation, whose stats are EXACT file sizes, not
# the ad-hoc optimizer estimate the table above was calibrated from.
# Measured against the landed source: sf0.1 reports 1.65 MiB (the two
# sources substantially AGREE at this SF — the suspected ~16 MB landed
# figure was the 10x replica's directory) and the 10x landing is
# ~16.5 MiB, so the same 6 MiB threshold puts the landed path on the
# no-checkpoint branch at the bench SF and on the checkpoint branch
# from 10x up — exactly the measured crossover. Pinned by
# test_llm_ops.py::test_prefix_checkpoint_not_taken_on_landed_bench_sf
# against the REAL sf0.1 landed relation.
_PREFIX_CHECKPOINT_MIN_BYTES = 6 << 20


def jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_k: int = 3,
    *,
    shingle_rel: DataFrame | None = None,
    prefix_checkpoint: bool | None = None,
) -> DataFrame:
    """Opt-in ppjoin-style prefix-filter variant of :func:`jaccard_pairs`.

    Identical result set, different candidate generator: shingles are
    globally ordered rarest-first (document frequency asc, hash asc) and
    each document contributes only its first ``n - ceil(t*n) + 1``
    shingles to the candidate join — any pair with J >= t MUST share a
    prefix shingle (pigeonhole), so the equi-join runs over a
    ``(1 - t)``-fraction of the exploded table. Verification then computes
    exact ``|A∩B|`` via ``array_intersect`` on the per-doc hash arrays,
    touching only surviving candidate pairs.

    When to choose which (measured, BASELINE.md round-6 slope table):
    the default shingle-join wins at low thresholds (t=0.3 keeps ~70% of
    every prefix, and the array-payload verify shuffle costs more than
    the join it saves — measured 3.2x slower at sf0.1). The prefix path
    wins as ``t`` rises (prefix shrinks to ``1-t``) or when shingle
    frequency is skewed and a handful of hot shingles dominate the
    baseline's join (the classic ppjoin regime); it is the variant to
    reach for when q52's boilerplate sweep cannot run upstream.

    ``shingle_rel``: pre-landed exploded ``(id_col, n, g)`` relation (see
    land_shingle_relation; same shingle_k-stamp check as jaccard_pairs).
    It replaces the tokenize/shingle/md5 pass entirely: the candidate
    side reads it directly (bucketed on ``g``, the document-frequency
    aggregate below the global rarity order becomes a map-side combine
    over co-located buckets), and the verify-side hash ARRAYS are
    rebuilt with one ``collect_list`` shuffle on the doc id — the trade
    is one id-keyed exchange against re-hashing the whole corpus text.

    ``prefix_checkpoint``: checkpoint the twice-consumed prefix subtree.
    ``None`` (default) decides by size — the optimizer's byte estimate
    of the exploded relation against ``_PREFIX_CHECKPOINT_MIN_BYTES``,
    the measured scale-dependent crossover (r11 A/B: materialization
    loses at sf0.1, wins at 10×; see the constant's note). Both branches
    are row-identical by construction (pinned in test_plans.py).
    """
    if shingle_rel is not None:
        _check_shingle_rel_k(shingle_rel, shingle_k, "jaccard_pairs_prefix")
        ex = shingle_rel.select(id_col, "n", "g")
        # verify sides need per-doc hash arrays; rebuild from the landed
        # relation (partial-aggregating collect_list, one id-keyed
        # shuffle) instead of re-tokenizing + re-hashing the corpus.
        # Checkpointed for the same 3-consumer reason as the ad-hoc path.
        sh = (
            shingle_rel.groupBy(id_col)
            .agg(F.first("n").alias("n"), F.collect_list("g").alias("h"))
            .localCheckpoint(eager=False)
        )
    else:
        # three consumers read this subtree (the candidate path and the
        # two verify sides), so without a checkpoint the tokenize +
        # shingle + per-shingle md5 pass runs three times — the r9 A/B at
        # sf0.1 measured 7.84 s -> 4.21 s min-of-3 from the checkpoint
        # alone. The checkpointed relation is ~8 B per shingle (hash
        # arrays) — comparable to the corpus text itself; at real scale
        # that is the standard materialize-once trade for a 3x-consumed
        # subtree
        sh = _shingle_hash_arrays(df, text_col, id_col, shingle_k)\
            .localCheckpoint(eager=False)
        ex = sh.select(id_col, "n", F.explode("h").alias("g"))
    # global rarity: document frequency per shingle hash (one narrow agg)
    freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    t = F.lit(threshold)
    # prefix length n - ceil(t*n) + 1: pigeonhole guarantee that two sets
    # with J >= t share at least one shingle inside both prefixes when
    # both are ordered by the SAME global order (df asc, g asc).
    # t is relaxed by 1e-6 because the verify accepts round(J, 6) >= t,
    # which admits pairs with true J down to t - 5e-7 — the pigeonhole
    # bound must cover those too or the variant could drop a pair the
    # default shingle join emits; the subtracted 1e-9 absorbs float
    # error in t*n (e.g. 0.3*10 = 3.0000000000000004 would over-ceil).
    # Both relaxations only LENGTHEN the prefix — superset of candidates,
    # never a miss.
    t_bound = F.lit(threshold - 1e-6)
    w = Window.partitionBy(id_col).orderBy(F.col("df").asc(), F.col("g").asc())
    prefix = (
        ex.join(freq, "g")
        .withColumn("pos", F.row_number().over(w))
        .filter(
            F.col("pos")
            <= F.col("n") - F.ceil(t_bound * F.col("n") - F.lit(1e-9)) + 1
        )
        .select(id_col, "n", "g")
    )
    forced = prefix_checkpoint is not None
    est = None
    if prefix_checkpoint is None:
        est = int(
            ex._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        prefix_checkpoint = est >= _PREFIX_CHECKPOINT_MIN_BYTES
    if len(PREFIX_DECISIONS) < 1000:
        import time as _time

        PREFIX_DECISIONS.append(
            {"checkpoint": bool(prefix_checkpoint), "est_bytes": est,
             "forced": forced, "landed": shingle_rel is not None,
             "epoch": round(_time.time(), 2)}
        )
    if prefix_checkpoint:
        prefix = prefix.localCheckpoint(eager=False)
    a = prefix.hint("merge").alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.greatest(F.col("a.n"), F.col("b.n")) * t
                <= F.least(F.col("a.n"), F.col("b.n"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # the verify sides carry full hash ARRAYS — broadcasting them is the
    # worst of both worlds (measured: q35b 4.21 -> 2.36 s at sf0.1 once
    # pinned to SMJ)
    ha = sh.select(F.col(id_col).alias("id_a"), F.col("h").alias("ha"),
                   F.col("n").alias("na")).hint("merge")
    hb = sh.select(F.col(id_col).alias("id_b"), F.col("h").alias("hb"),
                   F.col("n").alias("nb")).hint("merge")
    inter = F.size(F.array_intersect("ha", "hb"))
    jac = F.round(
        inter.cast("double") / (F.col("na") + F.col("nb") - inter).cast("double"),
        6,
    )
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------
# near-dup clustering: pairs -> connected components -> survivor per cluster
# --------------------------------------------------------------------------


def _union_find_clusters(spark, id_type, edge_rows) -> DataFrame:
    """Driver-side path-compressed union-find over a collected pair list;
    union-by-min keeps every root the minimum id of its component, so
    ``cluster_id`` falls out of ``find`` directly. Exactly the relation
    the distributed min-label propagation converges to."""
    from pyspark.sql import types as T

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    rows = [(n, find(n), n == find(n)) for n in parent]
    schema = T.StructType(
        [
            T.StructField("doc_id", id_type, False),
            T.StructField("cluster_id", id_type, False),
            T.StructField("is_survivor", T.BooleanType(), False),
        ]
    )
    return spark.createDataFrame(rows, schema)


def neardup_clusters(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iter: int = 50,
    driver_cutoff: int = 100_000,
) -> DataFrame:
    """Connected components over a near-duplicate pair graph — the step
    that turns any pair finder (MinHash q33 / SimHash q34 / Jaccard q35 /
    cosine q36) into an actionable dedup decision: every document in a
    component keeps exactly one survivor, the component's min id.

    Adaptive execution: the pair graph is the OUTPUT of a massive
    reduction (candidate join + verify), typically millions of times
    smaller than the corpus. When it fits comfortably on the driver
    (≤ ``driver_cutoff`` pairs, probed with a single ``limit(n+1)``
    collect — no extra count job), a path-compressed union-find computes
    the exact same relation in microseconds instead of paying a
    multi-job Spark loop whose per-iteration scheduling floor dominates
    small graphs. Larger graphs take the distributed min-label
    propagation below, which shuffles only the pair graph — never the
    corpus — at any scale. ``driver_cutoff=0`` forces the distributed
    path (used by tests to pin both implementations to one another).

    Algorithm (distributed path): min-label propagation. Each node starts labeled with its
    own id; every iteration each node takes the min of its own label and
    its neighbors' labels (one shuffle on node id per iteration, fully
    distributed — the driver only checks the converged-yet flag).
    Iterations needed = graph diameter, and near-dup graphs are
    shallow by construction (a cluster is a set of mutual near-copies;
    diameters beyond ~3 essentially never occur), so the loop converges
    in a handful of rounds at ANY corpus scale. For adversarial
    long-chain graphs the large-star/small-star variant (Kiveris et al.,
    "Connected Components in MapReduce", SOCC'14) drops convergence to
    O(log n) rounds with the same per-round shuffle shape — the swap is
    local to this function and not needed for near-dup workloads.

    Each iteration cuts the new label generation over with an EAGER
    ``localCheckpoint``: persist() alone short-circuits execution but
    not PLANNING — each iteration references the last twice (the label
    join and the convergence check), so the logical tree doubles per
    round and Catalyst's tree traversal goes exponential by iteration
    ~10-15 (observed: a 20+-diameter graph pinned the driver for
    minutes and then overflowed the stack in generateTreeString).
    localCheckpoint truncates the lineage so every iteration plans
    against a leaf, at the cost of losing recompute-on-executor-loss —
    the right trade for an iterative driver loop (on a cluster with
    dynamic executors, swap for checkpoint() on reliable storage).

    Returns (doc id, cluster_id, is_survivor) for every node that
    appears in >= 1 pair; unpaired documents are trivially their own
    survivor and are left out of the relation (callers anti-join the
    non-survivors against the corpus, so absent == kept). The returned
    frame projects the converged checkpointed generation — re-reads in
    the caller's downstream joins are free; the checkpoint blocks are
    released when the frame is garbage-collected.
    """
    if driver_cutoff:
        probe = pairs.select(a_col, b_col).limit(driver_cutoff + 1).collect()
        if len(probe) <= driver_cutoff:
            return _union_find_clusters(
                pairs.sparkSession, pairs.schema[a_col].dataType, probe
            )
    edges = (
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
        .distinct()
        # eager cut: edges are re-read every iteration; checkpointing also
        # keeps the (possibly expensive) pair-finder plan out of every
        # iteration's optimizer pass
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # eager localCheckpoint materializes new_labels NOW and replaces
        # its lineage with the checkpointed leaf — the convergence check
        # and the next iteration both plan against a constant-depth tree
        new_labels = (
            labels.join(nbr_min, labels.id == nbr_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"neardup_clusters did not converge in {max_iter} iterations"
        )
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        (F.col("id") == F.col("comp")).alias("is_survivor"),
    )


# --------------------------------------------------------------------------
# embedding near-dup (exact; the LSH scale path lives in similarity.py)
# --------------------------------------------------------------------------


def embedding_near_duplicates(
    emb: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """All-pairs cosine >= threshold. Exact and quadratic — correct at
    verification scale; at 100 TB use similarity.lsh_ann buckets as the
    candidate generator and this as the verifier."""
    from franzoxide_spark.functions.vectors import cosine_rounded

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", cosine_rounded("va", "vb"))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# --------------------------------------------------------------------------
# edit-distance near-dup (character level): SimHash-blocked candidates
# verified by relative Levenshtein distance
# --------------------------------------------------------------------------


def edit_distance_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_rel_edit: float = 0.02,
) -> DataFrame:
    """Character-level fuzzy dedup: the token-based family (MinHash /
    Jaccard / SimHash) measures SET overlap and is blind to WHERE edits
    sit; this verifies candidates with an exact edit distance, the
    signal for OCR noise, typo farms, and template fills where a few
    characters differ in otherwise identical prose.

    Semantics (mirrored exactly by the SQL oracle): candidate pairs are
    SimHash hamming <= ``max_hamming`` (the q34 relation — banded
    pigeonhole join, never all-pairs), kept iff
    ``levenshtein(a, b) / greatest(len(a), len(b)) <= max_rel_edit``.
    Returns ``id_a, id_b, hamming int, edit_dist int, rel_edit``
    (rounded to 6; integer Levenshtein over identical texts is
    engine-exact, so the only FP op is one division).

    Scale shape: candidate generation is q34's (map-side signatures,
    band-bucket self-join); texts join back onto the candidate pairs by
    id — two hash joins keyed on the id, so document payloads are never
    carried through the band join and the O(len^2) Levenshtein runs
    once per CANDIDATE, a set bounded by signature collisions, not
    corpus^2.
    """
    pairs = simhash_near_duplicates(df, text_col, id_col, max_hamming)
    ta = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"))
    tb = df.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"))
    # Spread the verify stage (r18): the candidate set is TINY in bytes
    # (a few thousand narrow rows) but each row costs an O(len_a·len_b)
    # Levenshtein — AQE's byte-based partition coalescing packs the
    # join output into one partition and serializes the whole verify
    # (profiled at the 10x replica: 7.1 s single-task vs 1.2 s for the
    # same join without the edit distance). Explicit repartition to the
    # session's parallelism, with persist() as the pushdown barrier so
    # the rel_edit filter cannot sink back below the exchange onto the
    # coalesced side (the _fan_out pattern; persist not localCheckpoint
    # because the relation is tiny — full plan stays visible and the
    # blocks recompute gracefully after an external cache clear).
    cand = (
        pairs.join(ta, "id_a")
        .join(tb, "id_b")
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
        .persist()
    )
    lev = F.levenshtein("__ta", "__tb")
    rel = F.round(
        lev.cast("double")
        / F.greatest(F.length("__ta"), F.length("__tb")).cast("double"),
        6,
    )
    return (
        cand.withColumn("edit_dist", lev.cast("int"))
        .withColumn("rel_edit", rel)
        .filter(F.col("rel_edit") <= max_rel_edit)
        .select("id_a", "id_b", "hamming", "edit_dist", "rel_edit")
    )


# --------------------------------------------------------------------------
# incremental dedup: a NEW batch against an EXISTING corpus
# --------------------------------------------------------------------------


def incremental_dedup(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Classify every batch document against the corpus:
    (id, verdict, best_jaccard) with verdict ``exact_dup`` (identical
    text exists in the corpus), ``near_dup`` (best LSH-candidate Jaccard
    ≥ threshold), or ``new``. This is the production ingest shape — a
    fresh crawl deduped against what's already stored — where the q33
    SELF-join would wastefully re-pair the corpus against itself.

    Scale shape: the exact leg is a left-semi-shaped join on
    sha256(text) (hash equality instead of text equality purely to
    shrink the shuffle key from document width to 32 bytes). The near
    leg bands both sides' map-side MinHash signatures and equi-joins
    batch bands against corpus bands — candidates are bounded by bucket
    collisions exactly as in q33, but only batch×corpus, never
    corpus×corpus. best_jaccard is the max over verified candidates
    (null when the batch doc hit no bucket), so re-running with a
    different threshold needs no recompute of the join.
    """
    rows = num_hashes // bands
    # localCheckpoint (non-eager), not cache(): each signature table is
    # used twice in the plan (banding + shingle verify), but a cache()
    # would pin executor storage FOREVER in a long-lived ingest session —
    # nothing here can unpersist after the lazy result is materialized.
    # Locally-checkpointed blocks are reclaimed by the ContextCleaner once
    # the returned DataFrame is garbage-collected, and lineage truncation
    # buys the same no-recompute property.
    sig_b = minhash_signatures(
        _with_tokens(batch, text_col), text_col, id_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)
    sig_c = minhash_signatures(
        _with_tokens(corpus, text_col), text_col, id_col, num_hashes, shingle_k
    ).localCheckpoint(eager=False)

    def _band(sig_df: DataFrame, side: str) -> DataFrame:
        return sig_df.select(
            F.col(id_col).alias(f"id_{side}"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}),"
                    f" b -> struct(b as band, slice(sig, b * {rows} + 1, {rows}) as bh))"
                )
            ).alias("bb"),
        ).select(f"id_{side}", "bb.band", "bb.bh")

    cand = (
        _band(sig_b, "b")
        .join(_band(sig_c, "c"), ["band", "bh"])
        .select("id_b", "id_c")
        .distinct()
    )
    inter = F.size(F.array_intersect("sh_b", "sh_c")).cast("double")
    union = (
        F.size("sh_b") + F.size("sh_c") - F.size(F.array_intersect("sh_b", "sh_c"))
    ).cast("double")
    best = (
        cand.join(
            sig_b.select(F.col(id_col).alias("id_b"), F.col("shingle_set").alias("sh_b")),
            "id_b",
        )
        .join(
            sig_c.select(F.col(id_col).alias("id_c"), F.col("shingle_set").alias("sh_c")),
            "id_c",
        )
        .groupBy("id_b")
        .agg(F.max(F.round(inter / union, 6)).alias("best_jaccard"))
    )
    corpus_hashes = corpus.select(
        F.sha2(F.col(text_col), 256).alias("__sha")
    ).distinct()
    exact = (
        batch.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("__sha"))
        .join(corpus_hashes, "__sha", "left_semi")
        .select(F.col(id_col).alias("id_b"), F.lit(True).alias("__exact"))
    )
    verdict = (
        F.when(F.col("__exact"), F.lit("exact_dup"))
        .when(F.col("best_jaccard") >= threshold, F.lit("near_dup"))
        .otherwise(F.lit("new"))
    )
    return (
        batch.select(F.col(id_col).alias("id_b"))
        .join(best, "id_b", "left")
        .join(exact, "id_b", "left")
        .withColumn("__exact", F.coalesce("__exact", F.lit(False)))
        .select(
            F.col("id_b").alias(id_col),
            verdict.alias("verdict"),
            "best_jaccard",
        )
    )


# --------------------------------------------------------------------------
# containment pairs: asymmetric subsumption (A's shingles ⊆-ish B's)
# --------------------------------------------------------------------------


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    shingle_k: int = 3,
    *,
    shingle_rel: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric near-containment: ``(id_inner, id_outer, containment)``
    where containment = |S(inner) ∩ S(outer)| / |S(inner)| >= threshold
    over k-token shingle sets. The dedup decision Jaccard misses: a long
    document that fully QUOTES a short one scores Jaccard ≈ |A|/|B| (tiny)
    but containment ≈ 1 — the subsumed doc is the redundant one.

    Scale shape: same single shingle-hash equi-join as jaccard_pairs —
    candidates are pairs sharing >= 1 shingle, counted per pair, then both
    directions are emitted from ONE unordered-pair aggregate (no second
    join). There is deliberately NO length-ratio prune: asymmetric sizes
    are the operator's whole point. The candidate-volume hazard is hot
    boilerplate shingles, handled upstream by the q52 sweep exactly as
    jaccard_pairs documents.

    ``shingle_rel``: pre-landed exploded ``(id_col, n, g)`` relation
    (see jaccard_pairs / land_shingle_relation) — bucketed input makes
    the self-join exchange- and sort-free. Same ``shingle_k``-stamp
    check as jaccard_pairs: a landed relation built with a different k
    raises instead of scoring plausibly-but-wrong.
    """
    if shingle_rel is not None:
        _check_shingle_rel_k(shingle_rel, shingle_k, "containment_pairs")
        ex = shingle_rel.select(id_col, "n", "g").hint("merge")
    else:
        # hash arrays + set size in ONE pass, materialized once: the two
        # self-join sides otherwise re-run tokenize + shingle + md5
        # from parquet (ReuseExchange collapses the join sides, but the
        # size subtree still re-tokenized) — r9 A/B at sf0.1: 3.06 s ->
        # 2.19 s min-of-3. Same trade as jaccard_pairs_prefix's
        # checkpoint above.
        sh = _shingle_hash_arrays(df, text_col, id_col, shingle_k)\
            .localCheckpoint(eager=False)
        # MERGE hint: same mid-scale auto-broadcast hazard as jaccard_pairs
        ex = sh.select(id_col, "n", F.explode("h").alias("g")).hint("merge")
    a = ex.alias("a")
    b = ex.alias("b")
    # sizes ride through the aggregation as first(n) — replaces the two
    # size join-backs (same retirement as jaccard_pairs, BASELINE.md)
    both = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.n")).alias("na"),
            F.first(F.col("b.n")).alias("nb"),
        )
    )
    t = F.lit(threshold)
    fwd = both.select(
        F.col("id_a").alias("id_inner"),
        F.col("id_b").alias("id_outer"),
        F.round(F.col("inter").cast("double") / F.col("na").cast("double"), 6)
        .alias("containment"),
    )
    rev = both.select(
        F.col("id_b").alias("id_inner"),
        F.col("id_a").alias("id_outer"),
        F.round(F.col("inter").cast("double") / F.col("nb").cast("double"), 6)
        .alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= t)


def minhash_accuracy_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Sketch-quality audit ("measure, don't guess" applied to the
    sketch itself): for every LSH candidate pair, the MinHash-ESTIMATED
    Jaccard (fraction of agreeing signature components — the quantity
    the banding decision is actually made on) next to the exact
    shingle-set Jaccard, plus the absolute error. The operational answer
    to "are 8 hashes enough at our threshold?" — E[err] ~ 1/sqrt(k).

    Same plan shape as minhash_near_duplicates: map-side signatures,
    band-bucket join for candidates only (never all pairs), two
    signature re-joins; the estimate is a zip_with fold inside codegen.
    """
    rows = num_hashes // bands
    sig = minhash_signatures(
        _with_tokens(df, text_col), text_col, id_col, num_hashes, shingle_k
    ).cache()
    cand = lsh_candidate_pairs(sig, id_col, bands, rows)
    sa = sig.select(
        F.col(id_col).alias("id_a"),
        F.col("sig").alias("sg_a"),
        F.col("shingle_set").alias("sh_a"),
    )
    sb = sig.select(
        F.col(id_col).alias("id_b"),
        F.col("sig").alias("sg_b"),
        F.col("shingle_set").alias("sh_b"),
    )
    est = (
        F.expr("size(filter(zip_with(sg_a, sg_b, (x, y) -> x = y), b -> b))")
        .cast("double")
        / num_hashes
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_distinct(F.concat("sh_a", "sh_b"))).cast("double")
    exact = inter / union
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(exact, 6).alias("jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )
