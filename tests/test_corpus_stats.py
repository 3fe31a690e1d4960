"""Semantic + plan-shape tests for the corpus-statistics scoring family
(operators/corpus_stats.py, queries q60-q62). Oracle parity for the
fixture-bound queries runs in test_oracle_queries.py, which parametrizes
over every registry entry — these tests pin the SEMANTICS (does the score
order the right things?) and the SCALE SHAPE (broadcast scoring joins,
no sort-merge) that the oracle cannot see."""

from __future__ import annotations

from pyspark.sql import functions as F

from franzoxide_spark.operators.corpus_stats import (
    char_trigram_lm,
    dsir_logratio,
    tfidf_top_terms,
)
from franzoxide_spark.queries import QUERIES, load_all

load_all()


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, text string")


# --------------------------------------------------------------------------
# TF-IDF
# --------------------------------------------------------------------------


def test_tfidf_ranks_distinguishing_terms_over_common_ones(spark):
    # "zebra" appears only in doc 1 (twice); "the" appears in every doc,
    # so its smoothed idf is exactly 1.0 (ln((3+1)/(3+1)) + 1) while
    # zebra's is ln(4/2)+1 ≈ 1.69 — zebra must outrank it at equal-ish tf.
    rows = [
        (1, "en", "the zebra zebra"),
        (2, "en", "the cat sat"),
        (3, "en", "the dog ran"),
    ]
    out = tfidf_top_terms(_docs(spark, rows), "doc_id", "text", k=2).collect()
    top1 = {r.doc_id: r.term for r in out if r.rk == 1}
    assert top1[1] == "zebra"
    # ranks are dense 1..k per doc, no duplicates
    per_doc = {}
    for r in out:
        per_doc.setdefault(r.doc_id, []).append(r.rk)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_doc.values())


def test_tfidf_query_bounds_k(spark, sf_dir):
    out = QUERIES["q60_tfidf_top_terms"](spark, sf_dir)
    agg = out.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    assert agg <= 3


# --------------------------------------------------------------------------
# char-trigram LM
# --------------------------------------------------------------------------


def test_trigram_lm_flags_out_of_distribution_text(spark):
    # Corpus dominated by one repeated pattern; the outlier doc made of
    # characters the corpus never repeats must get the highest nll.
    rows = [(i, "en", "the cat sat on the mat " * 5) for i in range(1, 10)]
    rows.append((99, "en", "zzqqxxjjvvwwkkzzqqxx"))
    out = {r.doc_id: r.nll for r in char_trigram_lm(_docs(spark, rows), "doc_id", "text").collect()}
    assert max(out, key=out.get) == 99
    assert all(v > 0 for v in out.values())  # -ln(p) with p < 1


def test_trigram_lm_drops_sub_trigram_docs(spark):
    rows = [(1, "en", "ab"), (2, "en", "abcdef")]
    out = char_trigram_lm(_docs(spark, rows), "doc_id", "text").collect()
    assert [r.doc_id for r in out] == [2]
    assert out[0].n_tri == 4


# --------------------------------------------------------------------------
# DSIR
# --------------------------------------------------------------------------


def test_dsir_scores_target_like_docs_higher(spark):
    en = "the cat sat on the mat and the dog ran to the house"
    de = "der hund lief zu dem haus und die katze sass auf der matte"
    rows = [(i, "en", en) for i in range(10)] + [(i + 10, "de", de) for i in range(10)]
    # held-out docs drawn from each side, not marked target
    rows += [(100, "xx", en), (101, "xx", de)]
    out = dsir_logratio(
        _docs(spark, rows), "doc_id", "text", target_pred=F.col("lang") == "en"
    )
    sc = {r.doc_id: r.dsir_logratio for r in out.collect()}
    assert sc[100] > sc[101]  # english-looking doc scores toward target
    assert sc[100] > 0 > sc[101]


def test_dsir_drops_sub_bigram_docs(spark):
    rows = [(1, "en", "single"), (2, "en", "two tokens here")]
    out = dsir_logratio(
        _docs(spark, rows), "doc_id", "text", target_pred=F.col("lang") == "en"
    ).collect()
    assert [r.doc_id for r in out] == [2]


# --------------------------------------------------------------------------
# plan shape: scoring joins must broadcast; corpus must never sort-merge
# --------------------------------------------------------------------------


def test_scoring_joins_broadcast(spark, sf_dir):
    for name in ("q61_trigram_lm_quality", "q62_dsir_importance"):
        plan = (
            QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


# --------------------------------------------------------------------------
# mixture weights
# --------------------------------------------------------------------------


def test_mixture_weights_normalize_and_cap(spark, sf_dir):
    rows = QUERIES["q64_mixture_weights"](spark, sf_dir).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    assert all(0 < r.sampling_rate <= 4.0 for r in rows)
    # temperature alpha<1 flattens: the biggest domain's weight share must
    # be smaller than its raw token share
    total = sum(r.tokens for r in rows)
    big = max(rows, key=lambda r: r.tokens)
    assert big.weight < big.tokens / total


# --------------------------------------------------------------------------
# OOV rate (q70)
# --------------------------------------------------------------------------


def test_oov_rate_counts_tokens_outside_topv_vocab(spark):
    from franzoxide_spark.operators.corpus_stats import oov_rate

    # corpus counts: the=4, cat=3, dog=2, rare=1, odd=1 -> vocab_size=2
    # keeps {the, cat}; everything else is OOV
    rows = [
        (1, None, "the cat the cat"),
        (2, None, "the dog cat dog"),
        (3, None, "the rare odd"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    out = {
        r["doc_id"]: r
        for r in oov_rate(docs, "doc_id", "text", vocab_size=2).collect()
    }
    assert out[1]["n_oov"] == 0 and out[1]["oov_rate"] == 0.0
    assert out[2]["n_oov"] == 2 and out[2]["oov_rate"] == 0.5
    assert out[3]["n_oov"] == 2 and out[3]["oov_rate"] == round(2 / 3, 6)


def test_oov_rate_tie_break_is_deterministic(spark):
    from franzoxide_spark.operators.corpus_stats import oov_rate

    # "aaa" and "bbb" both appear once; vocab_size=1 must pick "aaa"
    # (count DESC, word ASC), never "bbb"
    docs = spark.createDataFrame(
        [(1, "aaa bbb")], "doc_id long, text string"
    )
    out = oov_rate(docs, "doc_id", "text", vocab_size=1).collect()[0]
    assert out["n_oov"] == 1  # bbb


def test_oov_rate_vocab_is_broadcast_not_sorted_globally(spark):
    from franzoxide_spark.operators.corpus_stats import oov_rate

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d")], "doc_id long, text string"
    )
    plan = (
        oov_rate(docs, "doc_id", "text", vocab_size=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan  # top-V, not a global Sort
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_encode_ranking_and_oov(spark):
    from franzoxide_spark.operators.corpus_stats import vocab_encode

    docs = spark.createDataFrame(
        [
            (1, "a a a b b c"),
            (2, "a b zz"),
        ],
        "doc_id long, text string",
    )
    # vocab_size=3 -> ids: a=1 (freq 4), b=2 (freq 3), c=3 (freq 1);
    # zz falls out -> OOV id 0
    out = {
        r["doc_id"]: r
        for r in vocab_encode(
            docs, "doc_id", "text", vocab_size=3, max_tokens=4
        ).collect()
    }
    assert out[1]["ids"] == [1, 1, 1, 2]  # truncated at max_tokens
    assert out[1]["n_tokens"] == 4 and out[1]["oov_count"] == 0
    assert out[2]["ids"] == [1, 2, 0]
    assert out[2]["oov_count"] == 1


def test_vocab_encode_mapside_matches_join_form(spark, sf_dir):
    """The zero-shuffle Arrow twin must reproduce the oracle-checked
    join form exactly — same vocab ranking, same truncation, same OOV."""
    from franzoxide_spark.operators.corpus_stats import (
        vocab_encode,
        vocab_encode_mapside,
    )
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    a = {
        r["doc_id"]: (r["n_tokens"], list(r["ids"]), r["oov_count"])
        for r in vocab_encode(docs, "doc_id", "text", 200, 16).collect()
    }
    b = {
        r["doc_id"]: (r["n_tokens"], list(r["ids"]), r["oov_count"])
        for r in vocab_encode_mapside(docs, "doc_id", "text", 200, 16).collect()
    }
    assert a == b


def test_vocab_encode_mapside_plan_has_no_corpus_shuffle(spark, sf_dir):
    from franzoxide_spark.operators.corpus_stats import vocab_encode_mapside
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    df = vocab_encode_mapside(docs, "doc_id", "text", 50, 8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the encode side is map-only: no key shuffle, no join — the only
    # Exchange allowed is tables.ensure_parallel's round-robin split of
    # a single small input file (a no-op with real input splits)
    assert "MapInPandas" in plan
    assert "hashpartitioning" not in plan and "Join" not in plan


def test_zipf_fit_recovers_exact_power_law(spark):
    """A corpus whose counts are exactly c(r) = 840/r must fit
    alpha = 1 (ln c = ln 840 - 1·ln r, an exact line)."""
    from franzoxide_spark.operators.corpus_stats import zipf_fit

    words = []
    for r in range(1, 9):
        words += [f"w{r:02d}"] * (840 // r)
    text = " ".join(words)
    docs = spark.createDataFrame([("s", text)], "source string, text string")
    row = zipf_fit(docs, "text", "source", top_ranks=8).collect()[0]
    assert row["n_terms"] == 8
    assert abs(row["zipf_alpha"] - 1.0) < 1e-6
    import math

    assert abs(row["ln_c_intercept"] - math.log(840)) < 1e-6


def test_zipf_fit_flat_corpus_near_zero_alpha(spark):
    """Uniform counts (pure boilerplate) -> slope ~0: the flag the
    operator exists to raise."""
    from franzoxide_spark.operators.corpus_stats import zipf_fit

    text = " ".join(f"w{r}" for _ in range(10) for r in range(50))
    docs = spark.createDataFrame([("s", text)], "source string, text string")
    row = zipf_fit(docs, "text", "source", top_ranks=50).collect()[0]
    assert abs(row["zipf_alpha"]) < 1e-9


def test_heaps_fit_recovers_exact_square_root_law(spark):
    """Groups built so V = 2*sqrt(N) exactly: (N,V) = (100,20),
    (400,40), (2500,100) -> beta = 0.5, ln_k = ln 2 (exact line in log
    space)."""
    import math

    from franzoxide_spark.operators.corpus_stats import heaps_fit

    rows = []
    for src, (n, v) in {"a": (100, 20), "b": (400, 40), "c": (2500, 100)}.items():
        toks = [f"{src}{i % v}" for i in range(n)]
        rows.append((src, " ".join(toks)))
    docs = spark.createDataFrame(rows, "source string, text string")
    row = heaps_fit(docs, "text", "source").collect()[0]
    assert row["n_groups"] == 3
    assert abs(row["heaps_beta"] - 0.5) < 1e-6
    assert abs(row["ln_k"] - math.log(2)) < 1e-6


def test_zipf_and_heaps_degenerate_inputs_yield_null_not_crash(spark):
    """Single-term groups / single groups make the OLS denominator 0;
    ANSI mode must not abort — both engines yield NULL (review r8)."""
    from franzoxide_spark.operators.corpus_stats import heaps_fit, zipf_fit

    one_term = spark.createDataFrame(
        [("s", "x x x x")], "source string, text string"
    )
    row = zipf_fit(one_term, "text", "source").collect()[0]
    assert row["n_terms"] == 1 and row["zipf_alpha"] is None

    one_group = spark.createDataFrame(
        [("s", "a b c a")], "source string, text string"
    )
    row = heaps_fit(one_group, "text", "source").collect()[0]
    assert row["n_groups"] == 1 and row["heaps_beta"] is None


def test_heaps_fit_zero_slope_never_renders_signed_zero(spark):
    """r12 sf0.1 sweep: a fit whose true slope is 0 rounded to -0.0 on
    one engine and +0.0 on the other (ln() last-ulp noise) — the
    operator now normalizes signed zero after rounding, so a flat
    corpus yields exactly +0.0, never -0.0."""
    import math

    from franzoxide_spark.operators.corpus_stats import heaps_fit

    # varying N, constant V: ln V is constant so the OLS numerator is
    # exactly 0 while the denominator is positive — slope ±0.0, the FP
    # sign depending on summation noise (identical N would instead hit
    # the NULL-denominator degenerate branch)
    docs = spark.createDataFrame(
        [(f"s{i}", " ".join(["alpha beta"] * (i + 2))) for i in range(5)],
        "source string, text string",
    )
    out = heaps_fit(docs, "text", "source").collect()[0]
    assert out["heaps_beta"] == 0.0
    assert math.copysign(1.0, out["heaps_beta"]) == 1.0, "signed zero leaked"
