"""Operator-level tests for the LLM-pipeline modules: ANN recall against
the exact path, the multimodal Arrow plumbing (stub + fake decode), the
pandas as-of join vs the window-based one, and dedup sanity on planted
near-duplicates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from franzoxide_spark.operators.dedup import minhash_near_duplicates
from franzoxide_spark.operators.multimodal import (
    extract_features,
    media_frame_from_documents,
)
from franzoxide_spark.operators.similarity import lsh_ann_topk, topk_cosine_exact
from franzoxide_spark.tables import table


def test_lsh_ann_recall_vs_exact(spark, sf_dir):
    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_cosine_exact(emb, qs, "vec_id", "embedding", k=5).collect()
    }
    ann = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_ann_topk(emb, qs, "vec_id", "embedding", k=5, bits=4).collect()
    }
    recall = len(exact & ann) / len(exact)
    # random-hyperplane LSH with 4 bits + hamming<=1 multiprobe examines
    # ~5/16 of the corpus; recall well above that floor shows the buckets
    # actually correlate with cosine.
    assert recall >= 0.4, f"ANN recall too low: {recall}"


def test_ivf_ann_recall_vs_exact(spark, sf_dir):
    from franzoxide_spark.operators.similarity import ivf_ann_topk

    emb = table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in topk_cosine_exact(emb, qs, "vec_id", "embedding", k=5).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_ann_topk(emb, qs, "vec_id", "embedding", k=5).collect()
    }
    recall = len(exact & ivf) / len(exact)
    # 4-of-16 cells probed = 25% of the corpus on average; recall above
    # that floor shows cells correlate with cosine neighborhoods
    assert recall >= 0.35, f"IVF recall too low: {recall}"


def test_ivf_index_build_is_memoized(spark, sf_dir):
    """The IVF query path must not re-fit per call: a cache_key'd build
    returns the same persisted assignment object on reuse."""
    from franzoxide_spark.operators.similarity import build_ivf_index

    emb = table(spark, sf_dir, "embeddings")
    key = ("test-ivf", sf_dir)
    c1, a1 = build_ivf_index(emb, "vec_id", "embedding", cache_key=key)
    c2, a2 = build_ivf_index(emb, "vec_id", "embedding", cache_key=key)
    assert a1 is a2 and c1 is c2
    assert a1.storageLevel.useMemory  # persisted index, not a throwaway plan


def test_minhash_signature_matches_pure_python(spark, sf_dir):
    """Third-engine check: the Spark signature expression reproduces a
    from-scratch hashlib implementation of the same parametric family."""
    import hashlib

    from franzoxide_spark.operators.dedup import (
        MINHASH_A,
        MINHASH_B,
        MINHASH_P,
        _with_tokens,
        minhash_signatures,
    )

    docs = table(spark, sf_dir, "documents").limit(5)
    sig_rows = minhash_signatures(
        _with_tokens(docs, "text"), "text", "doc_id"
    ).collect()
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    for r in sig_rows:
        toks = texts[r["doc_id"]].split(" ")
        sh = list(dict.fromkeys(" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))))
        base = [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P for s in sh]
        expect = [
            min((MINHASH_A[i] * b + MINHASH_B[i]) % MINHASH_P for b in base)
            for i in range(8)
        ]
        assert list(r["sig"]) == expect, r["doc_id"]


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    pairs = minhash_near_duplicates(
        table(spark, sf_dir, "documents"), "text", "doc_id", threshold=0.8
    ).collect()
    assert len(pairs) > 0, "fixtures contain planted near-dups; none found"
    assert all(r["jaccard"] >= 0.8 for r in pairs)


def test_asof_pandas_matches_window_path(spark, sf_dir):
    """The merge_asof scale path must agree with the join+window path on
    (event -> latest order) for events whose tie-break is unambiguous
    (merge_asof keeps the LAST right row at equal timestamps, which is the
    max-orderkey row only if sorted; compare on the timestamp level)."""
    from franzoxide_spark.operators.asof import asof_join, asof_join_pandas

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = table(spark, sf_dir, "orders")
    win = asof_join(
        ev, o, "user_id", "o_custkey", "ts", "o_orderdate",
        ["o_totalprice"], "event_id", "o_orderkey",
    ).select("event_id", F.col("o_orderdate").alias("match_ts"))
    pd_path = asof_join_pandas(
        ev,
        o.selectExpr(
            "o_custkey as user_id", "o_orderdate", "o_orderkey", "o_totalprice"
        ),
        "user_id",
        "ts",
        "o_orderdate",
        "event_id bigint, user_id bigint, ts timestamp,"
        " r_o_orderdate timestamp, r_o_orderkey bigint, r_o_totalprice double",
    ).select("event_id", F.col("r_o_orderdate").alias("match_ts"))
    a = {(r["event_id"], r["match_ts"]) for r in win.collect()}
    b = {(r["event_id"], r["match_ts"]) for r in pd_path.collect()}
    assert a == b


def test_salted_join_matches_plain_join(spark, sf_dir):
    """Salting must not change results — only the shuffle distribution."""
    from franzoxide_spark.operators.skew import salted_join

    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    c = table(spark, sf_dir, "customer").selectExpr(
        "c_custkey as user_id", "c_mktsegment"
    )
    plain = ev.join(c, "user_id").groupBy("c_mktsegment").count()
    salted = (
        salted_join(ev, c, "user_id", salt=8).groupBy("c_mktsegment").count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_multimodal_decode_stub_raises(spark, sf_dir):
    media = media_frame_from_documents(table(spark, sf_dir, "documents"))
    with pytest.raises(Exception, match="NotImplementedError|media decode"):
        extract_features(media, fake=False).collect()


def test_multimodal_fake_decode_features(spark, sf_dir):
    media = media_frame_from_documents(table(spark, sf_dir, "documents"))
    rows = extract_features(media, bins=8, fake=True).collect()
    assert len(rows) == media.count()
    feat = rows[0]["feat"]
    assert len(feat) == 8
    assert abs(sum(feat) - 1.0) < 1e-9  # normalized byte histogram


def test_blocked_cosine_pairs_tiling_bounds_and_identity(spark, sf_dir):
    """r2 scale hazard regression: id-band tiling must (a) keep every
    applyInPandas input group at <= ~2*tile_cap rows even when a block is
    far larger than the cap, and (b) produce the identical pair set as the
    untiled computation (tile_cap larger than any block)."""
    from franzoxide_spark.operators.similarity import (
        _tiled_blocks,
        blocked_cosine_pairs,
    )

    emb = table(spark, sf_dir, "embeddings")
    cap = 16  # far below the per-label block sizes at sf0.01
    max_block = (
        emb.groupBy("label").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_block > 2 * cap  # the cap is actually exercised

    tile_sizes = (
        _tiled_blocks(emb, "label", "vec_id", "embedding", cap)
        .groupBy("label", "_ta", "_tb")
        .count()
    )
    max_tile = tile_sizes.agg(F.max("count")).collect()[0][0]
    # a tile holds two pmod bands of ~cap rows each; 3x allows band skew
    assert max_tile <= 3 * cap

    tiled = {
        (r["label"], r["id_a"], r["id_b"], r["cos"])
        for r in blocked_cosine_pairs(
            emb, "label", "vec_id", "embedding", tile_cap=cap
        ).collect()
    }
    untiled = {
        (r["label"], r["id_a"], r["id_b"], r["cos"])
        for r in blocked_cosine_pairs(
            emb, "label", "vec_id", "embedding", tile_cap=1_000_000
        ).collect()
    }
    assert tiled == untiled and len(tiled) > 0


def test_q37_plane_margins_monitor():
    """ADVICE r3 (llm.py q37 oracle brittleness): the hash-exact DuckDB
    mirror relies on both engines agreeing on the SIGN of every hyperplane
    dot product. Monitor the margin: the smallest |dot| across all fixture
    embeddings x all 4 planes must sit far above the cross-engine
    summation-order noise floor (~1e-13 for 64 float64 terms), so a sign
    flip cannot occur at any tested scale."""
    import numpy as np
    import pyarrow.parquet as pq

    from franzoxide_spark.operators.similarity import _plane_matrix

    planes = np.asarray(_plane_matrix(4, 64))
    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        tbl = pq.read_table(
            f"/root/testdata/{sf}/embeddings.parquet", columns=["embedding"]
        )
        m = np.stack(tbl.column("embedding").to_pylist()).astype(np.float64)
        margin = np.abs(m @ planes.T).min()
        assert margin > 1e-6, (sf, margin)


def test_tiled_blocks_bands_spread_structured_ids(spark):
    """ADVICE r3 (similarity.py band assignment): banding must hash the id
    — raw pmod(id, n_bands) collapses strided ids (here id = 8*i with
    n_bands=8 -> every row in band 0, resurrecting the O(n^2) hot tile)."""
    from pyspark.sql import functions as F

    from franzoxide_spark.operators.similarity import _tiled_blocks

    emb = spark.createDataFrame(
        [(1, 8 * i, [float(i), 1.0]) for i in range(64)],
        "block int, id bigint, vec array<double>",
    )
    tiled = _tiled_blocks(emb, "block", "id", "vec", tile_cap=8)  # _nb = 8
    bands = [
        r["_band"]
        for r in tiled.select("id", "_band").distinct().collect()
    ]
    assert len(set(bands)) >= 4, (
        f"strided ids collapsed into {set(bands)} — banding is not hashed"
    )
    # pair coverage is unchanged by the band function: every unordered pair
    # of ids meets in exactly one (_ta, _tb) tile
    rows = tiled.select("id", "_band", "_ta", "_tb").collect()
    by_tile: dict[tuple, set] = {}
    for r in rows:
        by_tile.setdefault((r["_ta"], r["_tb"]), set()).add((r["id"], r["_band"]))
    meet = {}
    for (ta, tb), members in by_tile.items():
        ids_a = sorted(i for i, b in members if b == ta)
        ids_b = sorted(i for i, b in members if b == tb)
        if ta == tb:
            pairs = {
                (x, y) for x in ids_a for y in ids_b if x < y
            }
        else:
            pairs = {
                (min(x, y), max(x, y)) for x in ids_a for y in ids_b
            }
        for p in pairs:
            meet[p] = meet.get(p, 0) + 1
    n = 64
    assert len(meet) == n * (n - 1) // 2, "some pair never meets"
    assert set(meet.values()) == {1}, "some pair meets in more than one tile"


def test_neardup_clusters_chain_and_survivors(spark):
    """Min-label propagation over a 6-node chain (diameter 5 — forces
    multiple iterations), a triangle, and an isolated pair: every node
    labels with its component min, exactly one survivor per cluster."""
    from franzoxide_spark.operators.dedup import neardup_clusters

    pairs = spark.createDataFrame(
        # chain 1-2-3-4-5-6, triangle 10-11-12, pair 20-21
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: (r.cluster_id, r.is_survivor)
        for r in neardup_clusters(pairs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        4: (1, False), 5: (1, False), 6: (1, False),
        10: (10, True), 11: (10, False), 12: (10, False),
        20: (20, True), 21: (20, False),
    }


def test_neardup_clusters_direction_insensitive(spark):
    """Edge direction in the pair relation must not matter (pair finders
    emit id_a < id_b, but the operator symmetrizes internally)."""
    from franzoxide_spark.operators.dedup import neardup_clusters

    fwd = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    rev = spark.createDataFrame([(3, 2), (2, 1)], "id_a long, id_b long")
    as_rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert as_rows(neardup_clusters(fwd)) == as_rows(neardup_clusters(rev))


def test_jaccard_prefix_variant_matches_default(spark):
    """The opt-in ppjoin-style prefix-filter path must produce the exact
    pair set of the default shingle join (same threshold, same corpus) —
    the pigeonhole prefix bound is an equivalence, not an approximation.
    Corpus is built to exercise every branch: near-identical pairs,
    partial overlaps straddling the threshold, a hot shingle shared by
    all docs (the skew case prefix filtering targets), short docs below
    shingle size, and exact duplicates."""
    from franzoxide_spark.operators.dedup import (
        jaccard_pairs,
        jaccard_pairs_prefix,
    )

    base = "the quick brown fox jumps over the lazy dog near the river"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " bank"),                      # near-identical to 1
            (3, "the quick brown fox sleeps all day long in the warm sun"),
            (4, "completely different words about training data pipelines"),
            (5, "completely different words about training data curation"),
            (6, "tiny doc"),                          # below shingle size
            (7, base),                                # exact duplicate of 1
            (8, "common tail phrase " + base),        # superset overlap
        ],
        "doc_id long, text string",
    )
    for t in (0.3, 0.6, 0.9):
        want = sorted(
            map(tuple, jaccard_pairs(docs, "text", "doc_id", t).collect())
        )
        got = sorted(
            map(tuple, jaccard_pairs_prefix(docs, "text", "doc_id", t).collect())
        )
        assert got == want, f"threshold {t}: {got} != {want}"
    # sanity: the corpus actually produces pairs at the loosest threshold
    assert len(sorted(map(tuple, jaccard_pairs(docs, "text", "doc_id", 0.3).collect()))) >= 2


def test_prefix_checkpoint_branches_row_identical_and_size_routed(
    spark, sf_dir, monkeypatch
):
    """The prefix-subtree checkpoint is a physical choice only (r11
    verdict item #5): forcing it on and off must give the identical pair
    set on the real fixture corpus, and the ``None`` default must route
    by the optimizer's size estimate of the exploded relation — below
    the measured crossover no checkpoint (bench-SF shape), above it the
    10×-winning materialization."""
    import franzoxide_spark.operators.dedup as dd
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents")
    on = sorted(map(tuple, dd.jaccard_pairs_prefix(
        docs, "text", "doc_id", 0.6, prefix_checkpoint=True).collect()))
    off = sorted(map(tuple, dd.jaccard_pairs_prefix(
        docs, "text", "doc_id", 0.6, prefix_checkpoint=False).collect()))
    assert on == off and len(on) > 0

    # auto-routing: count localCheckpoint calls through a recorder; the
    # ad-hoc path always checkpoints the shingle-hash subtree once, so
    # the prefix checkpoint shows as a SECOND call when the size
    # estimate clears the threshold
    import pyspark.sql.classic.dataframe as _D

    calls = []
    orig = _D.DataFrame.localCheckpoint

    def _rec(self, eager=True):
        calls.append(eager)
        return orig(self, eager=eager)

    monkeypatch.setattr(_D.DataFrame, "localCheckpoint", _rec)
    monkeypatch.setattr(dd, "_PREFIX_CHECKPOINT_MIN_BYTES", 1 << 60)
    dd.jaccard_pairs_prefix(docs, "text", "doc_id", 0.6)
    below = len(calls)
    calls.clear()
    monkeypatch.setattr(dd, "_PREFIX_CHECKPOINT_MIN_BYTES", 0)
    dd.jaccard_pairs_prefix(docs, "text", "doc_id", 0.6)
    assert len(calls) == below + 1, (below, len(calls))


def test_prefix_checkpoint_not_taken_on_landed_bench_sf(spark, monkeypatch):
    """r12 verdict item #1: the driver bench routes q35b through the
    LANDED bucketed relation, whose stats are EXACT file sizes — a
    different stat source than the ad-hoc optimizer estimate the r12
    calibration table was read from. This pins the production decision
    at the bench SF against the stat source the production path actually
    sees: the sf0.1 landed relation must report below
    ``_PREFIX_CHECKPOINT_MIN_BYTES`` (measured 1.65 MiB — the two
    sources substantially AGREE at this SF; the ~17 MB figure floated in
    the r12 verdict is the 10x replica's directory) and the auto path
    must take the no-checkpoint branch, proven by the recorder: the
    landed path owns exactly ONE localCheckpoint (the collect_list
    verify-side rebuild), a prefix checkpoint would be a second."""
    import os as _os

    import pytest as _pytest

    sf01 = "/root/testdata/sf0.1"
    if not _os.path.isdir(sf01):
        _pytest.skip("sf0.1 fixtures absent")
    import franzoxide_spark.operators.dedup as dd
    import franzoxide_spark.queries.llm as llm
    from franzoxide_spark.tables import table

    rel = llm._docs_shingle_rel(spark, sf01)
    ex = rel.select("doc_id", "n", "g")
    est = int(ex._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert est < dd._PREFIX_CHECKPOINT_MIN_BYTES, (
        f"landed sf0.1 relation reports {est} bytes >= threshold "
        f"{dd._PREFIX_CHECKPOINT_MIN_BYTES} — the bench SF would pay the "
        "checkpoint materialization per cache-reset sample (the r12 "
        "driver-bench regression class)"
    )
    import pyspark.sql.classic.dataframe as _D

    calls = []
    orig = _D.DataFrame.localCheckpoint

    def _rec(self, eager=True):
        calls.append(eager)
        return orig(self, eager=eager)

    monkeypatch.setattr(_D.DataFrame, "localCheckpoint", _rec)
    docs = table(spark, sf01, "documents")
    dd.jaccard_pairs_prefix(docs, "text", "doc_id", 0.6, shingle_rel=rel)
    assert len(calls) == 1, (
        f"expected only the verify-side rebuild checkpoint, got {calls}"
    )


def test_repetition_gate_matches_duckdb_oracle(spark, sf_dir):
    """q58 registers past the driver's 50-record correctness window, so
    its cross-engine proof lives here: run the exact registered oracle
    in-process and compare the full relation."""
    import duckdb

    from franzoxide_spark.queries.llm import _q58_sql, q58

    got = {
        r.doc_id: (r.n2, r.frac_dup2, r.frac_top2, r.frac_dup3, r.keep)
        for r in q58(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = {
        int(r[0]): (int(r[1]), float(r[2]), float(r[3]), float(r[4]), bool(r[5]))
        for r in con.execute(_q58_sql()).fetchall()
    }
    con.close()
    assert got == want


def test_ngram_rep_stats_known_values(spark):
    """Hand-computed repetition stats: a doc that is one phrase repeated
    (dup + top fractions near 1), a diverse doc (0), and a short doc
    (no grams -> zeros via the n=0 guard)."""
    from franzoxide_spark.functions.text import ngram_rep_stats
    from franzoxide_spark.functions.text import tokens as toks

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # 2-grams: ab ba ab ba ab -> n=5, nd=2, top=3
            (2, "one two three four"),  # n=3, nd=3, top=1
            (3, "solo"),               # n=0
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: (r.s.n, r.s.n_distinct, r.s.top)
        for r in df.withColumn("__toks", toks("text"))
        .select("doc_id", ngram_rep_stats("__toks", 2).alias("s"))
        .collect()
    }
    assert rows == {1: (5, 2, 3), 2: (3, 3, 1), 3: (0, 0, 0)}


def test_repetition_gate_plan_is_shuffle_free(spark, sf_dir, monkeypatch):
    """The whole gate must stay map-side: no Exchange anywhere in the
    physical plan (the 100 TB property the operator exists for). Pinned
    with the fan-out's size gate tripped: at scale fanned_table is
    identity, so the operator's own shape — what this test pins — is
    the plain-scan plan; the fanned fixture path adds one round-robin
    exchange that exists only below the identity gates."""
    from franzoxide_spark import tables
    from franzoxide_spark.queries.llm import q58

    # trip the size gate (and start from an empty fan-out cache, which
    # would otherwise serve a relation fanned by an earlier test)
    monkeypatch.setattr(tables, "_FANOUT_MAX_BYTES", -1)
    monkeypatch.setattr(tables, "_FANOUT", {})
    plan = q58(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_semantic_dedup_respects_label_blocking(spark):
    """q63's composition: identical vectors in the SAME label cluster to
    one survivor; an identical vector in a DIFFERENT label is never
    paired (blocking is the scale contract), so it is implicitly its own
    survivor by absence from the relation."""
    from franzoxide_spark.operators.dedup import neardup_clusters
    from franzoxide_spark.operators.similarity import blocked_cosine_pairs

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),   # same block, identical -> pairs with 1
            (3, [1.0, 0.0], 1),   # identical but different block -> unpaired
            (4, [0.0, 1.0], 0),   # orthogonal -> unpaired
        ],
        "vec_id long, embedding array<double>, label int",
    )
    pairs = blocked_cosine_pairs(
        emb, "label", "vec_id", "embedding", threshold=0.9, tile_cap=16
    ).select("id_a", "id_b")
    out = {
        r.doc_id: (r.cluster_id, r.is_survivor)
        for r in neardup_clusters(pairs).collect()
    }
    assert out == {1: (1, True), 2: (1, False)}


def test_neardup_clusters_driver_and_distributed_paths_agree(spark):
    """The union-find fast path (small collected graphs) and the
    distributed min-label propagation must produce the identical
    relation — including on a chain, where min-labels need several
    propagation rounds."""
    from franzoxide_spark.operators.dedup import neardup_clusters

    pairs = spark.createDataFrame(
        [(2, 9), (9, 4), (4, 7), (11, 12), (30, 31), (31, 5)],
        "id_a long, id_b long",
    )
    fast = {(r.doc_id, r.cluster_id, r.is_survivor)
            for r in neardup_clusters(pairs).collect()}
    dist = {(r.doc_id, r.cluster_id, r.is_survivor)
            for r in neardup_clusters(pairs, driver_cutoff=0).collect()}
    assert fast == dist
    assert fast == {
        (2, 2, True), (9, 2, False), (4, 2, False), (7, 2, False),
        (11, 11, True), (12, 11, False),
        (5, 5, True), (30, 5, False), (31, 5, False),
    }


def test_multimodal_resize_stub_raises_and_fake_hits_target_size(spark, sf_dir):
    from franzoxide_spark.operators.multimodal import (
        media_frame_from_documents,
        resize_media,
    )
    from franzoxide_spark.tables import table as _table

    media = media_frame_from_documents(_table(spark, sf_dir, "documents")).limit(5)
    with pytest.raises(Exception, match="NotImplementedError|resize"):
        resize_media(media, 8, 8, fake=False).collect()
    rows = resize_media(media, 8, 8, fake=True).collect()
    assert len(rows) == 5
    for r in rows:
        assert len(r["media"]) == 64  # exactly width*height bytes
        assert r["meta"]["width"] == 8 and r["meta"]["height"] == 8
    # deterministic: same input -> same bytes
    again = resize_media(media, 8, 8, fake=True).collect()
    assert {r["doc_id"]: bytes(r["media"]) for r in rows} == {
        r["doc_id"]: bytes(r["media"]) for r in again
    }


def test_multimodal_frame_sampling_caps_and_indexes(spark):
    from franzoxide_spark.operators.multimodal import sample_frames

    # 1000-byte media, 100-byte frames -> 10 stream frames; every 3rd
    # sampled, capped at 3 -> indices 0, 3, 6
    media = spark.createDataFrame(
        [(1, bytearray(b"x" * 1000), {"width": 1, "height": 1, "format": "f"})],
        "doc_id long, media binary, meta struct<width:int,height:int,format:string>",
    )
    rows = sample_frames(
        media, frame_bytes=100, every_n=3, max_frames=3, fake=True
    ).collect()
    assert [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])] == [0, 3, 6]
    assert all(len(r["frame"]) == 100 for r in rows)


def test_multimodal_frame_sampling_stub_raises(spark):
    from franzoxide_spark.operators.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, bytearray(b"abc"), {"width": 1, "height": 1, "format": "f"})],
        "doc_id long, media binary, meta struct<width:int,height:int,format:string>",
    )
    with pytest.raises(Exception, match="NotImplementedError|frame"):
        sample_frames(media, fake=False).collect()


def test_join_skew_report_hand_distribution(spark):
    from franzoxide_spark.operators.skew import join_skew_report

    # counts: a->4, b->2, c->1, d->1  (n=8 rows, 4 keys)
    df = spark.createDataFrame(
        [("a",)] * 4 + [("b",)] * 2 + [("c",)] + [("d",)], "k string"
    )
    r = join_skew_report(df, "k").collect()[0]
    assert r["n_rows"] == 8 and r["n_keys"] == 4
    assert r["max_share"] == 0.5
    assert r["top10_share"] == 1.0
    # ascending counts (1,1,2,4): ranks 1..4, S = 1*1+1*2+2*3+4*4 = 25
    # gini = 2*25/(4*8) - 5/4 = 1.5625 - 1.25 = 0.3125
    assert r["gini"] == 0.3125


def test_join_skew_report_uniform_distribution_zero_gini(spark):
    from franzoxide_spark.operators.skew import join_skew_report

    df = spark.createDataFrame([(k,) for k in "abcd"], "k string")
    r = join_skew_report(df, "k").collect()[0]
    assert r["gini"] == 0.0 and r["max_share"] == 0.25


def test_centroid_outliers_flags_farthest_vector(spark):
    from franzoxide_spark.operators.similarity import centroid_outliers

    # label 0: three near-origin vectors + one far outlier
    rows = [
        (1, [0.0, 0.0], 0),
        (2, [0.1, 0.0], 0),
        (3, [0.0, 0.1], 0),
        (4, [5.0, 5.0], 0),
        (5, [1.0, 1.0], 1),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = centroid_outliers(emb, "vec_id", "embedding", "label", k=1).collect()
    by_label = {r["label"]: r for r in out}
    assert by_label[0]["vec_id"] == 4 and by_label[0]["rank"] == 1
    # a single-vector label: the vector IS the centroid, dist 0
    assert by_label[1]["vec_id"] == 5 and by_label[1]["dist"] == 0.0


def test_incremental_dedup_verdicts(spark):
    from franzoxide_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely unrelated corpus content about spark engines"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # identical to corpus doc 1 -> exact_dup
            (10, "the quick brown fox jumps over the lazy dog tonight"),
            # one-token edit of corpus doc 1 -> near_dup (high jaccard)
            (11, "the quick brown fox jumps over the lazy cat tonight"),
            # nothing like the corpus -> new
            (12, "totally novel text with zero overlap whatsoever here now"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in incremental_dedup(
            batch, corpus, "text", "doc_id", threshold=0.5
        ).collect()
    }
    assert out[10]["verdict"] == "exact_dup" and out[10]["best_jaccard"] == 1.0
    assert out[11]["verdict"] == "near_dup" and out[11]["best_jaccard"] >= 0.5
    assert out[12]["verdict"] == "new"


def test_salted_join_rejects_unsupported_shapes(spark, sf_dir):
    """Right/full outer are inexpressible under salting (unmatched right
    rows would emit once per replica) and a keys-only left has nothing
    row-distinguishing to salt on — both must fail LOUDLY, not return
    silently-duplicated or silently-unsalted results (r13 review)."""
    from franzoxide_spark.operators.skew import salted_join

    ev = table(spark, sf_dir, "events").select("event_id", "user_id")
    c = table(spark, sf_dir, "customer").selectExpr(
        "c_custkey as user_id", "c_mktsegment"
    )
    for how in ("right", "full", "full_outer", "outer"):
        with pytest.raises(ValueError, match="once per salt replica"):
            salted_join(ev, c, "user_id", how=how)
    with pytest.raises(ValueError, match="fingerprint"):
        salted_join(ev.select("user_id"), c, "user_id")
    # left outer IS safe: unmatched LEFT rows carry one salt each
    plain = ev.join(c, "user_id", "left").groupBy("c_mktsegment").count()
    salted = (
        salted_join(ev, c, "user_id", how="left", salt=8)
        .groupBy("c_mktsegment")
        .count()
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )


def test_q101_emits_every_k_even_with_gramless_eval(spark, tmp_path):
    """r15 review: a k whose eval side yields ZERO grams (every eval doc
    shorter than k tokens) must still emit its row with zero counts —
    the oracle's scalar-subquery arms always produce one row per k, and
    the old agg+crossJoin shape did too."""
    import os

    import duckdb

    from franzoxide_spark.oracle import compare
    from franzoxide_spark.queries.llm import _Q101_SQL, q101

    sf = str(tmp_path / "fake_sf")
    os.makedirs(sf)
    rows = [
        # eval doc (0 % 97 == 0): 5 tokens -> grams for k=3/5, none for k=8
        (0, "a b c d e", "en", "s1", 9),
        # pool docs; one shares a 3-gram and the 5-gram with eval
        (1, "a b c d e f g h i", "en", "s1", 17),
        (2, "x y z w v u t s r", "en", "s1", 17),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars int"
    ).coalesce(1).write.parquet(sf + "/documents.parquet")

    out = q101(spark, sf)
    got = {r["k"]: r for r in out.collect()}
    assert set(got) == {3, 5, 8}, got
    assert got[8]["n_eval_grams"] == 0 and got[8]["n_contaminated"] == 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    ok, diag = compare(out, con.execute(_Q101_SQL).df())
    con.close()
    assert ok, diag
