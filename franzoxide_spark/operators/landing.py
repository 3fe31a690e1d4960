"""Family-agnostic write-once/join-many landings (r16 plan item #1,
groundwork landed r15).

The dedup family proved the trade at 100 TB scale: land a relation
bucketed on its family's join/partition key once per corpus snapshot,
and every downstream pass runs exchange-free
(operators/dedup.py:land_shingle_relation / shared_shingle_relation —
markers, fingerprint adoption, staleness reclaim, all r10-r13-hardened).
This module applies the same machinery to the EVENTS family: every
user-keyed operator (rolling features, sessionization, TTL dedup,
funnels, cohorts, ...) shares one plan shape — ONE exchange on the user
key then key-bounded work — so an events table landed bucketed by the
user key retires that exchange for the whole family (measured: q177's
batch face 0.73 -> 0.31 s at sf0.1 with zero exchanges,
examples/bucketed_events_demo.py; plan-pinned in tests/test_plans.py).

The session/adoption flow REUSES dedup.py's hardened helpers (markers
with writer id + source fingerprint + file census, cross-session
adoption as an external bucketed table, stale-dir reclaim with a grace
window, per-session caches with stopped-session eviction, the
LANDING_EVENTS telemetry) — r15 parametrized the marker's bucket/sort
spec so adoption reproduces ANY landing's layout, not just the shingle
relation's ``(g)``. Registry routing (the r11 move for the dedup
family) is deliberately NOT done here — that is the recorded round-16
scope; this module lands the capability and its tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from franzoxide_spark.operators.dedup import _shared_landing


def land_events_relation(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    out_table: str,
    *,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> DataFrame:
    """Persist ``events`` bucketed on ``key_col`` and in-bucket sorted on
    (``key_col``, ``ts_col``), and return the re-read table. Schema is
    passed through untouched — consumers see the same events relation,
    just pre-partitioned, so routing a query through the landing is
    semantically neutral (only the physical plan changes: the user-key
    exchange disappears; plan-pinned).

    The in-bucket (key, ts) sort clusters each key's events in time
    order — the window sort that survives is per-bucket and local (Spark
    cannot prove sortBy(key, ts) orders derived expressions like
    unix_timestamp(ts), so it keeps a spill-free in-partition Sort).

    ``n_buckets`` sizes downstream parallelism — pick it like shuffle
    partitions at the target scale, not from the fixture (the same
    guidance as land_shingle_relation).
    """
    (
        events
        # one file per bucket (the landing contract adoption's file
        # census assumes): repartition on the bucket hash first
        .repartition(n_buckets, key_col)
        .write.mode(mode)
        .bucketBy(n_buckets, key_col)
        .sortBy(key_col, ts_col)
        .saveAsTable(out_table)
    )
    return events.sparkSession.table(out_table)


def shared_events_relation(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    source_key: str,
    *,
    n_buckets: int = 16,
) -> DataFrame:
    """Session-shared events landing: the first call per (session,
    corpus, key, buckets) lands the bucketed table; later calls in the
    same session reuse it, and a FRESH session finding a marked,
    fingerprint-matching landing ADOPTS it without rewriting (the
    shared_shingle_relation contract, same machinery, same telemetry in
    LANDING_EVENTS). A changed corpus (fingerprint mismatch) reclaims
    and re-lands with a warning naming the previous writer."""
    return _shared_landing(
        events,
        ident=("events", source_key, key_col, ts_col, n_buckets),
        name_prefix="events_rel_",
        family="events",
        land_fn=lambda d, name: land_events_relation(
            d, key_col, ts_col, name, n_buckets=n_buckets,
        ),
        marker_extra={
            "n_buckets": n_buckets,
            "bucket_cols": [key_col],
            "sort_cols": [key_col, ts_col],
        },
    )


def land_fact_relation(
    df: DataFrame,
    key_col: str,
    out_table: str,
    *,
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> DataFrame:
    """Persist a FACT table bucketed + in-bucket sorted on its join key
    and return the re-read relation. Both sides of a fact-fact equi-join
    landed this way (same key family, same bucket count) join with NO
    Exchange on either side — the 100 TB fact-fact shape measured in
    examples/bucketed_facts_demo.py (1.4x at 10x growing to 3.9x at 30x,
    BASELINE.md r17). Each side keeps one in-partition Sort above its
    bucketed scan: eliding it needs
    ``spark.sql.legacy.bucketedTableScan.outputOrdering``, left off on
    purpose (see ``operators.dedup.land_shingle_relation``). One file per
    bucket (repartition on the bucket key first), so the sortBy layout
    stays usable should that flag be turned on."""
    (
        df.repartition(n_buckets, key_col)
        .write.mode(mode)
        .bucketBy(n_buckets, key_col)
        .sortBy(key_col)
        .saveAsTable(out_table)
    )
    return df.sparkSession.table(out_table)


def shared_fact_relation(
    df: DataFrame,
    key_col: str,
    source_key: str,
    *,
    n_buckets: int = 64,
) -> DataFrame:
    """Session-shared bucketed fact landing: same write-once /
    adopt-across-sessions contract as the shingle/events/posting
    families (markers, fingerprint adoption, stale reclaim, telemetry
    in LANDING_EVENTS)."""
    from franzoxide_spark.operators.dedup import _shared_landing

    return _shared_landing(
        df,
        ident=("facts", source_key, key_col, n_buckets),
        name_prefix="fact_rel_",
        family="facts",
        land_fn=lambda d, name: land_fact_relation(
            d, key_col, name, n_buckets=n_buckets,
        ),
        marker_extra={
            "n_buckets": n_buckets,
            "bucket_cols": [key_col],
            "sort_cols": [key_col],
        },
    )


def _path_bytes(path: str) -> int:
    """Total bytes under ``path`` (file or directory) — the same size
    signal Spark's planner uses for a parquet scan estimate."""
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _broadcast_threshold_bytes(spark) -> int:
    """The session's autoBroadcastJoinThreshold in bytes (Spark returns
    the raw conf string: plain bytes, or with a b/k/m/g suffix)."""
    raw = str(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    ).strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if raw.endswith(suffix):
            raw = raw[: -len(suffix)]
            mult = m
            break
    try:
        return int(float(raw) * mult)
    except ValueError:
        return 10 << 20


def fact_join_relations(
    spark,
    sf_dir: str,
    left_name: str,
    right_name: str,
    left_key: str,
    right_key: str,
    left_cols: "list[str] | None" = None,
    right_cols: "list[str] | None" = None,
) -> tuple[DataFrame, DataFrame]:
    """(left, right) relations for a fact-fact equi-join, size-gated
    (r18, VERDICT r17 item #7 — the co-bucketed landing promoted from
    demo to a served path):

    - while the SMALLER side still fits the session's broadcast
      threshold (every bench SF), return the plain pruned parquet scans
      — the join broadcasts and bucketing buys nothing;
    - past the threshold (the 10x/30x replica regime and up, where the
      join pays a full shuffle+sort of BOTH sides), land each side once
      bucketed + in-bucket sorted on its join key and serve the landed
      relations: the join runs with no Exchange on either side (one
      in-partition Sort per side remains, see ``land_fact_relation``),
      write-once/join-many with cross-session adoption.

    ``left_cols``/``right_cols``: the columns the consumer's join
    actually carries. The gate compares the SMALLER side's estimated
    *pruned* bytes (full bytes scaled by the consumed-column fraction)
    against the threshold, because that is what AQE sees at runtime: a
    wide fact whose 2-column projection still fits the threshold gets a
    runtime broadcast join anyway, and a landing build would be pure
    cost (measured r18: q139 at the 10x replica — landed 10.5 s vs
    plain 9.98 s interleaved min-of-4, AQE broadcasting the pruned
    orders side; the landing's win regime is both sides' JOIN columns
    past the threshold, the bucketed_facts_demo 30x case at 3.9x).

    ``SPARK_GRAFT_FACTS_LANDING=0`` is the ad-hoc lever (same contract
    as the other landing families); ``=force`` lands regardless of size
    (tests / fixture-scale plan audits). Bucket count is scale-adaptive:
    ~128 MB of the larger side per bucket, clamped to [16, 4096] and
    rounded to a power of two so replica decades reuse counts
    (``SPARK_GRAFT_FACTS_BUCKETS`` overrides)."""
    import os

    from franzoxide_spark.tables import table

    left = table(spark, sf_dir, left_name)
    right = table(spark, sf_dir, right_name)
    mode = os.environ.get("SPARK_GRAFT_FACTS_LANDING", "1")
    if mode == "0":
        return left, right
    lb = _path_bytes(os.path.join(sf_dir, f"{left_name}.parquet"))
    rb = _path_bytes(os.path.join(sf_dir, f"{right_name}.parquet"))
    lb_pruned = lb * (
        min(1.0, len(left_cols) / max(len(left.columns), 1))
        if left_cols else 1.0
    )
    rb_pruned = rb * (
        min(1.0, len(right_cols) / max(len(right.columns), 1))
        if right_cols else 1.0
    )
    if mode != "force" and (
        min(lb_pruned, rb_pruned) <= _broadcast_threshold_bytes(spark)
    ):
        return left, right
    if os.environ.get("SPARK_GRAFT_FACTS_BUCKETS"):
        n_buckets = int(os.environ["SPARK_GRAFT_FACTS_BUCKETS"])
    else:
        n_buckets = 16
        while n_buckets * (128 << 20) < max(lb, rb) and n_buckets < 4096:
            n_buckets *= 2
    # the source key names the table: two tables keyed on a column of
    # the same name must not share one landing identity
    return (
        shared_fact_relation(
            left, left_key, f"{sf_dir}/{left_name}", n_buckets=n_buckets
        ),
        shared_fact_relation(
            right, right_key, f"{sf_dir}/{right_name}", n_buckets=n_buckets
        ),
    )
