"""Table catalog over the driver-generated parquet fixtures (TESTDATA.md).

Parquet scans are the engine's batch source: Catalyst pushes filters and
prunes columns into the scan (verify with ``df.explain`` → ``PushedFilters``
/ ``ReadSchema``), so query functions read via this module and rely on
pushdown rather than pre-filtering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at ANY scale factor (TPC-H dims
# grow slowly or not at all): always broadcast these in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


# DataFrame catalog cache: re-reading the same parquet path re-lists files
# and re-reads footers on the driver (~100-200 ms per table). A catalog
# caches that metadata; keyed by session so a new SparkSession re-resolves.
# Keyed on applicationId, NOT id(spark): a GC'd-then-reallocated session
# object can reuse the same id() and would alias a stale entry (and stale
# DataFrames bound to a stopped SparkContext raise on use).
_CATALOG: dict[tuple[str, str, str], DataFrame] = {}

# Correctness-critical runtime confs, re-asserted per session: query
# callables may be invoked with a session the caller built (e.g. the
# driver's own vanilla SparkSession), where missing values would crash the
# events scan (legacy nanos-timestamp fixtures) or drift timestamp
# rendering vs the oracle. All three are runtime-settable SQLConfs.
_REQUIRED_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
}
_CONFED_SESSIONS: set[str] = set()


def _session_key(spark: SparkSession) -> str:
    """Stable identity for a live session: the Spark applicationId.

    ``id(spark)`` is unsafe as a cache key — CPython reuses addresses after
    GC, so a new session could silently hit a dead session's entries and
    skip the correctness-critical conf re-assertion (nanosAsLong, UTC).
    applicationId is unique per SparkContext lifetime.
    """
    try:
        app = spark.sparkContext.applicationId
    except Exception:  # Spark Connect or stopped context: degrade per-object
        return f"py-id-{id(spark)}"
    # applicationId alone conflates spark.newSession() children with their
    # parent (same SparkContext, FRESH SQLConf) — the conf assertion would
    # be skipped for the child and nanosAsLong/UTC silently unset (r13
    # review). The py4j target id names the JVM SparkSession object
    # (monotonic per gateway, never reused while live).
    try:
        return f"{app}/{spark._jsparkSession._target_id}"
    except Exception:
        return app


def ensure_session_confs(spark: SparkSession) -> None:
    key = _session_key(spark)
    if key in _CONFED_SESSIONS:
        return
    for k, v in _REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static/locked conf on some deployment: leave as-is
    _CONFED_SESSIONS.add(key)
    # A new application means every older application's cached entries are
    # dead (their DataFrames point at a stopped context) — drop them so the
    # caches cannot grow across sequential sessions in one process.
    for stale in [k for k in _CONFED_SESSIONS if k != key]:
        _CONFED_SESSIONS.discard(stale)
    for ck in [ck for ck in _CATALOG if ck[0] != key]:
        _CATALOG.pop(ck, None)
    for ck in [ck for ck in _FANOUT if ck[0] != key]:
        _FANOUT.pop(ck, None)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_confs(spark)
    key = (_session_key(spark), sf_dir, name)
    cached = _CATALOG.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        # Fixture generations differ: older events.parquet stored ts as
        # TIMESTAMP(NANOS), which Spark (under nanosAsLong, session.py)
        # reads as a bigint of nanoseconds — truncate to micros, matching
        # DuckDB's ns -> TIMESTAMP cast. Newer fixtures store
        # TIMESTAMP(MICROS), which Spark reads as timestamp/timestamp_ntz
        # directly — pass through. Guard on the read dtype so both work.
        from pyspark.sql import functions as F

        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype == "timestamp_ntz":
            # Downstream consumers (unix_millis, time windows, watermarks)
            # require TIMESTAMP (ltz) — the type the nanos path also yields.
            # Session tz is UTC (ensure_session_confs), so this cast is
            # value-preserving: the NTZ wall clock IS the UTC instant.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _CATALOG[key] = df
    return df


def plan_size_bytes(df: DataFrame, *, scans: bool = False) -> int | None:
    """Catalyst stats size of ``df``'s optimized plan, or ``None`` when
    the JVM call fails. Every size-based decision reads sizes here (the
    landing telemetry and fact gate, dedup's prefix checkpoint, the
    fan-out gates), so a failed stats read must never break a query.

    ``scans``: the summed sizes of the plan's leaves instead — the bytes
    its file scans read, which a projection above them does not shrink
    (Catalyst scales a projection's size by row width)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if not scans:
            return int(plan.stats().sizeInBytes())
        leaves = plan.collectLeaves()
        return sum(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        )
    except Exception:  # noqa: BLE001 — a stats read must never fail a query
        return None


def ensure_parallel(df: DataFrame) -> DataFrame:
    """``df`` round-robined to the session's parallelism when its input
    is narrow, else ``df`` itself — the package's one fan-out rule.

    Why: each sf fixture is one parquet file with one row group, which
    Spark cannot split, so a CPU-bound map pass (tokenize/explode,
    interpreted higher-order functions, Python UDFs) over the plain scan
    runs on ONE core (measured 3-5x slower at sf0.1). Target:
    ``defaultParallelism`` (``get_spark`` sets shuffle partitions to it).

    Narrow: fewer splits than the target. A file scan counts
    ``max(files, ceil(scan bytes / spark.sql.files.maxPartitionBytes))``
    (files alone when the size read fails), where the scan bytes are the
    plan's leaves (``plan_size_bytes(scans=True)``), so a projection
    counts the splits of the scan under it: parquet splits only at row
    groups, so a few single-row-group files plan ``target`` splits with
    all rows in a handful of tasks (r18, q104's x30 replica: 6 files
    planned as 32 splits, repartition 13.3 s vs plain 23.7 s), while a
    few multi-row-group files of 10 GB really do split. Other inputs
    (test frames, cached relations) count partitions, so a fanned
    relation passes through untouched.

    The repartition is bare: a caller whose consumers filter must pin
    it (``fanned_table``), or Catalyst pushes deterministic filters back
    below the exchange. q88's verify (``operators/dedup.py``) spreads a
    join output that AQE coalesces at run time, which no plan-time
    count sees, so it repartitions unconditionally.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    splits = len(files) if files else df.rdd.getNumPartitions()
    size = plan_size_bytes(df, scans=True) if files and splits < target else None
    if size is not None:
        conf = spark._jsparkSession.sessionState().conf()
        splits = max(splits, -(-size // conf.filesMaxPartitionBytes()))
    return df.repartition(target) if splits < target else df


# Fanned-relation cache: one materialized fan-out per (session, sf_dir,
# table), shared by every full-scan consumer in the session (same cost
# model as the bucketed landings: pay once, serve many). Purged alongside
# _CATALOG when a new application appears (ensure_session_confs).
_FANOUT: dict[tuple[str, str, str], DataFrame] = {}

# Pin gate: fan out only a scan whose Catalyst stats fit under this many
# bytes — the persist holds the whole relation in the block manager,
# which is a fixture-shim move, never an at-scale one.
_FANOUT_MAX_BYTES = 256 << 20


def fanned_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture shim: :func:`table` through :func:`ensure_parallel`,
    pinned once per session — the pin is the pushdown barrier the bare
    repartition lacks (the q56 fix generalized, BASELINE.md r16 'q56').

    Contract: callers must be FULL-relation consumers. The cache is an
    optimizer boundary (plans over it scan the InMemoryRelation —
    filters stay above it), so a query that filters or projects a
    sliver of the table must keep reading :func:`table` (where
    PushedFilters/ReadSchema do the work — module docstring). Two
    identity gates keep this a fixture-only move: a scan
    :func:`ensure_parallel` leaves alone, or one whose Catalyst-stats
    size exceeds ``_FANOUT_MAX_BYTES``, is returned un-fanned (at
    100 TB both gates trip and this function IS :func:`table`).

    ``persist()`` rather than ``localCheckpoint()`` deliberately: an
    externally cleared cache (``spark.catalog.clearCache()`` — bench.py
    runs it between timed queries as inter-query hygiene) leaves a
    persisted relation RECOMPUTABLE (it just re-shuffles), where a
    cleared LocalCheckpointRDD is a permanent "checkpoint block not
    found" crash — the first fan-out cut exactly that way (45-error
    artifact, discarded). The cached-entry fast path re-registers the
    persist when ``storageLevel`` shows an external clear dropped it.
    """
    df = table(spark, sf_dir, name)
    key = (_session_key(spark), sf_dir, name)
    cached = _FANOUT.get(key)
    if cached is not None:
        try:
            lvl = cached.storageLevel
            if not (lvl.useMemory or lvl.useDisk):
                cached.persist()  # re-register after an external clear
        except Exception:  # noqa: BLE001 — serve the relation regardless
            pass
        return cached
    try:
        fanned = ensure_parallel(df)
        if fanned is df:
            return df  # natural parallelism: keep the pushdown-able scan
        size = plan_size_bytes(df)
        if size is None or size > _FANOUT_MAX_BYTES:
            return df  # too big to pin in the block manager
        fanned = fanned.persist()
    except Exception:  # noqa: BLE001 — the shim must never break a read
        return df
    _FANOUT[key] = fanned
    return fanned


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (for the SQL surface)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)
