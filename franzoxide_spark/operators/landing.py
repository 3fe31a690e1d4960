"""Write-once/join-many landings: the one protocol every landing family
shares, and the events and fact families built on it.

A landing persists a relation bucketed (and in-bucket sorted) on its
family's join/partition key once per corpus snapshot, so every
downstream pass over it runs exchange-free. Four families use it: the
dedup shingle relation (``operators.dedup.shared_shingle_relation``),
the retrieval posting index
(``operators.retrieval.shared_posting_relation``), and the user-keyed
events and co-bucketed facts below.

:func:`shared_landing` owns the protocol (r10-r13-hardened, generalized
in r15):

- a per-session cache, so repeat calls in one session reuse the table;
- a write-completion marker carrying the writer id, the landed schema,
  the bucket/sort spec, a data-file census and a source fingerprint;
- cross-session adoption of a marked landing whose fingerprint still
  matches, as an external bucketed table (no rewrite);
- reclaim of a stale landing, with a grace window that refuses to
  delete a possibly-live writer's files;
- the ``LANDING_EVENTS`` telemetry bench.py copies into its detail
  artifact.

The events landing is the second family: every user-keyed operator
(rolling features, sessionization, TTL dedup, funnels, cohorts, ...)
shares one plan shape — ONE exchange on the user key then key-bounded
work — so an events table landed bucketed by the user key retires that
exchange for the whole family (measured: q177's batch face 0.73 ->
0.31 s at sf0.1 with zero exchanges, examples/bucketed_events_demo.py;
plan-pinned in tests/test_plans.py).
"""

from __future__ import annotations

import hashlib
import json
import logging
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# Session-level write-once switch (r10 verdict item #3): the first
# call per (session, family ident) lands the bucketed relation; later
# calls in the SAME session reuse the landed table, so e.g. the
# q35/q35b/q119 passes over one corpus share one landing write.
# Keyed by applicationId because the default in-memory catalog dies with
# the session — a new session must re-land (and first clear the stale
# managed location the old session's warehouse left behind, or
# saveAsTable fails LOCATION_ALREADY_EXISTS).
_SESSION_LANDINGS: dict[tuple, str] = {}
# The DataFrame actually handed to consumers per landing key. For an
# ADOPTED landing this is the metadata-restamped projection over the
# external table (DDL columns cannot carry the shingle_k stamp), so it
# must be what repeat calls return too — `spark.table(name)` alone
# would lose the stamp and fail the consumers' k-mismatch guard.
_SESSION_LANDING_DFS: dict[tuple, DataFrame] = {}

# Bench/driver-visible decision log (r14 verdict #3): every
# shared_landing call appends what it did, so BENCH_DETAIL can explain
# by itself whether a sample paid the landing write ("written" /
# "re-landed"), adopted a prior session's files ("adopted"), or hit the
# in-session cache ("session-reuse") — the r13 q35b driver-env gap was
# undiagnosable precisely because the artifact could not say which of
# these happened. bench.py copies the list into the detail artifact;
# entries carry wall-clock epochs so readers can align them with the
# per-query start offsets.
LANDING_EVENTS: list[dict] = []


def _landing_event(decision: str, name: str, **extra) -> None:
    if len(LANDING_EVENTS) < 1000:  # bounded — diagnostics, not a log
        LANDING_EVENTS.append(
            {"decision": decision, "table": name,
             "epoch": round(time.time(), 2), **extra}
        )


# Write-completion marker (r11 ADVICE): a landing that finished its
# saveAsTable drops this file into the table directory. A stale dir
# WITH the marker is a dead session's completed landing — safe to
# reclaim. A stale dir WITHOUT it is either a concurrent session's
# in-progress write (must NOT be deleted silently — the failure mode
# would be the other job's dedup rows going missing with no error) or
# a crashed writer's debris; the two are told apart by modification
# age against a grace window.
#
# Since r13 the marker carries JSON — writer applicationId + wall
# timestamp (r12 ADVICE #4: name the writer when its files must be
# touched), the landed schema (with the shingle_k/max_df field-metadata
# stamps), the bucket count, and a SOURCE FINGERPRINT (digest of the
# input files' path+length+mtime). A fresh session finding a marked
# landing whose fingerprint still matches the corpus ADOPTS it as an
# external bucketed table instead of deleting + re-landing: the landing
# write is paid once per corpus SNAPSHOT rather than once per session,
# and — the ADVICE's hazard — a marked dir a live sibling session is
# still scanning is no longer yanked out from under it in the unchanged-
# source case at all. Only a fingerprint MISMATCH (the corpus really
# changed, so the old landing is stale for everyone) still reclaims a
# marked dir, with a loud warning naming the writer. Legacy empty
# markers (r12 format) carry no fingerprint and fall back to reclaim.
_LANDING_MARKER = "_LANDING_COMPLETE"
_LANDING_GRACE_SECS = 3600.0


def _table_fs_path(spark, name: str):
    """(fs, path) for the managed-table location of ``name``. Resolved
    from the CURRENT database's locationUri (for the default database
    that is the warehouse dir; for any other it is <warehouse>/<db>.db/
    or wherever the db was created) — a plain <warehouse>/<name> concat
    would silently miss a non-default database. Hadoop FileSystem API so
    the path scheme (local/HDFS/S3A) doesn't matter."""
    db_loc = spark.catalog.getDatabase(
        spark.catalog.currentDatabase()).locationUri
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(db_loc.rstrip("/") + "/" + name)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, path


def _clear_stale_table_location(
    spark, name: str, family: str, *,
    grace_secs: float = _LANDING_GRACE_SECS,
) -> None:
    """Reclaim a managed-table directory orphaned by a previous session
    (files on disk, no catalog entry — saveAsTable would otherwise fail
    LOCATION_ALREADY_EXISTS). Deletion is gated on the write-completion
    marker: a marked dir is a finished landing from a dead session and
    is removed; an UNMARKED dir modified within ``grace_secs`` may be a
    live concurrent writer mid-landing, so this raises loudly instead of
    silently removing its files (r11 ADVICE). An unmarked dir older than
    the grace window is a crashed writer's debris and is reclaimed so a
    crash cannot permanently wedge the corpus."""
    if spark.catalog.tableExists(name):
        return
    fs, path = _table_fs_path(spark, name)
    if not fs.exists(path):
        return
    jvm = spark._jvm
    marker = jvm.org.apache.hadoop.fs.Path(path, _LANDING_MARKER)
    if not fs.exists(marker):
        # Liveness must be judged RECURSIVELY: a live saveAsTable writes
        # task output under <dir>/_temporary/<job>/<attempt>/, which
        # never bumps the mtimes of <dir> or its direct children after
        # job start — a top-level-only scan would age out a >1h landing
        # mid-write and reclaim it, the exact loss the marker protocol
        # exists to prevent (r12 review). listFiles(recursive) walks the
        # attempt files, whose mtimes advance as the writer writes.
        newest_ms = fs.getFileStatus(path).getModificationTime()
        try:
            for st in fs.listStatus(path):
                newest_ms = max(newest_ms, st.getModificationTime())
            it = fs.listFiles(path, True)
            while it.hasNext():
                newest_ms = max(newest_ms, it.next().getModificationTime())
        except Exception:  # noqa: BLE001 — the lazy recursive iterator
            # races a live writer's task-commit renames (files move out
            # of _temporary/ between fetch and visit -> FileNotFound).
            # A walk that can't complete because files are moving IS
            # evidence of a live writer — fall through to the loud
            # refusal instead of dying with a raw Py4J trace (r12
            # review #2).
            newest_ms = int(time.time() * 1000)
        age = time.time() - newest_ms / 1000.0
        if age <= grace_secs:
            raise RuntimeError(
                f"{family}-landing location for table {name!r} exists "
                f"without a {_LANDING_MARKER} marker and was modified "
                f"{age:.0f}s ago — another session may be landing this "
                "corpus right now. Concurrent jobs over one warehouse "
                "must use distinct source_key values (or distinct "
                "warehouses); if the other writer is known dead, remove "
                f"the directory or wait out the {grace_secs:.0f}s grace "
                f"window: {path}"
            )
    fs.delete(path, True)


def _mark_landing_complete(spark, name: str, info: dict | None = None) -> None:
    """Drop the write-completion marker into the landed table dir —
    the handshake `_clear_stale_table_location` keys safe reclaim on.
    ``info`` (JSON-serializable) additionally records who wrote the
    landing and what it contains, enabling cross-session adoption."""
    fs, path = _table_fs_path(spark, name)
    jvm = spark._jvm
    payload = dict(info or {})
    payload.setdefault("app_id", spark.sparkContext.applicationId)
    payload.setdefault("ts", time.time())
    # data-file census at completion time: adoption's integrity check.
    # A marked dir that later LOSES part-files (crashed cleanup, manual
    # tampering) must re-land, not be adopted as a silently-short table.
    payload.setdefault("n_files", _landing_data_file_count(fs, path))
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path, _LANDING_MARKER),
                    True)
    out.write(bytearray(json.dumps(payload).encode("utf-8")))
    out.close()


def _landing_data_file_count(fs, path) -> int:
    """Count the landing's DATA files (parquet parts) — everything that
    is not a hidden/bookkeeping entry (``_SUCCESS``, the marker itself,
    ``.crc`` shadows)."""
    n = 0
    for st in fs.listStatus(path):
        base = st.getPath().getName()
        if st.isFile() and not base.startswith(("_", ".")):
            n += 1
    return n


def _read_landing_marker(spark, name: str) -> dict | None:
    """Parse the marker JSON for table ``name``; ``None`` when the dir
    or marker is absent, ``{}`` for a legacy (empty, r12-format) marker
    — present-but-uninformative, reclaimable but not adoptable."""
    fs, path = _table_fs_path(spark, name)
    jvm = spark._jvm
    marker = jvm.org.apache.hadoop.fs.Path(path, _LANDING_MARKER)
    if not (fs.exists(path) and fs.exists(marker)):
        return None
    try:
        stream = fs.open(marker)
        try:
            # commons-io rides Spark's classpath; one py4j call for the
            # whole payload (a per-byte read() loop would be thousands
            # of JVM roundtrips for the schema-bearing JSON)
            buf = bytes(
                jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
    except Exception:  # noqa: BLE001 — an unreadable marker (e.g. a
        # ChecksumException after out-of-band edits) is present-but-
        # uninformative: reclaimable like the legacy empty format,
        # never adoptable
        return {}
    if not buf:
        return {}
    try:
        return json.loads(buf.decode("utf-8"))
    except ValueError:
        return {}


def _source_fingerprint(df: DataFrame) -> str | None:
    """Digest of the corpus' input files (path, length, mtime) PLUS the
    frame's canonicalized plan hash — the currency check for
    cross-session landing adoption. ``None`` when the plan has no stable
    file inputs (in-memory/test frames): adoption is then disabled and
    the session re-lands, the safe default.

    Why the plan hash (r13 review): file stats alone cannot tell
    ``docs`` from ``docs.limit(500)`` — ``inputFiles()`` lists the same
    parquet parts for both, so a landing built from a row SUBSET of the
    files would be silently adopted by a caller passing the full frame
    under the same source_key (wrong scores, no error). The analyzed
    CANONICALIZED plan string has expression ids and names normalized,
    so identically-constructed frames render alike across sessions
    (verified cross-process; semanticHash does NOT — HadoopFsRelation's
    hashCode mixes in per-JVM identity) while any filter/limit/
    projection difference re-lands. A false mismatch only costs a
    re-land — the safe direction."""
    files = sorted(df.inputFiles())
    if not files:
        return None
    spark = df.sparkSession
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    h = hashlib.md5()
    # one listStatus per parent directory instead of one getFileStatus
    # round-trip per file (r13 review: O(n_files) serial driver RPC)
    by_parent: dict[str, list[str]] = {}
    for f in files:
        parent = f.rsplit("/", 1)[0]
        by_parent.setdefault(parent, []).append(f)
    stats: dict[str, tuple[int, int]] = {}
    for parent, members in by_parent.items():
        p = jvm.org.apache.hadoop.fs.Path(parent)
        fs = p.getFileSystem(conf)
        # match by basename within the parent (names are unique in a
        # directory) — plan URIs and listStatus URIs can render the
        # same path with different scheme spellings (file:/ vs file:///)
        listed = {
            st.getPath().getName(): (st.getLen(), st.getModificationTime())
            for st in fs.listStatus(p)
            if st.isFile()
        }
        for f in members:
            base = f.rsplit("/", 1)[1]
            if base not in listed:  # listed by the plan but gone on
                return None         # disk — nothing current to adopt
            stats[f] = listed[base]
    for f in files:
        ln, mt = stats[f]
        h.update(f"{f}|{ln}|{mt}\n".encode())
    h.update(
        df._jdf.queryExecution().analyzed().canonicalized().toString()
        .encode("utf-8")
    )
    return h.hexdigest()


def _adopt_landing(
    spark, name: str, marker: dict, family: str,
) -> DataFrame | None:
    """Register a dead session's completed landing as an external
    bucketed table and return it, field-metadata stamps restored. The
    files were written by the SAME bucketing spec recorded in the
    marker, so the external declaration reproduces the exchange-free
    join property (plan-asserted in test_plans.py). Returns ``None``
    if the marker lacks what adoption needs (legacy format)."""
    schema_json = marker.get("schema")
    n_buckets = marker.get("n_buckets")
    if not schema_json or not n_buckets:
        return None
    schema = T.StructType.fromJson(schema_json)
    fs, path = _table_fs_path(spark, name)
    # integrity gate: the marker recorded the data-file census at write
    # completion; a dir that has since lost (or grown) part-files is not
    # the landing the marker vouches for — adopting it would register a
    # silently-short bucketed table whose missing rows surface as wrong
    # dedup scores, not errors. Decline; the caller re-lands.
    n_files = marker.get("n_files")
    if n_files is not None and _landing_data_file_count(fs, path) != n_files:
        logging.getLogger(__name__).warning(
            "%s landing %s (written by %s) fails its file census "
            "(marker says %s data files) — declining adoption and "
            "re-landing.",
            family, name, marker.get("app_id", "<unknown>"), n_files,
        )
        return None
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
    )
    # bucket/sort spec from the marker (r15: the landing machinery now
    # serves more than the shingle relation); legacy markers predate the
    # fields and are always the shingle landing's (g)/(g)
    bucket_cols = marker.get("bucket_cols") or ["g"]
    sort_cols = marker.get("sort_cols") or bucket_cols
    bspec = ", ".join(f"`{c}`" for c in bucket_cols)
    sspec = ", ".join(f"`{c}`" for c in sort_cols)
    spark.sql(
        f"CREATE TABLE `{name}` ({cols}) USING parquet "
        f"CLUSTERED BY ({bspec}) SORTED BY ({sspec}) "
        f"INTO {int(n_buckets)} BUCKETS "
        f"LOCATION '{path.toString()}'"
    )
    rel = spark.table(name)
    # DDL columns cannot carry field metadata; restore the shingle_k /
    # max_df stamps through an aliasing projection. ProjectExec is
    # partitioning-preserving through aliases, so the bucketed join
    # property survives (asserted in test_plans.py).
    restamped = [
        F.col(f.name).alias(f.name, metadata=f.metadata)
        if f.metadata else F.col(f.name)
        for f in schema.fields
    ]
    return rel.select(*restamped)


def shared_landing(
    df: DataFrame,
    *,
    ident: tuple,
    name_prefix: str,
    family: str,
    land_fn,
    marker_extra: dict,
) -> DataFrame:
    """The session-cache / adopt / reclaim / mark flow every family
    landing shares (r15 ADVICE: the events wrapper had duplicated it
    verbatim — one copy so the hardened contract can't drift between
    families). ``ident`` names the landing (the table name is a digest
    of it); ``family`` names it in warnings and errors.
    ``land_fn(df, table_name)`` performs the family-specific bucketed
    write and returns the re-read relation; ``marker_extra`` is the
    family's layout payload for the completion marker (bucket count,
    bucket/sort spec — what ``_adopt_landing`` replays)."""
    spark = df.sparkSession
    key = (spark.sparkContext.applicationId,) + ident
    # evict entries from OTHER (stopped) sessions: they hold DataFrames
    # whose py4j proxies pin the dead session's objects for the process
    # lifetime (r13 review) — a restart-heavy process (tests, notebooks)
    # would otherwise grow one dead DataFrame per (session, corpus)
    for cache in (_SESSION_LANDING_DFS, _SESSION_LANDINGS):
        for stale in [k for k in cache if k[0] != key[0]]:
            cache.pop(stale, None)
    name = name_prefix + hashlib.md5(repr(ident).encode()).hexdigest()[:12]
    if key in _SESSION_LANDINGS and spark.catalog.tableExists(name):
        _landing_event("session-reuse", name)
        cached = _SESSION_LANDING_DFS.get(key)
        return cached if cached is not None else spark.table(name)
    fp = _source_fingerprint(df)
    relanded = False
    if not spark.catalog.tableExists(name):
        marker = _read_landing_marker(spark, name)
        if marker and fp is not None and marker.get("fingerprint") == fp:
            adopted = _adopt_landing(spark, name, marker, family)
            if adopted is not None:
                _landing_event(
                    "adopted", name,
                    stat_bytes=_plan_size_bytes(adopted),
                    writer=marker.get("app_id"),
                )
                _SESSION_LANDINGS[key] = name
                _SESSION_LANDING_DFS[key] = adopted
                return adopted
        if marker is not None and fp and marker.get("fingerprint") \
                and marker["fingerprint"] != fp:
            relanded = True
            logging.getLogger(__name__).warning(
                "%s landing %s (written by %s) is stale — source "
                "fingerprint changed; reclaiming and re-landing. Any "
                "session still scanning those files will fail its scans.",
                family, name, marker.get("app_id", "<unknown>"),
            )
    _clear_stale_table_location(spark, name, family)
    _t0 = time.monotonic()
    rel = land_fn(df, name)
    _build_secs = round(time.monotonic() - _t0, 3)
    _mark_landing_complete(
        spark, name,
        {
            "fingerprint": fp,
            "schema": rel.schema.jsonValue(),
            **marker_extra,
        },
    )
    _landing_event(
        "re-landed" if relanded else "written", name,
        stat_bytes=_plan_size_bytes(rel),
        # build wall-clock (r17 VERDICT #1): bench.py sums these into the
        # printed landing_build_s so the one-line artifact itself states
        # how much landing-write time this run paid (adoption pays none)
        secs=_build_secs,
    )
    _SESSION_LANDINGS[key] = name
    _SESSION_LANDING_DFS[key] = rel
    return rel


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst stats size of ``df``'s optimized plan, or ``None`` when
    the JVM call fails. It feeds the landing telemetry and the fact-join
    size gate, so a failure must never break the adopt/land product
    path (r14 ADVICE: the call sat outside any exception guard)."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # noqa: BLE001 — a stats read must never fail a query
        return None


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
    return shared_landing(
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
    return shared_landing(
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

    Each side's full bytes are the Catalyst stats of its scan, so the
    gate reads any path scheme (local, ``file://``, ``s3a://``); a side
    with no stats serves the plain scans. Bucket count is
    scale-adaptive: ~128 MB of the larger side per bucket, clamped to
    [16, 4096] and rounded to a power of two so replica decades reuse
    counts."""
    from franzoxide_spark.tables import table

    left = table(spark, sf_dir, left_name)
    right = table(spark, sf_dir, right_name)
    lb = _plan_size_bytes(left)
    rb = _plan_size_bytes(right)
    if lb is None or rb is None:
        return left, right
    lb_pruned = lb * (
        min(1.0, len(left_cols) / max(len(left.columns), 1))
        if left_cols else 1.0
    )
    rb_pruned = rb * (
        min(1.0, len(right_cols) / max(len(right.columns), 1))
        if right_cols else 1.0
    )
    if min(lb_pruned, rb_pruned) <= _broadcast_threshold_bytes(spark):
        return left, right
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
