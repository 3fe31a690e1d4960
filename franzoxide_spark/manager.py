"""Connector lifecycle manager.

The Spark re-expression of the reference's ConnectorManager + lifecycle
state machine (manager.rs:40-268, common.rs:8-45, main.rs:77-177):

- ``initialize()``: resolve every sink connector against the sources whose
  topics feed it and build source DataFrame -> sink query pairs. Routing is
  by topic overlap — every matching sink gets the stream, fixing the
  reference's hard-coded first-sink routing (manager.rs:184) and giving
  multi-sink fan-out (GAP.md:17 / B11) for free.
- ``start()/stop()/status()``: StreamingQuery lifecycle. ``tasks_max``
  maps to executor parallelism (Kafka partitions -> Spark partitions), not
  duplicated consumers.
- States mirror common.rs: UNINITIALIZED / RUNNING / STOPPED / FAILED
  (PAUSED exists in the reference proto but nothing ever enters it —
  stop+checkpoint-resume is the Spark equivalent).
"""

from __future__ import annotations

import enum

from pyspark.sql import SparkSession

from franzoxide_spark.config import Config, ConnectorConfig
from franzoxide_spark.errors import ConfigError
from franzoxide_spark.sinks.object_sink import ObjectSink
from franzoxide_spark.sources.registry import build_source, clusters_by_partition

SINK_CLASSES = ("io.rustconnect.S3SinkConnector", "object", "s3")
# debugging/testing sinks (Tier C): stream straight to an in-memory table
# or the console instead of object storage
DEBUG_SINK_CLASSES = ("memory", "console")


class ConnectorState(str, enum.Enum):
    UNINITIALIZED = "UNINITIALIZED"
    RUNNING = "RUNNING"
    STOPPED = "STOPPED"
    FAILED = "FAILED"


class ConnectorManager:
    def __init__(self, spark: SparkSession, config: Config, checkpoint_root: str):
        self.spark = spark
        self.config = config
        self.checkpoint_root = checkpoint_root
        # (feeder sources, sink) — ONE streaming query per sink, its
        # feeders UNIONed (the Kafka Connect shape: a sink subscribes to
        # several topics through one consumer). Separate queries per
        # (source, sink) cannot share the sink's output path anyway —
        # Spark's FileStreamSink refuses concurrent writers on one
        # _spark_metadata log.
        self._pipelines: list[
            tuple[tuple[ConnectorConfig, ...], ConnectorConfig]
        ] = []
        self._queries: dict[str, object] = {}
        self._query_members: dict[str, set[str]] = {}
        self._states: dict[str, ConnectorState] = {}

    def initialize(self) -> None:
        sources = [c for c in self.config.connectors if c.connector_type == "source"]
        sinks = [c for c in self.config.connectors if c.connector_type == "sink"]
        for snk in sinks:
            if snk.connector_class not in SINK_CLASSES + DEBUG_SINK_CLASSES:
                raise ConfigError(
                    f"unknown sink connector_class {snk.connector_class!r}"
                )
            # a topic-less SOURCE feeds every sink; a topic-less SINK
            # consumes every source. A sink whose topics match NO source
            # is a config error — the old `or sources` fallback silently
            # wired it to ALL sources instead (r13 review: a topic typo
            # wrote the wrong stream under the sink's layout, and the
            # ConfigError below was unreachable).
            feeders = [
                src
                for src in sources
                if not src.topics
                or not snk.topics
                or set(src.topics) & set(snk.topics)
            ]
            if not feeders:
                raise ConfigError(f"sink {snk.name!r}: no source covers its topics")
            self._pipelines.append((tuple(feeders), snk))
        for c in self.config.connectors:
            self._states[c.name] = ConnectorState.UNINITIALIZED

    def _start_debug_sink(self, records, snk: ConnectorConfig):
        import os

        writer = (
            records.writeStream.format(snk.connector_class)
            .outputMode("append")
            .queryName(snk.name)
        )
        if snk.connector_class == "memory":
            # memory sink keeps its table for the session; checkpoint still
            # tracks source offsets for restart semantics
            writer = writer.option(
                "checkpointLocation", os.path.join(self.checkpoint_root, snk.name)
            )
        return writer.start()

    @staticmethod
    def _fold_flush_size(src: ConnectorConfig, snk: ConnectorConfig) -> ConnectorConfig:
        """The reference's shipped config bounds batches with the SINK's
        flush.size (s3.rs:131, config/connect.json:28); Spark's batch bound
        lives on the source (maxOffsetsPerTrigger via batch.size). When the
        source doesn't set batch.size, inherit the sink's flush.size so a
        reference-style config doesn't get unbounded micro-batches."""
        flush = snk.config.get("flush.size")
        if flush is None or src.config.get("batch.size") is not None:
            return src
        import dataclasses

        return dataclasses.replace(
            src, config={**src.config, "batch.size": flush}
        )

    @staticmethod
    def _pipe_key(srcs: tuple[ConnectorConfig, ...], snk: ConnectorConfig) -> str:
        # percent-escape the separator characters so connector names
        # containing '+' or '->' cannot map distinct pipelines to one key
        # (sources {'a','b+c'} vs {'a+b','c'}) and cross-wire the
        # _queries/_query_members state used by restart and
        # connector_state (r14 advice). Normal names are unchanged, so
        # the key stays the human-readable status() label.
        def esc(name: str) -> str:
            return (
                name.replace("%", "%25").replace("+", "%2B").replace(">", "%3E")
            )

        return "+".join(esc(s.name) for s in srcs) + "->" + esc(snk.name)

    def _check_feeder_manifest(
        self, srcs: tuple[ConnectorConfig, ...], snk: ConnectorConfig
    ) -> None:
        """Refuse a feeder-set change against an existing checkpoint,
        BEFORE the query starts. Feeders union into ONE query per sink
        (A8), so the checkpoint's offset log has one entry per source —
        Spark itself aborts a changed-arity resume mid-stream with an
        opaque assertion ('There are [1] sources in the checkpoint
        offsets and now there are [2]', pinned in test_streaming.py).
        A manifest written next to the checkpoint turns that into an
        upfront ConfigError naming the fix. Pre-manifest checkpoints
        (no file) adopt the current feeder set silently — Spark's own
        check still guards them. The manifest itself is written by
        ``_write_feeder_manifest`` only AFTER the query starts (r14
        ADVICE): writing it up front would pin the feeder set against a
        checkpoint that has no offset log when the start subsequently
        fails, falsely refusing a later legitimate change."""
        import json
        import os

        if self._manifest_skip(snk):
            return
        ckpt = os.path.join(self.checkpoint_root, snk.name)
        path = os.path.join(ckpt, "feeders.json")
        names = sorted(s.name for s in srcs)
        try:
            with open(path) as f:
                recorded = json.load(f)
        except FileNotFoundError:
            return
        except (OSError, ValueError):
            return  # unreadable manifest: fall through to Spark's check
        try:
            has_offsets = bool(os.listdir(os.path.join(ckpt, "offsets")))
        except OSError:
            has_offsets = False
        if recorded != names and has_offsets:
            # no offset ENTRIES -> no committed batch to resume: a stale
            # manifest from a start that never ran a batch must not
            # refuse a legal feeder change (r14 ADVICE; r15 review:
            # Spark mkdirs the offsets dir eagerly at start, so the
            # directory existing alone proves nothing)
            from franzoxide_spark.errors import ConfigError

            raise ConfigError(
                f"sink {snk.name!r}: feeder set changed from {recorded} "
                f"to {names} but the checkpoint at {ckpt!r} was written "
                "by the old set — Spark cannot resume a union query "
                "whose source arity changed. Use a fresh checkpoint "
                "root (reprocessing all sources) or a new sink name."
            )

    def _manifest_skip(self, snk: ConnectorConfig) -> bool:
        if snk.connector_class == "console":
            # console sinks run checkpoint-free (no offset log to
            # resume), so there is no arity hazard — a manifest here
            # would FALSELY refuse a legal feeder change (r14 review)
            return True
        # remote checkpoint (s3a/hdfs): os.makedirs on the URI would
        # create junk LOCAL directories named after the scheme, and
        # open() can't read it anyway — Spark's own arity assertion
        # still guards the resume; the manifest is a local-path
        # nicety only
        return "://" in self.checkpoint_root

    def _write_feeder_manifest(
        self, srcs: tuple[ConnectorConfig, ...], snk: ConnectorConfig
    ) -> None:
        """Record the feeder set next to the checkpoint — called only
        after the union query started successfully, so the manifest never
        outlives a failed start (r14 ADVICE)."""
        import json
        import os

        if self._manifest_skip(snk):
            return
        ckpt = os.path.join(self.checkpoint_root, snk.name)
        try:
            os.makedirs(ckpt, exist_ok=True)
            with open(os.path.join(ckpt, "feeders.json"), "w") as f:
                json.dump(sorted(s.name for s in srcs), f)
        except OSError:
            pass  # manifest is best-effort; Spark still guards

    def _start_pipeline(
        self,
        srcs: tuple[ConnectorConfig, ...],
        snk: ConnectorConfig,
    ) -> None:
        from functools import reduce

        self._check_feeder_manifest(srcs, snk)

        feeders = [self._fold_flush_size(src, snk) for src in srcs]
        records = reduce(
            lambda a, b: a.unionByName(b),
            [build_source(self.spark, self.config.kafka, src) for src in feeders],
        )
        if snk.connector_class in DEBUG_SINK_CLASSES:
            query = self._start_debug_sink(records, snk)
        else:
            sink = ObjectSink(self.spark, snk, self.checkpoint_root)
            # two feeders can both carry one (topic, partition), so only a
            # single feeder's declaration holds for the union
            clustered = len(feeders) == 1 and clusters_by_partition(
                self.config.kafka, feeders[0]
            )
            query = sink.start(records, clustered=clustered)
        key = self._pipe_key(srcs, snk)
        self._queries[key] = query
        self._query_members[key] = {s.name for s in srcs} | {snk.name}
        self._write_feeder_manifest(srcs, snk)
        for src in srcs:
            self._states[src.name] = ConnectorState.RUNNING
        self._states[snk.name] = ConnectorState.RUNNING

    def start(self) -> None:
        for srcs, snk in self._pipelines:
            self._start_pipeline(srcs, snk)

    def restart(self, name: str, new_options: dict[str, str]) -> None:
        """B14 UpdateConfig (connector.proto:23,106-108 — declared but never
        implemented by the reference): apply new options to one connector and
        restart its pipelines from the SAME checkpoint.

        Exactly-once across the restart falls out of the checkpoint WAL: the
        stopped query's committed offsets are the restarted query's starting
        offsets, so changing an operational option (batch.size, flush.size,
        compression, ...) loses no records and duplicates none (asserted in
        tests/test_streaming.py). Identity fields (name/class/type) are not
        updatable — that's a new connector, not a config update."""
        import dataclasses

        old = self.config.connector(name)  # raises ConfigError if unknown
        updated = dataclasses.replace(old, config={**old.config, **new_options})
        # VALIDATE the new options BEFORE stopping anything: a bad option
        # previously surfaced only from _start_pipeline AFTER the old
        # pipeline was stopped and the config swapped — leaving the
        # pipeline dead and the invalid config persisted (r13 review)
        if (
            updated.connector_type == "sink"
            and updated.connector_class in SINK_CLASSES
        ):
            ObjectSink(self.spark, updated, self.checkpoint_root)
        # stop only the pipelines this connector participates in
        affected = [
            (srcs, snk)
            for srcs, snk in self._pipelines
            if name == snk.name or any(name == s.name for s in srcs)
        ]
        was_running: set[str] = set()
        for srcs, snk in affected:
            pipe = self._pipe_key(srcs, snk)
            query = self._queries.pop(pipe, None)
            self._query_members.pop(pipe, None)
            if query is not None:
                was_running.add(pipe)
                query.stop()
                try:
                    query.awaitTermination()
                except Exception:  # noqa: BLE001 — a query that already
                    # FAILED rethrows its streaming exception here; the
                    # restart must still proceed to bring it back up
                    pass
        old_config = list(self.config.connectors)
        old_pipelines = list(self._pipelines)
        # swap the connector config everywhere it is referenced
        self.config.connectors = [
            updated if c.name == name else c for c in self.config.connectors
        ]
        self._pipelines = [
            (
                tuple(updated if s.name == name else s for s in srcs),
                updated if snk.name == name else snk,
            )
            for srcs, snk in self._pipelines
        ]
        started_this_call: list[str] = []
        try:
            for srcs, snk in self._pipelines:
                pipe = self._pipe_key(srcs, snk)
                if pipe in was_running:
                    self._start_pipeline(srcs, snk)
                    started_this_call.append(pipe)
        except Exception:
            # roll back: restore the old config and bring the old
            # pipelines back up (best effort) so a failed restart never
            # leaves the connector dead with a corrupted config.
            self.config.connectors = old_config
            self._pipelines = old_pipelines
            # FIRST stop every query that already restarted with the NEW
            # config in this call — leaving them running while the config
            # rolls back would make get_config report options that differ
            # from what the live query actually runs (r14 advice)
            for pipe in started_this_call:
                query = self._queries.pop(pipe, None)
                self._query_members.pop(pipe, None)
                if query is not None:
                    try:
                        query.stop()
                        query.awaitTermination()
                    except Exception:  # noqa: BLE001 — best-effort stop;
                        # the old pipeline restart below still runs
                        pass
            for srcs, snk in old_pipelines:
                pipe = self._pipe_key(srcs, snk)
                if pipe in was_running and pipe not in self._queries:
                    try:
                        self._start_pipeline(srcs, snk)
                    except Exception:  # noqa: BLE001 — best-effort
                        for s_ in srcs:
                            self._states[s_.name] = ConnectorState.FAILED
                        self._states[snk.name] = ConnectorState.FAILED
            raise

    def process_all_available(self) -> None:
        """Drain everything currently readable — the reference's manual
        ``flush()`` (s3.rs:580-600) / Trigger.AvailableNow analog."""
        for q in self._queries.values():
            q.processAllAvailable()

    def stop(self) -> None:
        for pipe, q in self._queries.items():
            try:
                q.stop()
            except Exception:
                # mark every endpoint of the failed pipeline
                for conn_name in self._query_members.get(pipe, set()):
                    if conn_name in self._states:
                        self._states[conn_name] = ConnectorState.FAILED
                raise
        for name in self._states:
            if self._states[name] == ConnectorState.RUNNING:
                self._states[name] = ConnectorState.STOPPED

    def connector_state(self, name: str) -> ConnectorState:
        """Current state with LIVE query health folded in: a connector
        whose streaming query died at runtime must not keep reporting
        RUNNING off the stale start-time map (r13 review) — monitoring
        would see a healthy connector while no data flows."""
        state = self._states.get(name, ConnectorState.UNINITIALIZED)
        if state != ConnectorState.RUNNING:
            return state
        involved = [
            (pipe, q)
            for pipe, q in self._queries.items()
            if name in self._query_members.get(pipe, set())
        ]
        if not involved:
            return state
        for _pipe, q in involved:
            if q.isActive:
                return ConnectorState.RUNNING
        return (
            ConnectorState.FAILED
            if any(q.exception() is not None for _p, q in involved)
            else ConnectorState.STOPPED
        )

    def status(self) -> dict[str, dict]:
        """Per-connector state + live query progress (A25 + B15, replacing
        the reference's startup-only snapshot and unimplemented GetStatus)."""
        out: dict[str, dict] = {}
        for name in self._states:
            out[name] = {"state": self.connector_state(name).value}
        for pipe, q in self._queries.items():
            out[pipe] = {
                "state": ConnectorState.RUNNING.value if q.isActive else ConnectorState.STOPPED.value,
                "query_id": str(q.id),
                "last_progress": q.lastProgress,
            }
        return out
