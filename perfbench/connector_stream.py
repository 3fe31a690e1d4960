"""The reference's own job: Kafka-style records -> ConnectorManager ->
ObjectSink (JSON envelope, default ``{topic}/{partition}`` layout, local
directory), fed through the ``kafka_replay`` source.

Records are the generated ``events`` table in the envelope mix of
``queries.envelope.kafka_records_from_events``, spread over 8 partitions
with contiguous offsets. They are built with pyarrow, outside Spark.

Set-up (``start``, then ``await_seed``) stages every segment and starts
the pipeline on a seed segment, whose (cold) first batch is not timed.

Open loop: the benchmark's thread renames one pre-built segment into
the replay log every ``PERIOD_S`` seconds for ``seconds`` seconds, whether
or not the pipeline keeps up. A segment's latency runs from its due time
to the end of the first micro-batch whose end offsets cover it (batch
start + ``triggerExecution`` from the query's progress records).

Check: every staged (partition, offset) appears exactly once in the
sink's output, as read back through the sink's metadata log.
"""

from __future__ import annotations

import ast
import datetime
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


N_PARTITIONS = 8
# Offered load: 4,800 records/s, a tenth of the pipeline's capacity. A
# catch-up batch of 400,000 records drains at ~48,000 records/s on a 4-core
# host; at 1,536-24,576 records/s a batch takes 1.6-2.0 s, its size stays
# rate x batch time and the generator runs < 10 ms late (README.md).
SEGMENT_RECORDS = 1200  # 150 per partition
PERIOD_S = 0.25
SEED_RECORDS = 800     # the open-loop pipeline's first batch, in set-up
HEADERS = '{"content-type":"application/json"}'


def _records(events: pa.Table, n: int, first_id: int) -> pa.Table:
    """``n`` KafkaRecords for event ids ``first_id ..``, cycling through
    the events table, partition = id % 8, offset = id // 8."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    rows = ids % events.num_rows
    user = events["user_id"].to_numpy()[rows]
    props = np.asarray(events["props"].to_pylist(), dtype=object)[rows]
    ts_ms = events["ts"].cast(pa.int64()).to_numpy()[rows] // 1000
    keys = [b"" if i % 5 == 0 else f"user-{u}".encode() for i, u in zip(ids, user)]
    vals = [
        f"raw:{i}".encode() if i % 3 == 0 else p.encode()
        for i, p in zip(ids, props)
    ]
    return pa.table({
        "topic": pa.array(["events"] * n),
        "partition": pa.array((ids % N_PARTITIONS).astype(np.int32)),
        "offset": pa.array(ids // N_PARTITIONS),
        "timestamp": pa.array(ts_ms),
        "key": pa.array(keys, pa.binary()),
        "value": pa.array(vals, pa.binary()),
        "headers_json": pa.array([HEADERS] * n),
    })


def _config(log: str, out: str):
    from franzoxide_spark.config import parse_config

    return parse_config({
        "kafka": {"bootstrap_servers": [], "group_id": "perfbench"},
        "connectors": [
            {"name": "replay-source", "connector_class": "kafka_replay",
             "connector_type": "source", "topics": ["events"],
             "config": {"path": log}},
            {"name": "json-sink",
             "connector_class": "io.rustconnect.S3SinkConnector",
             "connector_type": "sink", "topics": ["events"],
             "config": {"path.base": out, "s3.prefix": "data",
                        "format.class": "json",
                        "partitioner.class": "default"}},
        ],
    })


def _query(spark, mgr):
    (qid,) = [v["query_id"] for v in mgr.status().values() if "query_id" in v]
    return spark.streams.get(qid)


def _batch_end_s(p) -> float:
    start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
    return start.timestamp() + p.durationMs.get("triggerExecution", 0) / 1e3


def _end_offsets(p) -> dict[int, int]:
    end = p.sources[0].endOffset
    if isinstance(end, str):
        # a Python data source reports its offset dict in repr form
        end = ast.literal_eval(end)
    return {int(k): int(v) for k, v in (end or {}).items()}


def _check_exactly_once(spark, out: str, n_records: int) -> tuple[int, int]:
    """(lost, duplicated) records of a sink whose input was ids 0..n-1."""
    from pyspark.sql import functions as F

    got = (
        spark.read.text(os.path.join(out, "data"))
        .select(
            F.get_json_object("value", "$.partition").cast("long").alias("p"),
            F.get_json_object("value", "$.offset").cast("long").alias("o"),
        )
        .groupBy("p", "o").count()
        .toPandas()
    )
    ids = got["o"] * N_PARTITIONS + got["p"]
    valid = (ids >= 0) & (ids < n_records) & (got["p"] < N_PARTITIONS)
    seen = int(valid.sum())
    dup = int((got["count"] - 1).sum()) + int((~valid).sum())
    return n_records - seen, dup


def _sink_files(out: str) -> dict[str, int]:
    """Size of every data file the sink has written, by path."""
    files = {}
    for root, _dirs, names in os.walk(os.path.join(out, "data")):
        if "_spark_metadata" in root:
            continue
        for name in names:
            if name.endswith(".txt"):
                path = os.path.join(root, name)
                files[path] = os.path.getsize(path)
    return files


class Connector:
    """One connector pipeline, measured in an open loop (see module doc)."""

    def __init__(self, spark, ctx) -> None:
        self.spark = spark
        self.work = os.path.join(ctx.work, "connector")
        self.data_dir = ctx.data_dir
        self.log = os.path.join(self.work, "log")
        self.segments: list[tuple[str, int]] = []
        self.lat_ms: list[float] = []
        self.late_ms: list[float] = []
        self.progress: list = []
        self.out = os.path.join(self.work, "out")
        self.n_records = 0
        self.start_ms = self.stop_ms = 0.0

    def start(self, seconds: float) -> None:
        """Stage the segments and start the pipeline on the seed segment;
        its (cold) first batch runs in the background until ``await_seed``."""
        from franzoxide_spark.manager import ConnectorManager

        events = pq.read_table(os.path.join(self.data_dir, "events.parquet"),
                               columns=["user_id", "props", "ts"])
        staged = os.path.join(self.work, "staged")
        for d in (self.log, staged):
            os.makedirs(d)
        pq.write_table(_records(events, SEED_RECORDS, 0),
                       os.path.join(self.log, "seg-00000.parquet"))
        for k in range(max(1, int(seconds / PERIOD_S))):
            first = SEED_RECORDS + k * SEGMENT_RECORDS
            path = os.path.join(staged, f"seg-{k + 1:05d}.parquet")
            pq.write_table(_records(events, SEGMENT_RECORDS, first), path)
            self.segments.append((path, (first + SEGMENT_RECORDS) // N_PARTITIONS))
        self.n_records = SEED_RECORDS + len(self.segments) * SEGMENT_RECORDS
        self.mgr = ConnectorManager(self.spark, _config(self.log, self.out),
                                    os.path.join(self.work, "ckpt"))
        self.mgr.initialize()
        t = time.perf_counter()
        self.mgr.start()
        self.start_ms = (time.perf_counter() - t) * 1e3

    def await_seed(self) -> None:
        self.mgr.process_all_available()
        self.query = _query(self.spark, self.mgr)
        # the seed batch's progress, jobs and files are set-up, not traced
        self._warm_batches = len(self.query.recentProgress)
        self.warm_jobs = frozenset(self.spark.sparkContext.statusTracker()
                                   .getJobIdsForGroup(str(self.query.runId)))
        self._warm_files = set(_sink_files(self.out))

    def open_loop(self) -> None:
        """Publish the segments on schedule (the calling thread is the
        generator), then wait for the pipeline to commit the last one."""
        due: list[float] = []
        t_start = time.time() + PERIOD_S
        for k, (path, _end) in enumerate(self.segments):
            d = t_start + k * PERIOD_S
            while (wait := d - time.time()) > 0:
                time.sleep(min(wait, 0.01))
            os.rename(path, os.path.join(self.log, os.path.basename(path)))
            self.late_ms.append((time.time() - d) * 1e3)
            due.append(d)
        self._await_commit(self.segments[-1][1])
        self.progress = [
            p for p in self.query.recentProgress[self._warm_batches:]
            if p.numInputRows > 0
        ]
        for d, (_path, end_off) in zip(due, self.segments):
            for p in self.progress:
                ends = _end_offsets(p)
                if len(ends) == N_PARTITIONS and min(ends.values()) >= end_off:
                    self.lat_ms.append((_batch_end_s(p) - d) * 1e3)
                    break
        t = time.perf_counter()
        self.mgr.stop()
        self.stop_ms = (time.perf_counter() - t) * 1e3

    def _await_commit(self, end_offset: int, timeout_s: float = 60.0) -> None:
        """Wait until every partition is committed up to ``end_offset``.

        ``processAllAvailable`` alone can return early: a trigger that read
        the log just before the last rename reports "no new data" after the
        wait has begun."""
        deadline = time.monotonic() + timeout_s
        while True:
            self.mgr.process_all_available()
            last = self.query.lastProgress
            ends = _end_offsets(last) if last is not None else {}
            if len(ends) == N_PARTITIONS and min(ends.values()) >= end_offset:
                return
            if time.monotonic() > deadline:
                return  # check() reports the segments never committed
            time.sleep(0.05)

    def check(self) -> list[str]:
        failures = []
        if len(self.lat_ms) != len(self.segments):
            failures.append(
                f"{len(self.segments) - len(self.lat_ms)} segments never committed")
        lost, dup = _check_exactly_once(self.spark, self.out, self.n_records)
        if lost or dup:
            failures.append(f"sink output: {lost} lost, {dup} duplicated")
        return failures

    def layers(self) -> dict[str, float]:
        progress = self.progress
        sizes = [n for path, n in _sink_files(self.out).items()
                 if path not in self._warm_files]

        def mean(key: str) -> float:
            return sum(p.durationMs.get(key, 0) for p in progress) / len(progress)

        return {
            "source.latest_offset_ms": mean("latestOffset"),
            "source.get_batch_ms": mean("getBatch"),
            "sink.add_batch_ms": mean("addBatch"),
            "sink.files_written": float(len(sizes)),
            "sink.bytes_per_record": sum(sizes) / (self.n_records - SEED_RECORDS),
            "stream.batch_ms": mean("triggerExecution"),
            "stream.batches": float(len(progress)),
            "stream.wal_commit_ms": mean("walCommit"),
            "stream.commit_offsets_ms": mean("commitOffsets"),
            "stream.backlog_records_max": float(max(p.numInputRows for p in progress)),
            "generator.late_ms_max": max(self.late_ms),
            "manager.start_ms": self.start_ms,
            "manager.stop_ms": self.stop_ms,
        }
