"""EP2 push-ingest data plane (transport-independent).

Re-expresses the reference SinkStream semantics (src/grpc/service.rs:102-335):

- record_batch -> ``put`` into the routed sink, reply RecordAck carrying one
  RecordId (topic, partition, offset) per record with success=true, or an
  empty-id ack with success=false and the error message on failure
  (service.rs:185-227).
- flush        -> sink ``flush``, reply FlushResponse echoing request_id
  with success/error (service.rs:229-320).
- heartbeat    -> Heartbeat reply with the server's current epoch-millis
  (service.rs:118-134).

The handler is deliberately transport-free: the gRPC wiring
(:mod:`franzoxide_spark.ingest.grpc_server`) is a thin, availability-gated
adapter, so the whole protocol state machine is testable in-process without
grpcio — mirroring the reference's own client flow (test_grpc_sink.py:26-88:
batch of 10 JSON records, then flush, then objects appear under
``data/test-topic/``).

Where the reference buffers in the Rust sink and uploads on flush
(s3.rs:522-578), the Spark side buffers KafkaRecords driver-side and on
flush materializes ONE DataFrame and writes it through the streaming
ObjectSink's own write path (``ObjectSink.layout``, then
``ObjectSink.configure`` or its bytes writer) — a batch write with
identical layout, so pushed records and streamed records are
indistinguishable to readers. A pushed batch is never declared clustered
by partition (``createDataFrame`` spreads rows regardless of it), so the
layout shuffle always runs. Per-batch ingest stays O(batch) Python (the
wire handed us Python objects already); everything from flush onward is
JVM-side."""

from __future__ import annotations

import logging
import time

from pyspark.sql import SparkSession

from franzoxide_spark.config import ConnectorConfig
from franzoxide_spark.errors import ConfigError, SinkError
from franzoxide_spark.ingest import protowire as pw
from franzoxide_spark.sinks.object_sink import ObjectSink
from franzoxide_spark.sources.kafka import KAFKA_RECORD_SCHEMA


class PushBatchSink:
    """Buffer-then-flush sink for pushed records, written through
    ObjectSink's one write path (layout columns, clustering, envelope
    encoding, writer setup) so each partition directory holds the same
    lines the streaming path writes for the same records."""

    def __init__(
        self, spark: SparkSession, connector: ConnectorConfig, checkpoint_root: str
    ):
        self.spark = spark
        self.sink = ObjectSink(spark, connector, checkpoint_root)
        if self.sink.format not in ("json", "parquet", "bytes"):
            # flush() has batch writers for json/parquet/bytes ONLY —
            # avro/iceberg previously fell through to the bytes branch
            # and landed pushed data as raw .bin concatenations silently
            # unreadable in the configured format (r13 review)
            raise ConfigError(
                f"connector {connector.name!r}: push ingest supports"
                " format.class json/parquet/bytes, not"
                f" {self.sink.format!r}"
            )
        self._buffer: list[pw.KafkaRecord] = []

    def put(self, records: list[pw.KafkaRecord]) -> None:
        self._buffer.extend(records)

    def flush(self) -> int:
        """Write all buffered records; returns the record count flushed."""
        if not self._buffer:
            return 0
        rows = [
            (r.topic, r.partition, r.offset, r.timestamp, r.key, r.value, r.headers)
            for r in self._buffer
        ]
        n = len(rows)
        # the buffer clears only AFTER a successful write: clearing first
        # meant a failed write dropped every buffered record while the
        # client's flush RETRY acked success over an empty buffer —
        # silent loss under the at-least-once contract (r13 review)
        df = self.spark.createDataFrame(rows, KAFKA_RECORD_SCHEMA)
        sink = self.sink
        if sink.format in ("json", "parquet"):
            # a streaming FileStreamSink governs its directory through
            # _spark_metadata: batch-appended files there are INVISIBLE
            # to Spark readers (the log filters them out), so pushed
            # records would ack success yet never be readable (r13
            # review). Refuse loudly — a push connector must own its
            # path (distinct path.base/s3.prefix from any streaming
            # sink).
            # probe through the Hadoop FileSystem API so the guard also
            # covers s3a://, file://, hdfs:// targets — the local
            # os.path check silently skipped object stores, the exact
            # silent-loss mode this guard exists to prevent (r14 advice)
            meta_exists: bool
            try:
                jvm = self.spark._jvm
                hconf = self.spark._jsc.hadoopConfiguration()
                jpath = jvm.org.apache.hadoop.fs.Path(
                    sink.path, "_spark_metadata"
                )
                meta_exists = jpath.getFileSystem(hconf).exists(jpath)
            except Exception as probe_err:
                import os as _os

                if "://" in sink.path:
                    # a transient object-store auth/network error must
                    # not silently disable the guard on exactly the
                    # remote targets it exists for — fail the flush; the
                    # client's at-least-once retry re-probes (r14 ADVICE)
                    raise SinkError(
                        f"connector {sink.connector.name!r}: could not"
                        f" probe {sink.path!r} for a streaming sink's"
                        " _spark_metadata log"
                        f" ({type(probe_err).__name__}: {probe_err});"
                        " refusing to flush rather than risk writing"
                        " files a FileStreamSink reader would never see."
                        " Retry the flush once the filesystem is"
                        " reachable."
                    ) from probe_err
                logging.getLogger(__name__).warning(
                    "push flush: Hadoop-FS _spark_metadata probe failed"
                    " for local path %r (%s: %s); falling back to the"
                    " os.path check",
                    sink.path, type(probe_err).__name__, probe_err,
                )
                meta_exists = _os.path.exists(
                    _os.path.join(sink.path, "_spark_metadata")
                )
            if meta_exists:
                raise SinkError(
                    f"connector {sink.connector.name!r}: target"
                    f" {sink.path!r} is governed by a streaming sink's"
                    " _spark_metadata log — batch-pushed files would be"
                    " invisible to Spark readers. Give the push"
                    " connector its own path.base/s3.prefix."
                )
        df, parts = sink.layout(df, clustered=False)
        if sink.format == "bytes":
            sink.write_bytes_batch(df, epoch_id=int(time.time() * 1000))
        else:
            sink.configure(df.write.mode("append"), parts).save()
        self._buffer = []
        return n


class SinkStreamHandler:
    """The SinkStream request -> response state machine (service.rs:102-335).

    One handler per stream connection. ``handle`` maps every SinkRequest to
    exactly one SinkResponse, same as the reference's loop."""

    def __init__(self, sink: PushBatchSink):
        self.sink = sink

    def handle(self, req: pw.SinkRequest) -> pw.SinkResponse:
        if req.heartbeat is not None:
            return pw.SinkResponse(
                heartbeat=pw.Heartbeat(timestamp=int(time.time() * 1000))
            )
        if req.record_batch is not None:
            batch = req.record_batch
            try:
                self.sink.put(batch.records)
            except Exception as e:  # mirror service.rs:185-203 error ack
                return pw.SinkResponse(
                    ack=pw.RecordAck(
                        record_ids=[],
                        success=False,
                        error_message=f"Failed to put records to sink connector: {e}",
                    )
                )
            return pw.SinkResponse(
                ack=pw.RecordAck(
                    record_ids=[
                        pw.RecordId(r.topic, r.partition, r.offset)
                        for r in batch.records
                    ],
                    success=True,
                )
            )
        if req.flush is not None:
            try:
                self.sink.flush()
            except Exception as e:  # service.rs:277-299
                return pw.SinkResponse(
                    flush_response=pw.FlushResponse(
                        request_id=req.flush.request_id,
                        success=False,
                        error_message=f"Failed to flush sink connector: {e}",
                    )
                )
            return pw.SinkResponse(
                flush_response=pw.FlushResponse(
                    request_id=req.flush.request_id, success=True
                )
            )
        return pw.SinkResponse(
            error=pw.ConnectorError(
                error_message="empty SinkRequest (no oneof member set)",
                error_code="BAD_REQUEST",
            )
        )

    def handle_stream(self, requests):
        """Bidirectional-stream shape: one response per request, in order."""
        for req in requests:
            yield self.handle(req)
