"""Partitioned object-store sink for KafkaRecord streams.

Re-expresses the reference's S3 sink (s3.rs) on Spark's streaming file
sinks:

- buffer-until-``flush.size``-then-flush (s3.rs:522-578) -> the micro-batch
  itself is the flush unit (``maxOffsetsPerTrigger`` on the source bounds
  it; ``rotate.interval.ms`` -> processing-time trigger, B5);
- group-by (topic, partition) one-object-per-group (s3.rs:613-633) ->
  ``partitionBy`` directory layout + one file per partition dir per batch;
- formats: JSON-lines envelope (A18), raw-bytes concat (A19), plus the
  declared-but-unimplemented Parquet (B2) and compression (B6) as plain
  writer options; Avro (B1) gated on the spark-avro package being present;
- partitioners: default ``{topic}/{partition}`` (A15), Hive time layout
  ``{topic}/year=/month=/day=/hour=`` (A16), field-based (A17/B3 — the
  reference parses the enum then falls back; here it's real);
- S3/MinIO client config (s3.rs:417-461: path-style, static creds,
  endpoint) -> hadoop ``fs.s3a.*`` configuration.

Delivery semantics: the reference is at-most-once (buffer cleared before
upload, offsets committed regardless of sink outcome — s3.rs:565-573,
kafka.rs:264-265). Here the native streaming file sink commits files
through its metadata log under the query checkpoint -> end-to-end
exactly-once. The bytes format goes through foreachBatch with
deterministic object keys (idempotent overwrite on replay).

One write path: streamed batches (:meth:`ObjectSink.start`) and pushed
batches (``ingest.push.PushBatchSink.flush``) both go through
:meth:`ObjectSink.layout` and :meth:`ObjectSink.configure`. Whether a
streamed batch is already clustered by partition is declared by its
source (``sources.registry.clusters_by_partition``, passed in by
``ConnectorManager``), never guessed by the sink or set by the user.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from franzoxide_spark.config import ConnectorConfig
from franzoxide_spark.errors import ConfigError, SinkError
from franzoxide_spark.functions.envelope import (
    custom_time_partition_cols,
    envelope_json,
    time_partition_cols,
)

FORMATS = ("json", "bytes", "parquet", "avro", "iceberg")
PARTITIONERS = ("default", "time", "field")


def _headers_json(col: F.Column) -> F.Column:
    """map<string,string> -> rendered JSON object string. The reference's
    format_as_json ALWAYS emits a headers member — ``{}`` when the record
    carried none (s3.rs:268-279) — so an empty/NULL map renders as '{}'
    rather than omitting the key."""
    return F.to_json(F.coalesce(col, F.create_map().cast("map<string,string>")))


class ObjectSink:
    """One configured sink connector -> a started streaming query."""

    def __init__(self, spark: SparkSession, connector: ConnectorConfig, checkpoint_root: str):
        self.spark = spark
        self.connector = connector
        cfg = connector.config
        self.format = cfg.get("format.class", "json").lower()
        if self.format not in FORMATS:
            raise ConfigError(
                f"connector {connector.name!r}: unknown format.class {self.format!r}"
            )
        self.partitioner = cfg.get("partitioner.class", "default").lower()
        if self.partitioner not in PARTITIONERS:
            raise ConfigError(
                f"connector {connector.name!r}: unknown partitioner.class"
                f" {self.partitioner!r}"
            )
        self.partition_field = cfg.get("partition.field")
        if self.partitioner == "field" and not self.partition_field:
            raise ConfigError(
                f"connector {connector.name!r}: field partitioner needs"
                " 'partition.field'"
            )
        # a partition.field named like a KafkaRecord envelope column would
        # make layout() add a second column of that name — corrupting the
        # written envelope and the layout keys (r13 review; the custom
        # time pattern already validates its reserved name the same way)
        if self.partitioner == "field" and self.partition_field in {
            "topic", "partition", "offset", "timestamp",
            "key", "value", "headers",
        }:
            raise ConfigError(
                f"connector {connector.name!r}: partition.field"
                f" {self.partition_field!r} collides with a KafkaRecord"
                " envelope column — rename the payload field or use a"
                " different partitioner"
            )
        # B4: custom time partition pattern (time_partition_pattern,
        # connector.proto:210) — only meaningful for the time partitioner
        self.time_pattern = cfg.get("time.partition.pattern")
        if self.time_pattern and self.partitioner != "time":
            raise ConfigError(
                f"connector {connector.name!r}: 'time.partition.pattern'"
                " requires partitioner.class=time"
            )
        self.compression = cfg.get("compression", None)
        self.prefix = cfg.get("s3.prefix", "data")
        self.checkpoint = os.path.join(checkpoint_root, connector.name)
        self.path = self._resolve_path(cfg)
        # The bytes writer puts whole objects itself (no Hadoop committer):
        # local paths, file:// URIs, and s3a://'s3:// (via the same s3.*
        # client config as the bucket bootstrap) are supported; any other
        # scheme would silently become a local directory literally named
        # 'scheme:/...' — fail fast instead of appearing to commit.
        if self.format == "bytes" and "://" in self.path and not self.path.startswith(
            ("file://", "s3a://", "s3://")
        ):
            raise ConfigError(
                f"connector {connector.name!r}: format.class=bytes supports"
                f" local paths, file://, and s3a://'s3:// targets, not"
                f" {self.path!r}"
            )
        # the bytes writer lays out {topic}/{partition}_{minoffset}.bin
        # itself — a configured time/field partitioner would be silently
        # ignored (while still paying layout()'s derived columns and its
        # per-batch shuffle): fail fast like the other config
        # contradictions above (r13 review)
        if self.format == "bytes" and self.partitioner != "default":
            raise ConfigError(
                f"connector {connector.name!r}: format.class=bytes writes"
                " fixed {topic}/{partition}_{offset}.bin objects and"
                f" supports partitioner.class=default only, not"
                f" {self.partitioner!r}"
            )
        self.trigger_ms = cfg.get("rotate.interval.ms")

    def _resolve_path(self, cfg: dict[str, str]) -> str:
        # Local override for broker/object-store-less environments & tests.
        base = cfg.get("path.base")
        if base:
            return os.path.join(base, self.prefix)
        bucket = cfg.get("s3.bucket.name")
        if not bucket:
            raise ConfigError(
                f"connector {self.connector.name!r}: need s3.bucket.name or path.base"
            )
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        endpoint = cfg.get("s3.endpoint")
        if endpoint:  # MinIO: path-style + explicit endpoint (s3.rs:417-430)
            hconf.set("fs.s3a.endpoint", endpoint)
            hconf.set("fs.s3a.path.style.access", "true")
        if cfg.get("s3.access.key"):  # static creds (s3.rs:431-443)
            hconf.set("fs.s3a.access.key", cfg["s3.access.key"])
            hconf.set("fs.s3a.secret.key", cfg.get("s3.secret.key", ""))
        return f"s3a://{bucket}/{self.prefix}"

    # -- layout ------------------------------------------------------------
    def layout(
        self, records: DataFrame, *, clustered: bool
    ) -> tuple[DataFrame, list[str]]:
        """``records`` laid out for this sink: the frame to write and its
        partition columns, shared by streamed and pushed batches.

        Derives the partition columns (``{topic}/{partition}``, the Hive
        time layout or a custom time pattern, or a payload field), then
        clusters the batch by them so each partition directory gets one
        file per batch. Without clustering every (directory x task x
        batch) emits its own file: 531 files for 1,000 records under the
        time partitioner. The shuffle is skipped when ``clustered`` and the
        layout is the default: the source already puts each (topic,
        partition) in exactly one read task, which the manager learns from
        ``sources.registry.clusters_by_partition``. Time and field layouts
        always shuffle. For ``json`` the frame is the encoded envelope
        (``value``) next to the partition columns."""
        if self.partitioner == "time" and self.time_pattern:
            derived = custom_time_partition_cols(
                F.col("timestamp"), self.time_pattern
            )
        elif self.partitioner == "time":
            y, m, d, h = time_partition_cols(F.col("timestamp"))
            # zero-padded month/day/hour directory names, matching the
            # reference layout (s3.rs:165-177 {:02}) and this repo's
            # time_partition_key golden (month=01, not month=1)
            derived = [("year", y)] + [
                (name, F.format_string("%02d", col))
                for name, col in (("month", m), ("day", d), ("hour", h))
            ]
        elif self.partitioner == "field":
            # field value extracted from the JSON payload (B3/A17 made real)
            field = F.get_json_object(
                F.col("value").cast("string"), f"$.{self.partition_field}"
            )
            derived = [(self.partition_field, F.coalesce(field, F.lit("__null__")))]
        else:
            derived = []
        df = records.select("*", *[col.alias(name) for name, col in derived])
        parts = ["topic", *([name for name, _ in derived] or ["partition"])]
        if not (clustered and self.partitioner == "default"):
            df = df.repartition(*parts)
        if self.format == "json":
            df = df.select(
                *parts,
                envelope_json(
                    F.col("topic"),
                    F.col("partition"),
                    F.col("offset"),
                    F.col("timestamp"),
                    F.col("key"),
                    F.col("value"),
                    _headers_json(F.col("headers")),
                ).alias("value"),
            )
        return df, parts

    # -- writers -----------------------------------------------------------
    def configure(self, writer, parts: list[str]):
        """Point a ``DataStreamWriter`` or ``DataFrameWriter`` over a
        :meth:`layout` frame at this sink: file format, directory layout,
        target path and compression. Not for ``bytes``, which writes its
        own objects (:meth:`write_bytes_batch`)."""
        writer = writer.format("text" if self.format == "json" else self.format)
        writer = writer.partitionBy(*parts).option("path", self.path)
        if self.compression and self.format in ("json", "parquet"):
            writer = writer.option("compression", self.compression)
        return writer

    def _check_format_available(self) -> None:
        """Fail fast (before touching the stream) when the format needs a
        jar/catalog this deployment doesn't have."""
        if self.format == "avro":
            # py4j resolves a MISSING class path to a JavaPackage object
            # without raising (it only errors on call), so attribute
            # probing was a no-op check (r13 review) — Class.forName
            # genuinely throws when the jar is absent
            try:
                self.spark._jvm.java.lang.Class.forName(
                    "org.apache.spark.sql.avro.AvroFileFormat"
                )
            except Exception as e:
                raise SinkError(
                    "avro format requires the spark-avro package on the"
                    " classpath (not present in this environment)"
                ) from e
        if self.format == "iceberg":
            if not self.spark.conf.get(
                "spark.sql.catalog.spark_catalog.type", None
            ) and not self.spark.conf.get("spark.sql.catalog.iceberg", None):
                raise SinkError(
                    "iceberg format requires iceberg-spark-runtime on the"
                    " classpath and a configured catalog (e.g."
                    " spark.sql.catalog.iceberg) — not present in this"
                    " environment; the write path is writeStream"
                    f".format('iceberg').toTable('{self.connector.name}')"
                )

    def start(self, records: DataFrame, *, clustered: bool = False):
        """Attach this sink to a (streaming) KafkaRecord DataFrame and start.
        ``clustered``: the source puts each (topic, partition) of a batch
        in one read task (see :meth:`layout`)."""
        self._check_format_available()
        # A21: reference sinks ensure the target bucket at initialize
        # (s3.rs:463-496); s3a never creates buckets itself. Gate on BOTH
        # schemes _put_object accepts — an s3:// bytes target must bootstrap
        # its bucket too, not fail later with NoSuchBucket executor-side.
        if self.path.startswith(("s3a://", "s3://")) and self.connector.config.get(
            "s3.bucket.ensure", "true"
        ).lower() == "true":
            from franzoxide_spark.sinks.bucket import ensure_bucket

            ensure_bucket(self.connector.config)
        df, parts = self.layout(records, clustered=clustered)
        if self.format == "bytes":  # per-group concat objects
            writer = df.writeStream.foreachBatch(self.write_bytes_batch)
        else:
            writer = self.configure(df.writeStream, parts)
        writer = writer.option("checkpointLocation", self.checkpoint)
        if self.trigger_ms:
            writer = writer.trigger(processingTime=f"{self.trigger_ms} milliseconds")
        return writer.queryName(self.connector.name).start()

    def write_bytes_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """A19 bytes-concat: one object per (topic, partition) group, raw
        ``value`` bytes concatenated with no delimiter (s3.rs:674-688).

        Executor-side distributed write via applyInPandas — no driver
        collect. Object keys are ``{topic}/{partition}_{min_offset}.bin``:
        deterministic per input group, so a replayed epoch overwrites the
        same keys (idempotent; fixes the reference's same-timestamp
        collision, s3.rs:140-147). Object-store targets go through
        :func:`_put_object` (the analog of the reference's PutObject,
        s3.rs:301-348) with the connector's ``s3.*`` client config.
        """
        base = self.path
        cfg = dict(self.connector.config)

        def write_group(pdf):
            import pandas as pd

            pdf = pdf.sort_values("offset")
            topic = pdf["topic"].iloc[0]
            part = int(pdf["partition"].iloc[0])
            key = f"{topic}/{part}_{int(pdf['offset'].min())}.bin"
            # tombstones (value IS NULL) contribute zero bytes — bytes(None)
            # raised TypeError and killed the micro-batch (r13 review)
            payload = b"".join(
                bytes(v) for v in pdf["value"] if v is not None
            )
            _put_object(base, key, payload, cfg)
            return pd.DataFrame({"key": [key], "n": [len(pdf)]})

        (
            batch_df.select("topic", "partition", "offset", "value")
            .groupBy("topic", "partition")
            .applyInPandas(write_group, schema="key string, n long")
            .collect()  # small: one row per group — forces the write
        )


# Per-worker boto3 client cache for the bytes writer: one client per
# distinct s3.* config per Python worker process, not per group.
_S3_CLIENTS: dict[frozenset, object] = {}


def _put_object(base: str, key: str, data: bytes, cfg: dict[str, str]) -> None:
    """Whole-object write for the bytes format, executor-side.

    Mirrors the reference's upload_to_s3 PutObject of one in-memory byte
    buffer per group (s3.rs:301-348): local paths and ``file://`` URIs
    write through the OS; ``s3a://``/``s3://`` URIs PUT via boto3 built
    from the same ``s3.*`` keys (endpoint / path-style / static creds,
    s3.rs:417-461) the bucket bootstrap uses. The bytes format carries
    opaque payloads, so there is no Hadoop committer to route through —
    object-per-group PUT with deterministic keys IS the commit protocol,
    and replays overwrite idempotently."""
    if base.startswith(("s3a://", "s3://")):
        bucket, _, prefix = base.split("://", 1)[1].partition("/")
        ck = frozenset(
            (k, v) for k, v in cfg.items() if k.startswith("s3.")
        )
        client = _S3_CLIENTS.get(ck)
        if client is None:
            from franzoxide_spark.sinks.bucket import build_client

            client = _S3_CLIENTS[ck] = build_client(cfg)
        full_key = f"{prefix}/{key}".lstrip("/")
        client.put_object(Bucket=bucket, Key=full_key, Body=data)
        return
    root = base[len("file://"):] if base.startswith("file://") else base
    full = os.path.join(root, key)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    with open(full, "wb") as f:
        f.write(data)
