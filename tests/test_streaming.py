"""Structured Streaming tests: the connector pipeline end-to-end (file
source standing in for Kafka — same KafkaRecord schema and downstream
plan), checkpoint-recovery idempotence, watermark late-data semantics, and
the bytes sink. These cover the streaming-only behaviors the DuckDB oracle
cannot (SURVEY.md §5)."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from franzoxide_spark.config import parse_config
from franzoxide_spark.manager import ConnectorManager
from franzoxide_spark.queries.envelope import kafka_records_from_events

try:  # the transformWithState control plane needs the protobuf package
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    _HAS_PROTOBUF = True
except ImportError:
    _HAS_PROTOBUF = False


def _write_record_files(spark, sf_dir, out_dir, n_files=2):
    """Materialize KafkaRecord-schema parquet from the events fixture."""
    rec = kafka_records_from_events(spark, sf_dir).withColumn(
        "headers",
        F.create_map(F.lit("content-type"), F.lit("application/json")),
    ).drop("headers_json")
    rec = rec.select("topic", "partition", "offset", "timestamp", "key", "value", "headers")
    total = rec.count()
    half = total // n_files
    for i in range(n_files):
        chunk = rec.filter(
            (F.col("offset") % n_files) == i
        )
        chunk.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, f"chunk{i}"))
    # flatten: file source watches a single dir of parquet files
    flat = os.path.join(out_dir, "flat")
    os.makedirs(flat, exist_ok=True)
    for i, f in enumerate(glob.glob(os.path.join(out_dir, "chunk*", "*.parquet"))):
        os.link(f, os.path.join(flat, f"part{i}.parquet"))
    return flat, total, half


def _pipeline_config(in_path, out_base):
    return parse_config(
        {
            "kafka": {"bootstrap_servers": [], "group_id": "t"},
            "connectors": [
                {
                    "name": "file-source",
                    "connector_class": "file",
                    "connector_type": "source",
                    "topics": ["events"],
                    "config": {"path": in_path, "files.per.trigger": "1"},
                },
                {
                    "name": "json-sink",
                    "connector_class": "io.rustconnect.S3SinkConnector",
                    "connector_type": "sink",
                    "topics": ["events"],
                    "config": {
                        "path.base": out_base,
                        "s3.prefix": "data",
                        "format.class": "json",
                        "partitioner.class": "default",
                    },
                },
            ],
        }
    )


def test_pipeline_end_to_end_and_checkpoint_idempotence(spark, sf_dir, tmp_path):
    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    out_base = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cfg = _pipeline_config(in_dir, out_base)

    mgr = ConnectorManager(spark, cfg, ckpt)
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    st = mgr.status()
    assert st["file-source"]["state"] == "RUNNING"
    mgr.stop()
    assert mgr.status()["json-sink"]["state"] == "STOPPED"

    files = glob.glob(os.path.join(out_base, "data", "topic=events", "partition=*", "*.txt"))
    assert files, "no output files written"
    lines = []
    for fp in files:
        with open(fp) as f:
            lines += [ln for ln in f.read().splitlines() if ln]
    assert len(lines) == total
    env = json.loads(lines[0])
    assert env["topic"] == "events"
    assert env["headers"] == {"content-type": "application/json"}
    assert ("value_format" in env) == isinstance(env["value"], str)

    # restart on the same checkpoint: nothing new to read -> no duplicates
    mgr2 = ConnectorManager(spark, cfg, ckpt)
    mgr2.initialize()
    mgr2.start()
    mgr2.process_all_available()
    mgr2.stop()
    lines2 = []
    for fp in glob.glob(
        os.path.join(out_base, "data", "topic=events", "partition=*", "*.txt")
    ):
        with open(fp) as f:
            lines2 += [ln for ln in f.read().splitlines() if ln]
    assert len(lines2) == total, "checkpoint restart duplicated records"


def test_time_partitioner_layout(spark, sf_dir, tmp_path):
    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    out_base = str(tmp_path / "out")
    cfg = _pipeline_config(in_dir, out_base)
    cfg.connectors[1].config["partitioner.class"] = "time"
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()
    dirs = glob.glob(
        os.path.join(out_base, "data", "topic=events", "year=*", "month=*", "day=*", "hour=*")
    )
    assert dirs, "no Hive time-partition directories"
    # fixture events are all Jan 2024; month/day/hour dirs are zero-padded
    # to match the reference layout (s3.rs:165-177 {:02})
    assert all("year=2024" in d and "month=01" in d for d in dirs)


def test_custom_time_partition_pattern_layout(spark, sf_dir, tmp_path):
    """B4 (time_partition_pattern, connector.proto:210): a non-default
    '/'-separated date_format pattern drives the partition directory
    layout, with named segments becoming Hive column names."""
    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    out_base = str(tmp_path / "out")
    cfg = _pipeline_config(in_dir, out_base)
    cfg.connectors[1].config["partitioner.class"] = "time"
    cfg.connectors[1].config["time.partition.pattern"] = "'dt'=yyyy-MM-dd/'hr'=HH"
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()
    dirs = glob.glob(
        os.path.join(out_base, "data", "topic=events", "dt=*", "hr=*")
    )
    assert dirs, "no custom time-partition directories"
    assert all("dt=2024-01-" in d for d in dirs)  # fixture events: Jan 2024

    # bare segments get positional pt{i} names
    from franzoxide_spark.config import ConnectorConfig
    from franzoxide_spark.errors import ConfigError
    from franzoxide_spark.sinks.object_sink import ObjectSink

    snk = ConnectorConfig(
        "x", "object", "sink", topics=["t"],
        config={
            "path.base": str(tmp_path),
            "partitioner.class": "time",
            "time.partition.pattern": "yyyy/MM",
        },
    )
    from franzoxide_spark.sources.kafka import KAFKA_RECORD_SCHEMA

    records = spark.createDataFrame([], KAFKA_RECORD_SCHEMA)
    _, parts = ObjectSink(spark, snk, str(tmp_path)).layout(
        records, clustered=False
    )
    assert parts == ["topic", "pt0", "pt1"]

    # pattern without the time partitioner is a config error
    with pytest.raises(ConfigError, match="time.partition.pattern"):
        ObjectSink(
            spark,
            ConnectorConfig(
                "y", "object", "sink", topics=["t"],
                config={
                    "path.base": str(tmp_path),
                    "time.partition.pattern": "yyyy/MM",
                },
            ),
            str(tmp_path),
        )


def test_rate_source_generates_records(spark, tmp_path):
    """Synthetic-load source: KafkaRecord-shaped rows from the rate
    source, streamed to a memory sink until rows arrive."""
    import time

    from franzoxide_spark.config import ConnectorConfig, KafkaConfig
    from franzoxide_spark.sources.registry import build_source

    conn = ConnectorConfig(
        name="rate-src",
        connector_class="rate",
        connector_type="source",
        topics=["synthetic"],
        config={"rows.per.second": "500"},
    )
    records = build_source(spark, KafkaConfig(), conn)
    q = (
        records.writeStream.outputMode("append")
        .format("memory")
        .queryName("rate_out")
        .option("checkpointLocation", str(tmp_path / "rate_ckpt"))
        .start()
    )
    try:
        n = 0
        for _ in range(30):  # up to ~15s
            time.sleep(0.5)
            n = spark.sql("SELECT count(*) n FROM rate_out").collect()[0]["n"]
            if n > 0:
                break
        assert n > 0, "rate source produced no records"
        row = spark.sql("SELECT * FROM rate_out LIMIT 1").collect()[0]
        assert row["topic"] == "synthetic"
        assert bytes(row["value"]).startswith(b'{"id":')
    finally:
        q.stop()


def test_memory_debug_sink(spark, sf_dir, tmp_path):
    """The 'memory' debug sink class streams records to an in-session
    table named after the connector."""
    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    cfg = _pipeline_config(in_dir, str(tmp_path / "out"))
    cfg.connectors[1] = type(cfg.connectors[1])(
        name="mem_dbg",
        connector_class="memory",
        connector_type="sink",
        topics=["events"],
    )
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()
    assert spark.sql("SELECT count(*) n FROM mem_dbg").collect()[0]["n"] == total


def test_field_partitioner_layout(spark, sf_dir, tmp_path):
    """A17/B3: partition by a field extracted from the JSON payload;
    non-JSON payloads land in the __null__ partition."""
    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    out_base = str(tmp_path / "out")
    cfg = _pipeline_config(in_dir, out_base)
    cfg.connectors[1].config.update(
        {"partitioner.class": "field", "partition.field": "k"}
    )
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()
    dirs = glob.glob(os.path.join(out_base, "data", "topic=events", "k=*"))
    names = {os.path.basename(d) for d in dirs}
    assert "k=__null__" in names, names       # raw:N payloads
    assert any(n != "k=__null__" for n in names), names  # real k values


def test_sink_config_errors(spark, tmp_path):
    from franzoxide_spark.config import ConnectorConfig
    from franzoxide_spark.errors import ConfigError
    from franzoxide_spark.sinks.object_sink import ObjectSink

    def mk(cfg):
        return ObjectSink(
            spark,
            ConnectorConfig("x", "object", "sink", topics=["t"], config=cfg),
            str(tmp_path),
        )

    with pytest.raises(ConfigError, match="format.class"):
        mk({"path.base": str(tmp_path), "format.class": "xml"})
    with pytest.raises(ConfigError, match="partitioner.class"):
        mk({"path.base": str(tmp_path), "partitioner.class": "zodiac"})
    with pytest.raises(ConfigError, match="partition.field"):
        mk({"path.base": str(tmp_path), "partitioner.class": "field"})
    with pytest.raises(ConfigError, match="s3.bucket.name or path.base"):
        mk({})


def test_json_file_source_variant(spark, sf_dir, tmp_path):
    """file source with file.format=json: binary columns round-trip as
    base64 through Spark's JSON lines format."""
    rec = kafka_records_from_events(spark, sf_dir).withColumn(
        "headers", F.create_map(F.lit("h"), F.lit("v"))
    ).drop("headers_json")
    in_dir = str(tmp_path / "jin")
    rec.coalesce(1).write.json(in_dir)
    cfg = _pipeline_config(in_dir, str(tmp_path / "out"))
    cfg.connectors[0].config["file.format"] = "json"
    cfg.connectors[0].config["path"] = in_dir
    cfg.connectors[0].config.pop("files.per.trigger", None)
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()
    lines = []
    for fp in glob.glob(
        os.path.join(str(tmp_path / "out"), "data", "topic=events", "partition=*", "*.txt")
    ):
        lines += [ln for ln in open(fp).read().splitlines() if ln]
    assert len(lines) == rec.count()
    env = json.loads(lines[0])
    assert env["topic"] == "events" and "offset" in env


def test_bytes_sink_concat(spark, sf_dir, tmp_path):
    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    out_base = str(tmp_path / "out")
    cfg = _pipeline_config(in_dir, out_base)
    cfg.connectors[1].config["format.class"] = "bytes"
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()
    objs = glob.glob(os.path.join(out_base, "data", "events", "*.bin"))
    assert objs, "no bytes objects written"
    blob = open(sorted(objs)[0], "rb").read()
    # values are either raw:N or {"k": N} — concatenated with no delimiter
    assert blob.startswith((b"raw:", b'{"k"'))


def test_watermark_drops_late_data(spark, tmp_path):
    """Windowed count with a 30-min watermark in append mode: a record
    older than the watermark is dropped; closed windows emit exactly once."""
    in_dir = str(tmp_path / "wm_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "ts timestamp, v long"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        for i, f in enumerate(glob.glob(str(tmp_path / name / "*.parquet"))):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    import datetime as dt

    t = lambda h, m: (dt.datetime(2024, 1, 1, h, m), 1)
    write_batch("b1", [t(10, 0), t(10, 30), t(12, 0)])  # watermark -> 11:30

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in_dir)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("window.start", "HH:mm").alias("w"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_out")
        .option("checkpointLocation", str(tmp_path / "wm_ckpt"))
        .start()
    )
    q.processAllAvailable()
    write_batch("b2", [t(10, 15), t(13, 0)])  # 10:15 late -> dropped
    q.processAllAvailable()
    write_batch("b3", [t(14, 0)])  # watermark -> 13:30, closes the 12:00 window
    q.processAllAvailable()
    q.stop()
    rows = {r["w"]: r["n"] for r in spark.sql("SELECT * FROM wm_out").collect()}
    assert rows.get("10:00") == 2, f"late record not dropped: {rows}"
    assert rows.get("12:00") == 1, f"12:00 window not closed: {rows}"


def test_multi_sink_fanout(spark, sf_dir, tmp_path):
    """One source feeding two sinks (json + parquet) — the multi-table
    fan-out the reference declares but never implements (GAP.md:17,
    first-sink-only routing at manager.rs:184)."""
    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    out_base = str(tmp_path / "out")
    cfg = _pipeline_config(in_dir, out_base)
    cfg.connectors.append(
        type(cfg.connectors[1])(
            name="pq-sink",
            connector_class="object",
            connector_type="sink",
            topics=["events"],
            config={
                "path.base": out_base,
                "s3.prefix": "pq",
                "format.class": "parquet",
                "partitioner.class": "default",
                "compression": "gzip",
            },
        )
    )
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()
    txt = glob.glob(os.path.join(out_base, "data", "topic=events", "partition=*", "*.txt"))
    pq = glob.glob(os.path.join(out_base, "pq", "topic=events", "partition=*", "*.parquet"))
    assert txt and pq, "both sinks must receive the stream"
    n_pq = spark.read.parquet(os.path.join(out_base, "pq")).count()
    assert n_pq == total


def test_iceberg_sink_gated(spark, tmp_path):
    from franzoxide_spark.config import ConnectorConfig
    from franzoxide_spark.errors import SinkError
    from franzoxide_spark.sinks.object_sink import ObjectSink

    snk = ConnectorConfig(
        name="ice",
        connector_class="object",
        connector_type="sink",
        topics=["t"],
        config={"path.base": str(tmp_path), "format.class": "iceberg"},
    )
    sink = ObjectSink(spark, snk, str(tmp_path / "ckpt"))
    with pytest.raises(SinkError, match="iceberg"):
        sink.start(None)


def test_stateful_running_counts(spark, tmp_path):
    """applyInPandasWithState: per-key state evolves across micro-batches
    and survives inside the checkpoint."""
    from franzoxide_spark.streaming.stateful import running_counts

    in_dir = str(tmp_path / "st_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "user_id bigint, value double"

    def feed(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / name)
        )
        for f in glob.glob(str(tmp_path / name / "*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    feed("b1", [(1, 2.0), (1, 3.0), (2, 5.0)])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in_dir)
    counts = running_counts(stream, "user_id", "value")
    q = (
        counts.writeStream.outputMode("update")
        .format("memory")
        .queryName("st_out")
        .option("checkpointLocation", str(tmp_path / "st_ckpt"))
        .start()
    )
    q.processAllAvailable()
    feed("b2", [(1, 10.0)])
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM st_out").collect()
    # last emission for key 1 must accumulate across batches: 3 events, 15.0
    latest = {}
    for r in rows:
        latest[r["key"]] = (r["n_events"], r["total"])
    assert latest["1"] == (3, 15.0), rows
    assert latest["2"] == (1, 5.0), rows


@pytest.mark.parametrize("uri_scheme", ["", "file://"])
def test_bytes_sink_replay_idempotent(spark, sf_dir, tmp_path, uri_scheme):
    """Replaying the same micro-batch must overwrite the same object keys
    (the foreachBatch path's exactly-once contract on retry) — both for a
    plain path.base and for an FS URI target (the non-local write path)."""
    from franzoxide_spark.config import ConnectorConfig
    from franzoxide_spark.sinks.object_sink import ObjectSink

    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    batch = spark.read.parquet(in_dir)
    snk = ConnectorConfig(
        name="b",
        connector_class="object",
        connector_type="sink",
        topics=["events"],
        config={
            "path.base": uri_scheme + str(tmp_path / "out"),
            "format.class": "bytes",
        },
    )
    sink = ObjectSink(spark, snk, str(tmp_path / "ckpt"))
    sink.write_bytes_batch(batch, 0)
    first = {
        f: open(f, "rb").read()
        for f in glob.glob(str(tmp_path / "out" / "data" / "events" / "*.bin"))
    }
    sink.write_bytes_batch(batch, 1)  # replay
    second = {
        f: open(f, "rb").read()
        for f in glob.glob(str(tmp_path / "out" / "data" / "events" / "*.bin"))
    }
    assert first.keys() == second.keys(), "replay created different object keys"
    assert first == second, "replay changed object contents"


def test_streaming_reingest_of_sink_output(spark, sf_dir, tmp_path):
    """Chained pipelines: the envelope objects one pipeline writes are a
    valid streaming SOURCE for the next (parse_envelope_lines on
    readStream.text)."""
    from franzoxide_spark.sources.envelope_reader import parse_envelope_lines

    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    out_base = str(tmp_path / "out")
    cfg = _pipeline_config(in_dir, out_base)
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()

    lines = (
        spark.readStream.option("recursiveFileLookup", "true")
        .text(os.path.join(out_base, "data"))
    )
    records = parse_envelope_lines(lines)
    q = (
        records.selectExpr("topic", "offset")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("reingest")
        .option("checkpointLocation", str(tmp_path / "ri_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n = spark.sql("SELECT count(*) n FROM reingest").collect()[0]["n"]
    assert n == total


def test_envelope_round_trip(spark, sf_dir, tmp_path):
    """records -> sink -> envelope reader -> records: base64 payloads are
    byte-exact; raw-JSON payloads parsed-equal; metadata exact."""
    import json as _json

    from franzoxide_spark.sources.envelope_reader import read_envelope_objects

    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    out_base = str(tmp_path / "out")
    cfg = _pipeline_config(in_dir, out_base)
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()

    back = read_envelope_objects(spark, os.path.join(out_base, "data")).collect()
    orig = {
        r["offset"]: r
        for r in spark.read.parquet(in_dir).collect()
    }
    assert len(back) == total
    for r in back:
        o = orig[r["offset"]]
        assert r["timestamp"] == o["timestamp"]
        assert r["headers"] == o["headers"]
        ov, rv = bytes(o["value"]), bytes(r["value"])
        if ov.startswith(b"raw:"):
            assert rv == ov  # base64 branch: byte-exact
        else:
            assert _json.loads(rv) == _json.loads(ov)  # JSON branch: parsed-equal
        # keys are 'user-N' (base64 branch) or empty
        assert bytes(r["key"]) == bytes(o["key"])


def test_sink_clusters_files_per_partition(spark, sf_dir, tmp_path):
    """Small-file control: one file per partition dir per micro-batch."""
    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"), n_files=1)
    out_base = str(tmp_path / "out")
    cfg = _pipeline_config(in_dir, out_base)
    cfg.connectors[0].config.pop("files.per.trigger", None)  # one batch
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()
    part_dirs = glob.glob(os.path.join(out_base, "data", "topic=events", "partition=*"))
    for d in part_dirs:
        files = glob.glob(os.path.join(d, "*.txt"))
        assert len(files) == 1, f"{d} has {len(files)} files (want 1/batch)"


def _replay_pipeline(log, out_base, sink_extra=None, feeders=1):
    """kafka_replay feeder(s) -> json sink config over a staged log."""
    return parse_config(
        {
            "kafka": {"bootstrap_servers": [], "group_id": "t"},
            "connectors": [
                *[
                    {
                        "name": f"replay-{i}",
                        "connector_class": "kafka_replay",
                        "connector_type": "source",
                        "topics": ["events"],
                        "config": {"path": log},
                    }
                    for i in range(feeders)
                ],
                {
                    "name": "json-sink",
                    "connector_class": "object",
                    "connector_type": "sink",
                    "topics": ["events"],
                    "config": {
                        "path.base": out_base,
                        "s3.prefix": "data",
                        "format.class": "json",
                        "partitioner.class": "default",
                        **(sink_extra or {}),
                    },
                },
            ],
        }
    )


def _batch_plans(spark, sf_dir, tmp_path, cfg, log, n_partitions):
    """Run ``cfg`` over two slices of a staged replay log (two batches)
    and return each batch's executed plan."""
    from franzoxide_spark.sources.replay import stage_replay

    stage_replay(spark, sf_dir, log, n_partitions=n_partitions, max_offset=20)
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    plans = []
    try:
        (query,) = mgr._queries.values()
        for slice_start in (20, None):
            query.processAllAvailable()
            plans.append(
                query._jsq.streamingQuery().lastExecution()
                .executedPlan().toString()
            )
            if slice_start is not None:
                stage_replay(
                    spark, sf_dir, log, n_partitions=n_partitions,
                    min_offset=slice_start,
                )
    finally:
        mgr.stop()
    return plans


def test_clustered_source_default_layout_writes_without_shuffle(
    spark, sf_dir, tmp_path
):
    """kafka_replay declares that each (topic, partition) of a batch sits
    in one read task, so the default layout skips the sink's shuffle and
    still writes one file per partition directory per batch — here with
    more partitions than read tasks, so each task writes several
    directories."""
    n = 2 * spark.sparkContext.defaultParallelism + 1
    log, out = str(tmp_path / "log"), str(tmp_path / "out")
    plans = _batch_plans(
        spark, sf_dir, tmp_path, _replay_pipeline(log, out), log, n
    )
    for plan in plans:
        assert "Exchange" not in plan, plan
    part_dirs = glob.glob(os.path.join(out, "data", "topic=events", "partition=*"))
    assert len(part_dirs) == n
    for d in part_dirs:
        files = glob.glob(os.path.join(d, "*.txt"))
        assert len(files) == len(plans), f"{d} has {len(files)} files"
    lines = [
        ln
        for f in glob.glob(os.path.join(out, "data", "**", "*.txt"), recursive=True)
        for ln in open(f).read().splitlines()
        if ln
    ]
    assert len(lines) == spark.read.parquet(log).count()


@pytest.mark.parametrize(
    "sink_extra,feeders",
    [
        ({"partitioner.class": "time"}, 1),
        ({"partitioner.class": "field", "partition.field": "k"}, 1),
        ({}, 2),
    ],
    ids=["time", "field", "two-feeders"],
)
def test_sink_shuffles_unless_layout_and_source_allow(
    spark, sf_dir, tmp_path, sink_extra, feeders
):
    """Time and field layouts cut across Kafka partitions, and two feeders
    can both carry one (topic, partition): all three keep the shuffle."""
    log = str(tmp_path / "log")
    cfg = _replay_pipeline(log, str(tmp_path / "out"), sink_extra, feeders)
    plans = _batch_plans(spark, sf_dir, tmp_path, cfg, log, 4)
    for plan in plans:
        assert "Exchange" in plan, plan


def test_clusters_by_partition_is_declared_by_the_source():
    from franzoxide_spark.config import ConnectorConfig, KafkaConfig
    from franzoxide_spark.sources.registry import clusters_by_partition

    def source(cls, tasks_max=1):
        return ConnectorConfig(
            "s", cls, "source", tasks_max=tasks_max, topics=["t"],
            config={"path": "unused"},
        )

    kafka = KafkaConfig(bootstrap_servers=["localhost:9092"])
    for cls in ("kafka", "io.rustconnect.KafkaSourceConnector"):
        assert clusters_by_partition(kafka, source(cls, None))
        assert clusters_by_partition(kafka, source(cls, 1))
        assert not clusters_by_partition(kafka, source(cls, 2))
    assert clusters_by_partition(kafka, source("kafka_replay"))
    assert not clusters_by_partition(kafka, source("file"))
    assert not clusters_by_partition(kafka, source("rate"))


def test_streaming_session_window(spark, tmp_path):
    """session_window in a real streaming query (batch-equiv is q27)."""
    import datetime as dt

    in_dir = str(tmp_path / "sw_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "ts timestamp, user_id bigint"
    rows = [
        (dt.datetime(2024, 1, 1, 10, 0), 1),
        (dt.datetime(2024, 1, 1, 10, 10), 1),   # same session (gap < 30m)
        (dt.datetime(2024, 1, 1, 12, 0), 1),    # new session
        (dt.datetime(2024, 1, 1, 10, 5), 2),
        (dt.datetime(2024, 1, 1, 23, 0), 99),   # watermark pusher
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "sw_b1")
    )
    for f in glob.glob(str(tmp_path / "sw_b1" / "*.parquet")):
        os.link(f, os.path.join(in_dir, "b1.parquet"))
    stream = spark.readStream.schema(schema).parquet(in_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.date_format("session_window.start", "HH:mm").alias("s"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sw_out")
        .option("checkpointLocation", str(tmp_path / "sw_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {(r["user_id"], r["s"]): r["n"] for r in spark.sql("SELECT * FROM sw_out").collect()}
    assert got.get((1, "10:00")) == 2, got   # merged session of two events
    assert got.get((1, "12:00")) == 1, got
    assert got.get((2, "10:05")) == 1, got


def test_stateful_unbounded_dedup(spark, tmp_path):
    """Custom stateful dedup: a member re-arriving MANY batches later is
    still suppressed (beyond any watermark horizon)."""
    from franzoxide_spark.streaming.stateful import stateful_dedup

    in_dir = str(tmp_path / "sd_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "k bigint, m string"

    def feed(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / name)
        )
        for f in glob.glob(str(tmp_path / name / "*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    feed("b1", [(1, "a"), (1, "b"), (2, "a")])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in_dir)
    out = stateful_dedup(stream, "k", "m")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sd_out")
        .option("checkpointLocation", str(tmp_path / "sd_ckpt"))
        .start()
    )
    q.processAllAvailable()
    feed("b2", [(1, "a"), (1, "c"), (2, "a")])  # 'a' duplicates suppressed
    q.processAllAvailable()
    q.stop()
    got = sorted((r["key"], r["member"]) for r in spark.sql("SELECT * FROM sd_out").collect())
    assert got == [("1", "a"), ("1", "b"), ("1", "c"), ("2", "a")], got


def test_stateful_bloom_dedup_streaming(spark, tmp_path):
    """Bloom-variant dedup: same first-seen-once contract as the exact
    variant across micro-batches (no false positives at this tiny load)."""
    from franzoxide_spark.streaming.stateful import stateful_dedup_bloom

    in_dir = str(tmp_path / "bd_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "k bigint, m string"

    def feed(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / name)
        )
        for f in glob.glob(str(tmp_path / name / "*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    feed("b1", [(1, "a"), (1, "b"), (2, "a")])
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in_dir)
    out = stateful_dedup_bloom(stream, "k", "m", capacity=1000, fpp=0.01)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("bd_out")
        .option("checkpointLocation", str(tmp_path / "bd_ckpt"))
        .start()
    )
    q.processAllAvailable()
    feed("b2", [(1, "a"), (1, "c"), (2, "a")])  # 'a' duplicates suppressed
    q.processAllAvailable()
    q.stop()
    got = sorted((r["key"], r["member"]) for r in spark.sql("SELECT * FROM bd_out").collect())
    assert got == [("1", "a"), ("1", "b"), ("1", "c"), ("2", "a")], got


def test_stateful_bloom_dedup_state_stays_bounded():
    """Drive the Bloom update function directly across many 'batches':
    the state blob must stay EXACTLY m/8 bytes however many members are
    inserted (the unbounded exact-set variant grows linearly), false
    negatives must never occur, and the false-positive rate must hold."""
    import pandas as pd

    from franzoxide_spark.streaming.stateful import (
        bloom_params,
        make_bloom_dedup_update,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    capacity, fpp = 2000, 0.01
    m, _k = bloom_params(capacity, fpp)
    update = make_bloom_dedup_update(capacity, fpp)
    state = FakeState()
    emitted: list[str] = []
    sizes = set()
    for batch in range(20):
        members = [f"member-{batch}-{i}" for i in range(100)]
        # half of each later batch re-sends earlier members -> must be suppressed
        if batch > 0:
            members[:50] = [f"member-0-{i}" for i in range(50)]
        pdf = pd.DataFrame({"member": members})
        for out in update(("key1",), iter([pdf]), state):
            emitted.extend(out["member"])
        sizes.add(len(state.get[0]))
    assert sizes == {m // 8}, f"state size drifted: {sizes}"
    # no duplicates ever emitted (one-sided error)
    assert len(emitted) == len(set(emitted))
    # ~1550 distinct members inserted; false-positive suppressions must be
    # rare at fpp=1% (allow generous slack for hash variance)
    distinct_sent = 100 + 19 * 50
    assert len(emitted) >= distinct_sent * 0.97, (len(emitted), distinct_sent)


def test_streaming_dedup_within_watermark(spark, tmp_path):
    in_dir = str(tmp_path / "dd_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "ts timestamp, k string"
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, 10, 0), "a"),
        (dt.datetime(2024, 1, 1, 10, 1), "a"),  # duplicate key within watermark
        (dt.datetime(2024, 1, 1, 10, 2), "b"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "dd_b1")
    )
    for f in glob.glob(str(tmp_path / "dd_b1" / "*.parquet")):
        os.link(f, os.path.join(in_dir, "b1.parquet"))
    stream = spark.readStream.schema(schema).parquet(in_dir)
    dedup = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
    q = (
        dedup.writeStream.outputMode("append")
        .format("memory")
        .queryName("dd_out")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    ks = sorted(r["k"] for r in spark.sql("SELECT * FROM dd_out").collect())
    assert ks == ["a", "b"]


def test_restart_with_new_options(spark, sf_dir, tmp_path):
    """B14 UpdateConfig (connector.proto:23,106-108 — declared, never
    implemented by the reference): restart(name, new_options) applies the
    change and resumes from the SAME checkpoint, losing and duplicating
    nothing across the restart."""
    rec = (
        kafka_records_from_events(spark, sf_dir)
        .withColumn("headers", F.create_map(F.lit("h"), F.lit("v")))
        .drop("headers_json")
        .select("topic", "partition", "offset", "timestamp", "key", "value", "headers")
    )
    total = rec.count()
    in_dir = str(tmp_path / "in" / "flat")
    os.makedirs(in_dir, exist_ok=True)
    for i in range(2):
        rec.filter((F.col("offset") % 2) == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / f"chunk{i}"))

    def link_chunk(i):
        for j, f in enumerate(glob.glob(str(tmp_path / f"chunk{i}" / "*.parquet"))):
            os.link(f, os.path.join(in_dir, f"c{i}_{j}.parquet"))

    link_chunk(0)
    out_base = str(tmp_path / "out")
    cfg = _pipeline_config(in_dir, out_base)
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()

    def read_lines():
        lines = []
        for fp in glob.glob(
            os.path.join(out_base, "data", "topic=events", "partition=*", "*.txt")
        ):
            with open(fp) as f:
                lines += [ln for ln in f.read().splitlines() if ln]
        return lines

    n_first = len(read_lines())
    assert 0 < n_first < total  # only chunk0 has been ingested

    mgr.restart("file-source", {"files.per.trigger": "4"})
    assert mgr.config.connector("file-source").config["files.per.trigger"] == "4"
    assert mgr.status()["file-source->json-sink"]["state"] == "RUNNING"

    link_chunk(1)
    mgr.process_all_available()
    mgr.stop()
    lines = read_lines()
    assert len(lines) == total, "records lost or duplicated across restart"
    offsets = [json.loads(ln)["offset"] for ln in lines]
    assert len(set(offsets)) == total, "duplicate offsets after restart"

    # restarting an unknown connector is a config error
    import pytest as _pytest

    from franzoxide_spark.errors import ConfigError

    with _pytest.raises(ConfigError, match="no connector"):
        mgr.restart("nope", {})


def test_parquet_sink_schema_evolution_merge(spark, sf_dir, tmp_path):
    """B8 minimal schema evolution (reference GAP.md:12,18 — aspirational
    there): parquet batches written with an ADDED column read back as the
    union schema under mergeSchema, old rows NULL in the new column."""
    from franzoxide_spark.sources.parquet_reader import read_sink_parquet

    rec = (
        kafka_records_from_events(spark, sf_dir)
        .withColumn("headers", F.create_map(F.lit("h"), F.lit("v")))
        .drop("headers_json")
        .select("topic", "partition", "offset", "timestamp", "key", "value", "headers")
    )
    out = str(tmp_path / "evo")
    old = rec.filter(F.col("offset") % 2 == 0)
    new = rec.filter(F.col("offset") % 2 == 1).withColumn(
        "schema_version", F.lit(2)
    )
    old.write.partitionBy("topic", "partition").parquet(out)
    new.write.mode("append").partitionBy("topic", "partition").parquet(out)

    merged = read_sink_parquet(spark, out, merge_schema=True)
    assert "schema_version" in merged.columns
    assert merged.count() == rec.count()
    nulls = merged.filter(F.col("schema_version").isNull()).count()
    assert nulls == old.count(), "old rows must surface as NULL in the new column"
    assert (
        merged.filter(F.col("schema_version") == 2).count() == new.count()
    )
    # without mergeSchema the planner picks one footer's schema — the
    # single-footer fast path stays available for non-evolved datasets
    plain = read_sink_parquet(spark, out, merge_schema=False)
    assert plain.count() == rec.count()


def test_restart_sink_with_new_options(spark, sf_dir, tmp_path):
    """B14 on the SINK side: a compression change applied via restart()
    resumes from the same checkpoint; records written before and after the
    restart together cover the input exactly once."""
    in_dir, total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    out_base = str(tmp_path / "out")
    cfg = _pipeline_config(in_dir, out_base)
    cfg.connectors[1].config["format.class"] = "parquet"
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    n_before = spark.read.parquet(os.path.join(out_base, "data")).count()
    assert 0 < n_before <= total

    mgr.restart("json-sink", {"compression": "gzip"})
    # feed one more chunk through the restarted sink
    extra = (
        kafka_records_from_events(spark, sf_dir)
        .withColumn("headers", F.create_map(F.lit("h"), F.lit("v")))
        .drop("headers_json")
        .select("topic", "partition", "offset", "timestamp", "key", "value", "headers")
        .withColumn("offset", F.col("offset") + 10_000_000)
    )
    extra.coalesce(1).write.parquet(str(tmp_path / "extra"))
    for i, f in enumerate(glob.glob(str(tmp_path / "extra" / "*.parquet"))):
        os.link(f, os.path.join(in_dir, f"extra{i}.parquet"))
    mgr.process_all_available()
    mgr.stop()
    back = spark.read.parquet(os.path.join(out_base, "data"))
    assert back.count() == 2 * total, "loss or duplication across sink restart"
    assert back.select("offset").distinct().count() == 2 * total
    # the restarted writer actually picked up the gzip option
    gz = glob.glob(os.path.join(out_base, "data", "**", "*.gz.parquet"), recursive=True)
    assert gz, "no gzip-compressed files after sink restart"


def test_pipe_key_collision_free():
    """Connector names containing the '+' / '->' separators must not map
    distinct pipelines to one key (r14 advice: {'a','b+c'} vs {'a+b','c'}
    collided, cross-wiring _queries/_query_members state)."""
    from types import SimpleNamespace as NS

    k = ConnectorManager._pipe_key
    assert k((NS(name="a"), NS(name="b+c")), NS(name="s")) != k(
        (NS(name="a+b"), NS(name="c")), NS(name="s")
    )
    assert k((NS(name="a->b"),), NS(name="c")) != k(
        (NS(name="a"),), NS(name="b->c")
    )
    # normal names keep the human-readable status() label unchanged
    assert k((NS(name="file-source"),), NS(name="json-sink")) == (
        "file-source->json-sink"
    )


def test_restart_rollback_stops_new_config_queries(spark, sf_dir, tmp_path):
    """When restart() affects several pipelines and a later one fails to
    come up, pipelines that ALREADY restarted with the new config must be
    stopped before the old config is restored — otherwise get_config
    reports options that differ from what the live query actually runs
    (r14 advice)."""
    import pytest as _pytest

    in_dir, _total, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in"))
    cfg = _pipeline_config(in_dir, str(tmp_path / "out1"))
    import dataclasses

    sink2 = dataclasses.replace(
        cfg.connectors[1], name="json-sink-2",
        config={**cfg.connectors[1].config, "path.base": str(tmp_path / "out2")},
    )
    cfg.connectors.append(sink2)
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    try:
        assert len(mgr._queries) == 2
        orig = mgr._start_pipeline
        seen = []  # files.per.trigger value per _start_pipeline call

        def failing(srcs, snk):
            seen.append(srcs[0].config.get("files.per.trigger"))
            if len(seen) == 2:  # second NEW-config restart fails
                raise RuntimeError("boom: sink2 restart failed")
            orig(srcs, snk)

        mgr._start_pipeline = failing
        with _pytest.raises(RuntimeError, match="boom"):
            mgr.restart("file-source", {"files.per.trigger": "4"})
        mgr._start_pipeline = orig
        # config rolled back ...
        assert (
            mgr.config.connector("file-source").config["files.per.trigger"]
            == "1"
        )
        # ... and BOTH pipelines are back up on the OLD config: the two
        # rollback restarts saw the old option, not the new one
        assert seen == ["4", "4", "1", "1"]
        assert len(mgr._queries) == 2
        assert all(q.isActive for q in mgr._queries.values())
        mgr.process_all_available()  # old pipelines actually flow
    finally:
        mgr.stop()


def test_fan_in_feeder_change_refused_against_old_checkpoint(
    spark, sf_dir, tmp_path
):
    """r13 A8 follow-up (r14 verdict #7): feeders union into ONE query
    per sink, so a checkpoint written by one feeder set cannot be
    resumed by another — Spark aborts mid-stream with an opaque
    assertion ('There are [1] sources in the checkpoint offsets and now
    there are [2]'). The manager's feeder manifest turns that into an
    upfront ConfigError at start()."""
    import dataclasses

    import pytest as _pytest

    from franzoxide_spark.errors import ConfigError

    in1, total1, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in1"))
    in2, _t2, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in2"))
    cfg = _pipeline_config(in1, str(tmp_path / "out"))
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()

    # same feeder set: resumes cleanly (manifest matches)
    mgr_same = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr_same.initialize()
    mgr_same.start()
    mgr_same.process_all_available()
    mgr_same.stop()

    # grown feeder set: refused up front, not mid-stream
    cfg2 = _pipeline_config(in1, str(tmp_path / "out"))
    src2 = dataclasses.replace(
        cfg2.connectors[0], name="file-source-2",
        config={**cfg2.connectors[0].config, "path": in2},
    )
    cfg2.connectors.insert(1, src2)
    mgr2 = ConnectorManager(spark, cfg2, str(tmp_path / "ckpt"))
    mgr2.initialize()
    with _pytest.raises(ConfigError, match="feeder set changed"):
        mgr2.start()

    # no partial delivery happened and the original output is intact
    files = set(
        glob.glob(os.path.join(str(tmp_path / "out"), "data", "**", "*.txt"),
                  recursive=True)
    )
    lines = [ln for f in files for ln in open(f).read().splitlines() if ln.strip()]
    assert len(lines) == total1


def test_failed_start_never_pins_feeder_manifest(
    spark, sf_dir, tmp_path, monkeypatch
):
    """r14 ADVICE: the manifest used to be written BEFORE the query
    started, so a failed start pinned the feeder set against a checkpoint
    with no offset log and a later legitimate feeder change was falsely
    refused. Now the manifest is written only after a successful start,
    and a mismatch is tolerated when the checkpoint has no offsets dir."""
    import dataclasses
    import json as _json

    import franzoxide_spark.manager as manager_mod

    in1, total1, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in1"))
    in2, total2, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in2"))
    cfg = _pipeline_config(in1, str(tmp_path / "out"))
    ckpt_root = str(tmp_path / "ckpt")
    sink_name = cfg.connectors[1].name

    # 1) a start that fails before the query runs leaves NO manifest
    mgr = ConnectorManager(spark, cfg, ckpt_root)
    mgr.initialize()

    def boom(*a, **k):
        raise RuntimeError("boom: source build failed")

    monkeypatch.setattr(manager_mod, "build_source", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="boom"):
        mgr.start()
    monkeypatch.undo()
    manifest = os.path.join(ckpt_root, sink_name, "feeders.json")
    assert not os.path.exists(manifest)

    # 2) even a STALE manifest without an offsets log must not refuse a
    #    feeder change — simulate pre-fix debris
    os.makedirs(os.path.join(ckpt_root, sink_name), exist_ok=True)
    with open(manifest, "w") as f:
        _json.dump(["file-source"], f)

    cfg2 = _pipeline_config(in1, str(tmp_path / "out"))
    src2 = dataclasses.replace(
        cfg2.connectors[0], name="file-source-2",
        config={**cfg2.connectors[0].config, "path": in2},
    )
    cfg2.connectors.insert(1, src2)
    mgr2 = ConnectorManager(spark, cfg2, ckpt_root)
    mgr2.initialize()
    mgr2.start()  # no ConfigError: no committed offsets to resume
    mgr2.process_all_available()
    mgr2.stop()

    # 3) the successful start recorded the NEW feeder set
    with open(manifest) as f:
        assert _json.load(f) == ["file-source", "file-source-2"]
    files = set(
        glob.glob(os.path.join(str(tmp_path / "out"), "data", "**", "*.txt"),
                  recursive=True)
    )
    lines = [ln for f in files for ln in open(f).read().splitlines() if ln.strip()]
    assert len(lines) == total1 + total2


def test_transform_with_state_running_counts(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: same running-counts contract as
    the applyInPandasWithState variant, on the typed-state API (RocksDB
    state store). Skipped cleanly if this build lacks the RocksDB
    provider."""
    from franzoxide_spark.streaming.stateful import running_counts_tws

    in_dir = str(tmp_path / "tws_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "user_id bigint, value double"

    def feed(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / name)
        )
        for f in glob.glob(str(tmp_path / name / "*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        feed("b1", [(1, 2.0), (1, 3.0), (2, 5.0)])
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        counts = running_counts_tws(stream, "user_id", "value")
        try:
            q = (
                counts.writeStream.outputMode("update")
                .format("memory")
                .queryName("tws_out")
                .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
                .start()
            )
            q.processAllAvailable()
        except Exception as e:
            # HARD ENV LIMIT (root-caused r9 with the worker faulthandler
            # on): the TWS driver worker dies pre-init on
            # `ImportError: cannot import name 'descriptor' from
            # 'google.protobuf'` — pyspark's transformWithState control
            # plane (stateful_processor_api_client -> StateMessage_pb2)
            # requires the `protobuf` pip package, absent from this
            # sandbox (no installs). Same dependency class as the grpcio
            # gate, so gate like avro/iceberg rather than fail; the test
            # self-un-gates on an env that ships protobuf.
            if _HAS_PROTOBUF:
                raise  # protobuf present -> a real failure, not the gate
            pytest.skip(f"transformWithState unavailable in this env: {e}")
        feed("b2", [(1, 10.0)])
        q.processAllAvailable()
        q.stop()
        rows = spark.sql("SELECT * FROM tws_out").collect()
        latest = {}
        for r in rows:
            latest[r["key"]] = (r["n_events"], r["total"])
        assert latest["1"] == (3, 15.0), rows
        assert latest["2"] == (1, 5.0), rows
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


# --------------------------------------------------------------------------
# streaming incremental near-dup (streaming/stateful.py:streaming_neardup)
# --------------------------------------------------------------------------


def test_streaming_neardup_matches_batch_pairs(spark, sf_dir, tmp_path):
    """Two micro-batches through the stateful LSH op must surface exactly
    the batch operator's verified pair set (same signatures, same bands,
    same threshold) — including pairs whose two docs arrived in DIFFERENT
    batches, which is the incremental behavior under test."""
    from franzoxide_spark.operators.dedup import minhash_near_duplicates
    from franzoxide_spark.streaming.stateful import streaming_neardup
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    # split so near-dup pairs straddle the batch boundary
    in_dir = str(tmp_path / "in")
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(in_dir + "/b0")
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(in_dir + "/b1")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    for i, f in enumerate(glob.glob(in_dir + "/b*/**/*.parquet", recursive=True)):
        os.link(f, os.path.join(flat, f"part{i}.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
    )
    out = streaming_neardup(stream, "doc_id", "text", threshold=0.8)
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in spark.sql("select * from neardup_stream").collect()
    }
    expected = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in minhash_near_duplicates(
            docs, "text", "doc_id", threshold=0.8
        ).collect()
    }
    assert got == expected
    assert expected, "fixture should contain at least one near-dup pair"


def test_streaming_neardup_replay_does_not_duplicate_pairs(spark, sf_dir, tmp_path):
    """A doc replayed in a later batch (same doc_id) must not re-pair:
    the bucket state remembers residents, so at-least-once upstream
    delivery cannot double-emit."""
    from franzoxide_spark.streaming.stateful import streaming_neardup

    rows = [(1, "a b c d e f"), (2, "a b c d e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    df.coalesce(1).write.parquet(str(tmp_path / "w0"))
    df.coalesce(1).write.parquet(str(tmp_path / "w1"))  # full replay
    for i, f in enumerate(
        glob.glob(str(tmp_path / "w*") + "/*.parquet")
    ):
        os.link(f, os.path.join(flat, f"part{i}.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(flat)
    )
    out = streaming_neardup(stream, "doc_id", "text", threshold=0.8)
    q = (
        out.writeStream.format("memory")
        .queryName("neardup_replay")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows_out = spark.sql("select * from neardup_replay").collect()
    # identical docs -> jaccard 1.0, found once per shared band bucket on
    # first arrival (4 bands, identical sigs -> up to 4 rows for the one
    # pair) but NEVER again on replay
    pairs = {(r["id_a"], r["id_b"]) for r in rows_out}
    assert pairs == {(1, 2)}
    assert all(r["jaccard"] == 1.0 for r in rows_out)
    assert len(rows_out) <= 4


def test_streaming_sessionize_gap_and_timeout_close(spark, tmp_path):
    """Sessions close two ways: a same-key event past the gap (emits in
    that batch) and watermark-driven idle timeout (emits without any
    further same-key event). Each session emits exactly once."""
    import datetime as dt

    from franzoxide_spark.streaming.stateful import streaming_sessionize

    in_dir = str(tmp_path / "sess_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "ts timestamp, user_id long"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        for f in glob.glob(str(tmp_path / name / "*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    # user 1: two events 10 min apart (one session), then an event 2h
    # later -> closes the first session by gap when it arrives
    write_batch("b1", [(t(10, 0), 1), (t(10, 10), 1)])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out = streaming_sessionize(
        stream, "user_id", "ts", gap_s=1800, watermark="30 minutes"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    q.processAllAvailable()
    write_batch("b2", [(t(12, 0), 1)])  # gap-close of session 1
    q.processAllAvailable()
    # advance the watermark far past 12:00+gap via another key, then one
    # more batch so the pending timeout fires and closes user 1's idle
    # session without any further user-1 event
    write_batch("b3", [(t(15, 0), 2)])
    q.processAllAvailable()
    write_batch("b4", [(t(15, 1), 2)])
    q.processAllAvailable()
    q.stop()
    rows = sorted(
        (
            (r["key"], r["start_s"], r["end_s"], r["n_events"])
            for r in spark.sql("SELECT * FROM sess_out").collect()
        )
    )
    e = lambda h, m: int(dt.datetime(2024, 1, 1, h, m).timestamp())
    assert (
        "1", e(10, 0), e(10, 10), 2
    ) in rows, f"gap-closed session missing: {rows}"
    assert (
        "1", e(12, 0), e(12, 0), 1
    ) in rows, f"timeout-closed idle session missing: {rows}"
    assert len([r for r in rows if r[0] == "1"]) == 2, f"dup emission: {rows}"


def test_streaming_heavy_hitters_exact_when_capacity_ample(spark, tmp_path):
    """With capacity >= distinct items per shard, SpaceSaving is exact:
    counts accumulate across batches with zero error."""
    from franzoxide_spark.streaming.stateful import streaming_heavy_hitters

    in_dir = str(tmp_path / "hh_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "item string"

    def write_batch(name, items):
        spark.createDataFrame([(i,) for i in items], schema).coalesce(
            1
        ).write.mode("overwrite").parquet(str(tmp_path / name))
        for f in glob.glob(str(tmp_path / name / "*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    write_batch("b1", ["a"] * 5 + ["b"] * 2 + ["c"])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out = streaming_heavy_hitters(stream, "item", capacity=16, shards=4)
    q = (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName("hh_out")
        .option("checkpointLocation", str(tmp_path / "hh_ckpt"))
        .start()
    )
    q.processAllAvailable()
    write_batch("b2", ["a"] * 3 + ["c"] * 4)
    q.processAllAvailable()
    q.stop()
    # take the LATEST emission per item (update mode re-emits summaries)
    import collections

    latest: dict = {}
    for r in spark.sql(
        "SELECT * FROM hh_out"
    ).collect():
        latest[r["item"]] = (r["count_min"], r["count_max"])
    assert latest["a"] == (8, 8)
    assert latest["b"] == (2, 2)
    assert latest["c"] == (5, 5)


def test_spacesaving_bounds_state_and_never_undercounts(spark):
    """Force evictions (capacity 2, 4 items): the summary never exceeds
    capacity and count_max >= true count for every surviving item."""
    import pandas as pd

    from franzoxide_spark.streaming.stateful import make_spacesaving_update

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

    st = FakeState()
    fn = make_spacesaving_update(capacity=2)
    stream = ["a", "a", "a", "b", "c", "a", "d", "c", "c"]
    out = list(fn(("0",), iter([pd.DataFrame({"item": stream})]), st))[0]
    assert len(out) <= 2
    true = {"a": 4, "b": 1, "c": 3, "d": 1}
    for r in out.itertuples():
        assert r.count_max >= true[r.item], r
        assert r.count_min <= true[r.item], r
    # the top item by true count must be tracked (guarantee for
    # counts > N/capacity = 4.5 ... a has 4, c has 3; at least the
    # final summary holds 2 entries with count_max >= the evicted mins
    assert set(out["item"]) <= set(true)


def test_sessionize_update_fn_late_events_never_regress_frontier(spark):
    """Cross-batch reordering: a late event must not pull the open
    session's end backwards (end < start) or shorten its timeout; a
    late event near the open session folds in, a far-older one closes
    as a singleton."""
    import pandas as pd

    from franzoxide_spark.streaming.stateful import make_session_update

    class FakeState:
        exists = False
        hasTimedOut = False
        _wm = 0

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return self._wm

    fn = make_session_update(gap_s=1800)
    st = FakeState()

    def run(ts_list):
        # the update fn consumes PRE-COMPUTED epoch seconds ("es", from
        # unix_timestamp in streaming_sessionize) — pandas timestamps are
        # session-tz-localized, so epoch math in the fn was tz-unsafe
        # (r11 review)
        pdf = pd.DataFrame({"es": pd.array(ts_list, dtype="int64")})
        return list(fn(("1",), iter([pdf]), st))[0]

    base = 43200
    out1 = run([base])
    assert len(out1) == 0 and st.get == (base, base, 1)
    # near-late event (within gap of start): folds in, frontier stays
    out2 = run([base - 600])
    assert len(out2) == 0
    assert st.get == (base - 600, base, 2)
    assert st.timeout_ms == (base + 1800) * 1000
    # far-late event (a full hour before the session): closes alone,
    # open session untouched
    out3 = run([base - 3600 - 1801])
    assert [tuple(r) for r in out3.itertuples(index=False)] == [
        ("1", base - 3600 - 1801, base - 3600 - 1801, 1)
    ]
    assert st.get == (base - 600, base, 2)


def test_stateful_factories_validate_on_the_driver():
    """Degenerate sketch parameters must fail at factory time with a
    message naming the argument — not as an opaque ZeroDivisionError /
    min()-of-empty / IndexError crash-loop inside the executor on the
    first record (r11 review)."""
    from franzoxide_spark.streaming.stateful import (
        bloom_params,
        make_quantile_update,
        make_spacesaving_update,
    )

    with pytest.raises(ValueError, match="fpp"):
        bloom_params(100, 1.0)
    with pytest.raises(ValueError, match="fpp"):
        bloom_params(100, 0.0)
    with pytest.raises(ValueError, match="capacity"):
        bloom_params(0, 0.01)
    with pytest.raises(ValueError, match="capacity"):
        make_spacesaving_update(0)
    with pytest.raises(ValueError, match="exactly 3"):
        make_quantile_update(16, qs=(0.5,))


def test_stateful_update_fns_survive_null_rows():
    """Poison-record robustness (r11 review): a null member/event-time
    reaching a state update fn must behave like data (bloom: dedup the
    null like any member, matching the exact variant's set semantics) or
    be skipped (sessionize) — never raise, because a failed micro-batch
    replays from the checkpoint and the query crash-loops forever on one
    bad record."""
    import pandas as pd

    from franzoxide_spark.streaming.stateful import (
        make_bloom_dedup_update,
        make_session_update,
    )

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    # bloom dedup: None dedups like a value — first occurrence emits,
    # repeats (same batch or later) do not
    bloom = make_bloom_dedup_update(1000, 0.01)
    st = FakeState()
    out1 = list(bloom(("k",), iter([pd.DataFrame({"member": ["a", None, None, "a"]})]), st))[0]
    assert len(out1) == 2  # 'a' once, null once
    out2 = list(bloom(("k",), iter([pd.DataFrame({"member": [None, "b"]})]), st))[0]
    assert list(out2["member"]) == ["b"]

    # pd.NA face (string[python]/Arrow-backed dtypes deliver NA, not
    # NaN): same dedup-like-a-value semantics, no ambiguous-truth-value
    # TypeError (r11 ADVICE — the _bloom_positions crash class)
    out_na = list(bloom(("k",), iter(
        [pd.DataFrame({"member": pd.array([pd.NA, "c"], dtype="string")})]
    ), st))[0]
    assert list(out_na["member"]) == ["c"]  # NA deduped against earlier null

    # a literal member equal to the old sentinel text must NOT alias the
    # null slot — tag-byte separation (r11 ADVICE): fresh state sees
    # both the weird-but-real string and a null as distinct members
    bloom2 = make_bloom_dedup_update(1000, 0.01)
    st3 = FakeState()
    out_alias = list(bloom2(("k",), iter(
        [pd.DataFrame({"member": ["\x00<null>", None]})]
    ), st3))[0]
    assert len(out_alias) == 2

    # a REAL non-string member (mistyped column — ints, bytes, Decimal
    # delivered by Arrow) must raise loudly, not hash into the null
    # sentinel: aliasing every value to one slot would emit the first
    # row and silently drop all later distinct members as "duplicates"
    # (r12 ADVICE #2 — silent near-total data loss)
    import pytest as _pytest

    for bad_val in (7, b"bytes", 3.5):
        bloom3 = make_bloom_dedup_update(1000, 0.01)
        st4 = FakeState()
        with _pytest.raises(TypeError, match="must be string"):
            list(bloom3(("k",), iter(
                [pd.DataFrame({"member": pd.array([bad_val], dtype=object)})]
            ), st4))
    # while float('nan') stays a null FACE (float64 member column)
    bloom4 = make_bloom_dedup_update(1000, 0.01)
    st5 = FakeState()
    out_nan = list(bloom4(("k",), iter(
        [pd.DataFrame({"member": [float("nan"), float("nan")]})]
    ), st5))[0]
    assert len(out_nan) == 1

    # sessionize: null epoch rows are skipped; an ALL-null batch with no
    # open session tracks nothing and sets no timeout
    sess = make_session_update(gap_s=1800)
    st2 = FakeState()
    out3 = list(sess(("k",), iter([pd.DataFrame({"es": pd.array([None, None], dtype="Int64")})]), st2))[0]
    assert len(out3) == 0 and not st2.exists
    out4 = list(sess(("k",), iter([pd.DataFrame({"es": pd.array([1000, None], dtype="Int64")})]), st2))[0]
    assert len(out4) == 0 and st2.get == (1000, 1000, 1)


def test_stream_stream_interval_join_late_pair_dropped(spark, tmp_path):
    """Stream-stream watermarked interval join (streaming/joins.py): two
    file streams joined on user_id with p_ts in (v_ts, v_ts + 30 min];
    on-time pairs emit, and a purchase arriving AFTER the watermark has
    passed its matching view's interval is dropped (the state for that
    view is already evicted)."""
    import datetime as dt

    v_dir, p_dir = str(tmp_path / "views"), str(tmp_path / "purchases")
    os.makedirs(v_dir), os.makedirs(p_dir)
    v_schema = "v_ts timestamp, user_id long"
    p_schema = "p_ts timestamp, user_id long"

    def write(dirname, name, schema, rows):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        for f in glob.glob(os.path.join(stage, "*.parquet")):
            os.link(f, os.path.join(dirname, f"{name}.parquet"))

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)

    from franzoxide_spark.streaming.joins import interval_join

    views = spark.readStream.schema(v_schema).parquet(v_dir)
    purchases = spark.readStream.schema(p_schema).parquet(p_dir)
    joined = interval_join(
        views, purchases, on="user_id", left_ts="v_ts", right_ts="p_ts",
        upper="30 minutes", watermark="30 minutes",
    ).select("user_id", "v_ts", "p_ts")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_out")
        .option("checkpointLocation", str(tmp_path / "ssj_ckpt"))
        .start()
    )
    try:
        # batch 1: one on-time pair for u1
        write(v_dir, "v1", v_schema, [(t(10, 0), 1)])
        write(p_dir, "p1", p_schema, [(t(10, 10), 1)])
        q.processAllAvailable()
        # batch 2: advance BOTH watermarks to ~13:30-0:30=13:00 and form a
        # second on-time pair for u9
        write(v_dir, "v2", v_schema, [(t(13, 25), 9)])
        write(p_dir, "p2", p_schema, [(t(13, 30), 9)])
        q.processAllAvailable()
        # batch 3: a purchase for u1 at 10:20 — inside the 10:00 view's
        # interval, but far behind the watermark: dropped, no third pair
        write(p_dir, "p3", p_schema, [(t(10, 20), 1)])
        q.processAllAvailable()
        # keep the clock moving so any (wrongly) buffered late row would
        # have every chance to emit before we assert
        write(v_dir, "v3", v_schema, [(t(15, 0), 7)])
        write(p_dir, "p4", p_schema, [(t(15, 1), 8)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        (r["user_id"], r["v_ts"].strftime("%H:%M"), r["p_ts"].strftime("%H:%M"))
        for r in spark.sql("SELECT * FROM ssj_out").collect()
    )
    assert rows == [(1, "10:00", "10:10"), (9, "13:25", "13:30")], rows


def test_interval_join_batch_matches_explicit_join(spark):
    """Batch face: interval_join builds the same relation as the hand-
    written equi+range join (the q114 oracle's shape)."""
    import datetime as dt

    from franzoxide_spark.streaming.joins import interval_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(t(0), 1), (t(5), 2), (t(40), 1)], "v_ts timestamp, user_id long"
    )
    right = spark.createDataFrame(
        [(t(10), 1), (t(0), 1), (t(50), 1), (t(6), 3)],
        "p_ts timestamp, user_id long",
    )
    got = sorted(
        (r["user_id"], r["v_ts"].minute, r["p_ts"].minute)
        for r in interval_join(
            left, right, on="user_id", left_ts="v_ts", right_ts="p_ts",
            upper="30 minutes",
        ).collect()
    )
    # u1@:00 matches :10 (within 30m, strictly after; :00 excluded, :50 out
    # of bound); u1@:40 matches :50; u2/u3 never match
    assert got == [(1, 0, 10), (1, 40, 50)], got


def test_interval_join_rejects_bad_inputs(spark):
    from franzoxide_spark.streaming.joins import interval_join

    df = spark.createDataFrame([], "ts timestamp, user_id long")
    with pytest.raises(ValueError, match="must differ"):
        interval_join(df, df, on="user_id", left_ts="ts", right_ts="ts")
    with pytest.raises(ValueError, match="missing"):
        interval_join(
            df, df.withColumnRenamed("user_id", "uid"),
            on="user_id", left_ts="ts", right_ts="ts2",
        )
    right = spark.createDataFrame([], "ts2 timestamp, user_id long")
    # ts args referencing absent columns fail in THIS error layer, not as
    # a raw AnalysisException from withWatermark/join (r11 review)
    with pytest.raises(ValueError, match="left_ts 'nope' missing"):
        interval_join(df, right, on="user_id", left_ts="nope", right_ts="ts2")
    with pytest.raises(ValueError, match="right_ts 'nope' missing"):
        interval_join(df, right, on="user_id", left_ts="ts", right_ts="nope")
    # non-key name overlap would silently duplicate in the output and
    # poison downstream references — refused up front (r11 review)
    lval = spark.createDataFrame([], "ts timestamp, user_id long, value double")
    rval = spark.createDataFrame([], "ts2 timestamp, user_id long, value double")
    with pytest.raises(ValueError, match=r"share non-key column names \['value'\]"):
        interval_join(lval, rval, on="user_id", left_ts="ts", right_ts="ts2")
    # pathological collision with the synthesized right-key name
    coll = right.withColumn("__user_id_r", F.lit(1))
    with pytest.raises(ValueError, match="__user_id_r"):
        interval_join(df, coll, on="user_id", left_ts="ts", right_ts="ts2")


def test_interval_join_stream_static_guard_matrix(spark, tmp_path):
    """Streaming-combination guards (r11 review): stream-stream outer
    still demands a watermark; stream-static left_outer (streaming left,
    static right — a combination Spark supports with NO watermark) is
    accepted; the two combinations Spark cannot run (stream-static
    full_outer, static-left/streaming-right left_outer) fail in OUR error
    layer with the real reason instead of a downstream AnalysisException."""
    from franzoxide_spark.streaming.joins import interval_join

    v_dir = str(tmp_path / "v_in")
    os.makedirs(v_dir)
    stream = spark.readStream.schema("v_ts timestamp, user_id long").parquet(v_dir)
    static = spark.createDataFrame([], "p_ts timestamp, user_id long")

    # stream-stream outer without watermark: still refused
    s2 = spark.readStream.schema("p_ts timestamp, user_id long").parquet(v_dir)
    with pytest.raises(ValueError, match="stream-stream left_outer .* watermark"):
        interval_join(stream, s2, on="user_id", left_ts="v_ts",
                      right_ts="p_ts", how="left_outer")
    # stream-static left_outer needs NO watermark — plan builds, stays
    # streaming (this was wrongly rejected before the r11 fix)
    out = interval_join(stream, static, on="user_id", left_ts="v_ts",
                        right_ts="p_ts", how="left_outer")
    assert out.isStreaming
    # unsupported-by-Spark combinations die here with the real reason
    with pytest.raises(ValueError, match="full_outer .* both sides streaming"):
        interval_join(stream, static, on="user_id", left_ts="v_ts",
                      right_ts="p_ts", how="full_outer")
    with pytest.raises(ValueError, match="STATIC left and STREAMING right"):
        interval_join(static.withColumnRenamed("p_ts", "s_ts"), stream,
                      on="user_id", left_ts="s_ts", right_ts="v_ts",
                      how="left_outer")


def test_interval_join_quotes_nonstandard_column_names(spark):
    """The join condition must treat column names literally: a column
    named 'event.ts' (legal, needs backticks) previously mis-parsed as
    struct access inside the f-string F.expr condition (r11 review).
    Same relation as the plain-name batch test, dotted/spaced names."""
    import datetime as dt

    from franzoxide_spark.streaming.joins import interval_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(t(0), 1), (t(40), 1)], ["event.ts", "user id"]
    )
    right = spark.createDataFrame(
        [(t(10), 1), (t(0), 1), (t(50), 1)], ["pay ts", "user id"]
    )
    got = sorted(
        (r["user id"], r["event.ts"].minute, r["pay ts"].minute)
        for r in interval_join(
            left, right, on="user id", left_ts="event.ts",
            right_ts="pay ts", upper="30 minutes",
        ).collect()
    )
    assert got == [(1, 0, 10), (1, 40, 50)], got


def test_foreachbatch_quarantine_side_output(spark, tmp_path):
    """The documented dead-letter usage of quarantine_split: inside
    foreachBatch, good rows land in the main sink and contract-violating
    rows in quarantine with their rule tags — one malformed record never
    stalls the stream, and the two outputs exactly partition the input."""
    import datetime as dt

    from franzoxide_spark.operators import contracts as c

    in_dir = str(tmp_path / "qin")
    os.makedirs(in_dir)
    rows = [
        (i,
         dt.datetime(2024, 1, 1, 10, i % 60),
         float(i % 20) if i % 13 != 0 else -1.0,   # %13 -> negative value
         "click" if i % 7 != 0 else "mystery")     # %7 -> bad type
        for i in range(200)
    ]
    stage = str(tmp_path / "stage")
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double, event_type string"
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    for f in glob.glob(stage + "/*.parquet"):
        os.link(f, os.path.join(in_dir, "b0.parquet"))

    rules = [
        c.in_range("value", 0.0, 100.0),
        c.accepted_values("event_type", ["click", "view", "purchase"]),
    ]
    good_dir, bad_dir = str(tmp_path / "good"), str(tmp_path / "bad")

    def route(batch_df, _bid):
        good, bad = c.quarantine_split(batch_df, rules)
        good.write.mode("append").parquet(good_dir)
        bad.write.mode("append").parquet(bad_dir)

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, value double, event_type string"
    ).parquet(in_dir)
    q = (
        stream.writeStream.foreachBatch(route)
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    good = spark.read.parquet(good_dir)
    bad = spark.read.parquet(bad_dir)
    assert good.count() + bad.count() == 200
    n_bad_expected = len([r for r in rows if r[2] < 0 or r[3] == "mystery"])
    assert bad.count() == n_bad_expected
    tags = {r["violated"] for r in bad.collect()}
    assert "in_range(value)" in " ".join(tags)
    assert "accepted_values(event_type)" in " ".join(tags)
    assert "violated" not in good.columns


def test_stream_stream_outer_join_emits_unmatched_after_watermark(
    spark, tmp_path
):
    """Left-outer stream-stream interval join (streaming/joins.py,
    how='left_outer'): a matched view emits its pair; an UNMATCHED view
    emits null-padded only after the watermark passes its interval bound
    (its state is evicted, so no match can ever arrive) — Spark's
    documented outer-join late-emission contract, the q163 streaming
    face."""
    import datetime as dt

    v_dir, p_dir = str(tmp_path / "views"), str(tmp_path / "purchases")
    os.makedirs(v_dir), os.makedirs(p_dir)
    v_schema = "v_ts timestamp, user_id long"
    p_schema = "p_ts timestamp, user_id long"

    def write(dirname, name, schema, rows):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        for f in glob.glob(os.path.join(stage, "*.parquet")):
            os.link(f, os.path.join(dirname, f"{name}.parquet"))

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)

    from franzoxide_spark.streaming.joins import interval_join

    views = spark.readStream.schema(v_schema).parquet(v_dir)
    purchases = spark.readStream.schema(p_schema).parquet(p_dir)
    joined = interval_join(
        views, purchases, on="user_id", left_ts="v_ts", right_ts="p_ts",
        upper="30 minutes", watermark="30 minutes", how="left_outer",
    ).select("user_id", "v_ts", "p_ts")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssoj_out")
        .option("checkpointLocation", str(tmp_path / "ssoj_ckpt"))
        .start()
    )

    def rows_now():
        return sorted(
            (
                r["user_id"],
                r["v_ts"].strftime("%H:%M"),
                r["p_ts"].strftime("%H:%M") if r["p_ts"] else None,
            )
            for r in spark.sql("SELECT * FROM ssoj_out").collect()
        )

    try:
        # batch 1: u1 matched, u2 unmatched — u2 must NOT emit yet (a
        # match could still arrive inside its interval)
        write(v_dir, "v1", v_schema, [(t(10, 0), 1), (t(10, 0), 2)])
        write(p_dir, "p1", p_schema, [(t(10, 10), 1)])
        q.processAllAvailable()
        assert rows_now() == [(1, "10:00", "10:10")], rows_now()
        # batch 2: advance both watermarks far past 10:30; u2's state is
        # evicted and the null-padded row emits
        write(v_dir, "v2", v_schema, [(t(13, 0), 7)])
        write(p_dir, "p2", p_schema, [(t(13, 1), 8)])
        q.processAllAvailable()
        # one more micro-batch tick: outer results emit on state eviction,
        # which Spark performs in the batch AFTER the watermark advances
        write(p_dir, "p3", p_schema, [(t(13, 2), 8)])
        q.processAllAvailable()
        assert (2, "10:00", None) in rows_now(), rows_now()
    finally:
        q.stop()


def test_stream_stream_full_outer_join_null_pads_both_sides(
    spark, tmp_path
):
    """Full-outer stream-stream interval join (streaming/joins.py,
    how='full_outer'): matched pairs emit immediately; an unmatched VIEW
    and an unmatched (orphaned) PURCHASE each emit null-padded only after
    the watermark passes their interval bound — the symmetric
    reconciliation shape, q176's streaming face."""
    import datetime as dt

    v_dir, p_dir = str(tmp_path / "views"), str(tmp_path / "purchases")
    os.makedirs(v_dir), os.makedirs(p_dir)
    v_schema = "v_ts timestamp, user_id long"
    p_schema = "p_ts timestamp, user_id long"

    def write(dirname, name, schema, rows):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        for f in glob.glob(os.path.join(stage, "*.parquet")):
            os.link(f, os.path.join(dirname, f"{name}.parquet"))

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)

    from franzoxide_spark.streaming.joins import interval_join

    views = spark.readStream.schema(v_schema).parquet(v_dir)
    purchases = spark.readStream.schema(p_schema).parquet(p_dir)
    joined = interval_join(
        views, purchases, on="user_id", left_ts="v_ts", right_ts="p_ts",
        upper="30 minutes", watermark="30 minutes", how="full_outer",
    ).select("user_id", "v_ts", "p_ts")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssfoj_out")
        .option("checkpointLocation", str(tmp_path / "ssfoj_ckpt"))
        .start()
    )

    def rows_now():
        return sorted(
            (
                r["user_id"],
                r["v_ts"].strftime("%H:%M") if r["v_ts"] else None,
                r["p_ts"].strftime("%H:%M") if r["p_ts"] else None,
            )
            for r in spark.sql("SELECT * FROM ssfoj_out").collect()
        )

    try:
        # batch 1: u1 matched; u2 view with no purchase; u3 purchase with
        # no view — NEITHER unmatched row may emit yet (a partner could
        # still arrive inside its interval)
        write(v_dir, "v1", v_schema, [(t(10, 0), 1), (t(10, 0), 2)])
        write(p_dir, "p1", p_schema, [(t(10, 10), 1), (t(10, 10), 3)])
        q.processAllAvailable()
        assert rows_now() == [(1, "10:00", "10:10")], rows_now()
        # advance both watermarks far past every interval bound, then one
        # more tick: outer results emit on state eviction, which Spark
        # performs in the batch AFTER the watermark advances
        write(v_dir, "v2", v_schema, [(t(13, 0), 7)])
        write(p_dir, "p2", p_schema, [(t(13, 1), 8)])
        q.processAllAvailable()
        write(p_dir, "p3", p_schema, [(t(13, 2), 8)])
        q.processAllAvailable()
        got = rows_now()
        assert (2, "10:00", None) in got, got      # view-only, left-padded
        assert (3, None, "10:10") in got, got      # orphan purchase, right-padded
    finally:
        q.stop()


def test_interval_join_full_outer_batch_key_coalesced(spark):
    """Batch full-outer face: unmatched rows on BOTH sides null-pad
    immediately and the join key is surfaced for orphaned right rows
    (coalesced from the renamed right key)."""
    import datetime as dt

    from franzoxide_spark.streaming.joins import interval_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    views = spark.createDataFrame(
        [(t(0), 1), (t(0), 2)], "v_ts timestamp, user_id long"
    )
    purchases = spark.createDataFrame(
        [(t(10), 1), (t(10), 3)], "p_ts timestamp, user_id long"
    )
    out = sorted(
        (r["user_id"], r["v_ts"] is not None, r["p_ts"] is not None)
        for r in interval_join(
            views, purchases, on="user_id", left_ts="v_ts",
            right_ts="p_ts", upper="30 minutes", how="full_outer",
        ).collect()
    )
    assert out == [(1, True, True), (2, True, False), (3, False, True)]


def test_interval_join_outer_batch_requires_no_watermark(spark):
    """Batch left-outer face: unmatched rows null-pad immediately, no
    watermark needed — and the relation equals the inner join plus the
    null-padded complement."""
    import datetime as dt

    from franzoxide_spark.streaming.joins import interval_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    views = spark.createDataFrame(
        [(t(0), 1), (t(0), 2)], "v_ts timestamp, user_id long"
    )
    purchases = spark.createDataFrame(
        [(t(10), 1)], "p_ts timestamp, user_id long"
    )
    out = sorted(
        (r["user_id"], r["p_ts"] is not None)
        for r in interval_join(
            views, purchases, on="user_id", left_ts="v_ts",
            right_ts="p_ts", upper="30 minutes", how="left_outer",
        ).collect()
    )
    assert out == [(1, True), (2, False)]
    with pytest.raises(ValueError, match="inner.*left_outer|left_outer"):
        interval_join(
            views, purchases, on="user_id", left_ts="v_ts",
            right_ts="p_ts", how="full"
        )


def test_dynamic_gap_session_merges_inclusively_at_boundary(spark):
    """Locks the measured r8 semantics the q168/q27 oracles encode: two
    events exactly gap apart MERGE (inclusive), and a purchase's longer
    gap holds the session open where a view's would have closed it."""
    import datetime as dt

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    df = spark.createDataFrame(
        [
            (1, t(0), "view"),       # end 10:10
            (1, t(10), "view"),      # exactly at end -> MERGES, end 10:20
            (1, t(35), "purchase"),  # > end -> new session, end 11:05
            (1, t(55), "view"),      # inside the purchase's 30m window
            (2, t(0), "view"),
            (2, t(11), "view"),      # 11 min > 10m gap -> separate
        ],
        "user_id long, ts timestamp, event_type string",
    )
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    got = sorted(
        (r["user_id"], r["s"].strftime("%H:%M"), r["e"].strftime("%H:%M"), r["n"])
        for r in df.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count("*").alias("n"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n",
        )
        .collect()
    )
    assert got == [
        (1, "10:00", "10:20", 2),
        (1, "10:35", "11:05", 2),
        (2, "10:00", "10:10", 1),
        (2, "10:11", "10:21", 1),
    ], got


def test_dynamic_gap_session_streaming_matches_batch(spark, tmp_path):
    """q168's streaming face: the same dynamic-gap session_window over a
    file stream (watermark + append) emits exactly the batch relation
    once the watermark closes every session."""
    import datetime as dt

    in_dir = str(tmp_path / "dsw_in")
    os.makedirs(in_dir)
    schema = "user_id long, ts timestamp, event_type string"

    def write(name, rows):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        for f in glob.glob(os.path.join(stage, "*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    batch1 = [(1, t(10, 0), "view"), (1, t(10, 5), "purchase"), (2, t(10, 0), "view")]
    batch2 = [(1, t(10, 20), "view"), (7, t(15, 0), "view")]  # 15:00 closes all

    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("10 minutes")
    )
    stream = spark.readStream.schema(schema).parquet(in_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("dsw_out")
        .option("checkpointLocation", str(tmp_path / "dsw_ckpt"))
        .start()
    )
    try:
        write("b1", batch1)
        q.processAllAvailable()
        write("b2", batch2)
        q.processAllAvailable()
        write("b3", [(9, t(20, 0), "view")])  # push watermark past 15:10
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["user_id"], r["s"].strftime("%H:%M"), r["e"].strftime("%H:%M"), r["n_events"])
        for r in spark.sql("SELECT * FROM dsw_out").collect()
    )
    # batch face over the full input, sessions closed
    batch = spark.createDataFrame(batch1 + batch2, schema)
    want = sorted(
        (r["user_id"], r["s"].strftime("%H:%M"), r["e"].strftime("%H:%M"), r["n_events"])
        for r in batch.withColumn("g", F.lit(1))
        .groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("s"),
            F.col("session_window.end").alias("e"),
            "n_events",
        )
        .collect()
    )
    assert got == want, (got, want)
    # the purchase's 30m gap actually shaped user 1's single session:
    # 10:00 view + 10:05 purchase + 10:20 view all merge, end 10:35
    assert (1, "10:00", "10:35", 3) in got


def test_interval_join_faces_are_mutually_consistent(spark):
    """Cross-face tripwire for the q114/q163/q176 family (r9 verdict
    item #7: the three share this state machinery, so a shared
    regression should trip ONE test, not wait for the driver co-window):
    on identical inputs, inner == matched subset of left_outer ==
    matched subset of full_outer; left_outer == full_outer minus the
    right-orphan rows; row-count algebra holds exactly."""
    import datetime as dt

    from franzoxide_spark.streaming.joins import interval_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        [(t(0), 1), (t(5), 2), (t(40), 1), (t(20), 4)],
        "v_ts timestamp, user_id long",
    )
    right = spark.createDataFrame(
        [(t(10), 1), (t(0), 1), (t(50), 1), (t(6), 3), (t(59), 4)],
        "p_ts timestamp, user_id long",
    )
    kw = dict(on="user_id", left_ts="v_ts", right_ts="p_ts",
              upper="30 minutes")
    faces = {
        how: interval_join(left, right, how=how, **kw)
        for how in ("inner", "left_outer", "full_outer")
    }
    key = lambda r: (r["user_id"], r["v_ts"] and r["v_ts"].minute,
                     r["p_ts"] and r["p_ts"].minute)
    nsafe = lambda t: tuple((v is None, v) for v in t)  # None-safe sort
    inner = sorted(map(key, faces["inner"].collect()), key=nsafe)
    lo = sorted(map(key, faces["left_outer"].collect()), key=nsafe)
    fo = sorted(map(key, faces["full_outer"].collect()), key=nsafe)
    matched_lo = [r for r in lo if r[2] is not None]
    matched_fo = [r for r in fo if r[1] is not None and r[2] is not None]
    assert inner == matched_lo == matched_fo
    # left_outer = full_outer minus right orphans
    right_orphans = [r for r in fo if r[1] is None]
    assert sorted(lo, key=nsafe) == sorted(
        (r for r in fo if r[1] is not None), key=nsafe
    )
    # count algebra: |fo| = |lo| + right orphans; every left row appears
    assert len(fo) == len(lo) + len(right_orphans)
    # u2 (no purchases) and u4 (purchase outside the 30m bound) are the
    # expected unmatched-left users on this fixture
    assert {r[0] for r in lo if r[2] is None} == {2, 4}
    left_unmatched = [r for r in lo if r[2] is None]
    assert len(lo) == len(inner) + len(left_unmatched)
    # the full_outer unified key is never null (coalesced from both sides)
    assert all(r[0] is not None for r in fo)


def test_bloom_state_encoding_version_mismatch_fails_loudly():
    """r12 review: the tag-byte encoding change makes bits from an old
    checkpoint unreachable — recovery must FAIL LOUDLY (the enc stamp),
    never silently re-emit every previously-deduped member."""
    import pandas as pd
    import pytest

    from franzoxide_spark.streaming.stateful import (
        _BLOOM_ENC,
        bloom_params,
        make_bloom_dedup_update,
    )

    class FakeState:
        exists = True
        hasTimedOut = False

        def __init__(self, v):
            self._v = v

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    m, _k = bloom_params(1000, 0.01)
    update = make_bloom_dedup_update(1000, 0.01)
    stale = FakeState((bytes(m // 8), 5, _BLOOM_ENC - 1))
    with pytest.raises(ValueError, match="encoding"):
        list(update(("k",), iter([pd.DataFrame({"member": ["a"]})]), stale))
    # current-encoding state replays fine
    ok = FakeState((bytes(m // 8), 0, _BLOOM_ENC))
    out = list(update(("k",), iter([pd.DataFrame({"member": ["a"]})]), ok))[0]
    assert list(out["member"]) == ["a"]


def test_bytes_sink_tolerates_tombstone_values(spark, tmp_path):
    """A NULL record value (Kafka tombstone) must contribute zero bytes
    to the concatenated object — bytes(None) previously raised inside
    the group writer and killed the micro-batch (r13 review)."""
    from franzoxide_spark.config import ConnectorConfig
    from franzoxide_spark.sinks.object_sink import ObjectSink

    out_base = str(tmp_path / "out")
    sink = ObjectSink(
        spark,
        ConnectorConfig(
            name="tomb", connector_class="S3SinkConnector",
            connector_type="sink", topics=["t"],
            config={"format.class": "bytes", "path.base": out_base},
        ),
        str(tmp_path / "ckpt"),
    )
    batch = spark.createDataFrame(
        [("t", 0, 1, b"abc"), ("t", 0, 2, None), ("t", 0, 3, b"def")],
        "topic string, partition int, offset long, value binary",
    )
    sink.write_bytes_batch(batch, epoch_id=0)
    objs = glob.glob(os.path.join(out_base, "data", "t", "*.bin"))
    assert len(objs) == 1
    assert open(objs[0], "rb").read() == b"abcdef"


def test_bytes_sink_rejects_configured_partitioner(spark, tmp_path):
    """format.class=bytes writes fixed {topic}/{partition}_{offset}.bin
    objects — a configured time/field partitioner was silently ignored
    while its column build + per-batch shuffle were still paid (r13
    review): must fail fast at config time."""
    import pytest as _pytest

    from franzoxide_spark.config import ConnectorConfig
    from franzoxide_spark.errors import ConfigError
    from franzoxide_spark.sinks.object_sink import ObjectSink

    with _pytest.raises(ConfigError, match="partitioner.class=default"):
        ObjectSink(
            spark,
            ConnectorConfig(
                name="badb", connector_class="S3SinkConnector",
                connector_type="sink", topics=["t"],
                config={"format.class": "bytes", "path.base": str(tmp_path),
                        "partitioner.class": "time"},
            ),
            str(tmp_path / "ckpt"),
        )


def test_sink_with_unmatched_topics_raises(spark, tmp_path):
    """A sink whose topics match NO source must be a ConfigError — the
    old `or sources` fallback silently wired it to ALL sources, writing
    the wrong stream under the sink's layout on a topic typo (r13
    review)."""
    import pytest as _pytest

    from franzoxide_spark.errors import ConfigError
    from franzoxide_spark.manager import ConnectorManager

    cfg = _pipeline_config(str(tmp_path / "in"), str(tmp_path / "out"))
    cfg.connectors[1].topics = ["typo-topic"]
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    with _pytest.raises(ConfigError, match="no source covers"):
        mgr.initialize()


def test_fan_in_sink_runs_both_sources(spark, sf_dir, tmp_path):
    """Two sources feeding one sink must deliver BOTH streams: the
    feeders union into one query per sink — previously each (source,
    sink) pair started its own query sharing the sink's checkpoint,
    query name AND _spark_metadata log, so the second start either
    failed or silently stopped the first (r13 review)."""
    import dataclasses

    from franzoxide_spark.manager import ConnectorManager

    in1, total1, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in1"))
    in2, total2, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in2"))
    cfg = _pipeline_config(in1, str(tmp_path / "out"))
    src2 = dataclasses.replace(
        cfg.connectors[0], name="file-source-2",
        config={**cfg.connectors[0].config, "path": in2},
    )
    cfg.connectors.insert(1, src2)
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    try:
        # ONE query per sink, feeders unioned (FileStreamSink refuses two
        # concurrent writers on one _spark_metadata log anyway)
        assert len(mgr._queries) == 1
        assert all(q.isActive for q in mgr._queries.values())
        mgr.process_all_available()
    finally:
        mgr.stop()
    lines = []
    # The two globs overlap on part-*.txt files — union as a set so no
    # output file is counted twice (r13 judge: double-counted 2000 as 4000).
    files = set(glob.glob(
        os.path.join(str(tmp_path / "out"), "data", "**", "*.txt"),
        recursive=True)) | set(glob.glob(
        os.path.join(str(tmp_path / "out"), "data", "**", "part-*"),
        recursive=True))
    for f in sorted(files):
        with open(f) as fh:
            lines += [ln for ln in fh.read().splitlines() if ln.strip()]
    assert len(lines) == total1 + total2


def test_stateful_dedup_ttl_session_scoped_and_reemits(spark, tmp_path):
    """r15 unfreeze #1a: TTL'd exact dedup emits a (key, member) once per
    TTL session — suppressed within the session, re-emitted after the key
    idles past the ttl (state evicted by the event-time timeout, or the
    in-batch gap reset for a gap inside one batch: same semantics)."""
    import datetime as dt

    from franzoxide_spark.streaming.stateful import stateful_dedup_ttl

    in_dir = str(tmp_path / "ttl_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "ts timestamp, k string, m string"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        for f in glob.glob(str(tmp_path / name / "*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    e = lambda h, m: int(dt.datetime(2024, 1, 1, h, m).timestamp())
    # batch 1: x emits, duplicate x suppressed, y emits
    write_batch("b1", [(t(10, 0), "a", "x"), (t(10, 5), "a", "x"),
                       (t(10, 10), "a", "y")])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out = stateful_dedup_ttl(stream, "k", "m", "ts", ttl_s=3600,
                             watermark="1 hour")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ttl_out")
        .option("checkpointLocation", str(tmp_path / "ttl_ckpt"))
        .start()
    )
    q.processAllAvailable()
    # batch 2: same-session duplicate across batches stays suppressed
    write_batch("b2", [(t(10, 30), "a", "x")])
    q.processAllAvailable()
    # advance the watermark far past a's last event + ttl via key b, then
    # one more batch so the pending timeout fires and evicts a's state
    write_batch("b3", [(t(14, 0), "b", "z")])
    q.processAllAvailable()
    write_batch("b4", [(t(14, 1), "b", "z")])
    q.processAllAvailable()
    # batch 5: x re-arrives in a NEW ttl session -> re-emitted
    write_batch("b5", [(t(15, 0), "a", "x")])
    q.processAllAvailable()
    q.stop()
    rows = sorted(
        (r["key"], r["member"], r["first_es"])
        for r in spark.sql("SELECT * FROM ttl_out").collect()
    )
    assert rows == [
        ("a", "x", e(10, 0)),   # first occurrence
        ("a", "x", e(15, 0)),   # re-emitted after eviction
        ("a", "y", e(10, 10)),
        ("b", "z", e(14, 0)),   # z at 14:01 suppressed (same session)
    ], rows


def test_stateful_dedup_ttl_matches_batch_face(spark, tmp_path):
    """Parity (the q114-family contract): for in-event-time-order feeds
    the streaming TTL dedup emits exactly the relation of
    batch_ttl_session_dedup — same keys, members, sessions, first_es."""
    import datetime as dt

    from franzoxide_spark.streaming.stateful import (
        batch_ttl_session_dedup,
        stateful_dedup_ttl,
    )

    in_dir = str(tmp_path / "ttlp_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "ts timestamp, k string, m string"
    base = dt.datetime(2024, 3, 1, 8, 0)
    rows = []
    # two keys, interleaved members, gaps straddling the ttl both inside
    # and across micro-batches
    offs = [0, 5, 10, 70, 75, 200, 205, 210, 400, 405]
    for i, off in enumerate(offs):
        rows.append((base + dt.timedelta(minutes=off), "u1", f"m{i % 3}"))
        rows.append((base + dt.timedelta(minutes=off + 1), "u2", f"m{i % 2}"))
    batches = [rows[:6], rows[6:14], rows[14:]]

    def write_batch(name, rs):
        spark.createDataFrame(rs, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        for f in glob.glob(str(tmp_path / name / "*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    write_batch("p1", batches[0])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out = stateful_dedup_ttl(stream, "k", "m", "ts", ttl_s=3600,
                             watermark="30 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("ttlp_out")
        .option("checkpointLocation", str(tmp_path / "ttlp_ckpt"))
        .start()
    )
    q.processAllAvailable()
    for i, b in enumerate(batches[1:], 2):
        write_batch(f"p{i}", b)
        q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["key"], r["member"], r["first_es"])
        for r in spark.sql("SELECT * FROM ttlp_out").collect()
    )
    batch_df = spark.createDataFrame(rows, schema)
    want = sorted(
        (r["key"], r["member"], r["first_es"])
        for r in batch_ttl_session_dedup(
            batch_df, "k", "m", "ts", ttl_s=3600
        ).collect()
    )
    assert got == want, f"streaming {got}\nbatch {want}"


def test_dedup_ttl_update_fn_timeout_and_null_es():
    """Unit face of the TTL dedup update fn: the hasTimedOut invocation
    removes state and emits nothing; null event times are skipped (a
    poison row must not crash-loop on checkpoint replay)."""
    import pandas as pd

    from franzoxide_spark.streaming.stateful import make_dedup_ttl_update

    class FakeState:
        exists = False
        hasTimedOut = False
        removed = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

        def remove(self):
            self.removed = True
            self.exists = False

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    fn = make_dedup_ttl_update(ttl_s=3600)
    st = FakeState()
    out1 = list(fn(("k",), iter([pd.DataFrame(
        {"es": pd.array([100, None, 200], dtype="Int64"),
         "m": ["a", "b", "a"]}
    ).rename(columns={"m": "member"})]), st))[0]
    # null-es 'b' skipped; 'a' emitted once with its first es
    assert [tuple(r) for r in out1.itertuples(index=False)] == [("k", "a", 100)]
    assert st.get == (["a"], 200)
    assert st.timeout_ms == (200 + 3600) * 1000
    # timeout invocation: state dropped, nothing emitted
    st.hasTimedOut = True
    out2 = list(fn(("k",), iter([]), st))[0]
    assert len(out2) == 0 and st.removed


def test_dedup_ttl_update_fn_null_member_poison():
    """r15 ADVICE (medium): a NULL member must neither crash the sort in
    state.update (None-vs-str TypeError -> micro-batch fails -> replay
    crash-loop) nor be silently dropped — the batch face
    (batch_ttl_session_dedup / q177) emits null-member groups, so the
    streaming face dedups and emits them too."""
    import pandas as pd

    from franzoxide_spark.streaming.stateful import make_dedup_ttl_update

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    fn = make_dedup_ttl_update(ttl_s=3600)
    st = FakeState()
    # batch 1: string member then a null member (pandas None) — the
    # state set now mixes None with str; sorted() on it must not raise
    out1 = list(fn(("k",), iter([pd.DataFrame(
        {"es": pd.array([100, 150], dtype="Int64"),
         "member": ["a", None]}
    )]), st))[0]
    assert [tuple(r) for r in out1.itertuples(index=False)] == [
        ("k", "a", 100), ("k", None, 150)]
    assert st.get == ([None, "a"], 150) or st.get == (["a", None], 150)
    # batch 2: replayed null (deduped against state) + NaN-encoded null
    # (normalized to the SAME None member) + a fresh string
    out2 = list(fn(("k",), iter([pd.DataFrame(
        {"es": pd.array([200, 210, 220], dtype="Int64"),
         "member": [None, float("nan"), "b"]}
    )]), st))[0]
    assert [tuple(r) for r in out2.itertuples(index=False)] == [
        ("k", "b", 220)]


def test_streaming_neardup_gate_matches_batch_verdicts(spark, sf_dir, tmp_path):
    """r15 unfreeze #1b: for id-ordered arrival the streaming gate's
    flag rows (min dup_of per doc across buckets) equal the batch face's
    flagged verdicts exactly — same candidates, same exact-Jaccard
    verification, same earliest-dup attribution. A replayed batch adds
    nothing (resident ledger dedups at-least-once delivery)."""
    from franzoxide_spark.operators.dedup import neardup_gate
    from franzoxide_spark.streaming.stateful import streaming_neardup_gate
    from franzoxide_spark.tables import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    mid = int(docs.agg({"doc_id": "max"}).first()[0]) // 2
    in_dir = str(tmp_path / "gate_in")
    os.makedirs(in_dir)

    def feed(name, df):
        d = str(tmp_path / name)
        df.coalesce(1).write.parquet(d)
        for i, f in enumerate(glob.glob(d + "/*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}_{i}.parquet"))

    feed("low", docs.filter(F.col("doc_id") <= mid))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out = streaming_neardup_gate(stream, "doc_id", "text", threshold=0.8)
    q = (
        out.writeStream.format("memory")
        .queryName("gate_stream")
        .option("checkpointLocation", str(tmp_path / "gate_ckpt"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        feed("high", docs.filter(F.col("doc_id") > mid))
        q.processAllAvailable()
        n_before = spark.sql("select count(*) from gate_stream").first()[0]
        feed("replay", docs.filter(F.col("doc_id") <= mid))
        q.processAllAvailable()
        n_after = spark.sql("select count(*) from gate_stream").first()[0]
    finally:
        q.stop()
    assert n_after == n_before, "replayed docs re-emitted verdicts"

    got: dict[int, tuple[int, float]] = {}
    for r in spark.sql("select * from gate_stream").collect():
        cur = got.get(r["doc_id"])
        if cur is None or r["dup_of"] < cur[0]:
            got[r["doc_id"]] = (r["dup_of"], r["jaccard"])
    expected = {
        r["doc_id"]: (r["dup_of"], r["jaccard"])
        for r in neardup_gate(docs, "text", "doc_id", threshold=0.8).collect()
        if r["admitted"] == 0
    }
    assert got == expected
    assert expected, "fixture should flag at least one doc"


def test_stream_stream_dynamic_bound_interval_join(spark, tmp_path):
    """r15 unfreeze #2: stream-stream interval join with a per-row
    dynamic bound (upper_col seconds on the left) under a constant cap.
    A purchase inside the cap but past its view's OWN window must not
    pair; one inside both does; a null window matches nothing; and the
    cap still evicts state (late pair dropped) — the dynamic conjunct
    must not break Spark's state-watermark analysis."""
    import datetime as dt

    v_dir, p_dir = str(tmp_path / "dviews"), str(tmp_path / "dpurch")
    os.makedirs(v_dir), os.makedirs(p_dir)
    v_schema = "v_ts timestamp, user_id long, win_s long"
    p_schema = "p_ts timestamp, user_id long"

    def write(dirname, name, schema, rows):
        stage = str(tmp_path / ("dstage_" + name))
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        for f in glob.glob(os.path.join(stage, "*.parquet")):
            os.link(f, os.path.join(dirname, f"{name}.parquet"))

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)

    from franzoxide_spark.streaming.joins import interval_join

    views = spark.readStream.schema(v_schema).parquet(v_dir)
    purchases = spark.readStream.schema(p_schema).parquet(p_dir)
    joined = interval_join(
        views, purchases, on="user_id", left_ts="v_ts", right_ts="p_ts",
        upper="2 hours", upper_col="win_s", watermark="30 minutes",
    ).select("user_id", "v_ts", "p_ts")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("dynj_out")
        .option("checkpointLocation", str(tmp_path / "dynj_ckpt"))
        .start()
    )
    try:
        # u1: 30 min window; u2: 60 min; u3: null window. Purchases all
        # land 45 min after the view — only u2's is inside ITS window.
        write(v_dir, "v1", v_schema,
              [(t(10, 0), 1, 1800), (t(10, 0), 2, 3600), (t(10, 0), 3, None)])
        write(p_dir, "p1", p_schema,
              [(t(10, 45), 1), (t(10, 45), 2), (t(10, 45), 3)])
        q.processAllAvailable()
        # advance both watermarks far past the 10:00 views' cap, then a
        # purchase for u2 at 10:50 — inside u2's window but behind the
        # watermark: state evicted, dropped
        write(v_dir, "v2", v_schema, [(t(16, 0), 9, 3600)])
        write(p_dir, "p2", p_schema, [(t(16, 5), 9)])
        q.processAllAvailable()
        write(p_dir, "p3", p_schema, [(t(10, 50), 2)])
        q.processAllAvailable()
        write(v_dir, "v3", v_schema, [(t(17, 0), 7, 60)])
        write(p_dir, "p4", p_schema, [(t(17, 1), 8)])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        (r["user_id"], r["v_ts"].strftime("%H:%M"), r["p_ts"].strftime("%H:%M"))
        for r in spark.sql("SELECT * FROM dynj_out").collect()
    )
    assert rows == [(2, "10:00", "10:45"), (9, "16:00", "16:05")], rows


def test_interval_join_dynamic_bound_batch_and_validation(spark):
    """Batch face of upper_col: the effective window is
    least(upper_col, cap); a missing upper_col raises with the argument
    named."""
    import datetime as dt

    import pytest as _pytest

    from franzoxide_spark.streaming.joins import interval_join

    t0 = dt.datetime(2024, 1, 1, 10, 0)
    views = spark.createDataFrame(
        # u4's column says 4 hours, but the 2h cap truncates it
        [(1, t0, 1800), (2, t0, 3600), (4, t0, 14400)],
        "user_id long, v_ts timestamp, win_s long",
    )
    purch = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=45), 10.0),
         (2, t0 + dt.timedelta(minutes=45), 20.0),
         (4, t0 + dt.timedelta(hours=3), 40.0)],
        "user_id long, p_ts timestamp, value double",
    )
    out = interval_join(
        views, purch, on="user_id", left_ts="v_ts", right_ts="p_ts",
        upper="2 hours", upper_col="win_s",
    )
    assert sorted(r["user_id"] for r in out.collect()) == [2]
    with _pytest.raises(ValueError, match="upper_col"):
        interval_join(
            views, purch, on="user_id", left_ts="v_ts", right_ts="p_ts",
            upper="2 hours", upper_col="nope",
        )


def test_streaming_neardup_gate_bucket_ttl_evicts(spark, tmp_path):
    """Gate with bucket_ttl_s: a near-dup arriving after its bucket idled
    past the ttl is ADMITTED (residents evicted by the event-time
    timeout) — the bounded-state recall trade; the same feed without the
    ttl flags it, proving eviction (not a candidate miss) is why."""
    import datetime as dt

    from franzoxide_spark.streaming.stateful import streaming_neardup_gate

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    # ~20 shared tokens -> near-identical docs, certain band collision
    base = " ".join(f"tok{i}" for i in range(20))
    doc_a = (1, base, t(10, 0))
    doc_b = (2, base + " tail", t(15, 30))  # jaccard far above 0.8
    fillers = [
        (100 + i, f"zzz{i} yyy{i} xxx{i} www{i} vvv{i}", ts)
        for i, ts in enumerate([t(15, 0), t(15, 10)])
    ]
    schema = "doc_id long, text string, ts timestamp"

    def run(tag, ttl):
        in_dir = str(tmp_path / f"gttl_in_{tag}")
        os.makedirs(in_dir)

        def feed(name, rows):
            d = str(tmp_path / f"gttl_{tag}_{name}")
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
            for i, f in enumerate(glob.glob(d + "/*.parquet")):
                os.link(f, os.path.join(in_dir, f"{name}_{i}.parquet"))

        feed("b1", [doc_a])
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(in_dir)
        out = streaming_neardup_gate(
            stream, "doc_id", "text", threshold=0.8,
            bucket_ttl_s=ttl, ts_col="ts" if ttl else None,
            watermark="30 minutes",
        )
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(f"gttl_{tag}")
            .option("checkpointLocation", str(tmp_path / f"gttl_ckpt_{tag}"))
            .start()
        )
        try:
            q.processAllAvailable()
            # filler 1 advances the watermark past 10:00 + 2h ttl;
            # filler 2 is the batch in which A's idle buckets time out
            feed("b2", [fillers[0]])
            q.processAllAvailable()
            feed("b3", [fillers[1]])
            q.processAllAvailable()
            feed("b4", [doc_b])
            q.processAllAvailable()
        finally:
            q.stop()
        return {
            (r["doc_id"], r["dup_of"])
            for r in spark.sql(f"select * from gttl_{tag}").collect()
        }

    # without ttl: B is flagged against A (one row per flagging bucket —
    # near-identical docs collide in several bands, hence the set)
    assert run("nottl", None) == {(2, 1)}
    # with a 2h ttl: A's buckets evicted before B arrives -> admitted
    assert run("ttl", 7200) == set()


def test_neardup_gate_same_batch_resolves_in_id_order():
    """r15 review: two bucket-mates in ONE micro-batch must resolve in
    doc_id order regardless of pandas delivery order — the higher id is
    flagged against the lower, matching the batch face."""
    import pandas as pd

    from franzoxide_spark.streaming.stateful import make_neardup_gate_update

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    fn = make_neardup_gate_update(threshold=0.8)
    st = FakeState()
    sh = [1, 2, 3, 4, 5, 6, 7, 8, 9, 10]
    # delivered HIGH id first — unsorted processing would admit 5 and
    # flag 3 with dup_of=5, inverting the batch face's verdict
    pdf = pd.DataFrame({"doc_id": [5, 3], "sh": [sh, sh]})
    out = list(fn(("b",), iter([pdf]), st))[0]
    assert [tuple(r) for r in out.itertuples(index=False)] == [(5, 3, 1.0)]


def test_neardup_gate_ttl_frontier_never_rewinds():
    """r15 review: the TTL mode persists the bucket's event-time
    frontier; a LATE doc (older es, inside the watermark) must not pull
    the eviction deadline backwards."""
    import pandas as pd

    from franzoxide_spark.streaming.stateful import make_neardup_gate_update

    class FakeState:
        exists = False
        hasTimedOut = False

        def update(self, v):
            self.exists = True
            self._v = v

        @property
        def get(self):
            return self._v

        def setTimeoutTimestamp(self, ms):
            self.timeout_ms = ms

        def getCurrentWatermarkMs(self):
            return 0

    ttl = 7200
    fn = make_neardup_gate_update(threshold=0.8, ttl_s=ttl)
    st = FakeState()
    t10 = 36000  # 10:00
    t9 = 32400   # 09:00, late
    list(fn(("b",), iter([pd.DataFrame(
        {"doc_id": [1], "sh": [[1, 2, 3]], "es": pd.array([t10], dtype="Int64")}
    )]), st))
    assert st.timeout_ms == (t10 + ttl) * 1000
    assert st.get[2] == t10
    list(fn(("b",), iter([pd.DataFrame(
        {"doc_id": [2], "sh": [[9, 9, 9]], "es": pd.array([t9], dtype="Int64")}
    )]), st))
    # deadline unchanged: the frontier stayed at 10:00
    assert st.timeout_ms == (t10 + ttl) * 1000
    assert st.get[2] == t10


def test_feeder_manifest_tolerates_empty_offsets_dir(spark, sf_dir, tmp_path):
    """r15 review: Spark mkdirs the offsets/ dir eagerly at query start,
    so a checkpoint with an EMPTY offsets dir has no committed batch and
    a manifest mismatch must not refuse the feeder change; one committed
    offset entry flips it to a refusal."""
    import json as _json

    import pytest as _pytest

    from franzoxide_spark.errors import ConfigError

    in1, _t, _ = _write_record_files(spark, sf_dir, str(tmp_path / "in1"))
    cfg = _pipeline_config(in1, str(tmp_path / "out"))
    ckpt_root = str(tmp_path / "ckpt")
    sink = cfg.connectors[1]
    mgr = ConnectorManager(spark, cfg, ckpt_root)
    mgr.initialize()

    ckpt = os.path.join(ckpt_root, sink.name)
    os.makedirs(os.path.join(ckpt, "offsets"))
    with open(os.path.join(ckpt, "feeders.json"), "w") as f:
        _json.dump(["some-old-feeder"], f)

    srcs = (cfg.connectors[0],)
    # empty offsets dir: no refusal
    mgr._check_feeder_manifest(srcs, sink)
    # one committed offset entry: refusal
    with open(os.path.join(ckpt, "offsets", "0"), "w") as f:
        f.write("v1")
    with _pytest.raises(ConfigError, match="feeder set changed"):
        mgr._check_feeder_manifest(srcs, sink)


def test_stateful_dedup_ttl_survives_checkpoint_restart(spark, tmp_path):
    """Exactly-once across a stop/restart: the TTL dedup's per-key state
    (seen set + frontier) lives in the checkpoint, so a member seen
    before the restart stays suppressed after it, a new member emits
    once, and the TTL clock keeps running from the recovered frontier."""
    import datetime as dt

    from franzoxide_spark.streaming.stateful import stateful_dedup_ttl

    in_dir = str(tmp_path / "ttlr_in")
    os.makedirs(in_dir, exist_ok=True)
    schema = "ts timestamp, k string, m string"
    ckpt = str(tmp_path / "ttlr_ckpt")
    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    e = lambda h, m: int(dt.datetime(2024, 1, 1, h, m).timestamp())

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / name))
        for f in glob.glob(str(tmp_path / name / "*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}.parquet"))

    out_dir = str(tmp_path / "ttlr_out")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        out = stateful_dedup_ttl(stream, "k", "m", "ts", ttl_s=3600,
                                 watermark="1 hour")
        # a FILE sink: the memory sink does not support checkpoint
        # recovery, which is the thing under test
        return (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )

    def emitted():
        return sorted(
            (r["key"], r["member"], r["first_es"])
            for r in spark.read.parquet(out_dir).collect()
        )

    write_batch("b1", [(t(10, 0), "a", "x")])
    q = start()
    q.processAllAvailable()
    q.stop()
    assert emitted() == [("a", "x", e(10, 0))]

    # restart from the same checkpoint: x stays suppressed (recovered
    # state), y is fresh and emits once
    write_batch("b2", [(t(10, 30), "a", "x"), (t(10, 40), "a", "y")])
    q = start()
    q.processAllAvailable()
    q.stop()
    assert emitted() == [
        ("a", "x", e(10, 0)),
        ("a", "y", e(10, 40)),
    ]


def test_neardup_gate_ttl_eviction_survives_checkpoint_restart(
    spark, tmp_path
):
    """The TTL gate's eviction deadline is checkpointed with the state:
    after a stop/restart the recovered timeout still fires once the
    watermark passes the (recovered) frontier + ttl, and a later
    near-dup of the pre-restart resident is admitted."""
    import datetime as dt

    from franzoxide_spark.streaming.stateful import streaming_neardup_gate

    t = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    base = " ".join(f"tok{i}" for i in range(20))
    schema = "doc_id long, text string, ts timestamp"
    in_dir = str(tmp_path / "gr_in")
    os.makedirs(in_dir)
    ckpt = str(tmp_path / "gr_ckpt")
    out_dir = str(tmp_path / "gr_out")

    def feed(name, rows):
        d = str(tmp_path / f"gr_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(d)
        for i, f in enumerate(glob.glob(d + "/*.parquet")):
            os.link(f, os.path.join(in_dir, f"{name}_{i}.parquet"))

    def start():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(in_dir)
        out = streaming_neardup_gate(
            stream, "doc_id", "text", threshold=0.8,
            bucket_ttl_s=7200, ts_col="ts", watermark="30 minutes",
        )
        return (
            out.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )

    feed("b1", [(1, base, t(10, 0))])
    q = start()
    q.processAllAvailable()
    q.stop()

    # restart; advance the watermark past 10:00 + 2h via unrelated docs,
    # let the RECOVERED timeout fire, then feed the near-dup
    q = start()
    try:
        feed("b2", [(100, "zz yy xx ww vv", t(15, 0))])
        q.processAllAvailable()
        feed("b3", [(101, "qq rr ss tt uu", t(15, 10))])
        q.processAllAvailable()
        feed("b4", [(2, base + " tail", t(15, 30))])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(out_dir).collect()
    assert rows == [], [tuple(r) for r in rows]


def test_interval_join_faces_consistent_under_dynamic_bound(spark):
    """r15 extension of the cross-face tripwire: the same algebra must
    hold when each left row carries its OWN bound (upper_col under the
    constant cap) — inner == matched subsets, left_outer == full_outer
    minus right orphans, and a row excluded by its own window (but
    inside the cap) is unmatched on every face; a null window matches
    nothing on every face."""
    import datetime as dt

    from franzoxide_spark.streaming.joins import interval_join

    t = lambda m: dt.datetime(2024, 1, 1, 10, m)
    left = spark.createDataFrame(
        # u1: 15-min window (its 10-min purchase matches; its 50-min
        # one is outside the window though inside the cap)
        # u2: no purchases at all
        # u4: 5-min window — the 59-min purchase is outside it
        # u5: NULL window — matches nothing
        [(t(0), 1, 900), (t(5), 2, 1800), (t(20), 4, 300),
         (t(0), 5, None)],
        "v_ts timestamp, user_id long, win_s long",
    )
    right = spark.createDataFrame(
        [(t(10), 1), (t(50), 1), (t(59), 4), (t(6), 5)],
        "p_ts timestamp, user_id long",
    )
    kw = dict(on="user_id", left_ts="v_ts", right_ts="p_ts",
              upper="2 hours", upper_col="win_s")
    faces = {
        how: interval_join(left, right, how=how, **kw)
        for how in ("inner", "left_outer", "full_outer")
    }
    key = lambda r: (r["user_id"], r["v_ts"] and r["v_ts"].minute,
                     r["p_ts"] and r["p_ts"].minute)
    nsafe = lambda t: tuple((v is None, v) for v in t)
    inner = sorted(map(key, faces["inner"].collect()), key=nsafe)
    lo = sorted(map(key, faces["left_outer"].collect()), key=nsafe)
    fo = sorted(map(key, faces["full_outer"].collect()), key=nsafe)
    assert inner == [(1, 0, 10)]  # only u1's in-window pair
    matched_lo = [r for r in lo if r[2] is not None]
    matched_fo = [r for r in fo if r[1] is not None and r[2] is not None]
    assert inner == matched_lo == matched_fo
    assert sorted(lo, key=nsafe) == sorted(
        (r for r in fo if r[1] is not None), key=nsafe
    )
    right_orphans = [r for r in fo if r[1] is None]
    assert len(fo) == len(lo) + len(right_orphans)
    # u2 (no purchases), u4 (own window excludes), u5 (null window) are
    # unmatched-left on every outer face
    assert {r[0] for r in lo if r[2] is None} == {2, 4, 5}
    # the dynamic exclusions surface as right orphans in full_outer:
    # u1's 50-min and u4's 59-min purchases, u5's 6-min purchase
    assert sorted(r for r in right_orphans) == [
        (1, None, 50), (4, None, 59), (5, None, 6)
    ]
