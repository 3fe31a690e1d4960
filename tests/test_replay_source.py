"""Kafka-replay custom DataSource (sources/replay.py): broker-like
offset semantics without a broker — per-partition contiguous offsets, a
growing log flowing as new micro-batches, WAL checkpoint resume
mid-stream, exactly-once through the file sink, and a micro-batch's
partition ranges packed into at most one wave of read tasks."""

from __future__ import annotations

from pyspark.sql import functions as F

from franzoxide_spark.sources.replay import (
    _pack_ranges,
    read_replay_stream,
    register_replay_source,
    stage_replay,
)


def test_staged_log_has_contiguous_per_partition_offsets(spark, sf_dir, tmp_path):
    path = str(tmp_path / "log")
    stage_replay(spark, sf_dir, path, n_partitions=8)
    df = spark.read.parquet(path)
    per = (
        df.groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("offset").alias("lo"),
            F.max("offset").alias("hi"),
            F.countDistinct("offset").alias("nd"),
        )
        .collect()
    )
    assert len(per) == 8
    for r in per:
        # contiguous from 0: min=0, max=n-1, all distinct
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1 and r["nd"] == r["n"]


def test_staged_slices_compose_without_gaps(spark, sf_dir, tmp_path):
    """Growing the log in two slices (the producer-append simulation)
    yields byte-identical content to staging it in one shot."""
    one = str(tmp_path / "one")
    two = str(tmp_path / "two")
    stage_replay(spark, sf_dir, one, n_partitions=4)
    stage_replay(spark, sf_dir, two, n_partitions=4, max_offset=60)
    stage_replay(spark, sf_dir, two, n_partitions=4, min_offset=60)
    a = spark.read.parquet(one)
    b = spark.read.parquet(two)
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_batch_read_matches_staged_parquet(spark, sf_dir, tmp_path):
    path = str(tmp_path / "log")
    stage_replay(spark, sf_dir, path, n_partitions=4)
    register_replay_source(spark)
    got = (
        spark.read.format("kafka_replay")
        .option("path", path)
        .load()
        .select("partition", "offset", "value")
    )
    exp = spark.read.parquet(path).select("partition", "offset", "value")
    assert got.count() == exp.count()
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    # one Spark input partition per Kafka partition
    assert got.rdd.getNumPartitions() == 4


def test_stream_follows_log_growth_without_duplicates(spark, sf_dir, tmp_path):
    """Appends to the staged log flow as NEW micro-batches (latestOffset
    re-scans the log end), and nothing is read twice."""
    path = str(tmp_path / "log")
    stage_replay(spark, sf_dir, path, n_partitions=8, max_offset=60)
    stream = read_replay_stream(spark, path)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("replay_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        n_first = spark.sql("SELECT * FROM replay_out").count()
        # producer appends the rest of the log mid-stream
        stage_replay(spark, sf_dir, path, n_partitions=8, min_offset=60)
        q.processAllAvailable()
    finally:
        q.stop()
    total = spark.read.parquet(path).count()
    out = spark.sql("SELECT partition, offset FROM replay_out")
    assert 0 < n_first < total, "first drain should cover only slice one"
    assert out.count() == total
    assert out.distinct().count() == total  # no duplicates
    assert len([p for p in q.recentProgress if p["numInputRows"] > 0]) >= 2


def test_checkpoint_resume_lands_mid_stream_exactly_once(spark, sf_dir, tmp_path):
    """Run 1 drains slice one and stops; the producer appends slice two;
    run 2 restarts from the SAME checkpoint into a parquet file sink
    (metadata-log commits = idempotent): the final output is the whole
    log EXACTLY once, and run 2 read ONLY the appended slice — the
    offset-WAL resume a plain file stream cannot express."""
    path = str(tmp_path / "log")
    stage_replay(spark, sf_dir, path, n_partitions=8, max_offset=60)
    ckpt = str(tmp_path / "ckpt2")
    out = str(tmp_path / "out")

    def start():
        return (
            read_replay_stream(spark, path)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    n_first = spark.read.parquet(out).count()
    stage_replay(spark, sf_dir, path, n_partitions=8, min_offset=60)
    total = spark.read.parquet(path).count()
    assert 0 < n_first < total

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    final = spark.read.parquet(out).select("partition", "offset")
    assert final.count() == total  # no loss
    assert final.distinct().count() == total  # no duplicates: exactly-once
    # run 2 read only the appended slice, not the whole log again
    run2_rows = sum(p["numInputRows"] for p in q2.recentProgress)
    assert run2_rows == total - n_first


def test_connector_pipeline_through_replay_source(spark, sf_dir, tmp_path):
    """connector_class: kafka_replay drives the FULL A5-A13 pipeline
    (manager -> source registry -> envelope sink) through real offset
    semantics — the config-swap compatibility the source exists for."""
    import glob
    import json
    import os

    from franzoxide_spark.config import parse_config
    from franzoxide_spark.manager import ConnectorManager

    log = str(tmp_path / "log")
    stage_replay(spark, sf_dir, log, n_partitions=4)
    total = spark.read.parquet(log).count()
    out = str(tmp_path / "out")
    cfg = parse_config(
        {
            "kafka": {"bootstrap_servers": [], "group_id": "t"},
            "connectors": [
                {
                    "name": "replay-source",
                    "connector_class": "kafka_replay",
                    "connector_type": "source",
                    "topics": ["events"],
                    "config": {"path": log},
                },
                {
                    "name": "json-sink",
                    "connector_class": "io.rustconnect.S3SinkConnector",
                    "connector_type": "sink",
                    "topics": ["events"],
                    "config": {
                        "path.base": out,
                        "s3.prefix": "data",
                        "format.class": "json",
                        "partitioner.class": "default",
                    },
                },
            ],
        }
    )
    mgr = ConnectorManager(spark, cfg, str(tmp_path / "ckpt"))
    mgr.initialize()
    mgr.start()
    mgr.process_all_available()
    mgr.stop()
    lines = []
    for fp in glob.glob(
        os.path.join(out, "data", "topic=events", "partition=*", "*.txt")
    ):
        lines += [ln for ln in open(fp).read().splitlines() if ln]
    assert len(lines) == total
    env = json.loads(lines[0])
    assert env["topic"] == "events"
    assert "offset" in env and "headers" in env


def test_stream_starts_against_empty_log(spark, tmp_path):
    """A real Kafka consumer streams an empty topic fine and picks up
    data as it arrives; the replay source must do the same instead of
    failing initialOffset on a missing/empty staging dir (r13 review)."""
    from franzoxide_spark.sources.replay import _partition_ends

    missing = str(tmp_path / "not_created_yet")
    assert _partition_ends(missing) == {}
    empty = tmp_path / "empty_log"
    empty.mkdir()
    assert _partition_ends(str(empty)) == {}


def _partitions_of(tasks):
    return sorted(p for task in tasks for p, _lo, _hi in task)


def test_pack_ranges_caps_tasks_and_keeps_each_partition_once():
    ranges = [(p, 10 * p, 10 * p + 150) for p in range(8)]
    tasks = _pack_ranges(ranges, 4)
    assert len(tasks) == 4
    assert _partitions_of(tasks) == list(range(8))
    # every range is carried unchanged
    assert sorted(r for task in tasks for r in task) == ranges
    assert [sum(hi - lo for _p, lo, hi in t) for t in tasks] == [300] * 4


def test_pack_ranges_drops_empty_ranges():
    ranges = [(0, 5, 5), (1, 0, 3), (2, 7, 7), (3, 2, 4)]
    tasks = _pack_ranges(ranges, 4)
    assert sorted(tasks) == [((1, 0, 3),), ((3, 2, 4),)]
    assert _pack_ranges([(0, 5, 5)], 4) == []
    assert _pack_ranges([(0, 5, 5), (1, 0, 2), (2, 0, 2)], 1) == [
        ((1, 0, 2), (2, 0, 2))
    ]


def test_pack_ranges_balances_skewed_ranges_by_records():
    # one hot partition holds as many records as the other seven together
    ranges = [(0, 0, 700)] + [(p, 0, 100) for p in range(1, 8)]
    tasks = _pack_ranges(ranges, 2)
    loads = sorted(sum(hi - lo for _p, lo, hi in t) for t in tasks)
    assert loads == [700, 700]
    assert ((0, 0, 700),) in tasks  # the hot partition gets a task alone
    assert _partitions_of(tasks) == list(range(8))


def test_pack_ranges_one_task_per_partition_when_slots_suffice():
    ranges = [(p, 0, 10 + p) for p in range(8)]
    expected = [((p, 0, 10 + p),) for p in range(8)]
    assert _pack_ranges(ranges, 8) == expected
    assert _pack_ranges(ranges, 32) == expected
    assert _pack_ranges(ranges, None) == expected


def test_stream_batches_run_one_wave_of_read_tasks(spark, sf_dir, tmp_path):
    """An 8-partition log read through ``read_replay_stream`` runs at most
    ``defaultParallelism`` read tasks per micro-batch, and the output is
    still every record exactly once."""
    path = str(tmp_path / "log")
    stage_replay(spark, sf_dir, path, n_partitions=8, max_offset=60)
    q = (
        read_replay_stream(spark, path)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("replay_wave_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        stage_replay(spark, sf_dir, path, n_partitions=8, min_offset=60)
        q.processAllAvailable()
    finally:
        q.stop()
    tracker = spark.sparkContext.statusTracker()
    tasks_per_job = [
        sum(
            tracker.getStageInfo(stage).numTasks
            for stage in tracker.getJobInfo(job).stageIds
        )
        for job in tracker.getJobIdsForGroup(str(q.runId))
    ]
    # both slices ran: every micro-batch job reads all 8 partitions
    assert len(tasks_per_job) >= 2
    slots = spark.sparkContext.defaultParallelism
    assert set(tasks_per_job) == {min(8, slots)}
    total = spark.read.parquet(path).count()
    out = spark.sql("SELECT partition, offset FROM replay_wave_out")
    assert out.count() == total
    assert out.distinct().count() == total
