"""Connector-class registry (A10, manager.rs:93-117).

Maps ``connector_class`` strings -> source builder functions. The
reference's class names are kept for config compatibility; short aliases
are the engine-native names. Unknown classes raise ConfigError, matching
manager.rs:112-116.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from franzoxide_spark.config import ConnectorConfig, KafkaConfig
from franzoxide_spark.errors import ConfigError
from franzoxide_spark.sources.files import file_record_source, rate_source
from franzoxide_spark.sources.kafka import kafka_reader_options, kafka_source
from franzoxide_spark.sources.replay import replay_record_source

SourceBuilder = Callable[[SparkSession, KafkaConfig, ConnectorConfig], DataFrame]

SOURCE_CLASSES: dict[str, SourceBuilder] = {
    "io.rustconnect.KafkaSourceConnector": kafka_source,  # reference name
    "kafka": kafka_source,
    "file": file_record_source,
    "rate": rate_source,
    "kafka_replay": replay_record_source,
}


def clusters_by_partition(kafka_cfg: KafkaConfig, connector: ConnectorConfig) -> bool:
    """Whether every micro-batch of this source holds each (topic,
    partition) in exactly one read task, so a sink laid out by
    ``{topic}/{partition}`` needs no shuffle to write one file per
    directory. ``kafka_replay`` packs whole partition ranges into tasks
    (``replay._pack_ranges``). ``kafka`` reads one task per topic
    partition unless ``minPartitions`` splits them, read from the same
    option map that configures the reader. ``file`` and ``rate`` give no
    such guarantee."""
    if connector.connector_class == "kafka_replay":
        return True
    if SOURCE_CLASSES.get(connector.connector_class) is kafka_source:
        return "minPartitions" not in kafka_reader_options(kafka_cfg, connector)
    return False


def build_source(
    spark: SparkSession, kafka_cfg: KafkaConfig, connector: ConnectorConfig
) -> DataFrame:
    try:
        builder = SOURCE_CLASSES[connector.connector_class]
    except KeyError:
        raise ConfigError(
            f"unknown source connector_class {connector.connector_class!r};"
            f" known: {sorted(SOURCE_CLASSES)}"
        ) from None
    return builder(spark, kafka_cfg, connector)
