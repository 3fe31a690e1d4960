"""Reference-parity transform queries (SURVEY.md §2.4 Q23-Q24).

Q23 exercises the sink's JSON-lines envelope encoder (A18, s3.rs:182-298)
including the base64 fallback and empty-key omission; Q24 exercises the
time partitioner's Hive column derivation (A16, s3.rs:161-177). Both are
driven from the ``events`` fixture reshaped into KafkaRecord envelopes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from franzoxide_spark.functions.envelope import (
    envelope_json,
    time_partition_cols,
)
from franzoxide_spark.queries import register
from franzoxide_spark.tables import fanned_table, table


def kafka_records_from_events(
    spark: SparkSession, sf_dir: str, *, fanned: bool = True
) -> DataFrame:
    """Reshape ``events`` into the KafkaRecord envelope (connector.proto:32-40)
    with a deterministic mix of payload kinds (FIXTURES.md §1.1):
    - key: empty when event_id%5==0 (omitted branch), else 'user-{id}'
      (plain string -> base64 branch)
    - value: 'raw:{id}' when event_id%3==0 (base64 branch), else the JSON
      ``props`` (raw-JSON branch)

    ``fanned``: serve events from the session-fanned relation. True for
    full-envelope consumers (q23/q107 — the string/base64 encode pass
    over every column is the single-split CPU wall the fan-out exists
    for); q24 passes False because it consumes only (event_id, ts) — a
    projection sliver where the plain scan's column pruning wins
    (r17 bench-protocol A/B: q24 plain 0.19 s vs fanned 0.43-0.64 s,
    q23 fanned 0.60-0.65 s vs plain 0.85-1.32 s).
    """
    ev = (
        fanned_table(spark, sf_dir, "events")
        if fanned
        else table(spark, sf_dir, "events")
    )
    key_s = F.when(F.col("event_id") % 5 == 0, F.lit("")).otherwise(
        F.concat(F.lit("user-"), F.col("user_id").cast("string"))
    )
    value_s = F.when(
        F.col("event_id") % 3 == 0,
        F.concat(F.lit("raw:"), F.col("event_id").cast("string")),
    ).otherwise(F.col("props"))
    return ev.select(
        F.lit("events").alias("topic"),
        (F.col("event_id") % 8).cast("int").alias("partition"),
        F.col("event_id").alias("offset"),
        F.unix_millis("ts").alias("timestamp"),
        F.encode(key_s, "UTF-8").alias("key"),
        F.encode(value_s, "UTF-8").alias("value"),
        F.lit('{"content-type":"application/json"}').alias("headers_json"),
    )


def q23(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = kafka_records_from_events(spark, sf_dir)
    return rec.select(
        F.col("offset"),
        envelope_json(
            F.col("topic"),
            F.col("partition"),
            F.col("offset"),
            F.col("timestamp"),
            F.col("key"),
            F.col("value"),
            F.col("headers_json"),
        ).alias("envelope"),
    )


# The oracle rebuilds the identical envelope string with DuckDB primitives:
# json_valid == try_parse_json sniff, to_base64(encode()) == base64(binary).
Q23_SQL = """
WITH rec AS (
  SELECT event_id AS "offset",
         CAST(event_id % 8 AS INT) AS part,
         epoch_ms(ts) AS ts_ms,
         CASE WHEN event_id % 5 = 0 THEN '' ELSE 'user-' || user_id END AS key_s,
         CASE WHEN event_id % 3 = 0 THEN 'raw:' || event_id ELSE props END AS value_s
  FROM events
)
SELECT "offset",
  '{"topic":"events","partition":' || part ||
  ',"offset":' || "offset" ||
  ',"timestamp":' || ts_ms ||
  CASE WHEN key_s = '' THEN ''
       WHEN json_valid(key_s) AND NOT contains(key_s, chr(10))
            AND NOT contains(key_s, chr(13)) THEN ',"key":' || key_s
       ELSE ',"key":"' || to_base64(encode(key_s)) || '","key_format":"base64"'
  END ||
  CASE WHEN value_s = '' THEN ''
       WHEN json_valid(value_s) AND NOT contains(value_s, chr(10))
            AND NOT contains(value_s, chr(13)) THEN ',"value":' || value_s
       ELSE ',"value":"' || to_base64(encode(value_s)) || '","value_format":"base64"'
  END ||
  ',"headers":{"content-type":"application/json"}}' AS envelope
FROM rec
"""


def q24(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = kafka_records_from_events(spark, sf_dir, fanned=False)
    y, m, d, h = time_partition_cols(F.col("timestamp"))
    return (
        rec.select("offset", y, m, d, h)
        .groupBy("year", "month", "day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
        )
    )


Q24_SQL = """
WITH rec AS (
  SELECT event_id AS "offset",
         to_timestamp(epoch_ms(ts) / 1000.0) AS tts
  FROM events
)
SELECT CAST(year(tts) AS INT) AS year,
       CAST(month(tts) AS INT) AS month,
       CAST(day(tts) AS INT) AS day,
       CAST(hour(tts) AS INT) AS hour,
       COUNT(*) AS n_records,
       MIN("offset") AS min_offset,
       MAX("offset") AS max_offset
FROM rec
GROUP BY 1, 2, 3, 4
"""

register("q23_envelope_encode", q23, Q23_SQL)
register("q24_time_partition_derive", q24, Q24_SQL)


# --------------------------------------------------------------------------
# Q107 — envelope branch audit: per partition, how many payloads take
#        each A18 encode branch (raw-JSON pass-through vs base64
#        fallback vs omitted-empty) and the key-omission rate — the
#        monitoring view over the reference's s3.rs:182-298 encoder
#        that tells an operator when a producer starts shipping
#        non-JSON. Map-side classification, |partitions|-bounded agg.
#        The sniff here is the JVM try_parse_json proxy on BOTH engines
#        (json_valid in DuckDB) — the production envelope path's strict
#        orjson sniff (functions/envelope.py) agrees with it on every
#        fixture payload; the strict-vs-lenient delta is recorded in
#        BASELINE.md "Round-4 envelope (A18) throughput", not here.
# --------------------------------------------------------------------------
def q107(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = kafka_records_from_events(spark, sf_dir)
    v = F.col("value").cast("string")
    is_json = F.expr("try_parse_json(cast(value as string)) is not null") & (
        F.length(v) > 0
    )
    is_empty = F.length(v) == 0
    key_omitted = F.length(F.col("key").cast("string")) == 0
    return (
        rec.groupBy("topic", "partition")
        .agg(
            F.count("*").cast("int").alias("n_records"),
            F.sum(is_json.cast("int")).cast("int").alias("n_value_json"),
            F.sum((~is_json & ~is_empty).cast("int"))
            .cast("int")
            .alias("n_value_b64"),
            F.sum(is_empty.cast("int")).cast("int").alias("n_value_omitted"),
            F.sum(key_omitted.cast("int")).cast("int").alias("n_key_omitted"),
            F.round(
                F.sum(is_json.cast("int")).cast("double")
                / F.count("*").cast("double"),
                6,
            ).alias("json_rate"),
        )
    )


Q107_SQL = """
WITH rec AS (
  SELECT 'events' AS topic,
         CAST(event_id % 8 AS INT) AS partition,
         CASE WHEN event_id % 5 = 0 THEN '' ELSE 'user-' || user_id END AS key_s,
         CASE WHEN event_id % 3 = 0 THEN 'raw:' || event_id ELSE props END AS value_s
  FROM events
)
SELECT topic, partition,
       CAST(COUNT(*) AS INT) AS n_records,
       CAST(SUM(CASE WHEN json_valid(value_s) AND LENGTH(value_s) > 0
                     THEN 1 ELSE 0 END) AS INT) AS n_value_json,
       CAST(SUM(CASE WHEN NOT json_valid(value_s) AND LENGTH(value_s) > 0
                     THEN 1 ELSE 0 END) AS INT) AS n_value_b64,
       CAST(SUM(CASE WHEN LENGTH(value_s) = 0 THEN 1 ELSE 0 END) AS INT)
         AS n_value_omitted,
       CAST(SUM(CASE WHEN LENGTH(key_s) = 0 THEN 1 ELSE 0 END) AS INT)
         AS n_key_omitted,
       ROUND(CAST(SUM(CASE WHEN json_valid(value_s) AND LENGTH(value_s) > 0
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS json_rate
FROM rec GROUP BY topic, partition
"""


register("q107_envelope_branch_audit", q107, Q107_SQL)
