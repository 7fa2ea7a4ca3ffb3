"""Kafka envelope semantics over a recorded broker capture (the
reference project's #1 wishlist connector, README.md:301-311) — the
q_mqtt_envelope discipline: no broker exists in this environment, so
the capture is derived deterministically from the events table, the
KafkaSource replay transport consumes it through the SAME
normalization the native ``format("kafka")`` path uses, and the
DuckDB oracle re-derives capture + subscription + rollup relationally
so the hash gate proves topic subscription, partition/offset
accounting, null-key handling, and payload round-trip end-to-end.

Capture shape (one NDJSON record per message, the fields Spark's own
Kafka source exposes): topic = ``logs/<event_type>``, partition =
``user_id % 4``, offset = dense per-(topic, partition) sequence in
event_id order (broker semantics: offsets are per-partition, dense,
start at 0), key = user_id (NULL every 5th message — unkeyed
producers are normal Kafka traffic), value = JSON ``{"event_id": n}``,
timestamp_ms = epoch millis derived from event_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag, run_stream_to_completion

_SUBSCRIBE = "logs/click,logs/error"  # two of the five topics


def kafka_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the NDJSON broker capture the replay source reads."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        part = (F.col("user_id") % 4).cast("int")
        topic = F.concat(F.lit("logs/"), F.col("event_type"))
        w = Window.partitionBy("topic", "partition").orderBy("event_id")
        cap = (
            e.select(
                topic.alias("topic"),
                part.alias("partition"),
                "event_id",
                "user_id",
            )
            .withColumn("offset", F.row_number().over(w).cast("long") - 1)
            .select(
                "topic",
                "partition",
                "offset",
                F.when(F.col("event_id") % 5 != 0, F.col("user_id").cast("string")).alias(
                    "key"
                ),
                F.to_json(F.struct("event_id")).alias("value"),
                (F.lit(1700000000000) + F.col("event_id")).alias("timestamp_ms"),
            )
        )
        cap.write.mode("overwrite").json(out)

    return derived_dir(
        f"{_tag(sf_dir)}/kafka_capture", [table_path(sf_dir, "events")], build
    )


_ENVELOPE_ORACLE = f"""
    WITH cap AS (
        SELECT 'logs/' || event_type AS topic,
               CAST(user_id % 4 AS INT) AS partition,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type, user_id % 4 ORDER BY event_id
               ) AS BIGINT) - 1 AS "offset",
               CASE WHEN event_id % 5 <> 0 THEN CAST(user_id AS VARCHAR) END AS key,
               event_id,
               1700000000000 + event_id AS timestamp_ms
        FROM events
    )
    SELECT topic,
           partition,
           COUNT(*) AS n_msgs,
           MIN("offset") AS min_offset,
           MAX("offset") AS max_offset,
           COUNT(key) AS n_keyed,
           COUNT(DISTINCT key) AS n_distinct_keys,
           MIN(event_id) AS min_event_id,
           MAX(event_id) AS max_event_id,
           MAX(timestamp_ms) AS max_ts_ms
    FROM cap
    WHERE topic IN ('logs/click', 'logs/error')
    GROUP BY topic, partition
"""


def _envelope_rollup(env: DataFrame) -> DataFrame:
    """Per-(topic, partition) rollup of the Message envelope: offset
    density (max - min must equal n-1 per partition — asserted by the
    oracle's identical min/max), null-key accounting, payload
    extraction."""
    eid = F.get_json_object(F.col("value").cast("string"), "$.event_id").cast("bigint")
    return (
        env.select(
            "topic",
            F.col("attributes")["partition"].cast("int").alias("partition"),
            F.col("attributes")["offset"].cast("bigint").alias("offset"),
            F.col("attributes")["timestamp_ms"].cast("bigint").alias("ts_ms"),
            "key",
            eid.alias("event_id"),
        )
        .groupBy("topic", "partition")
        .agg(
            F.count("*").alias("n_msgs"),
            F.min("offset").alias("min_offset"),
            F.max("offset").alias("max_offset"),
            F.count("key").alias("n_keyed"),
            F.count_distinct("key").alias("n_distinct_keys"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.max("ts_ms").alias("max_ts_ms"),
        )
    )


@register(
    "q_kafka_envelope",
    oracle=_ENVELOPE_ORACLE,
    tags=("kafka", "envelope", "source"),
)
def q_kafka_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subscribe to two of five topics over the replayed capture:
    topic-list subscription (pushed to the scan as an IN predicate),
    per-partition offset accounting, null-key passthrough, and JSON
    payload extraction — aggregated per (topic, partition). The oracle
    re-derives the capture and subscription relationally; hash
    equality proves the envelope semantics end-to-end."""
    from cheetah_spark.sources.kafka import KafkaSource

    src = KafkaSource(
        transport="replay",
        capture_path=kafka_capture_dir(spark, sf_dir),
        topic=_SUBSCRIBE,
        streaming=False,
    )
    return _envelope_rollup(src.read(spark))


@register(
    "s_kafka_replay",
    oracle=_ENVELOPE_ORACLE,
    tags=("kafka", "streaming", "envelope"),
)
def s_kafka_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same subscription as a real StreamingQuery: the replay
    transport's file stream delivers the capture through micro-batches
    into a memory sink, and the per-(topic, partition) rollup must
    hash-match the SAME oracle as the batch q_kafka_envelope — the
    streaming/batch agreement gate every other source family carries.
    (The native transport swaps only the scan: format("kafka") with
    checkpointed per-partition offsets; the envelope and rollup are
    this exact code.)"""
    from cheetah_spark.sources.kafka import KafkaSource

    src = KafkaSource(
        transport="replay",
        capture_path=kafka_capture_dir(spark, sf_dir),
        topic=_SUBSCRIBE,
        streaming=True,
    )
    out = run_stream_to_completion(src.read(spark), lambda df: df)
    return _envelope_rollup(out)
