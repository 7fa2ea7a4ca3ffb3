"""MQTT envelope semantics over a recorded capture (reference S3/D3,
x/mqtt/mqtt.go) — the connector half (a live broker) doesn't exist in
this environment, so the *semantics* are exercised end-to-end over a
deterministic NDJSON capture: wildcard subscription filtering, the
QoS downgrade rule, retained-flag passthrough, and the Message
envelope surface (key/value/topic/attributes, reference types.go:10-26).

The capture is derived once from the events table (topic =
``sensors/<event_type>/<user_id mod 10>``), so the DuckDB oracle can
re-derive the exact same capture relationally and apply the identical
wildcard regex — the hash gate then proves filter + envelope +
payload round-trip all match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.registry import register
from cheetah_spark.sources import MqttReplaySource, mqtt_filter_regex
from cheetah_spark.streaming import _tag, run_stream_to_completion

_FILTER = "sensors/+/3"  # one wildcard level, exercised in both engines
_SUB_QOS = 1


def mqtt_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the NDJSON broker capture the replay source reads."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        cap = e.select(
            F.concat(
                F.lit("sensors/"),
                F.col("event_type"),
                F.lit("/"),
                (F.col("user_id") % 10).cast("string"),
            ).alias("topic"),
            F.to_json(F.struct("event_id")).alias("payload"),
            (F.col("event_id") % 3).cast("int").alias("qos"),
            (F.col("event_id") % 50 == 0).alias("retained"),
        )
        cap.write.mode("overwrite").json(out)

    return derived_dir(
        f"{_tag(sf_dir)}/mqtt_capture", [table_path(sf_dir, "events")], build
    )


# Shared by the batch-replay and live-transport queries: both must
# reduce the same capture to the same per-topic envelope rollup.
_ENVELOPE_ORACLE = f"""
    WITH cap AS (
        SELECT 'sensors/' || event_type || '/' || CAST(user_id % 10 AS VARCHAR) AS topic,
               event_id,
               CAST(event_id % 3 AS INT) AS qos,
               (event_id % 50 = 0) AS retained
        FROM events
    )
    SELECT topic,
           COUNT(*) AS n_msgs,
           MIN(event_id) AS min_event_id,
           MAX(event_id) AS max_event_id,
           COUNT(CASE WHEN least(qos, {_SUB_QOS}) >= 1 THEN 1 END) AS n_at_least_once,
           COUNT(CASE WHEN retained THEN 1 END) AS n_retained
    FROM cap
    WHERE regexp_matches(topic, '{mqtt_filter_regex(_FILTER)}')
    GROUP BY topic
"""


def _envelope_rollup(env: DataFrame) -> DataFrame:
    """Per-topic rollup of a Message-envelope frame (key/value/topic/
    attributes): payload extraction, QoS-downgrade and retained
    accounting — the shape both transports must agree on."""
    eid = F.get_json_object(F.col("value").cast("string"), "$.event_id").cast("bigint")
    eff_qos = F.col("attributes")["qos"].cast("int")
    retained = F.col("attributes")["retained"] == "true"
    return (
        env.select(
            "topic", eid.alias("event_id"), eff_qos.alias("eff_qos"), retained.alias("retained")
        )
        .groupBy("topic")
        .agg(
            F.count("*").alias("n_msgs"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.count(F.when(F.col("eff_qos") >= 1, 1)).alias("n_at_least_once"),
            F.count(F.when(F.col("retained"), 1)).alias("n_retained"),
        )
    )


@register(
    "q_mqtt_envelope",
    oracle=_ENVELOPE_ORACLE,
    tags=("mqtt", "envelope", "source"),
)
def q_mqtt_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subscribe ``sensors/+/3`` at QoS 1 over the replayed capture:
    wildcard filter (pushed to the scan as an rlike predicate), QoS
    downgrade (effective = min(publish, subscribe)), retained flags,
    and JSON payload extraction — aggregated per matched topic. The
    oracle re-derives the capture and filter relationally; hash
    equality proves the envelope semantics end-to-end."""
    src = MqttReplaySource(
        path=mqtt_capture_dir(spark, sf_dir), topic_filter=_FILTER, qos=_SUB_QOS
    )
    return _envelope_rollup(src.read(spark))


@register(
    "s_mqtt_live",
    oracle=_ENVELOPE_ORACLE,
    tags=("mqtt", "streaming", "live-transport"),
)
def s_mqtt_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE MQTT transport (reference mqtt.Source S3,
    x/mqtt/mqtt.go:178-251) driven as a real StreamingQuery: the
    ``cheetah-mqtt`` streaming data source (sources/mqtt_live.py) over
    the replay transport — the exact reader/offset/ack-on-commit code
    the paho production path uses, minus only the socket — delivers
    the broker capture through micro-batches into a memory sink, and
    the per-topic envelope rollup must hash-match the SAME oracle as
    the batch q_mqtt_envelope. Proves end-to-end: broker-side wildcard
    subscription filtering, §3.8.4 QoS downgrade, retained
    passthrough, payload bytes, and the Message envelope survive the
    streaming admission path byte-for-byte."""
    from cheetah_spark.sources.mqtt_live import MqttLiveSource

    src = MqttLiveSource(
        transport="replay",
        capture_path=mqtt_capture_dir(spark, sf_dir),
        topic=_FILTER,
        qos=_SUB_QOS,
    )
    env = run_stream_to_completion(src.read(spark), lambda df: df)
    return _envelope_rollup(env)
