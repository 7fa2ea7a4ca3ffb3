"""Kafka source/sink — the reference project's own #1 wishlist
connector (reference README.md:301-311 "Source / Destination
Wishlist: Kafka"), built Spark-first on the PUBLIC Structured
Streaming Kafka integration (``format("kafka")``, the
spark-sql-kafka-0-10 package documented in the Spark programming
guide).

Two transports, the mqtt_live/paho gating pattern:

- ``transport="kafka"`` — the production path: Spark's native Kafka
  connector (JVM-side scan, per-partition offset tracking, exactly
  the checkpoint-commit semantics every other source here maps onto).
  The connector jars are not shipped in every deployment (they are a
  ``--packages org.apache.spark:spark-sql-kafka-0-10_2.13`` opt-in),
  so a missing provider surfaces as a clear error naming the package
  and the replay fallback rather than Spark's raw
  DATA_SOURCE_NOT_FOUND.
- ``transport="replay"`` — a deterministic NDJSON broker capture
  (schema: ``topic, partition, offset, key, value, timestamp_ms``)
  through the same normalization, batch or streaming (file source) —
  the MqttReplaySource discipline, so the envelope semantics are
  testable without a broker.

Rows surface as the canonical Message envelope (reference
types.go:10-26): ``key string, value binary, topic string,
attributes map<string,string>`` with partition/offset/timestamp_ms in
attributes — the same Message→Kafka field mapping SURVEY.md §1.5
documents (Spark's own Kafka source exposes the identical fields; the
envelope just makes them uniform with every other cheetah source).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.sinks import Sink, _start, write_capture
from cheetah_spark.sources import Source

CAPTURE_SCHEMA = (
    "topic string, partition int, offset long, key string, "
    "value string, timestamp_ms long"
)

_PKG_HINT = (
    "Kafka transport requires the Spark Kafka connector "
    "(org.apache.spark:spark-sql-kafka-0-10 via spark.jars.packages); "
    "use transport='replay' with an NDJSON capture where no broker/"
    "connector exists"
)


def _kafka_missing(exc: Exception) -> bool:
    msg = str(exc)
    return "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find the data source: kafka" in msg


def _to_envelope(df: DataFrame) -> DataFrame:
    """Kafka-shaped frame → canonical Message envelope."""
    return df.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("binary").alias("value"),
        "topic",
        F.create_map(
            F.lit("partition"), F.coalesce(F.col("partition"), F.lit(0)).cast("string"),
            F.lit("offset"), F.coalesce(F.col("offset"), F.lit(-1)).cast("string"),
            F.lit("timestamp_ms"), F.coalesce(F.col("timestamp_ms"), F.lit(0)).cast("string"),
        ).alias("attributes"),
    )


@dataclass
class KafkaSource(Source):
    """Subscribe to Kafka topics (wishlist connector; config type
    ``{"type":"kafka","bootstrapServers":...,"topic":...}``)."""

    bootstrap_servers: str = ""
    topic: str = ""  # comma-separated subscribe list
    topic_pattern: str = ""  # subscribePattern alternative
    group_id: str = ""
    starting_offsets: str = "earliest"
    transport: str = "kafka"  # kafka | replay
    capture_path: str = ""
    streaming: bool = True

    def _read_native(self, spark: SparkSession) -> DataFrame:
        if not self.bootstrap_servers:
            raise ValueError("kafka source: bootstrapServers is required")
        reader = (spark.readStream if self.streaming else spark.read).format("kafka")
        reader = reader.option("kafka.bootstrap.servers", self.bootstrap_servers)
        if self.topic_pattern:
            reader = reader.option("subscribePattern", self.topic_pattern)
        elif self.topic:
            reader = reader.option("subscribe", self.topic)
        else:
            raise ValueError("kafka source: topic or topicPattern is required")
        if self.group_id:
            reader = reader.option("kafka.group.id", self.group_id)
        reader = reader.option("startingOffsets", self.starting_offsets)
        try:
            raw = reader.load()
        except Exception as exc:
            if _kafka_missing(exc):
                raise RuntimeError(_PKG_HINT) from exc
            raise
        return _to_envelope(
            raw.select(
                "key",
                "value",
                "topic",
                "partition",
                "offset",
                (F.unix_millis(F.col("timestamp"))).alias("timestamp_ms"),
            )
        )

    def _read_replay(self, spark: SparkSession) -> DataFrame:
        reader = spark.readStream if self.streaming else spark.read
        df = reader.schema(CAPTURE_SCHEMA).json(self.capture_path)
        if self.topic_pattern:
            df = df.where(F.col("topic").rlike(self.topic_pattern))
        elif self.topic:
            topics = [t.strip() for t in self.topic.split(",") if t.strip()]
            df = df.where(F.col("topic").isin(topics))
        return _to_envelope(df)

    def read(self, spark: SparkSession) -> DataFrame:
        t = self.transport.lower()
        if t == "kafka":
            return self._read_native(spark)
        if t == "replay":
            return self._read_replay(spark)
        raise ValueError(f"kafka: unknown transport {t!r} (kafka|replay)")


@dataclass
class KafkaSink(Sink):
    """Publish a Message-envelope (or key/value) frame to Kafka. The
    replay transport appends the NDJSON capture the source reads —
    source↔sink round-trips without a broker (partition/offset are
    broker-assigned in production, so the capture leaves them NULL and
    the reader coalesces to 0/-1)."""

    bootstrap_servers: str = ""
    topic: str = "out"
    transport: str = "kafka"  # kafka | replay
    capture_path: str = ""
    checkpoint: Optional[str] = None
    trigger: Optional[dict] = None

    def _kv(self, df: DataFrame) -> DataFrame:
        cols = set(df.columns)
        key = F.col("key").cast("string") if "key" in cols else F.lit(None).cast("string")
        return df.select(
            key.alias("key"),
            F.col("value").cast("string").alias("value"),
            (F.col("topic") if "topic" in cols else F.lit(self.topic)).alias("topic"),
        )

    def write(self, df: DataFrame):
        t = self.transport.lower()
        if t == "kafka":
            if not self.bootstrap_servers:
                raise ValueError("kafka sink: bootstrapServers is required")
            out = self._kv(df).select(
                F.col("key").cast("binary"), F.col("value").cast("binary"), "topic"
            )
            try:
                if df.isStreaming:
                    w = (
                        out.writeStream.format("kafka")
                        .option("kafka.bootstrap.servers", self.bootstrap_servers)
                        .option("topic", self.topic)
                    )
                    return _start(w, self.checkpoint, self.trigger)
                (
                    out.write.format("kafka")
                    .option("kafka.bootstrap.servers", self.bootstrap_servers)
                    .option("topic", self.topic)
                    .save()
                )
                return None
            except Exception as exc:
                if _kafka_missing(exc):
                    raise RuntimeError(_PKG_HINT) from exc
                raise
        if t != "replay":
            raise ValueError(f"kafka: unknown transport {t!r} (kafka|replay)")
        cap = self._kv(df).select(
            "topic",
            F.lit(None).cast("int").alias("partition"),
            F.lit(None).cast("long").alias("offset"),
            "key",
            "value",
            F.lit(None).cast("long").alias("timestamp_ms"),
        )
        return write_capture(cap, self.capture_path, self.checkpoint, self.trigger)
