"""Kinesis envelope semantics over a recorded capture (the reference
wishlist's #6 connector, README.md:301-311) — the connector-family
discipline: no service is required for the hash gate, so the capture
is derived deterministically from the events table, the KinesisSource
replay transport consumes it through the SAME envelope the live HTTP
path uses (tests/test_kinesis.py drives that path against a real
loopback Kinesis API server), and the DuckDB oracle re-derives
capture + rollup relationally — INCLUDING the MD5 partition-key →
shard routing rule, which both the loopback service, the replay pump,
the Catalyst batch expression, and the oracle SQL compute identically
(high MD5 nibble over an even 4-shard split of the 2^128 hash space).

Capture shape (one NDJSON record per message): partition_key =
``u<user_id % 10>`` (ten keys spread across 4 shards by MD5), data =
JSON ``{"event_id": ..., "user_id": ..., "event_type": ...}``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag, events_replay_chunk, run_stream_to_completion

N_SHARDS = 4


def kinesis_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the NDJSON capture the replay source reads — also
    the PutRecords feed the live-HTTP conformance test routes through
    the loopback service."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        cap = e.select(
            F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")).alias(
                "partition_key"
            ),
            F.to_json(
                F.struct(
                    F.col("event_id").cast("string").alias("event_id"),
                    F.col("user_id").cast("string").alias("user_id"),
                    F.col("event_type").alias("event_type"),
                )
            ).alias("data"),
        )
        cap.write.mode("overwrite").json(out)

    return derived_dir(
        f"{_tag(sf_dir)}/kinesis_capture", [table_path(sf_dir, "events")], build
    )


# the same MD5-nibble routing in ANSI SQL (DuckDB): high nibble of
# md5(pk) -> shard index over the even 4-way split
_KINESIS_ORACLE = """
    WITH cap AS (
        SELECT 'u' || CAST(user_id % 10 AS VARCHAR) AS partition_key,
               event_id, user_id
        FROM events
    ), routed AS (
        SELECT 'shardId-' || lpad(CAST(
                   CAST(FLOOR((strpos('0123456789abcdef',
                       substr(md5(partition_key), 1, 1)) - 1) / 4.0) AS INT)
               AS VARCHAR), 12, '0') AS shard_id,
               partition_key, event_id, user_id
        FROM cap
    )
    SELECT shard_id,
           COUNT(*)::BIGINT AS n_msgs,
           COUNT(DISTINCT partition_key)::BIGINT AS n_keys,
           SUM(event_id)::BIGINT AS sum_event_id,
           MIN(event_id)::BIGINT AS min_event_id,
           MAX(event_id)::BIGINT AS max_event_id
    FROM routed
    GROUP BY shard_id
"""


def _envelope_rollup(env: DataFrame) -> DataFrame:
    """Per-shard rollup over whatever the stream delivered: routing
    balance (n_keys per shard) + payload extraction."""
    eid = F.get_json_object("data", "$.event_id").cast("bigint")
    return (
        env.select("shard_id", "partition_key", eid.alias("event_id"))
        .groupBy("shard_id")
        .agg(
            F.count("*").cast("bigint").alias("n_msgs"),
            F.count_distinct("partition_key").cast("bigint").alias("n_keys"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
    )


@register(
    "q_kinesis_envelope",
    oracle=_KINESIS_ORACLE,
    tags=("kinesis", "envelope", "source"),
)
def q_kinesis_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replayed capture through the batch envelope: MD5
    partition-key shard routing as a Catalyst expression (md5/instr/
    floor — no Python UDF), payload extraction, per-shard aggregation
    — hash-verified against the oracle computing the identical
    routing in ANSI SQL."""
    from cheetah_spark.sources.kinesis_live import KinesisSource

    src = KinesisSource(
        transport="replay",
        capture_path=kinesis_capture_dir(spark, sf_dir),
        shard_count=N_SHARDS,
        streaming=False,
    )
    return _envelope_rollup(src.read(spark))


@register(
    "s_kinesis_replay",
    oracle=_KINESIS_ORACLE,
    tags=("kinesis", "streaming", "envelope"),
)
def s_kinesis_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same stream as a real StreamingQuery through the
    ``cheetah-kinesis`` data source (replay pump, chunked multi-batch
    admission; shard routing applied record-by-record exactly as the
    service's PutRecord does): the drained rollup must hash-match the
    SAME oracle as the batch read. The HTTP transport swaps the pump
    for the CURSOR reader — per-shard positions as offsets, GetRecords
    polling, and service-side readBetweenOffsets replay
    (tests/test_kinesis.py drives it against the live loopback,
    including a restart re-fetch)."""
    from cheetah_spark.sources.kinesis_live import KinesisSource

    src = KinesisSource(
        transport="replay",
        capture_path=kinesis_capture_dir(spark, sf_dir),
        shard_count=N_SHARDS,
        # multi-batch admission, scale-derived: 4 offset windows at any SF
        chunk_size=events_replay_chunk(spark, sf_dir),
        streaming=True,
    )
    out = run_stream_to_completion(src.read(spark), lambda df: df)
    return _envelope_rollup(out)
