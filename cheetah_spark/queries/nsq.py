"""NSQ envelope semantics over a recorded capture (the reference
wishlist's "NSQ?" entry, README.md:301-311) — the connector-family
discipline: no nsqd is required for the hash gate, so the capture is
derived deterministically from the events table, the NsqSource replay
transport consumes it through the SAME envelope the live socket path
uses (tests/test_nsq.py drives that path against a real loopback nsqd
speaking the public TCP protocol), and the DuckDB oracle re-derives
capture + rollup relationally.

Capture shape (one NDJSON record per message): topic =
``ev.<event_type>`` (NSQ topics are flat names — no wildcard routing
like NATS/AMQP; consumers subscribe to exactly one topic, so the
envelope filter is plain equality), body = JSON ``{"event_id": ...,
"user_id": ...}``. The subscription under test is ``ev.click``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag, events_replay_chunk, run_stream_to_completion

_TOPIC = "ev.click"


def nsq_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the NDJSON capture the replay source reads — also
    the PUB feed the live-socket conformance test publishes through
    the loopback nsqd."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        cap = e.select(
            F.concat(F.lit("ev."), F.col("event_type")).alias("topic"),
            F.to_json(
                F.struct(
                    F.col("event_id").cast("string").alias("event_id"),
                    F.col("user_id").cast("string").alias("user_id"),
                )
            ).alias("body"),
        )
        cap.write.mode("overwrite").json(out)

    return derived_dir(
        f"{_tag(sf_dir)}/nsq_capture", [table_path(sf_dir, "events")], build
    )


_NSQ_ORACLE = """
    WITH cap AS (
        SELECT 'u' || CAST(user_id % 10 AS VARCHAR) AS shard,
               event_id, user_id
        FROM events
        WHERE event_type = 'click'
    )
    SELECT shard,
           COUNT(*)::BIGINT AS n_msgs,
           COUNT(DISTINCT user_id)::BIGINT AS n_users,
           SUM(event_id)::BIGINT AS sum_event_id,
           MIN(event_id)::BIGINT AS min_event_id,
           MAX(event_id)::BIGINT AS max_event_id
    FROM cap
    GROUP BY shard
"""


def _envelope_rollup(env: DataFrame) -> DataFrame:
    """Per-user-shard rollup over whatever the ``ev.click`` channel
    delivered (NSQ has no routing keys, so the grouping dimension
    comes out of the payload)."""
    eid = F.get_json_object("body", "$.event_id").cast("bigint")
    uid = F.get_json_object("body", "$.user_id").cast("bigint")
    return (
        env.select(eid.alias("event_id"), uid.alias("user_id"))
        .withColumn("shard", F.concat(F.lit("u"), (F.col("user_id") % 10).cast("string")))
        .groupBy("shard")
        .agg(
            F.count("*").cast("bigint").alias("n_msgs"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
    )


@register(
    "q_nsq_envelope",
    oracle=_NSQ_ORACLE,
    tags=("nsq", "envelope", "source"),
)
def q_nsq_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``ev.click`` topic over the replayed capture: flat-topic
    equality filter (pushed to the scan), payload extraction,
    per-shard aggregation — hash-verified against the relational
    re-derivation."""
    from cheetah_spark.sources.nsq_live import NsqSource

    src = NsqSource(
        transport="replay",
        capture_path=nsq_capture_dir(spark, sf_dir),
        topic=_TOPIC,
        streaming=False,
    )
    return _envelope_rollup(src.read(spark))


@register(
    "s_nsq_replay",
    oracle=_NSQ_ORACLE,
    tags=("nsq", "streaming", "envelope"),
)
def s_nsq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same topic as a real StreamingQuery through the
    ``cheetah-nsq`` data source (seq-window reader, chunked
    multi-batch admission): the drained rollup must hash-match the
    SAME oracle as the batch read — the streaming/batch agreement gate
    every source family carries. The socket transport swaps only the
    pump (a real SUB+RDY consumer over TCP with FIN-on-commit —
    tests/test_nsq.py drives it against a live loopback nsqd); the
    envelope and rollup are this exact code. The replay stream carries
    ALL topics; the topic filter runs Spark-side."""
    from cheetah_spark.sources.nsq_live import NsqSource

    src = NsqSource(
        transport="replay",
        capture_path=nsq_capture_dir(spark, sf_dir),
        topic="",  # all topics admitted; filtered in the plan below
        # multi-batch admission, scale-derived: 4 offset windows at any SF
        chunk_size=events_replay_chunk(spark, sf_dir),
        streaming=True,
    )
    out = run_stream_to_completion(
        src.read(spark), lambda df: df.where(F.col("topic") == _TOPIC)
    )
    return _envelope_rollup(out)
