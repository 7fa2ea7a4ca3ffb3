"""ZeroMQ envelope semantics over a recorded capture (the reference
wishlist's "zmq?" entry, README.md:301-311) — the connector-family
discipline: no peer is required for the hash gate, so the capture is
derived deterministically from the events table, the ZmqSource replay
transport consumes it through the SAME envelope the live ZMTP socket
path uses (tests/test_zmq.py drives that path against real loopback
PUB/SUB peers), and the DuckDB oracle re-derives capture + rollup
relationally.

Capture shape (one NDJSON record per message): topic =
``ev/<event_type>/u<user_id % 10>`` (ZeroMQ subscriptions are PREFIX
matches, not token wildcards, so the topic hierarchy is
slash-delimited and the subscription under test is the prefix
``ev/click/``), payload = JSON ``{"event_id": ..., "user_id": ...}``."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag, events_replay_chunk, run_stream_to_completion

PREFIX = "ev/click/"


def zmq_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the NDJSON capture the replay source reads — also
    the PUB feed the live-socket conformance test publishes through
    the loopback PUB peer."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        cap = e.select(
            F.concat(
                F.lit("ev/"),
                F.col("event_type"),
                F.lit("/u"),
                (F.col("user_id") % 10).cast("string"),
            ).alias("topic"),
            F.to_json(
                F.struct(
                    F.col("event_id").cast("string").alias("event_id"),
                    F.col("user_id").cast("string").alias("user_id"),
                )
            ).alias("payload"),
        )
        cap.write.mode("overwrite").json(out)

    return derived_dir(
        f"{_tag(sf_dir)}/zmq_capture", [table_path(sf_dir, "events")], build
    )


_ZMQ_ORACLE = """
    WITH cap AS (
        SELECT 'ev/' || event_type || '/u' || CAST(user_id % 10 AS VARCHAR) AS topic,
               event_id, user_id
        FROM events
        WHERE event_type = 'click'
    )
    SELECT topic,
           COUNT(*)::BIGINT AS n_msgs,
           COUNT(DISTINCT user_id)::BIGINT AS n_users,
           SUM(event_id)::BIGINT AS sum_event_id,
           MIN(event_id)::BIGINT AS min_event_id,
           MAX(event_id)::BIGINT AS max_event_id
    FROM cap
    GROUP BY topic
"""


def _envelope_rollup(env: DataFrame) -> DataFrame:
    """Per-topic rollup over whatever the ``ev/click/`` prefix
    subscription delivered."""
    eid = F.get_json_object("payload", "$.event_id").cast("bigint")
    uid = F.get_json_object("payload", "$.user_id").cast("bigint")
    return (
        env.select("topic", eid.alias("event_id"), uid.alias("user_id"))
        .groupBy("topic")
        .agg(
            F.count("*").cast("bigint").alias("n_msgs"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
    )


@register(
    "q_zmq_envelope",
    oracle=_ZMQ_ORACLE,
    tags=("zmq", "envelope", "source"),
)
def q_zmq_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix subscription (``ev/click/``) over the replayed capture:
    ZeroMQ's prefix-match subscription compiled to a Catalyst
    ``startswith`` (pushable StartsWith predicate, no Python UDF),
    payload extraction, per-topic aggregation — hash-verified against
    the relational re-derivation."""
    from cheetah_spark.sources.zmq_live import ZmqSource

    src = ZmqSource(
        transport="replay",
        capture_path=zmq_capture_dir(spark, sf_dir),
        prefix=PREFIX,
        streaming=False,
    )
    return _envelope_rollup(src.read(spark))


@register(
    "s_zmq_replay",
    oracle=_ZMQ_ORACLE,
    tags=("zmq", "streaming", "envelope"),
)
def s_zmq_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same subscription as a real StreamingQuery through the
    ``cheetah-zmq`` data source (seq-window reader, chunked
    multi-batch admission): the drained rollup must hash-match the
    SAME oracle as the batch read — the streaming/batch agreement gate
    every source family carries. The socket transport swaps only the
    pump (a real ZMTP SUB over TCP — tests/test_zmq.py drives it
    against live loopback peers); the envelope and rollup are this
    exact code. The replay stream carries ALL topics; the prefix
    filter runs Spark-side, mirroring an empty-prefix subscription
    narrowed in the plan."""
    from cheetah_spark.sources.zmq_live import ZmqSource

    src = ZmqSource(
        transport="replay",
        capture_path=zmq_capture_dir(spark, sf_dir),
        prefix="",
        # multi-batch admission, scale-derived: 4 offset windows at any SF
        chunk_size=events_replay_chunk(spark, sf_dir),
        streaming=True,
    )
    out = run_stream_to_completion(
        src.read(spark), lambda df: df.where(F.col("topic").startswith(PREFIX))
    )
    return _envelope_rollup(out)
