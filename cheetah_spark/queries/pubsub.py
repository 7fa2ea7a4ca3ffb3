"""Pub/Sub envelope semantics over a recorded capture (the reference
wishlist's #5 connector, README.md:301-311) — the q_nats/q_amqp
discipline: no service is required for the hash gate, so the capture
is derived deterministically from the events table, the PubSubSource
replay transport consumes it through the SAME envelope the live HTTP
path uses (tests/test_pubsub.py drives that path against a real
loopback REST server), and the DuckDB oracle re-derives capture +
rollup relationally.

Capture shape (one NDJSON record per message): message_id = event_id,
attributes = canonical JSON ``{"event_type": ..., "shard": "u<user_id
% 10>"}`` (sorted keys — the wire and replay paths canonicalize
identically), data = JSON ``{"event_id": ..., "user_id": ...}``. The
subscription under test carries the filter ``attributes.event_type =
"click"`` — the public subscription-filter syntax, enforced
server-side on the live path and compiled to a Catalyst predicate on
the replay path."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag, events_replay_chunk, run_stream_to_completion

FILTER_EXPR = 'attributes.event_type = "click"'


def pubsub_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the NDJSON capture the replay source reads — also
    the publish feed the live-HTTP conformance test routes through the
    loopback server."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        # canonical attributes JSON: sorted keys, no spaces — matches
        # _canon_attrs on the wire path
        attrs = F.concat(
            F.lit('{"event_type":"'),
            F.col("event_type"),
            F.lit('","shard":"u'),
            (F.col("user_id") % 10).cast("string"),
            F.lit('"}'),
        )
        cap = e.select(
            F.col("event_id").cast("string").alias("message_id"),
            attrs.alias("attributes"),
            F.to_json(
                F.struct(
                    F.col("event_id").cast("string").alias("event_id"),
                    F.col("user_id").cast("string").alias("user_id"),
                )
            ).alias("data"),
        )
        cap.write.mode("overwrite").json(out)

    return derived_dir(
        f"{_tag(sf_dir)}/pubsub_capture", [table_path(sf_dir, "events")], build
    )


_PUBSUB_ORACLE = """
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
    """Per-shard-attribute rollup over whatever the filtered
    subscription delivered."""
    eid = F.get_json_object("data", "$.event_id").cast("bigint")
    uid = F.get_json_object("data", "$.user_id").cast("bigint")
    shard = F.get_json_object("attributes", "$.shard")
    return (
        env.select(shard.alias("shard"), eid.alias("event_id"), uid.alias("user_id"))
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
    "q_pubsub_envelope",
    oracle=_PUBSUB_ORACLE,
    tags=("pubsub", "envelope", "source"),
)
def q_pubsub_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered subscription (``attributes.event_type = "click"``)
    over the replayed capture: the public Pub/Sub filter subset
    compiled to a Catalyst predicate over the canonical
    attributes-JSON column (no Python UDF), payload extraction,
    per-shard aggregation — hash-verified against the relational
    re-derivation."""
    from cheetah_spark.sources.pubsub_live import PubSubSource

    src = PubSubSource(
        transport="replay",
        capture_path=pubsub_capture_dir(spark, sf_dir),
        filter=FILTER_EXPR,
        streaming=False,
    )
    return _envelope_rollup(src.read(spark))


@register(
    "s_pubsub_replay",
    oracle=_PUBSUB_ORACLE,
    tags=("pubsub", "streaming", "envelope"),
)
def s_pubsub_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same filtered subscription as a real StreamingQuery through
    the ``cheetah-pubsub`` data source (seq-window reader, chunked
    multi-batch admission): the drained rollup must hash-match the
    SAME oracle as the batch read — the streaming/batch agreement gate
    every source family carries. The HTTP transport swaps only the
    pump (a real ``:pull`` poller with ack-id ack-on-commit —
    tests/test_pubsub.py drives it against a live loopback REST
    server); the envelope and rollup are this exact code. The replay
    stream carries ALL messages; the filter runs Spark-side, mirroring
    an unfiltered subscription narrowed in the plan."""
    from cheetah_spark.sources.pubsub_live import PubSubSource, filter_match_col

    src = PubSubSource(
        transport="replay",
        capture_path=pubsub_capture_dir(spark, sf_dir),
        filter="",
        # multi-batch admission, scale-derived: 4 offset windows at any SF
        chunk_size=events_replay_chunk(spark, sf_dir),
        streaming=True,
    )
    out = run_stream_to_completion(
        src.read(spark), lambda df: df.where(filter_match_col(FILTER_EXPR))
    )
    return _envelope_rollup(out)
