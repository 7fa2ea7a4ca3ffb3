"""AMQP envelope semantics over a recorded capture (the reference
wishlist's #4 connector, README.md:301-311) — the q_nats_envelope
discipline: no broker is required for the hash gate, so the capture is
derived deterministically from the events table, the AmqpSource replay
transport consumes it through the SAME envelope the live socket path
uses (tests/test_amqp.py drives that path against a real loopback AMQP
0-9-1 broker), and the DuckDB oracle re-derives capture + rollup
relationally.

Capture shape (one NDJSON record per message): exchange = ``ev``
(topic type), routing_key = ``<event_type>.u<user_id % 10>.evt``
(three dot-words so BOTH topic-exchange wildcards are exercised —
``*`` one word, ``#`` zero-or-more words), payload = JSON
``{"event_id": ..., "user_id": ...}``. The binding under test is
``click.*.evt`` — one-word wildcard over the user shard."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag, events_replay_chunk, run_stream_to_completion

_BINDING_PATTERN = "click.*.evt"  # one-word wildcard over the user shard


def amqp_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the NDJSON capture the replay source reads — also
    the publish feed the live-socket conformance test routes through
    the loopback broker."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        cap = e.select(
            F.lit("ev").alias("exchange"),
            F.concat(
                F.col("event_type"),
                F.lit(".u"),
                (F.col("user_id") % 10).cast("string"),
                F.lit(".evt"),
            ).alias("routing_key"),
            F.to_json(
                F.struct(
                    F.col("event_id").cast("string").alias("event_id"),
                    F.col("user_id").cast("string").alias("user_id"),
                )
            ).alias("payload"),
        )
        cap.write.mode("overwrite").json(out)

    return derived_dir(
        f"{_tag(sf_dir)}/amqp_capture", [table_path(sf_dir, "events")], build
    )


_AMQP_ORACLE = """
    WITH cap AS (
        SELECT event_type || '.u' || CAST(user_id % 10 AS VARCHAR) || '.evt' AS routing_key,
               event_id, user_id
        FROM events
        WHERE event_type = 'click'
    )
    SELECT routing_key,
           COUNT(*)::BIGINT AS n_msgs,
           COUNT(DISTINCT user_id)::BIGINT AS n_users,
           SUM(event_id)::BIGINT AS sum_event_id,
           MIN(event_id)::BIGINT AS min_event_id,
           MAX(event_id)::BIGINT AS max_event_id
    FROM cap
    GROUP BY routing_key
"""


def _envelope_rollup(env: DataFrame) -> DataFrame:
    """Per-routing-key rollup: message count, payload extraction,
    distinct-principal accounting — over whatever the
    ``click.*.evt`` binding delivered."""
    eid = F.get_json_object("payload", "$.event_id").cast("bigint")
    uid = F.get_json_object("payload", "$.user_id").cast("bigint")
    return (
        env.select("routing_key", eid.alias("event_id"), uid.alias("user_id"))
        .groupBy("routing_key")
        .agg(
            F.count("*").cast("bigint").alias("n_msgs"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
    )


@register(
    "q_amqp_envelope",
    oracle=_AMQP_ORACLE,
    tags=("amqp", "envelope", "source"),
)
def q_amqp_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-exchange binding (``click.*.evt``) over the replayed
    capture: AMQP routing-key word matching compiled to an anchored
    Catalyst regex (no Python UDF), payload extraction, per-key
    aggregation — hash-verified against the relational re-derivation."""
    from cheetah_spark.sources.amqp_live import AmqpSource

    src = AmqpSource(
        transport="replay",
        capture_path=amqp_capture_dir(spark, sf_dir),
        binding_key=_BINDING_PATTERN,
        streaming=False,
    )
    return _envelope_rollup(src.read(spark))


@register(
    "s_amqp_replay",
    oracle=_AMQP_ORACLE,
    tags=("amqp", "streaming", "envelope"),
)
def s_amqp_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same binding as a real StreamingQuery through the
    ``cheetah-amqp`` data source (seq-window reader, chunked
    multi-batch admission): the drained rollup must hash-match the
    SAME oracle as the batch read — the streaming/batch agreement gate
    every source family carries. The socket transport swaps only the
    pump (a real basic.consume over TCP with delivery-tag
    ack-on-commit — tests/test_amqp.py drives it against a live
    loopback broker); the envelope and rollup are this exact code. The
    replay stream carries ALL routing keys; the binding filter runs
    Spark-side, mirroring a broad ``#`` binding narrowed in the plan."""
    from cheetah_spark.sources.amqp_live import AmqpSource, _routing_match_col

    src = AmqpSource(
        transport="replay",
        capture_path=amqp_capture_dir(spark, sf_dir),
        binding_key="#",
        # multi-batch admission, scale-derived: 4 offset windows at any SF
        chunk_size=events_replay_chunk(spark, sf_dir),
        streaming=True,
    )
    out = run_stream_to_completion(
        src.read(spark), lambda df: df.where(_routing_match_col(_BINDING_PATTERN))
    )
    return _envelope_rollup(out)
