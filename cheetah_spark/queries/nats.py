"""NATS envelope semantics over a recorded capture (the reference
wishlist's #3 connector, README.md:301-311) — the q_redis_envelope
discipline: no server is required for the hash gate, so the capture is
derived deterministically from the events table, the NatsSource replay
transport consumes it through the SAME envelope the live socket path
uses (tests/test_nats.py drives that path against a real loopback NATS
server), and the DuckDB oracle re-derives capture + rollup
relationally.

Capture shape (one NDJSON record per message): subject =
``ev.<event_type>.u<user_id % 10>`` (three dot-tokens so the ``*``/``>``
wildcard subscription semantics are actually exercised by the filter),
reply_to = '' (fire-and-forget), payload = JSON ``{"event_id": ...,
"user_id": ...}``. The subscription under test is ``ev.click.*`` —
one-token wildcard over the user shard."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag, events_replay_chunk, run_stream_to_completion

_SUBJECT_PATTERN = "ev.click.*"  # wildcard: every user shard of one event type


def nats_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the NDJSON capture the replay source reads — also
    the PUB feed the live-socket conformance test publishes through
    the loopback NATS server."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        cap = e.select(
            F.concat(
                F.lit("ev."),
                F.col("event_type"),
                F.lit(".u"),
                (F.col("user_id") % 10).cast("string"),
            ).alias("subject"),
            F.lit("").alias("reply_to"),
            F.to_json(
                F.struct(
                    F.col("event_id").cast("string").alias("event_id"),
                    F.col("user_id").cast("string").alias("user_id"),
                )
            ).alias("payload"),
        )
        cap.write.mode("overwrite").json(out)

    return derived_dir(
        f"{_tag(sf_dir)}/nats_capture", [table_path(sf_dir, "events")], build
    )


_NATS_ORACLE = """
    WITH cap AS (
        SELECT 'ev.' || event_type || '.u' || CAST(user_id % 10 AS VARCHAR) AS subject,
               event_id, user_id
        FROM events
        WHERE event_type = 'click'
    )
    SELECT subject,
           COUNT(*)::BIGINT AS n_msgs,
           COUNT(DISTINCT user_id)::BIGINT AS n_users,
           SUM(event_id)::BIGINT AS sum_event_id,
           MIN(event_id)::BIGINT AS min_event_id,
           MAX(event_id)::BIGINT AS max_event_id
    FROM cap
    GROUP BY subject
"""


def _envelope_rollup(env: DataFrame) -> DataFrame:
    """Per-subject rollup: message count, payload extraction,
    distinct-principal accounting — over whatever the ``ev.click.*``
    subscription delivered."""
    eid = F.get_json_object("payload", "$.event_id").cast("bigint")
    uid = F.get_json_object("payload", "$.user_id").cast("bigint")
    return (
        env.select("subject", eid.alias("event_id"), uid.alias("user_id"))
        .groupBy("subject")
        .agg(
            F.count("*").cast("bigint").alias("n_msgs"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
    )


@register(
    "q_nats_envelope",
    oracle=_NATS_ORACLE,
    tags=("nats", "envelope", "source"),
)
def q_nats_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wildcard subscription (``ev.click.*``) over the replayed
    capture: NATS subject-token matching compiled to an anchored
    Catalyst regex (no Python UDF), payload extraction, per-subject
    aggregation — hash-verified against the relational re-derivation."""
    from cheetah_spark.sources.nats_live import NatsSource

    src = NatsSource(
        transport="replay",
        capture_path=nats_capture_dir(spark, sf_dir),
        subject=_SUBJECT_PATTERN,
        streaming=False,
    )
    return _envelope_rollup(src.read(spark))


@register(
    "s_nats_replay",
    oracle=_NATS_ORACLE,
    tags=("nats", "streaming", "envelope"),
)
def s_nats_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same subscription as a real StreamingQuery through the
    ``cheetah-nats`` data source (seq-window reader, chunked
    multi-batch admission): the drained rollup must hash-match the
    SAME oracle as the batch read — the streaming/batch agreement gate
    every source family carries. The socket transport swaps only the
    pump (a real SUB over TCP — tests/test_nats.py drives it against a
    live loopback server); the envelope and rollup are this exact
    code. The replay stream carries ALL subjects; the wildcard filter
    runs Spark-side, mirroring a broad ``>`` subscription narrowed in
    the plan."""
    from cheetah_spark.sources.nats_live import NatsSource, _subject_match_col

    src = NatsSource(
        transport="replay",
        capture_path=nats_capture_dir(spark, sf_dir),
        subject=">",
        # multi-batch admission, scale-derived: 4 offset windows at any SF
        chunk_size=events_replay_chunk(spark, sf_dir),
        streaming=True,
    )
    out = run_stream_to_completion(
        src.read(spark), lambda df: df.where(_subject_match_col(_SUBJECT_PATTERN))
    )
    return _envelope_rollup(out)
