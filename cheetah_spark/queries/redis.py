"""Redis Streams envelope semantics over a recorded capture (the
reference wishlist's #2 connector, README.md:301-311) — the
q_kafka_envelope discipline: no server is required for the hash gate,
so the capture is derived deterministically from the events table,
the RedisSource replay transport consumes it through the SAME
envelope the RESP socket path uses (tests/test_redis.py drives that
path against a real loopback RESP server), and the DuckDB oracle
re-derives capture + rollup relationally.

Capture shape (one NDJSON record per entry): stream =
``ev/<event_type>``, id = ``<1700000000000 + event_id>-0`` (the
public ``<ms>-<seq>`` form; event_ids are unique so ids are strictly
increasing in XADD order, which a real server enforces), fields =
JSON ``{"event_id": ..., "user_id": ...}`` (stream entries are flat
string field-value maps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag, events_replay_chunk, run_stream_to_completion

_STREAM = "ev/click"  # one of the five event-type streams


def redis_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the NDJSON capture the replay source reads — also
    the XADD feed the live-socket conformance test loads into the
    loopback RESP server."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        cap = e.select(
            F.concat(F.lit("ev/"), F.col("event_type")).alias("stream"),
            F.concat(
                (F.lit(1700000000000) + F.col("event_id")).cast("string"), F.lit("-0")
            ).alias("id"),
            F.to_json(
                F.struct(
                    F.col("event_id").cast("string").alias("event_id"),
                    F.col("user_id").cast("string").alias("user_id"),
                )
            ).alias("fields"),
        )
        cap.write.mode("overwrite").json(out)

    return derived_dir(
        f"{_tag(sf_dir)}/redis_capture", [table_path(sf_dir, "events")], build
    )


_REDIS_ORACLE = f"""
    WITH cap AS (
        SELECT 'ev/' || event_type AS stream,
               CAST(1700000000000 + event_id AS VARCHAR) || '-0' AS id,
               event_id, user_id
        FROM events
    )
    SELECT stream,
           COUNT(*)::BIGINT AS n_entries,
           MIN(id) AS min_id,
           MAX(id) AS max_id,
           COUNT(DISTINCT user_id)::BIGINT AS n_users,
           SUM(event_id)::BIGINT AS sum_event_id,
           MIN(event_id)::BIGINT AS min_event_id,
           MAX(event_id)::BIGINT AS max_event_id
    FROM cap
    WHERE stream = '{_STREAM}'
    GROUP BY stream
"""


def _envelope_rollup(env: DataFrame) -> DataFrame:
    """Per-stream rollup: entry count, id range (the 13-digit ms
    component makes lexicographic MIN/MAX equal numeric order),
    field extraction and distinct-principal accounting."""
    eid = F.get_json_object("fields", "$.event_id").cast("bigint")
    uid = F.get_json_object("fields", "$.user_id").cast("bigint")
    return (
        env.select("stream", "id", eid.alias("event_id"), uid.alias("user_id"))
        .groupBy("stream")
        .agg(
            F.count("*").cast("bigint").alias("n_entries"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
            F.count_distinct("user_id").cast("bigint").alias("n_users"),
            F.sum("event_id").cast("bigint").alias("sum_event_id"),
            F.min("event_id").cast("bigint").alias("min_event_id"),
            F.max("event_id").cast("bigint").alias("max_event_id"),
        )
    )


@register(
    "q_redis_envelope",
    oracle=_REDIS_ORACLE,
    tags=("redis", "envelope", "source"),
)
def q_redis_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-stream subscription over the replayed capture (Redis
    XREAD is per-key, so a multi-stream pipeline is a MultiSource
    fan-in of one source per stream): stream filter, ``<ms>-<seq>``
    id accounting, flat field-map extraction — aggregated per stream
    and hash-verified against the relational re-derivation."""
    from cheetah_spark.sources.redis_live import RedisSource

    src = RedisSource(
        transport="replay",
        capture_path=redis_capture_dir(spark, sf_dir),
        stream=_STREAM,
        streaming=False,
    )
    return _envelope_rollup(src.read(spark))


@register(
    "s_redis_replay",
    oracle=_REDIS_ORACLE,
    tags=("redis", "streaming", "envelope"),
)
def s_redis_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same subscription as a real StreamingQuery through the
    ``cheetah-redis`` data source (seq-window reader, micro-batch
    admission): the drained rollup must hash-match the SAME oracle as
    the batch read — the streaming/batch agreement gate every source
    family carries. The socket transport swaps only the pump (a real
    RESP XREAD poller — tests/test_redis.py drives it against a live
    loopback server); the envelope and rollup are this exact code."""
    from cheetah_spark.sources.redis_live import RedisSource

    src = RedisSource(
        transport="replay",
        capture_path=redis_capture_dir(spark, sf_dir),
        stream=_STREAM,
        # multi-batch admission, scale-derived: 4 offset windows at any SF
        chunk_size=events_replay_chunk(spark, sf_dir),
        streaming=True,
    )
    out = run_stream_to_completion(
        src.read(spark), lambda df: df.where(F.col("stream") == _STREAM)
    )
    return _envelope_rollup(out)
