"""Syslog source semantics over a recorded capture (reference kawad
source config type ``syslog``, README.md:168-177) — the #1 real-world
input for a security-telemetry pipeline.

The live half (a UDP/TCP listener) is
:mod:`cheetah_spark.sources.syslog_live` and is exercised over
loopback in tests/test_live_transports.py (sockets are stdlib — unlike
paho/win32 this transport runs for real here). This module verifies
the *parse*: a deterministic capture is derived once from the events
table — a mixed RFC 5424 / RFC 3164 / malformed line soup — and the
DuckDB oracle re-derives the identical lines relationally and parses
them with the same pattern strings under RE2, so the hash gate proves
line generation, both grammars, PRI decomposition, and the non-match
('' → NULL) path agree across engines.

Scale shape: parse is pure per-row JVM regexp (map-only, pushed into
whole-stage codegen); the only shuffle is the final
facility×severity rollup — 8×8+NULL groups, map-side combinable. A
100 TB syslog archive parses embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.functions import syslog as SL
from cheetah_spark.functions import text as X
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag

_MOD = 1_000_000_007


def _line_cols() -> F.Column:
    """The capture line as ONE Column expression over an events row —
    the single source of truth the Spark writer uses; the oracle
    mirrors it string-for-string in SQL."""
    fac = (F.lit(16) + F.col("user_id") % 8).cast("bigint")
    sev = (F.col("event_id") % 8).cast("bigint")
    pri = (fac * 8 + sev).cast("string")
    host = F.concat(F.lit("host-"), (F.col("user_id") % 20).cast("string"))
    app = F.col("event_type")
    pid = (F.lit(100) + F.col("user_id") % 900).cast("string")
    msg = F.concat(
        F.lit("evt="), F.col("event_id").cast("string"), F.lit(" type="), F.col("event_type")
    )
    ts5424 = F.concat(F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z"))
    ts3164 = F.date_format("ts", "MMM dd HH:mm:ss")
    line5424 = F.concat(
        F.lit("<"), pri, F.lit(">1 "), ts5424, F.lit(" "), host, F.lit(" "), app,
        F.lit(" "), pid, F.lit(" MID"), (F.col("event_id") % 100).cast("string"),
        F.lit(" - "), msg,
    )
    line3164 = F.concat(
        F.lit("<"), pri, F.lit(">"), ts3164, F.lit(" "), host, F.lit(" "), app,
        F.lit("["), pid, F.lit("]: "), msg,
    )
    garbage = F.concat(F.lit("garbage "), F.col("event_id").cast("string"))
    return (
        F.when(F.col("event_id") % 97 == 0, garbage)
        .when((F.col("event_id") + F.col("user_id")) % 2 == 0, line5424)
        .otherwise(line3164)
    )


_ORACLE_LINE = """
    CASE
      WHEN event_id % 97 = 0 THEN 'garbage ' || CAST(event_id AS VARCHAR)
      WHEN (event_id + user_id) % 2 = 0 THEN
        '<' || CAST((16 + user_id % 8) * 8 + event_id % 8 AS VARCHAR) || '>1 '
        || strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z'
        || ' host-' || CAST(user_id % 20 AS VARCHAR)
        || ' ' || event_type
        || ' ' || CAST(100 + user_id % 900 AS VARCHAR)
        || ' MID' || CAST(event_id % 100 AS VARCHAR)
        || ' - evt=' || CAST(event_id AS VARCHAR) || ' type=' || event_type
      ELSE
        '<' || CAST((16 + user_id % 8) * 8 + event_id % 8 AS VARCHAR) || '>'
        || strftime(ts, '%b %d %H:%M:%S')
        || ' host-' || CAST(user_id % 20 AS VARCHAR)
        || ' ' || event_type
        || '[' || CAST(100 + user_id % 900 AS VARCHAR) || ']: '
        || 'evt=' || CAST(event_id AS VARCHAR) || ' type=' || event_type
    END
"""


def syslog_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the text capture the parse query and the replay
    transport read — one syslog line per event row."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        e.select(_line_cols().alias("value")).write.mode("overwrite").text(out)

    return derived_dir(
        f"{_tag(sf_dir)}/syslog_capture",
        [table_path(sf_dir, "events")],
        build,
        helpers=(_line_cols,),
    )


def _syslog_oracle() -> str:
    raw = "raw"
    dsum = (
        f"SUM(CAST(({X.oracle_hash56(SL.oracle_message(raw))}) % {_MOD} AS DECIMAL(38,0)))"
    )
    return f"""
        WITH cap AS (SELECT {_ORACLE_LINE} AS raw FROM events),
        p AS (
            SELECT raw,
                   {SL.oracle_facility(raw)} AS facility,
                   {SL.oracle_severity(raw)} AS severity,
                   {SL.oracle_is_rfc5424(raw)} AS rfc5424,
                   {SL.oracle_matches_rfc5424(raw)} AS m5424,
                   {SL.oracle_matches_rfc3164(raw)} AS m3164,
                   {SL.oracle_host(raw)} AS host,
                   {SL.oracle_app(raw)} AS app,
                   {SL.oracle_procid(raw)} AS procid,
                   {SL.oracle_ts_raw(raw)} AS ts_raw,
                   {SL.oracle_message(raw)} AS msg
            FROM cap
        )
        SELECT facility, severity,
               COUNT(*)::BIGINT AS n_msgs,
               CAST(SUM(CASE WHEN rfc5424 THEN 1 ELSE 0 END) AS BIGINT) AS n_rfc5424,
               CAST(SUM(CASE WHEN NOT m5424 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rfc5424,
               CAST(SUM(CASE WHEN NOT m3164 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rfc3164,
               COUNT(DISTINCT host)::BIGINT AS n_hosts,
               COUNT(DISTINCT app)::BIGINT AS n_apps,
               MAX(procid) AS max_pid,
               CAST({dsum} % {_MOD} AS BIGINT) AS msg_checksum,
               MIN(CASE WHEN rfc5424 THEN ts_raw END) AS min_ts5424
        FROM p
        GROUP BY facility, severity
    """


def _parse_rollup(cap: DataFrame, raw: F.Column) -> DataFrame:
    """The parse + per-(facility,severity) rollup shared by the batch
    scan and the live-source streaming run — one code path, one
    oracle."""
    p = cap.select(
        SL.facility(raw).alias("facility"),
        SL.severity(raw).alias("severity"),
        SL.is_rfc5424(raw).alias("rfc5424"),
        SL.matches_rfc5424(raw).alias("m5424"),
        SL.matches_rfc3164(raw).alias("m3164"),
        SL.host(raw).alias("host"),
        SL.app(raw).alias("app"),
        SL.procid(raw).alias("procid"),
        SL.ts_raw(raw).alias("ts_raw"),
        SL.message(raw).alias("msg"),
    )
    return p.groupBy("facility", "severity").agg(
        F.count("*").cast("bigint").alias("n_msgs"),
        F.sum(F.when(F.col("rfc5424"), 1).otherwise(0)).cast("bigint").alias("n_rfc5424"),
        # per-grammar parse-FAILURE counters (r9 verdict item #8): a
        # mis-configured forced contentType shows up here as a moving
        # counter in the stream output instead of silent NULL structs —
        # n_fail_rfc5424 is exactly the lines a forced-5424 source
        # would reject, and vice versa
        F.sum(F.when(~F.col("m5424"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_fail_rfc5424"),
        F.sum(F.when(~F.col("m3164"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_fail_rfc3164"),
        F.countDistinct("host").cast("bigint").alias("n_hosts"),
        F.countDistinct("app").cast("bigint").alias("n_apps"),
        F.max("procid").alias("max_pid"),
        (F.sum((X.hash56(F.col("msg")) % _MOD).cast("decimal(38,0)")) % _MOD)
        .cast("bigint")
        .alias("msg_checksum"),
        F.min(F.when(F.col("rfc5424"), F.col("ts_raw"))).alias("min_ts5424"),
    )


@register("q_syslog_parse", oracle=_syslog_oracle(), tags=("syslog", "source", "parse"))
def q_syslog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the mixed RFC 5424 / RFC 3164 / malformed capture and roll
    up per (facility, severity): message counts, format split, distinct
    hosts/apps, max PID, a modular checksum over the extracted MSG
    field, and the earliest RFC 3339 timestamp — covering PRI shifts,
    both grammars' field extraction, nil/'' → NULL normalization, and
    the unparseable-line path (facility NULL group).

    The Spark side reads the capture back as text (the same files the
    replay transport feeds the live source from) so the round trip is
    writer → files → parser; the oracle derives the identical lines
    relationally and parses with the same regexes under RE2."""
    cap = spark.read.text(syslog_capture_dir(spark, sf_dir))
    return _parse_rollup(cap, F.col("value"))


@register(
    "s_syslog_live",
    oracle=_syslog_oracle(),
    tags=("syslog", "streaming", "live-transport"),
)
def s_syslog_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE syslog transport driven as a real StreamingQuery: the
    ``cheetah-syslog`` streaming data source over the replay transport
    — the exact reader/offset/ack-on-commit code the socket listener
    uses, minus only the datagram edge (which tests/test_syslog.py
    exercises over real loopback UDP/TCP) — delivers the capture
    through micro-batches into a memory sink, and the parse rollup
    must hash-match the SAME oracle as the batch q_syslog_parse.
    Proves the streaming admission path delivers every line
    byte-for-byte (the s_mqtt_live discipline)."""
    from cheetah_spark.sources.syslog_live import SyslogSource
    from cheetah_spark.streaming import events_replay_chunk, run_stream_to_completion

    src = SyslogSource(
        transport="replay",
        capture_path=syslog_capture_dir(spark, sf_dir),
        # multi-batch admission, scale-derived: 4 offset windows at any SF
        chunk_size=events_replay_chunk(spark, sf_dir),
    )
    env = run_stream_to_completion(src.read(spark), lambda df: df)
    return _parse_rollup(env, F.col("raw"))
