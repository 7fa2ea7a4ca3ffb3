"""journald export-format semantics over a recorded capture (reference
kawad source config type ``journald``, README.md:179-185).

The live half (``journalctl -o export --follow`` subprocess) is
:mod:`cheetah_spark.sources.journald_live`, availability-gated like
paho/win32; the replay transport frames the same capture this query
parses. A deterministic export capture is derived once from the events
table; the DuckDB oracle re-derives the identical entries relationally
(``chr(10)``-joined KEY=VALUE blocks) and extracts fields with the
same anchored patterns under RE2 — the hash gate proves entry
framing, field extraction, and typed coercion agree across engines.

Scale shape: identical to syslog — per-entry JVM regexp (map-only),
one small rollup shuffle (priority × unit groups). The export capture
reads with ``lineSep="\\n\\n"`` so entry framing happens at the SCAN,
not in Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.functions import journald as JD
from cheetah_spark.functions import text as X
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag

_MOD = 1_000_000_007
_NL = "\n"


def _entry_col() -> F.Column:
    """One export-format entry per events row — the Spark writer's
    single source of truth, mirrored string-for-string by the oracle."""
    parts = [
        F.concat(F.lit("__CURSOR=s=cur-"), F.col("event_id").cast("string")),
        F.concat(F.lit("__REALTIME_TIMESTAMP="), F.unix_micros("ts").cast("string")),
        F.concat(F.lit("PRIORITY="), (F.col("event_id") % 8).cast("string")),
        F.concat(F.lit("_HOSTNAME=host-"), (F.col("user_id") % 20).cast("string")),
        F.concat(F.lit("SYSLOG_IDENTIFIER="), F.col("event_type")),
        F.concat(F.lit("_PID="), (F.lit(100) + F.col("user_id") % 900).cast("string")),
        F.concat(F.lit("_SYSTEMD_UNIT="), F.col("event_type"), F.lit(".service")),
        F.concat(
            F.lit("MESSAGE=evt="),
            F.col("event_id").cast("string"),
            F.lit(" type="),
            F.col("event_type"),
        ),
    ]
    return F.concat_ws(_NL, *parts)


_ORACLE_ENTRY = """
    '__CURSOR=s=cur-' || CAST(event_id AS VARCHAR)
    || chr(10) || '__REALTIME_TIMESTAMP=' || CAST(epoch_us(ts) AS VARCHAR)
    || chr(10) || 'PRIORITY=' || CAST(event_id % 8 AS VARCHAR)
    || chr(10) || '_HOSTNAME=host-' || CAST(user_id % 20 AS VARCHAR)
    || chr(10) || 'SYSLOG_IDENTIFIER=' || event_type
    || chr(10) || '_PID=' || CAST(100 + user_id % 900 AS VARCHAR)
    || chr(10) || '_SYSTEMD_UNIT=' || event_type || '.service'
    || chr(10) || 'MESSAGE=evt=' || CAST(event_id AS VARCHAR) || ' type=' || event_type
"""


def journald_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the export-format capture: entries separated by
    blank lines (writer lineSep '\\n\\n'), the exact framing
    ``journalctl -o export`` emits for text fields."""

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        (
            e.select(_entry_col().alias("value"))
            .write.mode("overwrite")
            .option("lineSep", "\n\n")
            .text(out)
        )

    return derived_dir(
        f"{_tag(sf_dir)}/journald_capture",
        [table_path(sf_dir, "events")],
        build,
        helpers=(_entry_col,),
    )


def _journald_oracle() -> str:
    e = "entry"
    dsum = f"SUM(CAST(({X.oracle_hash56(JD.oracle_field(e, 'MESSAGE'))}) % {_MOD} AS DECIMAL(38,0)))"
    return f"""
        WITH cap AS (SELECT {_ORACLE_ENTRY} AS entry FROM events)
        SELECT {JD.oracle_field_bigint(e, "PRIORITY")} AS priority,
               {JD.oracle_field(e, "_SYSTEMD_UNIT")} AS unit,
               COUNT(*)::BIGINT AS n_entries,
               COUNT(DISTINCT {JD.oracle_field(e, "_HOSTNAME")})::BIGINT AS n_hosts,
               MAX({JD.oracle_field_bigint(e, "_PID")}) AS max_pid,
               MIN({JD.oracle_field_bigint(e, "__REALTIME_TIMESTAMP")}) AS min_usec,
               MAX({JD.oracle_field_bigint(e, "__REALTIME_TIMESTAMP")}) AS max_usec,
               CAST({dsum} % {_MOD} AS BIGINT) AS msg_checksum,
               MIN({JD.oracle_field(e, "__CURSOR")}) AS min_cursor
        FROM cap
        GROUP BY 1, 2
    """


def _parse_rollup(cap: DataFrame, e: F.Column) -> DataFrame:
    """Field extraction + per-(priority,unit) rollup shared by the
    batch scan and the live-source streaming run."""
    p = cap.select(
        JD.priority(e).alias("priority"),
        JD.field(e, "_SYSTEMD_UNIT").alias("unit"),
        JD.field(e, "_HOSTNAME").alias("host"),
        JD.field_bigint(e, "_PID").alias("pid"),
        JD.realtime_usec(e).alias("usec"),
        JD.message(e).alias("msg"),
        JD.field(e, "__CURSOR").alias("cursor"),
    )
    return p.groupBy("priority", "unit").agg(
        F.count("*").cast("bigint").alias("n_entries"),
        F.countDistinct("host").cast("bigint").alias("n_hosts"),
        F.max("pid").alias("max_pid"),
        F.min("usec").alias("min_usec"),
        F.max("usec").alias("max_usec"),
        (F.sum((X.hash56(F.col("msg")) % _MOD).cast("decimal(38,0)")) % _MOD)
        .cast("bigint")
        .alias("msg_checksum"),
        F.min("cursor").alias("min_cursor"),
    )


@register(
    "q_journald_parse",
    oracle=_journald_oracle(),
    tags=("journald", "source", "parse"),
)
def q_journald_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame the export capture at the scan (lineSep '\\n\\n'), extract
    typed fields with anchored per-key regexps, and roll up per
    (priority, unit): entry counts, distinct hosts, max PID, the
    realtime-timestamp range in microseconds, a modular checksum over
    MESSAGE, and the lexicographic-min cursor (the resume token)."""
    cap = (
        spark.read.option("lineSep", "\n\n")
        .text(journald_capture_dir(spark, sf_dir))
        .where(F.length(F.trim(F.col("value"))) > 0)
    )
    return _parse_rollup(cap, F.col("value"))


@register(
    "s_journald_live",
    oracle=_journald_oracle(),
    tags=("journald", "streaming", "live-transport"),
)
def s_journald_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE journald transport driven as a real StreamingQuery:
    the ``cheetah-journald`` streaming data source over the replay
    transport — the exact framing/offset/commit code the journalctl
    subprocess transport uses, minus only the pipe — delivers the
    export capture through micro-batches into a memory sink, and the
    field-extraction rollup must hash-match the SAME oracle as the
    batch q_journald_parse (the s_mqtt_live / s_syslog_live
    discipline)."""
    from cheetah_spark.sources.journald_live import JournaldSource
    from cheetah_spark.streaming import events_replay_chunk, run_stream_to_completion

    src = JournaldSource(
        transport="replay",
        capture_path=journald_capture_dir(spark, sf_dir),
        # multi-batch admission, scale-derived: 4 offset windows at any SF
        chunk_size=events_replay_chunk(spark, sf_dir),
    )
    env = run_stream_to_completion(src.read(spark), lambda df: df)
    return _parse_rollup(env, F.col("entry"))
