"""XML deserialization: Windows EventLog-shaped records parsed with
``from_xml`` — the reference's second-largest component
(x/windows/windows_event.go:57-139 XML→struct normalization;
x/windows/event_logs.go:29-102 subscription pull; SURVEY.md §2A S4/T5
serialization surface).

The replay fixture is built in-plan from the events table (the
container ships no Windows evtx capture): each event is serialized to
the canonical ``<Event><System>…</System><EventData>…</EventData>
</Event>`` envelope, then parsed back with ``from_xml`` into the
nested struct — XML attributes (TimeCreated/@SystemTime, Data/@Name),
nested elements (EventID, Channel) and the Name-keyed ``<Data>`` array
(the EventData map shape windows_event.go:57-139 normalizes) are all
exercised. The DuckDB oracle computes the same aggregate straight from
the events table, so the hash gate proves the XML round-trip is
lossless field-by-field.

Scale: serialization and parsing are per-row JVM expressions (the XML
parser runs inside codegen) feeding one hash aggregate — a pure
scan-shaped plan, no extra shuffle beyond the groupBy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import ensure_instant_reads, load_table
from cheetah_spark.queries._util import dsum2, oracle_dsum2
from cheetah_spark.registry import register

_XML_SCHEMA = (
    "System struct<EventID: bigint, Channel: string, Computer: string, "
    "TimeCreated: struct<_SystemTime: string>>, "
    "EventData struct<Data: array<struct<_Name: string, _VALUE: string>>>"
)

_XML_OPTS = {"attributePrefix": "_", "valueTag": "_VALUE"}


@register(
    "q_deser_xml",
    oracle=f"""
        SELECT event_type AS channel,
               COUNT(*) AS n_events,
               MIN(event_id) AS min_event_id,
               MAX(event_id) AS max_event_id,
               COUNT(DISTINCT user_id) AS n_users,
               {oracle_dsum2("value")} AS sum_value,
               MAX(strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S')) AS max_systemtime
        FROM events
        GROUP BY event_type
    """,
    tags=("xml", "deser"),
)
def q_deser_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windows EventLog XML round-trip: serialize each event to the
    EventLog envelope, ``from_xml`` it back (attributes + nested
    elements + Name-keyed Data array), then aggregate per Channel.
    The oracle aggregates the raw events directly — equality proves
    the XML normalization loses nothing (reference
    x/windows/windows_event.go:57-139 parity)."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(F.from_xml(_event_xml(), _XML_SCHEMA, _XML_OPTS).alias("ev"))
    data = F.col("ev.EventData.Data")
    val = F.element_at(F.filter(data, lambda d: d["_Name"] == "value"), 1)["_VALUE"]
    user = F.element_at(F.filter(data, lambda d: d["_Name"] == "user"), 1)["_VALUE"]
    flat = parsed.select(
        F.col("ev.System.EventID").alias("event_id"),
        F.col("ev.System.Channel").alias("channel"),
        F.col("ev.System.TimeCreated._SystemTime").alias("systemtime"),
        val.cast("double").alias("value"),
        user.cast("bigint").alias("user_id"),
    )
    return flat.groupBy("channel").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.countDistinct("user_id").alias("n_users"),
        dsum2("value").alias("sum_value"),
        F.max("systemtime").alias("max_systemtime"),
    )


def eventlog_capture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once) the rendered-XML capture the live EventLog source
    replays: a deterministic 1-in-10 slice of events (the replay
    transport is a single kernel-callback feed — a push subscription
    delivers one event at a time, so the capture is sized like a
    subscription window, not a bulk scan) serialized to the same
    EventLog envelope q_deser_xml round-trips, one ``{"xml": ...}``
    NDJSON line each — what EvtRender would hand the subscription
    callback (system_windows.go:130-147)."""
    from cheetah_spark.catalog import table_path
    from cheetah_spark.derived import derived_dir
    from cheetah_spark.streaming import _tag

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 10 == 0)
        e.select(_event_xml().alias("xml")).write.mode("overwrite").json(out)

    return derived_dir(
        f"{_tag(sf_dir)}/eventlog_capture",
        [table_path(sf_dir, "events")],
        build,
        helpers=(_event_xml,),
    )


def _event_xml():
    return F.format_string(
        '<Event><System><EventID>%s</EventID><Channel>%s</Channel>'
        '<Computer>cheetah</Computer><TimeCreated SystemTime="%s"/></System>'
        '<EventData><Data Name="value">%s</Data><Data Name="user">%s</Data>'
        "</EventData></Event>",
        F.col("event_id"),
        F.col("event_type"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
        F.col("value").cast("string"),
        F.col("user_id"),
    )


@register(
    "s_eventlog_live",
    oracle=f"""
        SELECT event_type AS channel,
               COUNT(*) AS n_events,
               MIN(event_id) AS min_event_id,
               MAX(event_id) AS max_event_id,
               COUNT(DISTINCT user_id) AS n_users,
               {oracle_dsum2("value")} AS sum_value,
               MAX(strftime(date_trunc('second', ts), '%Y-%m-%dT%H:%M:%S')) AS max_systemtime
        FROM events
        WHERE event_id % 10 = 0
        GROUP BY event_type
    """,
    tags=("xml", "streaming", "live-transport", "windows"),
)
def s_eventlog_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE Windows EventLog subscription (reference S4,
    event_logs.go:29-102) driven as a real StreamingQuery: the
    ``cheetah-eventlog`` streaming data source (sources/eventlog_live.py)
    replays kernel-rendered XML through the exact reader/offset code
    the win32 EvtSubscribe path uses, ``parse_eventlog`` applies the
    SAME ``from_xml`` normalization as the hash-verified batch query,
    and the per-channel aggregate must match the oracle computed from
    the raw events — proving the push-subscription path is lossless
    field-by-field (attributes, nested elements, Name-keyed Data
    map)."""
    from cheetah_spark.sources.eventlog_live import EventLogLiveSource, parse_eventlog
    from cheetah_spark.streaming import run_stream_to_completion

    ensure_instant_reads(spark)
    src = EventLogLiveSource(
        channel="Security", transport="replay",
        capture_path=eventlog_capture_dir(spark, sf_dir),
    )
    raw = run_stream_to_completion(src.read(spark), lambda df: df)
    flat = parse_eventlog(raw)
    return flat.groupBy(F.col("channel")).agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
        F.countDistinct(F.col("event_data")["user"].cast("bigint")).alias("n_users"),
        dsum2(F.col("event_data")["value"].cast("double")).alias("sum_value"),
        F.max("system_time").alias("max_systemtime"),
    )
