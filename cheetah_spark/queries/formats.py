"""Columnar-format and partitioned-layout surface: ORC round-trip and
hive-partitioned parquet sink with partition-pruned read-back.

Reference parity: the reference's only file sink is the wall-clock
partitioned gzip-NDJSON S3 layout (x/s3/s3.go:143-148 —
``prefix/YYYY/MM/DD/HH/...``); the Spark-native translation of that
idea is a hive-partitioned columnar sink whose *reads* then prune
partitions declaratively. ORC is the second columnar format a reference
user migrating feeds would expect alongside parquet (both are built
into Spark's DataSource V2 with pushdown + pruning).

Scale notes (100 TB): a partitioned layout turns the dominant cost of
every downstream query — the scan — into an O(selected-partitions)
operation. The q_sink_partition_prune plan is audited in
tests/test_plans.py: the parquet scan must carry PartitionFilters (the
non-selected partitions are never opened) and the ORC scan must carry
PushedFilters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import ensure_instant_reads, load_table, table_path
from cheetah_spark.derived import derived_dir
from cheetah_spark.queries._util import dsum2, oracle_dsum2
from cheetah_spark.registry import register
from cheetah_spark.streaming import _tag


def _events_format_fixture(spark: SparkSession, sf_dir: str, fmt: str, partition_by: str | None = None) -> str:
    """Materialize events once in the target format/layout (a
    derived-fixture store directory)."""
    ensure_instant_reads(spark)

    def build(out: str) -> None:
        writer = load_table(spark, sf_dir, "events").write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        getattr(writer, "orc" if fmt == "orc" else "parquet")(out)

    suffix = f"events_{fmt}" + (f"_by_{partition_by}" if partition_by else "")
    return derived_dir(f"{_tag(sf_dir)}/{suffix}", [table_path(sf_dir, "events")], build)


@register(
    "q_scan_orc",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(user_id) AS BIGINT) AS sum_users,
               {oracle_dsum2("value")} AS sum_value,
               CAST(floor(MIN(epoch(ts))) AS BIGINT) AS min_epoch,
               CAST(floor(MAX(epoch(ts))) AS BIGINT) AS max_epoch
        FROM events
        GROUP BY event_type
    """,
    tags=("scan", "source", "orc"),
)
def q_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan round-trip: events written once as ORC, read back, and
    aggregated; the result must equal the same aggregate over the
    parquet source view — proving a lossless columnar round-trip
    including timestamps-as-instants (epoch bounds are part of the
    hash) and doubles (decimal-sum convention).

    Scale: ORC inherits the same DSv2 treatment as parquet — column
    pruning and predicate pushdown reach the reader (plan-audited),
    so feeds landed in either format query identically."""
    path = _events_format_fixture(spark, sf_dir, "orc")
    ensure_instant_reads(spark)
    df = spark.read.orc(path)
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("user_id").cast("bigint").alias("sum_users"),
        dsum2("value").alias("sum_value"),
        F.min(F.col("ts").cast("long")).alias("min_epoch"),
        F.max(F.col("ts").cast("long")).alias("max_epoch"),
    )


@register(
    "q_sink_partition_prune",
    oracle=f"""
        SELECT date_trunc('hour', ts) AS win_start,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               {oracle_dsum2("value")} AS sum_value
        FROM events
        WHERE event_type = 'click'
        GROUP BY win_start
    """,
    tags=("sink", "partitioning", "pruning"),
)
def q_sink_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned sink + partition-pruned scan (the Spark-native
    form of the reference's partitioned S3 key layout,
    x/s3/s3.go:143-148): events written once partitioned by
    event_type, then a single-partition query reads ONLY the 'click'
    directory — Catalyst turns the predicate into a PartitionFilter,
    so the other partitions' files are never listed into the scan.

    At 100 TB the partition column is the first-order knob: a
    by-type/by-day layout makes this hourly rollup touch 1/N of the
    corpus. The pruning (not just the filter) is asserted in
    tests/test_plans.py."""
    path = _events_format_fixture(spark, sf_dir, "parquet", partition_by="event_type")
    ensure_instant_reads(spark)
    df = spark.read.parquet(path).where(F.col("event_type") == "click")
    return df.groupBy(F.date_trunc("hour", "ts").alias("win_start")).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dsum2("value").alias("sum_value"),
    )


@register(
    "q_scan_schema_merge",
    oracle=f"""
        WITH old_batch AS (
            SELECT event_id, event_type, user_id, NULL::DOUBLE AS value
            FROM events WHERE event_id % 2 = 0
        ),
        new_batch AS (
            SELECT event_id, event_type, user_id, value
            FROM events WHERE event_id % 2 = 1
        ),
        unioned AS (SELECT * FROM old_batch UNION ALL SELECT * FROM new_batch)
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(value) AS n_with_value,
               {oracle_dsum2("value")} AS sum_value
        FROM unioned
        GROUP BY event_type
    """,
    tags=("scan", "schema-evolution"),
)
def q_scan_schema_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: two parquet batches written at
    different schema generations (the old feed lacks the ``value``
    column) land in one directory; ``mergeSchema=true`` reconciles them
    into a superset schema with NULLs for the missing column — exactly
    what a long-lived feed directory looks like after a producer
    upgrade (the reference's deserializer-defines-schema stance,
    types.go:152-195, meets append-only storage).

    Scale note: mergeSchema costs a footer read per file at planning
    time — on a 100 TB directory you pin the merged schema in a table
    definition instead; the read path (NULL-filling column pruning)
    is identical either way."""
    ensure_instant_reads(spark)

    def build(out: str) -> None:
        e = load_table(spark, sf_dir, "events")
        old = e.where(F.col("event_id") % 2 == 0).select("event_id", "event_type", "user_id")
        new = e.where(F.col("event_id") % 2 == 1).select(
            "event_id", "event_type", "user_id", "value"
        )
        old.write.mode("overwrite").parquet(f"{out}/gen=0")
        new.write.mode("overwrite").parquet(f"{out}/gen=1")

    out = derived_dir(
        f"{_tag(sf_dir)}/events_schema_gen", [table_path(sf_dir, "events")], build
    )
    df = spark.read.option("mergeSchema", "true").parquet(f"{out}/gen=0", f"{out}/gen=1")
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("value").alias("n_with_value"),
        dsum2("value").alias("sum_value"),
    )


@register(
    "q_scan_binary_files",
    oracle="""
        SELECT COUNT(*) AS n_files,
               CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
               COUNT(DISTINCT md5(text)) AS n_distinct_payloads
        FROM documents
        WHERE doc_id % 50 = 0
    """,
    tags=("scan", "source", "binary", "multimodal"),
)
def q_scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion (``binaryFile`` source): the scan
    shape for media corpora — each file becomes one row of
    ``(path, modificationTime, length, content: BINARY)``. A
    deterministic slice of documents is materialized as one file per
    doc; read-back must preserve byte counts and content hashes
    exactly (the oracle computes both from the source table).

    Scale: binaryFile is the standard entry point for image/audio
    pipelines (each task reads whole objects, no record splitting);
    rows then flow into the mapInPandas decode path
    (q_multimodal_decode). ``pathGlobFilter``/partitioned directories
    bound a scan to a media subset the same way PartitionFilters do
    for columnar data. ASCII-only fixture text keeps strlen(chars) ==
    length(bytes) across engines."""
    import pyarrow.parquet as pq

    src = table_path(sf_dir, "documents")

    def build(out: str) -> None:
        tbl = pq.read_table(src, columns=["doc_id", "text"])
        for doc_id, text in zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()):
            if doc_id % 50 == 0:
                with open(f"{out}/doc_{doc_id}.txt", "wb") as f:
                    f.write(text.encode("utf-8"))

    out = derived_dir(f"{_tag(sf_dir)}/doc_blobs", [src], build)
    df = spark.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(out)
    return df.agg(
        F.count("*").alias("n_files"),
        F.sum(F.length("content")).cast("bigint").alias("total_bytes"),
        F.countDistinct(F.md5(F.col("content"))).alias("n_distinct_payloads"),
    )


@register(
    "q_bucketed_join",
    oracle=f"""
        SELECT c_mktsegment,
               COUNT(*) AS n_orders,
               COUNT(DISTINCT o.o_custkey) AS n_customers,
               {oracle_dsum2("o_totalprice")} AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c_mktsegment
    """,
    tags=("join", "bucketing", "layout"),
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join: orders and customer are written ONCE
    as bucketed tables (8 buckets on the join key, sorted within
    buckets); joining them then needs NO shuffle on either side — the
    scan itself delivers co-partitioned, pre-sorted inputs and the
    plan is a SortMergeJoin with zero Exchange (asserted in
    tests/test_plans.py).

    This is the decisive 100 TB layout lever the partitioned sink
    can't give: repeated big-to-big joins on a stable key (fact-to-
    dimension-history, fact-to-fact) amortize ONE bucketing write into
    every subsequent shuffle-free join; at 1000 executors the shuffle
    this avoids is the job's dominant network cost. Values are the
    plain SQL join the oracle runs on the source views."""
    ensure_instant_reads(spark)
    tag = _tag(sf_dir).replace(".", "_")
    to, tc = f"cheetah_bkt_orders_{tag}", f"cheetah_bkt_customer_{tag}"
    for tbl, src, key in ((to, "orders", "o_custkey"), (tc, "customer", "c_custkey")):
        if not spark.catalog.tableExists(tbl):
            # external table with an explicit location: the session's
            # default warehouse is cwd-relative (driver cwd unknown /
            # possibly read-only), and the in-memory catalog resets per
            # session while old locations persist — a fixed /tmp path
            # cleared up front avoids both failure modes
            import shutil

            from cheetah_spark.streaming import FIXTURE_ROOT

            loc = f"{FIXTURE_ROOT}/bucketed/{tbl}"
            shutil.rmtree(loc, ignore_errors=True)
            (
                load_table(spark, sf_dir, src)
                .write.mode("overwrite")
                .option("path", loc)
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(tbl)
            )
    o, c = spark.table(to), spark.table(tc)
    return (
        # merge hint: at fixture scale Catalyst would broadcast the
        # small dimension, hiding the property under test; at
        # production scale (both sides large) SortMergeJoin is the
        # natural choice and the hint is a no-op
        o.hint("merge").join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum2("o_totalprice").alias("revenue"),
        )
    )


@register(
    "q_scan_sqlite",
    oracle=f"""
        SELECT event_type,
               COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS n_users,
               {oracle_dsum2("value")} AS sum_value,
               MIN(event_id) AS min_id,
               MAX(event_id) AS max_id,
               CAST(epoch_us(MIN(ts)) AS BIGINT) AS min_ts_us
        FROM events
        GROUP BY event_type
    """,
    tags=("scan", "source", "relational-store"),
)
def q_scan_sqlite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned relational-store pull: the events table is mirrored
    into a SQLite file once (fixture), then read back through
    SqliteSource — driver-side MIN/MAX range planning, one read-only
    connection per task, BETWEEN slices on the INTEGER PRIMARY KEY
    (index range scans) — the spark.read.jdbc
    partitionColumn/numPartitions semantics demonstrated end-to-end,
    with the hash gate proving no-loss/no-dup coverage of the key
    space and lossless µs-timestamp round-trip.

    Scale shape: the scan parallelizes by key range with zero driver
    collection; the rollup is one map-side-combinable aggregate. At
    warehouse scale the same plan runs over JDBC with the identical
    range-planning contract."""
    from cheetah_spark.sources.sqlite_local import (
        EVENTS_SQLITE_SCHEMA,
        SqliteSource,
        events_sqlite_path,
    )

    db = events_sqlite_path(spark, sf_dir)
    e = SqliteSource(db, "events", EVENTS_SQLITE_SCHEMA, num_partitions=8).read(spark)
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        dsum2("value").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.min("ts_us").alias("min_ts_us"),
    )


# shared by q_scan_sqlite (partitioned batch pull) and s_sqlite_cdc
# (keyset-paginated streaming pull): both read paths must produce the
# identical rollup of the same store
SQLITE_ROLLUP_ORACLE = f"""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           {oracle_dsum2("value")} AS sum_value,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id,
           CAST(epoch_us(MIN(ts)) AS BIGINT) AS min_ts_us
    FROM events
    GROUP BY event_type
"""


@register(
    "s_sqlite_cdc",
    oracle=SQLITE_ROLLUP_ORACLE,
    tags=("streaming", "source", "cdc", "relational-store"),
)
def s_sqlite_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming keyset CDC from the relational store — the
    incremental twin of q_scan_sqlite: a real StreamingQuery over the
    ``cheetah-sqlite-cdc`` Python data source pulls the events mirror
    in key-ordered micro-batches (offset = last key delivered; each
    trigger is ONE indexed `> last ORDER BY key LIMIT n` range query;
    `readBetweenOffsets` re-queries the store itself for lossless
    restart — zero local buffering, the Kinesis CURSOR discipline).
    The drained rows roll up to the SAME oracle as the batch
    partitioned pull, so no-loss/no-dup across ~5 admission windows is
    hash-gated.

    Scale shape: keyset pagination is how production CDC actually
    walks a warehouse table (resumable, index-driven, constant memory);
    at real scale the reader fans per-key-range readers across
    executors — here the contract under test is offsets/restart/
    agreement, which is driver-reader-shaped by the simple-reader
    API."""
    from cheetah_spark.sources.sqlite_local import (
        EVENTS_SQLITE_SCHEMA,
        events_sqlite_path,
        register_sqlite_cdc_source,
    )
    from cheetah_spark.streaming import run_stream_to_completion

    db = events_sqlite_path(spark, sf_dir)
    register_sqlite_cdc_source(spark)
    # page the keyset to ~5 admission windows at ANY fixture size: a
    # fixed page is right in production (bounded memory per trigger)
    # but here the contract under test is multi-batch offset windows,
    # not trigger count — a fixed 2048 meant 49 near-empty triggers at
    # sf0.1 (pure engine floor, 10.6 s of the r10 bench)
    import sqlite3 as _sq

    con = _sq.connect(f"file:{db}?mode=ro", uri=True)
    n_rows = con.execute("SELECT COUNT(*) FROM events").fetchone()[0]
    con.close()
    page = max(2048, n_rows // 5 + 1)
    stream = (
        spark.readStream.format("cheetah-sqlite-cdc")
        .option("path", db)
        .option("table", "events")
        .option("partition_col", "event_id")
        .option("batch_size", str(page))
        .schema(EVENTS_SQLITE_SCHEMA)
        .load()
    )
    out = run_stream_to_completion(stream, lambda df: df)
    return out.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        dsum2("value").alias("sum_value"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.min("ts_us").alias("min_ts_us"),
    )
