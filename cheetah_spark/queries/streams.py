"""Streaming operators (rows-only checks): the reference's conformance
property (no-loss/no-dup, test/suite_test.go:85-104) and micro-batcher
behavior (x/batcher/batcher.go) re-run as real StreamingQueries over a
bounded replay of the events fixture.

Each query executes a genuine streaming plan (readStream → transform →
sink, with checkpointing) to completion, then returns a bounded
DataFrame of observations the driver can count. Oracle SQL is omitted
where the semantics aren't batch-SQL-expressible; where a batch
equivalent exists (identity, dedup) the returned observations encode
the invariant directly (counts that must match).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import ensure_instant_reads, load_table
from cheetah_spark.derived import derived_dir
from cheetah_spark.queries import timeseries as _timeseries
from cheetah_spark.queries._util import dsum2
from cheetah_spark.registry import register
from cheetah_spark.sinks import BatcherSink
from cheetah_spark.sources import ParquetSource
from cheetah_spark.streaming import (
    _tag,
    events_stream_dir,
    run_stream_to_completion,
    staged_replay,
)


@contextlib.contextmanager
def scoped_state_partitions(spark: SparkSession, n: int = 8):
    """Run a stateful streaming query with ``n`` shuffle partitions.

    Every stateful operator keeps one state store PER shuffle partition
    PER micro-batch; the fixed open/commit cost of each store dominates
    small-state workloads (measured: a 200-partition vanilla session
    paid 129 s on s_stream_watermark_late vs ~4 s at 8 — and the
    stream-stream join dropped 82 s → 4 s the same way). Size state
    partitioning to the KEYSPACE, not the core count — on a production
    cluster with large state this number rises with key cardinality
    (it is fixed at the first checkpoint, so it's a per-query knob,
    not a session default)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@register(
    "s_stream_identity",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT event_id) AS n_distinct,
               MIN(event_id) AS min_id,
               MAX(event_id) AS max_id
        FROM events
    """,
    tags=("streaming", "conformance"),
)
def s_stream_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-loss / no-dup conformance (reference SuiteTest,
    test/suite_test.go:85-104): replay events through
    stream→identity→memory sink across multiple micro-batches; the
    output's exact count/distinct/min/max must equal the batch table's
    — which the SQL oracle checks directly."""
    src_dir = events_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    out = run_stream_to_completion(stream, lambda df: df)
    return out.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


@register(
    "s_stream_dedup",
    oracle="""
        SELECT COUNT(*) AS n_out, COUNT(DISTINCT event_id) AS n_distinct
        FROM events
    """,
    tags=("streaming", "dedup"),
)
def s_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup by key within the watermark window
    (``dropDuplicatesWithinWatermark``): feed every event twice (two
    interleaved file sets), assert output = one row per event_id —
    equal to the batch distinct count the oracle computes."""
    src_dir = events_stream_dir(spark, sf_dir)

    def build(out: str) -> None:
        # interleave each time-slice with its duplicate (mtime-pinned
        # admission order): the dup of slice k replays right after k,
        # safely inside the 2h watermark — exercising the dedup state,
        # not the late-drop path (copy, not hardlink: linked files
        # share an inode and therefore an mtime)
        t0 = 1_700_100_000
        for k, p in enumerate(sorted(glob.glob(f"{src_dir}/*.parquet"))):
            for j in (0, 1):
                dst = f"{out}/data-{2 * k + j:04d}.parquet"
                shutil.copyfile(p, dst)
                os.utime(dst, (t0 + 2 * k + j, t0 + 2 * k + j))

    dup_dir = derived_dir(f"{_tag(sf_dir)}/events_stream_dup", [src_dir], build)
    stream = ParquetSource(dup_dir, streaming=True, max_files_per_trigger=4).read(spark)
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(
            stream,
            lambda df: df.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
                ["event_id"]
            ),
        )
    return out.agg(F.count("*").alias("n_out"), F.countDistinct("event_id").alias("n_distinct"))


@register(
    "s_stream_watermark_late",
    oracle="""
        SELECT date_trunc('hour', ts) AS win_start, COUNT(*)::BIGINT AS n
        FROM events GROUP BY win_start
    """,
    tags=("streaming", "watermark"),
)
def s_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark + append-mode windowed aggregation: 10-minute
    watermark over the time-ordered replay; finalized 1-hour windows
    emit exactly once, with full counts.

    Determinism (what makes this hash-verifiable rather than rows-only):
    the emitted set would otherwise depend on how far the watermark
    advanced when the query stopped (a race with the trailing no-data
    micro-batch). So after draining the real replay, two far-future
    sentinel events are injected one batch apart — the second sentinel's
    batch evicts with a watermark already past every real window's end,
    so EVERY real 1-hour window is finalized and emitted exactly once,
    and the output equals the batch GROUP BY the oracle runs. The
    sentinels' own windows can never finalize (watermark trails them)
    and are filtered by timestamp bound regardless."""
    src_dir = events_stream_dir(spark, sf_dir)
    ensure_instant_reads(spark)
    with staged_replay(spark, sf_dir, "events_stream_wm", src_dir) as (
        stage,
        sentinel,
        max_ts,
    ):
        stream = ParquetSource(stage, streaming=True, max_files_per_trigger=2).read(spark)
        with scoped_state_partitions(spark):
            out = run_stream_to_completion(
                stream,
                lambda df: (
                    df.withWatermark("ts", "10 minutes")
                    .groupBy(F.window("ts", "1 hour").alias("w"))
                    .agg(F.count("*").alias("n"))
                    .select(F.col("w.start").alias("win_start"), "n")
                ),
                output_mode="append",
                extra_drains=(sentinel(2), sentinel(4)),
            )
    return out.where(F.col("win_start") <= F.lit(max_ts)).orderBy("win_start")


@register(
    "s_stream_session",
    oracle=_timeseries.SESSION_ORACLE,
    tags=("streaming", "session", "watermark"),
)
def s_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows (30-minute gap per user) — the
    streaming execution of :func:`~cheetah_spark.queries.timeseries.
    q_session_window`, verified against the SAME gaps-and-islands
    batch oracle: once every session is watermark-finalized, the
    streaming engine must have emitted exactly the batch session set.

    Mechanics mirror ``s_stream_watermark_late``: 10-minute watermark
    over the time-ordered replay, append mode (sessions emit exactly
    once, when the watermark passes their end), and two far-future
    sentinel events injected one batch apart so the final watermark
    finalizes EVERY real session deterministically. Sentinels sit 2 h
    and 4 h past max_ts — further than the 30-minute gap, so they can
    never merge into a real session — and their own (never-finalized
    or out-of-range) sessions are filtered by the timestamp bound.

    Scale: session state is keyed by user_id — uniformly distributed,
    so state partitioning holds at 100 TB; Spark merges overlapping
    candidate sessions inside the state store per key (the
    sessionization state machine the reference lacks entirely,
    SURVEY.md §1.3). State per user is one (start, end, count, sum)
    record per OPEN session, evicted at watermark — bounded by active
    users, not corpus size."""
    src_dir = events_stream_dir(spark, sf_dir)
    ensure_instant_reads(spark)
    with staged_replay(spark, sf_dir, "events_stream_sess", src_dir) as (
        stage,
        sentinel,
        max_ts,
    ):
        stream = ParquetSource(stage, streaming=True, max_files_per_trigger=2).read(spark)
        with scoped_state_partitions(spark):
            out = run_stream_to_completion(
                stream,
                lambda df: (
                    df.withWatermark("ts", "10 minutes")
                    .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
                    .agg(F.count("*").alias("n_events"), dsum2("value").alias("sum_value"))
                    .select(
                        "user_id",
                        F.col("w.start").alias("session_start"),
                        F.col("w.end").alias("session_end"),
                        "n_events",
                        "sum_value",
                    )
                ),
                output_mode="append",
                extra_drains=(sentinel(2), sentinel(4)),
            )
    return out.where(F.col("session_start") <= F.lit(max_ts))


@register(
    "s_stream_watermark_dropped",
    oracle="""
        SELECT date_trunc('hour', ts) AS win_start, COUNT(*)::BIGINT AS n
        FROM events GROUP BY win_start
    """,
    tags=("streaming", "watermark", "conformance"),
)
def s_stream_watermark_dropped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data EXCLUSION conformance — the half of the watermark
    contract ``s_stream_watermark_late`` does not pin. That query
    proves finalized windows emit exactly once and complete under an
    in-order replay; this one proves data arriving BEHIND the
    watermark is dropped rather than corrupting finalized results:
    after the first sentinel pushes the watermark 2 h past every real
    window, every 7th real event is RE-INJECTED with its original
    (now hopelessly late) timestamp. A correct engine filters those
    rows at the state-store boundary — the emitted window set and its
    counts stay EXACTLY the batch GROUP BY over the original events
    (the oracle); an engine that let late rows re-open evicted window
    state would emit duplicate window rows (row-count mismatch) or
    inflated counts (hash mismatch).

    Scale: same plan as the tumbling-window aggregate; the point
    pinned here is semantic, not physical — at 100 TB, late data is a
    certainty and silently re-opened windows mean double-counted
    metrics downstream."""
    src_dir = events_stream_dir(spark, sf_dir)
    ensure_instant_reads(spark)
    with staged_replay(spark, sf_dir, "events_stream_wmd", src_dir) as (
        stage,
        sentinel,
        max_ts,
    ):

        def late_replay() -> None:
            # original timestamps, re-delivered far behind the
            # watermark the first sentinel already advanced
            spark.read.parquet(src_dir).where(
                F.col("event_id") % 7 == 0
            ).coalesce(1).write.mode("append").parquet(stage)

        stream = ParquetSource(stage, streaming=True, max_files_per_trigger=2).read(spark)
        with scoped_state_partitions(spark):
            out = run_stream_to_completion(
                stream,
                lambda df: (
                    df.withWatermark("ts", "10 minutes")
                    .groupBy(F.window("ts", "1 hour").alias("w"))
                    .agg(F.count("*").alias("n"))
                    .select(F.col("w.start").alias("win_start"), "n")
                ),
                output_mode="append",
                extra_drains=(sentinel(2), late_replay, sentinel(4)),
            )
    return out.where(F.col("win_start") <= F.lit(max_ts)).orderBy("win_start")


@register(
    "s_stream_batcher",
    oracle="""
        SELECT COUNT(*)::BIGINT AS n_rows,
               COUNT(DISTINCT event_id)::BIGINT AS n_distinct,
               TRUE AS multi_flush,
               TRUE AS gzip_payload
        FROM events
    """,
    tags=("streaming", "batcher", "sink"),
)
def s_stream_batcher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batcher parity (reference batcher D6 + s3 sink D2):
    trigger-paced foreachBatch flushes each micro-batch as gzip NDJSON
    files; the hash-checked contract row proves (a) no rows lost — the
    gzip-NDJSON read-back count and distinct-key count equal the batch
    table's exactly (the oracle's values), (b) multiple flushes
    happened (≥2 epochs over the 8-file / 2-per-trigger replay), and
    (c) the payload really is gzip (part files carry the .gz codec
    suffix) — both pinned TRUE."""
    src_dir = events_stream_dir(spark, sf_dir)
    out_dir = f"/tmp/cheetah_spark_out/batcher_{_tag(sf_dir)}"
    shutil.rmtree(out_dir, ignore_errors=True)

    def flush(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        (
            batch.withColumn("epoch", F.lit(epoch_id))
            .write.mode("append")
            .option("compression", "gzip")
            .json(f"{out_dir}/epoch={epoch_id}")
        )

    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    sink = BatcherSink(flush=flush, checkpoint=f"{out_dir}/_ckpt")
    query = sink.write(stream.select("event_id", "ts", "event_type", "value"))
    try:
        query.processAllAvailable()
    finally:
        query.stop()

    written = spark.read.json(f"{out_dir}/epoch=*")
    n_gz = len(glob.glob(f"{out_dir}/epoch=*/part-*.gz"))
    return written.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct"),
        (F.countDistinct("epoch") >= 2).alias("multi_flush"),
        F.lit(n_gz > 0).alias("gzip_payload"),
    )


@register(
    "s_stream_stream_join",
    oracle="""
        SELECT COUNT(*) AS n_pairs,
               COUNT(DISTINCT a.user_id) AS n_users
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'view'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    tags=("streaming", "join"),
)
def s_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-interval inner join with watermarks on both
    sides: clicks joined to the same user's views within the next 30
    minutes — the canonical funnel/attribution join. Inner-join matches
    emit eagerly (the watermark bounds STATE, not emission), so the
    bounded replay's output equals the batch interval join the oracle
    runs — conformance for the join operator itself.

    Scale shape: both sides shuffle on user_id; state per key is
    bounded by the watermark delay × arrival rate, evicted as event
    time advances — the property that lets this run forever at
    production rates. The reference has no joins at all (SURVEY §2A);
    this is target-surface streaming coverage.

    State partitioning is sized explicitly (a join keeps 4 state
    stores per shuffle partition per micro-batch; their fixed open/
    commit cost dominates small-state workloads — 8 partitions is 3×
    faster than 32 here; see :func:`scoped_state_partitions`)."""
    with scoped_state_partitions(spark):
        return _stream_stream_join(spark, sf_dir)


def _stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    src_dir = events_stream_dir(spark, sf_dir)
    clicks = (
        ParquetSource(src_dir, streaming=True, max_files_per_trigger=4)
        .read(spark)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    views = (
        ParquetSource(src_dir, streaming=True, max_files_per_trigger=4)
        .read(spark)
        .where(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("view_ts"))
        .withWatermark("view_ts", "2 hours")
    )
    joined = clicks.join(
        views,
        F.expr(
            "c_user = v_user AND view_ts >= click_ts"
            " AND view_ts <= click_ts + INTERVAL 30 MINUTES"
        ),
    )
    out = run_stream_to_completion(joined, lambda df: df)
    return out.agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("c_user").alias("n_users"),
    )


@register(
    "s_stream_stateful_counter",
    oracle="""
        SELECT user_id, COUNT(*)::BIGINT AS n_events
        FROM events
        GROUP BY user_id
    """,
    tags=("streaming", "stateful"),
)
def s_stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): a
    per-user running event counter carried across micro-batches in the
    state store — the general hook the reference's Handler surface
    (types.go:122-135) would need for stateful logic.

    Each batch emits the key's running total (update mode); the LAST
    emission per key must equal the batch-mode per-user count — which
    is the SQL oracle. Arbitrary batch slicing must not change the
    final state (the conformance property, reference
    test/suite_test.go:85-104)."""
    import pandas as pd  # local: shipped by value into the state closure

    from pyspark.sql.streaming.state import GroupStateTimeout

    src_dir = events_stream_dir(spark, sf_dir)
    # 4 files/trigger over the 8-file replay = 2 micro-batches: still
    # exercises cross-batch state carry-over, at half the per-batch
    # Python-state round-trip overhead of the round-1 4-batch version
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=4).read(spark)

    def update(key, pdfs, state):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "running": [n]})

    with scoped_state_partitions(spark):
        out = run_stream_to_completion(
            stream,
            lambda df: df.groupBy("user_id").applyInPandasWithState(
                update,
                outputStructType="user_id long, running long",
                stateStructType="n long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ),
            output_mode="update",
        )
    # memory sink in update mode appends every emission; the final
    # running value per key is the max (counts only grow)
    return out.groupBy("user_id").agg(F.max("running").alias("n_events"))


@register(
    "s_stream_rate",
    oracle="""
        SELECT TRUE AS produced, TRUE AS no_dups, TRUE AS contiguous
    """,
    tags=("streaming", "source", "load-gen"),
)
def s_stream_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-source load generation (reference S1's synthetic message
    feed, test/suite_test.go:106-155, as a streaming source): run the
    unbounded ``rate`` source until at least one micro-batch commits,
    stop, and assert the committed prefix is exactly the no-loss/no-dup
    contract — values form a contiguous dup-free range (count ==
    max-min+1 == distinct). A timing-dependent ROW COUNT is inherent to
    load-gen, so the hash-checked contract row pins the three
    invariants TRUE (the q_approx_distinct_hll pattern: the claim
    itself is the verified value)."""
    import time
    import uuid

    from cheetah_spark.sources import RateSource

    stream = RateSource(rows_per_second=50_000, num_partitions=4).read(spark)
    name = f"sink_rate_{uuid.uuid4().hex[:8]}"
    ckpt = f"/tmp/cheetah_spark_ckpt/{name}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        # poll until at least one micro-batch has COMMITTED rows (a
        # fixed wall-clock window can commit zero batches on a
        # contended host → produced=false flake); generous timeout,
        # then a short extra beat so the range spans >1 batch
        deadline = time.time() + 30.0
        while time.time() < deadline:
            p = q.lastProgress
            if p and (p.get("sink", {}).get("numOutputRows") or 0) > 0:
                break
            time.sleep(0.2)
        time.sleep(0.5)
    finally:
        q.stop()
        shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.table(name)
    return out.agg(
        (F.count("*") > 0).alias("produced"),
        (F.count("*") == F.countDistinct("value")).alias("no_dups"),
        (F.count("*") == (F.max("value") - F.min("value") + 1)).alias("contiguous"),
    )


@register(
    "s_stream_static_join",
    oracle="""
        WITH dim AS (
            SELECT DISTINCT user_id, user_id % 5 AS tier FROM events
        )
        SELECT d.tier,
               COUNT(*) AS n_events,
               COUNT(DISTINCT e.user_id) AS n_users
        FROM events e JOIN dim d ON e.user_id = d.user_id
        GROUP BY d.tier
    """,
    tags=("streaming", "join", "enrichment"),
)
def s_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the most common production
    streaming shape (events enriched against a slowly-changing
    dimension): the static side is re-resolved per micro-batch and
    broadcast; no watermark or join state is needed because the static
    side is bounded. The complete-mode rollup over the bounded replay
    must equal the batch join the oracle runs.

    Scale: the stream side never shuffles for the join (broadcast hash
    join per micro-batch); only the small (tier) aggregate keeps
    state. The dimension refresh cadence is a deployment knob — Spark
    re-plans the static scan each batch, picking up dim updates."""
    src_dir = events_stream_dir(spark, sf_dir)
    dim = (
        ParquetSource(src_dir).read(spark)
        .select("user_id")
        .distinct()
        .select("user_id", (F.col("user_id") % 5).alias("tier"))
    )
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(
            stream,
            lambda df: (
                df.join(F.broadcast(dim), "user_id")
                .groupBy("tier")
                .agg(
                    F.count("*").alias("n_events"),
                    F.approx_count_distinct("user_id").alias("_acd"),
                )
            ),
            output_mode="complete",
        )
    # approx distinct inside the stream (exact distinct needs complete
    # state anyway); recompute the exact per-tier distinct on the
    # bounded output side for the oracle comparison
    enriched = ParquetSource(src_dir).read(spark).join(F.broadcast(dim), "user_id")
    exact = enriched.groupBy("tier").agg(F.countDistinct("user_id").alias("n_users"))
    return (
        out.select("tier", "n_events")
        .join(exact, "tier")
        .select("tier", "n_events", "n_users")
    )


def _streaming_minhash_oracle() -> str:
    from cheetah_spark.queries.llm import _oracle_bands_cand, _oracle_minhash_sigs

    return f"""
        WITH sigs AS ({_oracle_minhash_sigs()}),
        {_oracle_bands_cand()},
        flagged AS (SELECT DISTINCT doc_id_b AS doc_id FROM cand)
        SELECT (SELECT COUNT(*) FROM documents)::BIGINT AS n_docs,
               COUNT(*)::BIGINT AS n_flagged,
               CAST(COALESCE(SUM(doc_id), 0) AS BIGINT) AS sum_flagged,
               CAST(COALESCE(MIN(doc_id), -1) AS BIGINT) AS min_flagged,
               CAST(COALESCE(MAX(doc_id), -1) AS BIGINT) AS max_flagged
        FROM flagged
    """


@register(
    "s_llm_minhash_dedup",
    oracle=_streaming_minhash_oracle(),
    tags=("streaming", "llm", "dedup", "stateful"),
)
def s_llm_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-duplicate detection — the curation family's
    MinHash-LSH banding run against history as documents ARRIVE: each
    micro-batch computes signatures map-side (q_llm_minhash_dedup's
    kernel, minhash_sigs_arrow), explodes them to (band, bucket) keys
    (minhash_bands), and a JVM stateful streaming aggregation carries
    ONE bounded value per bucket — the minimum doc_id ever seen — so
    any later arrival colliding with an earlier document in any band
    is flagged. This is how a production ingest pipeline near-dedups
    a stream against everything already ingested without re-scanning
    it.

    State is O(#occupied buckets) x 8 bytes in the JVM state store,
    NOT corpus-sized, and deliberately NOT a Python stateful operator:
    the bucket keyspace is corpus-sized, and applyInPandasWithState
    pays a Python round trip per key per batch (measured 117 s at
    sf0.1 vs ~3 s for the same keyspace in the JVM min-aggregation;
    see _stream_minhash_flagged). A doc may collide in several bands,
    so the flagged view is distinct-ed before aggregation.

    The replay fixture arrives in doc_id order (documents_stream_dir
    pins admission order = doc_id order), so arrival-order semantics
    ("flag the LATER arrival") are expressible in SQL as doc_id
    comparisons: the oracle recomputes the banded candidate pairs
    a < b in batch and the flagged set = DISTINCT b — hash-verified
    equality between the streaming state machine's output and the
    batch dedup operator's candidate view."""
    n_docs = load_table(spark, sf_dir, "documents").count()
    out = _stream_minhash_flagged(spark, sf_dir, max_files_per_trigger=2)
    return out.select("doc_id").distinct().agg(
        F.lit(n_docs).cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_flagged"),
        F.coalesce(F.sum("doc_id"), F.lit(0)).cast("bigint").alias("sum_flagged"),
        F.coalesce(F.min("doc_id"), F.lit(-1)).cast("bigint").alias("min_flagged"),
        F.coalesce(F.max("doc_id"), F.lit(-1)).cast("bigint").alias("max_flagged"),
    )


def _stream_minhash_flagged(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """The streaming half of s_llm_minhash_dedup, micro-batch slicing
    exposed so the conformance test can prove the flagged set is
    invariant to admission granularity.

    State is a JVM streaming aggregation — groupBy(band, bucket).
    agg(min(doc_id)) in update mode — NOT a Python stateful operator:
    with ~8 buckets per document the bucket keyspace is corpus-sized,
    and applyInPandasWithState pays a Python round trip PER KEY PER
    BATCH (measured 117 s at sf0.1, ~90 s of it pure per-group
    overhead; the JVM state store runs the same keyspace in ~2 s).
    The memory sink receives each bucket's RUNNING min per batch; the
    final state is the per-bucket min over emissions, and the flagged
    set = banded arrivals with doc_id above their bucket's final min
    — identical to flagging each arrival online, because a doc is
    flagged iff ANY bucket it lands in ever saw a smaller doc_id."""
    from cheetah_spark.queries.llm import minhash_bands, minhash_sigs_arrow
    from cheetah_spark.streaming import documents_stream_dir

    src_dir = documents_stream_dir(spark, sf_dir)
    stream = ParquetSource(
        src_dir, streaming=True, max_files_per_trigger=max_files_per_trigger
    ).read(spark)

    # a file-stream micro-batch has ONE partition per admitted file
    # (the replay fixtures write one row group each, so the scan can't
    # split them) — at mfpt=2 the Arrow signature stage would run on 2
    # of 32 cores. Fan the batch out to every core BEFORE the sig
    # compute: the shuffle moves raw text once per micro-batch (cheap),
    # the compute parallelism goes cluster-wide, and batch membership —
    # the unit the state machine sees — is untouched, so the flagged
    # set is unchanged. Measured at the 25× probe: 63 s of the 68 s
    # wall was the 2-core signature stage; repartitioned it reads
    # 17.2 s warm. On a real Kafka/file ingest with many source
    # partitions this is a no-op-sized rebalance, not a new cost.
    fanout = spark.sparkContext.defaultParallelism

    def banded(df):
        # map-only signature: Spark rejects an aggregation ahead of a
        # streaming agg, and the pure-Column HOF fold (minhash_sig_expr)
        # runs interpreted — 12.8 s vs 4.0 s for the Arrow kernel at
        # sf0.1 (r7 verdict item #7; engine floor ~1 s, so the sig WAS
        # the wall). Shingle-less docs get no signature row, so they
        # never enter the banding.
        return minhash_bands(minhash_sigs_arrow(df.repartition(fanout)))

    # foreachBatch parquet spool, NOT the memory sink (r9): the
    # update-mode aggregation emits ~|occupied buckets| rows per
    # micro-batch (12 M/batch at the 25× probe, billions at 100 TB) —
    # a memory sink pins all of that in driver memory, the spool keeps
    # it distributed (and measured mildly faster at 25×)
    from cheetah_spark.streaming import run_stream_to_files

    with scoped_state_partitions(spark):
        sunk = run_stream_to_files(
            stream,
            lambda df: banded(df)
            .groupBy("b", "bucket")
            .agg(F.min("doc_id").alias("min_doc")),
            output_mode="update",
        )
    final_min = sunk.groupBy("b", "bucket").agg(F.min("min_doc").alias("m"))
    # batch-side arrivals: the same kernel and banding over the whole
    # corpus, so their buckets equal the streamed ones by construction
    arrivals = minhash_bands(
        minhash_sigs_arrow(load_table(spark, sf_dir, "documents"))
    )
    return (
        arrivals.join(final_min, ["b", "bucket"])
        .where(F.col("doc_id") > F.col("m"))
        .select("doc_id")
    )


def _streaming_embed_oracle() -> str:
    from cheetah_spark.queries.llm import (
        _ED_DIM,
        _ED_ORACLE_BITS,
        _ED_ORACLE_BVAL,
        _ED_PERT_MOD,
        _ED_PERT_OFFSET,
        _ED_THRESHOLD,
    )

    return f"""
        WITH u AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            UNION ALL
            SELECT vec_id + {_ED_PERT_OFFSET},
                   [CAST(embedding AS DOUBLE[])[1] + 0.25]
                       || CAST(embedding AS DOUBLE[])[2:{_ED_DIM}]
            FROM embeddings WHERE vec_id % {_ED_PERT_MOD} = 0
        ),
        lay AS (
            SELECT bits, GREATEST(2, 64 // bits) AS blocks FROM (
                SELECT {_ED_ORACLE_BITS} AS bits
                FROM (SELECT COUNT(*)::BIGINT AS n FROM embeddings)
            )
        ),
        blocks AS (
            SELECT vec_id, blk, {_ED_ORACLE_BVAL} AS bval
            FROM u, lay, (SELECT unnest(generate_series(0, 31)) AS blk)
            WHERE blk < lay.blocks
        ),
        mins AS (SELECT blk, bval, MIN(vec_id) AS m FROM blocks GROUP BY blk, bval),
        hits AS (
            SELECT DISTINCT b.vec_id, mn.m
            FROM blocks b JOIN mins mn ON b.blk = mn.blk AND b.bval = mn.bval
            WHERE b.vec_id > mn.m
        ),
        flagged AS (SELECT DISTINCT vec_id FROM hits),
        conf AS (
            SELECT DISTINCT h.vec_id
            FROM hits h JOIN u a ON a.vec_id = h.vec_id JOIN u p ON p.vec_id = h.m
            WHERE list_cosine_similarity(a.v, p.v) >= {_ED_THRESHOLD}
        )
        SELECT (SELECT COUNT(*) FROM u)::BIGINT AS n_vecs,
               (SELECT COUNT(*) FROM flagged)::BIGINT AS n_flagged,
               (SELECT CAST(COALESCE(SUM(vec_id), 0) AS BIGINT) FROM flagged) AS sum_flagged,
               (SELECT COUNT(*) FROM conf)::BIGINT AS n_confirmed,
               (SELECT CAST(COALESCE(SUM(vec_id), 0) AS BIGINT) FROM conf) AS sum_confirmed
    """


@register(
    "s_llm_embed_dedup",
    oracle=_streaming_embed_oracle(),
    tags=("streaming", "llm", "dedup", "vector", "stateful"),
)
def s_llm_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING embedding near-dedup against history — the sign-LSH
    counterpart of s_llm_minhash_dedup, completing the streaming dedup
    family: as vectors ARRIVE, each micro-batch computes its pigeonhole
    block keys map-side (:func:`~cheetah_spark.queries.llm._ed_blocks_of`,
    the exact expressions the batch operator uses) and a JVM stateful
    aggregation keeps ONE bounded value per occupied (block, value)
    bucket — the minimum vec_id ever seen — so a later arrival whose
    sign pattern collides with history in any block is flagged without
    re-scanning the corpus. State is 8 bytes per occupied bucket, and
    the same measured rule as the minhash variant applies: a
    corpus-sized keyspace must stay in the JVM state store, never
    applyInPandasWithState.

    The replay feed interleaves the batch operator's planted perturbed
    copies (embeddings_stream_dir), each arriving after its original,
    so the flagged set provably contains every planted near-duplicate.
    Flagged arrivals are then reranked batch-side by exact cosine
    against their bucket's retained representative (n_confirmed) —
    the stream flags candidates-vs-history; confirmation pairs each
    candidate with the state's representative, which is how a
    production ingest rerank works (the state cannot hold every
    historical vector, only the per-bucket keeper).

    Arrival order == vec_id order, so the SQL oracle expresses the
    whole state machine in batch: bucket mins, arrivals above their
    bucket min, cosine-vs-min rerank — hash-verified."""
    from cheetah_spark.functions import vectors as V
    from cheetah_spark.queries.llm import _ED_THRESHOLD
    from cheetah_spark.streaming import embeddings_stream_dir

    src_dir = embeddings_stream_dir(spark, sf_dir)
    hits = _stream_embed_hits(spark, sf_dir, max_files_per_trigger=2)
    arrivals = ParquetSource(src_dir).read(spark)
    va = arrivals.select(F.col("vec_id"), F.col("v").alias("va"),
                         V.l2_norm_sq(F.col("v")).alias("nsq_a"))
    vp = arrivals.select(F.col("vec_id").alias("m"), F.col("v").alias("vp"),
                         V.l2_norm_sq(F.col("v")).alias("nsq_p"))
    cos = V.dot(F.col("va"), F.col("vp")) / (
        F.sqrt(F.col("nsq_a")) * F.sqrt(F.col("nsq_p"))
    )
    conf = (
        hits.join(va, "vec_id")
        .join(vp, "m")
        .where(cos >= _ED_THRESHOLD)
        .select("vec_id")
        .distinct()
    )
    flagged = hits.select("vec_id").distinct()
    n_vecs = arrivals.count()
    f_agg = flagged.agg(
        F.count("*").cast("bigint").alias("n_flagged"),
        F.coalesce(F.sum("vec_id"), F.lit(0)).cast("bigint").alias("sum_flagged"),
    )
    c_agg = conf.agg(
        F.count("*").cast("bigint").alias("n_confirmed"),
        F.coalesce(F.sum("vec_id"), F.lit(0)).cast("bigint").alias("sum_confirmed"),
    )
    return f_agg.crossJoin(c_agg).select(
        F.lit(n_vecs).cast("bigint").alias("n_vecs"),
        "n_flagged",
        "sum_flagged",
        "n_confirmed",
        "sum_confirmed",
    )


def _stream_embed_hits(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int
) -> DataFrame:
    """The streaming half of s_llm_embed_dedup — (vec_id, m) pairs of
    flagged arrivals and their bucket representative — with micro-batch
    granularity exposed so the conformance test can prove the flagged
    set is invariant to admission slicing (the reference's SuiteTest
    property, test/suite_test.go:85-104, for this state machine)."""
    from cheetah_spark.catalog import _table_rows
    from cheetah_spark.queries.llm import _ed_blocks_of, _ed_layout
    from cheetah_spark.streaming import embeddings_stream_dir

    n_blocks, n_bits = _ed_layout(_table_rows(spark, sf_dir, "embeddings"))
    src_dir = embeddings_stream_dir(spark, sf_dir)
    stream = ParquetSource(
        src_dir, streaming=True, max_files_per_trigger=max_files_per_trigger
    ).read(spark)
    with scoped_state_partitions(spark):
        sunk = run_stream_to_completion(
            stream,
            lambda df: _ed_blocks_of(df, n_blocks, n_bits)
            .groupBy("blk", "bval")
            .agg(F.min("vec_id").alias("min_vec")),
            output_mode="update",
        )
    final_min = sunk.groupBy("blk", "bval").agg(F.min("min_vec").alias("m"))
    arrivals = ParquetSource(src_dir).read(spark)
    return (
        _ed_blocks_of(arrivals, n_blocks, n_bits)
        .join(final_min, ["blk", "bval"])
        .where(F.col("vec_id") > F.col("m"))
        .select("vec_id", "m")
        .distinct()
    )


from cheetah_spark.queries.curation import _BLOOM_ORACLE as _BLOOM_BATCH_ORACLE


def bloom_shingle_hit(s, words):
    """All-k-bits-set Bloom membership of ONE shingle Column against a
    densified words array Column (m/32 bigints; missing/NULL slots read
    as 0) — the single bit-math definition shared by the streaming-legal
    in-plan probe (:func:`bloom_probe_transform`) and the declarative
    ``decontaminate`` transform (config.py), so neither can drift from
    the hash-gated batch operator's integer math."""
    import functools
    import operator

    from cheetah_spark.queries import curation as C

    tests = []
    for p in C._bloom_positions_spark(s):
        word = F.element_at(words, (p / 32).cast("int") + 1)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), (p % 32).cast("int")
        )
        tests.append(F.coalesce(word, F.lit(0)).bitwiseAND(bit) != 0)
    return functools.reduce(operator.and_, tests)


def bloom_probe_transform(df: DataFrame, bloom_row: DataFrame) -> DataFrame:
    """The probe half of :func:`s_llm_bloom_decontaminate`, factored to
    module level so tests/test_plans.py plans the REAL transform (r7
    advice: the old test re-built an analogue by hand, which could
    drift from the shipped probe path).

    ``df``: a documents frame (streaming or batch — the expressions are
    identical; only the source/state wrappers differ). ``bloom_row``:
    the ONE-ROW densified filter ``(bk int, words array<bigint>)``.
    Eval-set exclusion, shingle assembly, the broadcast 1-row attach,
    the k probe positions inside ``F.filter`` lambdas, and the
    per-lang aggregate all live here — one code path for the query and
    its plan pin."""
    from cheetah_spark.functions import text as X
    from cheetah_spark.queries import curation as C

    is_eval = (
        X.hash56(F.concat(F.lit(C._DECON_SEED), F.col("doc_id").cast("string"))) % 1000
        < C._EVAL_PERMIL
    )
    shl = F.array_distinct(X.shingles(X.tokens(F.col("text")), C._DECON_K))

    def shingle_hits(s):
        # all k bits set <-> Bloom membership; identical integer math
        # to the batch probe joins, evaluated per array element
        return bloom_shingle_hit(s, F.col("words"))

    per_doc = (
        df.where(~is_eval)
        .withColumn("shl", shl)
        .where(F.size("shl") > 0)
        .withColumn("bk", F.lit(1))
        .join(F.broadcast(bloom_row), "bk")
        .select(
            "doc_id",
            "lang",
            F.size(F.filter(F.col("shl"), shingle_hits)).alias("n_hit"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_train_docs"),
        F.sum("n_hit").cast("bigint").alias("n_hit_shingles"),
        F.sum(F.when(F.col("n_hit") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged_docs"),
        F.min(F.when(F.col("n_hit") > 0, F.col("doc_id"))).alias("min_flagged_id"),
    )


def bloom_probe_partials(df: DataFrame, bloom: DataFrame) -> DataFrame:
    """Per-lang PARTIAL of the Bloom probe over one micro-batch — the
    batch-legal twin of :func:`bloom_probe_transform`, run INSIDE
    foreachBatch by :func:`s_llm_bloom_decontaminate` (r10).

    Why this exists: the streaming-legal shape must reach the stateful
    aggregate map-only, which forces the k probe positions and word/bit
    tests into ``F.filter`` lambdas — higher-order-function lambdas are
    evaluated INTERPRETED per array element, outside whole-stage
    codegen, and at the 25× probe that interpretation was the wall
    (~34 M seeded md5 probes per pass). Inside foreachBatch the frame
    is a batch frame, so this twin uses the batch operator's shape:
    explode the (distinct) shingles and run each probe position as a
    plain codegen projection + one BROADCAST hash join per hash
    function against the m/32-row word table
    (:func:`~cheetah_spark.queries.curation.q_llm_bloom_decontaminate`'s
    probe — identical integer math, hash-verified against the same
    oracle). Two-level aggregation (per-doc, then per-lang) is legal
    here because a document never spans micro-batches; the emitted
    partial is a monoid element (sums + min per lang, ≤|langs| rows per
    batch) and the final rollup is the partials' merge."""
    from cheetah_spark.functions import text as X
    from cheetah_spark.queries import curation as C

    is_eval = (
        X.hash56(F.concat(F.lit(C._DECON_SEED), F.col("doc_id").cast("string"))) % 1000
        < C._EVAL_PERMIL
    )
    shl = F.array_distinct(X.shingles(X.tokens(F.col("text")), C._DECON_K))
    # explode the EXPRESSION directly (the batch operator's shape):
    # aliasing the array into a projection first makes Generate carry
    # the materialized array through its child rows — measured 20×
    # slower at the 25× tier (140 s vs 6.5 s for this stage alone).
    # explode of an empty array emits nothing, which IS the
    # zero-shingle-doc exclusion the batch semantics require.
    train = df.where(~is_eval).select("doc_id", "lang", F.explode(shl).alias("s"))
    probed = train
    hit = F.lit(True)
    for i, p in enumerate(C._bloom_positions_spark(F.col("s"))):
        b = F.broadcast(
            bloom.select(F.col("word_idx").alias(f"wi{i}"), F.col("word").alias(f"w{i}"))
        )
        probed = probed.withColumn(f"pos{i}", p).join(
            b, (F.col(f"pos{i}") / 32).cast("bigint") == F.col(f"wi{i}"), "left"
        )
        bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos{i} % 32 AS INT))")
        hit = hit & (F.coalesce(F.col(f"w{i}"), F.lit(0)).bitwiseAND(bit) != 0)
    per_doc = (
        probed.select("doc_id", "lang", hit.cast("int").alias("hit"))
        .groupBy("doc_id", "lang")
        .agg(F.sum("hit").alias("n_hit"))
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_train_docs"),
        F.sum("n_hit").cast("bigint").alias("n_hit_shingles"),
        F.sum(F.when(F.col("n_hit") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged_docs"),
        F.min(F.when(F.col("n_hit") > 0, F.col("doc_id"))).alias("min_flagged_id"),
    )


@register(
    "s_llm_bloom_decontaminate",
    # the literal batch oracle: the merged micro-batch partials over a
    # fully-drained replay must equal the batch decontamination
    # bit-for-bit
    oracle=_BLOOM_BATCH_ORACLE,
    tags=("streaming", "llm", "decontamination", "bloom"),
)
def s_llm_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING decontamination — the ingest-time execution of
    :func:`~cheetah_spark.queries.curation.q_llm_bloom_decontaminate`,
    hash-verified against the SAME batch oracle: probing a
    constant-memory Bloom filter is a pure per-row function, so the
    merged micro-batch partials over a fully-drained replay must equal
    the batch result bit-for-bit.

    Shape (the 100 TB ingest posture): the filter is built ONCE in
    batch from the bounded eval set (m/32 words, 32 KiB — the bounded
    driver-state class) and shipped to every micro-batch as the
    broadcast build side of the probe joins. Each trigger reduces its
    admitted documents to a per-lang PARTIAL (sums + min, ≤|langs|
    rows) inside foreachBatch — :func:`bloom_probe_partials`, the
    batch operator's explode + broadcast-word-slot-join probe, fully
    whole-stage-codegen — and the partials parquet spool is merged by
    one final rollup. ZERO streaming state: the per-doc unit never
    spans micro-batches, so the per-lang partial is a monoid element
    and the merge is exact. A new benchmark drop = rebuild the tiny
    filter and restart the stream; the corpus is never rescanned.

    r10 reroute (r9 verdict item #2): the previous shape kept the
    probe streaming-legal ahead of a complete-mode per-lang aggregate,
    which forced the k probe positions into ``F.filter`` lambdas —
    higher-order-function lambdas evaluate INTERPRETED per element,
    and those ~34 M interpreted seeded-md5 probes were the 25× wall
    (64.7 s min-of-2 after the r9 fan-out). The foreachBatch-partials
    shape runs the identical integer math in codegen: 25× measured
    ~24 s min-of-2 (SCALE.md). bloom_probe_transform (the map-only
    streaming-legal probe) remains for pipelines that need the probe
    INSIDE a larger streaming plan.

    Matches the batch semantics exactly: docs with zero shingles are
    excluded, hits count per-doc DISTINCT shingles (``array_distinct``
    upstream), and per-doc rows collapse within their batch so the
    summed partial counts equal the batch ``COUNT(DISTINCT doc_id)``."""
    from cheetah_spark.functions import text as X
    from cheetah_spark.queries import curation as C
    from cheetah_spark.streaming import documents_stream_dir

    # --- filter build: persisted per fixture (anchors, code-identity
    # keyed) — the production posture is a benchmark filter COMPILED
    # OFFLINE once and shipped to every ingest stream, so the build is
    # a one-time fixture derivation, not per-stream-start cost ---
    from cheetah_spark.anchors import anchor_rows

    def _bloom_words_build(spark_, sf_):
        d_ = load_table(spark_, sf_, "documents")
        is_eval_ = (
            X.hash56(
                F.concat(F.lit(C._DECON_SEED), F.col("doc_id").cast("string"))
            )
            % 1000
            < C._EVAL_PERMIL
        )
        shl_ = F.array_distinct(X.shingles(X.tokens(F.col("text")), C._DECON_K))
        eval_sh = d_.where(is_eval_).select(F.explode(shl_).alias("s")).distinct()
        pos = eval_sh.select(
            F.explode(F.array(*C._bloom_positions_spark(F.col("s")))).alias("pos")
        )
        return pos.groupBy((F.col("pos") / 32).cast("bigint").alias("word_idx")).agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
            ).alias("word")
        )

    _schema, word_rows = anchor_rows(
        spark,
        sf_dir,
        "bloom_words",
        ("documents",),
        _bloom_words_build,
        params=f"m={C._BLOOM_M};k={C._BLOOM_K};shingle={C._DECON_K};"
        f"permil={C._EVAL_PERMIL};v1",
        # the bit layout is defined by these shared expression helpers
        helpers=(C._bloom_positions_spark, X.shingles, X.tokens),
    )
    bloom = spark.createDataFrame(
        [(int(r.word_idx), int(r.word)) for r in word_rows],
        "word_idx bigint, word bigint",
    )

    src_dir = documents_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)

    # micro-batch fan-out BEFORE the probe chain (the r9 starvation
    # finding, SCALE.md): the file stream admits 2 single-row-group
    # files per trigger = 2 scan partitions; repartition inside the
    # batch transform spreads the explode+probe over every core.
    fanout = spark.sparkContext.defaultParallelism

    from cheetah_spark.streaming import run_stream_batch_partials

    # shuffle scope = CORE COUNT, not the stateful keyspace-8: this
    # stream has ZERO streaming state, and the per-batch per-doc
    # aggregate is a real shuffle that wants every core (r11 rule,
    # SCALE.md: 25x min-of-2 9.9 -> 7.3 s; a vanilla 200-partition
    # session still gets scoped DOWN)
    with scoped_state_partitions(spark, n=fanout):
        partials = run_stream_batch_partials(
            stream,
            lambda df: bloom_probe_partials(df.repartition(fanout), bloom),
        )
    return partials.groupBy("lang").agg(
        F.sum("n_train_docs").cast("bigint").alias("n_train_docs"),
        F.sum("n_hit_shingles").cast("bigint").alias("n_hit_shingles"),
        F.sum("n_flagged_docs").cast("bigint").alias("n_flagged_docs"),
        F.min("min_flagged_id").alias("min_flagged_id"),
    )


_TOPTALK_K = 10


@register(
    "s_stream_topk_talkers",
    oracle=f"""
        WITH agg AS (
            SELECT user_id,
                   COUNT(*)::BIGINT AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
            FROM events GROUP BY user_id
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (ORDER BY n_events DESC, user_id ASC) AS rk
            FROM agg
        )
        SELECT rk, user_id, n_events, sum_value
        FROM ranked WHERE rk <= {_TOPTALK_K}
    """,
    tags=("streaming", "topk", "security"),
)
def s_stream_topk_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING top-K talkers — the canonical security-telemetry
    dashboard query (which principal generates the most events) as a
    live view: complete-mode per-key aggregation over the replay, with
    the rank cut applied to the drained state. The reference's
    pipeline shape (MQTT/EventLog → transform → destination,
    README.md:164-299) feeds exactly this kind of rolling leaderboard;
    here it is hash-verified: a fully-drained complete-mode aggregate
    must equal the batch GROUP BY, so the emitted top-K (count desc,
    user_id asc ties) matches the batch ranking bit-for-bit —
    sum_value uses the exact decimal-sum convention, so even the
    double column survives the cross-engine hash.

    Scale: state is one (count, decimal-sum) pair per active principal
    — O(|principals|), not corpus size; the rank cut costs one
    TakeOrderedAndProject over the bounded state table. At 100 TB the
    same plan holds with state sharded across executors by user_id."""
    src_dir = events_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(
            stream,
            lambda df: df.groupBy("user_id").agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(38,6)")).alias("sv"),
            ),
            output_mode="complete",
        )
    from pyspark.sql.window import Window as W

    ranked = out.withColumn(
        "rk",
        F.row_number().over(W.orderBy(F.col("n_events").desc(), F.col("user_id").asc())),
    )
    return ranked.where(F.col("rk") <= _TOPTALK_K).select(
        "rk", "user_id", "n_events", F.col("sv").cast("double").alias("sum_value")
    )


from cheetah_spark.queries.llm import _PCA_ORACLE as _PCA_ORACLE_SHARED  # noqa: E402


@register(
    "s_llm_embed_pca",
    # the batch operator's oracle verbatim (same string object — no
    # drift possible): a fully-drained streaming moment accumulation
    # must land on the identical fitted model
    oracle=_PCA_ORACLE_SHARED,
    tags=("streaming", "llm", "vector", "stateful", "iterative"),
)
def s_llm_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PCA fit over the embedding ingest — the moment
    accumulation a 100 TB pipeline would run AT INGEST so the rotation
    model is ready the moment the corpus is.

    r10 reroute (r9 verdict item #6): each micro-batch now reduces to
    Arrow GRAM PARTIALS inside foreachBatch — the batch operator's own
    mapInPandas (n, Σx, XᵀX) pass (one d×d numpy matmul per Arrow
    batch, ≤ #partitions rows per trigger) plus the hash-exact
    per-dim snapped-integer moment partial — spooled to parquet and
    merged by one final fold. The previous shape kept the accumulation
    streaming-legal as a complete-mode aggregation, which forced the
    Gram products through a d²-row explode per vector (4,160 ROW
    operations and a shuffle where the batch twin does d² numpy FLOPs)
    — measured 18.1 s at the 25× tier vs ~4 s for this shape
    (SCALE.md comparison table). Streaming state is now ZERO (the
    partial is a monoid element; vectors never span micro-batches);
    the production posture is unchanged — the model is ready when the
    stream drains, and a d²-bounded partial row per trigger replaces
    the d²-bounded state store.

    Exactness: the integer moment sums are exact by construction and
    hash-anchor the shared oracle; the float Gram fold differs from
    the batch pass only in partial grouping (micro-batch × partition
    vs partition), and every oracle-visible float lands through
    _pca_eigfit's flag tolerances / decimal snapping — which is why
    this query still shares q_llm_embed_pca's oracle verbatim. The
    eigendecomposition + the corpus-wide rotation check reuse the
    batch helpers (_pca_eigfit / _pca_apply_flags) on the merged
    partials."""
    import numpy as np

    from cheetah_spark.catalog import table_path
    from cheetah_spark.queries.llm import (
        _PCA_SNAP,
        _pca_apply_flags,
        _pca_eigfit,
        _pca_output,
    )
    from cheetah_spark.streaming import embeddings_raw_stream_dir, run_stream_batch_partials

    src_dir = embeddings_raw_stream_dir(spark, sf_dir)
    stream = ParquetSource(
        src_dir, streaming=True, max_files_per_trigger=2
    ).read(spark)
    fanout = spark.sparkContext.defaultParallelism
    dim = len(
        spark.read.parquet(table_path(sf_dir, "embeddings"))
        .select("embedding").head().embedding
    )

    def gram_partial(batches):
        import pandas as pd  # local: shipped by value into the UDF closure

        G = None
        s = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Vm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if G is None:
                G = Vm.T @ Vm
                s = Vm.sum(axis=0)
            else:
                G += Vm.T @ Vm
                s += Vm.sum(axis=0)
            n += len(Vm)
        if n:
            yield pd.DataFrame(
                {
                    "kind": ["g"],
                    "dim": [-1],
                    "n": [n],
                    "sum_q": [0],
                    "sum_q2": [0],
                    "g": [G.ravel().tolist()],
                    "s": [s.tolist()],
                }
            )

    _PARTIAL_SCHEMA = (
        "kind string, dim int, n bigint, sum_q bigint, sum_q2 bigint, "
        "g array<double>, s array<double>"
    )

    def pca_partials(df):
        df = df.repartition(fanout)
        arr = F.col("embedding").cast("array<double>")
        q = F.floor(F.col("x") * F.lit(float(_PCA_SNAP)) + F.lit(0.5)).cast("long")
        m = (
            df.select(F.posexplode(arr).alias("i", "x"))
            .select(F.col("i").cast("int").alias("dim"), q.alias("q"))
            .groupBy("dim")
            .agg(
                F.count("*").cast("bigint").alias("n"),
                F.sum("q").cast("bigint").alias("sum_q"),
                F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sum_q2"),
            )
            .select(
                F.lit("m").alias("kind"),
                "dim",
                "n",
                "sum_q",
                "sum_q2",
                F.lit(None).cast("array<double>").alias("g"),
                F.lit(None).cast("array<double>").alias("s"),
            )
        )
        g = df.select("embedding").mapInPandas(gram_partial, _PARTIAL_SCHEMA)
        return m.unionByName(g)

    # core-count shuffle scope: zero streaming state, and the per-batch
    # moment aggregate shuffles the exploded components (r11 rule,
    # SCALE.md: 25x min-of-2 5.0 -> 4.0 s)
    with scoped_state_partitions(spark, n=fanout):
        spool = run_stream_batch_partials(stream, pca_partials)
    spool = spool.persist()
    moment_rows = (
        spool.where(F.col("kind") == "m")
        .groupBy("dim")
        .agg(
            F.sum("n").cast("bigint").alias("n_vecs"),
            F.sum("sum_q").cast("bigint").alias("sum_q"),
            F.sum("sum_q2").cast("bigint").alias("sum_q2"),
        )
        .collect()
    )
    gram_rows = spool.where(F.col("kind") == "g").select("n", "g", "s").collect()
    spool.unpersist()

    G = np.zeros((dim, dim))
    s = np.zeros(dim)
    n = 0
    for r in gram_rows:
        G += np.array(r.g).reshape(dim, dim)
        s += np.array(r.s)
        n += int(r.n)
    mu, W, lam, d, flags = _pca_eigfit(G, s, n)

    e = load_table(spark, sf_dir, "embeddings")
    proj_centered, proj_var_matches = _pca_apply_flags(e, mu, W, lam, n, d)

    moments = spark.createDataFrame(
        [(int(r.dim), int(r.n_vecs), int(r.sum_q), int(r.sum_q2)) for r in moment_rows],
        "dim int, n_vecs bigint, sum_q bigint, sum_q2 bigint",
    )
    return _pca_output(moments, d, flags, proj_centered, proj_var_matches)



@register(
    "s_sec_first_seen",
    oracle="""
        WITH firsts AS (
            SELECT user_id, event_type, MIN(ts) AS first_ts
            FROM events GROUP BY user_id, event_type
        )
        SELECT CAST(date_trunc('day', first_ts) AS TIMESTAMP) AS day,
               COUNT(*) AS n_new_pairs,
               COUNT(DISTINCT user_id) AS n_users_with_new
        FROM firsts GROUP BY 1
    """,
    tags=("streaming", "security", "stateful"),
)
def s_sec_first_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-seen detection — the at-ingest twin of
    q_sec_first_seen: a complete-mode MIN(ts) aggregation per
    (user_id, event_type) runs across the replayed micro-batches (the
    state store carries exactly one timestamp per live pair — the
    bounded-entity state shape), and the drained state rolls up to
    new-pairs-per-day, hash-matched against the batch oracle verbatim.

    Arrival order does NOT matter: MIN is order-insensitive, so the
    streaming result is deterministic regardless of how the replay
    slices batches — unlike a dropDuplicates formulation, whose kept
    row depends on within-batch arrival and cannot be hash-gated.
    State per key is one (pair, ts) entry; at detection scale the
    production variant ages out pairs with a TTL watermark the same
    way the persisted-index dedup rotates days."""
    src_dir = events_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(
            stream,
            lambda df: df.groupBy("user_id", "event_type").agg(
                F.min("ts").alias("first_ts")
            ),
            output_mode="complete",
        )
    return out.groupBy(F.date_trunc("day", "first_ts").alias("day")).agg(
        F.count("*").alias("n_new_pairs"),
        F.countDistinct("user_id").alias("n_users_with_new"),
    )


SCD2_LOOKUP_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type
    ),
    dim AS (
        SELECT user_id, event_type AS state,
               date_trunc('second', ts) AS valid_from,
               date_trunc('second', lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS valid_to,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS version
        FROM changes
    )
    SELECT d.state, CAST(d.version AS BIGINT) AS version,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users
    FROM events e JOIN dim d
      ON e.user_id = d.user_id
     AND e.ts >= d.valid_from
     AND (d.valid_to IS NULL OR e.ts < d.valid_to)
    GROUP BY d.state, d.version
"""


@register(
    "s_stream_scd2_lookup",
    oracle=SCD2_LOOKUP_ORACLE,
    tags=("streaming", "warehouse", "scd2", "join"),
)
def s_stream_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming temporal dimension lookup: each replayed event joins
    the SCD2 user-state dimension (q_scd2_history's versioned build)
    at ITS OWN event time — `user_id` equality plus the
    `[valid_from, valid_to)` interval predicate — the
    as-of-enrichment every warehouse ingest does against a
    slowly-changing dimension.

    The stream-static join is stateless per micro-batch (the dimension
    is a bounded batch relation broadcast to every batch; no streaming
    state), so arrival slicing can't change the result — every event
    matches exactly ONE version by the half-open interval construction
    — and the drained enrichment rolls up to per-(state, version)
    counts hash-matched against the batch oracle verbatim.

    Scale shape: dimension versions are bounded by change-rate (not
    corpus size) → broadcast; the residual interval predicate
    evaluates map-side under the user_id hash join, so the stream
    never shuffles. At dimension sizes beyond broadcast the production
    rewrite buckets valid_from (the q_sec_cidr_match prefix trick) to
    keep the equi-join + residual shape."""
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select("user_id", "event_type", "ts", "event_id").withColumn(
        "prev_type", F.lag("event_type").over(w)
    )
    changes = ordered.where(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    )
    dim = changes.select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("state"),
        F.date_trunc("second", "ts").alias("valid_from"),
        F.date_trunc("second", F.lead("ts").over(w)).alias("valid_to"),
        F.row_number().over(w).cast("bigint").alias("version"),
    ).localCheckpoint()  # bounded dimension: materialize once, broadcast per batch

    src_dir = events_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    out = run_stream_to_completion(
        stream,
        lambda df: df.join(
            F.broadcast(dim),
            (df.user_id == dim.d_user)
            & (df.ts >= dim.valid_from)
            & (dim.valid_to.isNull() | (df.ts < dim.valid_to)),
        ).select("state", "version", "user_id"),
    )
    return out.groupBy("state", "version").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "s_timeseries_ohlc",
    oracle=_timeseries.OHLC_SQL_DUCK,
    tags=("streaming", "timeseries", "stateful"),
)
def s_timeseries_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bar building — the at-ingest twin of
    q_timeseries_ohlc: a complete-mode aggregation per (event_type,
    hour) carries min_by/max_by/min/max/count/decimal-sum partials in
    the state store (ONE bounded row per open bar — the tick-store
    ingest shape), and the drained state hash-matches the batch oracle
    VERBATIM.

    Arrival order cannot change the result: every aggregate in the bar
    is order-insensitive (extremum selection by the unique BIGINT
    order key, associative min/max/count, exact decimal sum) — the
    same property that makes s_sec_first_seen sliceable. State is
    bounded by open-bar cardinality (types × hours in flight); a
    production ingest closes bars with a watermark instead of
    complete-mode replay."""
    src_dir = events_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    ordkey = (
        F.date_trunc("second", F.col("ts")).cast("bigint") * F.lit(10000000)
        + F.col("event_id") % F.lit(10000000)
    )
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(
            stream,
            lambda df: df.groupBy(
                "event_type", F.date_trunc("hour", "ts").alias("bucket")
            ).agg(
                F.min_by("value", ordkey).alias("open"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.max_by("value", ordkey).alias("close"),
                F.count("*").alias("volume"),
                dsum2("value").alias("sum_value"),
            ),
            output_mode="complete",
        )
    return out


@register(
    "s_llm_sft_format",
    oracle="""
        WITH t AS (
            SELECT lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents
        )
        SELECT lang,
               COUNT(*) AS n_pairs,
               CAST(SUM(8) AS BIGINT) AS total_prompt_tokens,
               CAST(SUM(len(toks) - 8) AS BIGINT) AS total_response_tokens,
               CAST(SUM(len('<|user|>' || chr(10)
                          || array_to_string(list_slice(toks, 1, 8), ' ')
                          || chr(10) || '<|assistant|>' || chr(10)
                          || array_to_string(list_slice(toks, 9, len(toks)), ' ')
                          || '<|end|>')) AS BIGINT) AS total_rendered_chars
        FROM t WHERE len(toks) > 8
        GROUP BY lang
    """,
    tags=("streaming", "llm", "sft", "format"),
)
def s_llm_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming at-ingest SFT formatting — the q_llm_sft_format
    rendering applied inside a real StreamingQuery over the replayed
    documents corpus (stateless map-only micro-batches: the formatter
    rides the engine floor like s_llm_c4_filter), with the drained
    output rolled up per language and the RENDERED text lengths
    hash-matched against the oracle re-deriving the template
    relationally — so at-ingest formatting provably equals the batch
    formatter byte-for-byte (length sums over exact per-row renders).
    """
    from cheetah_spark.queries.curation import q_llm_sft_format  # noqa: F401 (shape twin)
    from cheetah_spark.registry import REGISTRY
    from cheetah_spark.streaming import documents_stream_dir

    src_dir = documents_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)

    def fmt(df):
        from cheetah_spark.functions import text as XT

        toks = XT.tokens(F.col("text"))
        t = df.select("lang", toks.alias("toks")).where(F.size("toks") > 8)
        prompt = F.array_join(F.slice("toks", 1, 8), " ")
        response = F.array_join(F.slice(F.col("toks"), 9, F.size("toks") - 8), " ")
        return t.select(
            "lang",
            F.size("toks").alias("n_tok"),
            F.concat(
                F.lit("<|user|>\n"), prompt, F.lit("\n<|assistant|>\n"),
                response, F.lit("<|end|>"),
            ).alias("rendered"),
        )

    out = run_stream_to_completion(stream, fmt)
    return out.groupBy("lang").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.lit(8)).cast("bigint").alias("total_prompt_tokens"),
        F.sum(F.col("n_tok") - 8).cast("bigint").alias("total_response_tokens"),
        F.sum(F.length("rendered")).cast("bigint").alias("total_rendered_chars"),
    )


def _impossible_travel_update():
    """s_sec_impossible_travel's per-user fold, the
    ``applyInPandasWithState`` body: a closure, so it ships to the
    Python workers by value."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np
    import pandas as pd

    def snapf(x: float, places: str) -> float:
        return float(Decimal(repr(x)).quantize(Decimal(places), rounding=ROUND_HALF_UP))

    def geo(user_id: int, event_id: int) -> tuple[float, float]:
        h1 = int(hashlib.md5(f"{user_id}:{event_id}".encode()).hexdigest()[:14], 16)
        h2 = int(hashlib.md5(f"{event_id}:{user_id}".encode()).hexdigest()[:14], 16)
        lat = snapf((h1 % 160000) / 1000.0 - 80.0, "1e-6")
        lon = snapf((h2 % 360000) / 1000.0 - 180.0, "1e-6")
        return lat, lon

    def update(key, pdfs, state):
        if state.exists:
            plat, plon, pts, hops, imp, kmm = state.get
        else:
            plat = plon = None
            pts, hops, imp, kmm = 0, 0, 0, 0
        # per-key per-batch body (1500 keys/trigger at sf0.1): numpy
        # lexsort + a zip loop over extracted arrays replaces the
        # pandas sort_values + iterrows row path, which cost ~100 µs
        # PER ROW in frame machinery alone (guide §4.2) — the fold
        # itself (md5 geo derivation + Decimal snapping) is unchanged
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        eids = rows["event_id"].to_numpy()
        ts_ns = rows["ts"].to_numpy().astype("datetime64[ns]").astype(np.int64)
        order = np.lexsort((eids, ts_ns))
        uid = int(key[0])
        for eid, t_ns in zip(eids[order], ts_ns[order]):
            ts_s = int(t_ns // 10**9)
            lat, lon = geo(uid, int(eid))
            if plat is not None:
                a = (
                    math.sin(math.radians(lat - plat) / 2) ** 2
                    + math.cos(math.radians(plat))
                    * math.cos(math.radians(lat))
                    * math.sin(math.radians(lon - plon) / 2) ** 2
                )
                a = snapf(a, "1e-9")
                km = snapf(12742.0 * math.asin(math.sqrt(a)), "1e-3")
                dt_s = float(ts_s - pts)
                hops += 1
                if dt_s > 0 and km / (dt_s / 3600.0) > 900.0:
                    imp += 1
                kmm += int(round(km * 1000))  # exact: km has 3 decimals
            plat, plon, pts = lat, lon, ts_s
        state.update((plat, plon, pts, hops, imp, kmm))
        yield pd.DataFrame(
            np.array([[uid, hops, imp, kmm]], dtype=np.int64),
            columns=["user_id", "n_hops", "n_impossible", "km_milli"],
            copy=False,
        )

    return update


@register(
    "s_sec_impossible_travel",
    oracle=None,  # set below: shares the batch operator's oracle verbatim
    tags=("streaming", "security", "spatial", "stateful"),
)
def s_sec_impossible_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming impossible-travel detection — the custom KEYED-STATE
    showcase: each user's state store entry carries exactly (last lat,
    last lon, last ts, running hop/impossible/distance totals), every
    replayed micro-batch advances it through the same snapped haversine
    stages as the batch operator (per-row Decimal snapping reproduces
    the SQL DECIMAL casts: both round the shortest decimal string
    HALF_UP), and the drained final state per user hash-matches
    q_sec_impossible_travel's oracle VERBATIM.

    This is the operator class the reference's Handler surface cannot
    express without external state (SURVEY §2A T1): sequential per-key
    geometry across arbitrarily sliced batches. In-batch rows sort by
    (ts, event_id); cross-batch order is the replay's ts-ordered
    admission — the same contract every session/SCD2 stream here
    relies on. State is O(1) per live user."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    update = _impossible_travel_update()

    src_dir = events_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=4).read(spark)
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(
            stream,
            # only (user_id, event_id, ts) cross the Python boundary —
            # the geometry derives from ids; event_type/value/props
            # never enter the fold (guide §4.1)
            lambda df: df.select("user_id", "event_id", "ts").groupBy("user_id").applyInPandasWithState(
                update,
                outputStructType="user_id long, n_hops long, n_impossible long, km_milli long",
                stateStructType="plat double, plon double, pts long, hops long, imp long, kmm long",
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ),
            output_mode="update",
        )
    # totals are monotone: the last emission per user is the column max
    return (
        out.groupBy("user_id")
        .agg(
            F.max("n_hops").alias("n_hops"),
            F.max("n_impossible").alias("n_impossible"),
            F.max("km_milli").alias("km_milli"),
        )
        .where(F.col("n_hops") > 0)
        .select(
            "user_id",
            "n_hops",
            "n_impossible",
            F.round(F.col("km_milli").cast("decimal(38,6)") / 1000, 2)
            .cast("double")
            .alias("total_km"),
        )
    )


# share the batch operator's oracle verbatim: streaming final state
# must equal the batch rollup bit-for-bit
from cheetah_spark.registry import REGISTRY  # noqa: E402

REGISTRY["s_sec_impossible_travel"] = REGISTRY["s_sec_impossible_travel"].__class__(
    name="s_sec_impossible_travel",
    fn=REGISTRY["s_sec_impossible_travel"].fn,
    oracle=REGISTRY["q_sec_impossible_travel"].oracle,
    doc=REGISTRY["s_sec_impossible_travel"].doc,
    tags=REGISTRY["s_sec_impossible_travel"].tags,
)
