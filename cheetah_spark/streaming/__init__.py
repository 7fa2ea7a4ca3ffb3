"""Streaming execution helpers: bounded-replay fixtures and
run-to-completion plumbing for conformance-style checks.

The reference's conformance suite (test/suite_test.go:16-104) pushes N
unique payloads source→identity→sink and asserts no-loss/no-dup. Here
the replay source is a directory of parquet files consumed with
``maxFilesPerTrigger`` (micro-batches in deterministic file order) and
the sink is the in-memory table; ``processAllAvailable`` drives the
bounded stream to completion synchronously.
"""

from __future__ import annotations

import contextlib as _contextlib
import glob as _glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession

FIXTURE_ROOT = "/tmp/cheetah_spark_fixtures"


def _tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _ordered_stream_dir(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    order_cols: tuple[str, ...],
    n_files: int,
    dir_name: str,
    transform=None,
    params: str = "",
    helpers: tuple = (),
) -> str:
    """Shared replay-fixture builder: split ``table`` into n ordered
    parquet files with strictly increasing mtimes, cached in the
    derived-fixture store (``transform`` and ``helpers`` are part of
    its key, ``params`` carries constants their source does not spell
    out).

    Admission order is pinned explicitly: FileStreamSource admits files
    sorted by MODIFICATION TIME, and a parallel write finishes its part
    files in arbitrary order — which silently replayed a middle slice
    late, and watermarked operators then DROPPED that slice as late
    data (caught by the s_stream_watermark_late oracle, round 4).
    Renaming to slice order and stamping strictly increasing mtimes
    makes replay order == ``order_cols`` order, deterministically."""
    from cheetah_spark.catalog import ensure_instant_reads, table_path
    from cheetah_spark.derived import derived_dir

    ensure_instant_reads(spark)

    def build(out: str) -> None:
        from pyspark.sql import Window as W
        from pyspark.sql import functions as F

        from cheetah_spark.catalog import load_table

        t = load_table(spark, sf_dir, table)
        if transform is not None:
            t = transform(t)
        (
            # global-order ntile is fine here: bounded test-fixture
            # derivation, not a scale path
            t.withColumn("slice", F.ntile(n_files).over(W.orderBy(*order_cols)))
            .repartitionByRange(n_files, "slice")
            .sortWithinPartitions(*order_cols)
            .drop("slice")
            .write.mode("overwrite")
            .parquet(out)
        )
        base_t = 1_700_000_000
        for i, p in enumerate(sorted(_glob.glob(f"{out}/part-*.parquet"))):
            dst = f"{out}/data-{i:04d}.parquet"
            os.rename(p, dst)
            os.utime(dst, (base_t + i, base_t + i))

    if transform is not None:
        helpers = (transform, *helpers)
    return derived_dir(
        f"{_tag(sf_dir)}/{dir_name}",
        [table_path(sf_dir, table)],
        build,
        f"order:{','.join(order_cols)};{params}",
        helpers,
    )


def events_stream_dir(spark: SparkSession, sf_dir: str, n_files: int = 8) -> str:
    """Events replay feed: file k holds the k-th time-slice so
    event-time advances across micro-batches like a live stream."""
    return _ordered_stream_dir(
        spark, sf_dir, "events", ("ts", "event_id"), n_files, f"events_stream_{n_files}"
    )


def events_replay_chunk(spark: SparkSession, sf_dir: str, windows: int = 4) -> int:
    """Per-trigger admission size for a bounded replay capture derived
    1:1 from the events table: target a FIXED number of offset windows
    at every scale (r13, guide §2 — make admission scale-adaptive).

    A constant chunk size is wrong in both directions: at sf0.01
    (10k events) a 10k constant collapses to a single window — the
    multi-batch seq-window discipline the replay queries exist to
    exercise is silently skipped — while at sf0.1+ it fans into
    dozens of floor-dominated micro-batches (measured: 10 windows
    5.2 s vs 4 windows 3.7 s for s_amqp_replay at sf0.1, min-of-2
    same-session). ``windows=4`` keeps >=2 real offset-window
    boundaries with slack at every SF. In production the equivalent
    knob is maxOffsetsPerTrigger sized to throughput x latency target,
    not a constant.
    """
    from cheetah_spark.catalog import _table_rows

    n = _table_rows(spark, sf_dir, "events")
    return max(1, -(-n // windows))


@_contextlib.contextmanager
def staged_replay(spark: SparkSession, sf_dir: str, prefix: str, src_dir: str):
    """Disposable hard-linked copy of a replay fixture, for queries
    that APPEND to the feed mid-run (watermark-advancing sentinels,
    late re-injections) without touching the shared fixture.

    Yields ``(stage, sentinel, max_ts)``: the stage directory a
    streaming source should read, a ``sentinel(hours)`` factory whose
    thunks append one far-future row (``max_ts + hours``) suitable for
    ``run_stream_to_completion(extra_drains=...)``, and the fixture's
    max event-time for filtering sentinel windows out of the result.
    The stage dir is removed on exit. Extracted from the three
    watermark/session queries that had copy-pasted it (round-6 advice).
    """
    from pyspark.sql import functions as F

    base = spark.read.parquet(src_dir)
    max_ts = base.agg(F.max("ts")).collect()[0][0]
    stage = f"{FIXTURE_ROOT}/{_tag(sf_dir)}/{prefix}_{uuid.uuid4().hex[:8]}"
    os.makedirs(stage, exist_ok=True)

    def sentinel(hours: int):
        def add() -> None:
            (
                base.limit(1)
                .withColumn("ts", F.lit(max_ts) + F.expr(f"INTERVAL {hours} HOURS"))
                .write.mode("append")
                .parquet(stage)
            )

        return add

    try:
        for f in _glob.glob(f"{src_dir}/*.parquet"):
            os.link(f, f"{stage}/{os.path.basename(f)}")
        yield stage, sentinel, max_ts
    finally:
        shutil.rmtree(stage, ignore_errors=True)


_CKPT_ROOT = "/tmp/cheetah_spark_ckpt"


def _drain(spark: SparkSession, prefix: str, writer, trigger=None, extra_drains=()) -> str:
    """Run one bounded stream to completion and return its fresh name.

    ``writer(name)`` returns the DataStreamWriter; this adds a fresh
    checkpoint (a reused one would replay nothing) and the trigger,
    drains, then stops the query, unloads its state-store providers and
    removes the checkpoint. ``extra_drains``: callables run AFTER the
    initial drain, each followed by another full drain — the hook for
    injecting data mid-run (e.g. a watermark-advancing sentinel file)
    with a deterministic batch boundary before and after."""
    name = f"{prefix}_{uuid.uuid4().hex[:12]}"
    ckpt = f"{_CKPT_ROOT}/{name}"
    # bounded conformance runs finish in seconds: push the state-store
    # maintenance cadence out of the way (its snapshot/cleanup passes
    # over providers of already-stopped queries stall later queries
    # sharing the session)
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    w = writer(name).option("checkpointLocation", ckpt)
    if trigger:
        w = w.trigger(**trigger)
    query = w.start()
    try:
        query.processAllAvailable()
        for drain in extra_drains:
            drain()
            query.processAllAvailable()
    finally:
        query.stop()
        try:
            # unload this query's state-store providers from the local
            # JVM so they don't accumulate across a long session
            spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
        except Exception:
            pass  # hygiene only; never fail the query over it
        shutil.rmtree(ckpt, ignore_errors=True)
    return name


def run_stream_to_completion(
    df: DataFrame,
    transform,
    output_mode: str = "append",
    trigger: dict | None = None,
    extra_drains=(),
) -> DataFrame:
    """Start stream → transform → memory sink, drain fully, stop;
    return the sink contents as a batch DataFrame (see ``_drain`` for
    the lifecycle and ``extra_drains``)."""
    spark = df.sparkSession
    name = _drain(
        spark,
        "sink",
        lambda name: transform(df)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode),
        trigger,
        extra_drains,
    )
    return spark.table(name)


def run_stream_to_files(
    df: DataFrame,
    transform,
    output_mode: str = "update",
    trigger: dict | None = None,
) -> DataFrame:
    """Start stream → transform → foreachBatch parquet-append spool,
    drain fully, stop; return the spool as a batch DataFrame.

    The memory-sink variant above pins every emitted row in DRIVER
    memory — fine for bounded conformance rollups, a scale bug for
    update-mode stateful aggregations whose per-batch output is
    state-sized (s_llm_minhash_dedup emits ~|occupied buckets| rows
    per micro-batch: ~12 M rows/batch at the 25× probe, billions at
    100 TB). foreachBatch keeps the emission distributed: executors
    append parquet, the driver holds nothing, and the read-back is a
    normal scan (also measured mildly faster at 25× — the driver
    ingest was pure overhead)."""
    spark = df.sparkSession
    out = transform(df)
    schema = out.schema

    def writer(name: str):
        def append_batch(batch: DataFrame, _epoch: int) -> None:
            batch.write.mode("append").parquet(f"{_CKPT_ROOT}/{name}_files")

        return out.writeStream.foreachBatch(append_batch).outputMode(output_mode)

    out_dir = f"{_CKPT_ROOT}/{_drain(spark, 'spool', writer, trigger)}_files"
    if not os.path.isdir(out_dir):  # zero-batch stream: nothing spooled
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(out_dir)


def run_stream_batch_partials(
    df: DataFrame,
    batch_transform,
    trigger: dict | None = None,
) -> DataFrame:
    """Start stream → foreachBatch(batch_transform → parquet-append
    spool), drain fully, stop; return the spool as a batch DataFrame.

    Unlike :func:`run_stream_to_files` (whose transform runs on the
    STREAMING frame and must be streaming-legal), ``batch_transform``
    here runs INSIDE foreachBatch on each micro-batch's BATCH frame —
    multi-level aggregations, exact distincts, and whole-stage-codegen
    projections are all available, and there is ZERO streaming state.
    This is the micro-batch-partials production pattern: each trigger
    reduces its admitted rows to a bounded partial (a monoid element —
    per-key counts/sums/mins), the spool accumulates partials, and the
    caller's final rollup merges them. Correct whenever the unit of
    aggregation (e.g. a document) never spans micro-batches and the
    final rollup is the partials' monoid merge."""
    spark = df.sparkSession
    schema_holder = {}

    def writer(name: str):
        def append_batch(batch: DataFrame, _epoch: int) -> None:
            out = batch_transform(batch)
            schema_holder.setdefault("schema", out.schema)
            out.write.mode("append").parquet(f"{_CKPT_ROOT}/{name}_files")

        return df.writeStream.foreachBatch(append_batch)

    out_dir = f"{_CKPT_ROOT}/{_drain(spark, 'spool', writer, trigger)}_files"
    if "schema" not in schema_holder or not os.path.isdir(out_dir):
        # zero-batch stream: derive the partial schema from an empty cut
        empty = batch_transform(spark.createDataFrame([], df.schema))
        return spark.createDataFrame([], empty.schema)
    return spark.read.schema(schema_holder["schema"]).parquet(out_dir)


def documents_stream_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Documents replay feed for streaming curation operators: file k
    holds the k-th doc_id slice, so replay (= arrival) order IS doc_id
    order — which lets a SQL oracle express arrival-order semantics
    ("flag the later arrival") as doc_id comparisons."""
    return _ordered_stream_dir(
        spark, sf_dir, "documents", ("doc_id",), n_files, f"documents_stream_{n_files}"
    )


def embeddings_raw_stream_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """UNaugmented embeddings replay feed (the table as-is, vec_id
    slice per file): for streaming operators whose oracle reads the
    `embeddings` table verbatim (s_llm_embed_pca) — the dedup feed
    above plants perturbed copies and would shift every moment."""
    return _ordered_stream_dir(
        spark, sf_dir, "embeddings", ("vec_id",), n_files,
        f"embeddings_raw_stream_{n_files}",
    )


def embeddings_stream_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Embeddings replay feed, augmented with the SAME deterministic
    perturbed copies as q_llm_embed_dedup (vec_id + offset, component 1
    shifted +0.25). Replay order is vec_id order, so every perturbed
    copy arrives AFTER its original — arrival-order dedup semantics
    ("flag the later near-duplicate") stay SQL-expressible as vec_id
    comparisons. The vector is materialized as array<double> ``v`` so
    both engines read identical doubles."""
    from pyspark.sql import functions as F

    from cheetah_spark.queries.llm import _ED_DIM, _ED_PERT_MOD, _ED_PERT_OFFSET

    def plant(e):
        v = F.col("embedding").cast("array<double>")
        base = e.select("vec_id", v.alias("v"))
        pert = e.where(F.col("vec_id") % _ED_PERT_MOD == 0).select(
            (F.col("vec_id") + _ED_PERT_OFFSET).alias("vec_id"),
            F.concat(
                F.array(F.element_at(v, 1) + F.lit(0.25)), F.slice(v, 2, _ED_DIM - 1)
            ).alias("v"),
        )
        return base.unionByName(pert)

    return _ordered_stream_dir(
        spark,
        sf_dir,
        "embeddings",
        ("vec_id",),
        n_files,
        f"embeddings_stream_{n_files}",
        transform=plant,
        params=f"mod:{_ED_PERT_MOD};offset:{_ED_PERT_OFFSET};dim:{_ED_DIM}",
    )
