"""Declarative pipeline configuration — the daemon entry point.

The reference's primary user surface is a JSON config of type-tagged
source/destination blocks wired into a processor by the kawad daemon
(reference README.md:164-299, cmd/kawad). This module is that surface
re-expressed Spark-first: ``pipeline_from_config`` turns

    {"source":     {"type": "parquet", "path": ..., "streaming": true},
     "transforms": [{"type": "filter", "expr": "value > 0"},
                    {"type": "sql", "query": "SELECT ... FROM __input__"}],
     "sink":       {"type": "ndjson_gzip", "path": ...}}

into a :class:`~cheetah_spark.pipeline.Pipeline`. The ``type`` tag
selects the adapter class; every other key is passed through as the
adapter's constructor field (the reference marshals config blocks into
typed option structs the same way).

Transforms are the Handler chain (reference types.go:122-135): filter,
projection (map), explode (1→N) and an escape-hatch ``sql`` transform
that registers the input as a temp view — which makes the whole SQL
operator surface reachable from config, something the reference (no
query language) cannot do.
"""

from __future__ import annotations

import importlib
import json
from typing import Any, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cheetah_spark.pipeline import Handler, Pipeline
from cheetah_spark.sinks import (
    BatcherSink,
    ConsoleSink,
    MemorySink,
    MqttReplaySink,
    MultiSink,
    NdjsonGzipSink,
    Sink,
    WebhookSink,
)
from cheetah_spark.sources import (
    CsvSource,
    JsonSource,
    MemorySource,
    MqttReplaySource,
    MultiSource,
    ParquetSource,
    RateSource,
    Source,
    TextScannerSource,
)

# line_dedup's inline-literal ceiling (ADVICE r12): a boilerplate set
# of at most this many lines is stripped by a literal IN-list (an InSet
# membership test per line, a plan with zero Python in it); a larger one
# by the Arrow broadcast-set strip, which covers any cardinality, batch
# or streaming. The literal list inflates every plan/serialize cycle.
# Measured warm on local[4]: ≤2k literals ≈ free (+0.05 s/action), 10k
# ≈ +6 s, 20k ≈ +11 s, 100k ≈ +60 s; 2k stays well inside the flat
# region.
INLINE_BOILER_LINES = 2_000

# The reference config spells these camelCase (README.md:210-216);
# accept both spellings.
_MQTT_KEY_ALIASES = {
    "clientID": "client_id",
    "userName": "username",
    "keepAlive": "keep_alive",
    "contentType": "content_type",
    "webhookURL": "webhook_url",
    "batchSize": "batch_size",
    "maxRetries": "max_retries",
    # kafka (wishlist connector, README.md:301-311) — kawad-style
    # camelCase keys for the Spark Kafka integration's options
    "bootstrapServers": "bootstrap_servers",
    "groupID": "group_id",
    "topicPattern": "topic_pattern",
    "startingOffsets": "starting_offsets",
    "capturePath": "capture_path",
    # redis (wishlist #2): camelCase keys for the RESP connector
    "startID": "start_id",
    "pollMs": "poll_ms",
    # nats (wishlist #3): camelCase keys for the NATS connector
    "chunkSize": "chunk_size",
    # sqlite (r10): camelCase keys for the relational-store pull
    "numPartitions": "num_partitions",
    "partitionColumn": "partition_col",
    "replyTo": "reply_to",
    # amqp (wishlist #4): camelCase keys for the AMQP 0-9-1 connector
    "exchangeType": "exchange_type",
    "bindingKey": "binding_key",
    "routingKey": "routing_key",
    # pubsub (wishlist #5): camelCase keys for the REST connector
    "maxMessages": "max_messages",
    # kinesis (wishlist #6): camelCase keys for the Kinesis connector
    "maxRecords": "max_records",
    "shardCount": "shard_count",
    "streamName": "stream",
}


def _alias(kw):
    return {_MQTT_KEY_ALIASES.get(k, k): v for k, v in kw.items()}


# Config types whose adapter lives in a module imported on first use
# only: the live transports' modules (and the paho/win32 gates behind
# them) stay out of import time. Every entry takes the camelCase keys.
_LAZY_SOURCES = {
    # reference kawad config types (README.md:168-237): paho / win32 /
    # journalctl in production, {"transport": "replay"} in the sandbox
    "mqtt": "cheetah_spark.sources.mqtt_live:MqttLiveSource",
    "eventlog": "cheetah_spark.sources.eventlog_live:EventLogLiveSource",
    "syslog": "cheetah_spark.sources.syslog_live:SyslogSource",
    "journald": "cheetah_spark.sources.journald_live:JournaldSource",
    # the reference wishlist (README.md:301-311) over public protocols
    "kafka": "cheetah_spark.sources.kafka:KafkaSource",
    "redis": "cheetah_spark.sources.redis_live:RedisSource",
    "nats": "cheetah_spark.sources.nats_live:NatsSource",
    "amqp": "cheetah_spark.sources.amqp_live:AmqpSource",
    "pubsub": "cheetah_spark.sources.pubsub_live:PubSubSource",
    "kinesis": "cheetah_spark.sources.kinesis_live:KinesisSource",
    "nsq": "cheetah_spark.sources.nsq_live:NsqSource",
    "memcache": "cheetah_spark.sources.memcache_live:MemcacheSource",
    "zmq": "cheetah_spark.sources.zmq_live:ZmqSource",
    # beyond parity (r10): JDBC-style partitioned pull from SQLite
    "sqlite": "cheetah_spark.sources.sqlite_local:SqliteSource",
}
_LAZY_SINKS = {
    "mqtt": "cheetah_spark.sources.mqtt_live:MqttLiveSink",
    "kafka": "cheetah_spark.sources.kafka:KafkaSink",
    "redis": "cheetah_spark.sources.redis_live:RedisStreamSink",
    "nats": "cheetah_spark.sources.nats_live:NatsSink",
    "amqp": "cheetah_spark.sources.amqp_live:AmqpSink",
    "pubsub": "cheetah_spark.sources.pubsub_live:PubSubSink",
    "kinesis": "cheetah_spark.sources.kinesis_live:KinesisSink",
    "nsq": "cheetah_spark.sources.nsq_live:NsqSink",
    "memcache": "cheetah_spark.sources.memcache_live:MemcacheSink",
    "zmq": "cheetah_spark.sources.zmq_live:ZmqSink",
}


def _lazy_class(spec: str):
    module, _, name = spec.partition(":")
    return getattr(importlib.import_module(module), name)


# reference kawad s3 destination (README.md:254-269): bucketName is the
# only required key; bucketRegion / customEndpoint / batchSize /
# accessKeyID / secretAccessKey are optional. The engine sink is
# path-addressed, so bucketName(+keyPrefix) becomes an s3a:// path.
_S3_KEY_ALIASES = {
    "bucketRegion": "bucket_region",
    "customEndpoint": "custom_endpoint",
    "accessKeyID": "access_key_id",
    "secretAccessKey": "secret_access_key",
    "batchSize": "batch_size",
}


def _s3_sink(**kw):
    bucket = kw.pop("bucketName", None) or kw.pop("bucket_name", None)
    if not bucket:
        raise ValueError("s3 sink: bucketName is required (README.md:258)")
    prefix = kw.pop("keyPrefix", None) or kw.pop("key_prefix", None)
    path = f"s3a://{bucket}" + (f"/{str(prefix).strip('/')}" if prefix else "")
    kw = {_S3_KEY_ALIASES.get(k, k): v for k, v in kw.items()}
    return NdjsonGzipSink(path=path, **kw)


_SOURCE_TYPES = {
    "parquet": ParquetSource,
    "json": JsonSource,
    "csv": CsvSource,
    "text": TextScannerSource,
    # reference kawad README.md:188-196: {"type":"scanner"} reads
    # STDIN (spooled driver-side — see TextScannerSource); with a
    # "path" key it is the delimiter-split file scan (S2)
    "scanner": TextScannerSource,
    "rate": RateSource,
    "memory": MemorySource,
    "mqtt_replay": MqttReplaySource,
}

_SINK_TYPES = {
    "console": ConsoleSink,
    # reference kawad README.md:271-278: {"type":"printer"} → stdout
    "printer": ConsoleSink,
    "memory": MemorySink,
    "ndjson_gzip": NdjsonGzipSink,
    # reference kawad README.md:254-269: bucketName/bucketRegion/
    # customEndpoint/batchSize camelCase keys → the partitioned
    # gzip-NDJSON sink on an s3a:// path
    "s3": _s3_sink,
    "mqtt_replay": MqttReplaySink,
    # reference kawad README.md:244-250: {"type":"runreveal",
    # "webhookURL":...} — an HTTP NDJSON webhook destination,
    # generalized; "webhook" is the engine-native spelling
    "runreveal": WebhookSink,
    "webhook": WebhookSink,
}


def build_source(cfg: Mapping[str, Any]) -> Source:
    cfg = dict(cfg)
    kind = cfg.pop("type")
    if kind == "multi":  # fan-in (reference MultiSource S6)
        return MultiSource(sources=[build_source(c) for c in cfg.pop("sources")])
    if kind in _LAZY_SOURCES:
        return _lazy_class(_LAZY_SOURCES[kind])(**_alias(cfg))
    try:
        cls = _SOURCE_TYPES[kind]
    except KeyError:
        raise ValueError(f"unknown source type: {kind!r}") from None
    return cls(**cfg)


def build_sink(cfg: Mapping[str, Any]) -> Sink:
    cfg = dict(cfg)
    kind = cfg.pop("type")
    if kind == "multi":  # fan-out (reference MultiDestination D5)
        return MultiSink(sinks=[build_sink(c) for c in cfg.pop("sinks")], **cfg)
    if kind == "batcher":
        # the reference batcher WRAPS a destination (batcher.go:58-96):
        # config nests the inner sink under "flush"
        inner = build_sink(cfg.pop("flush"))
        return BatcherSink(flush=lambda batch, epoch: inner.write(batch), **cfg)
    if kind in _LAZY_SINKS:
        return _lazy_class(_LAZY_SINKS[kind])(**_alias(cfg))
    try:
        cls = _SINK_TYPES[kind]
    except KeyError:
        raise ValueError(f"unknown sink type: {kind!r}") from None
    return cls(**_alias(cfg))


def build_transform(cfg: Mapping[str, Any]) -> Handler:
    kind = cfg["type"]
    if kind == "filter":
        expr = cfg["expr"]
        return lambda df: df.filter(expr)
    if kind == "select":
        cols = list(cfg["columns"])
        return lambda df: df.selectExpr(*cols)
    if kind == "with_column":
        name, expr = cfg["name"], cfg["expr"]
        return lambda df: df.withColumn(name, F.expr(expr))
    if kind == "drop":
        cols = list(cfg["columns"])
        return lambda df: df.drop(*cols)
    if kind == "explode":  # 1→N (reference Handler fan-out)
        col = cfg["column"]
        alias = cfg.get("alias", col)
        return lambda df: df.withColumn(alias, F.explode(F.col(col)))
    if kind == "repartition":
        # declarative parallelism binding: fan the (micro-)batch out to
        # `n` partitions (default: the cluster's defaultParallelism)
        # before compute-heavy transforms. A file-stream micro-batch
        # carries one scan partition per admitted file, so without this
        # a heavy map chain runs on #files cores regardless of cluster
        # width (measured on s_config_curation at the 25× probe —
        # see SCALE.md, r9). Optional `columns` hash-partitions by key
        # instead of round-robin (pre-shuffling for a downstream agg).
        n = cfg.get("n")
        cols = list(cfg.get("columns", []))

        def fan_out(df: DataFrame) -> DataFrame:
            num = int(n) if n is not None else df.sparkSession.sparkContext.defaultParallelism
            return df.repartition(num, *cols) if cols else df.repartition(num)

        return fan_out
    if kind == "sql":
        query = cfg["query"]
        view = cfg.get("view", "__input__")

        def run_sql(df: DataFrame) -> DataFrame:
            df.createOrReplaceTempView(view)
            return df.sparkSession.sql(query)

        return run_sql
    # --- curation transforms: declarative bindings to the verified
    # LLM-pipeline expressions (quality gate, PII redaction, MinHash
    # signature, token counting, content fingerprint) so a kawad-style
    # JSON config can assemble a training-data curation pipeline, batch
    # or streaming (every binding is a map-only column expression) ---
    if kind == "quality_score":
        col = cfg.get("column", "text")
        name = cfg.get("as", "quality")
        threshold = cfg.get("threshold")

        def add_quality(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.llm import quality_score_expr

            out = df.withColumn(name, quality_score_expr(F.col(col)))
            return out.where(F.col(name) >= threshold) if threshold is not None else out

        return add_quality
    if kind == "pii_redact":
        col = cfg.get("column", "text")

        def redact(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.curation import pii_redact_expr

            return df.withColumn(col, pii_redact_expr(F.col(col)))

        return redact
    if kind == "minhash_sig":
        col = cfg.get("column", "text")
        name = cfg.get("as", "sig")

        def add_sig(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.llm import minhash_sig_expr

            return df.withColumn(name, minhash_sig_expr(F.col(col)))

        return add_sig
    if kind == "token_count":
        col = cfg.get("column", "text")
        name = cfg.get("as", "n_tokens")

        def add_tokens(df: DataFrame) -> DataFrame:
            from cheetah_spark.functions import text as X

            return df.withColumn(name, F.size(X.tokens(F.col(col))).cast("bigint"))

        return add_tokens
    if kind == "stratified_sample":
        id_col = cfg.get("id", "doc_id")
        stratum = cfg.get("stratum", "lang")
        rates = {k: int(v) for k, v in cfg.get("rates", {}).items()}
        default = int(cfg.get("default", 0))
        seed = cfg.get("seed", "sample:")

        def keep_sample(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.curation import sample_keep_expr

            return df.where(
                sample_keep_expr(F.col(id_col), F.col(stratum), rates, default, seed)
            )

        return keep_sample
    if kind == "content_fp":
        col = cfg.get("column", "text")
        name = cfg.get("as", "content_fp")

        def add_fp(df: DataFrame) -> DataFrame:
            from cheetah_spark.functions.text import norm_text

            return df.withColumn(name, F.md5(norm_text(F.col(col))))

        return add_fp
    if kind == "dedup_recall_eval":
        # the recall monitor's cost knob (r10 verdict item #6): panel =
        # target query-panel size; the stride grows with the corpus so
        # the eval's cost stays ~O(panel x postings) at any scale. The
        # registered query keeps the pinned default so the oracle hash
        # gate never moves; configs dial the budget per run.
        panel = cfg.get("panel")

        def run_recall_eval(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.llm import _EVAL_PANEL, dedup_recall_eval_frame

            if df.isStreaming:
                raise ValueError(
                    "dedup_recall_eval transform is batch-only: it sizes the "
                    "query panel by materializing the corpus (count/persist), "
                    "which a streaming source frame cannot do — run it over "
                    "the landed table instead"
                )
            return dedup_recall_eval_frame(
                df, panel=int(panel) if panel is not None else _EVAL_PANEL
            )

        return run_recall_eval
    # --- r12: the FineWeb-style curation stack as declarative types —
    # URL dedup → quality batteries (Gopher / C4) → line dedup chain
    # from JSON alone, batch or streaming ---
    if kind == "url_dedup":
        url_col = cfg.get("url", "url")
        id_col = cfg.get("id", "doc_id")
        # optional state aging (streaming only): a canonical URL not
        # re-seen within ttl_seconds of PROCESSING time is evicted, so
        # a later re-fetch starts a fresh keep-window — the unbounded-
        # ingest knob (|state| ~ the TTL horizon's working set, not
        # all-time |pages|). The registered s_llm_url_dedup carries the
        # event-time variant (curation.url_dedup_live_state); configs
        # have no event-time column contract, so processing time is
        # the declarative binding.
        ttl_seconds = cfg.get("ttl_seconds")
        # The state operator's declared output mode. "update" (default)
        # composes with stateless stages and an update-mode sink — the
        # v1 chains. "append" declares each emission FINAL (true here:
        # first_fetch emits a key's row exactly once and never again),
        # which is what the micro-batch planner requires to accept a
        # DOWNSTREAM streaming aggregation (the minhash_dedup stage):
        # update-mode fmgws + agg is rejected outright, and append-mode
        # fmgws without an agg demands an append-mode sink — so the
        # mode must match the chain, and the config declares the chain.
        state_mode = cfg.get("state_output_mode", "update")

        def keep_canonical(df: DataFrame) -> DataFrame:
            from pyspark.sql.window import Window

            from cheetah_spark.queries.curation import _canonical_url_expr

            d = df.withColumn("__curl", _canonical_url_expr(url_col))
            if df.isStreaming:
                # at-ingest: keyed state per canonical URL, the first
                # batch containing a URL emits its MIN-id row and later
                # fetches are dropped. DETERMINISTIC (unlike a
                # dropDuplicates formulation, whose within-batch winner
                # is engine-chosen): under the id-ordered replay
                # contract this equals the batch keep-min exactly, so
                # the streaming chain is hash-gateable. State is one
                # counter per live page.
                import pandas as pd

                from pyspark.sql.streaming.state import GroupStateTimeout

                out_fields = ", ".join(
                    f"`{f.name}` {f.dataType.simpleString()}"
                    for f in df.schema.fields
                )

                ttl_ms = None if ttl_seconds is None else int(ttl_seconds) * 1000

                def first_fetch(key, pdfs, state):
                    if state.hasTimedOut:
                        # cold URL aged out: drop state; a later
                        # re-fetch starts a fresh keep-window
                        state.remove()
                        return
                    # per-key per-batch body at URL-keyspace call rates
                    # (~|batch| keys/trigger): single-chunk fast path +
                    # argmin row take instead of concat + nsmallest
                    # (guide §4.2 — pandas frame ops cost ~1 ms/key)
                    chunks = list(pdfs)
                    rows = (
                        chunks[0]
                        if len(chunks) == 1
                        else pd.concat(chunks, ignore_index=True)
                    )
                    if state.exists:
                        (n,) = state.get
                        state.update((n + len(rows),))
                    else:
                        state.update((len(rows),))
                        i = int(rows[id_col].to_numpy().argmin())
                        yield rows.iloc[[i]].drop(columns=["__curl"])
                    if ttl_ms is not None:
                        state.setTimeoutDuration(ttl_ms)

                return d.groupBy("__curl").applyInPandasWithState(
                    first_fetch,
                    outputStructType=out_fields,
                    stateStructType="n long",
                    outputMode=state_mode,
                    timeoutConf=(
                        GroupStateTimeout.NoTimeout
                        if ttl_ms is None
                        else GroupStateTimeout.ProcessingTimeTimeout
                    ),
                )
            w = Window.partitionBy("__curl").orderBy(F.col(id_col).asc())
            return (
                d.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .drop("__rn", "__curl")
            )

        return keep_canonical
    if kind == "gopher_rules":
        col = cfg.get("column", "text")
        mode = cfg.get("mode", "filter")
        # optional rule subset — production curation tunes the battery
        # per corpus (FineWeb drops/retunes individual Gopher rules)
        subset = cfg.get("rules")

        def gopher(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.curation import (
                gopher_feat_exprs,
                gopher_rule_sql,
            )

            rules = gopher_rule_sql(gopher_feat_exprs(col))
            if subset is not None:
                unknown = set(subset) - set(rules)
                if unknown:
                    raise ValueError(
                        f"gopher_rules: unknown rule(s) {sorted(unknown)}; "
                        f"valid: {sorted(rules)}"
                    )
                rules = {k: rules[k] for k in subset}
            if mode == "annotate":
                return df.selectExpr("*", *[f"{v} AS r_{k}" for k, v in rules.items()])
            return df.where(F.expr(f"NOT ({' OR '.join(rules.values())})"))

        return gopher
    if kind == "c4_rules":
        col = cfg.get("column", "text")

        def c4_clean(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.curation import c4_page_exprs

            kept_text, page_drop = c4_page_exprs(F.col(col))
            return df.where(~page_drop).withColumn(col, kept_text)

        return c4_clean
    if kind == "line_dedup":
        col = cfg.get("column", "text")
        id_col = cfg.get("id", "doc_id")
        min_docs = int(cfg.get("min_docs", 2))
        corpus_path = cfg.get("from")

        # The boilerplate set is compiled once per corpus version: a
        # local `from` corpus is immutable between rewrites, so the set
        # is held in the derived store's per-process memo, keyed on the
        # (mtime_ns, size) of its files. A hit reads nothing and starts
        # no job; a rewritten corpus recompiles. A `from` URI, or a
        # strip over `df` itself, compiles on every build.
        def strip_boilerplate(df: DataFrame) -> DataFrame:
            from cheetah_spark.derived import source_memo
            from cheetah_spark.functions import text as X
            from cheetah_spark.queries.curation import boiler_line_set

            spark = df.sparkSession
            if corpus_path is not None:
                boiler = source_memo(
                    ("line_dedup", corpus_path, col, id_col, min_docs),
                    corpus_path,
                    lambda: tuple(sorted(boiler_line_set(
                        spark.read.parquet(corpus_path), col, id_col, min_docs
                    ))),
                )
            elif df.isStreaming:
                raise ValueError(
                    "line_dedup transform on a streaming source needs "
                    "'from': a static corpus path to compile the "
                    "boilerplate set (corpus-level line frequencies "
                    "cannot be derived from a stream's own micro-"
                    "batches) — the s_llm_line_dedup offline-compile "
                    "discipline"
                )
            else:
                boiler = sorted(boiler_line_set(df, col, id_col, min_docs))
            if len(boiler) <= INLINE_BOILER_LINES:
                # small set: a literal IN-list Catalyst filter keeps the
                # whole strip JVM-side — zero Python in the plan (the
                # q_config_fineweb plan test pins it). `IN (...)` folds to
                # InSet (hash set) above the OptimizeIn threshold, so
                # the per-line test is O(1), not an O(|boiler|) scan.
                keep = "x != ''"
                if boiler:
                    keep += f" AND NOT x IN ({', '.join(map(X.sql_str, boiler))})"
                return df.withColumn(col, F.expr(
                    rf"array_join(filter(split({X.sql_of(col)}, '\n'), x -> {keep}), '\n')"
                ))
            # large set: Arrow-batched strip against a broadcast set —
            # the plan-literal would bloat the physical plan at real
            # boilerplate cardinalities. A row-preserving mapInArrow,
            # not a scalar pandas_udf: ArrowEvalPython casts its input
            # rows to UnsafeRow, which fails (ClassCastException)
            # below the keyed-state url_dedup in a streaming plan.
            bset = spark.sparkContext.broadcast(frozenset(boiler))
            i = df.columns.index(col)

            def strip(batches):
                import pyarrow as pa

                bs = bset.value
                for rb in batches:
                    text = rb.column(i)
                    kept = [
                        None if t is None else "\n".join(
                            ln for ln in t.split("\n") if ln and ln not in bs
                        )
                        for t in text.to_pylist()
                    ]
                    yield rb.set_column(i, col, pa.array(kept, text.type))

            return df.mapInArrow(strip, df.schema)

        return strip_boilerplate
    if kind == "minhash_dedup":
        col = cfg.get("column", "text")
        id_col = cfg.get("id", "doc_id")
        carry = cfg.get("carry")

        def near_dedup(df: DataFrame) -> DataFrame:
            from cheetah_spark.functions import text as X
            from cheetah_spark.queries.llm import (
                _MH_BANDS,
                minhash_bands,
                minhash_bucket_sql,
                minhash_sig_expr,
                minhash_sigs_arrow,
            )

            i = X.sql_of(id_col)

            if not df.isStreaming:
                # batch: drop every doc colliding in >=1 LSH band with
                # an earlier (lower-id) doc — keep-one-per-near-dup-
                # cluster, the FineWeb MinHash stage. Banded bucket
                # keys are the family's shared expression, so cost is
                # one (band, bucket) shuffle + a bucket-min + an
                # anti-join: O(corpus), never O(pairs). Shingle-less
                # docs get no signature row (no near-dup identity), so
                # they never enter the banding and are kept.
                banded = minhash_bands(
                    minhash_sigs_arrow(df, id_col=id_col, text_col=col), id_col
                )
                # bucket-min as a WINDOW over the one (band, bucket)
                # shuffle — not an agg + self-join, which would evaluate
                # the Arrow signature stage twice (the banded subtree
                # feeds both join sides; plan-pinned single MapInArrow)
                flagged = (
                    banded.selectExpr(i, f"min({i}) OVER (PARTITION BY b, bucket) AS __win_id")
                    .where(f"{i} > __win_id")
                    .select(id_col)
                    .distinct()
                )
                return df.join(flagged, id_col, "left_anti")
            # streaming: the s_llm_minhash_dedup state discipline — ONE
            # JVM streaming aggregation carrying, per occupied (band,
            # bucket), the MIN (id, carry…) struct ever seen (id leads,
            # so struct order == arrival-id order). The frame this
            # returns is the RUNNING bucket-win state in update mode;
            # drain it to a spool and resolve survivors post-stream
            # with queries.llm.resolve_minhash_survivors (a doc
            # survives iff it holds the final min of all _MH_BANDS of
            # its buckets). State is O(occupied buckets) x a slim
            # struct — `carry` names the columns that ride along
            # (default: everything but the text column; list only what
            # the rollup needs, the text itself NEVER belongs in the
            # state store). The sig is the map-only minhash_sig_expr:
            # a scalar Python UDF here is inlined into the banding
            # explode once the projections collapse, and codegen
            # rejects it (a row-preserving mapInArrow would compose,
            # as the line_dedup strip does). An upstream
            # url_dedup stage must declare state_output_mode="append"
            # (the planner rejects update-mode fmgws ahead of an
            # aggregation).
            ride = (
                list(carry)
                if carry is not None
                else [c for c in df.columns if c not in (id_col, col)]
            )
            win = ", ".join([i, *map(X.sql_of, ride)])
            withsig = df.select(
                F.expr(f"struct({win}) AS win"), minhash_sig_expr(F.col(col)).alias("sig")
            )
            banded = withsig.selectExpr(
                "win",
                "explode(CASE WHEN sig IS NOT NULL"
                f" THEN sequence(0, {_MH_BANDS - 1}) ELSE array(-1) END) AS b",
                "sig",
            ).selectExpr(
                "win",
                "b",
                f"CASE WHEN b >= 0 THEN {minhash_bucket_sql('sig', 'b')}"
                f" ELSE CAST(win.{i} AS STRING) END AS bucket",
            )
            return banded.groupBy("b", "bucket").agg(F.min("win").alias("win"))

        return near_dedup
    if kind == "decontaminate":
        col = cfg.get("column", "text")
        eval_from = cfg.get("from")
        if eval_from is None:
            raise ValueError(
                "decontaminate transform needs 'from': a static eval/benchmark "
                "corpus path whose shingles define the contamination set (the "
                "offline-compile discipline — a benchmark drop recompiles the "
                "filter; the train corpus is never rescanned)"
            )
        eval_col = cfg.get("eval_column", col)
        ngram = int(cfg.get("ngram", 3))
        mode = cfg.get("mode", "filter")
        name = cfg.get("as", "contaminated")

        # The filter is compiled once per eval-corpus version, the
        # line_dedup rule: a local `from` corpus is held in the derived
        # store's per-process memo under the (mtime_ns, size) of its
        # files, so a rebuild starts no job; a rewritten corpus
        # recompiles. A URI `from` compiles on every build.
        def decontaminate(df: DataFrame) -> DataFrame:
            from cheetah_spark.derived import source_memo
            from cheetah_spark.functions import text as X
            from cheetah_spark.queries import curation as C
            from cheetah_spark.queries.streams import bloom_shingle_hit

            spark = df.sparkSession

            def compile_words() -> list:
                # offline compile: eval shingles -> k bit positions ->
                # OR into m/32 words (curation.bloom_words, the
                # q_llm_bloom_decontaminate build), collected and
                # DENSIFIED driver-side — the filter is constant memory
                # (m = 2^18 bits = 64 KiB of words) regardless of
                # eval-set size, the bounded-driver-state class.
                words = [0] * (C._BLOOM_M // 32)
                for r in C.bloom_words(spark.read.parquet(eval_from), eval_col, ngram).collect():
                    words[int(r.word_idx)] = int(r.word)
                return words

            words = source_memo(
                ("decontaminate", eval_from, eval_col, ngram), eval_from, compile_words
            )
            # ONE array literal (a single Catalyst constant, not 8k
            # child nodes): the probe is pure per-row expression —
            # zero joins, zero Python — so it composes anywhere a map
            # stage does, including downstream of a keyed-state stage
            # in one streaming plan (the line_dedup inline discipline).
            wlit = F.lit(words)
            shl = F.array_distinct(X.shingles(X.tokens(F.col(col)), ngram))
            hit = F.exists(shl, lambda s: bloom_shingle_hit(s, wlit))
            contaminated = F.coalesce(hit, F.lit(False))
            if mode == "annotate":
                return df.withColumn(name, contaminated)
            return df.where(~contaminated)

        return decontaminate
    if kind == "ann_enrich":
        emb_col = cfg.get("embedding", "embedding")
        id_col = cfg.get("id", "vec_id")
        index_path = cfg.get("index")
        if index_path is None:
            raise ValueError(
                "ann_enrich transform needs 'index': a static reference-corpus "
                "parquet path (id + embedding columns) to build the IVF index "
                "from — the offline index-build discipline"
            )
        index_id = cfg.get("index_id", id_col)
        index_emb = cfg.get("index_embedding", emb_col)
        k = int(cfg.get("k", 5))
        nlists_cfg = cfg.get("nlists")
        nprobe = int(cfg.get("nprobe", 4))
        name = cfg.get("as", "neighbors")

        # (n_lists, centroid panel) is compiled once per index-corpus
        # version, the line_dedup rule: a local `index` is held in the
        # derived store's per-process memo under the (mtime_ns, size) of
        # its files, so a rebuild runs neither the sizing count nor the
        # centroid collect; a rewritten corpus recompiles. A URI
        # `index` compiles on every build.
        def enrich(df: DataFrame) -> DataFrame:
            import hashlib

            from cheetah_spark.derived import source_memo
            from cheetah_spark.queries.llm import (
                _ivf_index_core,
                _seed_panel,
                _topk_array,
                ivf_assign_fn,
                ivf_probe_expand,
                ivf_probe_topk,
                ivf_rerank,
            )

            spark = df.sparkSession

            def ref() -> DataFrame:
                return spark.read.parquet(index_path).select(
                    F.col(index_id).alias("vec_id"), F.col(index_emb).alias("embedding")
                )

            def panel():
                r = ref()
                # nlists ~ sqrt(n) is the standard IVF sizing (measured
                # in SCALE.md: it keeps per-probe index bytes flat)
                n = int(nlists_cfg) if nlists_cfg else max(16, int(r.count() ** 0.5))
                return n, _seed_panel(r, n)

            n_lists, C = source_memo(
                ("ann_enrich", index_path, index_id, index_emb, nlists_cfg), index_path, panel
            )
            store_name = (
                "ann_index/"
                f"{hashlib.sha256(index_path.encode()).hexdigest()[:12]}_{n_lists}"
            )
            index_dir = _ivf_index_core(
                spark, ref(), ivf_assign_fn(C), n_lists, index_path, store_name,
                params=f"id:{index_id};embedding:{index_emb}",
            )
            queries = df.select(
                F.col(id_col).alias("vec_id"), F.col(emb_col).alias("embedding")
            )
            if not df.isStreaming:
                # whole-table enrich: the query side is corpus-sized, so
                # it SHUFFLE-joins the pruned index (broadcasting it
                # would ship the corpus); top-k rows fold to one array
                # column and join back on the id
                topk = ivf_probe_topk(
                    spark, index_dir, C, queries, k, nprobe,
                    broadcast_queries=False,
                )
                packed = _topk_array(topk, k, name)
                return df.join(
                    packed.withColumnRenamed("query_id", id_col), id_col, "left"
                )
            # streaming: lookup-at-the-door as ONE lazy plan — probe
            # expansion is a stateless mapInPandas, the index attaches
            # via a STREAM-STATIC join on cid (no per-trigger driver
            # work, so it stays a pure df->df transform; the eager
            # pruned-scan variant is the foreachBatch discipline
            # s_llm_ann_ivf ships), and per-query top-k folds in an
            # update-mode aggregation — each query arrives in exactly
            # one trigger, so its row emits once, complete and final.
            cand = ivf_rerank(
                ivf_probe_expand(C, nprobe, queries),
                spark.read.parquet(index_dir),
                int(C.shape[1]),
                broadcast_queries=False,
            )
            return _topk_array(cand, k, name).withColumnRenamed("query_id", id_col)

        return enrich
    # --- r13: security detections as declarative stages — the
    # reference is a security event-pipeline daemon (SURVEY §1), so
    # "detections from JSON" is exactly the deployment shape its users
    # run; each type binds the registered q/s_sec_* operator's
    # single-definition composition (queries/security.py), so a
    # config-declared detection is hash-gated by the same oracle ---
    if kind == "brute_force":
        bf_knobs = {
            k: cfg[k] for k in ("min_run", "fail", "success") if k in cfg
        }
        if "min_run" in bf_knobs:
            bf_knobs["min_run"] = int(bf_knobs["min_run"])
            if bf_knobs["min_run"] < 1:
                # below 1 the batch HAVING and the streaming fold's
                # gap accounting diverge (a zero-length "run" between
                # adjacent closers has no batch counterpart)
                raise ValueError("brute_force: min_run must be >= 1")

        def detect_brute_force(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.security import (
                brute_force_report,
                brute_force_state_stage,
            )

            if df.isStreaming:
                # keyed run-length state; update-mode monotone report
                # emissions — the chain's consumer resolves with
                # security.resolve_brute_force post-drain
                return brute_force_state_stage(df, **bf_knobs)
            return brute_force_report(df, **bf_knobs)

        return detect_brute_force
    if kind == "port_scan":

        def detect_port_scan(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.security import (
                port_scan_counts_stage,
                port_scan_report,
            )

            if df.isStreaming:
                # complete-mode COUNT per (user, week, port) — resolve
                # the drained counts with security.resolve_port_scan
                return port_scan_counts_stage(df)
            return port_scan_report(df)

        return detect_port_scan
    if kind == "log_drift":

        def detect_log_drift(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.security import (
                log_drift_counts_stage,
                log_drift_report,
            )

            if df.isStreaming:
                # complete-mode COUNT per (event_type, day); the
                # trailing-window judgment needs the COMPLETE series,
                # so it runs post-drain — resolve the spool with
                # security.resolve_log_drift (s_sec_log_drift's shape)
                return log_drift_counts_stage(df)
            return log_drift_report(df)

        return detect_log_drift
    if kind == "profile":
        # single-pass per-column data-quality profile at the pipe's
        # door (q_profile_table's composition). Batch-only: the exact
        # multi-column distinct is not a streaming aggregate — the
        # at-ingest alternative is profiling each LANDED batch/partition
        # over the lake, which is this same config on a batch source.
        cols = cfg.get("columns")

        def profile_table(df: DataFrame) -> DataFrame:
            from cheetah_spark.queries.profile import profile_report

            if df.isStreaming:
                raise ValueError(
                    "profile transform is batch-only: exact multi-column "
                    "COUNT(DISTINCT) is not a streaming aggregate; profile "
                    "the landed table with the same config on a batch "
                    "source (or per micro-batch via foreachBatch)"
                )
            return profile_report(df, cols)

        return profile_table
    raise ValueError(f"unknown transform type: {kind!r}")


def pipeline_from_config(cfg: Mapping[str, Any] | str) -> Pipeline:
    """Config (dict or JSON string) → :class:`Pipeline`."""
    if isinstance(cfg, str):
        cfg = json.loads(cfg)
    return Pipeline(
        source=build_source(cfg["source"]),
        sink=build_sink(cfg.get("sink", {"type": "console"})),
        transforms=tuple(build_transform(t) for t in cfg.get("transforms", ())),
    )


def load_pipeline(path: str) -> Pipeline:
    """Read a JSON config file → :class:`Pipeline` (the kawad CLI shape:
    ``kawad --config pipeline.json``)."""
    with open(path) as fh:
        return pipeline_from_config(json.load(fh))
