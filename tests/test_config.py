"""Declarative config loader (cheetah_spark/config.py) and streaming
metrics listener (streaming/metrics.py): the kawad daemon surface
(reference README.md:164-299) and the OTel-counter parity
(processor.go:91-120), driven end-to-end."""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pytest

from cheetah_spark import config
from cheetah_spark.config import build_sink, build_source, load_pipeline, pipeline_from_config
from cheetah_spark.sinks import BatcherSink, MemorySink, NdjsonGzipSink
from cheetah_spark.sources import MultiSource, ParquetSource
from cheetah_spark.streaming import events_stream_dir
from cheetah_spark.streaming.metrics import PipelineMetrics


def test_batch_config_roundtrip(spark, sf_dir):
    """Config → Pipeline → memory sink; result queryable as a view."""
    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/nation.parquet"},
        "transforms": [
            {"type": "filter", "expr": "n_regionkey = 1"},
            {"type": "select", "columns": ["n_nationkey", "n_name"]},
        ],
        "sink": {"type": "memory", "name": "cfg_nations"},
    }
    p = pipeline_from_config(cfg)
    p.run(spark)
    got = spark.table("cfg_nations")
    direct = (
        spark.read.parquet(f"{sf_dir}/nation.parquet")
        .filter("n_regionkey = 1")
        .select("n_nationkey", "n_name")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, direct.collect()))


def test_config_json_string_and_file(tmp_path, spark, sf_dir):
    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/region.parquet"},
        "sink": {"type": "memory", "name": "cfg_regions"},
    }
    p1 = pipeline_from_config(json.dumps(cfg))
    assert isinstance(p1.source, ParquetSource)
    f = tmp_path / "pipe.json"
    f.write_text(json.dumps(cfg))
    p2 = load_pipeline(str(f))
    assert isinstance(p2.sink, MemorySink)
    assert p2.dataframe(spark).count() == p1.dataframe(spark).count()


def test_nested_multi_and_batcher_blocks(sf_dir):
    src = build_source(
        {
            "type": "multi",
            "sources": [
                {"type": "parquet", "path": f"{sf_dir}/region.parquet"},
                {"type": "parquet", "path": f"{sf_dir}/region.parquet"},
            ],
        }
    )
    assert isinstance(src, MultiSource) and len(src.sources) == 2
    sink = build_sink(
        {
            "type": "batcher",
            "flush": {"type": "ndjson_gzip", "path": "/tmp/cheetah_cfg_out/x"},
        }
    )
    assert isinstance(sink, BatcherSink)


def test_unknown_types_rejected():
    with pytest.raises(ValueError, match="unknown source type"):
        build_source({"type": "mqtt3"})
    with pytest.raises(ValueError, match="unknown sink type"):
        build_sink({"type": "s4"})


def test_streaming_config_topology_with_metrics(spark, sf_dir):
    """The s_stream_batcher topology declared as config (streaming
    parquet replay → batcher-wrapped gzip-NDJSON sink), with the
    metrics listener attached: no rows lost, >1 micro-batch observed
    by the listener, gzip files on disk."""
    out_dir = "/tmp/cheetah_cfg_out/stream_batcher"
    shutil.rmtree(out_dir, ignore_errors=True)
    src_dir = events_stream_dir(spark, sf_dir)
    n_expected = spark.read.parquet(src_dir).count()

    metrics = PipelineMetrics()
    spark.streams.addListener(metrics)
    try:
        cfg = {
            "source": {
                "type": "parquet",
                "path": src_dir,
                "streaming": True,
                "max_files_per_trigger": 4,
            },
            "transforms": [
                {"type": "select", "columns": ["event_id", "event_type", "value"]},
            ],
            "sink": {
                "type": "batcher",
                "checkpoint": f"{out_dir}/_ckpt",
                "flush": {"type": "ndjson_gzip", "path": f"{out_dir}/data"},
            },
        }
        query = pipeline_from_config(cfg).run(spark)
        assert query is not None
        query.processAllAvailable()
        query.stop()

        written = spark.read.json(f"{out_dir}/data")
        assert written.count() == n_expected  # no loss through config path
        assert glob.glob(f"{out_dir}/data/**/part-*.gz", recursive=True)

        # listener events are async: poll until the counter catches up
        qid = str(query.id)
        deadline = time.time() + 30
        while time.time() < deadline and metrics.rows_processed(qid) < n_expected:
            time.sleep(0.2)
        assert metrics.rows_processed(qid) == n_expected
        assert metrics.n_batches(qid) >= 2  # really micro-batched
        assert qid in metrics.started
    finally:
        spark.streams.removeListener(metrics)
        shutil.rmtree(out_dir, ignore_errors=True)


def test_cli_run_batch_config(tmp_path, spark, sf_dir, capsys):
    """`python -m cheetah_spark run --config f.json` boots a batch
    pipeline end-to-end (the kawad CLI surface, README.md:164-299).
    In-process call: get_spark's getOrCreate reuses the test session."""
    from cheetah_spark.__main__ import main

    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/nation.parquet"},
        "transforms": [{"type": "filter", "expr": "n_regionkey = 2"}],
        "sink": {"type": "memory", "name": "cli_nations"},
    }
    f = tmp_path / "cli_pipe.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    expect = spark.read.parquet(f"{sf_dir}/nation.parquet").filter("n_regionkey = 2").count()
    assert spark.table("cli_nations").count() == expect


def test_cli_plan_does_not_execute(tmp_path, spark, sf_dir, capsys):
    from cheetah_spark.__main__ import main

    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/region.parquet"},
        "sink": {"type": "memory", "name": "cli_plan_should_not_exist"},
    }
    f = tmp_path / "cli_plan.json"
    f.write_text(json.dumps(cfg))
    assert main(["plan", "--config", str(f)]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    # plan must not have executed the sink
    assert "cli_plan_should_not_exist" not in [t.name for t in spark.catalog.listTables()]


def test_cli_run_streaming_with_timeout(tmp_path, spark, sf_dir):
    """A streaming config under --timeout stops gracefully and exits 0
    (kawad's signal/ctx-cancel shutdown, processor.go:124-167)."""
    from cheetah_spark.__main__ import main

    src_dir = events_stream_dir(spark, sf_dir, n_files=2)
    cfg = {
        "source": {
            "type": "parquet",
            "path": src_dir,
            "streaming": True,
            "max_files_per_trigger": 1,
        },
        "transforms": [{"type": "select", "columns": ["event_id", "event_type"]}],
        "sink": {"type": "memory", "name": "cli_stream_out"},
    }
    f = tmp_path / "cli_stream.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "8"]) == 0
    assert spark.table("cli_stream_out").count() > 0


def test_ndjson_sink_s3a_conf_mapping():
    """Reference s3.go:107-121 option parity: customEndpoint/static
    creds/region map to per-bucket hadoop-s3a conf (no object store
    needed to verify the mapping)."""
    sink = NdjsonGzipSink(
        path="s3a://my-cool-log-bucket/logs",
        custom_endpoint="https://accountid.r2.cloudflarestorage.com",
        access_key_id="AKIA_TEST",
        secret_access_key="SECRET_TEST",
        bucket_region="us-east-2",
    )
    conf = sink.s3a_conf()
    pfx = "fs.s3a.bucket.my-cool-log-bucket"
    assert conf[f"{pfx}.endpoint"] == "https://accountid.r2.cloudflarestorage.com"
    assert conf[f"{pfx}.path.style.access"] == "true"  # R2/MinIO need path-style
    assert conf[f"{pfx}.endpoint.region"] == "us-east-2"
    assert conf[f"{pfx}.access.key"] == "AKIA_TEST"
    assert conf[f"{pfx}.secret.key"] == "SECRET_TEST"
    # local paths require no s3a conf; creds must come in pairs
    assert NdjsonGzipSink(path="/tmp/x").s3a_conf() == {}
    assert "fs.s3a.bucket.b.access.key" not in NdjsonGzipSink(
        path="s3a://b/x", access_key_id="only-one-half"
    ).s3a_conf()
    # config loader passes the options through
    s2 = build_sink(
        {
            "type": "ndjson_gzip",
            "path": "s3a://other-bucket/logs",
            "custom_endpoint": "http://minio:9000",
        }
    )
    assert s2.s3a_conf()["fs.s3a.bucket.other-bucket.endpoint"] == "http://minio:9000"


def test_reference_literal_config_aliases(spark, monkeypatch):
    """The reference README's own config blocks must load VERBATIM
    (r8 verdict item: a user porting a kawad config file hit 'unknown
    source type' for scanner/printer/s3 even though the components
    existed under engine-native names)."""
    import io

    from cheetah_spark.config import build_sink, build_source
    from cheetah_spark.sinks import ConsoleSink, NdjsonGzipSink
    from cheetah_spark.sources import TextScannerSource

    # README.md:188-196 — {"type":"scanner"} reads stdin
    src = build_source({"type": "scanner"})
    assert isinstance(src, TextScannerSource) and src.path == ""
    # batch stdin: drained driver-side into a temp file, then scanned
    class _FakeStdin:
        buffer = io.BytesIO(b"line one\nline two\nline three")

    import sys

    monkeypatch.setattr(sys, "stdin", _FakeStdin())
    rows = [r.value for r in src.read(spark).collect()]
    assert rows == ["line one", "line two", "line three"]

    # README.md:271-278 — {"type":"printer"} → stdout sink
    assert isinstance(build_sink({"type": "printer"}), ConsoleSink)

    # README.md:254-269 — s3 destination with camelCase keys
    s3 = build_sink(
        {
            "type": "s3",
            "bucketName": "my-cool-log-bucket",
            "bucketRegion": "us-east-2",
            "batchSize": 1000,
        }
    )
    assert isinstance(s3, NdjsonGzipSink)
    assert s3.path == "s3a://my-cool-log-bucket"
    assert s3.batch_size == 1000
    assert (
        s3.s3a_conf()["fs.s3a.bucket.my-cool-log-bucket.endpoint.region"]
        == "us-east-2"
    )
    # bucketName is the only required key (README.md:258)
    with pytest.raises(ValueError, match="bucketName"):
        build_sink({"type": "s3"})
    # customEndpoint path-style parity via the literal alias too
    s3c = build_sink(
        {
            "type": "s3",
            "bucketName": "b",
            "customEndpoint": "http://minio:9000",
            "accessKeyID": "AK",
            "secretAccessKey": "SK",
        }
    )
    conf = s3c.s3a_conf()
    assert conf["fs.s3a.bucket.b.endpoint"] == "http://minio:9000"
    assert conf["fs.s3a.bucket.b.access.key"] == "AK"


def test_scanner_stdin_streaming_spool(spark, monkeypatch):
    """Streaming stdin: the spool thread cuts stdin at line_sep
    boundaries into complete (write-then-rename) chunk files; the file
    stream admits every record exactly once."""
    import io
    import sys

    from cheetah_spark.config import build_source
    from cheetah_spark.streaming import run_stream_to_completion

    lines = [f"rec {i}" for i in range(500)]
    payload = ("\n".join(lines) + "\n").encode()

    class _FakeStdin:
        buffer = io.BytesIO(payload)

    monkeypatch.setattr(sys, "stdin", _FakeStdin())
    # small chunk cap so the spool exercises the mid-stream flush path
    src = build_source({"type": "scanner", "streaming": True, "spool_chunk_bytes": 256})
    df = src.read(spark)
    src._spool_thread.join(timeout=30)
    assert not src._spool_thread.is_alive()
    out = run_stream_to_completion(df, lambda d: d)
    got = sorted(r.value for r in out.collect())
    assert got == sorted(lines)


def test_live_transport_config_types(tmp_path):
    """The reference's own config tags wire the live transports: "mqtt"
    (README.md:204-217, camelCase keys accepted) and "eventlog"
    (README.md:219-237)."""
    from cheetah_spark.sources.eventlog_live import EventLogLiveSource
    from cheetah_spark.sources.mqtt_live import MqttLiveSink, MqttLiveSource

    src = build_source(
        {
            "type": "mqtt",
            "broker": "mqtt://broker.mqtt:1883",
            "clientID": "kawa_src",
            "userName": "u",
            "topic": "kawa/src",
            "qos": 1,
        }
    )
    assert isinstance(src, MqttLiveSource)
    assert src.client_id == "kawa_src" and src.username == "u" and src.qos == 1

    sink = build_sink(
        {"type": "mqtt", "broker": "mqtt://b:1883", "clientID": "kawa_dst", "topic": "kawa/dest"}
    )
    assert isinstance(sink, MqttLiveSink) and sink.client_id == "kawa_dst"

    # credentials: README.md:204-217 uses ONE canonical MQTT block for
    # sources and destinations — userName/password/keepAlive must reach
    # the publish path's MqttOpts too (round-4 advice: this crashed)
    auth_sink = build_sink(
        {
            "type": "mqtt",
            "broker": "mqtt://b:1883",
            "clientID": "kawa_dst",
            "topic": "kawa/dest",
            "userName": "u",
            "password": "pw",
            "keepAlive": 45,
            "transport": "replay",
        }
    )
    assert auth_sink.username == "u" and auth_sink.password == "pw"
    assert auth_sink.keep_alive == 45
    import cheetah_spark.sources.mqtt_live as ml

    captured = {}

    class _SpyFactory:
        def __call__(self, opts, *cb):
            captured["opts"] = opts
            raise RuntimeError("stop before any publish")

    orig = ml.ReplayClientFactory
    ml.ReplayClientFactory = lambda **kw: _SpyFactory()
    try:
        sink2 = build_sink(
            {
                "type": "mqtt",
                "broker": "mqtt://b:1883",
                "clientID": "kawa_dst",
                "topic": "kawa/dest",
                "userName": "u",
                "password": "pw",
                "keepAlive": 45,
                "transport": "replay",
            }
        )
        pub = sink2._publisher()
        try:
            pub(iter([{"value": b"x"}]))
        except RuntimeError:
            pass
    finally:
        ml.ReplayClientFactory = orig
    assert captured["opts"].username == "u"
    assert captured["opts"].password == "pw"
    assert captured["opts"].keep_alive == 45

    ev = build_source({"type": "eventlog", "channel": "Security", "query": "*"})
    assert isinstance(ev, EventLogLiveSource) and ev.channel == "Security"


def test_cli_run_streaming_mqtt_live_config(tmp_path, spark, sf_dir):
    """The reference README's primary MQTT daemon config (README.md:
    204-217) runs end-to-end through the CLI: an "mqtt"-type source
    (replay transport) streamed into a memory sink under --timeout.
    Proves the daemon boots the live-transport data source from pure
    JSON config."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.mqtt import mqtt_capture_dir

    cap = mqtt_capture_dir(spark, sf_dir)
    cfg = {
        "source": {
            "type": "mqtt",
            "broker": "mqtt://broker.mqtt:1883",
            "clientID": "kawa_src",
            "topic": "sensors/+/3",
            "qos": 1,
            "transport": "replay",
            "capture_path": cap,
        },
        "transforms": [{"type": "select", "columns": ["topic", "value"]}],
        "sink": {"type": "memory", "name": "cli_mqtt_out"},
    }
    f = tmp_path / "cli_mqtt.json"
    f.write_text(json.dumps(cfg))
    # 12 s: the replay drains in ~2 s alone, but under a saturated
    # full-suite run the first micro-batch can take >6 s to schedule
    assert main(["run", "--config", str(f), "--timeout", "12"]) == 0
    got = spark.table("cli_mqtt_out")
    assert got.count() > 0
    assert {r.topic.split("/")[-1] for r in got.select("topic").distinct().collect()} == {"3"}


def test_curation_transforms_from_config(spark, sf_dir):
    """A kawad-style JSON config assembles a curation pipeline from
    the verified expressions: quality gate -> PII redact -> content
    fingerprint -> minhash signature -> token count, over the
    documents table, batch mode."""
    from pyspark.sql import functions as F

    from cheetah_spark.catalog import table_path
    from cheetah_spark.functions.text import norm_text
    from cheetah_spark.queries.llm import minhash_sig_expr, quality_score_expr

    cfg = {
        "source": {"type": "parquet", "path": table_path(sf_dir, "documents")},
        "transforms": [
            {"type": "quality_score", "threshold": 0.5},
            {"type": "pii_redact"},
            {"type": "content_fp"},
            {"type": "minhash_sig", "as": "sig"},
            {"type": "token_count"},
        ],
        "sink": {"type": "memory", "name": "curated_cfg"},
    }
    out = pipeline_from_config(cfg).dataframe(spark)
    rows = out.collect()
    assert {"quality", "content_fp", "sig", "n_tokens"} <= set(out.columns)

    # equals the direct expression pipeline
    d = spark.read.parquet(table_path(sf_dir, "documents"))
    expected = (
        d.withColumn("quality", quality_score_expr(F.col("text")))
        .where(F.col("quality") >= 0.5)
        .withColumn("content_fp", F.md5(norm_text(F.col("text"))))
        .withColumn("sig", minhash_sig_expr(F.col("text")))
        .count()
    )
    assert len(rows) == expected
    assert all(r.n_tokens >= 0 for r in rows)

    # redaction really rewrites PII-shaped spans
    red = (
        spark.createDataFrame(
            [(1, "reach me at bob@corp.example.org or 555-1234 x")],
            "doc_id long, text string",
        )
    )
    cfg2 = {
        "source": {"type": "memory", "rows": [], "schema": "doc_id long"},
    }
    from cheetah_spark.config import build_transform

    redacted = build_transform({"type": "pii_redact"})(red).collect()[0].text
    assert "<EMAIL>" in redacted and "<PHONE>" in redacted


def test_stratified_sample_transform_from_config(spark, sf_dir):
    """The declarative stratified_sample transform keeps exactly the
    rows the verified q_llm_sample_stratified expression keeps — the
    domain-mixture knob as config data, map-only (streaming-safe)."""
    from pyspark.sql import functions as F

    from cheetah_spark.catalog import table_path
    from cheetah_spark.config import build_transform
    from cheetah_spark.queries.curation import sample_keep_expr

    rates = {"en": 500, "zh": 1000}
    t = build_transform(
        {"type": "stratified_sample", "rates": rates, "default": 100, "seed": "cfg:"}
    )
    d = spark.read.parquet(table_path(sf_dir, "documents"))
    got = {r.doc_id for r in t(d).select("doc_id").collect()}
    want = {
        r.doc_id
        for r in d.where(
            sample_keep_expr(F.col("doc_id"), F.col("lang"), rates, 100, "cfg:")
        )
        .select("doc_id")
        .collect()
    }
    assert got == want and 0 < len(got) < d.count()


def test_repartition_transform_from_config(spark, sf_dir):
    """The declarative repartition transform fans a narrow scan out to
    the requested width (or defaultParallelism when n is omitted)
    without changing the rows — the micro-batch starvation fix as
    config data (SCALE.md r9: a file-stream batch has one partition
    per admitted file, so a heavy map chain runs on #files cores
    unless fanned out)."""
    from cheetah_spark.catalog import table_path
    from cheetah_spark.config import build_transform

    d = spark.read.parquet(table_path(sf_dir, "documents")).coalesce(1)
    assert d.rdd.getNumPartitions() == 1

    out = build_transform({"type": "repartition", "n": 7})(d)
    assert out.rdd.getNumPartitions() == 7
    assert out.count() == d.count()

    default = build_transform({"type": "repartition"})(d)
    assert default.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    # keyed variant pre-shuffles by column: every lang lands in one
    # partition (hash partitioning), row multiset unchanged
    keyed = build_transform({"type": "repartition", "n": 4, "columns": ["lang"]})(d)
    spread = (
        keyed.rdd.mapPartitions(lambda it: [len({r.lang for r in it})])
        .filter(lambda n: n > 0)
        .collect()
    )
    n_langs = d.select("lang").distinct().count()
    assert sum(spread) == n_langs  # each lang in exactly one partition
    assert keyed.count() == d.count()


def test_cli_run_kafka_replay_to_ndjson_config(tmp_path, spark, sf_dir):
    """Daemon e2e over the kafka config type (r9 verdict item #7): a
    {"type":"kafka"} replay source drives the partitioned gzip-NDJSON
    sink (the class behind the literal {"type":"s3"} alias — same sink,
    path-addressed; no object store exists in the sandbox, so the
    s3a:// mapping itself is covered by test_ndjson_sink_s3a_conf_*)
    through `python -m cheetah_spark run --config`, batch AND streaming
    with graceful stop."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.kafka import kafka_capture_dir

    cap = kafka_capture_dir(spark, sf_dir)
    out_dir = tmp_path / "kafka_ndjson"
    cfg = {
        "source": {
            "type": "kafka",
            "topic": "logs/click",
            "transport": "replay",
            "capturePath": cap,
            "streaming": False,
        },
        "transforms": [{"type": "select", "columns": ["topic", "key", "value"]}],
        "sink": {"type": "ndjson_gzip", "path": str(out_dir)},
    }
    f = tmp_path / "cli_kafka.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    got = spark.read.json(str(out_dir))
    expect = (
        spark.read.json(cap).where("topic = 'logs/click'").count()
    )
    assert got.count() == expect > 0
    assert glob.glob(f"{out_dir}/**/*.gz", recursive=True)  # gzip NDJSON parts

    # streaming run with graceful stop under --timeout
    out_dir2 = tmp_path / "kafka_ndjson_stream"
    cfg["source"]["streaming"] = True
    cfg["sink"] = {"type": "ndjson_gzip", "path": str(out_dir2)}
    f2 = tmp_path / "cli_kafka_stream.json"
    f2.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f2), "--timeout", "10"]) == 0
    assert spark.read.json(str(out_dir2)).count() == expect


def test_cli_run_redis_replay_to_printer(tmp_path, spark, sf_dir, capsys):
    """Daemon e2e over the redis config type: batch replay → the
    literal {"type":"printer"} destination (console), plus a streaming
    run into memory with graceful stop — the redis counterpart of the
    syslog→webhook daemon test."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.redis import redis_capture_dir

    cap = redis_capture_dir(spark, sf_dir)
    cfg = {
        "source": {
            "type": "redis",
            "stream": "ev/click",
            "transport": "replay",
            "capturePath": cap,
            "streaming": False,
        },
        "transforms": [{"type": "filter", "expr": "stream = 'ev/click'"}],
        "sink": {"type": "printer", "num_rows": 5},
    }
    f = tmp_path / "cli_redis.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    out = capsys.readouterr().out
    assert "ev/click" in out  # rows actually printed

    cfg["source"]["streaming"] = True
    cfg["source"]["chunkSize"] = 5000
    cfg["sink"] = {"type": "memory", "name": "cli_redis_stream"}
    f2 = tmp_path / "cli_redis_stream.json"
    f2.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f2), "--timeout", "10"]) == 0
    got = spark.table("cli_redis_stream")
    assert got.count() > 0
    assert got.select("stream").distinct().collect()[0].stream == "ev/click"


def test_cli_run_nats_replay_to_memory(tmp_path, spark, sf_dir):
    """Daemon e2e over the nats config type (wishlist #3): a streaming
    replay subscription through the CLI with graceful stop."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.nats import nats_capture_dir

    cap = nats_capture_dir(spark, sf_dir)
    cfg = {
        "source": {
            "type": "nats",
            "subject": ">",
            "transport": "replay",
            "capturePath": cap,
            "chunkSize": 5000,
            "streaming": True,
        },
        "transforms": [{"type": "filter", "expr": "subject LIKE 'ev.click.%'"}],
        "sink": {"type": "memory", "name": "cli_nats_stream"},
    }
    f = tmp_path / "cli_nats.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "10"]) == 0
    got = spark.table("cli_nats_stream")
    assert got.count() > 0
    subs = {r.subject.split(".")[1] for r in got.select("subject").distinct().collect()}
    assert subs == {"click"}


def test_cli_run_amqp_replay_to_memory(tmp_path, spark, sf_dir):
    """Daemon e2e over the amqp config type (wishlist #4): a streaming
    replay consumer through the CLI with graceful stop, binding-key
    narrowing applied as a transform."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.amqp import amqp_capture_dir

    cap = amqp_capture_dir(spark, sf_dir)
    cfg = {
        "source": {
            "type": "amqp",
            "bindingKey": "#",
            "transport": "replay",
            "capturePath": cap,
            "chunkSize": 5000,
            "streaming": True,
        },
        "transforms": [{"type": "filter", "expr": "routing_key LIKE 'click.%'"}],
        "sink": {"type": "memory", "name": "cli_amqp_stream"},
    }
    f = tmp_path / "cli_amqp.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "15"]) == 0
    got = spark.table("cli_amqp_stream")
    assert got.count() > 0
    kinds = {r.routing_key.split(".")[0] for r in got.select("routing_key").distinct().collect()}
    assert kinds == {"click"}


def test_cli_run_pubsub_replay_to_printer(tmp_path, spark, sf_dir, capsys):
    """Daemon e2e over the pubsub config type (wishlist #5): batch
    replay with the subscription filter applied in-config → the
    literal {"type":"printer"} destination."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.pubsub import pubsub_capture_dir

    cap = pubsub_capture_dir(spark, sf_dir)
    cfg = {
        "source": {
            "type": "pubsub",
            "filter": 'attributes.event_type = "click"',
            "transport": "replay",
            "capturePath": cap,
            "streaming": False,
        },
        # console show() truncates cells at 20 chars, so surface the
        # filtered attribute as its own short column before printing
        "transforms": [
            {
                "type": "sql",
                "query": (
                    "SELECT get_json_object(attributes, '$.event_type') AS et, "
                    "count(*) AS n FROM __input__ GROUP BY et"
                ),
            }
        ],
        "sink": {"type": "printer", "num_rows": 5},
    }
    f = tmp_path / "cli_pubsub.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    out = capsys.readouterr().out
    assert "click" in out  # the filtered event type actually printed


def test_cli_run_kinesis_replay_to_memory(tmp_path, spark, sf_dir):
    """Daemon e2e over the kinesis config type (wishlist #6): a
    streaming replay through the CLI with graceful stop; the MD5 shard
    routing surfaces in the output rows."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.kinesis import kinesis_capture_dir

    cap = kinesis_capture_dir(spark, sf_dir)
    cfg = {
        "source": {
            "type": "kinesis",
            "streamName": "events",
            "transport": "replay",
            "capturePath": cap,
            "chunkSize": 5000,
            "streaming": True,
        },
        "transforms": [{"type": "select", "columns": ["shard_id", "partition_key"]}],
        "sink": {"type": "memory", "name": "cli_kinesis_stream"},
    }
    f = tmp_path / "cli_kinesis.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "15"]) == 0
    got = spark.table("cli_kinesis_stream")
    assert got.count() > 0
    from cheetah_spark.sources.kinesis_live import shard_for_key, shard_id_str

    for r in got.select("shard_id", "partition_key").distinct().collect():
        assert r.shard_id == shard_id_str(shard_for_key(r.partition_key, 4))


def test_cli_run_sqlite_to_memory(tmp_path, spark, sf_dir):
    """Daemon e2e over the sqlite config type (r10, beyond-parity
    relational-store pull): a partitioned batch pull through the CLI,
    filter pushdown applied as a transform, no-loss asserted against
    the parquet events table."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.sources.sqlite_local import EVENTS_SQLITE_SCHEMA, events_sqlite_path

    db = events_sqlite_path(spark, sf_dir)
    cfg = {
        "source": {
            "type": "sqlite",
            "path": db,
            "table": "events",
            "schema": EVENTS_SQLITE_SCHEMA,
            "numPartitions": 4,
        },
        "transforms": [{"type": "filter", "expr": "event_type = 'error'"}],
        "sink": {"type": "memory", "name": "cli_sqlite_pull"},
    }
    f = tmp_path / "cli_sqlite.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "10"]) == 0
    got = spark.table("cli_sqlite_pull")
    expected = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where("event_type = 'error'")
        .count()
    )
    assert got.count() == expected
    assert {r.event_type for r in got.select("event_type").distinct().collect()} == {"error"}


def test_cli_run_multisink_fanout_batch(tmp_path, spark, sf_dir):
    """Daemon e2e over the D5 fan-out composition (r10 verdict item
    #5): one source → MultiSink(D2 gzip-NDJSON + D1 printer + D4
    memory) through `python -m cheetah_spark run --config` — the
    kawad multi-destination shape (README.md:244-278) that previously
    had only unit coverage. Ack-after-all means every sink must hold
    the complete batch: both assertable sinks are checked against the
    source row count."""
    from cheetah_spark.__main__ import main

    out_dir = tmp_path / "d2_spool"
    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/nation.parquet"},
        "sink": {
            "type": "multi",
            "sinks": [
                {"type": "ndjson_gzip", "path": str(out_dir)},
                {"type": "printer", "num_rows": 5},
                {"type": "memory", "name": "cli_fanout_nations"},
            ],
        },
    }
    f = tmp_path / "cli_fanout.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    expect = spark.read.parquet(f"{sf_dir}/nation.parquet").count()
    assert spark.table("cli_fanout_nations").count() == expect
    spool = spark.read.json(str(out_dir))
    assert spool.count() == expect
    # D2 wall-clock partition layout reached the filesystem
    assert glob.glob(f"{out_dir}/y=*/m=*/d=*/h=*/*.gz")


def test_cli_run_multisink_fanout_streaming(tmp_path, spark, sf_dir):
    """The same D5 fan-out under a STREAMING source with `--timeout`
    graceful stop: MultiSink persists each micro-batch once, writes it
    to every destination, and the upstream offsets commit only after
    all writes return — so after a full drain the D2 spool must hold
    exactly the source rows (no loss, no dup) and the memory sink's
    per-batch view must exist."""
    from cheetah_spark.__main__ import main

    src_dir = events_stream_dir(spark, sf_dir, n_files=2)
    out_dir = tmp_path / "d2_stream_spool"
    cfg = {
        "source": {
            "type": "parquet",
            "path": src_dir,
            "streaming": True,
            "max_files_per_trigger": 1,
        },
        "transforms": [{"type": "select", "columns": ["event_id", "event_type"]}],
        "sink": {
            "type": "multi",
            "checkpoint": str(tmp_path / "ckpt"),
            "sinks": [
                {"type": "ndjson_gzip", "path": str(out_dir)},
                # printer leg: exercised for effect only — foreachBatch
                # runs sinks on a cloned session, so a memory sink's
                # temp view would land in the clone's catalog and be
                # unobservable here (the reference pairs s3 + printer
                # the same way, README.md:244-278)
                {"type": "printer", "num_rows": 3},
            ],
        },
    }
    f = tmp_path / "cli_fanout_stream.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "15"]) == 0
    expect = spark.read.parquet(src_dir).count()
    spool = spark.read.json(str(out_dir))
    assert spool.count() == expect
    assert spool.select("event_id").distinct().count() == expect


def test_dedup_recall_eval_transform_from_config(tmp_path, spark, sf_dir):
    """The recall monitor as a declarative pipeline (r10 verdict item
    #6): `{"type": "dedup_recall_eval", "panel": N}` runs the banding
    recall eval with a caller-chosen panel budget. A smaller panel
    means a coarser stride over the same corpus — the candidate and
    truth sets shrink but stay internally consistent (n_hit <= n_true,
    n_hit <= n_candidates, recall = n_hit/n_true). The registered
    query's pinned default stays under the oracle hash gate
    (tests/test_oracle.py), so the knob cannot drift the contract."""
    from cheetah_spark.__main__ import main

    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/documents.parquet"},
        "transforms": [{"type": "dedup_recall_eval", "panel": 200}],
        "sink": {"type": "memory", "name": "cli_recall_eval"},
    }
    f = tmp_path / "cli_recall.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    rows = spark.table("cli_recall_eval").collect()
    assert len(rows) == 1
    r = rows[0]
    assert set(rows[0].asDict()) == {"n_true", "n_candidates", "n_hit", "recall"}
    assert 0 <= r.n_hit <= r.n_true
    assert r.n_hit <= r.n_candidates
    assert r.recall == (r.n_hit / max(r.n_true, 1))
    # a panel knob must actually move the panel. NOTE the two strides'
    # panels are NOT nested sets (doc_id % 76 == 0 vs % 16 == 0), so
    # comparing n_true across panels is fixture luck, not a law — the
    # guaranteed property is the panel SIZE: the coarser stride samples
    # no more query docs than the default stride
    from cheetah_spark.queries.llm import _EVAL_PANEL

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    stride_200 = 1 + n_docs // 200
    stride_default = 1 + n_docs // _EVAL_PANEL
    assert stride_200 > stride_default  # the knob moved
    panel_200 = 1 + (n_docs - 1) // stride_200  # docs with doc_id % stride == 0
    panel_default = 1 + (n_docs - 1) // stride_default
    assert panel_200 <= panel_default


_GOPHER_SUBSET = ["wordcount", "meanlen", "symbol", "bullet", "ellipsis", "alpha"]


def _staged_url_docs(spark, sf_dir, tmp_path, footer=None):
    """documents + the fixture's messy URL column, staged as parquet —
    the corpus a FineWeb-style config chain runs over (the raw table
    has no url column; production crawls do). ``footer`` appends one
    shared line to every third document, so the corpus has a
    non-empty boilerplate set (the fixture's own lines never repeat)."""
    from pyspark.sql import functions as F

    from cheetah_spark.queries.curation import _messy_url_expr

    text = F.col("text")
    if footer is not None:
        text = F.when(
            F.col("doc_id") % 3 == 0, F.concat(text, F.lit("\n" + footer))
        ).otherwise(text)
    src = str(tmp_path / "docs_with_url")
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "source", "lang", text.alias("text"),
                _messy_url_expr().alias("url"))
        .write.parquet(src)
    )
    return src


@pytest.mark.parametrize("inline_lines", [None, 0])
def test_fineweb_chain_from_config_batch(tmp_path, spark, sf_dir, monkeypatch, inline_lines):
    """The r11-verdict item #5 chain: URL dedup → Gopher quality gate →
    corpus line dedup assembled from JSON alone, output equal to the
    independently composed DataFrame pipeline row-for-row, on both
    strip paths (inline IN-list, and the broadcast Arrow strip that an
    ``INLINE_BOILER_LINES`` of 0 forces)."""
    from pyspark.sql import functions as F

    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.curation import (
        _canonical_url_expr,
        boiler_line_set,
        gopher_feat_exprs,
        gopher_rule_exprs,
    )

    src = _staged_url_docs(spark, sf_dir, tmp_path, footer="share this page")
    cfg = {
        "source": {"type": "parquet", "path": src},
        "transforms": [
            {"type": "url_dedup", "url": "url", "id": "doc_id"},
            # subset knob: the synthetic corpus has no English stopwords,
            # so the full battery would degenerate to an empty corpus
            {"type": "gopher_rules", "column": "text", "mode": "filter",
             "rules": _GOPHER_SUBSET},
            {"type": "line_dedup", "column": "text", "from": src},
        ],
        "sink": {"type": "memory", "name": f"cli_fineweb_batch_{inline_lines}"},
    }
    if inline_lines is not None:
        monkeypatch.setattr(config, "INLINE_BOILER_LINES", inline_lines)
    f = tmp_path / "cli_fineweb_batch.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    got = {
        r.doc_id: r.asDict()
        for r in spark.table(f"cli_fineweb_batch_{inline_lines}").collect()
    }
    # the same chain composed directly
    d = spark.read.parquet(src).withColumn(
        "__curl", _canonical_url_expr(F.col("url"))
    )
    keep = d.groupBy("__curl").agg(F.min("doc_id").alias("__keep"))
    d = (
        d.join(keep, "__curl")
        .where(F.col("doc_id") == F.col("__keep"))
        .drop("__curl", "__keep")
    )
    from functools import reduce
    from operator import or_

    rules = gopher_rule_exprs(gopher_feat_exprs(F.col("text")))
    d = d.where(~reduce(or_, [rules[k] for k in _GOPHER_SUBSET]))
    bset = set(boiler_line_set(spark.read.parquet(src)))
    assert bset == {"share this page"}
    expect = {}
    for r in d.collect():
        row = r.asDict()
        row["text"] = "\n".join(
            ln for ln in row["text"].split("\n") if ln and ln not in bset
        )
        expect[row["doc_id"]] = row
    assert got == expect
    assert expect  # the chain must not degenerate to an empty corpus


@pytest.mark.parametrize("inline_lines", [None, 0])
def test_fineweb_chain_from_config_streaming(tmp_path, spark, sf_dir, monkeypatch, inline_lines):
    """The same JSON chain over a STREAMING source: url_dedup routes
    through keyed keep-min state (the first micro-batch containing a
    canonical URL emits its min-id row — deterministic under the
    id-ordered replay contract; the hash gate for the full chain is
    s_config_fineweb's driver row). Asserted here: daemon exit 0 plus
    the chain's invariants — one survivor per canonical URL, every
    survivor passed the Gopher gate, no survivor retains a boilerplate
    line. An ``INLINE_BOILER_LINES`` of 0 sends the strip down the
    broadcast mapInArrow path, which runs below the keyed-state stage
    too."""
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F

    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.curation import (
        _canonical_url_expr,
        boiler_line_set,
        gopher_feat_exprs,
        gopher_rule_exprs,
    )

    src = _staged_url_docs(spark, sf_dir, tmp_path, footer="share this page")
    cfg = {
        "source": {
            "type": "parquet",
            "path": src,
            "streaming": True,
            "max_files_per_trigger": 1,
        },
        "transforms": [
            {"type": "url_dedup", "url": "url", "id": "doc_id"},
            # subset knob: the synthetic corpus has no English stopwords,
            # so the full battery would degenerate to an empty corpus
            {"type": "gopher_rules", "column": "text", "mode": "filter",
             "rules": _GOPHER_SUBSET},
            {"type": "line_dedup", "column": "text", "from": src},
        ],
        # update mode: the chain ends in the url_dedup keyed-state stage
        "sink": {"type": "memory", "name": f"cli_fineweb_stream_{inline_lines}",
                 "output_mode": "update"},
    }
    if inline_lines is not None:
        monkeypatch.setattr(config, "INLINE_BOILER_LINES", inline_lines)
    f = tmp_path / "cli_fineweb_stream.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "20"]) == 0
    out = spark.table(f"cli_fineweb_stream_{inline_lines}")
    n = out.count()
    assert n > 0
    # one survivor per canonical URL
    assert (
        out.select(_canonical_url_expr(F.col("url")).alias("c")).distinct().count()
        == n
    )
    # every survivor passes the Gopher gate on its REWRITTEN text
    rules = gopher_rule_exprs(gopher_feat_exprs(F.col("text")))
    rules = {k: rules[k] for k in _GOPHER_SUBSET}
    # (the line strip can only shorten docs; re-judge pre-strip text is
    # not recoverable here, so judge what the pipeline judged: url is
    # untouched by later stages, text rules ran before the strip — use
    # the invariant that survivors passed at judge time by re-running
    # the batch chain's gopher stage on the kept doc_ids)
    kept_ids = [r.doc_id for r in out.select("doc_id").collect()]
    pre = spark.read.parquet(src).where(F.col("doc_id").isin(kept_ids))
    fails = pre.where(reduce(or_, rules.values())).count()
    assert fails == 0
    # no survivor retains a boilerplate line
    bset = set(boiler_line_set(spark.read.parquet(src)))
    assert bset == {"share this page"}
    assert pre.where(F.col("text").contains("share this page")).count() > 0
    for r in out.select("text").collect():
        assert not (set(ln for ln in r.text.split("\n") if ln) & bset)


def test_c4_rules_transform_from_config_batch(tmp_path, spark, sf_dir):
    """`{"type": "c4_rules"}` e2e (ADVICE r12: the one declarative
    transform with no config-layer test): stage a corpus whose text IS
    the derived noisy page, run the JSON chain through the daemon, and
    pin (a) kept rows + rewritten text equal to the c4_page_exprs
    composition the transform binds, and (b) the kept count and the
    rewrite CHECKSUM against _c4_judged over the ORIGINAL documents —
    the independent spelling of the same gate (it re-derives the page
    from doc_id + raw text), so a wiring bug in the binding cannot
    cancel out."""
    from pyspark.sql import functions as F

    from cheetah_spark.__main__ import main
    from cheetah_spark.functions import text as X
    from cheetah_spark.queries.curation import (
        _C4_FP_MOD,
        _c4_judged,
        _c4_noisy_page_expr,
        c4_page_exprs,
    )

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    src = str(tmp_path / "c4_pages")
    raw.select("doc_id", "lang", _c4_noisy_page_expr().alias("text")).write.parquet(
        src
    )
    cfg = {
        "source": {"type": "parquet", "path": src},
        "transforms": [{"type": "c4_rules", "column": "text"}],
        "sink": {"type": "memory", "name": "cli_c4_batch"},
    }
    f = tmp_path / "cli_c4_batch.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    got = {r.doc_id: r.text for r in spark.table("cli_c4_batch").collect()}
    # (a) the composition the transform binds, applied independently
    kept_text, page_drop = c4_page_exprs(F.col("text"))
    expect = {
        r.doc_id: r.kt
        for r in spark.read.parquet(src)
        .select("doc_id", kept_text.alias("kt"), page_drop.alias("pd"))
        .where(~F.col("pd"))
        .collect()
    }
    assert got == expect
    assert expect  # gate must keep something...
    assert len(expect) < raw.count()  # ...and drop something
    # (b) cross-check against _c4_judged on the RAW corpus: same kept
    # count, and the config output's text hashes to the same checksum
    j = _c4_judged(raw).agg(
        F.sum(F.col("kept").cast("int")).alias("n_kept"),
        F.sum("fp").alias("fp_sum"),
    ).collect()[0]
    assert j.n_kept == len(got)
    out_fp = (
        spark.table("cli_c4_batch")
        .select((X.hash56(F.col("text")) % _C4_FP_MOD).alias("fp"))
        .agg(F.sum("fp").alias("s"))
        .collect()[0]
        .s
    )
    assert out_fp == j.fp_sum


def test_url_dedup_transform_ttl_knob_streaming(tmp_path, spark, sf_dir):
    """`{"type": "url_dedup", "ttl_seconds": N}` on a streaming source
    routes through ProcessingTimeTimeout state aging. On a bounded
    replay that drains in seconds, a large TTL must leave the kept set
    identical to the un-aged transform (the eviction mechanics
    themselves are pinned deterministically on the event-time variant,
    tests/test_curation.py::test_url_dedup_ttl_evicts_cold_keys —
    processing-time firing cannot be asserted without wall-clock
    sleeps)."""
    from cheetah_spark.__main__ import main

    src = _staged_url_docs(spark, sf_dir, tmp_path)
    results = {}
    for name, extra in (("cli_url_nottl", {}), ("cli_url_ttl", {"ttl_seconds": 3600})):
        cfg = {
            "source": {
                "type": "parquet",
                "path": src,
                "streaming": True,
                "max_files_per_trigger": 1,
            },
            "transforms": [dict({"type": "url_dedup", "url": "url", "id": "doc_id"}, **extra)],
            "sink": {"type": "memory", "name": name, "output_mode": "update"},
        }
        f = tmp_path / f"{name}.json"
        f.write_text(json.dumps(cfg))
        assert main(["run", "--config", str(f), "--timeout", "20"]) == 0
        results[name] = sorted(r.doc_id for r in spark.table(name).select("doc_id").collect())
    assert results["cli_url_ttl"] == results["cli_url_nottl"]
    assert results["cli_url_ttl"]  # non-degenerate


def test_minhash_dedup_transform_batch_matches_pair_composition(tmp_path, spark, sf_dir):
    """`{"type": "minhash_dedup"}` batch e2e through the daemon: the
    kept set must equal the INDEPENDENT spelling — banded candidate
    pairs (the q_llm_minhash_dedup generator) flagging every doc_id_b —
    so the transform's bucket-min anti-join and the family's pair join
    must agree doc-for-doc, and shingle-less docs must survive."""
    from pyspark.sql import functions as F

    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.llm import _minhash_band_candidates, minhash_sigs_arrow

    src = str(tmp_path / "mh_docs")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    # plant a shingle-less doc to pin the null-sig survival path
    short = spark.createDataFrame([(10**9, "xx", "one two")], docs.schema)
    docs.unionByName(short).write.parquet(src)
    cfg = {
        "source": {"type": "parquet", "path": src},
        "transforms": [{"type": "minhash_dedup", "column": "text", "id": "doc_id"}],
        "sink": {"type": "memory", "name": "cli_mh_batch"},
    }
    f = tmp_path / "cli_mh_batch.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    got = {r.doc_id for r in spark.table("cli_mh_batch").select("doc_id").collect()}
    staged = spark.read.parquet(src)
    flagged = {
        r.doc_id_b
        for r in _minhash_band_candidates(minhash_sigs_arrow(staged).persist())
        .select("doc_id_b")
        .distinct()
        .collect()
    }
    expect = {r.doc_id for r in staged.select("doc_id").collect()} - flagged
    assert got == expect
    assert 10**9 in got  # the shingle-less doc survived
    assert flagged  # and the fixture really has near-dups


def test_fineweb_v2_chain_from_config_streaming_daemon(tmp_path, spark, sf_dir):
    """The 5-stage v2 chain through the DAEMON as one streaming query
    (two stateful stages in one plan): url keep-min state in append
    mode → gopher gate → line strip → rollup-input projection →
    bucket-win aggregation, memory sink in update mode. The resolved
    survivors must equal the BATCH chain's kept doc_ids exactly."""
    from pyspark.sql import functions as F

    from cheetah_spark.__main__ import main
    from cheetah_spark.queries.declarative import (
        _fineweb_v2_transforms,
    )
    from cheetah_spark.queries.llm import resolve_minhash_survivors

    src = _staged_url_docs(spark, sf_dir, tmp_path)
    cfg = {
        "source": {
            "type": "parquet",
            "path": src,
            "streaming": True,
            "max_files_per_trigger": 1,
        },
        "transforms": _fineweb_v2_transforms(src, streaming=True),
        "sink": {"type": "memory", "name": "cli_fineweb_v2_stream",
                 "output_mode": "update"},
    }
    f = tmp_path / "cli_fineweb_v2_stream.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "30"]) == 0
    spool = spark.table("cli_fineweb_v2_stream").localCheckpoint(eager=False)
    got = {r.doc_id for r in resolve_minhash_survivors(spool).select("doc_id").collect()}
    # batch truth: the same declarative stages minus the rollup
    bcfg = {
        "source": {"type": "parquet", "path": src},
        "transforms": _fineweb_v2_transforms(src, streaming=False)[:-1],
    }
    from cheetah_spark.config import pipeline_from_config

    expect = {
        r.doc_id
        for r in pipeline_from_config(bcfg).dataframe(spark).select("doc_id").collect()
    }
    assert got == expect
    assert got  # the chain keeps something


def test_decontaminate_transform_matches_word_slot_join_spelling(tmp_path, spark, sf_dir):
    """`{"type": "decontaminate"}` batch e2e: the literal-array probe
    must flag exactly the docs the hash-gated operator's OTHER spelling
    flags — the broadcast word-slot JOIN of q_llm_bloom_decontaminate —
    over an explicit eval corpus (the production shape: the benchmark
    set is a separate table, not a doc_id hash convention)."""
    from functools import reduce
    from operator import and_

    from pyspark.sql import functions as F

    from cheetah_spark.__main__ import main
    from cheetah_spark.functions import text as X
    from cheetah_spark.queries import curation as C

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "text"
    )
    train_src = str(tmp_path / "train_docs")
    eval_src = str(tmp_path / "eval_docs")
    docs.where(F.col("doc_id") % 7 != 0).write.parquet(train_src)
    docs.where(F.col("doc_id") % 7 == 0).write.parquet(eval_src)
    cfg = {
        "source": {"type": "parquet", "path": train_src},
        "transforms": [
            {"type": "decontaminate", "column": "text", "from": eval_src}
        ],
        "sink": {"type": "memory", "name": "cli_decon_batch"},
    }
    f = tmp_path / "cli_decon_batch.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    got = {r.doc_id for r in spark.table("cli_decon_batch").select("doc_id").collect()}

    # independent spelling: the operator's broadcast word-slot joins
    shl = F.array_distinct(X.shingles(X.tokens(F.col("text")), 3))
    eval_sh = (
        spark.read.parquet(eval_src).select(F.explode(shl).alias("s")).distinct()
    )
    sparse = (
        eval_sh.select(
            F.explode(F.array(*C._bloom_positions_spark(F.col("s")))).alias("pos")
        )
        .groupBy((F.col("pos") / 32).cast("bigint").alias("word_idx"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
            ).alias("word")
        )
    )
    probed = spark.read.parquet(train_src).select(
        "doc_id", F.explode(shl).alias("s")
    )
    hit = F.lit(True)
    for i, p in enumerate(C._bloom_positions_spark(F.col("s"))):
        b = F.broadcast(
            sparse.select(F.col("word_idx").alias(f"wi{i}"), F.col("word").alias(f"w{i}"))
        )
        probed = probed.withColumn(f"pos{i}", p).join(
            b, (F.col(f"pos{i}") / 32).cast("bigint") == F.col(f"wi{i}"), "left"
        )
        bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos{i} % 32 AS INT))")
        hit = hit & (F.coalesce(F.col(f"w{i}"), F.lit(0)).bitwiseAND(bit) != 0)
    flagged = {
        r.doc_id
        for r in probed.where(hit).select("doc_id").distinct().collect()
    }
    expect = {
        r.doc_id for r in spark.read.parquet(train_src).select("doc_id").collect()
    } - flagged
    assert got == expect
    assert flagged  # the eval overlap really flags something
    assert got  # and the gate keeps something


def test_decontaminate_composes_after_keyed_state_in_one_streaming_plan(
    tmp_path, spark, sf_dir
):
    """The literal-array probe is pure Catalyst, so it must compose
    DOWNSTREAM of the url_dedup keyed-state stage in a single streaming
    plan (the composition pandas_udf stages cannot do) — kept doc_ids
    must equal the batch chain's."""
    from pyspark.sql import functions as F

    from cheetah_spark.__main__ import main
    from cheetah_spark.config import pipeline_from_config

    src = _staged_url_docs(spark, sf_dir, tmp_path)
    eval_src = str(tmp_path / "eval_docs_s")
    (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % 7 == 0)
        .select("doc_id", "lang", "text")
        .write.parquet(eval_src)
    )
    transforms = [
        {"type": "url_dedup", "url": "url", "id": "doc_id"},
        {"type": "decontaminate", "column": "text", "from": eval_src},
    ]
    cfg = {
        "source": {
            "type": "parquet",
            "path": src,
            "streaming": True,
            "max_files_per_trigger": 1,
        },
        "transforms": transforms,
        "sink": {"type": "memory", "name": "cli_decon_stream",
                 "output_mode": "update"},
    }
    f = tmp_path / "cli_decon_stream.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "20"]) == 0
    got = {r.doc_id for r in spark.table("cli_decon_stream").select("doc_id").collect()}
    bcfg = {"source": {"type": "parquet", "path": src}, "transforms": transforms}
    expect = {
        r.doc_id
        for r in pipeline_from_config(bcfg).dataframe(spark).select("doc_id").collect()
    }
    assert got == expect and got


def test_minhash_dedup_transform_custom_id_column(tmp_path, spark):
    """The batch minhash_dedup binding must honor a non-default id
    column (minhash_sigs_arrow and minhash_bands carry it by name): two
    exact-duplicate texts collapse to the lower id, the distinct text
    survives untouched."""
    from cheetah_spark.config import pipeline_from_config

    src = str(tmp_path / "custom_id_docs")
    long_a = " ".join(f"tok{i}" for i in range(40))
    long_b = " ".join(f"other{i}" for i in range(40))
    spark.createDataFrame(
        [(7, long_a), (9, long_a), (11, long_b)], "rec_id long, body string"
    ).write.parquet(src)
    cfg = {
        "source": {"type": "parquet", "path": src},
        "transforms": [
            {"type": "minhash_dedup", "column": "body", "id": "rec_id"}
        ],
    }
    got = {
        r.rec_id
        for r in pipeline_from_config(cfg).dataframe(spark).select("rec_id").collect()
    }
    assert got == {7, 11}


def _numpy_ivf_neighbors(rows, k, nlists, nprobe):
    """Driver-side numpy mirror of the IVF semantics: centroid panel =
    first nlists vectors by id, assignment + probe by cosine, exact
    rerank within probed lists, (cos DESC, id ASC) top-k, self
    excluded. The independent oracle for the ann_enrich binding."""
    import numpy as np

    ids = np.array([r[0] for r in rows])
    V = np.array([r[1] for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    order = np.argsort(ids)
    C = Vn[order[:nlists]]
    assign = np.argmax(Vn @ C.T, axis=1)
    out = {}
    for qi in range(len(ids)):
        probe = np.argsort(-(Vn[qi] @ C.T))[:nprobe]
        cand = [
            j
            for j in range(len(ids))
            if assign[j] in set(probe.tolist()) and ids[j] != ids[qi]
        ]
        sims = [(float(Vn[qi] @ Vn[j]), int(ids[j])) for j in cand]
        sims.sort(key=lambda t: (-t[0], t[1]))
        out[int(ids[qi])] = [nid for _, nid in sims[:k]]
    return out


def test_ann_enrich_transform_batch_matches_numpy_oracle(tmp_path, spark, sf_dir):
    """`{"type": "ann_enrich"}` batch e2e: every row gains a top-k
    neighbor array equal to a driver-side numpy mirror of the IVF
    semantics (assignment, probe, exact rerank, tie-break) — an
    independent spelling sharing no Spark code with the binding."""
    from pyspark.sql import functions as F

    from cheetah_spark.config import pipeline_from_config

    src = f"{sf_dir}/embeddings.parquet"
    emb = spark.read.parquet(src).select("vec_id", "embedding")
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    nlists, nprobe, k = 16, 4, 3
    cfg = {
        "source": {"type": "parquet", "path": src},
        "transforms": [
            {"type": "ann_enrich", "id": "vec_id", "embedding": "embedding",
             "index": src, "k": k, "nlists": nlists, "nprobe": nprobe}
        ],
    }
    out = pipeline_from_config(cfg).dataframe(spark)
    got = {
        r.vec_id: [nb.neighbor_id for nb in (r.neighbors or [])]
        for r in out.select("vec_id", "neighbors").collect()
    }
    expect = _numpy_ivf_neighbors(rows, k, nlists, nprobe)
    assert got == expect
    assert any(v for v in got.values())  # neighbors really attached
    assert out.count() == emb.count()  # enrich keeps every row


def test_ann_enrich_transform_streaming_matches_batch(tmp_path, spark, sf_dir):
    """The streaming ann_enrich (stream-static cid join + update-mode
    per-query top-k fold) must produce the same (id, neighbor ids) map
    as the batch enrich — lookup-at-the-door is admission-invariant
    because the index is static."""
    import glob
    import os

    from pyspark.sql import functions as F

    from cheetah_spark.__main__ import main
    from cheetah_spark.config import pipeline_from_config

    src = f"{sf_dir}/embeddings.parquet"
    # stage the stream replay: 3 ordered files
    stream_src = str(tmp_path / "emb_stream")
    os.makedirs(stream_src)
    emb = spark.read.parquet(src).select("vec_id", "embedding")
    import pandas as pd

    pdf = emb.orderBy("vec_id").toPandas()
    base_t = 1_700_000_000
    n = len(pdf)
    for i in range(3):
        part = pdf.iloc[i * n // 3 : (i + 1) * n // 3]
        p = os.path.join(stream_src, f"f{i}.parquet")
        part.to_parquet(p, index=False)
        os.utime(p, (base_t + i, base_t + i))
    stage = {"type": "ann_enrich", "id": "vec_id", "embedding": "embedding",
             "index": src, "k": 3, "nlists": 16, "nprobe": 4}
    cfg = {
        "source": {"type": "parquet", "path": stream_src, "streaming": True,
                   "max_files_per_trigger": 1,
                   "schema": "vec_id bigint, embedding array<float>"},
        "transforms": [stage],
        "sink": {"type": "memory", "name": "cli_ann_enrich_stream",
                 "output_mode": "update"},
    }
    f = tmp_path / "cli_ann_enrich.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "25"]) == 0
    got = {
        r.vec_id: [nb.neighbor_id for nb in (r.neighbors or [])]
        for r in spark.table("cli_ann_enrich_stream").collect()
    }
    bcfg = {"source": {"type": "parquet", "path": src}, "transforms": [stage]}
    expect = {
        r.vec_id: [nb.neighbor_id for nb in (r.neighbors or [])]
        for r in pipeline_from_config(bcfg).dataframe(spark)
        .select("vec_id", "neighbors")
        .collect()
    }
    assert got == expect and got


def test_example_configs_construct():
    """examples/*.json must keep constructing through the daemon loader
    — a transform/sink schema change that orphans the shipped examples
    should fail here, not in a user's terminal."""
    import glob

    from cheetah_spark.config import load_pipeline

    paths = sorted(glob.glob("examples/*.json"))
    assert len(paths) >= 3
    for p in paths:
        pipe = load_pipeline(p)
        assert pipe.transforms


def test_port_scan_transform_from_config_batch(tmp_path, spark, sf_dir):
    """`{"type": "port_scan"}` e2e: the daemon-run JSON chain over the
    raw events parquet must equal the registered operator's composition
    (port_scan_report over load_table) row for row."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.catalog import load_table
    from cheetah_spark.queries.security import port_scan_report

    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/events.parquet"},
        "transforms": [{"type": "port_scan"}],
        "sink": {"type": "memory", "name": "cli_port_scan"},
    }
    f = tmp_path / "cli_port_scan.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    got = {r.week: tuple(r)[1:] for r in spark.table("cli_port_scan").collect()}
    expect = {
        r.week: tuple(r)[1:]
        for r in port_scan_report(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == expect and expect


def test_log_drift_transform_from_config_batch(tmp_path, spark, sf_dir):
    """`{"type": "log_drift"}` e2e: config output equals the registered
    composition; the streaming binding routes to the counts stage (the
    trailing-window judgment needs the complete per-source series, so
    it belongs post-drain — s_sec_log_drift's decomposition)."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.catalog import load_table
    from cheetah_spark.config import build_transform
    from cheetah_spark.queries.security import log_drift_report
    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import events_stream_dir

    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/events.parquet"},
        "transforms": [{"type": "log_drift"}],
        "sink": {"type": "memory", "name": "cli_log_drift"},
    }
    f = tmp_path / "cli_log_drift.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    got = {r.event_type: tuple(r)[1:] for r in spark.table("cli_log_drift").collect()}
    expect = {
        r.event_type: tuple(r)[1:]
        for r in log_drift_report(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == expect and expect

    stream = ParquetSource(
        events_stream_dir(spark, sf_dir), streaming=True, max_files_per_trigger=2
    ).read(spark)
    staged = build_transform({"type": "log_drift"})(stream)
    assert staged.isStreaming
    assert set(staged.columns) == {"event_type", "day", "cnt"}


def test_port_scan_streaming_config_chain_matches_batch(tmp_path, spark, sf_dir):
    """The streaming `port_scan` config chain end-to-end: counts stage
    through a real StreamingQuery, drained spool resolved with the
    operator's own fold, equal to the batch report row for row."""
    from cheetah_spark.catalog import load_table
    from cheetah_spark.config import pipeline_from_config
    from cheetah_spark.queries.security import port_scan_report, resolve_port_scan
    from cheetah_spark.queries.streams import scoped_state_partitions
    from cheetah_spark.streaming import events_stream_dir, run_stream_to_completion

    cfg = {
        "source": {
            "type": "parquet",
            "path": events_stream_dir(spark, sf_dir),
            "streaming": True,
            "max_files_per_trigger": 3,
        },
        "transforms": [{"type": "port_scan"}],
    }
    stream = pipeline_from_config(cfg).dataframe(spark)
    assert stream.isStreaming
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(stream, lambda df: df, output_mode="complete")
    got = sorted(map(tuple, resolve_port_scan(out).collect()))
    expect = sorted(
        map(tuple, port_scan_report(load_table(spark, sf_dir, "events")).collect())
    )
    assert got == expect and expect


def test_profile_transform_from_config_batch(tmp_path, spark, sf_dir):
    """`{"type": "profile"}` e2e: daemon-run profile equals the
    registered composition; the streaming binding refuses loudly (exact
    multi-column distinct is not a streaming aggregate)."""
    import pytest as _pytest

    from cheetah_spark.__main__ import main
    from cheetah_spark.catalog import load_table
    from cheetah_spark.config import build_transform
    from cheetah_spark.queries.profile import profile_report
    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import events_stream_dir

    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/nation.parquet"},
        "transforms": [{"type": "profile"}],
        "sink": {"type": "memory", "name": "cli_profile"},
    }
    f = tmp_path / "cli_profile.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f)]) == 0
    got = sorted(map(tuple, spark.table("cli_profile").collect()))
    expect = sorted(
        map(
            tuple,
            profile_report(spark.read.parquet(f"{sf_dir}/nation.parquet")).collect(),
        )
    )
    assert got == expect and len(expect) == 3  # one row per nation column

    stream = ParquetSource(
        events_stream_dir(spark, sf_dir), streaming=True, max_files_per_trigger=2
    ).read(spark)
    with _pytest.raises(ValueError, match="profile transform is batch-only"):
        build_transform({"type": "profile"})(stream)


def test_brute_force_detection_daemon_streaming(tmp_path, spark, sf_dir):
    """The detection deploys through the DAEMON surface end-to-end:
    `python -m cheetah_spark run` boots the streaming config, the
    brute_force transform routes through the keyed run-length state,
    the update-mode memory sink accumulates the monotone emissions, and
    the operator's own fold over the sink equals the batch report."""
    from cheetah_spark.__main__ import main
    from cheetah_spark.catalog import load_table
    from cheetah_spark.queries.security import brute_force_report, resolve_brute_force

    cfg = {
        "source": {
            "type": "parquet",
            "path": events_stream_dir(spark, sf_dir),
            "streaming": True,
            "max_files_per_trigger": 3,
        },
        "transforms": [{"type": "brute_force"}],
        "sink": {"type": "memory", "name": "cli_brute_force", "output_mode": "update"},
    }
    f = tmp_path / "cli_brute_force.json"
    f.write_text(json.dumps(cfg))
    assert main(["run", "--config", str(f), "--timeout", "30"]) == 0
    got = sorted(map(tuple, resolve_brute_force(spark.table("cli_brute_force")).collect()))
    expect = sorted(
        map(tuple, brute_force_report(load_table(spark, sf_dir, "events")).collect())
    )
    assert got == expect and expect


def test_profile_transform_handles_awkward_column_names(tmp_path, spark):
    """`profile` is documented as working over ANY table — including
    column names that are not bare SQL identifiers (spaces, quotes)."""
    import pandas as pd

    from cheetah_spark.queries.profile import profile_report

    pdf = pd.DataFrame(
        {"order date": ["2024-01-01", "2024-01-02", None],
         "a'b": [1.5, 2.5, 2.5], "plain": [1, 2, 3]}
    )
    df = spark.createDataFrame(pdf)
    got = {r.col_name: (r.n_nulls, r.n_distinct) for r in profile_report(df).collect()}
    assert got == {"order date": (1, 2), "a'b": (0, 2), "plain": (0, 3)}


def test_brute_force_transform_rejects_min_run_below_one():
    """min_run=0 would diverge stream vs batch (a zero-length gap
    between adjacent closers has no batch counterpart) — refuse it."""
    import pytest as _pytest

    from cheetah_spark.config import build_transform

    with _pytest.raises(ValueError, match="min_run must be >= 1"):
        build_transform({"type": "brute_force", "min_run": 0})
