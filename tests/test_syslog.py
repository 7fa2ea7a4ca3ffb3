"""Syslog source conformance: the cheetah-syslog streaming data source
driven over a REAL loopback socket (stdlib — this transport has no
wheel/platform gate, so the live path itself runs here), the replay
transport's ack contract, and the parse expressions on hand-built
lines covering the grammar edges the fixture soup doesn't hit."""

from __future__ import annotations

import json
import socket
import time
import uuid

import pytest
from pyspark.sql import Row, functions as F

from cheetah_spark.functions import syslog as SL
from cheetah_spark.queries.syslog import syslog_capture_dir
from cheetah_spark.sources.syslog_live import SyslogSource


def _start_to_memory(spark, src):
    name = f"sink_syslog_{uuid.uuid4().hex[:10]}"
    ckpt = f"/tmp/cheetah_spark_ckpt/{name}"
    spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
    q = (
        src.read(spark)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    return q, name


def _await_rows(spark, query, name, n, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        query.processAllAvailable()
        got = spark.sql(f"SELECT count(*) c FROM {name}").first().c
        if got >= n:
            return got
        time.sleep(0.3)
    return spark.sql(f"SELECT count(*) c FROM {name}").first().c


def _await_addr(addr_file, timeout=60):
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            with open(addr_file) as fh:
                host, _, port = fh.read().strip().rpartition(":")
                if port:
                    return host, int(port)
        except FileNotFoundError:
            pass
        time.sleep(0.2)
    raise TimeoutError(f"listener never wrote {addr_file}")


@pytest.mark.parametrize("proto", ["udp", "tcp"])
def test_syslog_live_socket_end_to_end(spark, tmp_path, proto):
    """Bind a real loopback listener inside the streaming source, send
    RFC 5424 + RFC 3164 lines over the wire, and read them back out of
    the memory sink with peers attached — the full production path."""
    addr_file = str(tmp_path / f"addr_{proto}")
    src = SyslogSource(addr="127.0.0.1:0", proto=proto, transport="socket", addr_file=addr_file)
    query, name = _start_to_memory(spark, src)
    try:
        query.processAllAvailable()  # forces reader init → bind
        host, port = _await_addr(addr_file)
        lines = [
            "<165>1 2026-08-15T01:02:03Z web01 nginx 4242 MID7 - request ok",
            "<13>Aug  5 11:22:33 db01 postgres[99]: checkpoint complete",
            "<165>1 2026-08-15T01:02:04Z web01 nginx 4242 MID8 - request ok",
        ]
        if proto == "udp":
            s = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
            for ln in lines:
                s.sendto(ln.encode(), (host, port))
            s.close()
        else:
            s = socket.create_connection((host, port))
            s.sendall(("\n".join(lines) + "\n").encode())
            s.close()
        got = _await_rows(spark, query, name, len(lines))
        assert got == len(lines)
        rows = spark.sql(f"SELECT raw, peer FROM {name}").collect()
        assert sorted(r.raw for r in rows) == sorted(lines)
        assert all(r.peer.startswith("127.0.0.1:") for r in rows)
    finally:
        query.stop()


def test_syslog_replay_acks_in_commit_order(spark, sf_dir, tmp_path):
    """Replay transport: every capture line is delivered exactly once
    and acked on checkpoint commit, in offset order — the T4 contract
    observable from outside the streaming subprocess."""
    cap = syslog_capture_dir(spark, sf_dir)
    ack_log = tmp_path / "acks.ndjson"
    src = SyslogSource(
        transport="replay", capture_path=cap, ack_log=str(ack_log), chunk_size=500
    )
    query, name = _start_to_memory(spark, src)
    try:
        query.processAllAvailable()
        # chunked replay: keep draining until the generator is dry
        for _ in range(40):
            before = spark.sql(f"SELECT count(*) c FROM {name}").first().c
            query.processAllAvailable()
            time.sleep(0.05)
            query.processAllAvailable()
            after = spark.sql(f"SELECT count(*) c FROM {name}").first().c
            if after == before and before > 0:
                break
        n = spark.sql(f"SELECT count(*) c FROM {name}").first().c
    finally:
        query.stop()
    import duckdb

    expect = duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/events.parquet'").fetchone()[0]
    assert n == expect
    acks = [json.loads(l) for l in ack_log.read_text().splitlines()]
    seqs = [a["seq"] for a in acks]
    assert seqs == sorted(seqs)
    assert len(seqs) >= n - 500  # final chunk may still be pending at stop


def test_parse_rfc3164_space_padded_day(spark):
    """RFC 3164 wire format space-pads single-digit days ('Aug  5');
    the fixture writes zero-padded — the parser must take both."""
    df = spark.createDataFrame(
        [
            Row(raw="<13>Aug  5 11:22:33 db01 postgres[99]: msg a"),
            Row(raw="<13>Aug 05 11:22:33 db01 postgres[99]: msg b"),
            Row(raw="<13>Aug 15 11:22:33 db01 postgres[99]: msg c"),
        ]
    )
    out = df.select(
        SL.facility("raw").alias("fac"),
        SL.severity("raw").alias("sev"),
        SL.host("raw").alias("host"),
        SL.app("raw").alias("app"),
        SL.procid("raw").alias("pid"),
        SL.ts_raw("raw").alias("ts"),
        SL.message("raw").alias("msg"),
    ).collect()
    assert all(r.fac == 1 and r.sev == 5 for r in out)
    assert all(r.host == "db01" and r.app == "postgres" and r.pid == 99 for r in out)
    assert [r.ts for r in out] == ["Aug 5 11:22:33", "Aug 05 11:22:33", "Aug 15 11:22:33"]
    assert [r.msg for r in out] == ["msg a", "msg b", "msg c"]


def test_parse_rfc5424_nil_and_sd(spark):
    """Nil PROCID → NULL; bracketed structured data is consumed and the
    free-form MSG survives verbatim."""
    df = spark.createDataFrame(
        [
            Row(raw='<34>1 2026-01-01T00:00:00Z h app - - [x@1 k="v"] body text'),
            Row(raw="<34>1 2026-01-01T00:00:00Z h app 7 M - body2"),
            Row(raw="not syslog at all"),
        ]
    )
    out = df.select(
        SL.facility("raw").alias("fac"),
        SL.procid("raw").alias("pid"),
        SL.message("raw").alias("msg"),
        SL.is_rfc5424("raw").alias("v1"),
    ).collect()
    assert out[0].pid is None and out[0].msg == "body text" and out[0].v1
    assert out[1].pid == 7 and out[1].msg == "body2"
    assert out[2].fac is None and not out[2].v1 and out[2].msg == ""


def test_parsed_forced_single_grammar(spark):
    """content_type='rfc5424'/'rfc3164' must force the named grammar:
    a line of the OTHER format yields an all-NULL struct instead of
    being silently parsed by the sibling regex (r8 advice — the forced
    values previously aliased auto-detection)."""
    line_3164 = "<13>Aug 15 11:22:33 db01 postgres[99]: msg a"
    line_5424 = "<34>1 2026-01-01T00:00:00Z h app 7 M - body2"
    df = spark.createDataFrame([Row(raw=line_3164), Row(raw=line_5424)])
    out = df.select(
        SL.parsed_forced("raw", "rfc5424").alias("f54"),
        SL.parsed_forced("raw", "rfc3164").alias("f31"),
    ).collect()
    # row 0 is 3164: forced-5424 all NULL, forced-3164 parses
    assert out[0].f54.pri is None and out[0].f54.message is None
    assert out[0].f54.rfc5424 is None
    assert out[0].f31.host == "db01" and out[0].f31.procid == 99
    assert out[0].f31.rfc5424 is False
    # row 1 is 5424: forced-3164 all NULL, forced-5424 parses
    assert out[1].f31.pri is None and out[1].f31.message is None
    assert out[1].f54.host == "h" and out[1].f54.procid == 7
    assert out[1].f54.message == "body2" and out[1].f54.rfc5424 is True

    import pytest as _pytest

    with _pytest.raises(ValueError, match="forced grammar"):
        SL.parsed_forced("raw", "rfc9999")
    from cheetah_spark.sources.syslog_live import SyslogSource as _S

    with _pytest.raises(ValueError, match="content_type"):
        _S(transport="replay", capture_path="/tmp/x", content_type="bogus").read(spark)


def test_replay_bare_text_json_payload_line(tmp_path, spark):
    """A bare-text capture whose message starts with '{' (JSON-payload
    syslog) must replay as a raw record, not JSONDecodeError the pump
    (r8 advice)."""
    from cheetah_spark.sources.syslog_live import _replay_records

    cap = tmp_path / "cap.txt"
    cap.write_text(
        '{"not": "an ndjson capture record"\n'  # malformed JSON too
        '{"raw": "<13>Aug 15 11:22:33 h app: x", "peer": "1.2.3.4:514"}\n'
        "<13>Aug 15 11:22:33 h app: plain\n"
    )
    got = list(_replay_records(str(cap)))
    assert got == [
        ('{"not": "an ndjson capture record"', "replay:0"),
        ("<13>Aug 15 11:22:33 h app: x", "1.2.3.4:514"),
        ("<13>Aug 15 11:22:33 h app: plain", "replay:0"),
    ]


def test_syslog_config_type(spark, tmp_path):
    """kawad config parity: {"type":"syslog","addr":...} builds the
    live source through the daemon config surface (README.md:168-177),
    camelCase contentType accepted."""
    from cheetah_spark.config import build_source

    src = build_source(
        {
            "type": "syslog",
            "addr": "127.0.0.1:0",
            "contentType": "auto",
            "transport": "replay",
            "capture_path": str(tmp_path / "nocap.txt"),
        }
    )
    assert isinstance(src, SyslogSource)
    assert src.content_type == "auto"
    (tmp_path / "nocap.txt").write_text("<13>Aug 05 11:22:33 db01 app[1]: hi\n")
    df = src.read(spark)
    assert df.isStreaming
    assert "syslog" in df.columns  # content_type=auto appends the parsed struct


def test_config_daemon_syslog_to_webhook_end_to_end(spark, sf_dir, tmp_path):
    """Full kawad-parity daemon flow from ONE config dict: syslog
    source (replay transport) → sql transform (parse + filter on
    severity) → runreveal-style webhook destination — streaming
    micro-batches POSTing NDJSON to a real loopback receiver. The
    received records must equal the relational recompute over the same
    capture."""
    import json as _json

    from pyspark.sql import functions as F

    from cheetah_spark.config import pipeline_from_config
    from cheetah_spark.queries.webhook import SpoolReceiver

    cap = syslog_capture_dir(spark, sf_dir)
    recv = SpoolReceiver(str(tmp_path / "spool"))
    try:
        pipe = pipeline_from_config(
            {
                "source": {
                    "type": "syslog",
                    "transport": "replay",
                    "capture_path": cap,
                    "chunk_size": 4000,
                },
                "transforms": [
                    {
                        "type": "sql",
                        "query": (
                            "SELECT raw FROM __input__"  # keep it map-only: parse below
                        ),
                    },
                ],
                "sink": {
                    "type": "runreveal",
                    "webhookURL": recv.url,
                    "batchSize": 500,
                    "checkpoint": str(tmp_path / "ckpt"),
                    # chunked replay delivers across MANY micro-batches;
                    # the default availableNow trigger would stop after
                    # the data available at start (= the first chunk)
                    "trigger": {"processingTime": "0 seconds"},
                },
            }
        )
        q = pipe.run(spark)
        assert q is not None  # streaming source → StreamingQuery
        # replay chunks drain across several processAllAvailable passes
        import time as _time

        for _ in range(40):
            q.processAllAvailable()
            _time.sleep(0.05)
            q.processAllAvailable()
            got = sum(
                1
                for p in (tmp_path / "spool").iterdir()
                if p.name.startswith("req_")
                for _l in p.read_text().splitlines()
            )
            if got >= 10000:
                break
        q.stop()
    finally:
        recv.close()
    lines = [
        _json.loads(l)["raw"]
        for p in sorted((tmp_path / "spool").iterdir())
        if p.name.startswith("req_")
        for l in p.read_text().splitlines()
    ]
    import duckdb

    expect = duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/events.parquet'").fetchone()[0]
    assert len(lines) == expect
    # spot-check the payload really is the capture's raw lines
    assert sum(1 for l in lines if l.startswith("garbage ")) == len(
        [l for l in lines if "garbage" in l]
    )
    n_5424 = sum(1 for l in lines if l.split(">", 1)[0].lstrip("<").isdigit() and ">1 " in l)
    got_duck = duckdb.sql(
        f"""SELECT count(*) FROM '{sf_dir}/events.parquet'
            WHERE event_id % 97 != 0 AND (event_id + user_id) % 2 = 0"""
    ).fetchone()[0]
    assert n_5424 == got_duck


def test_parse_rfc3164_pidless_tag_and_multi_sd(spark):
    """The RFC 3164 specimen has NO bracketed pid (`su: ...`), and
    RFC 5424 lines commonly carry several SD-elements with escaped
    brackets — both must parse to clean fields (r8 self-review)."""
    df = spark.createDataFrame(
        [
            Row(raw="<34>Oct 11 22:14:15 mymachine su: 'su root' failed for lonvick"),
            Row(raw="<13>Aug 15 11:22:33 h kernel: oom-killer invoked"),
            Row(raw='<34>1 2026-01-01T00:00:00Z h app 7 M [a@1 x="1"][b@2 k="v\\]w"] real msg'),
        ]
    )
    out = df.select(
        SL.host("raw").alias("host"),
        SL.app("raw").alias("app"),
        SL.procid("raw").alias("pid"),
        SL.message("raw").alias("msg"),
    ).collect()
    assert out[0].host == "mymachine" and out[0].app == "su" and out[0].pid is None
    assert out[0].msg == "'su root' failed for lonvick"
    assert out[1].app == "kernel" and out[1].msg == "oom-killer invoked"
    assert out[2].msg == "real msg" and out[2].pid == 7


def test_forced_grammar_failure_counter_moves(tmp_path, spark):
    """r9 verdict item #8: a mis-configured forced contentType must be
    VISIBLE in the stream output, not silent NULLs. A forced-5424
    source fed RFC 3164 traffic surfaces every 3164 line as a parse
    failure (all-NULL struct → countable), and the shared rollup's
    per-grammar n_fail_* counters move the same way."""
    from pyspark.sql import functions as F

    from cheetah_spark.queries.syslog import _parse_rollup
    from cheetah_spark.sources.syslog_live import SyslogSource

    lines_3164 = [f"<13>Aug 15 11:22:3{i} db0{i} postgres[9{i}]: m{i}" for i in range(4)]
    lines_5424 = [f"<34>1 2026-01-01T00:00:0{i}Z h app 7 M - body{i}" for i in range(2)]
    cap = tmp_path / "mixed.txt"
    cap.write_text("\n".join(lines_3164 + lines_5424) + "\n")

    def drained(content_type):
        src = SyslogSource(
            transport="replay", capture_path=str(cap), content_type=content_type
        )
        name = f"sink_fg_{content_type}"
        q = (
            src.read(spark)
            .writeStream.format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{content_type}"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name)

    # forced-5424 source over mostly-3164 traffic: the failure count
    # (rejected lines = all-NULL structs) equals the 3164 line count
    out54 = drained("rfc5424")
    fails54 = out54.where(F.col("syslog.pri").isNull()).count()
    assert fails54 == len(lines_3164)
    # and the counter MOVES when the forced grammar matches the traffic
    out31 = drained("rfc3164")
    fails31 = out31.where(F.col("syslog.pri").isNull()).count()
    assert fails31 == len(lines_5424)
    assert fails54 != fails31

    # the shared rollup surfaces the same signal per grammar: total
    # n_fail_rfc5424 over the mixed capture == the 3164 lines, and
    # n_fail_rfc3164 == the 5424 lines
    roll = _parse_rollup(spark.read.text(str(cap)), F.col("value"))
    agg = roll.agg(
        F.sum("n_fail_rfc5424").alias("f54"), F.sum("n_fail_rfc3164").alias("f31")
    ).first()
    assert agg.f54 == len(lines_3164) and agg.f31 == len(lines_5424)
