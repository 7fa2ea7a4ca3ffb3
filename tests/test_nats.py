"""NATS connector conformance: protocol framing + the loopback NATS
server over real sockets, wildcard/queue-group semantics, the
streaming source's live SUB listener end-to-end, sink↔subscriber
round-trip, and the config types — the wishlist-#3 counterpart of
tests/test_redis.py."""

from __future__ import annotations

import json
import time
import uuid

from cheetah_spark.sources.nats_live import (
    MiniNatsServer,
    NatsClient,
    NatsSink,
    NatsSource,
    read_op,
    subject_matches,
)


def _start_to_memory(spark, src):
    name = f"sink_nats_{uuid.uuid4().hex[:10]}"
    ckpt = f"/tmp/cheetah_spark_ckpt/{name}"
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


def test_subject_wildcard_matching():
    """Public NATS subject semantics: '*' one token, '>' trailing
    one-or-more, literal otherwise."""
    assert subject_matches("ev.click", "ev.click")
    assert not subject_matches("ev.click", "ev.click.extra")
    assert subject_matches("ev.*", "ev.click")
    assert not subject_matches("ev.*", "ev.click.u1")
    assert subject_matches("ev.*.u1", "ev.click.u1")
    assert subject_matches("ev.>", "ev.click.u1")
    assert subject_matches(">", "anything.at.all")
    assert not subject_matches("ev.>", "ev")  # '>' needs >=1 token
    assert not subject_matches("other.*", "ev.click")


def test_protocol_codec_roundtrip():
    """Every wire frame the connector speaks parses back: INFO banner,
    MSG with and without reply-to, PUB, SUB with queue group, control
    verbs."""
    import io

    wire = (
        b'INFO {"server_name":"x","proto":1}\r\n'
        b"MSG ev.click 1 5\r\nhello\r\n"
        b"MSG ev.click 1 inbox.7 2\r\nhi\r\n"
        b"PUB out 3\r\nabc\r\n"
        b"PUB out reply.1 0\r\n\r\n"
        b"SUB ev.> 9\r\n"
        b"SUB jobs grp 4\r\n"
        b"UNSUB 9\r\n"
        b"PING\r\nPONG\r\n+OK\r\n-ERR 'bad'\r\n"
    )
    fh = io.BytesIO(wire)
    assert read_op(fh) == ("INFO", {"server_name": "x", "proto": 1})
    assert read_op(fh) == ("MSG", "ev.click", "1", "", b"hello")
    assert read_op(fh) == ("MSG", "ev.click", "1", "inbox.7", b"hi")
    assert read_op(fh) == ("PUB", "out", "", b"abc")
    assert read_op(fh) == ("PUB", "out", "reply.1", b"")
    assert read_op(fh) == ("SUB", "ev.>", "", "9")
    assert read_op(fh) == ("SUB", "jobs", "grp", "4")
    assert read_op(fh) == ("UNSUB", "9")
    assert read_op(fh) == ("PING",)
    assert read_op(fh) == ("PONG",)
    assert read_op(fh) == ("+OK",)
    assert read_op(fh) == ("-ERR", "'bad'")


def test_miniserver_pubsub_wildcards_over_socket():
    """PUB fan-out honors '*'/'>' subscriptions; non-matching
    subscribers stay silent — against the real loopback server,
    through the real client."""
    srv = MiniNatsServer()
    sub_star = NatsClient(srv.addr)
    sub_tail = NatsClient(srv.addr)
    pub = NatsClient(srv.addr)
    try:
        sub_star.sub("ev.*.u1", sid="1")
        sub_tail.sub("ev.>", sid="2")
        sub_star.ping()  # SUBs registered before any PUB
        sub_tail.ping()
        pub.pub("ev.click.u1", "a")
        pub.pub("ev.click.u2", "b")
        pub.pub("other.x", "c")
        got_tail = [sub_tail.next_msg() for _ in range(2)]
        assert [(m[0], m[3]) for m in got_tail] == [
            ("ev.click.u1", "a"),
            ("ev.click.u2", "b"),
        ]
        m = sub_star.next_msg()
        assert (m[0], m[3]) == ("ev.click.u1", "a")
    finally:
        for c in (sub_star, sub_tail, pub):
            c.close()
        srv.close()


def test_miniserver_queue_group_delivers_once():
    """Queue-group semantics: one member per group receives each
    message (deterministic round-robin in the loopback)."""
    srv = MiniNatsServer()
    m1 = NatsClient(srv.addr)
    m2 = NatsClient(srv.addr)
    pub = NatsClient(srv.addr)
    try:
        m1.sub("jobs", sid="1", queue="workers")
        m2.sub("jobs", sid="1", queue="workers")
        m1.ping()
        m2.ping()
        for i in range(4):
            pub.pub("jobs", f"j{i}")
        # 4 messages split between the two members, round-robin
        got1 = [m1.next_msg()[3] for _ in range(2)]
        got2 = [m2.next_msg()[3] for _ in range(2)]
        assert sorted(got1 + got2) == ["j0", "j1", "j2", "j3"]
        assert len(got1) == len(got2) == 2
    finally:
        for c in (m1, m2, pub):
            c.close()
        srv.close()


def test_nats_live_socket_streaming_end_to_end(spark):
    """The full production path: the cheetah-nats data source's SUB
    listener (running in the data-source runner process, over a real
    TCP socket) delivers every message published AFTER the
    subscription into the memory sink."""
    srv = MiniNatsServer()
    src = NatsSource(addr=srv.addr, subject="live.>", transport="socket", streaming=True)
    query, name = _start_to_memory(spark, src)
    try:
        # the reader SUBs during initialOffset (first batch); give the
        # runner process time to register, then publish
        deadline = time.time() + 30
        while time.time() < deadline:
            query.processAllAvailable()
            if query.lastProgress is not None:
                break
            time.sleep(0.2)
        pub = NatsClient(srv.addr)
        msgs = [(f"live.t{i % 3}", json.dumps({"n": i})) for i in range(20)]
        for subject, payload in msgs:
            pub.pub(subject, payload)
        pub.close()
        got = _await_rows(spark, query, name, len(msgs))
        assert got == len(msgs)
        rows = spark.sql(
            f"SELECT subject, payload FROM {name} ORDER BY CAST(get_json_object(payload, '$.n') AS INT)"
        ).collect()
        assert [(r.subject, r.payload) for r in rows] == msgs
    finally:
        query.stop()
        srv.close()


def test_nats_sink_publishes_batch(spark):
    """NatsSink PUBs per partition over real sockets; a subscriber on
    the loopback server receives every row."""
    srv = MiniNatsServer()
    sub = NatsClient(srv.addr)
    try:
        sub.sub("out.>", sid="1")
        sub.ping()
        df = spark.createDataFrame(
            [(f"out.s{i % 2}", "", json.dumps({"i": i})) for i in range(8)],
            "subject string, reply_to string, payload string",
        ).coalesce(1)
        NatsSink(addr=srv.addr, transport="socket").write(df)
        got = sorted(sub.next_msg()[3] for _ in range(8))
        assert got == sorted(json.dumps({"i": i}) for i in range(8))
    finally:
        sub.close()
        srv.close()


def test_nats_sink_streaming_socket(spark, tmp_path):
    """A STREAMING frame through the socket sink: rows PUB'd per
    micro-batch via foreachBatch land on a live subscriber."""
    srv = MiniNatsServer()
    sub = NatsClient(srv.addr)
    try:
        sub.sub("sq", sid="1")
        sub.ping()
        feed = tmp_path / "feed"
        feed.mkdir()
        (feed / "a.json").write_text(
            "\n".join(
                json.dumps({"subject": "sq", "reply_to": "", "payload": f"p{i}"})
                for i in range(6)
            )
        )
        src = (
            spark.readStream.schema("subject string, reply_to string, payload string")
            .json(str(feed))
        )
        q = NatsSink(
            addr=srv.addr, transport="socket", checkpoint=str(tmp_path / "ckpt")
        ).write(src)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(sub.next_msg()[3] for _ in range(6))
        assert got == sorted(f"p{i}" for i in range(6))
    finally:
        sub.close()
        srv.close()


def test_nats_config_types(spark):
    """{"type":"nats"} source/sink blocks load with camelCase keys."""
    from cheetah_spark.config import build_sink, build_source

    src = build_source(
        {
            "type": "nats",
            "addr": "127.0.0.1:4222",
            "subject": "ev.>",
            "transport": "replay",
            "capturePath": "/tmp/cap",
            "chunkSize": 500,
        }
    )
    assert isinstance(src, NatsSource)
    assert src.capture_path == "/tmp/cap" and src.chunk_size == 500

    sink = build_sink({"type": "nats", "addr": "127.0.0.1:4222", "subject": "out"})
    assert isinstance(sink, NatsSink)


def test_nats_batch_socket_is_rejected(spark):
    """Core NATS has no server-side history: a batch read over the
    socket transport must fail loudly (JetStream is the upgrade path),
    not silently return empty."""
    import pytest

    with pytest.raises(ValueError, match="JetStream"):
        NatsSource(addr="127.0.0.1:4222", transport="socket", streaming=False).read(spark)


def test_nats_replay_streaming_matches_batch(spark, sf_dir):
    """Streaming/batch agreement over the recorded capture — the gate
    the driver also checks via the shared oracle."""
    from cheetah_spark.queries.nats import q_nats_envelope, s_nats_replay

    b = sorted(tuple(r) for r in q_nats_envelope(spark, sf_dir).collect())
    s = sorted(tuple(r) for r in s_nats_replay(spark, sf_dir).collect())
    assert b == s and len(b) == 10  # ten user shards of ev.click


def test_nats_replay_follows_sink_manifest(spark, tmp_path):
    """A capture written by the streaming replay sink carries a
    ``_spark_metadata`` manifest. A part file it does not list (what a
    crash before the batch commit leaves behind) is not part of the
    capture: the batch reader skips it, so the streaming replay must
    skip it too."""
    import glob
    import shutil

    from cheetah_spark.streaming import run_stream_to_completion

    feed = tmp_path / "feed"
    feed.mkdir()
    (feed / "a.json").write_text(
        "\n".join(
            json.dumps({"subject": f"ev.{i}", "reply_to": "", "payload": f"p{i}"})
            for i in range(10)
        )
    )
    cap = str(tmp_path / "cap")
    src = spark.readStream.schema("subject string, reply_to string, payload string").json(
        str(feed)
    )
    q = NatsSink(transport="replay", capture_path=cap).write(src)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    (part,) = glob.glob(f"{cap}/part-*.json")
    shutil.copy(part, f"{cap}/part-00001-{uuid.uuid4()}-c000.json")

    batch = NatsSource(transport="replay", capture_path=cap, streaming=False).read(spark)
    stream = run_stream_to_completion(
        NatsSource(transport="replay", capture_path=cap, chunk_size=4).read(spark),
        lambda df: df,
    )
    b = sorted(tuple(r) for r in batch.collect())
    s = sorted(tuple(r) for r in stream.collect())
    assert len(b) == 10
    assert s == b
