"""The live-transport shell every broker source runs on
(``sources/seqwindow.py``): the chunked replay pump, the capture lister
with its file-sink manifest rule, the NDJSON replay path, the listener
loop, the ack handle, the fatal-error path and the options → Source
parser. No Spark session: these are plain-Python units."""

from __future__ import annotations

import dataclasses
import json
import pickle
import queue
import threading
import time
from types import SimpleNamespace

import pytest

from cheetah_spark.sources.amqp_live import AmqpSource
from cheetah_spark.sources.eventlog_live import EventLogLiveSource
from cheetah_spark.sources.journald_live import JournaldSource
from cheetah_spark.sources.kinesis_live import KinesisSource
from cheetah_spark.sources.mqtt_live import MqttLiveSource
from cheetah_spark.sources.nats_live import NatsSource, _NatsSimpleStreamReader
from cheetah_spark.sources.nsq_live import NsqSource, _NsqSimpleStreamReader
from cheetah_spark.sources.pubsub_live import PubSubSource
from cheetah_spark.sources.redis_live import RedisSource, _RedisSimpleStreamReader
from cheetah_spark.sources.seqwindow import (
    AckHandle,
    ListenerLoop,
    ReplayPump,
    capture_files,
    capture_lines,
    source_from_options,
    source_options,
)
from cheetah_spark.sources.syslog_live import SyslogSource
from cheetah_spark.sources.zmq_live import ZmqSource


def _pump(items, chunk_size):
    got: list = []
    return ReplayPump(items, chunk_size, got.append), got


def test_pump_drains_at_construction_when_chunk_size_not_positive():
    for chunk_size in (0, -1):
        pump, got = _pump(range(5), chunk_size)
        assert got == [0, 1, 2, 3, 4]
        pump.pump()  # exhausted: no-op
        assert got == [0, 1, 2, 3, 4]


def test_pump_delivers_one_chunk_per_call_then_nothing():
    pulled: list = []

    def items():
        for i in range(7):
            pulled.append(i)
            yield i

    pump, got = _pump(items(), 3)
    assert got == [] and pulled == []  # nothing read before the first batch
    sizes = []
    for _ in range(5):
        before = len(got)
        pump.pump()
        sizes.append(len(got) - before)
    assert sizes == [3, 3, 1, 0, 0]
    assert got == list(range(7))
    # a chunk never reads ahead of what it delivers
    assert pulled == got


def _write(path, lines):
    path.write_text("".join(line + "\n" for line in lines))


def _names(files):
    return [f.rsplit("/", 1)[-1] for f in files]


def test_capture_file_path_is_the_whole_capture(tmp_path):
    f = tmp_path / "capture.log"  # no suffix filter for an explicit file
    _write(f, ['{"a": 1}', "", "   ", '{"a": 2}'])
    assert capture_files(str(f)) == [str(f)]
    assert list(capture_lines(str(f))) == ['{"a": 1}', '{"a": 2}']


def test_capture_directory_sorted_skips_hidden_and_suffixes(tmp_path):
    for name in ("b.json", "a.ndjson", "c.txt", "d.export", "_SUCCESS.json", ".hidden.json"):
        _write(tmp_path / name, [name])
    (tmp_path / "_checkpoint").mkdir()
    d = str(tmp_path)
    assert _names(capture_files(d)) == ["a.ndjson", "b.json"]
    assert _names(capture_files(d, (".json", ".txt"))) == ["b.json", "c.txt"]  # syslog
    assert _names(capture_files(d, (".export", ".txt"))) == ["c.txt", "d.export"]  # journald
    assert _names(capture_files(d, (".json",))) == ["b.json"]  # mqtt
    assert list(capture_lines(d)) == ["a.ndjson", "b.json"]


def test_capture_lines_keep_inner_whitespace(tmp_path):
    f = tmp_path / "x.txt"
    f.write_bytes(b"  <13>indented \r\n\r\n\t\nlast-no-newline")
    assert list(capture_lines(str(f))) == ["  <13>indented ", "last-no-newline"]


def _log(log_dir, name, paths, action="add"):
    entries = [
        json.dumps({"path": f"file://{p}", "size": 1, "isDir": False, "action": action})
        for p in paths
    ]
    _write(log_dir / name, ["v1", *entries])


def test_capture_follows_file_sink_manifest(tmp_path):
    """A directory written by a streaming file sink holds only what its
    ``_spark_metadata`` log committed: the latest compaction plus the
    batches after it. Part files of an uncommitted batch are skipped,
    as Spark's batch reader skips them."""
    log = tmp_path / "_spark_metadata"
    log.mkdir()
    for name in ("p0.json", "p1.json", "p2.json", "p3.json", "stray.json"):
        _write(tmp_path / name, [name])
    _log(log, "8", [tmp_path / "p0.json", tmp_path / "stray.json"])  # superseded by 9.compact
    _log(log, "9.compact", [tmp_path / "p0.json", tmp_path / "p1.json"])
    _log(log, "10", [tmp_path / "p2.json"])
    (log / ".10.crc").write_bytes(b"\0")
    assert _names(capture_files(str(tmp_path))) == ["p0.json", "p1.json", "p2.json"]

    # no compaction yet: every batch file counts
    fresh = tmp_path / "fresh"
    (fresh / "_spark_metadata").mkdir(parents=True)
    for name in ("a b.json", "z.json"):
        _write(fresh / name, [name])
    _log(fresh / "_spark_metadata", "0", [fresh / "a%20b.json"])  # paths are URIs
    assert list(capture_lines(str(fresh))) == ["a b.json"]


def test_ndjson_factory_maps_records_chunks_and_pickles(tmp_path):
    _write(
        tmp_path / "cap.json",
        [json.dumps({"stream": "s", "id": f"{i}-0", "fields": "{}"}) for i in range(5)],
    )
    reader = _RedisSimpleStreamReader(
        {"transport": "replay", "capture_path": str(tmp_path), "chunk_size": "2"}
    )
    reader = pickle.loads(pickle.dumps(reader))  # Spark ships it to the runner
    got: list = []
    offset = {"seq": 0}
    rows, offset = reader.read(offset)
    got += [(stream, sid) for stream, sid, _ in rows]
    assert got == [("s", "0-0"), ("s", "1-0")]
    for _ in range(3):
        rows, offset = reader.read(offset)
        got += [(stream, sid) for stream, sid, _ in rows]
    assert [sid for _, sid in got] == ["0-0", "1-0", "2-0", "3-0", "4-0"]
    assert offset == {"seq": 5}


def test_read_chains_the_transport_error(tmp_path):
    """A fatal transport error fails the read with the transport's own
    exception attached as the cause (its type and traceback survive)."""
    cap = tmp_path / "cap.json"
    cap.write_text("")
    reader = _NatsSimpleStreamReader({"transport": "replay", "capture_path": str(cap)})
    err = ConnectionResetError("peer reset the connection")
    reader._on_error(err)
    with pytest.raises(RuntimeError, match="peer reset") as info:
        reader.read({"seq": 0})
    assert info.value.__cause__ is err


class _FakeClient:
    """A client whose receive blocks until a round is queued or the
    client is closed — a socket's behaviour under the listener loop."""

    def __init__(self, *rounds):
        self.rounds: queue.Queue = queue.Queue()
        for r in rounds:
            self.rounds.put(r)
        self.closed = threading.Event()

    def poll(self):
        while not self.closed.is_set():
            try:
                r = self.rounds.get(timeout=0.01)
            except queue.Empty:
                continue
            if isinstance(r, Exception):
                raise r
            return r
        raise ConnectionError("client closed")

    def close(self):
        self.closed.set()


def _listen(client):
    items: list = []
    errors: list = []
    loop = ListenerLoop(lambda: client, _FakeClient.poll, items.append, errors.append)
    return loop, items, errors


def _wait(cond, timeout=5.0):
    deadline = time.monotonic() + timeout
    while not cond() and time.monotonic() < deadline:
        time.sleep(0.01)
    return cond()


def test_listener_loop_delivers_items_in_poll_order():
    loop, items, errors = _listen(_FakeClient([1, 2], [], [3], [4, 5, 6]))
    assert _wait(lambda: len(items) == 6)
    assert items == [1, 2, 3, 4, 5, 6] and errors == []
    loop.close()


def test_listener_loop_reports_poll_errors_only_while_open():
    boom = OSError("connection lost")
    loop, items, errors = _listen(_FakeClient([1], boom))
    assert _wait(lambda: errors == [boom])
    assert items == [1]
    loop.thread.join(5)
    assert not loop.thread.is_alive()

    # after close(), the receive error that close() provokes is silent
    loop, items, errors = _listen(_FakeClient())
    loop.close()
    loop.thread.join(5)
    assert not loop.thread.is_alive()
    assert errors == [] and items == []


def test_listener_loop_connects_before_it_returns():
    client = _FakeClient()
    connected: list = []

    def connect():
        connected.append(client)
        return client

    loop = ListenerLoop(connect, _FakeClient.poll, lambda item: None, lambda exc: None)
    assert connected == [client] and loop.client is client
    loop.close()
    assert client.closed.is_set()


def test_ack_handle_swallows_a_failing_ack():
    calls: list = []

    def failing_ack(*args):
        calls.append(args)
        raise ConnectionError("broker gone")

    AckHandle(failing_ack, "sub", ["ack-1"]).ack()  # no raise: the broker redelivers
    assert calls == [("sub", ["ack-1"])]


def test_commit_acks_token_items_and_skips_tokenless(tmp_path):
    _write(tmp_path / "cap.json", [json.dumps({"topic": "ev", "body": f"b{i}"}) for i in range(3)])
    reader = _NsqSimpleStreamReader({"transport": "replay", "capture_path": str(tmp_path)})
    rows, offset = reader.read({"seq": 0})
    assert [r[3] for r in rows] == ["b0", "b1", "b2"]
    assert reader._pending == {}  # replay items carry no message id

    fins: list = []
    reader._listener = SimpleNamespace(client=SimpleNamespace(fin=fins.append))
    reader._on_item(("ev", "m-3", 1, "b3"))
    reader._on_item(("ev", "m-4", 2, "b4"))
    rows, offset = reader.read(offset)
    assert list(rows) == [("ev", "m-3", 1, "b3"), ("ev", "m-4", 2, "b4")]
    reader.commit({"seq": 4})
    assert fins == ["m-3"]
    reader.commit(offset)
    assert fins == ["m-3", "m-4"] and reader._pending == {}


_LIVE_SOURCES = [
    AmqpSource,
    NatsSource,
    NsqSource,
    PubSubSource,
    RedisSource,
    ZmqSource,
    KinesisSource,
    MqttLiveSource,
    SyslogSource,
    JournaldSource,
    EventLogLiveSource,
]


def _non_default(f: dataclasses.Field):
    d = f.default
    if isinstance(d, bool):
        return not d
    if isinstance(d, (int, float)):
        return d + 7 if isinstance(d, int) else d + 1.5
    if isinstance(d, tuple):
        return ("--unit=sshd.service", "--priority=4")
    return f"{f.name}-x"


def test_live_source_fields_cover_every_option_type():
    kinds = {type(f.default) for cls in _LIVE_SOURCES for f in dataclasses.fields(cls)}
    assert kinds == {str, int, float, bool, tuple}


@pytest.mark.parametrize("cls", _LIVE_SOURCES, ids=lambda c: c.__name__)
def test_options_round_trip_every_live_source(cls):
    """The Source dataclass is the one declaration of a transport's
    config: its fields travel as string options and the reader
    rebuilds the same dataclass, every field type included."""
    src = cls(**{f.name: _non_default(f) for f in dataclasses.fields(cls)})
    opts = source_options(src)
    assert set(opts) == {f.name for f in dataclasses.fields(cls)}
    assert all(isinstance(v, str) for v in opts.values())
    assert source_from_options(cls, opts) == src
    assert source_from_options(cls, {}) == cls()  # absent: the defaults
