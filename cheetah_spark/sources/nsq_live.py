"""NSQ source/sink — the reference wishlist's "NSQ?" entry (reference
README.md:301-311 "Source / Destination Wishlist"), built on the
PUBLIC NSQ TCP protocol (nsq.io/clients/tcp_protocol_spec: the
``  V2`` magic, size-prefixed IDENTIFY/PUB bodies, line commands
SUB/RDY/FIN/REQ/NOP/CLS, and ``[size][frame-type][data]`` server
frames with 0=response / 1=error / 2=message, where a message is
``[8B ns-timestamp][2B attempts][16B id][body]``), spoken directly
over stdlib TCP sockets like the NATS/AMQP connectors.

Transports, the connector-family discipline:

- ``transport="socket"`` — a REAL NSQ connection over stdlib TCP.
  :class:`NsqClient` speaks the protocol verbatim; :class:`MiniNsqServer`
  is a loopback nsqd the conformance tests run against (threaded
  stdlib sockets, topics fanning out to channels, per-channel queues
  with RDY flow control, FIN acks, REQ requeues, heartbeat frames,
  and REQUEUE of in-flight messages when a consumer connection drops)
  — a real nsqd accepts the identical bytes.
- ``transport="replay"`` — a deterministic NDJSON capture (schema:
  ``topic, channel, body``) delivered in bounded chunks per
  micro-batch, batch or streaming.

Rows surface as ``topic string, message_id string, attempts int,
body string``. NSQ is at-least-once when consumers FIN: the
seq-window reader fires ``FIN <id>`` on checkpoint commit (reference
kawa T4 ackFn semantics, processor.go:101-118), and nsqd requeues
in-flight messages when the consumer drops or its msg timeout lapses
— so the lost-window policy is the MQTT QoS≥1 / AMQP one: warn and
rely on requeue."""

from __future__ import annotations

import itertools
import json
import socket
import struct
import threading
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.sinks import Sink, write_transport
from cheetah_spark.sources import Source
from cheetah_spark.sources.seqwindow import (
    AckHandle,
    LiveDataSource,
    LoopbackServer,
    SeqWindowStreamReader,
    load_stream,
)

NSQ_SCHEMA = "topic string, message_id string, attempts int, body string"

_MAGIC = b"  V2"
FRAME_RESPONSE, FRAME_ERROR, FRAME_MESSAGE = 0, 1, 2


def _frame(ftype: int, data: bytes) -> bytes:
    return struct.pack(">II", len(data) + 4, ftype) + data


def _msg_payload(ts_ns: int, attempts: int, mid: bytes, body: bytes) -> bytes:
    if len(mid) != 16:
        raise ValueError("nsq: message id must be 16 bytes")
    return struct.pack(">qH", ts_ns, attempts) + mid + body


def _read_frame(fh):
    head = fh.read(4)
    if len(head) < 4:
        raise ConnectionError("nsq: connection closed")
    (size,) = struct.unpack(">I", head)
    payload = fh.read(size)
    if len(payload) < size:
        raise ConnectionError("nsq: truncated frame")
    (ftype,) = struct.unpack(">I", payload[:4])
    return ftype, payload[4:]


def _parse_message(data: bytes):
    ts_ns, attempts = struct.unpack(">qH", data[:10])
    mid = data[10:26].decode("ascii")
    body = data[26:]
    return ts_ns, attempts, mid, body


class NsqClient:
    """Minimal NSQ client (stdlib socket): magic, IDENTIFY, then
    PUB / SUB+RDY / next_message / FIN / REQ. One instance per
    thread/partition."""

    def __init__(self, addr: str):
        host, _, port = addr.rpartition(":")
        self._sock = socket.create_connection((host or "127.0.0.1", int(port)))
        self._fh = self._sock.makefile("rb")
        self._send_lock = threading.Lock()
        self._send(_MAGIC)
        body = json.dumps({"client_id": "cheetah", "feature_negotiation": False}).encode()
        self._send(b"IDENTIFY\n" + struct.pack(">I", len(body)) + body)
        self._expect_response(b"OK")

    def _send(self, data: bytes) -> None:
        with self._send_lock:
            self._sock.sendall(data)

    def _expect_response(self, want: bytes) -> None:
        ftype, data = _read_frame(self._fh)
        if ftype == FRAME_ERROR:
            raise RuntimeError(f"nsq error: {data.decode()}")
        if ftype != FRAME_RESPONSE or data != want:
            raise RuntimeError(f"nsq: expected {want!r}, got frame {ftype} {data!r}")

    def pub(self, topic: str, body) -> None:
        if isinstance(body, str):
            body = body.encode("utf-8")
        self._send(f"PUB {topic}\n".encode() + struct.pack(">I", len(body)) + body)
        self._expect_response(b"OK")

    def sub(self, topic: str, channel: str) -> None:
        self._send(f"SUB {topic} {channel}\n".encode())
        self._expect_response(b"OK")

    def rdy(self, count: int) -> None:
        self._send(f"RDY {count}\n".encode())

    def fin(self, message_id: str) -> None:
        self._send(f"FIN {message_id}\n".encode())

    def req(self, message_id: str, timeout_ms: int = 0) -> None:
        self._send(f"REQ {message_id} {timeout_ms}\n".encode())

    def next_message(self):
        """Block for the next message frame → (message_id, attempts,
        body:str). Answers heartbeats with NOP transparently."""
        while True:
            ftype, data = _read_frame(self._fh)
            if ftype == FRAME_MESSAGE:
                _ts, attempts, mid, body = _parse_message(data)
                return mid, attempts, body.decode("utf-8")
            if ftype == FRAME_RESPONSE:
                if data == b"_heartbeat_":
                    self._send(b"NOP\n")
                continue
            if ftype == FRAME_ERROR:
                raise RuntimeError(f"nsq error: {data.decode()}")

    def close(self) -> None:
        try:
            self._send(b"CLS\n")
        except OSError:
            pass
        try:
            self._sock.shutdown(socket.SHUT_RDWR)
        except OSError:
            pass
        try:
            self._fh.close()
        except OSError:
            pass
        try:
            self._sock.close()
        except OSError:
            pass


class _Channel:
    def __init__(self, name: str):
        self.name = name
        self.queue: list[tuple[str, bytes, int]] = []  # (mid, body, attempts)
        self.in_flight: dict[str, tuple[int, bytes, int]] = {}  # mid -> (conn-id, body, attempts)
        self.consumer = None  # (conn, rdy_remaining)


class MiniNsqServer(LoopbackServer):
    """Loopback nsqd: magic + IDENTIFY, topics fanning out to channels
    (every channel receives every message; consumers on one channel
    share its queue), RDY flow control, FIN acks, REQ requeues, and
    REQUEUE of in-flight messages when a consumer connection drops —
    the at-least-once contract FIN-on-commit relies on."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._topics: dict[str, dict[str, _Channel]] = {}
        self._parked: dict[str, list[bytes]] = {}  # PUBs before any channel
        self._mid = itertools.count(1)
        super().__init__(host, port)

    def _serve(self, conn) -> None:
        fh = conn.makefile("rb")
        if fh.read(4) != _MAGIC:
            return
        while not self._closing:
            line = fh.readline()
            if not line:
                return
            parts = line.rstrip(b"\n").split(b" ")
            verb = parts[0].decode()
            if verb == "IDENTIFY":
                (n,) = struct.unpack(">I", fh.read(4))
                fh.read(n)
                self._send(conn, _frame(FRAME_RESPONSE, b"OK"))
            elif verb == "PUB":
                topic = parts[1].decode()
                (n,) = struct.unpack(">I", fh.read(4))
                body = fh.read(n)
                self._publish(topic, body)
                self._send(conn, _frame(FRAME_RESPONSE, b"OK"))
            elif verb == "SUB":
                topic, channel = parts[1].decode(), parts[2].decode()
                with self._lock:
                    ch = self._channel(topic, channel)
                    ch.consumer = (conn, 0)
                self._send(conn, _frame(FRAME_RESPONSE, b"OK"))
            elif verb == "RDY":
                count = int(parts[1])
                self._set_rdy(conn, count)
            elif verb == "FIN":
                self._fin(parts[1].decode())
            elif verb == "REQ":
                self._req(parts[1].decode())
            elif verb == "NOP":
                continue
            elif verb == "CLS":
                self._send(conn, _frame(FRAME_RESPONSE, b"CLOSE_WAIT"))
                return
            else:
                self._send(conn, _frame(FRAME_ERROR, b"E_INVALID"))

    def _channel(self, topic: str, channel: str) -> _Channel:
        chans = self._topics.setdefault(topic, {})
        if channel not in chans:
            chans[channel] = _Channel(channel)
            # real-nsqd semantics: messages PUB'd before any channel
            # existed are parked on the topic and copied into the first
            # channel(s) created afterwards
            for body in self._parked.pop(topic, []):
                chans[channel].queue.append((f"{next(self._mid):016d}", body, 1))
        return chans[channel]

    def _publish(self, topic: str, body: bytes) -> None:
        deliveries = []
        with self._lock:
            chans = self._topics.setdefault(topic, {})
            for ch in chans.values():
                mid = f"{next(self._mid):016d}"
                ch.queue.append((mid, body, 1))
                deliveries.append(ch)
            if not chans:
                self._parked.setdefault(topic, []).append(body)
        for ch in deliveries:
            self._pump_channel(ch)

    def _set_rdy(self, conn, count: int) -> None:
        with self._lock:
            targets = []
            for chans in self._topics.values():
                for ch in chans.values():
                    if ch.consumer is not None and ch.consumer[0] is conn:
                        ch.consumer = (conn, count)
                        targets.append(ch)
        for ch in targets:
            self._pump_channel(ch)

    def _pump_channel(self, ch: _Channel) -> None:
        while True:
            with self._lock:
                if ch.consumer is None or ch.consumer[1] <= 0 or not ch.queue:
                    return
                conn, rdy = ch.consumer
                mid, body, attempts = ch.queue.pop(0)
                ch.consumer = (conn, rdy - 1)
                ch.in_flight[mid] = (id(conn), body, attempts)
            try:
                self._send(
                    conn,
                    _frame(
                        FRAME_MESSAGE,
                        _msg_payload(0, attempts, mid.encode("ascii"), body),
                    ),
                )
            except OSError:
                self._drop(conn)
                return

    def _fin(self, mid: str) -> None:
        with self._lock:
            for chans in self._topics.values():
                for ch in chans.values():
                    ch.in_flight.pop(mid, None)

    def _req(self, mid: str) -> None:
        targets = []
        with self._lock:
            for chans in self._topics.values():
                for ch in chans.values():
                    got = ch.in_flight.pop(mid, None)
                    if got is not None:
                        _cid, body, attempts = got
                        ch.queue.insert(0, (mid, body, attempts + 1))
                        targets.append(ch)
        for ch in targets:
            self._pump_channel(ch)

    def _on_disconnect(self, conn) -> None:
        with self._lock:
            for chans in self._topics.values():
                for ch in chans.values():
                    if ch.consumer is not None and ch.consumer[0] is conn:
                        ch.consumer = None
                    mine = [m for m, (cid, _, _) in ch.in_flight.items() if cid == id(conn)]
                    for m in sorted(mine):
                        _cid, body, attempts = ch.in_flight.pop(m)
                        ch.queue.insert(0, (m, body, attempts + 1))

    # -- introspection for tests ----------------------------------------------
    def in_flight_count(self) -> int:
        with self._lock:
            return sum(
                len(ch.in_flight)
                for chans in self._topics.values()
                for ch in chans.values()
            )

    def queued_count(self, topic: str, channel: str) -> int:
        with self._lock:
            return len(self._topics.get(topic, {}).get(channel, _Channel("")).queue)


# ---------------------------------------------------------------------------
# Source config + streaming reader (seq-window core)
# ---------------------------------------------------------------------------


@dataclass
class NsqSource(Source):
    """Config type ``{"type":"nsq","addr":...,"topic":...,
    "channel":...}``."""

    addr: str = ""
    topic: str = "ev"
    channel: str = "cheetah"
    rdy: int = 2500
    transport: str = "socket"  # socket | replay
    capture_path: str = ""
    chunk_size: int = 0
    streaming: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        if not self.streaming:
            # batch is only meaningful over a capture: an NSQ channel
            # drains on consume+FIN; there is no history to snapshot
            if self.transport.lower() != "replay":
                raise ValueError(
                    "nsq: batch reads need transport='replay' — a channel "
                    "drains on consume; use a capture"
                )
            env = (
                spark.read.schema("topic string, body string")
                .json(self.capture_path)
                .select(
                    "topic",
                    F.lit("").alias("message_id"),
                    F.lit(1).alias("attempts"),
                    "body",
                )
            )
            if self.topic:
                env = env.where(F.col("topic") == self.topic)
            return env
        return load_stream(spark, NsqStreamDataSource, self)


class _NsqSimpleStreamReader(SeqWindowStreamReader):
    """Seq-window reader over a SUB + RDY connection / replay capture.
    Items are ``(topic, message_id, attempts, body)``. Acks:
    ``FIN <id>`` fires on checkpoint commit (reference kawa T4 ackFn);
    a lost replay window warns and relies on in-flight requeue (the
    MQTT QoS>=1 / AMQP policy)."""

    NAME = "nsq"
    SOURCE = NsqSource

    def _connect(self) -> NsqClient:
        c = NsqClient(self._src.addr)
        c.sub(self._src.topic, self._src.channel)
        c.rdy(self._src.rdy)
        return c

    def _poll(self, client: NsqClient):
        mid, attempts, body = client.next_message()
        return ((self._src.topic, mid, attempts, body),)

    def _replay_item(self, rec: dict) -> tuple:
        # replay has no nsqd to FIN: message_id None, attempts 1
        return rec["topic"], None, 1, rec["body"]

    def _row_of(self, item: tuple) -> tuple:
        topic, mid, attempts, body = item
        return (topic, mid or "", attempts, body)

    def _ack_of(self, item, seq: int, listener):
        mid = item[1]
        return None if mid is None else AckHandle(listener.client.fin, mid)

    def _on_lost_window(self, start_seq: int, end_seq: int) -> None:
        import warnings

        warnings.warn(
            f"nsq: replay window [{start_seq},{end_seq}) lost after restart; "
            "messages in it were never FIN'd — nsqd requeues in-flight "
            "messages on disconnect/timeout (at-least-once)",
            stacklevel=2,
        )


class NsqStreamDataSource(LiveDataSource):
    """``spark.readStream.format("cheetah-nsq")`` — an NSQ channel
    consumer as a Python streaming data source."""

    NAME, SCHEMA, READER = "cheetah-nsq", NSQ_SCHEMA, _NsqSimpleStreamReader


# ---------------------------------------------------------------------------
# Sink adapter (config type)
# ---------------------------------------------------------------------------


@dataclass
class NsqSink(Sink):
    """PUB every row (``topic, body`` — missing columns default to the
    configured topic / a JSON struct of the row). One socket per
    partition; replay transport appends the NDJSON capture the source
    reads."""

    addr: str = ""
    topic: str = "out"
    transport: str = "socket"  # socket | replay
    capture_path: str = ""
    checkpoint: Optional[str] = None
    trigger: Optional[dict] = None

    def write(self, df: DataFrame):
        cols = set(df.columns)
        topic_col = F.col("topic") if "topic" in cols else F.lit(self.topic)
        body_col = (
            F.col("body")
            if "body" in cols
            else F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        )
        out = df.select(topic_col.alias("topic"), body_col.alias("body"))
        addr = self.addr

        def send(rows):
            client = None
            try:
                for r in rows:
                    if client is None:
                        client = NsqClient(addr)
                    client.pub(r.topic, r.body)
            finally:
                if client is not None:
                    client.close()

        return write_transport(
            out, self.transport, "socket", "nsq", self.capture_path, send,
            self.checkpoint, self.trigger,
        )
