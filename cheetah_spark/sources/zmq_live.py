"""ZeroMQ source/sink — the reference wishlist's "zmq?" entry
(reference README.md:301-311 "Source / Destination Wishlist"), built
on the PUBLIC ZMTP 3.0 wire protocol (rfc.zeromq.org/spec/23: the
64-byte greeting — 10-byte signature ``FF 8*00 7F``, version, NULL
mechanism, filler — then the NULL-security READY command handshake
with ``Socket-Type`` metadata, then frames ``[flags][size][body]``
with MORE/LONG/COMMAND flag bits), spoken directly over stdlib TCP
sockets. PUB/SUB semantics per rfc.zeromq.org/spec/29: subscriptions
travel from SUB to PUB as ``\\x01 + prefix`` / ``\\x00 + prefix``
messages, and a PUB only delivers messages whose first frame starts
with a subscribed prefix (empty prefix = everything).

ZeroMQ is BROKERLESS — there is no server, only peers, and bind vs
connect is independent of message direction:

- ``transport="socket"`` source — a real SUB socket (:class:`ZmqSubSocket`)
  CONNECTING to a PUB endpoint; :class:`ZmqPubSocket` (bind) is the
  loopback peer the conformance tests publish through — a real libzmq
  PUB accepts the identical bytes.
- ``transport="socket"`` sink — PUB sockets CONNECTING (one per
  partition) to a SUB socket that binds (the classic fan-in
  collector shape); each PUB honors the subscription frames its peer
  sends before forwarding, including the slow-joiner rule (nothing is
  sent before a subscription arrives — messages published to an
  unsubscribed PUB are dropped by design, exactly like libzmq).
- ``transport="replay"`` — a deterministic NDJSON capture (schema:
  ``topic, payload``) delivered in bounded chunks per micro-batch.

Rows surface as ``topic string, payload string`` (the conventional
2-frame multipart envelope: topic frame + payload frame). ZeroMQ
PUB/SUB is at-most-once fire-and-forget with NO acks and NO replay —
like core NATS, a missed message is gone (the ``_lost_window`` policy
says so loudly and names a durable queue as the upgrade path)."""

from __future__ import annotations

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
    LiveDataSource,
    LoopbackServer,
    SeqWindowStreamReader,
    load_stream,
)

ZMQ_SCHEMA = "topic string, payload string"

_SIGNATURE = b"\xff" + b"\x00" * 8 + b"\x7f"
_FLAG_MORE, _FLAG_LONG, _FLAG_COMMAND = 0x01, 0x02, 0x04


def _greeting() -> bytes:
    return (
        _SIGNATURE
        + bytes([3, 0])  # ZMTP 3.0
        + b"NULL" + b"\x00" * 16  # mechanism, 20 bytes
        + b"\x00"  # as-server
        + b"\x00" * 31  # filler
    )


def _frame(body: bytes, more: bool = False, command: bool = False) -> bytes:
    flags = (_FLAG_MORE if more else 0) | (_FLAG_COMMAND if command else 0)
    if len(body) > 255:
        return bytes([flags | _FLAG_LONG]) + struct.pack(">Q", len(body)) + body
    return bytes([flags, len(body)]) + body


def _ready_command(socket_type: str) -> bytes:
    name = b"READY"
    meta_key = b"Socket-Type"
    meta_val = socket_type.encode("ascii")
    body = (
        bytes([len(name)]) + name
        + bytes([len(meta_key)]) + meta_key
        + struct.pack(">I", len(meta_val)) + meta_val
    )
    return _frame(body, command=True)


def _read_exact(fh, n: int) -> bytes:
    out = fh.read(n)
    if len(out) < n:
        raise ConnectionError("zmq: connection closed")
    return out


def _read_frame(fh):
    """→ (flags, body)."""
    flags = _read_exact(fh, 1)[0]
    if flags & _FLAG_LONG:
        (size,) = struct.unpack(">Q", _read_exact(fh, 8))
    else:
        size = _read_exact(fh, 1)[0]
    return flags, _read_exact(fh, size)


def _read_multipart(fh):
    """→ (is_command, [frames]) — drains one logical message."""
    frames = []
    while True:
        flags, body = _read_frame(fh)
        frames.append(body)
        if not flags & _FLAG_MORE:
            return bool(flags & _FLAG_COMMAND), frames


def _handshake(sock, socket_type: str) -> "socket.SocketIO":
    """Exchange greeting + READY on a connected socket; returns the
    buffered reader. Raises on mechanism/structure mismatch."""
    sock.sendall(_greeting())
    fh = sock.makefile("rb")
    g = _read_exact(fh, 64)
    if g[0] != 0xFF or g[9] != 0x7F:
        raise RuntimeError("zmq: bad greeting signature")
    mech = g[12:32].rstrip(b"\x00")
    if mech != b"NULL":
        raise RuntimeError(f"zmq: unsupported mechanism {mech!r} (NULL only)")
    sock.sendall(_ready_command(socket_type))
    is_cmd, frames = _read_multipart(fh)
    if not is_cmd or not frames[0].startswith(bytes([5]) + b"READY"):
        raise RuntimeError("zmq: expected READY command")
    return fh


class ZmqPubSocket(LoopbackServer):
    """PUB socket that BINDS: accepts SUB peers, tracks their prefix
    subscriptions (spec 29: ``\\x01 prefix`` subscribe / ``\\x00
    prefix`` unsubscribe arrive as messages), and fans out multipart
    [topic, payload] messages to every peer with a matching prefix —
    a real libzmq SUB connects to this verbatim."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._peers: dict[int, tuple] = {}  # id -> (conn, set[prefix])
        super().__init__(host, port)

    def _serve(self, conn) -> None:
        fh = _handshake(conn, "PUB")
        with self._lock:
            self._peers[id(conn)] = (conn, set())
        while not self._closing:
            is_cmd, frames = _read_multipart(fh)
            if is_cmd:
                continue
            sub = frames[0]
            with self._lock:
                peer = self._peers.get(id(conn))
                if peer is None:
                    return
                if sub[:1] == b"\x01":
                    peer[1].add(sub[1:])
                elif sub[:1] == b"\x00":
                    peer[1].discard(sub[1:])

    def _on_disconnect(self, conn) -> None:
        with self._lock:
            self._peers.pop(id(conn), None)

    def send(self, topic: str, payload: str) -> None:
        """Multipart [topic, payload] to every peer whose prefix set
        matches the topic (PUB-side filtering, per the spec)."""
        t = topic.encode("utf-8")
        data = _frame(t, more=True) + _frame(payload.encode("utf-8"))
        with self._lock:
            targets = [
                conn
                for conn, prefixes in self._peers.values()
                if any(t.startswith(p) for p in prefixes)
            ]
        for conn in targets:
            try:
                self._send(conn, data)
            except OSError:
                pass

    def subscriber_count(self) -> int:
        with self._lock:
            return sum(1 for _c, p in self._peers.values() if p)


class ZmqSubSocket:
    """SUB socket that CONNECTS: greeting + READY, sends its
    subscription, then receives multipart [topic, payload] messages —
    a real libzmq PUB on the other end speaks the same bytes."""

    def __init__(self, addr: str, prefix: str = ""):
        host, _, port = addr.rpartition(":")
        self._sock = socket.create_connection((host or "127.0.0.1", int(port)))
        self._fh = _handshake(self._sock, "SUB")
        self._sock.sendall(_frame(b"\x01" + prefix.encode("utf-8")))

    def recv(self):
        """Block for the next message → (topic:str, payload:str)."""
        while True:
            is_cmd, frames = _read_multipart(self._fh)
            if is_cmd:
                continue
            topic = frames[0].decode("utf-8")
            payload = frames[1].decode("utf-8") if len(frames) > 1 else ""
            return topic, payload

    def close(self) -> None:
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


class ZmqSubBindCollector(LoopbackServer):
    """SUB socket that BINDS (the fan-in collector shape): accepts PUB
    peers that CONNECT, sends each its subscription (subscriptions
    travel SUB→PUB regardless of who bound), and collects their
    messages — the peer shape the sink's per-partition PUB sockets
    talk to."""

    def __init__(self, prefix: str = "", host: str = "127.0.0.1", port: int = 0):
        self._prefix = prefix.encode("utf-8")
        self.received: list[tuple[str, str]] = []
        super().__init__(host, port)

    def _serve(self, conn) -> None:
        fh = _handshake(conn, "SUB")
        self._send(conn, _frame(b"\x01" + self._prefix))
        while not self._closing:
            is_cmd, frames = _read_multipart(fh)
            if is_cmd:
                continue
            topic = frames[0].decode("utf-8")
            payload = frames[1].decode("utf-8") if len(frames) > 1 else ""
            with self._lock:
                self.received.append((topic, payload))

    def snapshot(self) -> list:
        with self._lock:
            return list(self.received)


class ZmqPubConnectSocket:
    """PUB socket that CONNECTS (the sink side): waits for the peer's
    subscription after the handshake, then sends only matching
    messages — including the slow-joiner rule (sends before any
    subscription are dropped, as libzmq does)."""

    def __init__(self, addr: str):
        host, _, port = addr.rpartition(":")
        self._sock = socket.create_connection((host or "127.0.0.1", int(port)))
        self._fh = _handshake(self._sock, "PUB")
        self._prefixes: set[bytes] = set()
        self._lock = threading.Lock()
        self._closing = False
        threading.Thread(target=self._sub_loop, daemon=True).start()

    def _sub_loop(self) -> None:
        try:
            while not self._closing:
                is_cmd, frames = _read_multipart(self._fh)
                if is_cmd:
                    continue
                sub = frames[0]
                with self._lock:
                    if sub[:1] == b"\x01":
                        self._prefixes.add(sub[1:])
                    elif sub[:1] == b"\x00":
                        self._prefixes.discard(sub[1:])
        except (ConnectionError, OSError):
            pass

    def wait_subscribed(self, timeout: float = 10.0) -> bool:
        import time as _time

        deadline = _time.monotonic() + timeout
        while _time.monotonic() < deadline:
            with self._lock:
                if self._prefixes:
                    return True
            _time.sleep(0.01)
        return False

    def send(self, topic: str, payload: str) -> bool:
        """→ True if the peer's subscription matched and the message
        was sent; False if dropped (no matching prefix — the libzmq
        PUB drop rule)."""
        t = topic.encode("utf-8")
        with self._lock:
            if not any(t.startswith(p) for p in self._prefixes):
                return False
        self._sock.sendall(_frame(t, more=True) + _frame(payload.encode("utf-8")))
        return True

    def close(self) -> None:
        self._closing = True
        try:
            self._sock.close()
        except OSError:
            pass


# ---------------------------------------------------------------------------
# Source config + streaming reader (seq-window core)
# ---------------------------------------------------------------------------


@dataclass
class ZmqSource(Source):
    """Config type ``{"type":"zmq","addr":...,"prefix":...}``."""

    addr: str = ""
    prefix: str = ""
    transport: str = "socket"  # socket | replay
    capture_path: str = ""
    chunk_size: int = 0
    streaming: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        if not self.streaming:
            if self.transport.lower() != "replay":
                raise ValueError(
                    "zmq: batch reads need transport='replay' — PUB/SUB has "
                    "no history to snapshot anywhere"
                )
            env = spark.read.schema(ZMQ_SCHEMA).json(self.capture_path)
            if self.prefix:
                env = env.where(F.col("topic").startswith(self.prefix))
            return env
        return load_stream(spark, ZmqStreamDataSource, self)


class _ZmqSimpleStreamReader(SeqWindowStreamReader):
    """Seq-window reader over a SUB socket (connect + subscribe before
    the first read) / replay capture. Items are the rows ``(topic,
    payload)``. No acks: ZeroMQ PUB/SUB is at-most-once
    fire-and-forget, and connection loss is fatal (nothing to
    replay)."""

    NAME = "zmq"
    SOURCE = ZmqSource

    def _connect(self) -> ZmqSubSocket:
        return ZmqSubSocket(self._src.addr, self._src.prefix)

    def _poll(self, client: ZmqSubSocket):
        return (client.recv(),)

    def _replay_item(self, rec: dict) -> tuple:
        return rec["topic"], rec["payload"]

    def _row_of(self, item: tuple) -> tuple:
        return item

    def _lost_window_error(self, start_seq: int, end_seq: int) -> Exception:
        return RuntimeError(
            f"zmq: replay window lost for offsets [{start_seq},{end_seq}) after "
            "restart — ZeroMQ PUB/SUB is at-most-once with no replay anywhere; "
            "put a durable queue (kafka/redis/nsq) in front for redelivery"
        )


class ZmqStreamDataSource(LiveDataSource):
    """``spark.readStream.format("cheetah-zmq")`` — a ZeroMQ SUB
    socket as a Python streaming data source."""

    NAME, SCHEMA, READER = "cheetah-zmq", ZMQ_SCHEMA, _ZmqSimpleStreamReader


# ---------------------------------------------------------------------------
# Sink adapter (config type)
# ---------------------------------------------------------------------------


@dataclass
class ZmqSink(Sink):
    """PUB-connect every row (``topic, payload`` — missing columns
    default to the configured topic / a JSON struct of the row) to a
    bound SUB collector; one socket per partition, each waiting for
    the peer's subscription before sending (the slow-joiner rule).
    Replay transport appends the NDJSON capture the source reads."""

    addr: str = ""
    topic: str = "out"
    transport: str = "socket"  # socket | replay
    capture_path: str = ""
    checkpoint: Optional[str] = None
    trigger: Optional[dict] = None

    def write(self, df: DataFrame):
        cols = set(df.columns)
        topic_col = F.col("topic") if "topic" in cols else F.lit(self.topic)
        payload_col = (
            F.col("payload")
            if "payload" in cols
            else F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        )
        out = df.select(topic_col.alias("topic"), payload_col.alias("payload"))
        addr = self.addr

        def send(rows):
            client = None
            try:
                for r in rows:
                    if client is None:
                        client = ZmqPubConnectSocket(addr)
                        client.wait_subscribed()
                    client.send(r.topic, r.payload)
            finally:
                if client is not None:
                    client.close()

        return write_transport(
            out, self.transport, "socket", "zmq", self.capture_path, send,
            self.checkpoint, self.trigger,
        )
