"""AMQP 0-9-1 source/sink — the reference wishlist's #4 connector
(reference README.md:301-311 "Source / Destination Wishlist: amqp"),
built on the PUBLIC AMQP 0-9-1 wire protocol (amqp.org specification,
the same framing RabbitMQ documents): binary frames
``type(1) channel(2) size(4) payload 0xCE`` carrying class/method
pairs (connection.start/tune/open, channel.open, exchange.declare,
queue.declare/bind, basic.publish/consume/deliver/ack), spoken
directly over stdlib TCP sockets like the Redis RESP and NATS
connectors.

Transports, the redis_live/nats_live discipline:

- ``transport="socket"`` — a REAL AMQP connection over stdlib TCP.
  :class:`AmqpClient` speaks the protocol verbatim (protocol header
  ``AMQP\\x00\\x00\\x09\\x01``, the connection.start → start-ok →
  tune → tune-ok → open → open-ok handshake, channel.open,
  basic.publish as method + content-header + body frames);
  :class:`MiniAmqpServer` is a loopback broker the conformance tests
  run against (threaded stdlib sockets, direct + topic exchanges with
  full ``*``/``#`` routing-key wildcard matching, queue bindings,
  delivery-tag acks with REQUEUE-ON-DISCONNECT) — a real RabbitMQ
  accepts the identical bytes.
- ``transport="replay"`` — a deterministic NDJSON capture (schema:
  ``exchange, routing_key, payload``) delivered in bounded chunks per
  micro-batch through the same envelope, batch or streaming — the
  broker-less correctness path every connector here carries.

Rows surface as ``exchange string, routing_key string, payload
string``. AMQP is at-least-once when consumers ack (``no-ack=false``):
the seq-window reader fires ``basic.ack`` per delivery-tag on
checkpoint commit (reference kawa T4 ackFn semantics,
processor.go:101-118), and the broker requeues unacked deliveries when
the consumer connection drops — so the lost-window policy after a
reader restart is the MQTT QoS≥1 one: warn and rely on broker
redelivery rather than fail.
"""

from __future__ import annotations

import re
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

AMQP_SCHEMA = "exchange string, routing_key string, payload string"

_PROTO_HEADER = b"AMQP\x00\x00\x09\x01"
_FRAME_METHOD, _FRAME_HEADER, _FRAME_BODY, _FRAME_HEARTBEAT = 1, 2, 3, 8
_FRAME_END = 0xCE


# ---------------------------------------------------------------------------
# Wire encoding (public spec: AMQP 0-9-1 §4.2 framing, §4.2.5 field tables)
# ---------------------------------------------------------------------------


def _shortstr(s: str) -> bytes:
    b = s.encode("utf-8")
    if len(b) > 255:
        raise ValueError("amqp: shortstr > 255 bytes")
    return struct.pack(">B", len(b)) + b


def _longstr(b) -> bytes:
    if isinstance(b, str):
        b = b.encode("utf-8")
    return struct.pack(">I", len(b)) + b


def _table(d: Optional[dict] = None) -> bytes:
    """Encode a field table. Only the value types this connector emits
    (longstr 'S', bool 't', table 'F') — both our peers and RabbitMQ
    accept any subset."""
    body = b""
    for k, v in (d or {}).items():
        body += _shortstr(k)
        if isinstance(v, bool):
            body += b"t" + struct.pack(">B", int(v))
        elif isinstance(v, dict):
            body += b"F" + _table(v)
        else:
            body += b"S" + _longstr(str(v))
    return struct.pack(">I", len(body)) + body


class _Cursor:
    """Forward-only decoder over a method/header payload."""

    def __init__(self, data: bytes):
        self.data, self.pos = data, 0

    def octet(self) -> int:
        v = self.data[self.pos]
        self.pos += 1
        return v

    def short(self) -> int:
        (v,) = struct.unpack_from(">H", self.data, self.pos)
        self.pos += 2
        return v

    def long(self) -> int:
        (v,) = struct.unpack_from(">I", self.data, self.pos)
        self.pos += 4
        return v

    def longlong(self) -> int:
        (v,) = struct.unpack_from(">Q", self.data, self.pos)
        self.pos += 8
        return v

    def shortstr(self) -> str:
        n = self.octet()
        v = self.data[self.pos : self.pos + n].decode("utf-8")
        self.pos += n
        return v

    def longstr(self) -> bytes:
        n = self.long()
        v = self.data[self.pos : self.pos + n]
        self.pos += n
        return v

    def table(self) -> dict:
        """Decode a field table — all 0-9-1 value types are SKIPPED
        correctly (a real RabbitMQ fills server-properties with types
        we never emit), string/bool/int values are surfaced."""
        n = self.long()
        end = self.pos + n
        out: dict = {}
        while self.pos < end:
            key = self.shortstr()
            out[key] = self._field_value()
        return out

    def _field_value(self):
        t = chr(self.octet())
        if t == "t":
            return bool(self.octet())
        if t in ("b", "B"):
            return self.octet()
        if t in ("u", "s"):
            return self.short()
        if t in ("I", "i"):
            return self.long()
        if t in ("l", "L", "T"):
            return self.longlong()
        if t == "f":
            (v,) = struct.unpack_from(">f", self.data, self.pos)
            self.pos += 4
            return v
        if t == "d":
            (v,) = struct.unpack_from(">d", self.data, self.pos)
            self.pos += 8
            return v
        if t == "D":  # decimal: scale octet + long
            self.octet()
            return self.long()
        if t == "S":
            return self.longstr().decode("utf-8", "replace")
        if t == "x":
            return bytes(self.longstr())
        if t == "A":  # array: long size then typed values
            n = self.long()
            end = self.pos + n
            arr = []
            while self.pos < end:
                arr.append(self._field_value())
            return arr
        if t == "F":
            return self.table()
        if t == "V":
            return None
        raise RuntimeError(f"amqp: unknown field-table value type {t!r}")


def _frame(ftype: int, channel: int, payload: bytes) -> bytes:
    return struct.pack(">BHI", ftype, channel, len(payload)) + payload + bytes([_FRAME_END])


def _method(channel: int, class_id: int, method_id: int, args: bytes = b"") -> bytes:
    return _frame(_FRAME_METHOD, channel, struct.pack(">HH", class_id, method_id) + args)


def _content_frames(channel: int, body: bytes, frame_max: int = 1 << 17) -> bytes:
    """basic content = header frame (class 60, weight 0, body size,
    empty property flags) + body frames split at frame-max."""
    header = struct.pack(">HHQH", 60, 0, len(body), 0)
    out = _frame(_FRAME_HEADER, channel, header)
    limit = max(frame_max - 8, 1)
    for i in range(0, len(body), limit):
        out += _frame(_FRAME_BODY, channel, body[i : i + limit])
    if not body:
        pass  # zero-length body: header frame alone carries size 0
    return out


def _read_frame(fh):
    head = fh.read(7)
    if len(head) < 7:
        raise ConnectionError("amqp: connection closed")
    ftype, channel, size = struct.unpack(">BHI", head)
    payload = fh.read(size)
    endb = fh.read(1)
    if len(payload) < size or endb != bytes([_FRAME_END]):
        raise ConnectionError("amqp: truncated frame / bad frame-end")
    return ftype, channel, payload


# routing-key topic matching (AMQP topic exchange: words split on '.',
# '*' = exactly one word, '#' = zero or more words)


def topic_matches(pattern: str, key: str) -> bool:
    """Token-DP matcher — the ground truth the regex compiler below is
    property-tested against."""
    pt, kt = pattern.split("."), key.split(".")

    def rec(i: int, j: int) -> bool:
        if i == len(pt):
            return j == len(kt)
        if pt[i] == "#":
            return any(rec(i + 1, j2) for j2 in range(j, len(kt) + 1))
        if j >= len(kt):
            return False
        if pt[i] == "*" or pt[i] == kt[j]:
            return rec(i + 1, j + 1)
        return False

    return rec(0, 0)


def topic_regex(pattern: str) -> str:
    """The same match as an anchored Java-compatible regex so
    replay-capture binding filters stay JVM-side (Catalyst ``rlike``)
    instead of a Python UDF. ``#`` compiles to "zero or more words
    with their separators", handled at either edge or mid-pattern."""
    parts = pattern.split(".")
    regex = ""
    for i, p in enumerate(parts):
        if p == "#":
            # leading '#' absorbs the separator AFTER it (zero-or-more
            # "word." prefixes); elsewhere it absorbs the separator
            # BEFORE it (zero-or-more ".word" suffixes) so the next
            # word still joins with its own literal dot
            if i == 0:
                regex += r"(?:[^.]+\.)*" if len(parts) > 1 else r".*"
            else:
                regex += r"(?:\.[^.]+)*"
        else:
            if i > 0 and not (i == 1 and parts[0] == "#"):
                regex += r"\."
            regex += "[^.]+" if p == "*" else re.escape(p)
    return "^" + regex + "$"


def _routing_match_col(pattern: str):
    return F.col("routing_key").rlike(topic_regex(pattern))


# ---------------------------------------------------------------------------
# Client (stdlib socket)
# ---------------------------------------------------------------------------


class AmqpClient:
    """Minimal AMQP 0-9-1 client: full connection handshake, one
    channel, declare/bind/publish/consume/ack. One instance per
    thread/partition."""

    def __init__(self, addr: str, vhost: str = "/"):
        host, _, port = addr.rpartition(":")
        self._sock = socket.create_connection((host or "127.0.0.1", int(port)))
        self._fh = self._sock.makefile("rb")
        self._send_lock = threading.Lock()
        self._frame_max = 1 << 17
        self._send(_PROTO_HEADER)
        # connection.start -> start-ok (PLAIN with empty creds: the
        # loopback broker doesn't authenticate; a real broker needs
        # real credentials here)
        cid, mid, cur = self._expect_method(10, 10)
        cur.octet(), cur.octet()  # version major/minor
        cur.table()  # server-properties (skipped correctly)
        self._send(
            _method(
                0,
                10,
                11,
                _table({"product": "cheetah-spark"})
                + _shortstr("PLAIN")
                + _longstr(b"\x00guest\x00guest")
                + _shortstr("en_US"),
            )
        )
        # tune -> tune-ok
        cid, mid, cur = self._expect_method(10, 30)
        cur.short()
        fm = cur.long()
        if fm:
            self._frame_max = min(self._frame_max, fm)
        self._send(_method(0, 10, 31, struct.pack(">HIH", 0, self._frame_max, 0)))
        # open -> open-ok
        self._send(_method(0, 10, 40, _shortstr(vhost) + _shortstr("") + b"\x00"))
        self._expect_method(10, 41)
        # channel.open -> open-ok
        self._send(_method(1, 20, 10, _shortstr("")))
        self._expect_method(20, 11)

    def _send(self, data: bytes) -> None:
        with self._send_lock:
            self._sock.sendall(data)

    def _next_method(self):
        """Read frames until a method frame arrives (heartbeats are
        answered; stray content frames are a protocol error here)."""
        while True:
            ftype, channel, payload = _read_frame(self._fh)
            if ftype == _FRAME_HEARTBEAT:
                self._send(_frame(_FRAME_HEARTBEAT, 0, b""))
                continue
            if ftype != _FRAME_METHOD:
                raise RuntimeError(f"amqp: unexpected frame type {ftype} awaiting method")
            cid, mid = struct.unpack_from(">HH", payload, 0)
            return cid, mid, _Cursor(payload[4:])

    def _expect_method(self, class_id: int, method_id: int):
        cid, mid, cur = self._next_method()
        if (cid, mid) == (10, 50) or (cid, mid) == (20, 40):  # connection/channel.close
            code = cur.short()
            text = cur.shortstr()
            raise RuntimeError(f"amqp: peer closed ({code}) {text}")
        if (cid, mid) != (class_id, method_id):
            raise RuntimeError(f"amqp: expected {class_id}.{method_id}, got {cid}.{mid}")
        return cid, mid, cur

    def exchange_declare(self, exchange: str, ex_type: str = "topic") -> None:
        self._send(
            _method(1, 40, 10, struct.pack(">H", 0) + _shortstr(exchange) + _shortstr(ex_type) + b"\x00" + _table())
        )
        self._expect_method(40, 11)

    def queue_declare(self, queue: str) -> str:
        self._send(_method(1, 50, 10, struct.pack(">H", 0) + _shortstr(queue) + b"\x00" + _table()))
        _, _, cur = self._expect_method(50, 11)
        return cur.shortstr()

    def queue_bind(self, queue: str, exchange: str, routing_key: str) -> None:
        self._send(
            _method(
                1, 50, 20,
                struct.pack(">H", 0) + _shortstr(queue) + _shortstr(exchange) + _shortstr(routing_key) + b"\x00" + _table(),
            )
        )
        self._expect_method(50, 21)

    def basic_publish(self, exchange: str, routing_key: str, body) -> None:
        if isinstance(body, str):
            body = body.encode("utf-8")
        self._send(
            _method(1, 60, 40, struct.pack(">H", 0) + _shortstr(exchange) + _shortstr(routing_key) + b"\x00")
            + _content_frames(1, body, self._frame_max)
        )

    def basic_consume(self, queue: str, consumer_tag: str = "ct-1", no_ack: bool = False) -> str:
        flags = 0b0010 if no_ack else 0
        self._send(
            _method(1, 60, 20, struct.pack(">H", 0) + _shortstr(queue) + _shortstr(consumer_tag) + bytes([flags]) + _table())
        )
        _, _, cur = self._expect_method(60, 21)
        return cur.shortstr()

    def next_delivery(self):
        """Block for the next basic.deliver → (delivery_tag, exchange,
        routing_key, payload:str)."""
        cid, mid, cur = self._next_method()
        if (cid, mid) == (10, 50) or (cid, mid) == (20, 40):
            code = cur.short()
            raise ConnectionError(f"amqp: peer closed ({code}) {cur.shortstr()}")
        if (cid, mid) != (60, 60):
            raise RuntimeError(f"amqp: expected basic.deliver, got {cid}.{mid}")
        cur.shortstr()  # consumer-tag
        dtag = cur.longlong()
        cur.octet()  # redelivered
        exchange = cur.shortstr()
        routing_key = cur.shortstr()
        # content header then body frames totalling body-size
        ftype, _, payload = _read_frame(self._fh)
        if ftype != _FRAME_HEADER:
            raise RuntimeError("amqp: expected content header after deliver")
        body_size = struct.unpack_from(">Q", payload, 4)[0]
        body = b""
        while len(body) < body_size:
            ftype, _, chunk = _read_frame(self._fh)
            if ftype != _FRAME_BODY:
                raise RuntimeError("amqp: expected content body frame")
            body += chunk
        return dtag, exchange, routing_key, body.decode("utf-8")

    def basic_ack(self, delivery_tag: int, multiple: bool = False) -> None:
        self._send(_method(1, 60, 80, struct.pack(">QB", delivery_tag, int(multiple))))

    def close(self) -> None:
        # shutdown(), not just close(): the makefile("rb") handle holds
        # the fd open, so close() alone never sends FIN and the broker
        # would not notice the disconnect (and so never requeue unacked)
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


# ---------------------------------------------------------------------------
# Loopback broker (conformance stand-in — RabbitMQ accepts the same bytes)
# ---------------------------------------------------------------------------


class _Queue:
    def __init__(self, name: str):
        self.name = name
        self.pending: list[tuple[str, str, bytes]] = []  # undelivered
        self.consumer = None  # (conn, consumer_tag, no_ack)


class MiniAmqpServer(LoopbackServer):
    """Loopback AMQP 0-9-1 broker: full handshake, direct + topic
    exchanges (``*``/``#`` wildcard bindings), queue declare/bind,
    basic.publish routing, basic.consume push delivery with
    delivery-tag acks, and REQUEUE of unacked deliveries when a
    consumer connection drops (the at-least-once contract the
    seq-window reader's ack-after-checkpoint relies on)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._exchanges: dict[str, str] = {"": "direct"}  # name -> type
        self._bindings: list[tuple[str, str, str]] = []  # (exchange, pattern, queue)
        self._queues: dict[str, _Queue] = {}
        self._unacked: dict[int, dict[int, tuple[str, str, str, bytes]]] = {}  # conn-id -> dtag -> (queue, ex, rk, body)
        self._dtags: dict[int, int] = {}  # conn-id -> next delivery tag
        super().__init__(host, port)

    # -- per-connection protocol loop ---------------------------------------
    def _serve(self, conn) -> None:
        fh = conn.makefile("rb")
        cid_conn = id(conn)
        with self._lock:
            self._unacked[cid_conn] = {}
            self._dtags[cid_conn] = 1
        if fh.read(8) != _PROTO_HEADER:
            return
        self._send(
            conn,
            _method(0, 10, 10, bytes([0, 9]) + _table({"product": "mini-amqp"}) + _longstr("PLAIN") + _longstr("en_US")),
        )
        while not self._closing:
            ftype, channel, payload = _read_frame(fh)
            if ftype == _FRAME_HEARTBEAT:
                self._send(conn, _frame(_FRAME_HEARTBEAT, 0, b""))
                continue
            if ftype != _FRAME_METHOD:
                continue  # content frames are read inline by publish handling
            cid, mid = struct.unpack_from(">HH", payload, 0)
            cur = _Cursor(payload[4:])
            if (cid, mid) == (10, 11):  # start-ok
                self._send(conn, _method(0, 10, 30, struct.pack(">HIH", 0, 1 << 17, 0)))
            elif (cid, mid) == (10, 31):  # tune-ok
                continue
            elif (cid, mid) == (10, 40):  # connection.open
                self._send(conn, _method(0, 10, 41, _shortstr("")))
            elif (cid, mid) == (20, 10):  # channel.open
                self._send(conn, _method(channel, 20, 11, _longstr("")))
            elif (cid, mid) == (40, 10):  # exchange.declare
                cur.short()
                name, ex_type = cur.shortstr(), cur.shortstr()
                with self._lock:
                    self._exchanges[name] = ex_type
                self._send(conn, _method(channel, 40, 11))
            elif (cid, mid) == (50, 10):  # queue.declare
                cur.short()
                name = cur.shortstr()
                with self._lock:
                    q = self._queues.setdefault(name, _Queue(name))
                self._send(
                    conn,
                    _method(channel, 50, 11, _shortstr(name) + struct.pack(">II", len(q.pending), int(q.consumer is not None))),
                )
            elif (cid, mid) == (50, 20):  # queue.bind
                cur.short()
                qname, exchange, pattern = cur.shortstr(), cur.shortstr(), cur.shortstr()
                with self._lock:
                    self._queues.setdefault(qname, _Queue(qname))
                    self._bindings.append((exchange, pattern, qname))
                self._send(conn, _method(channel, 50, 21))
            elif (cid, mid) == (60, 20):  # basic.consume
                cur.short()
                qname, ctag = cur.shortstr(), cur.shortstr()
                no_ack = bool(cur.octet() & 0b0010)
                self._send(conn, _method(channel, 60, 21, _shortstr(ctag or "ct-srv")))
                with self._lock:
                    q = self._queues.setdefault(qname, _Queue(qname))
                    q.consumer = (conn, ctag or "ct-srv", no_ack)
                    backlog, q.pending = q.pending, []
                for ex, rk, body in backlog:
                    self._deliver(q, ex, rk, body)
            elif (cid, mid) == (60, 40):  # basic.publish (+ header/body inline)
                cur.short()
                exchange, routing_key = cur.shortstr(), cur.shortstr()
                ftype2, _, hpayload = _read_frame(fh)
                if ftype2 != _FRAME_HEADER:
                    raise RuntimeError("amqp-server: expected content header")
                body_size = struct.unpack_from(">Q", hpayload, 4)[0]
                body = b""
                while len(body) < body_size:
                    ftype3, _, chunk = _read_frame(fh)
                    body += chunk
                self._route(exchange, routing_key, body)
            elif (cid, mid) == (60, 80):  # basic.ack
                dtag = cur.longlong()
                multiple = bool(cur.octet())
                with self._lock:
                    un = self._unacked.get(cid_conn, {})
                    tags = [t for t in un if t <= dtag] if multiple else [dtag]
                    for t in tags:
                        un.pop(t, None)
            elif (cid, mid) == (10, 50):  # connection.close
                self._send(conn, _method(0, 10, 51))
                return
            elif (cid, mid) == (20, 40):  # channel.close
                self._send(conn, _method(channel, 20, 41))
            else:
                # unknown method: hard error per spec
                self._send(conn, _method(0, 10, 50, struct.pack(">H", 540) + _shortstr("NOT_IMPLEMENTED") + struct.pack(">HH", cid, mid)))

    def _on_disconnect(self, conn) -> None:
        cid_conn = id(conn)
        with self._lock:
            # requeue unacked deliveries (at-least-once)
            for dtag, (qname, ex, rk, body) in sorted(self._unacked.pop(cid_conn, {}).items()):
                q = self._queues.get(qname)
                if q is not None:
                    q.pending.append((ex, rk, body))
            self._dtags.pop(cid_conn, None)
            for q in self._queues.values():
                if q.consumer is not None and q.consumer[0] is conn:
                    q.consumer = None

    # -- routing -------------------------------------------------------------
    def _route(self, exchange: str, routing_key: str, body: bytes) -> None:
        with self._lock:
            ex_type = self._exchanges.get(exchange, "direct")
            targets = []
            seen = set()
            for ex, pattern, qname in self._bindings:
                if ex != exchange or qname in seen:
                    continue
                ok = topic_matches(pattern, routing_key) if ex_type == "topic" else pattern == routing_key
                if ok:
                    targets.append(self._queues[qname])
                    seen.add(qname)
            if exchange == "" and routing_key in self._queues and routing_key not in seen:
                targets.append(self._queues[routing_key])  # default exchange: rk == queue name
        for q in targets:
            self._deliver(q, exchange, routing_key, body)

    def _deliver(self, q: _Queue, exchange: str, routing_key: str, body: bytes) -> None:
        with self._lock:
            if q.consumer is None:
                q.pending.append((exchange, routing_key, body))
                return
            conn, ctag, no_ack = q.consumer
            dtag = self._dtags[id(conn)]
            self._dtags[id(conn)] = dtag + 1
            if not no_ack:
                self._unacked[id(conn)][dtag] = (q.name, exchange, routing_key, body)
        frames = (
            _method(1, 60, 60, _shortstr(ctag) + struct.pack(">QB", dtag, 0) + _shortstr(exchange) + _shortstr(routing_key))
            + _content_frames(1, body)
        )
        try:
            self._send(conn, frames)
        except OSError:
            self._drop(conn)

    # -- introspection for tests ----------------------------------------------
    def unacked_count(self) -> int:
        with self._lock:
            return sum(len(v) for v in self._unacked.values())

    def pending_count(self, queue: str) -> int:
        with self._lock:
            q = self._queues.get(queue)
            return len(q.pending) if q else 0



# ---------------------------------------------------------------------------
# Source config + streaming reader (seq-window core)
# ---------------------------------------------------------------------------


@dataclass
class AmqpSource(Source):
    """Config type ``{"type":"amqp","addr":...,"exchange":...,
    "bindingKey":...}``."""

    addr: str = ""
    exchange: str = "ev"
    exchange_type: str = "topic"
    queue: str = "cheetah"
    binding_key: str = "#"
    transport: str = "socket"  # socket | replay
    capture_path: str = ""
    chunk_size: int = 0
    streaming: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        if not self.streaming:
            # batch is only meaningful over a capture: an AMQP broker
            # holds no replayable history once consumed (queues drain)
            if self.transport.lower() != "replay":
                raise ValueError(
                    "amqp: batch reads need transport='replay' — a broker "
                    "queue drains on consume; there is no history to snapshot"
                )
            env = spark.read.schema(AMQP_SCHEMA).json(self.capture_path)
            if self.binding_key and self.binding_key != "#":
                env = env.where(_routing_match_col(self.binding_key))
            return env
        return load_stream(spark, AmqpStreamDataSource, self)


class _AmqpSimpleStreamReader(SeqWindowStreamReader):
    """Seq-window reader over a consumer connection / replay capture.
    Items are ``(delivery_tag, exchange, routing_key, payload)``.
    Acks: basic.ack per delivery tag fires on checkpoint commit
    (reference kawa T4 ackFn, processor.go:101-118); a lost replay
    window warns and relies on broker requeue-on-disconnect (the MQTT
    QoS>=1 policy)."""

    NAME = "amqp"
    SOURCE = AmqpSource

    def _connect(self) -> AmqpClient:
        # declare + bind + consume before the first read, so no
        # message published after construction can be missed
        src = self._src
        c = AmqpClient(src.addr)
        if src.exchange:
            c.exchange_declare(src.exchange, src.exchange_type)
        c.queue_declare(src.queue)
        if src.exchange:
            c.queue_bind(src.queue, src.exchange, src.binding_key)
        c.basic_consume(src.queue, no_ack=False)
        return c

    def _poll(self, client: AmqpClient):
        return (client.next_delivery(),)

    def _replay_item(self, rec: dict) -> tuple:
        # replay has no broker to ack: delivery_tag None
        return None, rec["exchange"], rec["routing_key"], rec["payload"]

    def _row_of(self, item: tuple) -> tuple:
        return item[1:]

    def _ack_of(self, item, seq: int, listener):
        dtag = item[0]
        return None if dtag is None else AckHandle(listener.client.basic_ack, dtag)

    def _on_lost_window(self, start_seq: int, end_seq: int) -> None:
        import warnings

        warnings.warn(
            f"amqp: replay window [{start_seq},{end_seq}) lost after restart; "
            "deliveries in it were never acked — the broker requeues them "
            "on the consumer reconnect (at-least-once)",
            stacklevel=2,
        )


class AmqpStreamDataSource(LiveDataSource):
    """``spark.readStream.format("cheetah-amqp")`` — an AMQP
    consumer as a Python streaming data source."""

    NAME, SCHEMA, READER = "cheetah-amqp", AMQP_SCHEMA, _AmqpSimpleStreamReader


# ---------------------------------------------------------------------------
# Sink adapter (config type)
# ---------------------------------------------------------------------------


@dataclass
class AmqpSink(Sink):
    """basic.publish every row (``exchange, routing_key, payload`` —
    missing columns default to the configured exchange/key / a JSON
    struct of the row). One connection per partition; replay transport
    appends the NDJSON capture the source reads."""

    addr: str = ""
    exchange: str = "ev"
    routing_key: str = "out"
    transport: str = "socket"  # socket | replay
    capture_path: str = ""
    checkpoint: Optional[str] = None
    trigger: Optional[dict] = None

    def write(self, df: DataFrame):
        cols = set(df.columns)
        ex_col = F.col("exchange") if "exchange" in cols else F.lit(self.exchange)
        rk_col = F.col("routing_key") if "routing_key" in cols else F.lit(self.routing_key)
        payload_col = (
            F.col("payload")
            if "payload" in cols
            else F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        )
        out = df.select(
            ex_col.alias("exchange"), rk_col.alias("routing_key"), payload_col.alias("payload")
        )
        addr, exchange, ex_type = self.addr, self.exchange, "topic"

        def send(rows):
            client = None
            try:
                for r in rows:
                    if client is None:
                        client = AmqpClient(addr)
                        if exchange:
                            client.exchange_declare(exchange, ex_type)
                    client.basic_publish(r.exchange, r.routing_key, r.payload)
            finally:
                if client is not None:
                    client.close()

        return write_transport(
            out, self.transport, "socket", "amqp", self.capture_path, send,
            self.checkpoint, self.trigger,
        )
