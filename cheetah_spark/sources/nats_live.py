"""NATS source/sink — the reference wishlist's #3 connector
(reference README.md:301-311 "Source / Destination Wishlist: nats"),
built on the PUBLIC NATS client protocol (docs.nats.io — a plain-text
wire protocol: INFO/CONNECT/PING/PONG/PUB/SUB/MSG/+OK/-ERR), spoken
directly over stdlib TCP sockets like the Redis RESP connector.

Transports, the syslog/redis_live discipline:

- ``transport="socket"`` — a REAL NATS connection over stdlib TCP.
  :class:`NatsClient` speaks the protocol verbatim (the server's
  ``INFO`` banner, ``CONNECT``, ``PUB <subject> <#bytes>\\r\\n<payload>``,
  ``SUB <subject> <sid>``, ``MSG`` delivery frames, ``PING``/``PONG``
  keep-alives); :class:`MiniNatsServer` is a loopback server the
  conformance tests run against (threaded stdlib sockets, full
  ``*``/``>`` subject-wildcard matching and queue groups) — a real
  nats-server accepts the identical bytes.
- ``transport="replay"`` — a deterministic NDJSON capture (schema:
  ``subject, reply_to, payload``) delivered in bounded chunks per
  micro-batch through the same envelope, batch or streaming — the
  broker-less correctness path every connector here carries.

Rows surface as ``subject string, reply_to string, payload string``.
Core NATS is at-most-once fire-and-forget with NO server-side replay:
a subscriber that misses a message cannot re-read it (persistence is
JetStream, a separate layer). The seq-window reader therefore treats a
lost replay window as unrecoverable and says so — unlike Redis Streams
(XRANGE re-read) or MQTT QoS≥1 (broker redelivery), there is nothing
to go back to. Acks don't exist at this layer either (``_ack_of`` is
None); delivery semantics upgrade to at-least-once only with
JetStream consumers, which need a real server.
"""

from __future__ import annotations

import json
import socket
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

NATS_SCHEMA = "subject string, reply_to string, payload string"


# ---------------------------------------------------------------------------
# Protocol framing (public spec: docs.nats.io client protocol)
# ---------------------------------------------------------------------------


def subject_matches(pattern: str, subject: str) -> bool:
    """Public NATS subject matching: ``.``-separated tokens, ``*``
    matches exactly one token, ``>`` matches one-or-more trailing
    tokens (only valid as the last token)."""
    pt, st = pattern.split("."), subject.split(".")
    for i, p in enumerate(pt):
        if p == ">":
            return i == len(pt) - 1 and len(st) >= len(pt)
        if i >= len(st):
            return False
        if p != "*" and p != st[i]:
            return False
    return len(pt) == len(st)


def _pub_frame(subject: str, payload: bytes, reply_to: str = "") -> bytes:
    head = f"PUB {subject} {reply_to + ' ' if reply_to else ''}{len(payload)}\r\n"
    return head.encode() + payload + b"\r\n"


def _msg_frame(subject: str, sid: str, payload: bytes, reply_to: str = "") -> bytes:
    head = f"MSG {subject} {sid} {reply_to + ' ' if reply_to else ''}{len(payload)}\r\n"
    return head.encode() + payload + b"\r\n"


def read_op(fh):
    """Parse one protocol operation from a buffered binary file object.
    Returns (verb, args..., payload?) tuples:
    ("INFO", dict) ("MSG", subject, sid, reply_to, payload)
    ("PUB", subject, reply_to, payload) ("SUB", subject, queue, sid)
    ("UNSUB", sid) ("PING",) ("PONG",) ("+OK",) ("-ERR", text)
    ("CONNECT", dict)."""
    line = fh.readline()
    if not line:
        raise ConnectionError("nats: connection closed")
    line = line.rstrip(b"\r\n")
    if not line:
        return ("PING",)  # tolerate stray blank lines as no-ops
    parts = line.split(b" ", 1)
    verb = parts[0].upper().decode()
    rest = parts[1].decode() if len(parts) > 1 else ""
    if verb in ("PING", "PONG", "+OK"):
        return (verb,)
    if verb == "-ERR":
        return (verb, rest)
    if verb in ("INFO", "CONNECT"):
        return (verb, json.loads(rest) if rest else {})
    if verb == "MSG":
        a = rest.split(" ")
        subject, sid = a[0], a[1]
        reply_to, nbytes = (a[2], int(a[3])) if len(a) == 4 else ("", int(a[2]))
        payload = fh.read(nbytes + 2)[:-2]
        return (verb, subject, sid, reply_to, payload)
    if verb == "PUB":
        a = rest.split(" ")
        subject = a[0]
        reply_to, nbytes = (a[1], int(a[2])) if len(a) == 3 else ("", int(a[1]))
        payload = fh.read(nbytes + 2)[:-2]
        return (verb, subject, reply_to, payload)
    if verb == "SUB":
        a = rest.split(" ")
        subject = a[0]
        queue, sid = (a[1], a[2]) if len(a) == 3 else ("", a[1])
        return (verb, subject, queue, sid)
    if verb == "UNSUB":
        return (verb, rest.split(" ")[0])
    raise RuntimeError(f"nats: unknown protocol verb {verb!r}")


class NatsClient:
    """Minimal NATS client (stdlib socket): reads the INFO banner,
    sends CONNECT, then PUB/SUB/next_msg. One instance per
    thread/partition."""

    def __init__(self, addr: str, verbose: bool = False):
        host, _, port = addr.rpartition(":")
        self._sock = socket.create_connection((host or "127.0.0.1", int(port)))
        self._fh = self._sock.makefile("rb")
        op = read_op(self._fh)
        if op[0] != "INFO":
            raise RuntimeError(f"nats: expected INFO banner, got {op[0]}")
        self.server_info = op[1]
        self._send(
            b"CONNECT "
            + json.dumps(
                {"verbose": verbose, "pedantic": False, "lang": "python", "name": "cheetah"}
            ).encode()
            + b"\r\n"
        )

    def _send(self, data: bytes) -> None:
        self._sock.sendall(data)

    def ping(self) -> None:
        self._send(b"PING\r\n")
        op = read_op(self._fh)
        if op[0] != "PONG":
            raise RuntimeError(f"nats: expected PONG, got {op[0]}")

    def pub(self, subject: str, payload, reply_to: str = "") -> None:
        if isinstance(payload, str):
            payload = payload.encode("utf-8")
        self._send(_pub_frame(subject, payload, reply_to))

    def sub(self, subject: str, sid: str = "1", queue: str = "") -> None:
        self._send(f"SUB {subject} {queue + ' ' if queue else ''}{sid}\r\n".encode())

    def unsub(self, sid: str) -> None:
        self._send(f"UNSUB {sid}\r\n".encode())

    def next_msg(self):
        """Block for the next MSG frame → (subject, sid, reply_to,
        payload:str). Answers server PINGs transparently."""
        while True:
            op = read_op(self._fh)
            if op[0] == "MSG":
                return op[1], op[2], op[3], op[4].decode("utf-8")
            if op[0] == "PING":
                self._send(b"PONG\r\n")
                continue
            if op[0] in ("PONG", "+OK"):
                continue
            if op[0] == "-ERR":
                raise RuntimeError(f"nats error: {op[1]}")

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


class MiniNatsServer(LoopbackServer):
    """Loopback NATS server — the conformance stand-in (a real
    nats-server accepts the same bytes). Supports INFO banner,
    CONNECT, PING/PONG, PUB fan-out to SUB'd clients with full
    ``*``/``>`` wildcard matching, queue groups (one member per group
    receives, rotated round-robin like the real server's random pick
    but deterministic), and UNSUB."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        # sid-keyed subscriptions: (conn, subject, queue)
        self._subs: dict[tuple, tuple] = {}
        self._rr: dict[str, int] = {}  # queue-group round-robin cursor
        super().__init__(host, port)

    def _serve(self, conn) -> None:
        fh = conn.makefile("rb")
        self._send(
            conn,
            b"INFO "
            + json.dumps(
                {"server_name": "mini-nats", "proto": 1, "max_payload": 1 << 20}
            ).encode()
            + b"\r\n",
        )
        while not self._closing:
            op = read_op(fh)
            verb = op[0]
            if verb == "CONNECT":
                continue
            if verb == "PING":
                self._send(conn, b"PONG\r\n")
            elif verb == "PONG":
                continue
            elif verb == "SUB":
                _, subject, queue, sid = op
                with self._lock:
                    self._subs[(id(conn), sid)] = (conn, subject, queue)
            elif verb == "UNSUB":
                with self._lock:
                    self._subs.pop((id(conn), op[1]), None)
            elif verb == "PUB":
                _, subject, reply_to, payload = op
                self._fanout(subject, reply_to, payload)
            else:
                self._send(conn, b"-ERR 'Unknown Protocol Operation'\r\n")

    def _on_disconnect(self, conn) -> None:
        with self._lock:
            for k in [k for k in self._subs if k[0] == id(conn)]:
                del self._subs[k]

    def _fanout(self, subject: str, reply_to: str, payload: bytes) -> None:
        with self._lock:
            plain, by_queue = [], {}
            for (cid, sid), (conn, pat, queue) in self._subs.items():
                if not subject_matches(pat, subject):
                    continue
                if queue:
                    by_queue.setdefault(queue, []).append((conn, sid))
                else:
                    plain.append((conn, sid))
            # queue groups: exactly one member receives
            for queue, members in sorted(by_queue.items()):
                cursor = self._rr.get(queue, 0)
                plain.append(members[cursor % len(members)])
                self._rr[queue] = cursor + 1
            targets = list(plain)
        for conn, sid in targets:
            try:
                self._send(conn, _msg_frame(subject, sid, payload, reply_to))
            except OSError:
                pass


# ---------------------------------------------------------------------------
# Source config + streaming reader (seq-window core)
# ---------------------------------------------------------------------------


@dataclass
class NatsSource(Source):
    """Config type ``{"type":"nats","addr":...,"subject":...}``."""

    addr: str = ""
    subject: str = ">"
    queue: str = ""
    transport: str = "socket"  # socket | replay
    capture_path: str = ""
    chunk_size: int = 0  # replay: messages delivered per micro-batch (0 = all)
    streaming: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        if not self.streaming:
            # batch is only meaningful over a capture: core NATS has no
            # server-side history to snapshot (that's JetStream)
            if self.transport.lower() != "replay":
                raise ValueError(
                    "nats: batch reads need transport='replay' — core NATS has "
                    "no server-side replay to snapshot (JetStream does, on a "
                    "real server)"
                )
            env = spark.read.schema(NATS_SCHEMA).json(self.capture_path)
            if self.subject and self.subject != ">":
                env = env.where(_subject_match_col(self.subject))
            return env
        return load_stream(spark, NatsStreamDataSource, self)


class _NatsSimpleStreamReader(SeqWindowStreamReader):
    """Seq-window reader over a SUB connection / replay capture. Items
    are the rows ``(subject, reply_to, payload)``. No acks: core NATS
    delivery is at-most-once (JetStream consumers add acks, on a real
    server), and connection loss is fatal (reference S3 policy — core
    NATS cannot replay what was missed)."""

    NAME = "nats"
    SOURCE = NatsSource

    def _connect(self) -> NatsClient:
        client = NatsClient(self._src.addr)
        client.sub(self._src.subject, sid="1", queue=self._src.queue)
        client.ping()  # round-trip: the SUB is registered server-side
        return client

    def _poll(self, client: NatsClient):
        subject, _sid, reply_to, payload = client.next_msg()
        return ((subject, reply_to, payload),)

    def _replay_item(self, rec: dict) -> tuple:
        return rec["subject"], rec.get("reply_to") or "", rec["payload"]

    def _row_of(self, item: tuple) -> tuple:
        return item

    def _lost_window_error(self, start_seq: int, end_seq: int) -> Exception:
        return RuntimeError(
            f"nats: replay window lost for offsets [{start_seq},{end_seq}) after "
            "restart — core NATS is at-most-once with no server-side replay; "
            "use JetStream (durable consumer) for redelivery on a real server"
        )


class NatsStreamDataSource(LiveDataSource):
    """``spark.readStream.format("cheetah-nats")`` — a NATS
    subscription as a Python streaming data source."""

    NAME, SCHEMA, READER = "cheetah-nats", NATS_SCHEMA, _NatsSimpleStreamReader


# ---------------------------------------------------------------------------
# Sink adapter (config type)
# ---------------------------------------------------------------------------


def _subject_match_col(pattern: str):
    """The ``*``/``>`` wildcard match as a Catalyst expression (an
    anchored regex over dot-tokens) so replay-capture subject filters
    stay JVM-side instead of a Python UDF."""
    import re as _re

    toks = []
    for t in pattern.split("."):
        if t == ">":
            toks.append("[^.]+(\\.[^.]+)*")
            break
        toks.append("[^.]+" if t == "*" else _re.escape(t))
    return F.col("subject").rlike("^" + "\\.".join(toks) + "$")


@dataclass
class NatsSink(Sink):
    """PUB every row (``subject, payload`` — missing columns default to
    the configured subject / a JSON struct of the row). One socket per
    partition; replay transport appends the NDJSON capture the source
    reads (source↔sink round-trip without a server)."""

    addr: str = ""
    subject: str = "out"
    transport: str = "socket"  # socket | replay
    capture_path: str = ""
    checkpoint: Optional[str] = None
    trigger: Optional[dict] = None

    def write(self, df: DataFrame):
        cols = set(df.columns)
        subject_col = F.col("subject") if "subject" in cols else F.lit(self.subject)
        reply_col = F.col("reply_to") if "reply_to" in cols else F.lit("")
        payload_col = (
            F.col("payload")
            if "payload" in cols
            else F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        )
        out = df.select(
            subject_col.alias("subject"),
            reply_col.alias("reply_to"),
            payload_col.alias("payload"),
        )
        addr = self.addr

        def send(rows):
            client = None
            try:
                for r in rows:
                    if client is None:
                        client = NatsClient(addr)
                    client.pub(r.subject, r.payload, r.reply_to or "")
            finally:
                if client is not None:
                    client.close()

        return write_transport(
            out, self.transport, "socket", "nats", self.capture_path, send,
            self.checkpoint, self.trigger,
        )
