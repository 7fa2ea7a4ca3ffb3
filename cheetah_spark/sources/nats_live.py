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
import threading
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import StructType

from cheetah_spark.sinks import Sink, write_transport
from cheetah_spark.sources import Source
from cheetah_spark.sources.seqwindow import (
    NdjsonReplayFactory,
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


class MiniNatsServer:
    """Loopback NATS server — the conformance stand-in (a real
    nats-server accepts the same bytes). Supports INFO banner,
    CONNECT, PING/PONG, PUB fan-out to SUB'd clients with full
    ``*``/``>`` wildcard matching, queue groups (one member per group
    receives, rotated round-robin like the real server's random pick
    but deterministic), and UNSUB."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind((host, port))
        self._sock.listen(16)
        self.addr = "%s:%d" % self._sock.getsockname()
        # sid-keyed subscriptions: (conn, subject, queue)
        self._subs: dict[tuple, tuple] = {}
        self._rr: dict[str, int] = {}  # queue-group round-robin cursor
        # per-connection send locks: a PONG from a client's serve thread
        # must not interleave bytes with a MSG fan-out from another
        # client's thread on the same socket
        self._send_locks: dict[int, threading.Lock] = {}
        self._lock = threading.Lock()
        self._closing = False
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def _accept_loop(self) -> None:
        while not self._closing:
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(conn,), daemon=True).start()

    def _send(self, conn, data: bytes) -> None:
        with self._send_locks.setdefault(id(conn), threading.Lock()):
            conn.sendall(data)

    def _serve(self, conn) -> None:
        fh = conn.makefile("rb")
        with self._lock:
            self._send_locks[id(conn)] = threading.Lock()
        try:
            self._send(
                conn,
                b"INFO "
                + json.dumps(
                    {"server_name": "mini-nats", "proto": 1, "max_payload": 1 << 20}
                ).encode()
                + b"\r\n",
            )
            while not self._closing:
                try:
                    op = read_op(fh)
                except (ConnectionError, OSError):
                    return
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
        finally:
            with self._lock:
                dead = [k for k in self._subs if k[0] == id(conn)]
                for k in dead:
                    del self._subs[k]
                self._send_locks.pop(id(conn), None)
            try:
                conn.close()
            except OSError:
                pass

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

    def close(self) -> None:
        self._closing = True
        try:
            self._sock.close()
        except OSError:
            pass


# ---------------------------------------------------------------------------
# Streaming reader (seq-window core) + transports
# ---------------------------------------------------------------------------


@dataclass
class NatsListenerFactory:
    """Real socket subscriber: SUB on connect, a background thread
    drains MSG frames into the reader buffer. Connection loss is fatal
    (reference S3 policy — core NATS cannot replay what was missed)."""

    addr: str = ""
    subject: str = ">"
    queue: str = ""

    def __call__(self, on_msg, on_error):
        listener = _SubListener(self, on_msg, on_error)
        listener.start()
        return listener


class _SubListener:
    def __init__(self, cfg: NatsListenerFactory, on_msg, on_error):
        self._cfg = cfg
        self._on_msg = on_msg
        self._on_error = on_error
        self._closing = False
        self._client: Optional[NatsClient] = None

    def start(self) -> None:
        # connect + SUB synchronously so no message published after
        # construction can be missed; drain on a background thread
        self._client = NatsClient(self._cfg.addr)
        self._client.sub(self._cfg.subject, sid="1", queue=self._cfg.queue)
        self._client.ping()  # round-trip: the SUB is registered server-side
        threading.Thread(target=self._loop, name="cheetah-nats-sub", daemon=True).start()

    def _loop(self) -> None:
        try:
            while not self._closing:
                subject, _sid, reply_to, payload = self._client.next_msg()
                self._on_msg(subject, reply_to, payload)
        except Exception as exc:
            if not self._closing:
                self._on_error(exc)

    def close(self) -> None:
        self._closing = True
        if self._client is not None:
            self._client.close()


def _nats_item(rec: dict) -> tuple:
    return rec["subject"], rec.get("reply_to") or "", rec["payload"]


def _nats_factory(options) -> Callable:
    transport = (options.get("transport") or "socket").lower()
    if transport == "socket":
        return NatsListenerFactory(
            addr=options.get("addr") or "",
            subject=options.get("subject") or ">",
            queue=options.get("queue") or "",
        )
    if transport == "replay":
        return NdjsonReplayFactory.from_options(options, _nats_item)
    raise ValueError(f"nats: unknown transport {transport!r} (socket|replay)")


class _NatsSimpleStreamReader(SeqWindowStreamReader):
    """Seq-window reader over the SUB listener / replay pump. No acks:
    core NATS delivery is at-most-once (JetStream consumers add acks,
    on a real server)."""

    _PICKLE_FIELDS = ("_factory",)

    def __init__(self, options):
        self._factory = _nats_factory(options)
        self._init_runtime()

    def _make_listener(self):
        return self._factory(self._on_msg, self._on_error)

    def _on_msg(self, subject: str, reply_to: str, payload: str) -> None:
        self._on_item((subject, reply_to, payload))

    def _row_of(self, item: tuple) -> tuple:
        return item

    def _lost_window_error(self, start_seq: int, end_seq: int) -> Exception:
        return RuntimeError(
            f"nats: replay window lost for offsets [{start_seq},{end_seq}) after "
            "restart — core NATS is at-most-once with no server-side replay; "
            "use JetStream (durable consumer) for redelivery on a real server"
        )


class NatsStreamDataSource(DataSource):
    """``spark.readStream.format("cheetah-nats")`` — a NATS
    subscription as a Python streaming data source."""

    @classmethod
    def name(cls) -> str:
        return "cheetah-nats"

    def schema(self) -> str:
        return NATS_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return _NatsSimpleStreamReader(self.options)


# ---------------------------------------------------------------------------
# Source / Sink adapters (config types)
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
        return load_stream(
            spark,
            NatsStreamDataSource,
            transport=self.transport,
            addr=self.addr,
            subject=self.subject,
            queue=self.queue,
            capture_path=self.capture_path,
            chunk_size=self.chunk_size,
        )


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
