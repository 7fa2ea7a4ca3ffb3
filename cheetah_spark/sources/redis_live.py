"""Redis Streams source/sink — the reference wishlist's #2 connector
(reference README.md:301-311 "Source / Destination Wishlist: redis"),
built on the PUBLIC Redis Serialization Protocol (RESP2) and the
public Streams commands (XADD/XLEN/XRANGE/XREAD — redis.io command
reference).

Transports, the syslog_live discipline:

- ``transport="socket"`` — a REAL RESP connection over stdlib TCP.
  No client package is required: the protocol is a dozen lines of
  framing (`*N\\r\\n$len\\r\\n...`), so :class:`RedisClient` speaks it
  directly, and :class:`MiniRedisServer` is a loopback RESP server
  (threaded stdlib sockets, in-memory streams) the conformance tests
  run against — a real redis-server accepts the identical bytes.
- ``transport="replay"`` — a deterministic NDJSON capture (schema:
  ``stream, id, fields``) through the same envelope, batch or
  streaming — the broker-less correctness path every connector here
  carries.

Rows surface as ``stream string, id string, fields string`` (fields
as a JSON object — Redis stream entries are flat field-value maps).
Stream IDs are the public ``<ms>-<seq>`` form; XREAD resumes from the
last-delivered id, which is why the streaming reader's offset cursor
maps 1:1 onto Redis's own replay semantics. Production at-least-once
uses consumer groups + XACK on a real server; the loopback reader
acks by committed id (the same upstream-cursor pattern as journald).
"""

from __future__ import annotations

import json
import socket
import threading
from dataclasses import dataclass
from typing import Callable, Optional, Tuple

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

REDIS_STREAM_SCHEMA = "stream string, id string, fields string"


# ---------------------------------------------------------------------------
# RESP2 framing (public spec: redis.io/docs/reference/protocol-spec)
# ---------------------------------------------------------------------------


def resp_encode(args) -> bytes:
    """Client request: array of bulk strings."""
    out = [b"*%d\r\n" % len(args)]
    for a in args:
        b = a if isinstance(a, bytes) else str(a).encode("utf-8")
        out.append(b"$%d\r\n%s\r\n" % (len(b), b))
    return b"".join(out)


def resp_read(fh):
    """Parse one reply from a buffered binary file object."""
    line = fh.readline()
    if not line:
        raise ConnectionError("redis: connection closed mid-reply")
    t, body = line[:1], line[1:-2]
    if t == b"+":
        return body.decode("utf-8")
    if t == b"-":
        raise RuntimeError(f"redis error reply: {body.decode('utf-8')}")
    if t == b":":
        return int(body)
    if t == b"$":
        n = int(body)
        if n == -1:
            return None
        data = fh.read(n + 2)
        return data[:-2].decode("utf-8")
    if t == b"*":
        n = int(body)
        if n == -1:
            return None
        return [resp_read(fh) for _ in range(n)]
    raise RuntimeError(f"redis: unknown RESP type byte {t!r}")


def _id_key(sid: str) -> Tuple[int, int]:
    ms, _, seq = sid.partition("-")
    return int(ms), int(seq or 0)


class RedisClient:
    """Minimal RESP client (stdlib socket) for the commands the
    connector needs. One instance per thread/partition."""

    def __init__(self, addr: str):
        host, _, port = addr.rpartition(":")
        self._sock = socket.create_connection((host or "127.0.0.1", int(port)))
        self._fh = self._sock.makefile("rb")

    def cmd(self, *args):
        self._sock.sendall(resp_encode(args))
        return resp_read(self._fh)

    def ping(self) -> str:
        return self.cmd("PING")

    def xadd(self, stream: str, sid: str, fields: dict) -> str:
        flat = [kv for pair in fields.items() for kv in pair]
        return self.cmd("XADD", stream, sid, *flat)

    def xlen(self, stream: str) -> int:
        return self.cmd("XLEN", stream)

    def xrange(self, stream: str, start: str = "-", end: str = "+"):
        return self.cmd("XRANGE", stream, start, end)

    def xread(self, stream: str, last_id: str, count: int = 256):
        return self.cmd("XREAD", "COUNT", count, "STREAMS", stream, last_id)

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass


class MiniRedisServer:
    """Loopback RESP server with in-memory Streams — the conformance
    stand-in (a real redis-server accepts the same bytes). Supports
    PING, XADD (explicit or ``*`` auto ids), XLEN, XRANGE (- +
    bounds), XREAD COUNT n STREAMS key id (exclusive-from)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind((host, port))
        self._sock.listen(16)
        self.addr = "%s:%d" % self._sock.getsockname()
        self._streams: dict[str, list] = {}
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

    def _serve(self, conn) -> None:
        fh = conn.makefile("rb")
        with conn:
            while not self._closing:
                try:
                    req = resp_read(fh)
                except (ConnectionError, OSError):
                    return
                try:
                    reply = self._dispatch([str(a) for a in req])
                except Exception as exc:  # protocol error → RESP error reply
                    conn.sendall(b"-ERR %s\r\n" % str(exc).encode("utf-8"))
                    continue
                conn.sendall(reply)

    # -- encoding helpers
    @staticmethod
    def _bulk(s: str) -> bytes:
        b = s.encode("utf-8")
        return b"$%d\r\n%s\r\n" % (len(b), b)

    @classmethod
    def _entries(cls, rows) -> bytes:
        out = [b"*%d\r\n" % len(rows)]
        for sid, flat in rows:
            out.append(b"*2\r\n")
            out.append(cls._bulk(sid))
            out.append(b"*%d\r\n" % len(flat))
            out.extend(cls._bulk(v) for v in flat)
        return b"".join(out)

    def _dispatch(self, a) -> bytes:
        cmd = a[0].upper()
        if cmd == "PING":
            return b"+PONG\r\n"
        if cmd == "XADD":
            stream, sid, flat = a[1], a[2], a[3:]
            with self._lock:
                rows = self._streams.setdefault(stream, [])
                if sid == "*":
                    # real Redis allocates max(top, wall-clock-ms)+1; the
                    # loopback takes the deterministic half of that max —
                    # strictly top+1 — so '*' always succeeds regardless
                    # of any explicit <ms>-<seq> ids already in the
                    # stream (round-10 advice: the old 0-n counter
                    # collided with pre-populated explicit ids)
                    top_ms, top_seq = _id_key(rows[-1][0]) if rows else (0, 0)
                    sid = f"{top_ms}-{top_seq + 1}"
                if rows and _id_key(sid) <= _id_key(rows[-1][0]):
                    raise ValueError(
                        "The ID specified in XADD is equal or smaller than the "
                        "target stream top item"
                    )
                rows.append((sid, list(flat)))
            return self._bulk(sid)
        if cmd == "XLEN":
            with self._lock:
                return b":%d\r\n" % len(self._streams.get(a[1], []))
        if cmd == "XRANGE":
            stream, start, end = a[1], a[2], a[3]
            lo = (0, 0) if start == "-" else _id_key(start)
            hi = (1 << 62, 1 << 62) if end == "+" else _id_key(end)
            with self._lock:
                rows = [r for r in self._streams.get(stream, []) if lo <= _id_key(r[0]) <= hi]
            return self._entries(rows)
        if cmd == "XREAD":
            # XREAD COUNT n STREAMS key id — exclusive-from id
            count = int(a[2]) if a[1].upper() == "COUNT" else 1 << 30
            key_at = a.index("STREAMS") + 1
            stream, after = a[key_at], a[key_at + 1]
            lo = (0, 0) if after in ("0", "0-0") else _id_key(after)
            with self._lock:
                rows = [r for r in self._streams.get(stream, []) if _id_key(r[0]) > lo][:count]
            if not rows:
                return b"*-1\r\n"  # null array: nothing new
            return b"*1\r\n*2\r\n" + self._bulk(stream) + self._entries(rows)
        raise ValueError(f"unknown command '{cmd}'")

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
class RedisListenerFactory:
    """Real RESP poller: XREAD from ``start_id``, advancing the id
    cursor — the wire-level replay semantics Redis Streams provide."""

    addr: str = ""
    stream: str = ""
    start_id: str = "0"
    poll_ms: int = 25

    def __call__(self, on_entry, on_error):
        poller = _XReadPoller(self, on_entry, on_error)
        poller.start()
        return poller


class _XReadPoller:
    def __init__(self, cfg: RedisListenerFactory, on_entry, on_error):
        self._cfg = cfg
        self._on_entry = on_entry
        self._on_error = on_error
        self._closing = False

    def start(self) -> None:
        threading.Thread(target=self._loop, name="cheetah-redis-xread", daemon=True).start()

    def _loop(self) -> None:
        try:
            client = RedisClient(self._cfg.addr)
            last = self._cfg.start_id
            import time as _time

            while not self._closing:
                got = client.xread(self._cfg.stream, last, count=512)
                if not got:
                    _time.sleep(self._cfg.poll_ms / 1000.0)
                    continue
                stream, entries = got[0][0], got[0][1]
                for sid, flat in entries:
                    fields = {flat[i]: flat[i + 1] for i in range(0, len(flat), 2)}
                    self._on_entry(stream, sid, json.dumps(fields, sort_keys=True))
                    last = sid
        except Exception as exc:  # connection loss is fatal (reference S3 policy)
            if not self._closing:
                self._on_error(exc)

    def close(self) -> None:
        self._closing = True


def _redis_item(rec: dict) -> tuple:
    return rec["stream"], rec["id"], rec["fields"]


def _redis_factory(options) -> Callable:
    transport = (options.get("transport") or "socket").lower()
    if transport == "socket":
        return RedisListenerFactory(
            addr=options.get("addr") or "",
            stream=options.get("stream") or "",
            start_id=options.get("start_id") or "0",
            poll_ms=int(options.get("poll_ms") or 25),
        )
    if transport == "replay":
        return NdjsonReplayFactory.from_options(options, _redis_item)
    raise ValueError(f"redis: unknown transport {transport!r} (socket|replay)")


class _RedisSimpleStreamReader(SeqWindowStreamReader):
    """Seq-window reader over the XREAD poller / replay pump."""

    _PICKLE_FIELDS = ("_factory",)

    def __init__(self, options):
        self._factory = _redis_factory(options)
        self._init_runtime()

    def _make_listener(self):
        return self._factory(self._on_entry, self._on_error)

    def _on_entry(self, stream: str, sid: str, fields_json: str) -> None:
        self._on_item((stream, sid, fields_json))

    def _row_of(self, item: tuple) -> tuple:
        return item

    def _lost_window_error(self, start_seq: int, end_seq: int) -> Exception:
        return RuntimeError(
            f"redis: replay window lost for offsets [{start_seq},{end_seq}) after "
            "restart — re-read the stream from the last committed entry id "
            "(XRANGE replay) or use consumer groups + XACK on a real server"
        )


class RedisStreamDataSource(DataSource):
    """``spark.readStream.format("cheetah-redis")`` — Redis Streams as
    a Python streaming data source."""

    @classmethod
    def name(cls) -> str:
        return "cheetah-redis"

    def schema(self) -> str:
        return REDIS_STREAM_SCHEMA

    def simpleStreamReader(self, schema: StructType) -> SimpleDataSourceStreamReader:
        return _RedisSimpleStreamReader(self.options)


# ---------------------------------------------------------------------------
# Source / Sink adapters (config types)
# ---------------------------------------------------------------------------


@dataclass
class RedisSource(Source):
    """Config type ``{"type":"redis","addr":...,"stream":...}``."""

    addr: str = ""
    stream: str = ""
    start_id: str = "0"
    poll_ms: int = 25
    transport: str = "socket"  # socket | replay
    capture_path: str = ""
    chunk_size: int = 0  # replay: entries delivered per micro-batch (0 = all)
    streaming: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        if not self.streaming:
            # batch over a capture (replay) or a full XRANGE snapshot
            if self.transport.lower() == "replay":
                return (
                    spark.read.schema(REDIS_STREAM_SCHEMA)
                    .json(self.capture_path)
                    .where(F.col("stream") == self.stream if self.stream else F.lit(True))
                )
            client = RedisClient(self.addr)
            try:
                rows = [
                    (
                        self.stream,
                        sid,
                        json.dumps(
                            {flat[i]: flat[i + 1] for i in range(0, len(flat), 2)},
                            sort_keys=True,
                        ),
                    )
                    for sid, flat in client.xrange(self.stream)
                ]
            finally:
                client.close()
            return spark.createDataFrame(rows, REDIS_STREAM_SCHEMA)
        return load_stream(
            spark,
            RedisStreamDataSource,
            transport=self.transport,
            addr=self.addr,
            stream=self.stream,
            start_id=self.start_id,
            poll_ms=self.poll_ms,
            capture_path=self.capture_path,
            chunk_size=self.chunk_size,
        )


@dataclass
class RedisStreamSink(Sink):
    """XADD every row (``stream, id, fields`` or any frame with an
    ``id``-less shape — ids default to ``*`` server-assignment). One
    RESP connection per partition; replay transport appends the NDJSON
    capture the source reads (source↔sink round-trip without a
    server)."""

    addr: str = ""
    stream: str = "out"
    transport: str = "socket"  # socket | replay
    capture_path: str = ""
    checkpoint: Optional[str] = None
    trigger: Optional[dict] = None

    def write(self, df: DataFrame):
        cols = set(df.columns)
        stream_col = F.col("stream") if "stream" in cols else F.lit(self.stream)
        id_col = F.col("id") if "id" in cols else F.lit("*")
        fields_col = (
            F.col("fields")
            if "fields" in cols
            else F.to_json(F.struct(*[F.col(c) for c in df.columns]))
        )
        out = df.select(
            stream_col.alias("stream"), id_col.alias("id"), fields_col.alias("fields")
        )
        addr = self.addr

        def send(rows):
            client = None
            try:
                for r in rows:
                    if client is None:
                        client = RedisClient(addr)
                    client.xadd(r.stream, r.id, json.loads(r.fields))
            finally:
                if client is not None:
                    client.close()

        return write_transport(
            out, self.transport, "socket", "redis", self.capture_path, send,
            self.checkpoint, self.trigger,
        )
