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
import time
from dataclasses import dataclass
from typing import Optional, Tuple

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


class MiniRedisServer(LoopbackServer):
    """Loopback RESP server with in-memory Streams — the conformance
    stand-in (a real redis-server accepts the same bytes). Supports
    PING, XADD (explicit or ``*`` auto ids), XLEN, XRANGE (- +
    bounds), XREAD COUNT n STREAMS key id (exclusive-from)."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._streams: dict[str, list] = {}
        super().__init__(host, port)

    def _serve(self, conn) -> None:
        fh = conn.makefile("rb")
        while not self._closing:
            req = resp_read(fh)
            try:
                reply = self._dispatch([str(a) for a in req])
            except Exception as exc:  # protocol error → RESP error reply
                reply = b"-ERR %s\r\n" % str(exc).encode("utf-8")
            self._send(conn, reply)

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


# ---------------------------------------------------------------------------
# Source config + streaming reader (seq-window core)
# ---------------------------------------------------------------------------


def _fields_json(flat: list) -> str:
    return json.dumps({flat[i]: flat[i + 1] for i in range(0, len(flat), 2)}, sort_keys=True)


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
                rows = [(self.stream, sid, _fields_json(flat)) for sid, flat in client.xrange(self.stream)]
            finally:
                client.close()
            return spark.createDataFrame(rows, REDIS_STREAM_SCHEMA)
        return load_stream(spark, RedisStreamDataSource, self)


class _RedisSimpleStreamReader(SeqWindowStreamReader):
    """Seq-window reader over XREAD polling / replay capture. Items are
    the rows ``(stream, id, fields)``. The poller advances its id
    cursor from ``start_id`` — the wire-level replay semantics Redis
    Streams provide."""

    NAME = "redis"
    SOURCE = RedisSource

    def _connect(self) -> RedisClient:
        self._last_id = self._src.start_id
        return RedisClient(self._src.addr)

    def _poll(self, client: RedisClient):
        got = client.xread(self._src.stream, self._last_id, count=512)
        if not got:
            time.sleep(self._src.poll_ms / 1000.0)
            return ()
        stream, entries = got[0][0], got[0][1]
        self._last_id = entries[-1][0]
        return [(stream, sid, _fields_json(flat)) for sid, flat in entries]

    def _replay_item(self, rec: dict) -> tuple:
        return rec["stream"], rec["id"], rec["fields"]

    def _row_of(self, item: tuple) -> tuple:
        return item

    def _lost_window_error(self, start_seq: int, end_seq: int) -> Exception:
        return RuntimeError(
            f"redis: replay window lost for offsets [{start_seq},{end_seq}) after "
            "restart — re-read the stream from the last committed entry id "
            "(XRANGE replay) or use consumer groups + XACK on a real server"
        )


class RedisStreamDataSource(LiveDataSource):
    """``spark.readStream.format("cheetah-redis")`` — Redis Streams as
    a Python streaming data source."""

    NAME, SCHEMA, READER = "cheetah-redis", REDIS_STREAM_SCHEMA, _RedisSimpleStreamReader


# ---------------------------------------------------------------------------
# Sink adapter (config type)
# ---------------------------------------------------------------------------


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
