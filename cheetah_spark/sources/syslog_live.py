"""Live syslog listener transport (reference kawad source config type
``syslog`` — README.md:168-177: ``{"type":"syslog","addr":
"0.0.0.0:5514"}``; the Go implementation lives in the parent project,
so this module is built from the config surface + the public RFCs) on
the PySpark Python Data Source API.

``spark.readStream.format("cheetah-syslog")`` admits raw syslog lines
into Structured Streaming with the envelope schema ``raw string, peer
string`` — parsing into PRI/facility/severity/host/app/message is a
*relational* concern handled by pure Column expressions
(:mod:`cheetah_spark.functions.syslog`), so it runs JVM-side on
executors, not inside the single-threaded listener. The listener only
moves bytes; Spark fans the lines out immediately after admission —
the same reader-thin/parse-wide split every 100 TB ingest edge needs.

Transports (the mqtt_live pluggable-transport pattern, but the socket
one is fully runnable here — it is stdlib, no wheel gate):

- ``transport=socket`` — the production path. A background thread
  binds ``addr`` and pushes datagrams (UDP — RFC 5426, one message
  per datagram) or newline-framed lines (TCP — RFC 6587 non-transparent
  framing) into the reader's buffer. UDP is fire-and-forget: there is
  no redelivery, so ``commit`` is a no-op and the at-least-once story
  is "don't crash between read and checkpoint" — exactly the wire
  protocol's own guarantee, surfaced honestly rather than pretended
  away.
- ``transport=replay`` — delivers an NDJSON capture (``{"raw": ...,
  "peer": ...}`` records) through the identical reader, optionally in
  per-micro-batch chunks, and records acks to ``ack_log`` so tests
  can assert commit-order acking from outside the streaming
  subprocess (the MqttReplaySource discipline).

Delivery contract: offsets are admitted-line counts ``{"seq": n}``;
``read`` drains the buffer, ``readBetweenOffsets`` replays a short
in-memory window after a restart, ``commit`` acks replay records
below the committed offset.

The seq-window reader core (buffer/window/offset/commit), the replay
pump and the capture lister are shared with every live transport via
:mod:`cheetah_spark.sources.seqwindow` — an offset-machinery fix lands
once (the r8 self-declared debt, closed r9); this module supplies only
the transports, the bare-text replay fallback and the envelope/ack/
lost-window hooks.
"""

from __future__ import annotations

import json
import socket
import threading
from dataclasses import dataclass
from typing import Iterator, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.sources import Source
from cheetah_spark.sources.seqwindow import (
    AckHandle,
    LiveDataSource,
    ReplayPump,
    SeqWindowStreamReader,
    capture_lines,
    load_stream,
)

SYSLOG_STREAM_SCHEMA = "raw string, peer string"


def _bind_socket(src: SyslogSource, on_record, on_error) -> _SocketAdapter:
    """Real datagram/stream listener on stdlib sockets. Binding
    ``port=0`` picks an ephemeral port; the bound address is written
    to ``addr_file`` so the test process (outside the data-source
    runner) can learn where to send."""
    proto = src.proto.lower()
    host, _, port = src.addr.rpartition(":")
    host = host or "127.0.0.1"
    if proto == "udp":
        sock = socket.socket(socket.AF_INET, socket.SOCK_DGRAM)
        sock.bind((host, int(port)))
    elif proto == "tcp":
        sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        sock.bind((host, int(port)))
        sock.listen(8)
    else:
        raise ValueError(f"syslog: unknown proto {src.proto!r} (udp|tcp)")
    if src.addr_file:
        bound = sock.getsockname()
        with open(src.addr_file, "w") as fh:
            fh.write(f"{bound[0]}:{bound[1]}")
    adapter = _SocketAdapter(sock, proto, on_record, on_error)
    adapter.start()
    return adapter


class _SocketAdapter:
    def __init__(self, sock, proto: str, on_record, on_error):
        self._sock = sock
        self._proto = proto
        self._on_record = on_record
        self._on_error = on_error
        self._closing = False
        self._threads: list[threading.Thread] = []

    def start(self) -> None:
        t = threading.Thread(
            target=self._udp_loop if self._proto == "udp" else self._tcp_loop,
            name="cheetah-syslog-listener",
            daemon=True,
        )
        t.start()
        self._threads.append(t)

    def _udp_loop(self) -> None:
        # one syslog message per datagram (RFC 5426 §3.1); trailing
        # newlines some senders append are stripped, embedded ones are
        # content
        while not self._closing:
            try:
                data, peer = self._sock.recvfrom(65535)
            except OSError:
                if not self._closing:
                    self._on_error(RuntimeError("syslog: udp socket error"))
                return
            self._on_record(data.decode("utf-8", "replace").rstrip("\r\n"), f"{peer[0]}:{peer[1]}")

    def _tcp_loop(self) -> None:
        while not self._closing:
            try:
                conn, peer = self._sock.accept()
            except OSError:
                if not self._closing:
                    self._on_error(RuntimeError("syslog: tcp socket error"))
                return
            t = threading.Thread(
                target=self._tcp_conn, args=(conn, f"{peer[0]}:{peer[1]}"), daemon=True
            )
            t.start()
            self._threads.append(t)

    def _tcp_conn(self, conn, peer: str) -> None:
        # RFC 6587 §3.4.2 non-transparent framing: LF-terminated lines
        buf = b""
        with conn:
            while not self._closing:
                try:
                    chunk = conn.recv(65536)
                except OSError:
                    # connection reset mid-stream: treat like an abrupt
                    # close — fall through to the trailing-buffer flush
                    # instead of losing the partial line to an uncaught
                    # thread exception (r8 self-review)
                    break
                if not chunk:
                    break
                buf += chunk
                while b"\n" in buf:
                    line, buf = buf.split(b"\n", 1)
                    if line:
                        self._on_record(line.decode("utf-8", "replace").rstrip("\r"), peer)
        if buf.strip():  # sender closed/reset without final LF — still a message
            self._on_record(buf.decode("utf-8", "replace").rstrip("\r\n"), peer)

    def close(self) -> None:
        self._closing = True
        try:
            self._sock.close()
        except OSError:
            pass


def _log_ack(ack_log: str, seq: int, peer: str) -> None:
    with open(ack_log, "a") as fh:
        fh.write(json.dumps({"seq": seq, "peer": peer}) + "\n")


def _replay_records(path: str) -> Iterator[Tuple[str, str]]:
    for line in capture_lines(path, (".json", ".txt")):
        # NDJSON record if it parses as one; otherwise the line IS the
        # message — a bare-text capture may legitimately contain syslog
        # messages that start with '{' (JSON-payload syslog is common),
        # and a prefix-only gate would JSONDecodeError and kill the
        # replay pump (r8 advice)
        if line.startswith("{"):
            try:
                rec = json.loads(line)
                raw, peer = rec["raw"], rec.get("peer", "replay:0")
            except (json.JSONDecodeError, KeyError, TypeError):
                pass
            else:
                yield raw, peer
                continue
        yield line, "replay:0"


@dataclass
class SyslogSource(Source):
    """Source adapter over the cheetah-syslog stream format.

    ``content_type="auto"`` appends the parsed struct (facility,
    severity, host, app, procid, message, ts_raw — pure Column
    expressions from :mod:`cheetah_spark.functions.syslog`) so config
    pipelines get typed fields without a separate transform; ``"raw"``
    leaves the envelope alone (the reference's contentType dial).
    ``"rfc3164"`` / ``"rfc5424"`` FORCE that single grammar: only the
    named RFC's regex is applied, and a line of the other format
    parses to an all-NULL struct rather than being silently handled by
    the sibling grammar (r8 advice: the forced values previously
    aliased auto-detection, so the dial was not honored)."""

    addr: str = "127.0.0.1:0"
    proto: str = "udp"
    content_type: str = "raw"
    transport: str = "socket"
    capture_path: str = ""
    ack_log: str = ""
    chunk_size: int = 0
    addr_file: str = ""
    streaming: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        df = load_stream(spark, SyslogStreamDataSource, self)
        if self.content_type == "auto":
            from cheetah_spark.functions import syslog as SL

            df = df.withColumn("syslog", SL.parsed(F.col("raw")))
        elif self.content_type in ("rfc3164", "rfc5424"):
            from cheetah_spark.functions import syslog as SL

            df = df.withColumn(
                "syslog", SL.parsed_forced(F.col("raw"), self.content_type)
            )
        elif self.content_type != "raw":
            raise ValueError(
                f"syslog: unknown content_type {self.content_type!r} "
                "(raw|auto|rfc3164|rfc5424)"
            )
        return df


class _SyslogSimpleStreamReader(SeqWindowStreamReader):
    """Driver-side reader on the shared
    :class:`~cheetah_spark.sources.seqwindow.SeqWindowStreamReader`
    core: buffers listener-pushed lines, serves them as seq-numbered
    micro-batch slices, and on commit records replay acks to
    ``ack_log`` in commit order. UDP records have no ack by nature —
    the wire protocol has no redelivery — so commit has nothing else
    to fire."""

    NAME = "syslog"
    SOURCE = SyslogSource

    def _make_listener(self):
        src = self._src
        if src.transport.lower() == "replay":
            return ReplayPump(_replay_records(src.capture_path), src.chunk_size, self._on_item)
        return _bind_socket(src, lambda raw, peer: self._on_item((raw, peer)), self._on_error)

    def _row_of(self, item: tuple) -> tuple:
        return item

    def _ack_of(self, item: tuple, seq: int, listener):
        if self._src.transport.lower() != "replay" or not self._src.ack_log:
            return None
        return AckHandle(_log_ack, self._src.ack_log, seq, item[1])

    def _lost_window_error(self, start_seq: int, end_seq: int) -> Exception:
        # datagram transports have no redelivery; surface the gap
        # instead of silently committing an empty range
        return RuntimeError(
            f"syslog: replay window lost for offsets [{start_seq},{end_seq}) "
            "after restart — datagram transport has no redelivery; rows are "
            "unrecoverable (use the replay transport or durable upstream relay "
            "for at-least-once)"
        )


class SyslogStreamDataSource(LiveDataSource):
    """``spark.readStream.format("cheetah-syslog")`` — the kawad
    syslog source config type as a Python streaming data source."""

    NAME, SCHEMA, READER = "cheetah-syslog", SYSLOG_STREAM_SCHEMA, _SyslogSimpleStreamReader
