"""The live-transport shell every broker source runs on.

The live transport sources (amqp, nats, nsq, pubsub, redis, zmq, mqtt,
syslog, journald, eventlog, and kinesis's replay transport) all run
the same driver-side reader machinery on the PySpark Python Data
Source API (``SimpleDataSourceStreamReader``):

- a background transport pushes items into a locked buffer;
- offsets are admitted-item counts ``{"seq": n}``;
- ``read(start)`` drains the buffer into seq-numbered rows and keeps a
  short in-memory window of recent slices;
- ``readBetweenOffsets`` replays a windowed slice after a restart, and
  applies a per-source policy when the window is gone (broker
  redelivery / unrecoverable / cursor-resume);
- ``commit(end)`` fires per-item acks for everything below the
  committed offset (at-least-once, ack-after-checkpoint — reference
  kawa T4 ackFn semantics);
- Spark pickles the reader into the data-source runner process before
  first use, so only the transport's Source dataclass travels; runtime
  state (lock, buffers, transport handle) is rebuilt on unpickle.

Config is declared once, as the transport's Source dataclass:
``load_stream`` forwards its fields as string options and the reader
rebuilds the same dataclass with ``source_from_options``, coercing each
value by the type of the field's default.

Subclass contract:

- set ``NAME`` (the label in errors) and ``SOURCE`` (the Source
  dataclass the options rebuild; the default of its ``transport``
  field names the live transport, the other accepted one is
  ``"replay"``); the rebuilt config is ``self._src``;
- implement ``_row_of(item)`` → the output tuple;
- live transport on the shared ``ListenerLoop``: implement
  ``_connect()`` → a client with ``close()`` (subscribed before it
  returns) and ``_poll(client)`` → the items of one receive round;
- replay transport over an NDJSON capture at ``capture_path``:
  implement ``_replay_item(record)`` → the item;
- a transport with its own adapter overrides ``_make_listener()``
  instead (construct + start it, wiring ``self._on_item`` /
  ``self._on_error``; a replay adapter exposes ``pump()``);
- optionally override ``_ack_of(item, seq, listener)`` → an
  ``AckHandle`` (or None for an item with nothing to ack; the
  shared listener's client is ``listener.client``), and
  ``_validate()`` for construction-time config checks;
- implement ``_lost_window_error(start_seq, end_seq)`` → the
  exception for an unrecoverable lost replay window, or override
  ``_on_lost_window`` entirely for softer policies (brokers that
  redeliver unacked messages warn instead).

``LiveDataSource`` is the ``format("cheetah-*")`` data source: a
subclass sets only ``NAME``, ``SCHEMA`` and ``READER``.
``LoopbackServer`` is the threaded TCP server the loopback broker
fakes share.

Replay transports (a recorded capture standing in for the live
sender) share the rest:

- ``capture_files`` / ``capture_lines`` list a capture file or
  directory the way Spark's batch reader does: sorted names, no
  ``_``/``.`` files, and only the files a streaming file sink
  committed to ``_spark_metadata`` when that manifest exists;
- ``ReplayPump`` delivers the capture's items ``chunk_size`` per
  micro-batch ``read`` (all at construction when ``chunk_size <= 0``).
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import os
import socket
import threading
from typing import Callable, Iterable, Iterator, List, Optional, Tuple
from urllib.parse import unquote

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

# slices of recent read() results kept for readBetweenOffsets replay;
# Spark's own simple-reader prefetch cache normally serves this — the
# local window is a second line of defense
_WINDOW_KEEP = 8


# ---------------------------------------------------------------------------
# Config: one Source dataclass, forwarded as options and rebuilt
# ---------------------------------------------------------------------------


def source_options(source) -> dict:
    """The Source dataclass's fields as ``load_stream`` string options:
    a tuple joins with commas; None and empty values are left out, so
    the reader falls back to the field default."""
    out = {}
    for f in dataclasses.fields(source):
        v = getattr(source, f.name)
        if isinstance(v, tuple):
            v = ",".join(v)
        if v is not None and v != "":
            out[f.name] = str(v)
    return out


def _coerce(raw: str, default):
    if isinstance(default, bool):
        return raw.lower() == "true"
    if isinstance(default, (int, float)):
        return type(default)(raw)
    if isinstance(default, tuple):
        return tuple(a for a in raw.split(",") if a)
    return raw


def source_from_options(cls, options):
    """Rebuild the Source dataclass ``cls`` from string options: each
    present, non-empty option is coerced by the type of its field's
    default (str, int, float, bool, or a comma-split tuple); the
    others keep the default."""
    kw = {}
    for f in dataclasses.fields(cls):
        raw = options.get(f.name)
        if raw is not None and raw != "":
            kw[f.name] = _coerce(raw, f.default)
    return cls(**kw)


def load_stream(spark, data_source, source):
    """Register ``data_source`` on the session and open it as a stream
    with ``source``'s fields as options (``source_options``).
    Registration is an idempotent per-session catalog write, so there
    is no memo: an id(spark)-keyed cache would go stale when CPython
    reuses a collected session's address."""
    spark.dataSource.register(data_source)
    reader = spark.readStream.format(data_source.name())
    for k, v in source_options(source).items():
        reader = reader.option(k, v)
    return reader.load()


class LiveDataSource(DataSource):
    """``spark.readStream.format(NAME)`` with schema ``SCHEMA``; each
    stream gets ``READER(options)``. A transport's subclass sets only
    these three."""

    NAME: str = ""
    SCHEMA: str = ""
    READER: Callable = None

    @classmethod
    def name(cls) -> str:
        return cls.NAME

    def schema(self) -> str:
        return self.SCHEMA

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return type(self).READER(self.options)


# ---------------------------------------------------------------------------
# Live transport: one listener loop, one ack handle
# ---------------------------------------------------------------------------


class ListenerLoop:
    """A live transport's listener. ``connect()`` runs synchronously, so
    the subscription is in place before the first read; then
    ``poll(client)`` runs round after round on a daemon thread, each
    round's items going to ``on_item`` in order. A poll exception
    reaches ``on_error`` only while the listener is open (connection
    loss is fatal, reference S3 policy); ``close()`` closes the client,
    which unblocks a pending receive."""

    def __init__(
        self,
        connect: Callable,
        poll: Callable,
        on_item: Callable,
        on_error: Callable,
        name: str = "cheetah-listener",
    ):
        self.client = connect()
        self._closing = False
        self.thread = threading.Thread(
            target=self._run, args=(poll, on_item, on_error), name=name, daemon=True
        )
        self.thread.start()

    def _run(self, poll, on_item, on_error) -> None:
        try:
            while not self._closing:
                for item in poll(self.client):
                    on_item(item)
        except Exception as exc:
            if not self._closing:
                on_error(exc)

    def close(self) -> None:
        self._closing = True
        self.client.close()


class AckHandle:
    """``ack()`` calls ``fn(*args)`` once the batch holding the item is
    committed. A failing ack is swallowed: the broker redelivers what
    was never acked, so at-least-once holds."""

    __slots__ = ("_fn", "_args")

    def __init__(self, fn: Callable, *args):
        self._fn = fn
        self._args = args

    def ack(self) -> None:
        try:
            self._fn(*self._args)
        except Exception:
            pass


# ---------------------------------------------------------------------------
# The seq-window reader core
# ---------------------------------------------------------------------------


class SeqWindowStreamReader(SimpleDataSourceStreamReader):
    """Seq-offset buffering reader core (see module docstring)."""

    NAME: str = ""
    SOURCE: type = None

    def __init__(self, options):
        self._src = source_from_options(self.SOURCE, options)
        self._validate()
        self._init_runtime()

    def _init_runtime(self) -> None:
        self._lock = threading.Lock()
        self._buffer: list = []  # admitted, not yet read
        self._pending: dict[int, object] = {}  # seq -> read, unacked
        self._window: dict[int, list[tuple]] = {}  # start_seq -> rows
        self._fatal: Optional[Exception] = None
        self._listener = None

    def __getstate__(self):
        return {"_src": self._src}  # the config alone crosses the pickle

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._init_runtime()

    # -- transport callbacks ------------------------------------------------
    def _on_item(self, item) -> None:
        with self._lock:
            self._buffer.append(item)

    def _on_error(self, exc: Exception) -> None:
        self._fatal = exc

    # -- subclass hooks -----------------------------------------------------
    def _validate(self) -> None:
        live = self.SOURCE.transport  # the Source's default transport
        if self._src.transport.lower() not in (live, "replay"):
            raise ValueError(
                f"unknown {self.NAME} transport {self._src.transport!r} ({live}|replay)"
            )

    def _make_listener(self):
        if self._src.transport.lower() == "replay":
            items = (self._replay_item(json.loads(line)) for line in capture_lines(self._src.capture_path))
            return ReplayPump(items, self._src.chunk_size, self._on_item)
        return ListenerLoop(
            self._connect, self._poll, self._on_item, self._on_error, f"cheetah-{self.NAME}-listener"
        )

    def _connect(self):
        raise NotImplementedError

    def _poll(self, client) -> Iterable:
        raise NotImplementedError

    def _replay_item(self, record: dict):
        raise NotImplementedError

    def _row_of(self, item) -> tuple:
        raise NotImplementedError

    def _ack_of(self, item, seq: int, listener) -> Optional[AckHandle]:
        """Return an ``AckHandle`` to fire on commit, or None for an
        item with nothing to ack (replay items, ack-less transports,
        journald cursors that ride in the rows)."""
        return None

    def _lost_window_error(self, start_seq: int, end_seq: int) -> Exception:
        raise NotImplementedError

    def _on_lost_window(self, start_seq: int, end_seq: int) -> None:
        """Policy when a non-empty replay range is requested after the
        local window was lost (reader-process restart). Default: the
        range is unrecoverable — fail the query rather than silently
        committing an empty slice."""
        raise self._lost_window_error(start_seq, end_seq)

    # -- SimpleDataSourceStreamReader contract ------------------------------
    def _ensure_listener(self):
        if self._listener is None:
            self._listener = self._make_listener()
        return self._listener

    def initialOffset(self) -> dict:
        self._ensure_listener()
        return {"seq": 0}

    def read(self, start: dict) -> Tuple[Iterator[tuple], dict]:
        listener = self._ensure_listener()
        pump = getattr(listener, "pump", None)
        if pump is not None:  # replay transports deliver per-batch chunks
            pump()
        if self._fatal is not None:
            # fatal contract: surface the lost transport as a query
            # error — offsets stay uncommitted; the transport's own
            # exception stays attached as the cause
            raise RuntimeError(str(self._fatal)) from self._fatal
        with self._lock:
            drained, self._buffer = self._buffer, []
        rows = []
        start_seq = start["seq"]
        seq = start_seq
        for item in drained:
            ack = self._ack_of(item, seq, listener)
            if ack is not None:
                self._pending[seq] = ack
            rows.append(self._row_of(item))
            seq += 1
        self._window[start_seq] = rows
        for k in sorted(self._window)[:-_WINDOW_KEEP]:
            del self._window[k]
        return iter(rows), {"seq": seq}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        rows = self._window.get(start["seq"])
        if rows is not None:
            return iter(rows[: end["seq"] - start["seq"]])
        if end["seq"] - start["seq"] > 0:
            self._on_lost_window(start["seq"], end["seq"])
        return iter(())

    def commit(self, end: dict) -> None:
        for seq in sorted(self._pending):
            if seq >= end["seq"]:
                break
            self._pending.pop(seq).ack()


# ---------------------------------------------------------------------------
# Loopback server: the threaded TCP shell of the broker fakes
# ---------------------------------------------------------------------------


class LoopbackServer:
    """Threaded TCP server the loopback broker fakes share: binds
    ``host:port`` (0 picks an ephemeral port; ``addr`` is the bound
    ``host:port``), accepts on a daemon thread, and runs
    ``_serve(conn)`` on one daemon thread per connection. ``_send``
    serialises writes per connection (a reply from a connection's own
    thread must not interleave with a fan-out from another's). When
    ``_serve`` returns or the peer fails, ``_drop`` runs
    ``_on_disconnect`` and closes the connection; ``close()`` stops
    accepting. A subclass sets its own state before calling
    ``__init__``."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._lock = threading.Lock()
        self._send_locks: dict[int, threading.Lock] = {}
        self._closing = False
        self._sock = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._sock.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._sock.bind((host, port))
        self._sock.listen(16)
        self.addr = "%s:%d" % self._sock.getsockname()
        threading.Thread(target=self._accept_loop, daemon=True).start()

    def _accept_loop(self) -> None:
        while not self._closing:
            try:
                conn, _ = self._sock.accept()
            except OSError:
                return
            threading.Thread(target=self._handle, args=(conn,), daemon=True).start()

    def _handle(self, conn) -> None:
        try:
            self._serve(conn)
        except (OSError, RuntimeError):
            pass  # the peer hung up or spoke out of protocol: drop it
        finally:
            self._drop(conn)

    def _serve(self, conn) -> None:
        raise NotImplementedError

    def _send(self, conn, data: bytes) -> None:
        with self._send_locks.setdefault(id(conn), threading.Lock()):
            conn.sendall(data)

    def _on_disconnect(self, conn) -> None:
        """Forget the connection's server-side state (subscriptions,
        unacked deliveries). Runs under no lock; idempotent."""

    def _drop(self, conn) -> None:
        self._on_disconnect(conn)
        with self._lock:
            self._send_locks.pop(id(conn), None)
        try:
            conn.close()
        except OSError:
            pass

    def close(self) -> None:
        self._closing = True
        try:
            self._sock.close()
        except OSError:
            pass


# ---------------------------------------------------------------------------
# Replay transports: capture listing + chunked delivery
# ---------------------------------------------------------------------------

NDJSON_SUFFIXES = (".json", ".ndjson")


def _committed_names(log_dir: str) -> Optional[set]:
    """Base names of the files a Spark file sink committed, read from
    its ``_spark_metadata`` log (the latest ``N.compact`` plus the batch
    files after it), or None when there is no log."""
    if not os.path.isdir(log_dir):
        return None
    batches = {}
    for name in os.listdir(log_dir):
        stem = name[: -len(".compact")] if name.endswith(".compact") else name
        if stem.isdigit():
            batches[int(stem)] = name
    first = max((b for b, n in batches.items() if n.endswith(".compact")), default=0)
    committed = set()
    for b in sorted(b for b in batches if b >= first):
        with open(os.path.join(log_dir, batches[b])) as fh:
            next(fh, None)  # the log version line, "v1"
            for line in fh:
                if line.strip():
                    entry = json.loads(line)
                    if entry.get("action") == "add":
                        committed.add(unquote(entry["path"].rsplit("/", 1)[-1]))
    return committed


def capture_files(path: str, suffixes: Tuple[str, ...] = NDJSON_SUFFIXES) -> List[str]:
    """The files of a capture in read order. A file path is the whole
    capture. A directory lists its ``suffixes`` files by sorted name,
    skipping ``_``/``.`` names; when a streaming file sink wrote it, only
    the files its manifest committed count, as for Spark's batch
    reader (a part file from a crashed batch is not in the capture)."""
    if not os.path.isdir(path):
        return [path]
    names = sorted(
        n for n in os.listdir(path) if not n.startswith(("_", ".")) and n.endswith(suffixes)
    )
    committed = _committed_names(os.path.join(path, "_spark_metadata"))
    if committed is not None:
        names = [n for n in names if n in committed]
    return [os.path.join(path, n) for n in names]


def capture_lines(path: str, suffixes: Tuple[str, ...] = NDJSON_SUFFIXES) -> Iterator[str]:
    """Every non-blank line of the capture's files, newline removed."""
    for fp in capture_files(path, suffixes):
        with open(fp) as fh:
            for line in fh:
                line = line.rstrip("\n")
                if line.strip():
                    yield line


class ReplayPump:
    """Deliver ``items`` to ``deliver``: ``chunk_size`` items per
    ``pump()`` — the core's ``read`` calls it once per micro-batch — or
    every item at construction when ``chunk_size <= 0``. ``pump()``
    after the last item is a no-op."""

    def __init__(self, items: Iterable, chunk_size: int, deliver: Callable) -> None:
        self._items = iter(items)
        self._chunk_size = chunk_size if chunk_size > 0 else None
        self._deliver = deliver
        if self._chunk_size is None:
            self.pump()

    def pump(self) -> None:
        for item in itertools.islice(self._items, self._chunk_size):
            self._deliver(item)

    def close(self) -> None:
        pass
