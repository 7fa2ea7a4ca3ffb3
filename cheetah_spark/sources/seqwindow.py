"""Shared seq-window stream-reader base for push/pump transports.

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
  first use, so only declarative config travels; runtime state (lock,
  buffers, transport handle) is rebuilt on unpickle.

Round-8 self-declared debt (sources/syslog_live.py): this core was
triplicated, so an offset-machinery fix had to land three times — the
exact place a silent at-least-once bug would creep in. It now lives
once here; subclasses supply only the transport factory and the
envelope/ack/lost-window hooks.

Subclass contract:

- set ``_PICKLE_FIELDS`` to the attribute names that must survive
  pickling (the declarative config — at minimum ``_factory``);
- implement ``_make_listener()`` (construct + start the transport,
  wiring ``self._on_item`` / ``self._on_error``);
- implement ``_row_of(item)`` → the output tuple;
- optionally override ``_ack_of(item, seq, listener)`` → an object
  with ``.ack()`` (or None for ack-less transports);
- implement ``_lost_window_error(start_seq, end_seq)`` → the
  exception for an unrecoverable lost replay window, or override
  ``_on_lost_window`` entirely for softer policies (mqtt QoS≥1 warns
  and relies on broker redelivery).

Replay transports (a recorded capture standing in for the live
sender) share the rest:

- ``capture_files`` / ``capture_lines`` list a capture file or
  directory the way Spark's batch reader does: sorted names, no
  ``_``/``.`` files, and only the files a streaming file sink
  committed to ``_spark_metadata`` when that manifest exists;
- ``ReplayPump`` delivers the capture's items ``chunk_size`` per
  micro-batch ``read`` (all at construction when ``chunk_size <= 0``);
- ``NdjsonReplayFactory`` is the replay factory of the transports
  whose capture is NDJSON; each passes only its record → item
  mapping.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
from dataclasses import dataclass
from typing import Callable, Iterable, Iterator, List, Optional, Tuple
from urllib.parse import unquote

from pyspark.sql.datasource import SimpleDataSourceStreamReader

# slices of recent read() results kept for readBetweenOffsets replay;
# Spark's own simple-reader prefetch cache normally serves this — the
# local window is a second line of defense
_WINDOW_KEEP = 8


class SeqWindowStreamReader(SimpleDataSourceStreamReader):
    """Seq-offset buffering reader core (see module docstring)."""

    _PICKLE_FIELDS: tuple = ("_factory",)

    def _init_runtime(self) -> None:
        self._lock = threading.Lock()
        self._buffer: list = []  # admitted, not yet read
        self._pending: dict[int, object] = {}  # seq -> read, unacked
        self._window: dict[int, list[tuple]] = {}  # start_seq -> rows
        self._fatal: Optional[Exception] = None
        self._listener = None

    def __getstate__(self):
        return {k: getattr(self, k) for k in self._PICKLE_FIELDS}

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
    def _make_listener(self):
        raise NotImplementedError

    def _row_of(self, item) -> tuple:
        raise NotImplementedError

    def _ack_of(self, item, seq: int, listener):
        """Return an object with ``.ack()`` to fire on commit, or None
        for transports with nothing to ack (e.g. journald cursors ride
        in the rows)."""
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
            # error — offsets stay uncommitted
            raise RuntimeError(str(self._fatal))
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


def load_stream(spark, data_source, **options):
    """Register ``data_source`` on the session and open it as a stream,
    forwarding every non-empty option as a string (each reader's option
    parser supplies the defaults). Registration is an idempotent
    per-session catalog write, so there is no memo: an id(spark)-keyed
    cache would go stale when CPython reuses a collected session's
    address."""
    spark.dataSource.register(data_source)
    reader = spark.readStream.format(data_source.name())
    for k, v in options.items():
        if v is not None and v != "":
            reader = reader.option(k, str(v))
    return reader.load()


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


@dataclass
class NdjsonReplayFactory:
    """Replay transport over an NDJSON capture: ``item`` maps one
    capture record to the argument tuple of the transport's message
    callback (a module-level function, so the factory pickles)."""

    item: Callable[[dict], tuple]
    capture_path: str = ""
    chunk_size: int = 0

    @classmethod
    def from_options(cls, options, item: Callable[[dict], tuple]) -> "NdjsonReplayFactory":
        return cls(
            item,
            capture_path=options.get("capture_path") or "",
            chunk_size=int(options.get("chunk_size") or 0),
        )

    def __call__(self, on_msg, on_error) -> ReplayPump:
        items = (self.item(json.loads(line)) for line in capture_lines(self.capture_path))
        return ReplayPump(items, self.chunk_size, lambda args: on_msg(*args))
