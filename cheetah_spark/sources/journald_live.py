"""Live journald transport (reference kawad source config type
``journald``, README.md:179-185 — ``{"type":"journald"}``, zero
config) on the PySpark Python Data Source API.

``spark.readStream.format("cheetah-journald")`` admits Journal Export
Format *entries* (blank-line-separated ``KEY=VALUE`` blocks) with the
envelope schema ``entry string, cursor string``. Typed field
extraction is relational (:mod:`cheetah_spark.functions.journald`) —
the listener only frames entries; executors parse.

Transports:

- ``transport=journalctl`` — the production path: spawn ``journalctl
  --output=export --follow`` and frame its stdout into entries.
  Availability-gated the way paho/win32 are: constructing it on a host
  without journalctl raises a clear error naming the binary;
  everything downstream of the pipe — framing, offsets, commit — is
  the same code the replay transport exercises.
- ``transport=replay`` — frames a recorded export capture (a file or
  directory of ``*.export`` files) through the identical reader.

Offsets are admitted-entry counts ``{"seq": n}``; the journald cursor
(``__CURSOR`` field) rides in the envelope so a production consumer
can translate committed offsets back into ``journalctl
--after-cursor`` resume points — the export format's own resume
mechanism.
"""

from __future__ import annotations

import base64
import shutil
import struct
import subprocess
import threading
from dataclasses import dataclass
from typing import BinaryIO, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.sources import Source
from cheetah_spark.sources.seqwindow import (
    LiveDataSource,
    ReplayPump,
    SeqWindowStreamReader,
    capture_files,
    load_stream,
)

JOURNALD_STREAM_SCHEMA = "entry string, cursor string"


def _frame_entries(lines: Iterator[str]) -> Iterator[str]:
    """Blank-line framing of a TEXT export stream: yield each entry as
    the newline-joined block of its KEY=VALUE lines. Text subset only —
    the live and replay paths frame through
    :func:`_frame_entries_bytes`, which understands the export format's
    length-prefixed binary fields (this helper would mis-frame them)."""
    block: list[str] = []
    for line in lines:
        line = line.rstrip("\n")
        if line == "":
            if block:
                yield "\n".join(block)
                block = []
        else:
            block.append(line)
    if block:
        yield "\n".join(block)


def _read_exact(stream: BinaryIO, n: int) -> bytes:
    """Read exactly n bytes (loop over short reads — a pipe's raw reads
    may return early even when more data is coming)."""
    chunks: list[bytes] = []
    while n > 0:
        chunk = stream.read(n)
        if not chunk:
            break
        chunks.append(chunk)
        n -= len(chunk)
    return b"".join(chunks)


def _frame_entries_bytes(stream: BinaryIO) -> Iterator[str]:
    """Binary-safe framing of a ``journalctl -o export`` stream
    (systemd Journal Export Format, a public spec): entries are
    blank-line-separated field blocks where a field is EITHER

    - ``NAME=VALUE\\n`` (text), or
    - ``NAME\\n`` + uint64-LE byte length + that many raw bytes +
      ``\\n`` (binary — e.g. a non-UTF-8 MESSAGE), whose payload may
      itself contain ``\\n\\n`` and invalid UTF-8.

    Round-8 advice: the previous text-mode reader decoded the pipe with
    the strict locale codec and framed purely on blank lines, so one
    binary journal field could raise UnicodeDecodeError in the pump
    thread (fataling the stream) or silently mis-frame entries. This
    framer reads bytes, decodes text fields with errors='replace', and
    re-emits binary fields as ``NAME=b64:<base64>`` so the entry stays
    one string and no payload byte can break framing.
    """
    block: list[str] = []
    while True:
        line = stream.readline()
        if line == b"":  # EOF
            break
        if line == b"\n":
            if block:
                yield "\n".join(block)
                block = []
            continue
        line = line.rstrip(b"\n")
        if b"=" in line:
            block.append(line.decode("utf-8", errors="replace"))
            continue
        # binary field: the name line is followed by a u64-LE size,
        # the raw payload, and a trailing newline
        size_raw = _read_exact(stream, 8)
        if len(size_raw) < 8:
            block = []  # truncated mid-field: drop the partial entry
            break
        (size,) = struct.unpack("<Q", size_raw)
        data = _read_exact(stream, size)
        if len(data) < size:
            block = []
            break
        _read_exact(stream, 1)  # the newline terminating the payload
        name = line.decode("utf-8", errors="replace")
        block.append(name + "=b64:" + base64.b64encode(data).decode("ascii"))
    if block:
        yield "\n".join(block)


def _cursor_of(entry: str) -> str:
    for line in entry.split("\n"):
        if line.startswith("__CURSOR="):
            return line[len("__CURSOR=") :]
    return ""


@dataclass
class JournalctlFactory:
    """Spawns ``journalctl -o export`` and pumps framed entries to the
    reader. ``extra_args`` is the escape hatch for unit/priority
    filters (server-side filtering beats shipping everything)."""

    follow: bool = True
    after_cursor: str = ""
    extra_args: tuple = ()

    def __call__(self, on_entry, on_error):
        binary = shutil.which("journalctl")
        if binary is None:
            raise RuntimeError(
                "journald source requires the journalctl binary (systemd host); "
                "use transport='replay' with an export-format capture elsewhere"
            )
        args = [binary, "--output=export", "--no-pager"]
        if self.follow:
            args.append("--follow")
        if self.after_cursor:
            args += ["--after-cursor", self.after_cursor]
        args += list(self.extra_args)
        proc = subprocess.Popen(
            args, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL
        )
        adapter = _ProcAdapter(proc)

        def pump():
            try:
                assert proc.stdout is not None
                for entry in _frame_entries_bytes(proc.stdout):
                    if adapter.closing:
                        return
                    on_entry(entry)
                if not adapter.closing and self.follow:
                    on_error(RuntimeError("journalctl exited unexpectedly"))
            except Exception as exc:  # pragma: no cover - pipe teardown races
                if not adapter.closing:
                    on_error(exc)

        t = threading.Thread(target=pump, name="cheetah-journald-pump", daemon=True)
        t.start()
        return adapter


class _ProcAdapter:
    def __init__(self, proc):
        self._proc = proc
        self.closing = False

    def close(self):
        self.closing = True
        try:
            self._proc.terminate()
        except OSError:
            pass


def _replay_entries(path: str) -> Iterator[str]:
    for fp in capture_files(path, (".export", ".txt")):
        # binary-safe: a recorded capture can carry the export
        # format's length-prefixed binary fields too
        with open(fp, "rb") as fh:
            yield from _frame_entries_bytes(fh)


@dataclass
class JournaldSource(Source):
    """Source adapter over the cheetah-journald stream format. The
    reference's config block is just ``{"type":"journald"}``
    (README.md:179-185) — every field here defaults accordingly."""

    transport: str = "journalctl"
    follow: bool = True
    after_cursor: str = ""
    # journalctl filters, e.g. ("--unit=sshd.service",); comma-joined
    # through the option channel — server-side filtering beats
    # shipping everything
    extra_args: tuple = ()
    capture_path: str = ""
    chunk_size: int = 0
    content_type: str = "raw"  # raw | auto (append parsed struct)
    streaming: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        df = load_stream(spark, JournaldStreamDataSource, self)
        if self.content_type == "auto":
            from cheetah_spark.functions import journald as JD

            df = df.withColumn("journal", JD.parsed(F.col("entry")))
        return df


class _JournaldSimpleStreamReader(SeqWindowStreamReader):
    """Seq-offset buffering reader on the shared
    :class:`~cheetah_spark.sources.seqwindow.SeqWindowStreamReader`
    core. commit() is effectively positional: journald's own resume
    mechanism is the cursor, which rides in every row — there is no
    per-entry ack to fire (``_ack_of`` stays None)."""

    NAME = "journald"
    SOURCE = JournaldSource

    def _make_listener(self):
        src = self._src
        if src.transport.lower() == "replay":
            return ReplayPump(_replay_entries(src.capture_path), src.chunk_size, self._on_item)
        factory = JournalctlFactory(src.follow, src.after_cursor, src.extra_args)
        return factory(self._on_item, self._on_error)

    def _row_of(self, entry: str) -> tuple:
        return (entry, _cursor_of(entry))

    def _lost_window_error(self, start_seq: int, end_seq: int) -> Exception:
        return RuntimeError(
            f"journald: replay window lost for offsets [{start_seq},{end_seq}) "
            "after restart — resume from the last committed row's cursor "
            "(journalctl --after-cursor) instead of replaying offsets"
        )


class JournaldStreamDataSource(LiveDataSource):
    """``spark.readStream.format("cheetah-journald")``."""

    NAME, SCHEMA, READER = "cheetah-journald", JOURNALD_STREAM_SCHEMA, _JournaldSimpleStreamReader
