"""Live Windows EventLog subscription (reference S4,
x/windows/event_logs.go:29-102 + system_windows.go:45-172) on the
PySpark Python Data Source API.

The batch half of S4 — XML→struct normalization of the EventLog
envelope — lives in queries/xmlio.py and is hash-verified. This module
is the *push subscription* half: ``EvtSubscribe`` delivering rendered
event XML into a Structured Streaming source
(``spark.readStream.format("cheetah-eventlog")``).

Transport is pluggable because the sandbox is Linux:

- ``transport=win32`` — the production path: ctypes bindings over
  ``wevtapi.dll`` mirroring the reference call-for-call —
  ``EvtSubscribe(channel, query, callback, method)`` with the same
  method/action constants (system_windows.go:16-43), ``EvtRender(...,
  EvtRenderEventXml)`` into a UTF-16 buffer (130-147), error actions
  surfaced as fatal stream errors (126-127). Platform-gated: building
  it off-Windows raises OSError up front.
- ``transport=replay`` — a kernel stand-in that pushes a directory of
  captured event-XML records through the identical callback interface,
  so offset bookkeeping, batching, and the fatal-error path are
  exercised by tests on any OS.

Delivery contract: EvtSubscribe is push-only with no consumer ack (the
reference enqueues ``ack: nil``, event_logs.go:156-162), so ``commit``
is a no-op and the effective guarantee is at-most-once across restarts
unless the subscription method is ``oldest`` (re-reads the whole log).
Both methods are supported (``EvtSubscribeToFutureEvents`` /
``EvtSubscribeStartAtOldestRecord``, system_windows.go:16-25).

Downstream, ``parse_eventlog`` applies the SAME ``from_xml``
normalization the hash-verified batch query uses, so the live stream
and the replay tests share one tested parser.
"""

from __future__ import annotations

import json
import sys
from dataclasses import dataclass
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.sources import Source
from cheetah_spark.sources.seqwindow import (
    LiveDataSource,
    SeqWindowStreamReader,
    capture_files,
    load_stream,
)

# Subscription constants — system_windows.go:16-43
EVT_SUBSCRIBE_TO_FUTURE_EVENTS = 1
EVT_SUBSCRIBE_START_AT_OLDEST_RECORD = 2
EVT_SUBSCRIBE_ACTION_ERROR = 0
EVT_SUBSCRIBE_ACTION_DELIVER = 1
EVT_RENDER_EVENT_XML = 1

_METHODS = {
    "future": EVT_SUBSCRIBE_TO_FUTURE_EVENTS,
    "oldest": EVT_SUBSCRIBE_START_AT_OLDEST_RECORD,
}


class Win32SubscriptionFactory:
    """Production transport: EvtSubscribe via ctypes over wevtapi.dll.

    Mirrors the reference subscription object (system_windows.go:56-117):
    ``create`` registers the kernel callback, ``close`` releases the
    handle, the callback renders each delivered event to XML and pushes
    it; error actions push a fatal error."""

    def __call__(self, channel: str, query: str, method: int, on_xml, on_error):
        if sys.platform != "win32":
            raise OSError(
                "eventlog transport=win32 requires Windows (wevtapi.dll); "
                "use transport=replay for capture replay on other platforms"
            )
        import ctypes  # pragma: no cover - no Windows host in sandbox
        from ctypes import wintypes

        wevtapi = ctypes.WinDLL("wevtapi.dll")
        CALLBACK = ctypes.WINFUNCTYPE(
            wintypes.DWORD, wintypes.DWORD, ctypes.c_void_p, ctypes.c_void_p
        )
        # EVT_HANDLEs are pointer-sized: without explicit restype/
        # argtypes ctypes defaults to 32-bit c_int and TRUNCATES
        # 64-bit handles on Win64 (EvtSubscribe's return, and the
        # event handle passed back into EvtRender/EvtClose)
        wevtapi.EvtSubscribe.restype = ctypes.c_void_p
        wevtapi.EvtSubscribe.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, wintypes.LPCWSTR, wintypes.LPCWSTR,
            ctypes.c_void_p, ctypes.c_void_p, CALLBACK, wintypes.DWORD,
        ]
        wevtapi.EvtRender.restype = wintypes.BOOL
        wevtapi.EvtRender.argtypes = [
            ctypes.c_void_p, ctypes.c_void_p, wintypes.DWORD, wintypes.DWORD,
            ctypes.c_void_p, ctypes.POINTER(wintypes.DWORD), ctypes.POINTER(wintypes.DWORD),
        ]
        wevtapi.EvtClose.restype = wintypes.BOOL
        wevtapi.EvtClose.argtypes = [ctypes.c_void_p]

        def _callback(action, _user_context, event):
            if action == EVT_SUBSCRIBE_ACTION_ERROR:
                # `event` is a c_void_p param: ctypes delivers NULL as
                # None, and None:x would raise INSIDE the kernel
                # callback, swallowing the error report entirely
                on_error(OSError(f"windows_events: callback error: Win32 Error {int(event or 0):x}"))
            elif action == EVT_SUBSCRIBE_ACTION_DELIVER:
                buf_chars = 1 << 16
                buf = ctypes.create_unicode_buffer(buf_chars)
                used = wintypes.DWORD(0)
                props = wintypes.DWORD(0)
                ok = wevtapi.EvtRender(
                    None,
                    event,
                    EVT_RENDER_EVENT_XML,
                    buf_chars * ctypes.sizeof(ctypes.c_wchar),
                    buf,
                    ctypes.byref(used),
                    ctypes.byref(props),
                )
                if not ok:
                    on_error(OSError("windows_event: failed to render event data"))
                else:
                    on_xml(buf.value)
            else:
                on_error(OSError(f"windows_events: unsupported action code {action:x}"))
            return 0

        cb = CALLBACK(_callback)
        handle = wevtapi.EvtSubscribe(
            None, None, channel, query or "*", None, None, cb, method
        )
        if not handle:
            raise OSError(f"windows_events: failed to subscribe to events on {channel!r}")
        return _Win32Handle(wevtapi, handle, cb)


class _Win32Handle:  # pragma: no cover - no Windows host in sandbox
    def __init__(self, wevtapi, handle, cb):
        self._wevtapi = wevtapi
        self._handle = handle
        self._cb = cb  # keep the callback alive for the handle's lifetime

    def close(self):
        if self._handle:
            self._wevtapi.EvtClose(self._handle)
            self._handle = 0


@dataclass
class ReplaySubscriptionFactory:
    """Kernel stand-in: pushes captured event-XML records (NDJSON
    ``{"xml": ...}`` lines, or raw ``.xml`` files) through the same
    callback interface. ``fail_after`` delivers N events then pushes an
    error action — the fatal-error path (system_windows.go:126-127)."""

    capture_path: str = ""
    fail_after: int = -1

    def __call__(self, channel: str, query: str, method: int, on_xml, on_error):
        if not self.capture_path:
            raise ValueError(
                "eventlog transport=replay requires capture_path "
                "(a directory of {'xml': ...} NDJSON or .xml files)"
            )
        delivered = 0
        for xml in _iter_xml_capture(self.capture_path):
            if 0 <= self.fail_after <= delivered:
                on_error(OSError("windows_events: callback error: Win32 Error f00"))
                break
            on_xml(xml)
            delivered += 1
        return _ReplayHandle()


class _ReplayHandle:
    def close(self):
        pass


def _iter_xml_capture(path: str) -> Iterator[str]:
    for fp in capture_files(path, (".xml", ".json", ".ndjson")):
        with open(fp) as fh:
            if fp.endswith(".xml"):
                yield fh.read()
            else:
                yield from (json.loads(line)["xml"] for line in fh if line.strip())


EVENTLOG_STREAM_SCHEMA = "xml string, channel string"


@dataclass
class EventLogLiveSource(Source):
    """Source adapter over the cheetah-eventlog stream format (S4).
    ``method`` selects future-only vs oldest-record replay
    (system_windows.go:16-25); ``query`` is the kernel-evaluated XPath
    filter passed through verbatim (event_logs.go:23-27,58)."""

    channel: str = "Security"
    query: str = "*"
    method: str = "future"
    transport: str = "win32"
    capture_path: str = ""
    fail_after: int = -1
    streaming: bool = True

    def read(self, spark: SparkSession) -> DataFrame:
        return load_stream(spark, EventLogStreamDataSource, self)


@dataclass
class _EventLogReaderOptions(EventLogLiveSource):
    # reader-only option, the sanctioned recovery path for a lost
    # replay window (mirrors Kafka's failOnDataLoss=false): log the
    # loss and advance, instead of permanently failing every restart
    # past the lost range (round-5 advice)
    accept_data_loss: bool = False


class _EventLogSimpleStreamReader(SeqWindowStreamReader):
    """Seq-window reader over the push subscription. No acks: the
    subscription has none, so commit is a no-op."""

    NAME = "eventlog"
    SOURCE = _EventLogReaderOptions

    def _make_listener(self):
        src = self._src
        if src.transport.lower() == "win32":
            factory: Callable = Win32SubscriptionFactory()
        else:
            factory = ReplaySubscriptionFactory(capture_path=src.capture_path, fail_after=src.fail_after)
        return factory(src.channel, src.query, _METHODS[src.method.lower()], self._on_item, self._on_error)

    def _row_of(self, xml: str) -> tuple:
        return (xml, self._src.channel)

    def _on_lost_window(self, start_seq: int, end_seq: int) -> None:
        # A push subscription has no redelivery: a replay window lost
        # to a driver restart is unrecoverable data loss. The transport
        # is documented at-most-once, but losing rows SILENTLY (empty
        # batch committed, stream reports success) hides it from the
        # operator — fail fast instead (round-4 advice).
        if not self._src.accept_data_loss:
            raise RuntimeError(
                f"windows_events: replay window lost for offsets "
                f"[{start_seq},{end_seq}) after restart — the push "
                "subscription cannot redeliver; rows are unrecoverable "
                "(at-most-once transport). Set accept_data_loss=true to log "
                "the loss and advance instead"
            )
        print(
            f"windows_events: replay window lost for offsets "
            f"[{start_seq},{end_seq}) after restart — advancing "
            "past it (accept_data_loss=true); rows are unrecoverable "
            "(at-most-once transport)",
            file=sys.stderr,
        )


class EventLogStreamDataSource(LiveDataSource):
    """``spark.readStream.format("cheetah-eventlog")`` — the subscribe
    half of the reference's Windows EventLog source (S4)."""

    NAME, SCHEMA, READER = "cheetah-eventlog", EVENTLOG_STREAM_SCHEMA, _EventLogSimpleStreamReader


def parse_eventlog(df: DataFrame) -> DataFrame:
    """Normalize raw event XML to the typed EventLog struct with the
    SAME schema/options the hash-verified batch path uses
    (queries/xmlio.py) — one parser for batch and live
    (windows_event.go:57-139's XML→struct normalization)."""
    from cheetah_spark.queries.xmlio import _XML_OPTS, _XML_SCHEMA

    ev = F.from_xml(F.col("xml"), _XML_SCHEMA, _XML_OPTS)
    return df.select(
        F.col("channel").alias("subscription_channel"),
        ev.alias("event"),
    ).select(
        "subscription_channel",
        F.col("event.System.EventID").alias("event_id"),
        F.col("event.System.Channel").alias("channel"),
        F.col("event.System.Computer").alias("computer"),
        F.col("event.System.TimeCreated._SystemTime").alias("system_time"),
        F.map_from_entries(
            F.transform(
                F.col("event.EventData.Data"),
                lambda d: F.struct(d["_Name"].alias("key"), d["_VALUE"].alias("value")),
            )
        ).alias("event_data"),
    )
