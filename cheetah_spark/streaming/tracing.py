"""Span export — the reference's OTel trace parity.

The reference wraps every message hop in OTel spans:
``kawa.processor.full`` around one receive→handle→send cycle, with
child spans ``kawa.processor.src.recv`` / ``.handler.handle`` /
``.dst.send`` (reference processor.go:89-120, tracer from
internal/telemetry). In a vectorized engine the unit of work is the
micro-batch, not the message — a per-row span would put Python in the
hot loop — so ``PipelineTracer`` emits one ``cheetah.processor.full``
span per micro-batch with child spans derived from Spark's own stage
timings (``durationMs``): ``src.recv`` = offset discovery + batch
materialization, ``handler.handle`` = query planning, ``dst.send`` =
addBatch (plan execution INTO the sink — Spark fuses transform and
write, so the handler/sink boundary is the plan/execution boundary),
plus ``state.commit`` for stateful checkpointing (no reference
analogue; Spark-specific).

Export is pluggable: spans accumulate in memory (tests, ad-hoc
inspection), can stream to an NDJSON file (one span per line — the
shape OTLP/file exporters use), and — when the ``opentelemetry`` SDK
is importable — can bridge into a real OTel tracer. The sandbox has
no OTel libs, so the bridge is import-gated and the NDJSON/memory
paths carry the tests.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql.streaming import StreamingQueryListener

# durationMs keys → child span names (reference span-name parity), in the
# order the engine runs them: MicroBatchExecution.constructNextBatch
# (latestOffset, walCommit), runBatch (getBatch, queryPlanning, addBatch),
# markMicroBatchEnd (commitOffsets). durationMs itself is unordered.
_PHASES = (
    ("latestOffset", "cheetah.processor.src.recv"),
    ("walCommit", "cheetah.processor.state.commit"),
    ("getBatch", "cheetah.processor.src.recv"),
    ("queryPlanning", "cheetah.processor.handler.handle"),
    ("addBatch", "cheetah.processor.dst.send"),
    ("commitOffsets", "cheetah.processor.state.commit"),
)


@dataclass
class Span:
    """One exported span (flat OTLP-ish record)."""

    trace_id: str  # streaming query run id — one trace per query run
    span_id: str
    parent_id: Optional[str]
    name: str
    start_ms: int  # epoch millis
    duration_ms: int
    attributes: dict = field(default_factory=dict)

    def to_dict(self) -> dict:
        return {
            "trace_id": self.trace_id,
            "span_id": self.span_id,
            "parent_id": self.parent_id,
            "name": self.name,
            "start_ms": self.start_ms,
            "duration_ms": self.duration_ms,
            "attributes": self.attributes,
        }


class PipelineTracer(StreamingQueryListener):
    """Turns micro-batch progress events into span trees.

    Attach with ``spark.streams.addListener(tracer)``; spans arrive
    asynchronously on the listener bus (poll after
    ``processAllAvailable`` in tests). ``exporter`` is called once per
    span as it is produced; default collects into ``self.spans``.
    """

    def __init__(self, exporter: Optional[Callable[[Span], None]] = None) -> None:
        self.spans: list[Span] = []
        self._exporter = exporter or self.spans.append

    # -- listener interface -------------------------------------------------
    def onQueryStarted(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryIdle(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryTerminated(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        import datetime

        # progress.timestamp is ISO-8601 UTC ("2026-01-01T00:00:00.123Z")
        try:
            start = int(
                datetime.datetime.fromisoformat(
                    p.timestamp.replace("Z", "+00:00")
                ).timestamp()
                * 1000
            )
        except (ValueError, AttributeError):
            start = 0
        durations = dict(p.durationMs or {})
        total = int(durations.get("triggerExecution", sum(durations.values())))
        root_id = f"{p.runId}:{p.batchId}"
        root = Span(
            trace_id=str(p.runId),
            span_id=root_id,
            parent_id=None,
            name="cheetah.processor.full",
            start_ms=start,
            duration_ms=total,
            attributes={
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "query_name": p.name or "",
            },
        )
        self._exporter(root)
        offset = 0
        for key, name in _PHASES:
            if key not in durations:
                continue
            dur = durations[key]
            self._exporter(
                Span(
                    trace_id=str(p.runId),
                    span_id=f"{root_id}:{key}",
                    parent_id=root_id,
                    name=name,
                    start_ms=start + offset,
                    duration_ms=int(dur),
                    attributes={"phase": key},
                )
            )
            offset += int(dur)


def ndjson_exporter(path: str) -> Callable[[Span], None]:
    """Span → one JSON line appended to ``path`` (the OTLP/file shape).

    The file is opened once, line-buffered, so each span is on disk when
    the call returns; ``export.close()`` closes it."""
    fh = open(path, "a", buffering=1)

    def export(span: Span) -> None:
        fh.write(json.dumps(span.to_dict()) + "\n")

    export.close = fh.close  # type: ignore[attr-defined]
    return export


def otel_exporter(tracer_name: str = "cheetah_spark") -> Callable[[Span], None]:
    """Bridge into a real OpenTelemetry tracer, when the SDK is
    installed (it is not in this sandbox — import-gated as the build
    contract requires). Raises ImportError with a clear message
    otherwise; callers that want optional tracing should try/except.
    """
    try:
        from opentelemetry import trace  # type: ignore
    except ImportError as exc:  # pragma: no cover - no OTel in sandbox
        raise ImportError(
            "opentelemetry-api is not installed; use ndjson_exporter or the "
            "in-memory PipelineTracer instead"
        ) from exc

    tracer = trace.get_tracer(tracer_name)  # pragma: no cover

    def export(span: Span) -> None:  # pragma: no cover
        otel_span = tracer.start_span(span.name, start_time=span.start_ms * 1_000_000)
        for k, v in span.attributes.items():
            otel_span.set_attribute(k, v)
        otel_span.end(end_time=(span.start_ms + span.duration_ms) * 1_000_000)

    return export
