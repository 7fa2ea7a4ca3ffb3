"""``PipelineTracer`` span layout and the NDJSON exporter, without Spark:
a progress event is a plain namespace shaped like the listener's
``QueryProgressEvent``."""

from __future__ import annotations

import builtins
import json
from types import SimpleNamespace

from cheetah_spark.streaming.tracing import PipelineTracer, ndjson_exporter

# durationMs as the listener delivers it: hash order, not the engine's
_DURATIONS = {
    "addBatch": 300,
    "commitOffsets": 40,
    "getBatch": 5,
    "latestOffset": 20,
    "queryPlanning": 30,
    "triggerExecution": 420,
    "walCommit": 25,
}


def _event(batch_id: int = 3) -> SimpleNamespace:
    return SimpleNamespace(
        progress=SimpleNamespace(
            timestamp="2026-01-01T00:00:00.000Z",
            durationMs=dict(_DURATIONS),
            runId="run-1",
            batchId=batch_id,
            numInputRows=10,
            name=None,
        )
    )


def test_child_spans_follow_engine_phase_order():
    tracer = PipelineTracer()
    tracer.onQueryProgress(_event())
    root, *children = tracer.spans
    assert root.parent_id is None and root.name == "cheetah.processor.full"
    assert root.duration_ms == 420
    assert all(c.parent_id == root.span_id for c in children)
    # each phase starts where the one before it in the engine ended
    assert [(c.attributes["phase"], c.name, c.start_ms - root.start_ms, c.duration_ms) for c in children] == [
        ("latestOffset", "cheetah.processor.src.recv", 0, 20),
        ("walCommit", "cheetah.processor.state.commit", 20, 25),
        ("getBatch", "cheetah.processor.src.recv", 45, 5),
        ("queryPlanning", "cheetah.processor.handler.handle", 50, 30),
        ("addBatch", "cheetah.processor.dst.send", 80, 300),
        ("commitOffsets", "cheetah.processor.state.commit", 380, 40),
    ]


def test_ndjson_exporter_opens_once_and_each_span_is_on_disk(tmp_path, monkeypatch):
    path = tmp_path / "spans.ndjson"
    opened = []
    real_open = builtins.open

    def counting_open(file, *args, **kwargs):
        if str(file) == str(path):
            opened.append(file)
        return real_open(file, *args, **kwargs)

    monkeypatch.setattr(builtins, "open", counting_open)
    export = ndjson_exporter(str(path))
    tracer = PipelineTracer(export)
    for batch_id, n_spans in ((0, 7), (1, 14)):
        tracer.onQueryProgress(_event(batch_id))
        lines = path.read_text().splitlines()
        assert len(lines) == n_spans
    export.close()
    assert len(opened) == 1
    assert [json.loads(line)["name"] for line in lines[:2]] == [
        "cheetah.processor.full",
        "cheetah.processor.src.recv",
    ]
