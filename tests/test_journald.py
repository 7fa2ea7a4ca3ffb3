"""journald source conformance: export-format framing, the replay
transport end-to-end through the streaming engine, the journalctl
availability gate, and the daemon config type."""

from __future__ import annotations

import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from cheetah_spark.functions import journald as JD
from cheetah_spark.queries.journald import journald_capture_dir
from cheetah_spark.sources.journald_live import (
    JournaldSource,
    JournalctlFactory,
    _frame_entries,
    _frame_entries_bytes,
)


def test_frame_entries_blank_line_separated():
    stream = iter(
        [
            "__CURSOR=s=a\n",
            "MESSAGE=one\n",
            "\n",
            "__CURSOR=s=b\n",
            "MESSAGE=two\n",
            "\n",
            "\n",  # double blank: no empty entry
            "__CURSOR=s=c\n",
            "MESSAGE=three",  # EOF without trailing blank line
        ]
    )
    assert list(_frame_entries(stream)) == [
        "__CURSOR=s=a\nMESSAGE=one",
        "__CURSOR=s=b\nMESSAGE=two",
        "__CURSOR=s=c\nMESSAGE=three",
    ]


def test_frame_entries_bytes_binary_fields():
    """Export-format binary fields (NAME\\n + u64-LE size + raw bytes +
    \\n) must not break framing even when the payload contains \\n\\n
    and invalid UTF-8 (round-8 advice: the text-mode reader would
    UnicodeDecodeError or mis-frame). The payload comes back base64ed
    as NAME=b64:... so the entry stays one lossless string."""
    import base64
    import io
    import struct

    payload = b"bad \xff\xfe utf8\n\nwith blank line"
    raw = (
        b"__CURSOR=s=a\n"
        b"MESSAGE\n" + struct.pack("<Q", len(payload)) + payload + b"\n"
        b"UNIT=x.service\n"
        b"\n"
        b"__CURSOR=s=b\n"
        b"MESSAGE=plain text\n"
        b"\n"
    )
    entries = list(_frame_entries_bytes(io.BytesIO(raw)))
    assert len(entries) == 2
    first = dict(line.split("=", 1) for line in entries[0].split("\n"))
    assert first["__CURSOR"] == "s=a"
    assert first["UNIT"] == "x.service"
    assert base64.b64decode(first["MESSAGE"][len("b64:") :]) == payload
    assert entries[1] == "__CURSOR=s=b\nMESSAGE=plain text"


def test_frame_entries_bytes_truncated_binary_field():
    """A stream cut mid-binary-payload drops the partial entry instead
    of hanging or raising."""
    import io
    import struct

    raw = (
        b"__CURSOR=s=a\nMESSAGE=ok\n\n"
        b"__CURSOR=s=b\nDATA\n" + struct.pack("<Q", 100) + b"short"
    )
    assert list(_frame_entries_bytes(io.BytesIO(raw))) == ["__CURSOR=s=a\nMESSAGE=ok"]


def test_journald_replay_end_to_end(spark, sf_dir):
    """Replay the derived capture through the streaming source: every
    entry arrives exactly once with its cursor lifted into the
    envelope, and the parsed struct matches the relational parse."""
    cap = journald_capture_dir(spark, sf_dir)
    src = JournaldSource(transport="replay", capture_path=cap, content_type="auto")
    from cheetah_spark.streaming import run_stream_to_completion

    out = run_stream_to_completion(src.read(spark), lambda df: df)
    import duckdb

    expect = duckdb.sql(f"SELECT count(*) FROM '{sf_dir}/events.parquet'").fetchone()[0]
    assert out.count() == expect
    # cursor envelope column == the entry's own __CURSOR field
    bad = out.where(F.col("cursor") != JD.field(F.col("entry"), "__CURSOR")).count()
    assert bad == 0
    # typed projection sanity on one row
    r = out.orderBy("cursor").first()
    assert r.journal.priority is not None and 0 <= r.journal.priority <= 7
    assert r.journal.unit.endswith(".service")
    assert r.journal.message.startswith("evt=")


def test_journalctl_gate_names_binary(monkeypatch):
    """On a host without journalctl the production transport must fail
    with a clear error naming the binary and the replay fallback."""
    monkeypatch.setattr(shutil, "which", lambda _: None)
    with pytest.raises(RuntimeError, match="journalctl"):
        JournalctlFactory()(lambda e: None, lambda e: None)


def test_journald_config_type(tmp_path):
    from cheetah_spark.config import build_source

    src = build_source({"type": "journald"})
    assert isinstance(src, JournaldSource)
    assert src.transport == "journalctl" and src.follow  # zero-config default
    src2 = build_source(
        {"type": "journald", "transport": "replay", "capture_path": str(tmp_path)}
    )
    assert src2.transport == "replay"


def test_journalctl_extra_args_reach_the_factory():
    """extra_args (unit/priority filters — server-side filtering beats
    shipping everything) must flow from the config/dataclass surface
    through the option channel into the factory (r8 self-review: the
    field existed but nothing ever passed it)."""
    from cheetah_spark.sources.journald_live import JournaldSource
    from cheetah_spark.sources.seqwindow import source_from_options

    f = source_from_options(JournaldSource, {"extra_args": "--unit=sshd.service,--priority=4"})
    assert f.extra_args == ("--unit=sshd.service", "--priority=4")
    src = JournaldSource(extra_args=("--unit=sshd.service",))
    assert ",".join(src.extra_args) == "--unit=sshd.service"
