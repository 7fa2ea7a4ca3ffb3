"""The replay machinery shared by every live transport's replay mode
(``sources/seqwindow.py``): the chunked pump, the capture lister with
its file-sink manifest rule, and the NDJSON replay factory. No Spark
session: these are plain-Python units."""

from __future__ import annotations

import json
import pickle

from cheetah_spark.sources.seqwindow import (
    NdjsonReplayFactory,
    ReplayPump,
    capture_files,
    capture_lines,
)


def _pump(items, chunk_size):
    got: list = []
    return ReplayPump(items, chunk_size, got.append), got


def test_pump_drains_at_construction_when_chunk_size_not_positive():
    for chunk_size in (0, -1):
        pump, got = _pump(range(5), chunk_size)
        assert got == [0, 1, 2, 3, 4]
        pump.pump()  # exhausted: no-op
        assert got == [0, 1, 2, 3, 4]


def test_pump_delivers_one_chunk_per_call_then_nothing():
    pulled: list = []

    def items():
        for i in range(7):
            pulled.append(i)
            yield i

    pump, got = _pump(items(), 3)
    assert got == [] and pulled == []  # nothing read before the first batch
    sizes = []
    for _ in range(5):
        before = len(got)
        pump.pump()
        sizes.append(len(got) - before)
    assert sizes == [3, 3, 1, 0, 0]
    assert got == list(range(7))
    # a chunk never reads ahead of what it delivers
    assert pulled == got


def _write(path, lines):
    path.write_text("".join(line + "\n" for line in lines))


def _names(files):
    return [f.rsplit("/", 1)[-1] for f in files]


def test_capture_file_path_is_the_whole_capture(tmp_path):
    f = tmp_path / "capture.log"  # no suffix filter for an explicit file
    _write(f, ['{"a": 1}', "", "   ", '{"a": 2}'])
    assert capture_files(str(f)) == [str(f)]
    assert list(capture_lines(str(f))) == ['{"a": 1}', '{"a": 2}']


def test_capture_directory_sorted_skips_hidden_and_suffixes(tmp_path):
    for name in ("b.json", "a.ndjson", "c.txt", "d.export", "_SUCCESS.json", ".hidden.json"):
        _write(tmp_path / name, [name])
    (tmp_path / "_checkpoint").mkdir()
    d = str(tmp_path)
    assert _names(capture_files(d)) == ["a.ndjson", "b.json"]
    assert _names(capture_files(d, (".json", ".txt"))) == ["b.json", "c.txt"]  # syslog
    assert _names(capture_files(d, (".export", ".txt"))) == ["c.txt", "d.export"]  # journald
    assert _names(capture_files(d, (".json",))) == ["b.json"]  # mqtt
    assert list(capture_lines(d)) == ["a.ndjson", "b.json"]


def test_capture_lines_keep_inner_whitespace(tmp_path):
    f = tmp_path / "x.txt"
    f.write_bytes(b"  <13>indented \r\n\r\n\t\nlast-no-newline")
    assert list(capture_lines(str(f))) == ["  <13>indented ", "last-no-newline"]


def _log(log_dir, name, paths, action="add"):
    entries = [
        json.dumps({"path": f"file://{p}", "size": 1, "isDir": False, "action": action})
        for p in paths
    ]
    _write(log_dir / name, ["v1", *entries])


def test_capture_follows_file_sink_manifest(tmp_path):
    """A directory written by a streaming file sink holds only what its
    ``_spark_metadata`` log committed: the latest compaction plus the
    batches after it. Part files of an uncommitted batch are skipped,
    as Spark's batch reader skips them."""
    log = tmp_path / "_spark_metadata"
    log.mkdir()
    for name in ("p0.json", "p1.json", "p2.json", "p3.json", "stray.json"):
        _write(tmp_path / name, [name])
    _log(log, "8", [tmp_path / "p0.json", tmp_path / "stray.json"])  # superseded by 9.compact
    _log(log, "9.compact", [tmp_path / "p0.json", tmp_path / "p1.json"])
    _log(log, "10", [tmp_path / "p2.json"])
    (log / ".10.crc").write_bytes(b"\0")
    assert _names(capture_files(str(tmp_path))) == ["p0.json", "p1.json", "p2.json"]

    # no compaction yet: every batch file counts
    fresh = tmp_path / "fresh"
    (fresh / "_spark_metadata").mkdir(parents=True)
    for name in ("a b.json", "z.json"):
        _write(fresh / name, [name])
    _log(fresh / "_spark_metadata", "0", [fresh / "a%20b.json"])  # paths are URIs
    assert list(capture_lines(str(fresh))) == ["a b.json"]


def _redis_item(rec: dict) -> tuple:
    return rec["stream"], rec["id"]


def test_ndjson_factory_maps_records_chunks_and_pickles(tmp_path):
    _write(
        tmp_path / "cap.json",
        [json.dumps({"stream": "s", "id": f"{i}-0"}) for i in range(5)],
    )
    factory = NdjsonReplayFactory.from_options(
        {"capture_path": str(tmp_path), "chunk_size": "2"}, _redis_item
    )
    factory = pickle.loads(pickle.dumps(factory))  # the reader ships it to the runner
    got: list = []
    pump = factory(lambda stream, sid: got.append((stream, sid)), lambda exc: None)
    pump.pump()
    assert got == [("s", "0-0"), ("s", "1-0")]
    pump.pump()
    pump.pump()
    pump.pump()
    assert [sid for _, sid in got] == ["0-0", "1-0", "2-0", "3-0", "4-0"]
