"""The java.nio local filesystem (``NioLocalFileSystem.java``) against
the stock one: same mode bits, same ``.crc`` files, same file-sink
manifest for the batch sink, the streaming sink and its checkpoint; the
same link status and checkpoint-style rename; no process forked by those
writes; the stock fallback when ``javac`` is missing; and the session
confs it adds.

Each filesystem needs its own JVM (the jar goes on the launch class
path), so the writes run in subprocesses: ``python tests/test_local_fs.py
<out_dir>`` writes everything under ``out_dir`` and prints a JSON
summary of what is on disk. A shim directory at the front of the
subprocess's ``PATH`` (``<out_dir>/shim``) logs every ``readlink``,
``ls``, ``chmod`` and ``stat`` the JVM forks."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
_N_ROWS = 240
# the tools Hadoop's local filesystem forks without its native library
_FORK_TOOLS = ("readlink", "ls", "chmod", "stat")


def _norm(rel: str) -> str:
    return _UUID.sub("<uuid>", rel)


def _tree(root: Path) -> list[tuple[str, str]]:
    """(uuid-free relative path, octal mode) of every file and directory."""
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            p = Path(dirpath, name)
            out.append((_norm(str(p.relative_to(root))), oct(p.stat().st_mode & 0o7777)))
    return sorted(out)


def _manifest(root: Path, sink: Path) -> list[dict]:
    """The file sink's batch-0 manifest, paths relative and uuid-free,
    modification times dropped."""
    lines = (sink / "_spark_metadata" / "0").read_text().splitlines()
    assert lines[0] == "v1"
    entries = []
    for line in lines[1:]:
        e = json.loads(line)
        e["path"] = _norm(e["path"].split(str(root), 1)[1])
        del e["modificationTime"]
        entries.append(e)
    return sorted(entries, key=lambda e: e["path"])


def _write_all(out: Path) -> dict:
    sys.path.insert(0, str(REPO))
    from pyspark.sql import functions as F

    from cheetah_spark.session import get_spark
    from cheetah_spark.sinks import NdjsonGzipSink

    extra_cp = str(out / "extra-classes")
    spark = get_spark(
        app_name="local_fs_probe",
        cpus=2,
        shuffle_partitions=2,
        extra_conf={"spark.driver.extraClassPath": extra_cp},
    )
    forks_log = out / "shim" / "forks.log"
    forks_before = forks_log.stat().st_size if forks_log.exists() else 0
    jvm, hconf = spark._jvm, spark._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI(f"file://{out}")
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, hconf)
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, hconf)

    df = spark.range(_N_ROWS).select(
        F.col("id").alias("event_id"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id") * 45).alias("ts"),
    )
    df.write.parquet(str(out / "input"))
    NdjsonGzipSink(path=str(out / "batch"), ts_col="ts").write(df)
    stream = spark.readStream.schema(df.schema).parquet(str(out / "input")).dropDuplicates(["event_id"])
    q = NdjsonGzipSink(
        path=str(out / "stream"),
        ts_col="ts",
        checkpoint=str(out / "checkpoint"),
        trigger={"availableNow": True},
    ).write(stream)
    q.awaitTermination()
    forks = {tool: 0 for tool in _FORK_TOOLS}
    if forks_log.exists():
        with open(forks_log, "rb") as fh:
            fh.seek(forks_before)
            for line in fh.read().decode().splitlines():
                forks[line.split(" ", 1)[0]] += 1
    rows = {
        "batch": spark.read.json(str(out / "batch")).count(),
        "stream": spark.read.json(str(out / "stream")).count(),
    }
    summary = {
        "fs_impl": hconf.get("fs.file.impl"),
        "fs": fs.getClass().getName(),
        "fc": fc.getDefaultFileSystem().getClass().getName(),
        "class_path": jvm.java.lang.System.getProperty("java.class.path").split(os.pathsep),
        "extra_class_path": spark.sparkContext.getConf().get("spark.driver.extraClassPath"),
        "extra_cp_in": extra_cp,
        "rows": rows,
        "tree": {d: _tree(out / d) for d in ("batch", "stream", "checkpoint")},
        "manifest": _manifest(out, out / "stream"),
        "forks": forks,
    }
    if summary["fs"] == "cheetah_spark.NioLocalFileSystem":
        summary["link_status"] = _link_status(spark, out / "links")
    spark.stop()
    return summary


def _link_status(spark, root: Path) -> dict:
    """Per side (stock ``RawLocalFileSystem`` and its ``LocalFs``,
    ``NioLocalFileSystem$Raw`` and its ``Fs``): ``getFileLinkStatus`` of
    a file, a directory, symlinks with an absolute, a relative and a
    missing target, and a missing path; then a ``FileContext`` rename
    with ``OVERWRITE`` of a checksummed file onto an existing one, the
    way a checkpoint log commits."""
    from py4j.protocol import Py4JJavaError

    jvm, hconf = spark._jvm, spark._jsc.hadoopConfiguration()
    hfs = jvm.org.apache.hadoop.fs
    root.mkdir()
    (root / "file").write_bytes(b"x" * 1000)
    (root / "dir").mkdir()
    (root / "abs_link").symlink_to(root / "file")
    (root / "rel_link").symlink_to("file")
    (root / "dangling").symlink_to(root / "gone")
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(hconf)
    stock_conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    sides = {
        "stock": (hfs.RawLocalFileSystem(), stock_conf),
        "nio": (getattr(jvm.cheetah_spark, "NioLocalFileSystem$Raw")(), hconf),
    }
    overwrite = spark.sparkContext._gateway.new_array(getattr(hfs, "Options$Rename"), 1)
    overwrite[0] = getattr(hfs, "Options$Rename").OVERWRITE
    checksummed = hfs.FileSystem.getLocal(hconf)
    out = {}
    for side, (raw, conf) in sides.items():
        raw.initialize(jvm.java.net.URI("file:///"), hconf)
        status = {}
        for name in ("file", "dir", "abs_link", "rel_link", "dangling", "missing"):
            try:
                st = raw.getFileLinkStatus(hfs.Path(str(root / name)))
            except Py4JJavaError as e:
                status[name] = e.java_exception.getClass().getName()
                continue
            status[name] = {
                "path": st.getPath().toString(),
                "len": st.getLen(),
                "is_dir": st.isDirectory(),
                "is_symlink": st.isSymlink(),
                "target": st.getSymlink().toString() if st.isSymlink() else None,
                "mtime": st.getModificationTime(),
            }
        ren = root / f"rename_{side}"
        for name, data in (("src", b"new log entry"), ("dst", b"old")):
            stream = checksummed.create(hfs.Path(str(ren / name)), True)
            stream.write(bytearray(data))
            stream.close()
        fc = hfs.FileContext.getFileContext(jvm.java.net.URI("file:///"), conf)
        fc.rename(hfs.Path(str(ren / "src")), hfs.Path(str(ren / "dst")), overwrite)
        stream = fc.open(hfs.Path(str(ren / "dst")))  # verifies the moved .crc
        data = bytes(stream.readAllBytes())
        stream.close()
        out[side] = {
            "fc": fc.getDefaultFileSystem().getClass().getName(),
            "status": status,
            "renamed": sorted(os.listdir(ren)),
            "renamed_data": data.decode(),
        }
    return out


def _run_writer(out: Path, env: dict) -> dict:
    proc = subprocess.run(
        [sys.executable, __file__, str(out)],
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _path_without_javac(farm: Path) -> str:
    """``PATH`` with every directory that holds ``javac`` replaced by a
    directory of symlinks to its other entries."""
    farm.mkdir()
    dirs = []
    for d in os.environ["PATH"].split(os.pathsep):
        if d and os.path.isfile(os.path.join(d, "javac")):
            for name in os.listdir(d):
                if name != "javac" and not (farm / name).exists():
                    (farm / name).symlink_to(os.path.join(d, name))
            d = str(farm)
        dirs.append(d)
    return os.pathsep.join(dirs)


def _path_with_fork_shim(out: Path, path: str) -> str:
    """``path`` behind ``<out>/shim``, whose ``_FORK_TOOLS`` each append
    their argv to ``<out>/shim/forks.log`` and exec the real tool."""
    shim = out / "shim"
    shim.mkdir(parents=True)
    for tool in _FORK_TOOLS:
        script = shim / tool
        script.write_text(
            f'#!/bin/sh\necho "{tool} $*" >> "{shim / "forks.log"}"\n'
            f'exec "{shutil.which(tool, path=path)}" "$@"\n'
        )
        script.chmod(0o755)
    return f"{shim}{os.pathsep}{path}"


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    """Stock run (javac hidden, empty jar cache) and java.nio run, each
    behind its own fork shim."""
    base = tmp_path_factory.mktemp("local_fs")
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    stock_path = _path_without_javac(base / "bin")
    stock_env = dict(env, HOME=str(base / "home"), PATH=_path_with_fork_shim(base / "stock", stock_path))
    nio_env = dict(env, PATH=_path_with_fork_shim(base / "nio", env["PATH"]))
    return {
        "stock": _run_writer(base / "stock", stock_env),
        "nio": _run_writer(base / "nio", nio_env),
    }


def test_javac_missing_keeps_stock_filesystem(written):
    stock = written["stock"]
    # no fs.file.impl: file:// is whatever this Hadoop class path
    # registers (hive's ProxyLocalFileSystem over LocalFileSystem here)
    assert stock["fs_impl"] is None
    assert "NioLocalFileSystem" not in stock["fs"]
    assert stock["fc"] == "org.apache.hadoop.fs.local.LocalFs"
    assert stock["rows"] == {"batch": _N_ROWS, "stream": _N_ROWS}
    assert not any("nio-local-fs" in p for p in stock["class_path"])


def test_nio_filesystem_serves_filesystem_and_filecontext(written):
    nio = written["nio"]
    assert nio["fs"] == "cheetah_spark.NioLocalFileSystem"
    assert nio["fc"] == "cheetah_spark.NioLocalFileSystem$Fs"
    assert nio["rows"] == {"batch": _N_ROWS, "stream": _N_ROWS}


@pytest.mark.parametrize("part", ["batch", "stream", "checkpoint"])
def test_nio_writes_same_modes_and_checksums_as_stock(written, part):
    stock, nio = written["stock"]["tree"][part], written["nio"]["tree"][part]
    assert any(name.endswith(".crc") for name, _ in stock)
    assert {mode for _, mode in stock} <= {"0o644", "0o755"}
    assert nio == stock


def test_nio_writes_same_sink_manifest_as_stock(written):
    stock = written["stock"]["manifest"]
    assert len(stock) > 1 and all(e["action"] == "add" for e in stock)
    assert written["nio"]["manifest"] == stock


def test_stock_run_forks_readlink(written):
    """The shim sees the stock filesystem's forks: every checkpoint-log
    rename asks ``readlink`` whether its source and target are links."""
    assert written["stock"]["forks"]["readlink"] > 0


def test_nio_run_forks_no_file_tool(written):
    assert written["nio"]["forks"] == {tool: 0 for tool in _FORK_TOOLS}


def test_nio_link_status_matches_stock(written):
    sides = written["nio"]["link_status"]
    stock = sides["stock"]["status"]
    assert not stock["file"]["is_symlink"] and stock["file"]["len"] == 1000
    assert stock["dir"]["is_dir"] and not stock["dir"]["is_symlink"]
    target = stock["file"]["path"]  # file:/.../links/file
    assert stock["abs_link"]["is_symlink"] and stock["abs_link"]["target"] == target
    assert stock["rel_link"]["is_symlink"] and stock["rel_link"]["target"] == target
    assert stock["dangling"]["is_symlink"] and stock["dangling"]["target"].endswith("/links/gone")
    assert stock["missing"] == "java.io.FileNotFoundException"
    assert sides["nio"]["status"] == stock


def test_nio_rename_overwrite_moves_data_and_checksum_like_stock(written):
    sides = written["nio"]["link_status"]
    assert sides["stock"]["fc"] == "org.apache.hadoop.fs.local.LocalFs"
    assert sides["nio"]["fc"] == "cheetah_spark.NioLocalFileSystem$Fs"
    for side in ("stock", "nio"):
        assert sides[side]["renamed"] == [".dst.crc", "dst"]
        assert sides[side]["renamed_data"] == "new log entry"


def test_extra_class_path_is_kept(written):
    nio = written["nio"]
    jar = next(p for p in nio["class_path"] if "nio-local-fs" in p)
    assert nio["extra_class_path"] == f"{nio['extra_cp_in']}{os.pathsep}{jar}"
    assert nio["extra_cp_in"] in nio["class_path"]
    stock = written["stock"]
    assert stock["extra_class_path"] == stock["extra_cp_in"]


def test_local_fs_conf_appends_to_extra_class_path(monkeypatch):
    from pyspark import SparkContext

    from cheetah_spark import session

    monkeypatch.setattr(session, "_local_fs_jar", lambda: "/cache/fs.jar")
    monkeypatch.setattr(SparkContext, "_gateway", None)
    conf = session._local_fs_conf({"spark.driver.extraClassPath": "/a.jar", "k": "v"})
    assert conf["spark.driver.extraClassPath"] == f"/a.jar{os.pathsep}/cache/fs.jar"
    assert conf["k"] == "v"
    assert conf["spark.hadoop.fs.file.impl"] == "cheetah_spark.NioLocalFileSystem"
    # a caller's own filesystem choice wins
    own = {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}
    assert session._local_fs_conf(own)["spark.hadoop.fs.file.impl"] == own["spark.hadoop.fs.file.impl"]


def test_running_jvm_without_the_jar_keeps_stock_filesystem(spark, monkeypatch):
    """A JVM launched without the jar cannot load the class, so naming
    it in ``fs.file.impl`` would break every file:// access there."""
    from cheetah_spark import session

    monkeypatch.setattr(session, "_local_fs_jar", lambda: "/not/on/the/class/path.jar")
    assert session._local_fs_conf({"k": "v"}) == {"k": "v"}


def test_host_defaults(monkeypatch, tmp_path):
    from cheetah_spark import session

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16000000 kB\nMemFree:         1000 kB\n")
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 2})
    assert session.default_cpus() == 3
    assert session.default_driver_memory() == "7812m"
    meminfo.write_text("MemTotal:       1000000000 kB\n")
    assert session.default_driver_memory() == "49152m"  # capped at 48g
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.default_cpus() == 5
    assert session.default_driver_memory() == "3g"


if __name__ == "__main__":
    os.umask(0o022)
    print(json.dumps(_write_all(Path(sys.argv[1]))))
