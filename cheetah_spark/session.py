"""SparkSession bootstrap.

Local test posture (local[N], single JVM) with the same declarative plan
the engine would run on a 1000-executor cluster: AQE on (runtime join
re-sizing + skew-join splitting), UTC session timezone (oracle parity),
Arrow enabled for the Pandas-UDF slow path.

Scale notes (100 TB posture):
- ``spark.sql.shuffle.partitions`` here is sized for local cores; on a
  cluster it is superseded by AQE coalescing
  (``spark.sql.adaptive.coalescePartitions.enabled``) which right-sizes
  post-shuffle partitions from runtime statistics.
- ``spark.sql.adaptive.skewJoin.enabled`` splits skewed shuffle
  partitions at join time — the salting fallback in
  :mod:`cheetah_spark.functions.skew` is for pre-AQE planning only.
- Broadcast threshold is left at default (10 MB); dimension tables
  (region/nation/supplier at TPC-H shape) stay broadcast-able at any SF,
  and the queries additionally hint ``F.broadcast`` where the dimension
  is known-small by construction.

Host defaults: ``local[N]`` takes N from the CPUs this process may run
on (``os.sched_getaffinity``) and the driver heap is half of
``MemTotal``, capped at 48g; ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` take precedence over both.

Local filesystem: without the native Hadoop library, the stock
``file://`` filesystem forks ``chmod`` for every directory, file and
``.crc`` file it creates, which was most of the CPU of a partitioned
sink write. ``NioLocalFileSystem.java`` (next to this module) sets the
same mode bits through ``java.nio`` and is otherwise the stock code. It
is registered for ``FileSystem`` callers (``fs.file.impl``: sink files)
and ``FileContext`` callers (``fs.AbstractFileSystem.file.impl``:
checkpoint logs, ``_spark_metadata``, state-store files), and put on
``spark.driver.extraClassPath``. The jar is compiled with ``javac``
against pyspark's ``jars/`` once per source hash into
``~/.cache/cheetah_spark/``. When it cannot be built (no ``javac`` and no
cached jar, or a failed compile), or the JVM is already running without
it, the session keeps the stock filesystem. Other schemes (``s3a://``)
are untouched.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import zipfile
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_MEMINFO = "/proc/meminfo"
_MAX_DRIVER_MB = 48 * 1024
_FS_SOURCE = Path(__file__).with_name("NioLocalFileSystem.java")
_FS_CLASS = "cheetah_spark.NioLocalFileSystem"


def default_cpus() -> int:
    """``SPARK_GRAFT_CPUS``, else the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def default_driver_memory() -> str:
    """``SPARK_GRAFT_DRIVER_MEM``, else half of ``MemTotal`` capped at 48g."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open(_MEMINFO) as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(kb // 2048, _MAX_DRIVER_MB)}m"


def _local_fs_jar() -> str | None:
    """The compiled java.nio local filesystem, built on a cache miss;
    None when there is no cached jar and it cannot be built."""
    import pyspark

    src = _FS_SOURCE.read_bytes()
    key = hashlib.sha256(src + pyspark.__version__.encode()).hexdigest()[:16]
    cache = Path.home() / ".cache" / "cheetah_spark"
    jar = cache / f"nio-local-fs-{key}.jar"
    if jar.is_file():
        return str(jar)
    javac = shutil.which("javac")
    if javac is None:
        return None
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    try:
        cache.mkdir(parents=True, exist_ok=True)
        # concurrent sessions may compile at once: build privately, then
        # publish with an atomic rename
        with tempfile.TemporaryDirectory(dir=cache) as tmp:
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-cp", classpath, "-d", tmp, str(_FS_SOURCE)],
                check=True,
                capture_output=True,
            )
            part = os.path.join(tmp, "fs.jar")
            with zipfile.ZipFile(part, "w") as z:
                for cls in Path(tmp).rglob("*.class"):
                    z.write(cls, cls.relative_to(tmp).as_posix())
            os.replace(part, jar)
    except (OSError, subprocess.CalledProcessError):
        return None
    return str(jar)


def _local_fs_conf(extra_conf: dict[str, str]) -> dict[str, str]:
    """Session confs registering the java.nio local filesystem, merged
    under ``extra_conf`` (its own values win; its class path is kept)."""
    from pyspark import SparkContext

    jar = _local_fs_jar()
    if jar is None:
        return extra_conf
    gateway = SparkContext._gateway
    if gateway is not None:  # the class path of a running JVM is fixed
        class_path = gateway.jvm.java.lang.System.getProperty("java.class.path")
        if jar not in class_path.split(os.pathsep):
            return extra_conf
    cp = extra_conf.get("spark.driver.extraClassPath")
    return {
        "spark.hadoop.fs.file.impl": _FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_FS_CLASS}$Fs",
        **extra_conf,
        "spark.driver.extraClassPath": f"{cp}{os.pathsep}{jar}" if cp else jar,
    }


def get_spark(
    app_name: str = "cheetah_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the session.

    Parameters mirror the reference's ``Parallelism(n)`` processor option
    (reference processor.go:50-58): worker parallelism there maps to task
    parallelism per partition here.
    """
    cpus = int(cpus or default_cpus())
    shuffle_partitions = int(shuffle_partitions or cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stateStore.stateSchemaCheck", "true")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark rejects by
        # default; read as long and convert in catalog.load_table (same
        # ns→µs truncation DuckDB applies when casting).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # naive parquet timestamps (isAdjustedToUTC=false) load as UTC
        # instants, not TIMESTAMP_NTZ — matches DuckDB's epoch()
        # interpretation and keeps withWatermark legal (see
        # catalog.ensure_instant_reads)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in _local_fs_conf(extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
