"""The benchmark's workloads. Each drives the program only through its
public entry points: ``config.pipeline_from_config``, ``Pipeline.dataframe``,
``Sink.write`` and the registered queries, whose DuckDB oracles the
correctness checks reuse (``run.py`` calls ``session.get_spark``).

A workload has these steps, called by ``run.py``:

- ``prepare()``: generate its inputs from the seed (untimed);
- ``setup(spark)``: build the pipeline and run a warm-up; timed as
  set-up, repeated on a fresh session;
- ``measure(spark)``: the timed region; returns a ``Measured``;
- ``expected()`` and ``check(spark, m, expected)``: the DuckDB
  correctness check (untimed).

``layers(spark, m)`` adds the per-layer numbers of a traced run and
``serial_probe(spark)`` a fixed amount of closed-loop work, timed on
``local[nproc]`` and ``local[1]``.
"""

from __future__ import annotations

import glob
import math
import os
import shutil
import time
from dataclasses import dataclass, field

import duckdb

import gen
from probes import median

# ---------------------------------------------------------------------------
# sizes (input sizes are part of the benchmark definition)
# ---------------------------------------------------------------------------

# ingest_backlog: event files of the fixture's replay shape (gen.py: 90 h
# of event time, 12.5k rows each), drained one file per trigger, so each
# trigger writes about 90 hour partitions from one task. A trigger takes
# about 2 s on a 4-core host, so the drain takes about --seconds.
INGEST_FILES_PER_TRIGGER = 1
INGEST_FILES_PER_S = 0.5  # backlog = seconds x this many files
INGEST_WARM_FILES = 1

# curate_batch: documents at 2x the sf0.1 fixture. A job takes about 3 s
# on a 4-core host, at this size and at half of it alike; a fixed job
# count, not a deadline, keeps each job at the same warm-up position in
# every run, which CPU time depends on.
CURATE_DOCS = 10_000
CURATE_JOBS_PER_S = 0.3  # jobs = seconds x this many


@dataclass
class Measured:
    rows: int  # input rows the timed region processed
    wall_s: float  # first admission (or job start) to final commit
    unit_ms: list  # one per micro-batch or per job
    offered: int  # inputs offered: files, or jobs
    extra: dict = field(default_factory=dict)
    cpu_s: float = 0.0  # CPU time of the timed region, set by run.py


def _progress(query) -> list:
    """Data-carrying micro-batch progress reports, in batch order."""
    return sorted(
        (p for p in query.recentProgress if p.numInputRows > 0), key=lambda p: p.batchId
    )


def _epoch_ms(iso: str) -> float:
    import datetime

    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _batch_end_ms(p) -> float:
    return _epoch_ms(p.timestamp) + float(p.durationMs.get("triggerExecution", 0))


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
    con.execute("SET TimeZone = 'UTC'")
    con.execute(f"SET temp_directory = '{os.environ['TMPDIR']}'")
    return con


def _stream_phases(progress: list) -> dict:
    """Per-layer medians from the engine's own micro-batch reports."""
    d = [p.durationMs for p in progress]

    def p50(key):
        return median([float(x.get(key, 0)) for x in d])

    return {
        "streaming.batches": float(len(progress)),
        "streaming.planning_ms_p50": p50("queryPlanning"),
        "streaming.commit_ms_p50": median(
            [float(x.get("walCommit", 0)) + float(x.get("commitOffsets", 0)) for x in d]
        ),
        "streaming.overhead_ms_p50": median(
            [float(x.get("triggerExecution", 0)) - float(x.get("addBatch", 0)) for x in d]
        ),
        "sources.latest_offset_ms_p50": p50("latestOffset"),
        "sources.get_batch_ms_p50": p50("getBatch"),
        "sinks.add_batch_ms_p50": p50("addBatch"),
    }


class Workload:
    name = ""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.spans = ctx.spans

    def dir(self, *parts: str) -> str:
        path = os.path.join(self.ctx.work, *parts)
        os.makedirs(path, exist_ok=True)
        return path

    def pipeline(self, cfg: dict):
        from cheetah_spark.config import pipeline_from_config

        with self.spans.span("config.pipeline_from_config", "config"):
            return pipeline_from_config(cfg)

    def dataframe(self, p, spark):
        with self.spans.span("pipeline.dataframe", "pipeline"):
            return p.dataframe(spark)

    def expected(self):
        """The oracle's answer from the inputs alone, or None when the
        check needs the output to compute it."""
        return None


# ---------------------------------------------------------------------------
# ingest_backlog
# ---------------------------------------------------------------------------


class IngestBacklog(Workload):
    """Closed loop: a pre-landed backlog of time-ordered event files,
    drained by one streaming query (parquet source, fixed files per
    trigger -> filter -> envelope -> gzip NDJSON sink partitioned by
    event hour)."""

    name = "ingest_backlog"
    FILTER = "event_type <> 'view'"
    ENVELOPE = [  # the Message envelope: key, JSON value, topic (+ ts to partition by)
        "CAST(user_id AS STRING) AS key",
        "to_json(struct(*)) AS value",
        "'events' AS topic",
        "ts",
    ]

    def prepare(self) -> None:
        n_files = INGEST_FILES_PER_TRIGGER * max(
            1, math.ceil(self.ctx.seconds * INGEST_FILES_PER_S / INGEST_FILES_PER_TRIGGER)
        )
        root = self.dir("inputs")
        self.src = gen.event_backlog(root, self.ctx.seed, n_files)
        self.warm = gen.event_backlog(root, self.ctx.seed + 1_000_000, INGEST_WARM_FILES)
        self.n_runs = 0

    def config(self, src: str, tag: str) -> tuple[dict, str]:
        out = self.dir("out", tag)
        shutil.rmtree(out)
        return {
            "source": {
                "type": "parquet",
                "path": src,
                "streaming": True,
                "max_files_per_trigger": INGEST_FILES_PER_TRIGGER,
            },
            "transforms": [
                {"type": "filter", "expr": self.FILTER},
                {"type": "select", "columns": self.ENVELOPE},
            ],
            "sink": {
                "type": "ndjson_gzip",
                "path": out,
                "ts_col": "ts",
                "checkpoint": os.path.join(self.dir("ckpt"), tag),
            },
        }, out

    def _drain(self, spark, src: str, tag: str):
        cfg, out = self.config(src, tag)
        p = self.pipeline(cfg)
        df = self.dataframe(p, spark)
        with self.spans.span("sinks.start", "sinks"):
            query = p.sink.write(df)
        try:
            with self.spans.span("streaming.process_all_available", "streaming"):
                query.processAllAvailable()
        finally:
            query.stop()
        return query, out

    def setup(self, spark) -> None:
        self.n_runs += 1
        self._drain(spark, self.warm, f"warm{self.n_runs}")

    def measure(self, spark, tag: str = "timed") -> Measured:
        query, out = self._drain(spark, self.src, tag)
        prog = _progress(query)
        rows = sum(p.numInputRows for p in prog)
        wall = (_batch_end_ms(prog[-1]) - _epoch_ms(prog[0].timestamp)) / 1000.0
        units = [float(p.durationMs["triggerExecution"]) for p in prog]
        n_files = len(glob.glob(f"{self.src}/*.parquet"))
        return Measured(rows, wall, units, n_files, {"progress": prog, "out": out})

    def check(self, spark, m: Measured, expected) -> bool:
        con = _duck()
        con.execute(
            f"CREATE VIEW src AS SELECT * FROM read_parquet('{self.src}/*.parquet')"
        )
        con.execute(
            "CREATE VIEW got AS SELECT CAST(json_extract(value, '$.event_id') AS BIGINT)"
            " AS event_id, h, hour(CAST(json_extract_string(value, '$.ts') AS TIMESTAMP))"
            f" AS ts_h FROM read_ndjson('{m.extra['out']}/y=*/m=*/d=*/h=*/*.json.gz',"
            " hive_partitioning = true)"
        )
        n_src, n_in = con.execute(
            f"SELECT count(*), count(*) FILTER (WHERE {self.FILTER}) FROM src"
        ).fetchone()
        n_got, n_distinct, misplaced = con.execute(
            "SELECT count(*), count(DISTINCT event_id), count(*) FILTER (WHERE h <> ts_h)"
            " FROM got"
        ).fetchone()
        missing = con.execute(
            f"SELECT count(*) FROM src WHERE {self.FILTER}"
            " AND event_id NOT IN (SELECT event_id FROM got)"
        ).fetchone()[0]
        con.close()
        m.extra["rows_out"] = n_got
        return (
            m.rows == n_src and n_got == n_in == n_distinct and missing == 0 and misplaced == 0
        )

    def layers(self, spark, m: Measured) -> dict:
        prog = m.extra["progress"]
        out = _stream_phases(prog)
        files = glob.glob(f"{m.extra['out']}/y=*/**/*.json.gz", recursive=True)
        out["sources.rows_in"] = float(m.rows)
        out["sources.files_in"] = float(len(glob.glob(f"{self.src}/*.parquet")))
        out["sinks.files_written"] = float(len(files))
        out["sinks.bytes_written"] = float(sum(os.path.getsize(f) for f in files))
        out["sinks.rows_per_file"] = m.extra["rows_out"] / max(1, len(files))
        # the batch path of the same sink over the first trigger's files
        from cheetah_spark.sinks import NdjsonGzipSink

        first = sorted(glob.glob(f"{self.src}/*.parquet"))[:INGEST_FILES_PER_TRIGGER]
        df = spark.read.parquet(*first).where(self.FILTER).selectExpr(*self.ENVELOPE)
        path = os.path.join(self.dir("out"), "batch_write")
        t0 = time.perf_counter()
        with self.spans.span("sinks.write", "sinks"):
            NdjsonGzipSink(path=path, ts_col="ts").write(df)
        out["sinks.write_s"] = time.perf_counter() - t0
        return out

    def serial_probe(self, spark, tag: str) -> float:
        """Rows/s draining the warm-up backlog from a fresh checkpoint."""
        query, _ = self._drain(spark, self.warm, f"serial_{tag}")
        prog = _progress(query)
        wall = (_batch_end_ms(prog[-1]) - _epoch_ms(prog[0].timestamp)) / 1000.0
        return sum(p.numInputRows for p in prog) / wall


# ---------------------------------------------------------------------------
# curate_batch
# ---------------------------------------------------------------------------


class CurateBatch(Workload):
    """Batch: the FineWeb v2 curation chain from config (url_dedup ->
    gopher_rules -> line_dedup -> minhash_dedup -> per-lang rollup), the
    registered ``q_config_fineweb_v2``, over seeded documents."""

    name = "curate_batch"
    QUERY = "q_config_fineweb_v2"
    STAGES = ("url_dedup", "gopher_rules", "line_dedup", "minhash_dedup")

    def prepare(self) -> None:
        root = self.dir("inputs")
        self.docs = gen.documents(root, self.ctx.seed, CURATE_DOCS)

    def _job(self, spark, sf_dir: str) -> list:
        from cheetah_spark.registry import REGISTRY

        with self.spans.span(f"queries.{self.QUERY}", "queries"):
            df = REGISTRY[self.QUERY].fn(spark, sf_dir)
            with self.spans.span("pipeline.collect", "pipeline"):
                return df.collect()

    def setup(self, spark) -> None:
        """Build the plan and run the warm-up job. The first set-up also
        stages the chain's source into the program's derived cache; later
        ones reuse it, as a long-running deployment does."""
        self._job(spark, self.docs)

    def measure(self, spark, tag: str = "timed") -> Measured:
        """A fixed number of jobs back to back, sized from ``seconds``."""
        jobs, rows = [], None
        for _ in range(max(1, math.ceil(self.ctx.seconds * CURATE_JOBS_PER_S))):
            t0 = time.perf_counter()
            rows = self._job(spark, self.docs)
            jobs.append((time.perf_counter() - t0) * 1000.0)
        return Measured(CURATE_DOCS * len(jobs), sum(jobs) / 1000.0, jobs, len(jobs),
                        {"rows": rows})

    COLUMNS = ("lang", "n_kept", "kept_chars", "kept_checksum")

    def expected(self) -> list:
        from cheetah_spark.registry import REGISTRY

        con = _duck()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM"
            f" read_parquet('{self.docs}/documents.parquet')"
        )
        want = con.execute(
            f"SELECT {', '.join(self.COLUMNS)} FROM ({REGISTRY[self.QUERY].oracle})"
        ).fetchall()
        con.close()
        return sorted(want)

    def check(self, spark, m: Measured, expected: list) -> bool:
        got = sorted(tuple(r[c] for c in self.COLUMNS) for r in m.extra["rows"])
        return bool(expected) and got == expected

    def layers(self, spark, m: Measured) -> dict:
        """Per-stage time: cumulative config-chain prefixes forced with a
        noop write, differenced; and the MinHash signature expression
        forced alone over the same documents."""
        from pyspark.sql import functions as F

        from cheetah_spark.queries.declarative import (
            _fineweb_src_dir,
            _fineweb_v2_transforms,
        )
        from cheetah_spark.queries.llm import minhash_sig_expr

        src = _fineweb_src_dir(spark, self.docs)
        stages = _fineweb_v2_transforms(src, streaming=False)
        out, prev = {"sources.rows_in": float(m.rows)}, 0.0
        for i, name in enumerate(self.STAGES, start=1):
            if stages[i - 1]["type"] != name:
                raise RuntimeError(f"unexpected FineWeb v2 stage order: {stages}")
            p = self.pipeline({"source": {"type": "parquet", "path": src},
                               "transforms": stages[:i]})
            t0 = time.perf_counter()
            with self.spans.span(f"queries.prefix.{name}", "queries"):
                self.dataframe(p, spark).write.format("noop").mode("overwrite").save()
            cum = (time.perf_counter() - t0) * 1000.0
            out[f"queries.{name}_ms"] = cum - prev
            prev = cum
        t0 = time.perf_counter()
        with self.spans.span("functions.minhash_sig", "functions"):
            (
                spark.read.parquet(src)
                .select(minhash_sig_expr(F.col("text")).alias("sig"))
                .write.format("noop").mode("overwrite").save()
            )
        out["functions.minhash_sig_ms"] = (time.perf_counter() - t0) * 1000.0
        return out

    def serial_probe(self, spark, tag: str) -> float:
        t0 = time.perf_counter()
        self._job(spark, self.docs)
        return CURATE_DOCS / (time.perf_counter() - t0)


WORKLOADS = {w.name: w for w in (IngestBacklog, CurateBatch)}
