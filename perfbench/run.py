"""Pipeline benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 10 --trace 0

Run from the root of a checkout (the directory holding ``cheetah_spark/``).
Everything it writes goes under ``.perfbench_work/`` there.

Each run generates its inputs from ``--seed`` (``gen.py``), then sets the
pipeline up once to launch the JVM and SETUPS more times (once with
``--trace 1``), each on a fresh SparkSession, measures the workload for
about ``--seconds`` and checks the output against the program's DuckDB
oracle.

``--trace 0`` prints the end-to-end metrics, measured with tracing off:

- ``setup_s``: median over the SETUPS set-ups that follow the first of:
  session up, pipeline built, warm-up trigger or job done, each timed
  from after the previous session has stopped. The first set-up, which
  also launches the JVM (7-22 s here, one sample per process), is left out;
  its ``get_spark`` is the per-layer ``session.jvm_start_s``;
- ``rows_per_cpu_s``: input rows / CPU seconds (user + system) used in
  the timed region by the driver JVM, its Python workers and this
  process's own calls into the program. On a shared host the wall-clock
  rate moves with CPU steal from other tenants (IQR/median 0.25-0.33
  over five seeds, steal 5-22%); this one leaves steal out, though it
  still moves with contention that steal does not count (see
  ``STEADINESS.json``). It does not show a gain from running more tasks
  at once, which the wall-clock figures below do.

The wall-clock figures of the same measurement are per-layer metrics:
``bench.rows_per_s``, input rows / wall time from the first timed
admission to the final sink commit (``curate_batch``: to the last job's
result), and ``bench.batch_p50_ms``, the median time of one unit of
committed work (a micro-batch's ``triggerExecution`` on
``ingest_backlog``, one complete job on ``curate_batch``; both workloads
are closed loops, so this is also the time from an input's admission to
its commit).

``--trace 1`` measures untraced, traced, untraced again, the same work
each time; the traced measurement has the engine's listeners
(``PipelineTracer`` with the NDJSON exporter, ``PipelineMetrics``) and
benchmark spans attached. ``bench.tracing_overhead_cpu_ms`` is the
traced CPU time minus the mean of the two untraced ones, so warm-up that
goes on between them cancels; CPU time, because the wall-clock
difference is smaller than the host's wall-clock noise. The engine's
listeners fire only on streaming queries, so on ``curate_batch`` the
figure holds the spans' cost and the CPU that JIT warm-up still saves
from one measurement to the next, and can read below 0. The run then
reads the status store's stage counters and times a fixed closed-loop
probe on ``local[nproc]`` and ``local[1]``. It prints the per-layer metrics, among them
``bench.peak_rss_mb``: the peak summed RSS of the driver JVM and its
Python workers, sampled from ``/proc`` during the set-ups and the first
untraced measurement. The spans are written to
``.perfbench_work/<workload>/`` at the end of the run. Every per-layer
metric is printed on both workloads; one a workload cannot observe
(``queries.*`` and ``functions.*`` on ``ingest_backlog``; ``sources.*``
other than ``rows_in``, ``streaming.*`` and ``sinks.*`` on
``curate_batch``) reads 0.

``attempted`` counts the inputs offered in the timed region (backlog
files, or jobs on ``curate_batch``); all of them count as ``failed``
when the output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 2
CPUS = len(os.sched_getaffinity(0))  # local[nproc]
T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)


class Ctx:
    def __init__(self, args, work: str, spans) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.cpus = CPUS
        self.work = work
        self.spans = spans
        self.conf = {
            "spark.local.dir": os.path.join(work, "local"),
            # a fixed heap size (-Xms = spark.driver.memory): heap resizing
            # otherwise differs run to run and moves GC time with it
            "spark.driver.extraJavaOptions": (
                f"-Xms{args.driver_mem} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.ui.showConsoleProgress": "false",
        }


def session(ctx, cpus: int):
    from cheetah_spark.session import get_spark

    with ctx.spans.span("session.get_spark", "session", cpus=cpus):
        return get_spark(app_name="perfbench", cpus=cpus, extra_conf=ctx.conf)


def stop_session(spark) -> None:
    for q in spark.streams.active:
        q.stop()
    spark.stop()


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the gateway JVM and wait until it and its workers are gone."""
    from pyspark import SparkContext

    from probes import children_map

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout_s)
    deadline = time.time() + timeout_s
    while children_map().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def cpu_now(rss) -> float:
    """CPU seconds used so far by this process, less its RSS sampler
    thread, and by every process it started."""
    from probes import tree_cpu_s

    return time.process_time() - rss.cpu_s + tree_cpu_s(os.getpid())


def measure(wl, spark, rss, tag: str = "timed"):
    cpu = cpu_now(rss)
    m = wl.measure(spark, tag=tag)
    m.cpu_s = cpu_now(rss) - cpu
    return m


def end_to_end(setups, m) -> dict:
    from probes import median

    vals = {
        "setup_s": (median(setups[1:]), "s"),
        "rows_per_cpu_s": (m.rows / m.cpu_s, "rows/cpu-s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in vals.items()}


LAYERS = ("session", "config", "pipeline", "streaming", "queries", "functions", "sinks")

PER_LAYER_UNITS = {
    "session.jvm_start_s": "s",
    "session.get_spark_s": "s",
    "config.pipeline_from_config_ms": "ms",
    "pipeline.dataframe_ms": "ms",
    "pipeline.task_ms": "ms",
    "pipeline.gc_ms": "ms",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "pipeline.task_skew": "ratio",
    "pipeline.serial_speedup": "ratio",
    "sources.rows_in": "count",
    "sources.files_in": "count",
    "sources.latest_offset_ms_p50": "ms",
    "sources.get_batch_ms_p50": "ms",
    "streaming.batches": "count",
    "streaming.planning_ms_p50": "ms",
    "streaming.commit_ms_p50": "ms",
    "streaming.overhead_ms_p50": "ms",
    "queries.url_dedup_ms": "ms",
    "queries.gopher_rules_ms": "ms",
    "queries.line_dedup_ms": "ms",
    "queries.minhash_dedup_ms": "ms",
    "functions.minhash_sig_ms": "ms",
    "sinks.add_batch_ms_p50": "ms",
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "sinks.rows_per_file": "count",
    "sinks.write_s": "s",
    "bench.tracing_overhead_cpu_ms": "ms",
    "bench.engine_spans": "count",
    "bench.peak_rss_mb": "MB",
    "bench.rows_per_s": "rows/s",
    "bench.batch_p50_ms": "ms",
    **{f"{layer}.self_ms": "ms" for layer in LAYERS},
}


def traced(ctx, wl, spark, rss, m_plain, expected):
    """The traced repeat (checked like the untraced one) and a second
    untraced one, the layer counters and the serial probe. Returns
    (per-layer metrics, whether the traced output was correct, session)."""
    from cheetah_spark.streaming.metrics import PipelineMetrics
    from cheetah_spark.streaming.tracing import PipelineTracer, ndjson_exporter

    from probes import last_stage_id, median, stage_counters

    engine_spans = os.path.join(ctx.work, "engine_spans.ndjson")
    tracer = PipelineTracer(ndjson_exporter(engine_spans))
    listener = PipelineMetrics()
    spark.streams.addListener(tracer)
    spark.streams.addListener(listener)
    ctx.spans.enabled = True
    first_stage = last_stage_id(spark)
    m = measure(wl, spark, rss, tag="traced")
    ok = wl.check(spark, m, expected)
    out = stage_counters(spark, first_stage)
    time.sleep(1.0)  # listener events arrive asynchronously
    spark.streams.removeListener(tracer)
    spark.streams.removeListener(listener)
    ctx.spans.enabled = False
    m_after = measure(wl, spark, rss, tag="untraced2")
    ctx.spans.enabled = True
    out["bench.tracing_overhead_cpu_ms"] = 1000.0 * (m.cpu_s - (m_plain.cpu_s + m_after.cpu_s) / 2)
    out.update(wl.layers(spark, m))
    if listener.n_batches():
        out["streaming.batches"] = float(listener.n_batches())
    out["bench.engine_spans"] = 0.0
    if os.path.exists(engine_spans):
        with open(engine_spans) as fh:
            out["bench.engine_spans"] = float(sum(1 for _ in fh))

    fast = wl.serial_probe(spark, f"n{ctx.cpus}")
    stop_session(spark)
    spark = session(ctx, 1)
    wl.setup(spark)
    slow = wl.serial_probe(spark, "1")
    out["pipeline.serial_speedup"] = fast / slow

    spans = ctx.spans
    get_spark = [r["duration_ms"] for r in spans.records
                 if r["name"] == "session.get_spark" and r["attributes"]["cpus"] == ctx.cpus]
    out["session.jvm_start_s"] = get_spark[0] / 1000.0
    out["session.get_spark_s"] = median(get_spark[1:]) / 1000.0
    out["config.pipeline_from_config_ms"] = median(
        [r["duration_ms"] for r in spans.records if r["name"] == "config.pipeline_from_config"]
    )
    out["pipeline.dataframe_ms"] = median(
        [r["duration_ms"] for r in spans.records if r["name"] == "pipeline.dataframe"]
    )
    self_ms = spans.self_ms_by_layer()
    for layer in LAYERS:
        out[f"{layer}.self_ms"] = self_ms.get(layer, 0.0)
    spans.dump(os.path.join(ctx.work, "spans.ndjson"))
    return out, ok, spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-mem", default="3g")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "cheetah_spark", "session.py")):
        print("perfbench: run from the root of a checkout holding cheetah_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "fixtures"):
        os.makedirs(os.path.join(work, d))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=args.driver_mem,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM started from here, the launcher's too: temp files in
        # the checkout, no hsperfdata under the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )

    import cheetah_spark.streaming as S

    # derived replay caches of the program go under the checkout too
    S.FIXTURE_ROOT = os.path.join(work, "fixtures")
    import cheetah_spark.queries  # noqa: F401  (registers the queries)

    from probes import RssSampler, Spans, median

    ctx = Ctx(args, work, Spans(enabled=bool(args.trace)))
    wl = WORKLOADS[args.workload](ctx)
    wl.prepare()
    log("inputs generated")

    spark = None
    setups = []
    try:
        with RssSampler() as rss:
            # setup_s is not reported with --trace 1: one timed set-up
            # keeps the traced run well inside the per-run time limit
            for _ in range(1 + (1 if args.trace else SETUPS)):
                if spark is not None:
                    stop_session(spark)
                t0 = time.perf_counter()
                spark = session(ctx, ctx.cpus)
                wl.setup(spark)
                setups.append(time.perf_counter() - t0)
                log(f"set-up {len(setups)}: {setups[-1]:.2f}s")
            enabled, ctx.spans.enabled = ctx.spans.enabled, False
            m = measure(wl, spark, rss)
            ctx.spans.enabled = enabled
        log(f"measured: {len(m.unit_ms)} units, {m.wall_s:.2f}s, cpu {m.cpu_s:.2f}s")
        expected = wl.expected()
        ok = wl.check(spark, m, expected)
        log(f"checked: {ok}")
        metrics = end_to_end(setups, m)
        if args.trace:
            layer, ok_traced, spark = traced(ctx, wl, spark, rss, m, expected)
            layer["bench.peak_rss_mb"] = rss.peak_mb
            layer["bench.rows_per_s"] = m.rows / m.wall_s
            layer["bench.batch_p50_ms"] = median(m.unit_ms)
            ok = ok and ok_traced
            log(f"traced run checked: {ok}")
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER_UNITS.items()}
    finally:
        if spark is not None:
            stop_session(spark)
        shutdown_jvm()
        for d in ("inputs", "out", "ckpt", "local", "tmp", "fixtures", "warehouse"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    log("stopped")
    attempted = m.offered
    print(json.dumps({
        "correct": bool(ok),
        "attempted": attempted,
        "failed": 0 if ok else attempted,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
