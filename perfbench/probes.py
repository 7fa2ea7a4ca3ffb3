"""Measurement helpers of the pipeline benchmark: benchmark-side spans,
a peak-RSS sampler over the process tree, Spark status-store counters
and small statistics.

Nothing here changes what the program under test does. Spans wrap the
benchmark's own calls into the program's public entry points; the
status store is read through the SparkContext after the work is done.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import uuid


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class Spans:
    """In-memory span recorder. Every span of one run shares
    ``trace_id``; nesting is tracked with a stack, so a span opened
    inside another becomes its child. ``enabled=False`` records
    nothing (the untraced runs)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.trace_id = uuid.uuid4().hex[:16]
        self.records: list[dict] = []
        self._stack: list[str] = []

    class _Span:
        def __init__(self, owner: "Spans", name: str, layer: str, attrs: dict) -> None:
            self.owner, self.name, self.layer, self.attrs = owner, name, layer, attrs

        def __enter__(self):
            o = self.owner
            self.span_id = uuid.uuid4().hex[:16]
            self.parent = o._stack[-1] if o._stack else None
            o._stack.append(self.span_id)
            self.t0 = time.perf_counter()
            self.start_ms = time.time() * 1000.0
            return self

        def __exit__(self, *exc):
            o = self.owner
            dur = (time.perf_counter() - self.t0) * 1000.0
            o._stack.pop()
            o.records.append(
                {
                    "trace_id": o.trace_id,
                    "span_id": self.span_id,
                    "parent_id": self.parent,
                    "name": self.name,
                    "layer": self.layer,
                    "start_ms": self.start_ms,
                    "duration_ms": dur,
                    "attributes": self.attrs,
                }
            )
            return False

    class _Null:
        def __enter__(self):
            return self

        def __exit__(self, *exc):
            return False

    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            return Spans._Null()
        return Spans._Span(self, name, layer, attrs)

    def self_ms_by_layer(self) -> dict:
        """Per layer: span time minus the part covered by child spans."""
        child = {}
        for r in self.records:
            if r["parent_id"] is not None:
                child[r["parent_id"]] = child.get(r["parent_id"], 0.0) + r["duration_ms"]
        out: dict = {}
        for r in self.records:
            own = max(0.0, r["duration_ms"] - child.get(r["span_id"], 0.0))
            out[r["layer"]] = out.get(r["layer"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for r in self.records:
                fh.write(json.dumps(r) + "\n")


def children_map() -> dict:
    """Parent pid -> child pids, from ``/proc``."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(root: int) -> float:
    """Summed user + system CPU time of every live descendant of
    ``root``, and of the children they have reaped."""
    kids = children_map()
    todo, ticks = list(kids.get(root, ())), 0
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(")") + 2 :].split()
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        todo.extend(kids.get(pid, ()))
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_rss_mb(root: int) -> float:
    """Summed RSS of every descendant of ``root`` (the driver JVM and
    the Python workers it forks), excluding ``root`` itself."""
    kids = children_map()
    todo, total = list(kids.get(root, ())), 0
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class RssSampler:
    """Thread sampling the summed RSS of this process's descendants.
    ``cpu_s`` is the CPU time the thread itself has used so far."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def _stages(spark):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(None, False, False, empty, None)
    it = stages.iterator()
    while it.hasNext():
        yield it.next()


def last_stage_id(spark) -> int:
    return max((s.stageId() for s in _stages(spark)), default=-1)


def stage_counters(spark, after_stage: int = -1) -> dict:
    """Task, GC, shuffle and spill totals over the stages with an id
    above ``after_stage``, plus the task skew (max / median task time)
    of the one with the largest executor run time. Works with the UI
    off: the status store is fed by the listener bus either way."""
    store = spark.sparkContext._jsc.sc().statusStore()
    task_ms = gc_ms = shuffle_w = spill = 0
    heaviest = None
    for s in _stages(spark):
        if s.stageId() <= after_stage:
            continue
        run = s.executorRunTime()
        task_ms += run
        gc_ms += s.jvmGcTime()
        shuffle_w += s.shuffleWriteBytes()
        spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
        if heaviest is None or run > heaviest[0]:
            heaviest = (run, s.stageId(), s.attemptId())
    skew = 0.0
    if heaviest is not None:
        tasks = store.taskList(heaviest[1], heaviest[2], 100_000)
        durs = []
        ti = tasks.iterator()
        while ti.hasNext():
            d = ti.next().duration()
            if d.isDefined():
                durs.append(float(d.get()))
        if durs and median(durs) > 0:
            skew = max(durs) / median(durs)
    return {
        "pipeline.task_ms": float(task_ms),
        "pipeline.gc_ms": float(gc_ms),
        "pipeline.shuffle_write_bytes": float(shuffle_w),
        "pipeline.spill_bytes": float(spill),
        "pipeline.task_skew": skew,
    }
