"""Steadiness self-check of the pipeline benchmark.

Runs SETS sets of RUNS runs per workload (each run with its own seed,
from FIRST_SEED on, tracing off), then reports per end-to-end metric:

- ``spread``: (third quartile - first quartile) / median of one set's
  values, from ``statistics.quantiles(values, n=4)``; the largest over
  the sets;
- ``drift``: how much worse the last set's median is than the first's,
  as a share of the first (negative when better);
- ``bound``: the metric's bound from ``BENCHMARK.json``.

A metric passes when its spread is below a third of its bound and its
drift is within the bound. Each workload also reports the median share
of host CPU time stolen by other guests during its runs, per set.

    python3 perfbench/steady.py --out perfbench/STEADINESS.json

Run from the root of a checkout; the runs are made one after another.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

RUNS = 10
SETS = 2
FIRST_SEED = 1000


def cpu_ticks() -> list:
    """The host's aggregate CPU tick counters from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t0, ticks = time.perf_counter(), cpu_ticks()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=180)
    wall = time.perf_counter() - t0
    delta = [b - a for a, b in zip(ticks, cpu_ticks())]
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    # time the hypervisor gave this host's CPUs to other guests
    result["steal_pct"] = 100.0 * delta[7] / max(1, sum(delta))
    return result


def spread(values: list) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out")
    args = ap.parse_args()

    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    report: dict = {"run_seconds": bench["run_seconds"], "workloads": {}}
    seed = FIRST_SEED
    for name in workloads:
        sets = []
        for s in range(SETS):
            runs = []
            for _ in range(RUNS):
                r = run_once(bench, name, seed)
                seed += 1
                runs.append(r)
                print(f"{name} set {s} seed {seed - 1}: correct={r['correct']}"
                      f" wall={r['wall_s']:.1f}s steal={r['steal_pct']:.1f}% "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      file=sys.stderr, flush=True)
            sets.append(runs)
        rows = {}
        for metric in bench["end_to_end"]:
            key, better = metric["name"], metric["better"]
            per_set = [[r["metrics"][key]["value"] for r in runs] for runs in sets]
            medians = [statistics.median(v) for v in per_set]
            worse = (medians[-1] - medians[0]) / medians[0]
            if better == "higher":
                worse = -worse
            sp = max(spread(v) for v in per_set)
            ok = worse <= metric["bound"] and sp < metric["bound"] / 3
            rows[key] = {
                "bound": metric["bound"],
                "spread": round(sp, 4),
                "drift": round(worse, 4),
                "medians": [round(m, 4) for m in medians],
                "ok": ok,
            }
        all_runs = [r for runs in sets for r in runs]
        report["workloads"][name] = {
            "metrics": rows,
            "runs": len(all_runs),
            "failed_runs": sum(1 for r in all_runs if not r["correct"] or r["failed"]),
            "wall_s_median": round(statistics.median(r["wall_s"] for r in all_runs), 1),
            "wall_s_max": round(max(r["wall_s"] for r in all_runs), 1),
            "steal_pct_medians": [
                round(statistics.median(r["steal_pct"] for r in runs), 1) for runs in sets
            ],
        }
    text = json.dumps(report, indent=2)
    print(text)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    ok = all(
        m["ok"] for w in report["workloads"].values() for m in w["metrics"].values()
    ) and not any(w["failed_runs"] for w in report["workloads"].values())
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
