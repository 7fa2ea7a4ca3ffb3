"""Regenerate BASELINE.md's self-baseline section from BENCH_FULL.json.

Round-4 verdict item #1: the committed self-baseline table must be the
same query set, same run, same disclosures as the canonical per-query
map — a stale table turns honest contract work into false ">2x" flags.
This renders the section mechanically so it CANNOT drift from
BENCH_FULL.json. Run after any clean min-of-2 bench:

    SPARK_GRAFT_WRITE_FULL=1 python bench.py && python tools/gen_baseline.py
"""

from __future__ import annotations

import datetime
import json
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
MARK = "## Self-baseline"


def _ident_base() -> float:
    """The canary denominator, read from bench.py so the disclosure
    cannot drift from the constant the ratio was computed with."""
    import re

    src = (REPO / "bench.py").read_text()
    return float(re.search(r"BASELINE_IDENTITY_SEC = ([0-9.]+)", src).group(1))


def main() -> None:
    full = json.loads((REPO / "BENCH_FULL.json").read_text())
    md = (REPO / "BASELINE.md").read_text()
    head = md[: md.index(MARK)]

    q = full["queries"]
    n = len(q)
    date = datetime.datetime.fromtimestamp(full["provenance"]["wall_clock_unix"]).strftime(
        "%Y-%m-%d"
    )
    spq = full.get("samples_per_query", {})
    ident = full["identity_rows_per_sec"]
    ident_samples = full.get("identity_samples_sec", [])
    warmed = full.get("warmed", [])

    lines = [
        f"{MARK} (recorded {date} — {n} queries, regenerated from BENCH_FULL.json)",
        "",
        "Config: local[32], 128 GiB, sf0.1 (`/root/testdata/sf0.1`), noop sink",
        "(full compute, no driver materialization), per-query min over two FULL",
        "passes (samples minutes apart so one host-contention burst cannot span",
        "both), plus a third sample for outliers above 4x the suite median, all",
        "under a wall-clock budget (SPARK_GRAFT_BENCH_BUDGET, default 480 s)",
        "that degrades to fewer samples rather than risk the run being killed",
        "before the JSON line prints. `python bench.py` emits the same JSON the",
        "driver records; the full per-query map with provenance is",
        "BENCH_FULL.json, and THIS table is rendered from it by",
        "tools/gen_baseline.py — same run, same query set, no drift.",
        "",
        "Disclosures (also in BENCH_FULL.json):",
        "",
        f"- sample counts: {json.dumps(full.get('n_samples', {}))} (pass2={full.get('pass2')})",
        f"- identity samples (sec per 1e6 rows, median-of-3 reported): {ident_samples}",
        f"- contention_ratio (identity median / committed {_ident_base()} s quiet-window",
        f"  baseline): {full.get('contention_ratio', 'n/a')} — >~1.5 marks the whole",
        "  run host-contended; single-sample >2x per-query rows from such a run",
        "  are `weak` (not regressions) until re-measured min-of-N in a quiet",
        "  window (perfbench/, SCALE.md discipline).",
        "- one-time derivations excluded from per-query timings by the measured",
        f"  warm-up (`warmed`): {', '.join(warmed)}. A cross-framework",
        "  comparison must grant its harness the same warm-up; the reference's",
        "  BenchmarkMem likewise excludes process/JIT startup (Go test harness",
        "  warm-up iterations).",
        "",
        "The slowest queries are the deliberately iterative/py-vectorized ones",
        "(connected components at O(diameter) rounds; ANN/k-means pay Python",
        "worker round-trips at this single-node fixture scale — on a cluster",
        "the same plans scale with executors). Streaming queries carry the",
        "fixed micro-batch engine overhead of a real StreamingQuery run.",
        "",
        "| metric | value |",
        "|---|---|",
        f"| suite_total ({n} queries, all passing) | {full['value']} s |",
        f"| identity-pipeline throughput (1e6 rows x 20 B) | {ident:,} rows/s"
        " (reference BenchmarkMem ~2.1 M msg/s on 10 cores) |",
        "",
        "| query (sf0.1) | sec | samples |",
        "|---|---|---|",
    ]
    for name, sec in sorted(q.items(), key=lambda kv: (-kv[1], kv[0])):
        lines.append(f"| {name} | {sec} | {spq.get(name, '?')} |")
    lines.append("")
    (REPO / "BASELINE.md").write_text(head + "\n".join(lines))
    print(f"BASELINE.md self-baseline regenerated: {n} queries, suite {full['value']} s")


if __name__ == "__main__":
    main()
