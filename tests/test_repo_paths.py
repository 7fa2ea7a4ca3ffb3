"""Every repo path the code and its live docs cite must exist.

Scans README.md, the repo's skill documents (the verify skill),
bench.py, __spark_entry__.py and the sources under cheetah_spark/ and
tests/ for ``tools/*``, ``perfbench/*``, ``examples/*`` and ``tests/*``
paths and for root ``*.json`` / ``*.md`` names (upper-case initial, as every root document is named). The
historical round documents (SCALE.md, VERDICT.md, OPTIMIZATION_r*.md,
SURVEY.md, BASELINE.md) are not scanned: they describe past states of
the tree. A retired script or record that is still cited fails here.
"""

from __future__ import annotations

import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_CITED = re.compile(
    r"(?<![\w/.-])((?:tools|perfbench|examples|tests)/[\w.-]*\w"
    r"|[A-Z][A-Za-z0-9_]*\.(?:json|md))\b"
)


def _scanned() -> list[Path]:
    files = [REPO / "README.md", REPO / "bench.py", REPO / "__spark_entry__.py"]
    files += sorted(REPO.glob(".*/skills/*/SKILL.md"))  # the verify skill
    for sub in ("cheetah_spark", "tests"):
        files += sorted(p for p in (REPO / sub).rglob("*") if p.suffix in (".py", ".java"))
    return [f for f in files if f.is_file()]


def test_every_cited_repo_path_exists():
    missing = sorted(
        f"{f.relative_to(REPO)}: {m.group(1)}"
        for f in _scanned()
        for m in _CITED.finditer(f.read_text(encoding="utf-8"))
        if not (REPO / m.group(1)).exists()
    )
    assert not missing, missing


def test_scan_sees_the_known_citations():
    cited = {
        m.group(1)
        for f in _scanned()
        for m in _CITED.finditer(f.read_text(encoding="utf-8"))
    }
    assert {"tools/drive_contract.py", "perfbench/run.py", "BENCH_FULL.json"} <= cited
