"""Every repo path the code and its live docs cite must exist.

Scans README.md, the repo's skill documents (the verify skill),
bench.py, __spark_entry__.py and the sources under cheetah_spark/ and
tests/ for ``tools/*``, ``perfbench/*``, ``examples/*`` and ``tests/*``
paths and for root ``*.json`` / ``*.md`` names (upper-case initial, as every root document is named). The
historical round documents (SCALE.md, VERDICT.md, OPTIMIZATION_r*.md,
SURVEY.md, BASELINE.md) are not scanned: they describe past states of
the tree. A retired script or record that is still cited fails here.

Also: no module under cheetah_spark/ but the derived-fixture store
keeps a fixture cache of its own (see ``_ROOT_USES`` below).
"""

from __future__ import annotations

import ast
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


# Derived fixtures (replay feeds, captures, indexes, anchors) are cached
# by one rule, in cheetah_spark/derived.py. Anywhere else, naming
# FIXTURE_ROOT or writing a cache marker is a hand-rolled cache with its
# own staleness policy. The exceptions are not caches: staged_replay's
# per-run disposable copy, and the bucketed tables, which are bound to
# the session catalog.
_STORE = "cheetah_spark/derived.py"
_ROOT_USES = {
    ("cheetah_spark/streaming/__init__.py", None),  # the definition
    ("cheetah_spark/streaming/__init__.py", "staged_replay"),
    ("cheetah_spark/queries/formats.py", "q_bucketed_join"),
}
_MARKER = re.compile(r"_[A-Z]+_READY|\.READY\b|_[A-Z]+_KEY\b|cheetah_spark_fixtures")


def _nodes(node, fn=None):
    """(enclosing top-level function name, node) for every AST node."""
    for child in ast.iter_child_nodes(node):
        inner = fn
        if fn is None and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            inner = child.name
        yield inner, child
        yield from _nodes(child, inner)


def _cache_sites(rel: str, tree) -> list[str]:
    found = []
    for fn, n in _nodes(tree):
        names = []
        if isinstance(n, ast.Name):
            names = [n.id]
        elif isinstance(n, ast.Attribute):
            names = [n.attr]
        elif isinstance(n, ast.ImportFrom):
            names = [a.name for a in n.names]
        if "FIXTURE_ROOT" in names and (rel, fn) not in _ROOT_USES:
            found.append(f"{rel}:{n.lineno} ({fn}): FIXTURE_ROOT")
        if (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and _MARKER.search(n.value)
            and (rel, fn) != ("cheetah_spark/streaming/__init__.py", None)  # the root itself
        ):
            found.append(f"{rel}:{n.lineno} ({fn}): marker {n.value[:40]!r}")
        if (  # open(path, "w").close(): touching a ready flag
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "close"
            and isinstance(n.func.value, ast.Call)
            and getattr(n.func.value.func, "id", None) == "open"
        ):
            found.append(f"{rel}:{n.lineno} ({fn}): touched marker")
    return found


def test_fixture_caches_go_through_the_store():
    found = []
    for f in sorted((REPO / "cheetah_spark").rglob("*.py")):
        rel = f.relative_to(REPO).as_posix()
        if rel != _STORE:
            found += _cache_sites(rel, ast.parse(f.read_text(encoding="utf-8")))
    assert not found, found


def test_cache_guard_sees_a_hand_rolled_cache():
    src = (
        "from cheetah_spark.streaming import FIXTURE_ROOT\n"
        "def capture(sf_dir):\n"
        "    out = f'{FIXTURE_ROOT}/x'\n"
        "    open(f'{out}/_FIXTURE_READY', 'w').close()\n"
    )
    found = _cache_sites("cheetah_spark/queries/x.py", ast.parse(src))
    assert len(found) == 4, found
