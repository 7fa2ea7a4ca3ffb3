"""Every repo path the code and its live docs cite must exist.

Scans README.md, the repo's skill documents (the verify skill),
bench.py, __spark_entry__.py and the sources under cheetah_spark/ and
tests/ for ``tools/*``, ``perfbench/*``, ``examples/*`` and ``tests/*``
paths and for root ``*.json`` / ``*.md`` names (upper-case initial, as every root document is named). The
historical round documents (SCALE.md, VERDICT.md, OPTIMIZATION_r*.md,
SURVEY.md, BASELINE.md) are not scanned: they describe past states of
the tree. A retired script or record that is still cited fails here.

Also: no module under cheetah_spark/ but the derived-fixture store
keeps a fixture cache of its own (see ``_ROOT_USES`` below), and no
live transport module rebuilds the reader shell that
``sources/seqwindow.py`` holds once.
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


# A value read from a source table (a fitted model, a compiled set) is
# memoized by the store too: ``derived.source_memo`` keys it on the
# source's file stats, and an anchor's rows are held under the anchor's
# store key. A module-level ``*_memo`` dict anywhere else is a cache
# keyed on something weaker (a path string), which keeps serving the old
# value after the table is rewritten.
_MEMO_HOMES = {"cheetah_spark/derived.py", "cheetah_spark/anchors.py"}


def _memo_sites(rel: str, tree) -> list[str]:
    found = []
    for n in tree.body:
        targets = n.targets if isinstance(n, ast.Assign) else [getattr(n, "target", None)]
        for t in targets:
            if isinstance(t, ast.Name) and t.id.endswith("_memo"):
                found.append(f"{rel}:{n.lineno}: {t.id}")
    return found


def test_module_memos_live_in_the_store():
    found = []
    for f in sorted((REPO / "cheetah_spark").rglob("*.py")):
        rel = f.relative_to(REPO).as_posix()
        if rel not in _MEMO_HOMES:
            found += _memo_sites(rel, ast.parse(f.read_text(encoding="utf-8")))
    assert not found, found


def test_memo_guard_sees_a_hand_rolled_memo():
    src = (
        "_model_memo: dict = {}\n"
        "_probs_memo = {}\n"
        "def model(sf_dir):\n"
        "    _local_memo = {}\n"
        "    return _model_memo.setdefault(sf_dir, 1)\n"
    )
    found = _memo_sites("cheetah_spark/queries/x.py", ast.parse(src))
    assert found == [
        "cheetah_spark/queries/x.py:1: _model_memo",
        "cheetah_spark/queries/x.py:2: _probs_memo",
    ], found


# The live transports declare their config once, as their Source
# dataclass, and run on the shell in sources/seqwindow.py: its options
# parser and its DataSource base. A transport module that reads a
# reader option itself, or defines its own simpleStreamReader, has
# forked that shell.
def _shell_sites(rel: str, tree) -> list[str]:
    found = []
    for fn, n in _nodes(tree):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "get"
            and getattr(n.func.value, "id", getattr(n.func.value, "attr", None)) == "options"
        ):
            found.append(f"{rel}:{n.lineno} ({fn}): options.get")
        if isinstance(n, ast.FunctionDef) and n.name == "simpleStreamReader":
            found.append(f"{rel}:{n.lineno}: simpleStreamReader")
    return found


def test_live_transports_use_the_shared_shell():
    found = []
    for f in sorted((REPO / "cheetah_spark" / "sources").glob("*_live.py")):
        rel = f.relative_to(REPO).as_posix()
        found += _shell_sites(rel, ast.parse(f.read_text(encoding="utf-8")))
    assert not found, found


def test_shell_guard_sees_a_hand_rolled_reader():
    src = (
        "class XStreamDataSource(DataSource):\n"
        "    def simpleStreamReader(self, schema):\n"
        "        return _XReader(self.options)\n"
        "class _XReader:\n"
        "    def __init__(self, options):\n"
        "        self._addr = options.get('addr') or ''\n"
        "        self._n = int(self.options.get('n') or 1)\n"
    )
    found = _shell_sites("cheetah_spark/sources/x_live.py", ast.parse(src))
    assert len(found) == 3, found
