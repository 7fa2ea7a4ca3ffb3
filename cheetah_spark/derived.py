"""The derived-fixture store: one cache rule for every replay feed,
transport capture, index and verification anchor.

Streaming and transport queries read a fixture derived from a source
table (a replay feed, a broker capture, an index), while their oracles
re-read the source table itself. A fixture that outlives its source or
the code that built it therefore makes the query diverge silently —
Structured Streaming's guarantees rest on replayable sources returning
the same data for the same offsets, and here these directories are
those sources. So every such directory is cached by one rule:

- **Key:** the ``(mtime_ns, size)`` of every source file (directories
  are walked), the source digest of the build function and of its
  declared helpers, and an explicit ``params`` string for values the
  code does not spell out (constants imported from elsewhere, column
  names taken from a config). Any change to any part rebuilds.
- **Publish:** the build function writes a fresh temporary directory;
  the store writes the key marker into it and renames it into place,
  so a reader never sees a half-built fixture or a fixture without its
  key.
- **Location:** ``cheetah_spark.streaming.FIXTURE_ROOT``, read at call
  time, so an override (a benchmark's private work dir, a test's
  ``tmp_path``) reaches every fixture.
- **Memo:** one per-process memo on the full key. The sources are
  stat'ed on every call, so a rewrite inside a running process is
  caught; a hit costs those stats and no Spark action. A value read
  from a source rather than written beside it (``source_memo``, for
  example a compiled line set) is held in memory under the same
  source rule.

Build-function source is hashed rather than versioned by hand: it is
stable across processes and changes exactly when the definition
changes.
Helpers are declared, not discovered (capturing a call graph is
brittle across imports and decorators); a value-defining callable that
is not declared needs ``params``, and the hash gate stays the loud
backstop for drift that neither covers.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil
import uuid

import cheetah_spark.streaming as _streaming

MARKER = "_DERIVED_KEY.json"

# Bumped when the store's own layout (marker schema) changes.
_FORMAT = "1"

_digests: dict = {}  # code object (or callable) -> source digest
_memo: dict = {}  # fixture path -> key last verified on disk
_reads: dict = {}  # source_memo key -> (source stat parts, value)


def _src_digest(fn) -> str:
    code = getattr(fn, "__code__", fn)
    if code not in _digests:
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):
            src = getattr(fn, "__qualname__", repr(fn))
        _digests[code] = hashlib.sha256(src.encode()).hexdigest()[:16]
    return _digests[code]


def _stat_parts(path: str) -> list[str]:
    if not os.path.isdir(path):
        st = os.stat(path)
        return [f"{path}:{st.st_mtime_ns}:{st.st_size}"]
    parts = []
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            st = os.stat(os.path.join(root, f))
            parts.append(f"{os.path.join(root, f)}:{st.st_mtime_ns}:{st.st_size}")
    return parts


def _key(sources, build, params: str, helpers) -> str:
    return json.dumps(
        {
            "format": _FORMAT,
            "sources": [p for s in sources for p in _stat_parts(s)],
            "code": _src_digest(build),
            "helpers": [_src_digest(h) for h in helpers],
            "params": params,
        }
    )


def derived_dir(name: str, sources, build, params: str = "", helpers=()) -> str:
    """Return ``FIXTURE_ROOT/name``, built by ``build(out)`` only when
    no directory with the current key is there. ``sources`` are the
    files or directories the fixture is derived from; ``build`` gets an
    empty directory and writes the whole fixture into it."""
    return _derive(name, sources, build, params, helpers)[0]


def _derive(name, sources, build, params, helpers) -> tuple[str, str]:
    """``derived_dir``, also returning the key the directory holds (the
    identity of its contents, for callers that memoize a read of it)."""
    path = os.path.join(_streaming.FIXTURE_ROOT, name)
    key = _key(sources, build, params, helpers)
    marker = os.path.join(path, MARKER)
    if _memo.get(path) == key and os.path.exists(marker):
        return path, key
    try:
        with open(marker) as f:
            fresh = f.read() == key
    except OSError:
        fresh = False
    if not fresh:
        _publish(path, key, build)
    _memo[path] = key
    return path, key


def _publish(path: str, key: str, build) -> None:
    parent, base = os.path.split(path)
    os.makedirs(parent, exist_ok=True)
    tag = uuid.uuid4().hex[:8]
    tmp, old = f"{parent}/.tmp-{base}-{tag}", f"{parent}/.old-{base}-{tag}"
    os.makedirs(tmp)
    try:
        build(tmp)
        with open(os.path.join(tmp, MARKER), "w") as f:
            f.write(key)
        if os.path.lexists(path):
            os.rename(path, old)
        os.rename(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(old, ignore_errors=True)


def source_memo(key, source: str, compute):
    """``compute()``, remembered under ``key`` while every file under
    ``source`` keeps its ``(mtime_ns, size)``. A changed source
    recomputes and replaces the entry, so one ``key`` holds one entry.
    A ``source`` that is not a local path (a URI) is computed on every
    call. The stats are taken before ``compute`` runs, so a rewrite
    during it is caught by the next call."""
    try:
        stats = _stat_parts(source)
    except OSError:
        return compute()
    hit = _reads.get(key)
    if hit is not None and hit[0] == stats:
        return hit[1]
    value = compute()
    _reads[key] = (stats, value)
    return value
