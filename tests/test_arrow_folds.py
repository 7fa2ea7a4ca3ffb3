"""The Arrow list decode shared by the document-fingerprint folds, on
sliced input. A ``RecordBatch.slice`` keeps its parent's child arrays,
so its list offsets start past 0; every fold must read the same
per-row values from a slice as from the unsliced batch. No Spark: the
folds are driven directly with pyarrow batches."""

from __future__ import annotations

import random

import pyarrow as pa

from cheetah_spark.functions.text import _simhash_fold, list_segments
from cheetah_spark.queries.llm import _minhash_fold

# empty ([]) and null segments on both sides of the slice start
_ROWS = [[5, 1, 9], [], None, [7], [2, 8, 4, 6], [], None, [3, 3], [11]]


def _per_row(lst):
    vals, starts, ends = list_segments(lst)
    return [vals[s:e].to_pylist() for s, e in zip(starts, ends)], starts, ends


def test_list_segments_sliced_matches_unsliced():
    lst = pa.array(_ROWS, pa.list_(pa.int64()))
    full, fstarts, fends = _per_row(lst)
    assert full == [r or [] for r in _ROWS]
    for off in (1, 2, 3):
        sl = lst.slice(off, len(_ROWS) - off - 1)
        assert sl.offsets[0].as_py() > 0  # really a mid-child slice
        rows, starts, ends = _per_row(sl)
        assert rows == full[off : off + len(sl)]
        assert starts[0] == 0
        assert list(ends - starts) == list((fends - fstarts)[off : off + len(sl)])


def _batch(lo: int, hi: int) -> pa.RecordBatch:
    rng = random.Random(7)
    hs = [None if r is None else [rng.randrange(lo, hi) for _ in r] for r in _ROWS]
    ids = pa.array(range(100, 100 + len(_ROWS)), pa.int64())
    return pa.record_batch([ids, pa.array(hs, pa.list_(pa.int64()))], names=["id", "hs"])


def _fold_rows(fold, rb):
    return [row for out in fold([rb]) for row in out.to_pylist()]


def test_folds_read_a_sliced_batch_like_the_unsliced_one():
    for fold, hi in ((_minhash_fold, 1 << 31), (_simhash_fold, 1 << 56)):
        rb = _batch(0, hi)
        full = _fold_rows(fold, rb)
        # one row per non-empty segment, the id carried by name
        assert [r["id"] for r in full] == [
            100 + i for i, r in enumerate(_ROWS) if r
        ]
        sl = rb.slice(1, rb.num_rows - 2)
        ids = set(sl.column(0).to_pylist())
        assert _fold_rows(fold, sl) == [r for r in full if r["id"] in ids]
