"""Seeded input generator for the pipeline benchmark.

Every input is a pure function of ``(seed, size)``: the same pair gives
byte-identical rows. Each input goes to its own directory whose basename
encodes both (``events_s7_f10x12500``), because the program's derived
replay caches are keyed by that basename alone.

Schemas and marginals follow the repo's sf0.1 fixture tables, measured
with DuckDB (constants below):

- events (100k rows over 720 h): event_id bigint, ts timestamp[us],
  user_id bigint, event_type string, value double, props string.
  Arrivals are a Poisson process of 139 events per hour (per-hour counts
  have mean 139 and standard deviation 11.9, i.e. Poisson); users are
  uniform, one per 66.7 events; the 5 event types are uniform; value is
  exponential with mean 50, rounded to cents; props is ``{"k": n}`` with
  n uniform over 0..99.
- documents (5k rows): doc_id bigint, text string, lang string,
  source string, n_chars bigint. Texts are single lines of 10 to 99
  words drawn uniformly from a 30-word vocabulary; 45% of them are
  shorter than Gopher's 50-word minimum. Languages are 41% ``en`` and
  about 15% each of four others; 20 sources are uniform.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --- events --------------------------------------------------------------
EVENT_TYPES = pa.array(["signup", "purchase", "view", "click", "error"])
EVENTS_PER_HOUR = 139
EVENTS_PER_USER = 100_000 / 1_500
VALUE_MEAN = 50.0
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, as in the fixture
# the repo's replay split of the fixture (streaming.events_stream_dir):
# 8 time-ordered files over 720 h, so one file holds 90 h of event time
FILE_SPAN_H = 90
FILE_MTIME0 = 1_700_000_000  # increasing mtimes pin the admission order

# --- documents -----------------------------------------------------------
VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
DOC_WORDS = (10, 100)  # [low, high)
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = np.array([2059, 753, 744, 742, 702]) / 5000
N_SOURCES = 20
# duplicate rates of tools/gen_scale_fixture.py
EXACT_DUPS_PER_5000 = 8
NEAR_DUP_SHARE = 0.01


def events_table(rng: np.random.Generator, n: int, first_id: int, t0_us: int,
                 span_us: int, n_users: int) -> pa.Table:
    """``n`` events with ids from ``first_id`` and µs timestamps uniform in
    ``[t0_us, t0_us + span_us)``, sorted by time: a Poisson process
    conditioned on its count."""
    ts = np.sort(rng.integers(0, span_us, size=n)) + t0_us
    props = pc.binary_join_element_wise(
        '{"k": ', pa.array(rng.integers(0, 100, n)).cast(pa.string()), "}", ""
    )
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": EVENT_TYPES.take(pa.array(rng.integers(0, len(EVENT_TYPES), n))),
        "value": pa.array(np.round(rng.exponential(VALUE_MEAN, n), 2)),
        "props": props,
    })


def event_backlog(out_root: str, seed: int, n_files: int) -> str:
    """A landed backlog: ``n_files`` time-ordered parquet files of
    FILE_SPAN_H hours of event time each, all written before a query
    reads them, with increasing mtimes. Returns the dir."""
    rows = EVENTS_PER_HOUR * FILE_SPAN_H
    out = os.path.join(out_root, f"events_s{seed}_f{n_files}x{rows}")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    span = FILE_SPAN_H * 3_600_000_000
    n_users = max(1, round(n_files * rows / EVENTS_PER_USER))
    for k in range(n_files):
        t = events_table(rng, rows, k * rows, BASE_TS_US + k * span, span, n_users)
        path = os.path.join(out, f"part-{k:05d}.parquet")
        pq.write_table(t, path)
        os.utime(path, (FILE_MTIME0 + k, FILE_MTIME0 + k))
    return out


def documents(out_root: str, seed: int, n: int) -> str:
    """``n`` documents in the fixture schema under
    ``<out_root>/docs_s<seed>_n<n>/documents.parquet`` (an sf-dir the
    registered curation query can read), with duplicates planted as
    tools/gen_scale_fixture.py does: 8 exact copies per 5000 docs and 1%
    near copies (~10% of tokens replaced)."""
    out = os.path.join(out_root, f"docs_s{seed}_n{n}")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    lens = rng.integers(*DOC_WORDS, size=n)
    words = rng.choice(VOCAB, size=int(lens.sum()))
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    n_exact = max(1, round(n * EXACT_DUPS_PER_5000 / 5000))
    for j in rng.choice(np.arange(1, n), size=n_exact, replace=False):
        texts[j] = texts[int(rng.integers(0, j))]
    for j in rng.choice(np.arange(1, n), size=max(1, round(n * NEAR_DUP_SHARE)), replace=False):
        toks = texts[int(rng.integers(0, j))].split(" ")
        for k in rng.choice(len(toks), size=max(1, len(toks) // 10), replace=False):
            toks[k] = str(rng.choice(VOCAB))
        texts[j] = " ".join(toks)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
            "source": pa.array(
                np.char.add("src", rng.integers(0, N_SOURCES, n).astype(str)), pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(out, "documents.parquet"))
    return out
