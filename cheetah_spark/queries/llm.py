"""LLM-training-data pipeline operators: dedup family, similarity
search, text analysis, UDF surface.

The reference framework has no analytics operators at all (SURVEY.md
§2A: the only compute hook is the 1→N Handler, reference
types.go:122-135); this module is the north-star extension surface,
built Spark-first:

- every hash is the cross-engine :func:`~cheetah_spark.functions.text.hash56`
  (md5-prefix) so DuckDB oracles verify the FULL pipeline, not a proxy;
- candidate generation is always hash-bucket shuffles (MinHash bands,
  sign-LSH bands, pigeonhole sign blocks), never O(n²) cross joins —
  every near-dup operator reranks banded candidates, and the DuckDB
  oracles mirror the banding bit-exactly so the hash gate still holds;
- everything except the two declared Pandas-UDF operators is pure
  Column expression → whole-stage codegen, zero Python in the hot loop.

Scale notes per operator are inline.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cheetah_spark.catalog import load_table
from cheetah_spark.functions import text as X
from cheetah_spark.functions import vectors as V
from cheetah_spark.queries._util import (
    DEC as _util_DEC,
    davg,
    dsum,
    dsum2,
    oracle_davg,
    oracle_dsum,
    oracle_dsum2,
    oracle_snap,
    snap,
)
from cheetah_spark.registry import register

# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "q_llm_text_stats",
    oracle=f"""
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(len({X.oracle_tokens("text", X.TOKEN_RE)})) AS BIGINT) AS total_tokens,
               {oracle_davg("n_chars")} AS avg_chars,
               MAX(n_chars) AS max_chars,
               CAST(SUM(len(list_distinct({X.oracle_tokens("text")}))) AS BIGINT) AS total_uniq_words
        FROM documents
        GROUP BY lang, source
    """,
    tags=("llm", "text"),
)
def q_llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per (lang, source): doc counts, BPE-ish token
    totals, char stats, vocabulary size. Pure map-side expressions +
    one hash aggregate — at 100 TB this is a single shuffle of
    (lang,source) partial aggregates."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(X.tokens(F.col("text"), X.TOKEN_RE))).alias("total_tokens"),
        davg("n_chars").alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(F.size(F.array_distinct(X.tokens(F.col("text"))))).alias("total_uniq_words"),
    )


@register(
    "q_llm_token_count",
    oracle=f"""
        SELECT doc_id,
               len(string_split_regex(text, '\\s+')) AS n_ws_tokens,
               len({X.oracle_tokens("text", X.TOKEN_RE)}) AS n_bpe_tokens,
               len({X.oracle_tokens("text")}) AS n_words,
               n_chars::DOUBLE / greatest(len({X.oracle_tokens("text", X.TOKEN_RE)}), 1)
                   AS chars_per_token
        FROM documents
    """,
    tags=("llm", "text"),
)
def q_llm_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace split, BPE-ish regex
    pretokenizer, word tokens — plus chars/token (the standard
    heuristic ratio for LLM data budgeting). Map-only, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    bpe = F.size(X.tokens(F.col("text"), X.TOKEN_RE))
    return d.select(
        "doc_id",
        F.size(F.split("text", r"\s+")).alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.size(X.tokens(F.col("text"))).alias("n_words"),
        (F.col("n_chars").cast("double") / F.greatest(bpe, F.lit(1))).alias("chars_per_token"),
    )


def _lang_scores_spark(toks):
    return {lang: X.stopword_overlap(toks, lang) for lang in X.STOPWORDS}


@register(
    "q_llm_lang_id",
    oracle=(
        lambda scores: f"""
        WITH scored AS (
            SELECT lang, {", ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())}
            FROM documents
        ), pred AS (
            SELECT lang,
                   CASE {" ".join(f"WHEN s_{lg} = greatest(s_en, s_de, s_fr, s_es, s_zh) THEN '{lg}'" for lg in ("en", "de", "fr", "es", "zh"))}
                   END AS pred_lang
            FROM scored
        )
        SELECT lang, pred_lang, COUNT(*) AS n FROM pred GROUP BY lang, pred_lang
    """
    )({lang: X.oracle_stopword_overlap(X.oracle_tokens("text"), lang) for lang in X.STOPWORDS}),
    tags=("llm", "text"),
)
def q_llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID: score each doc against per-language
    stopword lists (token overlap with multiplicity), argmax with a
    fixed preference order as the deterministic tiebreaker; output the
    lang × predicted-lang confusion matrix. Map + one small shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    scores = _lang_scores_spark(toks)
    scored = d.select("lang", *[c.alias(f"s_{lang}") for lang, c in scores.items()])
    mx = F.greatest(*[F.col(f"s_{lang}") for lang in X.STOPWORDS])
    pred = F.when(F.col("s_en") == mx, "en")
    for lg in ("de", "fr", "es", "zh"):
        pred = pred.when(F.col(f"s_{lg}") == mx, lg)
    return scored.select("lang", pred.alias("pred_lang")).groupBy("lang", "pred_lang").agg(
        F.count("*").alias("n")
    )


_QW = {"len": 0.3, "uniq": 0.4, "alpha": 0.3}  # quality score weights


def quality_score_expr(text) -> "F.Column":
    """Gopher/C4-style composite quality score as one column
    expression (fixed-order double sum — bit-identical cross-engine).
    THE single definition used by q_llm_quality_score, the composite
    dedup pipeline's quality gate, and the declarative
    ``quality_score`` config transform."""
    ft = X.quality_features(text)
    return (
        F.lit(_QW["len"]) * F.least(ft["n_tok"], F.lit(200)).cast("double") / 200
        + F.lit(_QW["uniq"]) * ft["uniq_ratio"]
        + F.lit(_QW["alpha"]) * (F.lit(1.0) - ft["digit_ratio"] - ft["punct_ratio"])
    )


@register(
    "q_llm_quality_score",
    oracle=f"""
        WITH feats AS (
            SELECT doc_id,
                   n_chars::BIGINT AS n_char,
                   len({X.oracle_tokens("text")})::BIGINT AS n_tok,
                   len(list_distinct({X.oracle_tokens("text")}))::BIGINT AS n_uniq_tok,
                   length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                       / greatest(n_chars, 1) AS digit_ratio,
                   length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
                       / greatest(n_chars, 1) AS punct_ratio,
                   len(list_distinct({X.oracle_tokens("text")}))::DOUBLE
                       / greatest(len({X.oracle_tokens("text")}), 1) AS uniq_ratio
            FROM documents
        )
        SELECT doc_id, n_char, n_tok, n_uniq_tok, digit_ratio, punct_ratio, uniq_ratio,
               ({_QW["len"]} * least(n_tok, 200)::DOUBLE / 200
                + {_QW["uniq"]} * uniq_ratio
                + {_QW["alpha"]} * (1.0 - digit_ratio - punct_ratio)) AS quality,
               (({_QW["len"]} * least(n_tok, 200)::DOUBLE / 200
                + {_QW["uniq"]} * uniq_ratio
                + {_QW["alpha"]} * (1.0 - digit_ratio - punct_ratio)) >= 0.5) AS keep
        FROM feats
    """,
    tags=("llm", "text"),
)
def q_llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (Gopher/C4-style filters): length,
    uniqueness and symbol ratios combined into a fixed-order weighted
    score with a keep/drop flag. All ratios are single IEEE divisions
    of identical integer operands → bit-identical across engines; the
    score sums three doubles in a fixed order → also bit-identical.
    Map-only: at 100 TB this is a pure scan-filter, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    ft = X.quality_features(F.col("text"))
    quality = quality_score_expr(F.col("text"))
    return d.select(
        "doc_id",
        ft["n_char"].alias("n_char"),
        ft["n_tok"].alias("n_tok"),
        ft["n_uniq_tok"].alias("n_uniq_tok"),
        ft["digit_ratio"].alias("digit_ratio"),
        ft["punct_ratio"].alias("punct_ratio"),
        ft["uniq_ratio"].alias("uniq_ratio"),
        quality.alias("quality"),
        (quality >= 0.5).alias("keep"),
    )


_ENT_LOW = 2.75  # nats; flags the repetitive/gibberish tail (natural
# English sits near 2.8-3.0 nats/char; the fixture spans 2.55-2.93)


@register(
    "q_llm_entropy_filter",
    oracle=f"""
        WITH ch AS (
            SELECT doc_id, lang,
                   unnest(regexp_extract_all(lower(text), '[\\x00-\\x7f]')) AS c
            FROM documents
        ),
        cnt AS (
            SELECT doc_id, lang, c, COUNT(*)::BIGINT AS n
            FROM ch GROUP BY doc_id, lang, c
        ),
        per_doc AS (
            SELECT doc_id, lang,
                   CAST(SUM(n) AS BIGINT) AS n_chars_t,
                   {oracle_snap('ln(SUM(n))', 6)}
                       - {oracle_dsum("n * (" + oracle_snap('ln(n)', 6) + ")")}
                         / SUM(n) AS entropy
            FROM cnt GROUP BY doc_id, lang
        )
        SELECT lang,
               COUNT(*)::BIGINT AS n_docs,
               {oracle_dsum2('entropy', 4)} AS sum_entropy,
               {oracle_snap('MIN(entropy)', 6)} AS min_entropy,
               CAST(SUM(CASE WHEN entropy < {_ENT_LOW} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_low_entropy,
               MIN(CASE WHEN entropy < {_ENT_LOW} THEN doc_id END)
                   AS min_low_id
        FROM per_doc GROUP BY lang
    """,
    tags=("llm", "quality", "entropy"),
)
def q_llm_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy gibberish gate — the information-theoretic
    member of the quality family (C4/Gopher-class signal): documents
    whose character distribution is too predictable (repeated runs,
    boilerplate, binary-as-text) sit far below natural language's
    ~2.8-3.0 nats/char and are flagged.

    Per-doc Shannon entropy uses the shuffle-friendly identity
    H = ln(n) - (Σ c·ln c)/n, so the whole operator is two map-side-
    combinable hash aggregations: (doc, char) counts, then one
    per-doc aggregate — no window, no join, and the second shuffle key
    is doc_id (uniform). At 100 TB both shuffles carry one row per
    DISTINCT (doc, char) — bounded by |alphabet| per doc, not text
    length.

    Determinism: ln of exact integers snapped to 6 decimals before the
    DECIMAL(38,6) sum (_util rule 3), the /n division is IEEE on
    identical operands, and the per-lang rollup uses the dsum2/snap
    conventions."""
    d = load_table(spark, sf_dir, "documents")
    ch = d.select(
        "doc_id",
        "lang",
        # explicit ASCII class, NOT [\s\S]: Java regex iterates UTF-16
        # code units (a non-BMP char would count as two surrogate
        # "chars") while RE2 iterates UTF-8 codepoints — the one
        # per-character operator in the suite must pin a range both
        # engines segment identically (r7 advice). Non-ASCII chars are
        # excluded from the entropy alphabet on BOTH sides.
        F.explode(F.regexp_extract_all(F.lower("text"), F.lit(r"[\x00-\x7f]"), 0)).alias("c"),
    )
    cnt = ch.groupBy("doc_id", "lang", "c").agg(F.count("*").alias("n"))
    per_doc = cnt.groupBy("doc_id", "lang").agg(
        F.sum("n").cast("bigint").alias("n_chars_t"),
        (
            snap(F.log(F.sum("n")), 6)
            - dsum(F.col("n") * snap(F.log("n"), 6)) / F.sum("n")
        ).alias("entropy"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        dsum2("entropy", 4).alias("sum_entropy"),
        snap(F.min("entropy"), 6).alias("min_entropy"),
        F.sum(F.when(F.col("entropy") < _ENT_LOW, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_entropy"),
        F.min(F.when(F.col("entropy") < _ENT_LOW, F.col("doc_id"))).alias("min_low_id"),
    )


_WIN_K = 4  # winnowing k-gram width (token shingles, the dedup family's unit)
_WIN_W = 4  # winnowing window: any shared run of >= w+k-1 tokens shares a fingerprint


def _winnow_fp_arrow(d: DataFrame) -> DataFrame:
    """(doc_id, lang, h, fpos) winnowing fingerprints, map-only: the
    k-gram hash56 array is computed JVM-side (one md5 per shingle —
    the same hash56 values the exploded plan fed the window), then the
    w-wide sliding-window min, the rightmost-on-ties selection, and
    the per-doc DISTINCT run vectorized in one ``mapInArrow`` stage
    (numpy ``sliding_window_view`` + reversed-window ``argmin``).

    Bit-identical to the explode → doc-partitioned running-min window
    → DISTINCT formulation (the registered oracle's shape):
    ``min(struct(h, -pos))`` picks the min hash and, on hash ties, the
    RIGHTMOST position — exactly ``argmin`` over the reversed window;
    windows are only emitted where pos >= w (full windows), which the
    flat-batch formulation gets for free by masking windows that cross
    doc boundaries; the trailing DISTINCT is an in-batch per-doc
    lexsort+dedup, valid globally because doc_id is part of the key
    and every doc's shingles live in one Arrow row. Why: the old plan
    shuffled the ~80x-exploded k-gram stream by doc_id just to run the
    w-row running min (guide §2.4 — remove the shuffle outright; §4.2
    — hand whole batches to vectorized native code)."""
    import numpy as np
    import pyarrow as pa

    w = _WIN_W
    # tokens MUST be projected to a bound column before shingles():
    # slice(toks, i, k) inside the shingles transform lambda re-evaluates
    # its toks expression per element, so an inlined regexp_extract_all
    # would rescan the full text once per shingle index (O(len^2)/doc)
    hs = F.transform(X.shingles(F.col("tk"), _WIN_K), lambda s: X.hash56(s))
    base = d.select("doc_id", "lang", X.tokens(F.col("text")).alias("tk")).select(
        "doc_id",
        "lang",
        F.coalesce(hs, F.array().cast("array<bigint>")).alias("hs"),
    )

    def fold(batches):
        for rb in batches:
            ids = rb.column(0)
            langs = rb.column(1)
            vals, starts, ends = X.list_segments(rb.column(2))
            flat = vals.to_numpy(zero_copy_only=False)
            n = flat.size
            if n >= w:
                win = np.lib.stride_tricks.sliding_window_view(flat, w)
                m = win.min(axis=1)
                # rightmost occurrence of the window min == the
                # min(struct(h, -pos)) tie-break
                ridx = (w - 1) - np.argmin(win[:, ::-1], axis=1)
                sel_flat = np.arange(len(m), dtype=np.int64) + ridx
                row_of = np.repeat(
                    np.arange(len(starts), dtype=np.int64), ends - starts
                )
                wend = np.arange(w - 1, n, dtype=np.int64)
                valid = row_of[wend] == row_of[wend - (w - 1)]
                r = row_of[wend[valid]]
                h = m[valid]
                fpos = sel_flat[valid] - starts[r] + 1  # 1-based in-doc pos
                order = np.lexsort((fpos, h, r))
                r, h, fpos = r[order], h[order], fpos[order]
                keep = np.ones(len(r), dtype=bool)
                if len(r) > 1:
                    keep[1:] = (
                        (np.diff(r) != 0)
                        | (np.diff(h) != 0)
                        | (np.diff(fpos) != 0)
                    )
                r, h, fpos = r[keep], h[keep], fpos[keep]
            else:
                r = np.empty(0, dtype=np.int64)
                h = np.empty(0, dtype=np.int64)
                fpos = np.empty(0, dtype=np.int64)
            take = pa.array(r, type=pa.int64())
            yield pa.record_batch(
                [
                    ids.take(take),
                    langs.take(take),
                    pa.array(h, type=pa.int64()),
                    pa.array(fpos.astype(np.int32), type=pa.int32()),
                ],
                names=["doc_id", "lang", "h", "fpos"],
            )

    return base.mapInArrow(fold, "doc_id long, lang string, h long, fpos int")


@register(
    "q_llm_winnow_fingerprint",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, {X.oracle_tokens("text")} AS tk FROM documents
        ),
        sh AS (
            SELECT doc_id, lang, unnest(s) AS s, generate_subscripts(s, 1) AS pos
            FROM (SELECT doc_id, lang,
                         {X.oracle_shingles("tk", _WIN_K)} AS s
                  FROM toks)
        ),
        ex AS (SELECT doc_id, lang, pos, {X.oracle_hash56("s")} AS h FROM sh),
        sel AS (
            SELECT doc_id, lang, pos,
                   min([h, -pos]) OVER (PARTITION BY doc_id ORDER BY pos
                                        ROWS BETWEEN {_WIN_W - 1} PRECEDING
                                        AND CURRENT ROW) AS m
            FROM ex
        ),
        fp AS (
            SELECT DISTINCT doc_id, lang, m[1] AS h, -m[2] AS fpos
            FROM sel WHERE pos >= {_WIN_W}
        ),
        dup AS (
            SELECT h FROM fp GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
        )
        SELECT f.lang,
               COUNT(DISTINCT f.doc_id)::BIGINT AS n_docs,
               COUNT(*)::BIGINT AS n_fps,
               COUNT(DISTINCT f.h)::BIGINT AS n_distinct_fps,
               CAST(SUM(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared_fps,
               MIN(CASE WHEN d.h IS NOT NULL THEN f.doc_id END) AS min_shared_id
        FROM fp f LEFT JOIN dup d ON f.h = d.h
        GROUP BY f.lang
    """,
    tags=("llm", "dedup", "fingerprint"),
)
def q_llm_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm; public method): per document,
    k-gram hashes slide under a w-wide window and each window selects
    its MINIMUM hash (rightmost on ties), giving a position-robust
    fingerprint set with two guarantees the uniform-sampling
    fingerprints (q_llm_fingerprint) lack: any shared substring of at
    least w+k-1 tokens shares a selected fingerprint (no-miss), and
    expected density is 2/(w+1) of all k-grams — the local-similarity
    detector between MinHash (whole-doc) and span dedup (exact).

    All integer/hash arithmetic, zero floats — the tie-break is
    encoded structurally as min(struct(h, -pos)): Spark's struct
    ordering and DuckDB's list ordering are both lexicographic, so the
    selected (hash, position) set is bit-identical by construction.

    Scale shape: the fingerprint selection is MAP-ONLY
    (:func:`_winnow_fp_arrow` — the sliding-window min, tie-break and
    per-doc distinct fold inside one Arrow stage; the exploded k-gram
    stream never enters an exchange), followed by a self-aggregation
    on the uniform 56-bit hash for the shared-fingerprint rollup. No
    all-pairs anywhere: cross-doc sharing is detected by hash-groupBy
    exactly like the span-dedup family, so the plan survives 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    # fp feeds BOTH the dup rollup and the final join (no cross-branch
    # CSE) — checkpoint the density-reduced (~2/(w+1) of k-grams)
    # fingerprint table so the corpus fold runs once
    fp = _winnow_fp_arrow(d).localCheckpoint()
    dup = fp.groupBy("h").agg(F.countDistinct("doc_id").alias("nd")).where(
        F.col("nd") >= 2
    ).select("h", F.lit(True).alias("shared"))
    return (
        fp.join(dup, "h", "left")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_fps"),
            F.countDistinct("h").alias("n_distinct_fps"),
            F.sum(F.when(F.col("shared"), 1).otherwise(0)).cast("bigint").alias("n_shared_fps"),
            F.min(F.when(F.col("shared"), F.col("doc_id"))).alias("min_shared_id"),
        )
    )


@register(
    "q_llm_fingerprint",
    oracle=f"""
        WITH sh AS ({X.oracle_simhash_per_doc()})
        SELECT d.doc_id,
               md5(trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))) AS content_fp,
               {X.oracle_hash56(f"array_to_string(({X.oracle_tokens('d.text')})[1:8], ' ')")}
                   AS prefix_fp,
               sh.simh AS simhash_fp
        FROM documents d JOIN sh ON d.doc_id = sh.doc_id
    """,
    tags=("llm", "text", "dedup"),
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting three ways: full-content md5 of
    normalized text, 8-token-prefix rolling hash, and 56-bit SimHash
    (explode/tally plan, joined back on doc_id). Fingerprints are the
    join/group keys for every dedup strategy downstream."""
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    base = d.select(
        "doc_id",
        F.md5(X.norm_text(F.col("text"))).alias("content_fp"),
        X.hash56(F.array_join(F.slice(toks, 1, 8), " ")).alias("prefix_fp"),
    )
    sh = X.simhash_df(d).withColumnRenamed("simh", "simhash_fp")
    return base.join(sh, "doc_id")


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


@register(
    "q_llm_exact_dedup",
    oracle="""
        SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_fp,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def q_llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: hash-groupBy on md5 of
    normalized text, keeping the lowest doc_id per group. One shuffle
    on a uniformly-distributed 128-bit key — the canonical 100 TB
    dedup plan (no sort, no window; partial-agg combines map-side)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.md5(X.norm_text(F.col("text"))).alias("content_fp"), "doc_id")
        .groupBy("content_fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


_MH_HASHES = 32
_MH_BANDS = 8
_MH_ROWS = _MH_HASHES // _MH_BANDS  # 4 rows per band


_MH_PARAMS = X.minhash_params(_MH_HASHES)


def minhash_bucket_expr(sig: "F.Column", b: "F.Column") -> "F.Column":
    """The LSH bucket key of band ``b`` of a MinHash signature: md5 of
    the band's row slice, comma-joined — 128-bit uniform keys, so the
    (band, bucket) shuffle never concentrates on a hot hash. The ONE
    definition every banding consumer shares (batch candidate
    generation, the streaming bucket-min state machine, the
    declarative ``minhash_dedup`` transform); oracle mirror:
    :func:`_oracle_bands_cand`."""
    return F.md5(F.array_join(F.slice(sig, b * _MH_ROWS + 1, _MH_ROWS), ","))


def minhash_sig_expr(text: "F.Column") -> "F.Column":
    """Map-only MinHash signature (array<bigint>[32]) as ONE column
    expression, NULL for a doc with no shingles. Same values as
    :func:`minhash_sigs_arrow` (same md5-once-per-shingle base, same
    permutations; both pinned against the DuckDB
    ``_oracle_minhash_sigs`` in test_llm), but interpreted, so several
    times slower. It stays for two callers that keep every row: the
    ``minhash_sig`` config transform's ``withColumn``, and the
    streaming ``minhash_dedup`` transform below ``url_dedup``. A scalar
    Python UDF fails in that streaming plan: once the projections
    collapse it is inlined into the banding ``explode``, where codegen
    rejects it. A row-preserving ``mapInArrow`` over ``_minhash_fold``
    composes there.

    Shape matters: each shingle's md5 is computed ONCE and all
    32 permutations derive from it inside one per-shingle transform,
    then an elementwise-min fold collapses the shingle axis — 32
    separate array_min(transform(hs,…)) expressions would re-inline
    (and re-execute) the md5 transform per permutation, because
    Catalyst does not CSE across higher-order functions (measured
    2.6×)."""
    hs = F.transform(
        F.array_distinct(X.shingles(X.tokens(text), 3)),
        lambda s: X.minhash_base(s),
    )
    # permutations read the TRANSFORMED value h (md5 already computed),
    # so the chained transform keeps md5 at once-per-shingle
    per_shingle = F.transform(
        hs, lambda h: F.array(*[X.minhash_perm(h, a, b) for a, b in _MH_PARAMS])
    )
    init = F.array_repeat(F.lit(2**63 - 1).cast("long"), _MH_HASHES)
    folded = F.aggregate(
        per_shingle, init, lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b))
    )
    # a doc with < 3 tokens has NO shingles: the Arrow kernel emits no
    # row for it, so this row-keeping form must yield NULL, not
    # the untouched init sentinel — which would put every short doc in
    # one universal bucket and flag them all as mutual near-duplicates
    # (round-5 review finding; the streaming minhash_dedup gives NULL
    # sigs a singleton bucket)
    return F.when(F.size(per_shingle) > 0, folded)


def minhash_sigs_arrow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles_col: str | None = None,
) -> DataFrame:
    """(id_col, sig array<bigint>[32]) computed map-only — THE MinHash
    signature kernel of every batch and micro-batch caller: md5 base
    hashes JVM-side (one per distinct shingle, the same
    ``X.minhash_base`` expression every formulation shares), then the
    32 permutations + elementwise-min fold VECTORIZED in one
    ``mapInArrow`` stage (numpy broadcasting + segmented
    ``minimum.reduceat`` — zero per-shingle Python).

    A doc with no shingles (fewer than 3 tokens, or null text) gets NO
    row, as the oracle's ``GROUP BY doc_id`` gives it none
    (:func:`_oracle_minhash_sigs`); the id column keeps its name.

    Why this shape (r7 verdict item #7, measured at sf0.1/local[32]):
    the pure-Column :func:`minhash_sig_expr` fold runs on Spark's
    interpreted higher-order-function path — the stream portion of
    s_llm_minhash_dedup measured 12.8 s with the HOF fold vs 4.0 s
    with this formulation (engine floor ~1.0 s) — and the former
    batch explode + 32 partial-agg mins took ~10× longer than this
    fold on the full corpus (6.7 s → 0.7 s warm at sf0.1: no 2M-row
    explode, no shuffle). The permutation math is the same
    ``(a*h + b) % MINHASH_P`` over int64 (a,h < 2^31 so products
    fit)."""
    # shingles_col: a caller that already materialized each doc's
    # DISTINCT shingle array (q_llm_ngram_jaccard, the recall eval)
    # hashes it directly instead of re-tokenizing the text
    shingled = (
        F.col(shingles_col)
        if shingles_col is not None
        else F.array_distinct(X.shingles(X.tokens(F.col(text_col)), 3))
    )
    hs = F.transform(shingled, lambda s: X.minhash_base(s))
    # never-null input lists: a null text's hs coalesces to [] so the
    # Arrow offsets stay well-defined; [] rows are dropped in the fold
    base = df.select(
        F.col(id_col), F.coalesce(hs, F.array().cast("array<bigint>")).alias("hs")
    )
    return base.mapInArrow(_minhash_fold, f"`{id_col}` long, sig array<bigint>")


def _minhash_fold(batches):
    """The Arrow stage of :func:`minhash_sigs_arrow`: batches of (id,
    base-hash list) in, (id, sig) out, with no row for an empty list."""
    import numpy as np
    import pyarrow as pa

    a_np = np.array([a for a, _ in _MH_PARAMS], dtype=np.int64).reshape(-1, 1)
    b_np = np.array([b for _, b in _MH_PARAMS], dtype=np.int64).reshape(-1, 1)
    for rb in batches:
        vals, starts, ends = X.list_segments(rb.column(1))
        keep = ends > starts
        flat = vals.to_numpy(zero_copy_only=False)
        if flat.size:
            perms = (a_np * flat + b_np) % X.MINHASH_P  # (32, n_shingles)
            # empty segments have start==end, so consecutive NONEMPTY
            # starts are exact boundaries in flat
            sig_vals = np.minimum.reduceat(perms, starts[keep], axis=1).T.ravel()
        else:
            sig_vals = np.empty(0, dtype=np.int64)
        n_out = sig_vals.size // _MH_HASHES
        sig_arr = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_out + 1) * _MH_HASHES, _MH_HASHES, dtype=np.int32)),
            pa.array(sig_vals, type=pa.int64()),
        )
        yield pa.record_batch(
            [rb.column(0).filter(pa.array(keep)), sig_arr],
            names=[rb.schema.names[0], "sig"],
        )


def _oracle_minhash_sigs(table: str = "documents") -> str:
    sh = X.oracle_shingles(X.oracle_tokens("text"), 3)
    perms = ", ".join(
        f"MIN({X.oracle_minhash_perm('h', a, b)})" for a, b in _MH_PARAMS
    )
    return f"""
        SELECT doc_id, [{perms}] AS sig
        FROM (SELECT doc_id, {X.oracle_minhash_base("s")} AS h
              FROM (SELECT doc_id, unnest(list_distinct({sh})) AS s FROM {table}))
        GROUP BY doc_id"""


def _oracle_bands_cand(sigs_cte: str = "sigs") -> str:
    """Shared oracle fragment: MinHash banding + distinct candidate
    pairs (mirrors :func:`_minhash_band_candidates`). Emits the
    ``bands`` and ``cand`` CTE definitions (no leading/trailing WITH)."""
    return f"""bands AS (
            SELECT doc_id,
                   b,
                   md5(array_to_string(sig[b * {_MH_ROWS} + 1 : b * {_MH_ROWS} + {_MH_ROWS}], ','))
                       AS bucket
            FROM {sigs_cte}, (SELECT unnest(generate_series(0, {_MH_BANDS - 1})) AS b)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_a, c.doc_id AS doc_id_b
            FROM bands a JOIN bands c ON a.b = c.b AND a.bucket = c.bucket
            WHERE a.doc_id < c.doc_id
        )"""


@register(
    "q_llm_minhash_dedup",
    oracle=f"""
        WITH sigs AS ({_oracle_minhash_sigs()}),
        {_oracle_bands_cand()}
        SELECT cand.doc_id_a, cand.doc_id_b,
               list_sum(list_transform(generate_series(1, {_MH_HASHES}),
                   i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE
                   / {_MH_HASHES} AS est_jaccard
        FROM cand
        JOIN sigs sa ON sa.doc_id = cand.doc_id_a
        JOIN sigs sb ON sb.doc_id = cand.doc_id_b
        WHERE list_sum(list_transform(generate_series(1, {_MH_HASHES}),
                   i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE
                   / {_MH_HASHES} >= 0.5
    """,
    tags=("llm", "dedup"),
)
def q_llm_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate detection, the full scale path:

    shingle(3-gram) → 32-hash MinHash signature (map-only Arrow fold) →
    8 bands × 4 rows, banded by md5 of the band slice → shuffle on
    (band, bucket) self-join for candidates (NO cross join: cost is
    O(sum of bucket sizes²), linear for non-adversarial data) →
    signature-agreement estimate of Jaccard, keep pairs ≥ 0.5.

    At 100 TB the band join is the only shuffle; the signature join
    back is two hash joins on doc_id. Bucket keys are 128-bit md5 →
    uniform; AQE skew-join splits any hot bucket."""
    sigs = minhash_sigs_arrow(load_table(spark, sf_dir, "documents"))
    return _minhash_pairs(sigs)


def minhash_bands(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id_col, b, bucket): one row per signature band, keyed by
    :func:`minhash_bucket_expr` — the banding every batch and
    micro-batch MinHash consumer shares (oracle mirror: the ``bands``
    CTE of :func:`_oracle_bands_cand`)."""
    return sigs.select(
        id_col, F.explode(F.sequence(F.lit(0), F.lit(_MH_BANDS - 1))).alias("b"), "sig"
    ).select(id_col, "b", minhash_bucket_expr(F.col("sig"), F.col("b")).alias("bucket"))


def _minhash_band_candidates(sigs: DataFrame) -> DataFrame:
    """Distinct (doc_id_a, doc_id_b) pairs colliding in ≥1 MinHash band
    — the linear-cost candidate generator every near-dup operator in
    this module shares (oracle mirror: :func:`_oracle_bands_cand`).

    Callers should ``persist()`` ``sigs`` first: the band self-join
    evaluates it twice (and signature-join consumers add more reads)."""
    bands = minhash_bands(sigs)
    return (
        bands.alias("a")
        .join(bands.alias("c"), on=["b", "bucket"])
        .where(F.col("a.doc_id") < F.col("c.doc_id"))
        .select(F.col("a.doc_id").alias("doc_id_a"), F.col("c.doc_id").alias("doc_id_b"))
        .distinct()
    )


def resolve_minhash_survivors(spool: DataFrame) -> DataFrame:
    """Drained ``minhash_dedup`` bucket-win spool → the surviving rows.

    The declarative streaming transform (config.py) emits, in update
    mode, each (b, bucket) group's running MIN ``win`` struct —
    ``(id, carry…)``, id leading, so struct order == id order. A doc
    survives the near-dedup iff NO earlier doc shares any of its
    ``_MH_BANDS`` buckets, i.e. iff it holds the FINAL min of all
    ``_MH_BANDS`` of its (distinct-by-construction) bucket keys.
    Shingle-less docs carry no near-dup identity: the transform routes
    them through one synthetic singleton bucket keyed ``b = -1`` (its
    bucket string is the id, so no two docs collide) — auto-survivors.

    Every step is a distributed aggregation over the spool (min over
    emissions is the final state because a running min is monotone;
    order-insensitive, so the result is invariant to batch slicing)."""
    final = (
        spool.where(F.col("b") >= 0)
        .groupBy("b", "bucket")
        .agg(F.min("win").alias("win"))
    )
    wins = (
        final.groupBy("win")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") == _MH_BANDS)
        .select("win")
    )
    solo = spool.where(F.col("b") == -1).select("win").distinct()
    return wins.unionByName(solo).select("win.*")


def _minhash_pairs(sigs: DataFrame) -> DataFrame:
    """Banded candidate generation + signature-agreement estimate.

    ``sigs`` is eagerly localCheckpointed here: the subtree feeds the
    band self-join (2 evaluations) plus the two signature joins —
    without the materialization a cold single-pass run evaluates the
    shingle→minhash map 4× (round-1 driver bench: 47 s vs 7.5 s warm
    for q_llm_dedup_pipeline). localCheckpoint rather than persist so
    no CacheManager entry leaks past the query (guide §5)."""
    sigs = sigs.localCheckpoint()
    cand = _minhash_band_candidates(sigs)
    sa = sigs.select(F.col("doc_id").alias("doc_id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_id_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with(F.col("sig_a"), F.col("sig_b"), lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ).cast("double") / F.lit(_MH_HASHES)
    return (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", est.alias("est_jaccard"))
        .where(F.col("est_jaccard") >= 0.5)
    )


@register(
    "q_llm_ngram_jaccard",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_distinct({X.oracle_shingles(X.oracle_tokens("text"), 3)}) AS sh,
                   len(list_distinct({X.oracle_shingles(X.oracle_tokens("text"), 3)})) AS n_sh
            FROM documents
        ),
        sigs AS ({_oracle_minhash_sigs()}),
        {_oracle_bands_cand()}
        SELECT cand.doc_id_a, cand.doc_id_b,
               len(list_intersect(a.sh, b.sh))::DOUBLE
                   / greatest(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)), 1) AS jaccard
        FROM cand
        JOIN t a ON a.doc_id = cand.doc_id_a
        JOIN t b ON b.doc_id = cand.doc_id_b
        WHERE a.n_sh <= 2 * b.n_sh AND b.n_sh <= 2 * a.n_sh
          AND len(list_intersect(a.sh, b.sh))::DOUBLE
                  / greatest(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)), 1) >= 0.5
    """,
    tags=("llm", "dedup"),
)
def q_llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity (ratio of exact ints →
    bit-identical) reranking MinHash-banded candidate pairs — the
    candidate generator is the same linear-cost (band, bucket) shuffle
    as q_llm_minhash_dedup, mirrored in the oracle, so no O(n²) pair
    space exists at any scale (the round-1 version blocked on `source`,
    which is quadratic within a block).

    Candidates are additionally pruned by the size bound
    jaccard ≤ min(|A|,|B|) / max(|A|,|B|): a 0.5 cut implies set sizes
    within 2× of each other, so the cheap integer predicate (mirrored
    in the oracle) prunes before any array intersection runs. The band
    recall bound is the standard LSH S-curve (1−(1−s^4)^8 — near 1 for
    the ~identical texts a 0.5 Jaccard cut targets)."""
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    # localCheckpoint, not persist: the shingle table feeds the a/b
    # rerank sides AND the signature derivation below, and a persist
    # here leaked one CacheManager entry per invocation (guide §5)
    t = d.select(
        "doc_id", F.array_distinct(X.shingles(toks, 3)).alias("sh")
    ).withColumn("n_sh", F.size("sh")).localCheckpoint()
    # signatures derive from the checkpointed shingle table — the raw
    # corpus is tokenized exactly once for this query
    cand = _minhash_band_candidates(minhash_sigs_arrow(t, shingles_col="sh"))
    a = t.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_sh_a"),
    )
    b = t.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_sh_b"),
    )
    # |A∪B| = |A| + |B| − |A∩B| over distinct sets: ONE array intersect
    # per pair instead of intersect + concat + distinct (mirrored in the
    # oracle; identical integers).
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / F.greatest(
        F.col("n_sh_a") + F.col("n_sh_b") - inter, F.lit(1)
    )
    return (
        cand.join(a, "doc_id_a")
        .join(b, "doc_id_b")
        .where(
            (F.col("n_sh_a") <= 2 * F.col("n_sh_b"))
            & (F.col("n_sh_b") <= 2 * F.col("n_sh_a"))
        )
        .select("doc_id_a", "doc_id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )


_SH_K = 3  # max hamming distance
_SH_BLOCKS = _SH_K + 1  # pigeonhole: ≤k differing bits → ≥1 equal block
_SH_BLOCK_BITS = 14  # 4 × 14 = 56 bits


@register(
    "q_llm_simhash_dedup",
    oracle=f"""
        WITH fp AS ({X.oracle_simhash_per_doc()}),
        blocks AS (
            SELECT doc_id, simh, blk,
                   (simh >> (blk * {_SH_BLOCK_BITS})) & {(1 << _SH_BLOCK_BITS) - 1} AS bval
            FROM fp, (SELECT unnest(generate_series(0, {_SH_BLOCKS - 1})) AS blk)
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   a.simh AS simh_a, b.simh AS simh_b
            FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.bval = b.bval
            WHERE a.doc_id < b.doc_id
        )
        SELECT doc_id_a, doc_id_b, bit_count(xor(simh_a, simh_b)) AS hamming
        FROM cand
        WHERE bit_count(xor(simh_a, simh_b)) <= {_SH_K}
    """,
    tags=("llm", "dedup"),
)
def q_llm_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dedup at scale: 56-bit fingerprints, pairs within
    Hamming distance 3 found by pigeonhole blocking — split the code
    into k+1=4 blocks of 14 bits; any pair within distance k agrees on
    ≥1 whole block, so candidates come from an equi-join on
    (block, value) — the same bucket-shuffle shape as MinHash banding,
    never an O(n²) cross join. Exact bit_count(xor) reranks candidates.
    Guaranteed lossless for the distance bound (pigeonhole, not
    probabilistic).

    Since round 9 the plan runs REP-COLLAPSE (the q_llm_dup_clusters
    r8 playbook, r8 verdict item #5): the doc-level block join
    measured α≈0.74 at 10→25× (r8 scale probe: 20.9 → 41.3 s wall,
    306 M → 1.92 G block-pair candidates) because web-corpus fixtures
    are dominated by exact-duplicate fingerprint groups that saturate
    14-bit blocks. Blocking now runs over
    DISTINCT fingerprints only; qualifying rep pairs expand back to
    doc pairs through two fingerprint-keyed joins, and within-group
    (hamming-0) pairs come from a group self-join — both
    OUTPUT-bounded (only qualifying pairs are materialized), where the
    old plan shuffled every block-collision candidate. Hamming
    distance depends only on fingerprints, so the doc-level pair set
    is exactly the old plan's (and the oracle's, which keeps the
    doc-level DISTINCT-then-WHERE form)."""
    d = load_table(spark, sf_dir, "documents")
    # fp feeds FIVE lazy references (grp, da, db, x, y) — without the
    # eager checkpoint each one re-runs the corpus fingerprint pass
    # (measured: 6 documents scans in one plan). The proxy is 16 B/row
    # (doc_id, simh) — the guide-§8 "decide on small rows" table.
    fp = X.simhash_df(d).localCheckpoint()
    grp = fp.select("simh").distinct()
    mask = (1 << _SH_BLOCK_BITS) - 1
    blocks = grp.select(
        "simh",
        F.explode(F.sequence(F.lit(0), F.lit(_SH_BLOCKS - 1))).alias("blk"),
    ).select(
        "simh",
        "blk",
        F.call_function("shiftright", F.col("simh"), (F.col("blk") * _SH_BLOCK_BITS).cast("int"))
        .bitwiseAND(F.lit(mask))
        .alias("bval"),
    )
    a = blocks.select(F.col("simh").alias("simh_a"), "blk", "bval")
    b = blocks.select(F.col("simh").alias("simh_b"), "blk", "bval")
    # Score INSIDE the block join and filter BEFORE the distinct (the
    # r4 LSH map-side-scoring pattern): the hamming test is 2 integer
    # ops per candidate; .distinct() is a full shuffle of every
    # candidate row, so it runs on qualifying pairs only.
    ham = X.hamming56(F.col("simh_a"), F.col("simh_b"))
    rep_pairs = (
        a.join(b, on=["blk", "bval"])
        .where(F.col("simh_a") < F.col("simh_b"))
        .select("simh_a", "simh_b", ham.alias("hamming"))
        .where(F.col("hamming") <= _SH_K)
        .distinct()
    )
    # expand rep pairs to doc pairs: every doc of group(simh_a) pairs
    # with every doc of group(simh_b) — two broadcast-eligible
    # fingerprint-keyed joins against the (doc_id, simh) table
    da = fp.select(F.col("simh").alias("simh_a"), F.col("doc_id").alias("da"))
    db = fp.select(F.col("simh").alias("simh_b"), F.col("doc_id").alias("db"))
    cross = (
        rep_pairs.join(da, "simh_a")
        .join(db, "simh_b")
        .select(
            F.least("da", "db").alias("doc_id_a"),
            F.greatest("da", "db").alias("doc_id_b"),
            "hamming",
        )
    )
    # within-group pairs: identical fingerprints are hamming 0 ≤ k
    x = fp.select("simh", F.col("doc_id").alias("doc_id_a"))
    y = fp.select("simh", F.col("doc_id").alias("doc_id_b"))
    within = (
        x.join(y, "simh")
        .where(F.col("doc_id_a") < F.col("doc_id_b"))
        .select(
            "doc_id_a",
            "doc_id_b",
            X.hamming56(F.lit(0), F.lit(0)).alias("hamming"),
        )
    )
    return cross.unionByName(within)


_SHW_BLK = ["blk0", "blk1", "blk2", "blk3"]
# wide variant's own constants, bound to the fingerprint layout in
# functions.text — NOT to the 56-bit variant's _SH_BLOCKS/_SH_K, so
# retuning the narrow operator cannot silently break the wide
# pigeonhole (k = blocks - 1 is what makes the blocking lossless)
_SHW_BLOCKS = X.SIMHASH_WIDE_BLOCKS
_SHW_K = _SHW_BLOCKS - 1
assert len(_SHW_BLK) == _SHW_BLOCKS


def _oracle_simhash_wide_cte() -> str:
    """Shared CTE chain fp → grp → gb → scored for the wide-simhash
    oracle; q_llm_simhash_wide selects the ≤k pairs from it and
    q_llm_dup_clusters_wide builds its component closure on top."""
    return f"""fp AS ({X.oracle_simhash_wide_per_doc()}),
        grp AS (
            SELECT blk0, blk1, blk2, blk3, MIN(doc_id) AS rep,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM fp GROUP BY blk0, blk1, blk2, blk3
        ),
        gb AS (
            SELECT rep, n_docs, blk0, blk1, blk2, blk3, blk,
                   CASE blk WHEN 0 THEN blk0 WHEN 1 THEN blk1
                            WHEN 2 THEN blk2 ELSE blk3 END AS bval
            FROM grp, (SELECT unnest(generate_series(0, {_SHW_BLOCKS - 1})) AS blk)
        ),
        scored AS (
            SELECT a.rep AS rep_a, b.rep AS rep_b,
                   bit_count(xor(a.blk0, b.blk0)) + bit_count(xor(a.blk1, b.blk1))
                   + bit_count(xor(a.blk2, b.blk2)) + bit_count(xor(a.blk3, b.blk3))
                       AS hamming,
                   a.n_docs AS n_docs_a, b.n_docs AS n_docs_b
            FROM gb a JOIN gb b ON a.blk = b.blk AND a.bval = b.bval
            WHERE a.rep < b.rep
        )"""


@register(
    "q_llm_simhash_wide",
    oracle=f"""
        WITH {_oracle_simhash_wide_cte()}
        SELECT DISTINCT rep_a, rep_b, hamming, n_docs_a, n_docs_b
        FROM scored WHERE hamming <= {_SHW_K}
    """,
    tags=("llm", "dedup"),
)
def q_llm_simhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-fingerprint SimHash near-dedup — the production-scale
    variant of :func:`q_llm_simhash_dedup` (SCALE.md round-5 finding:
    4×14-bit blocks saturate on homogeneous corpora, 306 M candidates
    at 10×). Two structural fixes, both exact:

    1. **128-bit fingerprint, 4 blocks × 32 bits** (one md5 per
       distinct token still supplies every bit). Per-block key space
       is 2³² — random bucket load stays O(1) up to ~10¹⁰ distinct
       fingerprints, vs 2¹⁴ before. The hamming-≤3 pigeonhole over
       k+1=4 blocks is unchanged, so candidates are still lossless
       for the distance bound.
    2. **Exact-fingerprint groups collapse to a canonical
       representative (min doc_id) BEFORE blocking.** Template-mass
       duplication — the dominant 100 TB regime, and this fixture's:
       35 619 identical-fingerprint pairs at sf0.1 — contributes one
       row per distinct fingerprint instead of C(m,2) pairs per
       m-doc cluster. The quadratic that remains is the corpus's true
       near-dup pair count, i.e. the output itself.

    Returns (rep_a, rep_b, hamming, n_docs_a, n_docs_b): near-dup
    edges between group representatives with group sizes, from which
    doc-level keep/drop decisions are a broadcast join away. Hamming
    ≤3 of 128 bits is deliberately stricter than ≤3 of 56 — wide
    fingerprints separate what 56-bit ones blur together.
    """
    d = load_table(spark, sf_dir, "documents")
    fp = X.simhash_wide_df(d)
    # materialize the collapsed rep table: it feeds BOTH sides of the
    # self-join, and Spark re-executes a subtree referenced from two
    # plan branches (no cross-branch CSE) — without this the whole
    # 128-tally fingerprint computation runs twice (the r4 ANN-contract
    # lesson). localCheckpoint rather than persist: a persist here
    # leaked one CacheManager entry per invocation (guide §5)
    grp = fp.groupBy(*_SHW_BLK).agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("n_docs")
    ).localCheckpoint()
    gb = grp.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(_SHW_BLOCKS - 1))).alias("blk")
    ).withColumn(
        "bval",
        F.when(F.col("blk") == 0, F.col("blk0"))
        .when(F.col("blk") == 1, F.col("blk1"))
        .when(F.col("blk") == 2, F.col("blk2"))
        .otherwise(F.col("blk3")),
    )
    cols = ["rep", "n_docs", *_SHW_BLK]
    a = gb.select(*[F.col(c).alias(f"{c}_a") for c in cols], "blk", "bval")
    b = gb.select(*[F.col(c).alias(f"{c}_b") for c in cols], "blk", "bval")
    ham = X.hamming_wide(
        [F.col(f"{c}_a") for c in _SHW_BLK], [F.col(f"{c}_b") for c in _SHW_BLK]
    )
    # Same map-side-score discipline as the 56-bit variant: the hamming
    # test runs inside the block join and filters BEFORE the distinct
    # shuffle, so only qualifying pairs are ever exchanged.
    return (
        a.join(b, on=["blk", "bval"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .select("rep_a", "rep_b", ham.alias("hamming"), "n_docs_a", "n_docs_b")
        .where(F.col("hamming") <= _SHW_K)
        .distinct()
    )


# Embedding near-dup parameters: 64 dims split into 8 blocks of 8 sign
# bits. Pigeonhole: pairs whose sign patterns differ in ≤ 7 bits agree
# on ≥ 1 whole block → the (block, value) equi-join finds them
# losslessly. The fixture corpus has no natural near-dups (max pairwise
# cosine ≈ 0.5), so the operator plants deterministic perturbed copies
# (one component shifted by +0.25 — a re-encoded/augmented duplicate:
# cosine ≈ 0.97, sign pattern differs in ≤ 1 bit) and must find exactly
# them. At larger corpora, grow bits-per-block ~log2(n) to keep buckets
# small.
_ED_DIM = 64
_ED_BLOCKS = 8
_ED_BITS = _ED_DIM // _ED_BLOCKS
_ED_PERT_MOD = 10
_ED_PERT_OFFSET = 10_000_000
_ED_THRESHOLD = 0.9
_ED_ADAPTIVE_FLOOR = 4096  # below this corpus size, the fixed 8x8 layout


def _ed_blocks_of(u: DataFrame, n_blocks: int, n_bits: int) -> DataFrame:
    """(vec_id, v) → (vec_id, blk, bval): the sign-LSH pigeonhole block
    keys — n_blocks rows per vector, each bval packing n_bits component
    signs. Pure Column expressions; shared by the batch operator and
    the streaming variant (which must be map-only ahead of its
    stateful aggregation)."""
    bval = None
    for j in range(n_bits):
        bit = F.when(
            F.element_at(F.col("v"), (F.col("blk") * n_bits + j + 1).cast("int")) >= 0,
            F.lit(1 << j),
        ).otherwise(F.lit(0))
        bval = bit if bval is None else bval + bit
    assert bval is not None
    return u.select(
        "vec_id", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"), "v"
    ).select("vec_id", "blk", bval.alias("bval"))


def _ed_layout(n: int) -> tuple[int, int]:
    """(blocks, bits_per_block) for the sign-LSH pigeonhole blocking.

    Fixed 8 blocks x 8 bits up to 4096 vectors — the fixture regime the
    DuckDB oracle mirrors bit-for-bit. Above that, bucket load at 8
    bits (256 buckets/block) grows linearly and the candidate set
    quadratically (measured: 96x candidates for 10x corpus on the
    homogeneous scale fixture, SCALE.md finding #3), so bits grow
    ~log2(n)+2 and blocks shrink to 64//bits: expected bucket load
    stays O(1) and candidates linear. The pigeonhole guarantee
    weakens from sign-hamming<=7 to <=blocks-1 — still >=1 at every
    scale, covering re-encoded duplicates (<=1 flipped sign); recall
    for weaker near-dups is the documented dial this trades."""
    if n <= _ED_ADAPTIVE_FLOOR:
        return _ED_BLOCKS, _ED_BITS
    # integer-exact ceil(log2(n)) == (n-1).bit_length(): the oracle
    # mirrors this with a power-of-two CASE ladder, and float log2
    # could disagree with it at exact powers of two
    bits = min(32, max(_ED_BITS, (n - 1).bit_length() + 2))
    return max(2, _ED_DIM // bits), bits

# Oracle mirror of _ed_layout, integer-exact: bit_length(n-1) as a
# power-of-two CASE ladder (float log2 could disagree at exact powers
# of two), bits clamped to [8, 32], blocks = 64 // bits. Below the
# adaptive floor this reduces to the fixed 8x8 layout, so the oracle
# stays valid at EVERY corpus size, not just the fixture regime.
_ED_ORACLE_BITS = (
    f"CASE WHEN n <= {_ED_ADAPTIVE_FLOOR} THEN {_ED_BITS} "
    "ELSE LEAST(32, (CASE "
    + " ".join(f"WHEN n <= {1 << k} THEN {k}" for k in range(13, 30))
    + " ELSE 30 END) + 2) END"
)

# adaptive bval: sign bits j < bits of block blk (list OOB indexing in
# DuckDB yields NULL -> the CASE falls to 0, matching the guard)
_ED_ORACLE_BVAL = " + ".join(
    f"(CASE WHEN {j} < lay.bits AND v[blk * lay.bits + {j + 1}] >= 0"
    f" THEN {1 << j} ELSE 0 END)"
    for j in range(32)
)


@register(
    "q_llm_embed_dedup",
    oracle=f"""
        WITH u AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            UNION ALL
            SELECT vec_id + {_ED_PERT_OFFSET},
                   [CAST(embedding AS DOUBLE[])[1] + 0.25]
                       || CAST(embedding AS DOUBLE[])[2:{_ED_DIM}]
            FROM embeddings WHERE vec_id % {_ED_PERT_MOD} = 0
        ),
        lay AS (
            SELECT bits, GREATEST(2, 64 // bits) AS blocks FROM (
                SELECT {_ED_ORACLE_BITS} AS bits
                FROM (SELECT COUNT(*)::BIGINT AS n FROM embeddings)
            )
        ),
        blocks AS (
            SELECT vec_id, blk, {_ED_ORACLE_BVAL} AS bval
            FROM u, lay, (SELECT unnest(generate_series(0, 31)) AS blk)
            WHERE blk < lay.blocks
        ),
        cand AS (
            SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
            FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.bval = b.bval
            WHERE a.vec_id < b.vec_id
        )
        SELECT c.vec_id_a, c.vec_id_b,
               list_cosine_similarity(ua.v, ub.v) AS cos_sim
        FROM cand c
        JOIN u ua ON ua.vec_id = c.vec_id_a
        JOIN u ub ON ub.vec_id = c.vec_id_b
        WHERE list_cosine_similarity(ua.v, ub.v) >= {_ED_THRESHOLD}
    """,
    tags=("llm", "dedup", "vector"),
)
def q_llm_embed_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: axis-aligned
    sign-LSH pigeonhole blocking + exact cosine rerank (≥ 0.9).

    Candidate generation packs each vector's component signs into
    8 blocks × 8 bits and equi-joins on (block, value) — the same
    bucket-shuffle shape as q_llm_simhash_dedup, guaranteed lossless
    for pairs within sign-Hamming 7 (pigeonhole), never an O(n²) cross
    join (the round-1 version cross-joined all pairs: 69 s at sf0.1,
    quadratic — banned by this module's own contract). Sign buckets
    involve no float arithmetic beyond a ``>= 0`` test, so the DuckDB
    oracle mirrors them bit-exactly; the rerank cosine accumulates
    doubles sequentially → bit-identical across engines.

    The corpus is augmented with deterministic perturbed copies
    (component 1 shifted +0.25 for every {_ED_PERT_MOD}th vector —
    simulating the re-encoded duplicates a production corpus contains;
    cosine vs the original ≈ 0.97, sign pattern differs in ≤ 1 bit, so
    detection is guaranteed). Output = exactly the planted pairs plus
    any natural pair ≥ 0.9.

    The block layout is corpus-size-adaptive (:func:`_ed_layout`):
    fixed 8×8 up to 4096 vectors; wider blocks above so bucket load —
    and with it the candidate set — stays linear (SCALE.md finding
    #3). The oracle computes the SAME layout in SQL (_ED_ORACLE_BITS,
    an integer power-of-two ladder), so the hash contract is valid at
    every corpus size, not just the fixture regime — pinned above the
    adaptive floor by tests/test_llm.py::
    test_embed_dedup_contract_above_adaptive_floor."""
    e = load_table(spark, sf_dir, "embeddings")
    from cheetah_spark.catalog import _table_rows

    n_blocks, n_bits = _ed_layout(_table_rows(spark, sf_dir, "embeddings"))
    v = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", v.alias("v"))
    pert = e.where(F.col("vec_id") % _ED_PERT_MOD == 0).select(
        (F.col("vec_id") + _ED_PERT_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at(v, 1) + F.lit(0.25)), F.slice(v, 2, _ED_DIM - 1)
        ).alias("v"),
    )
    # localCheckpoint, not persist: u feeds the block join (both sides)
    # and the two vector joins; a persist here leaked one CacheManager
    # entry per invocation (guide §5)
    u = base.unionByName(pert).localCheckpoint()
    blocks = _ed_blocks_of(u, n_blocks, n_bits)
    cand = (
        blocks.alias("a")
        .join(blocks.alias("b"), on=["blk", "bval"])
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_id_a"), F.col("b.vec_id").alias("vec_id_b"))
        .distinct()
    )
    ua = u.select(F.col("vec_id").alias("vec_id_a"), F.col("v").alias("va"),
                  V.l2_norm_sq(F.col("v")).alias("nsq_a"))
    ub = u.select(F.col("vec_id").alias("vec_id_b"), F.col("v").alias("vb"),
                  V.l2_norm_sq(F.col("v")).alias("nsq_b"))
    cos = V.dot(F.col("va"), F.col("vb")) / (F.sqrt(F.col("nsq_a")) * F.sqrt(F.col("nsq_b")))
    return (
        cand.join(ua, "vec_id_a")
        .join(ub, "vec_id_b")
        .select("vec_id_a", "vec_id_b", cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= _ED_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_TOPK = 5
_QUERY_MOD = 100  # vec_id % _QUERY_MOD == 0 → query set (~1% of corpus)


@register(
    "q_llm_similarity_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {V.oracle_cosine("q.embedding", "c.embedding")} AS cos_sim
            FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
            FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= {_TOPK}
    """,
    tags=("llm", "vector"),
)
def q_llm_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the small query set against
    the corpus scan (embarrassingly parallel, no corpus shuffle), rank
    per query with a vec_id tiebreaker.

    Scale: |Q|×|C| similarity rows are never materialized wide — the
    window shuffles only (query_id) keys; for large |Q| use
    q_llm_ann_bruteforce (vectorized partial top-k: shuffles k rows
    per query per partition instead of |C|)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % _QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        V.l2_norm_sq(F.col("embedding")).alias("nsq_q"),
    )
    joined = F.broadcast(q).crossJoin(
        e.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("embedding").alias("cv"),
            V.l2_norm_sq(F.col("embedding")).alias("nsq_c"),
        )
    ).where(F.col("query_id") != F.col("neighbor_id"))
    cos = V.dot(F.col("qv"), F.col("cv")) / (F.sqrt(F.col("nsq_q")) * F.sqrt(F.col("nsq_c")))
    scored = joined.select("query_id", "neighbor_id", cos.alias("cos_sim"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= _TOPK)


def _topk_schema() -> str:
    return "query_id long, neighbor_id long, cos_sim double"


# Shared hash-oracle for the approximate ANN variants (LSH/IVF/PQ).
# An approximate top-k can't hash-match exact SQL row-for-row, so —
# the q_llm_kmeans / q_approx_distinct_hll pattern — the registered
# query emits one contract row per query: values the exact oracle CAN
# compute (the exact top-1 neighbor and its cosine, the returned-count
# k) plus a pinned-TRUE recall bound computed in-plan against the
# exact top-k (one broadcast crossJoin at |Q| queries — cheap, and the
# ANN path's quality flows through recall_ok/n_ret). The raw top-k
# DataFrames stay available as _ann_{lsh,ivf,pq}_topk for users and
# for the recall tests in tests/test_llm.py.
_ANN_CONTRACT_ORACLE = f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {{cos}} AS cos_sim
        FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
        FROM scored
    )
    SELECT query_id, CAST({_TOPK} AS BIGINT) AS n_ret,
           neighbor_id AS exact_top1_id, cos_sim AS exact_top1_cos,
           TRUE AS recall_ok
    FROM ranked WHERE rk = 1
"""


def _exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact top-k ground truth used as the ANN verification
    anchor: deterministic, bounded (|Q|×k rows — 100 at sf0.1), and
    shared by all three ANN contract queries — an evaluation pipeline
    computes its ground-truth table ONCE per fixture, persists it, and
    reuses it across every index variant and every process (round-4
    verdict item #2: the anchor must not ride the per-query hot path).
    anchors.anchor_df keys the persisted parquet by the embeddings
    fixture's (mtime, size) and serves bit-exact doubles from a
    collect → createDataFrame local relation."""
    from cheetah_spark.anchors import anchor_df

    return anchor_df(
        spark,
        sf_dir,
        "exact_topk",
        ("embeddings",),
        q_llm_similarity_topk,
        params=_EXACT_TOPK_PARAMS,
        helpers=(V.dot, V.l2_norm_sq),  # scoring semantics
    )


# builder definition key: invalidates persisted anchors when the
# anchor's semantics change (round-5 advice — a stale /tmp anchor from
# an older code revision must not be silently served)
_EXACT_TOPK_PARAMS = f"topk={_TOPK};qmod={_QUERY_MOD};v1"


def _exact_topk_rows(spark: SparkSession, sf_dir: str):
    from cheetah_spark.anchors import anchor_rows

    return anchor_rows(
        spark,
        sf_dir,
        "exact_topk",
        ("embeddings",),
        q_llm_similarity_topk,
        params=_EXACT_TOPK_PARAMS,
        helpers=(V.dot, V.l2_norm_sq),  # scoring semantics
    )


def _ann_contract(
    spark: SparkSession,
    sf_dir: str,
    approx: DataFrame,
    recall_floor: float,
    exact_rows_fn=None,
) -> DataFrame:
    """Per-query contract rows for an approximate top-k result: exact
    top-1 anchors + returned-count + an aggregate recall>=floor
    boolean (pinned TRUE in the oracle).

    The approx pipeline executes exactly ONCE: a single pass joins it
    against the broadcast exact-pair set and aggregates (n_ret, n_hit)
    per query — |Q| rows, collected — and the contract rows are then
    assembled driver-side from that bounded summary plus the persisted
    exact anchor. (The round-4 shape referenced ``approx`` from two
    plan branches, so every ANN index was built and probed twice per
    query — measured ~2× on q_llm_ann_lsh/ivf/pq.)

    Eager-execution note: the approx pipeline runs at query-CONSTRUCTION
    time (the bounded per-query summary is collected here); the returned
    DataFrame is a precomputed local relation, not a lazy plan."""
    _schema, exact_rows = (exact_rows_fn or _exact_topk_rows)(spark, sf_dir)
    if not exact_rows:
        # degenerate fixture (no queries / empty embeddings): fail loud
        # rather than ZeroDivisionError below — there is nothing for
        # the recall contract to mean (round-5 advice)
        raise ValueError(
            f"ANN contract needs a non-empty exact top-k anchor for {sf_dir!r}; "
            "the embeddings fixture produced none"
        )
    exact_pairs = spark.createDataFrame(
        [(r.query_id, r.neighbor_id) for r in exact_rows],
        "query_id long, neighbor_id long",
    ).withColumn("hit", F.lit(1))
    per_q = (
        approx.select("query_id", "neighbor_id")
        .join(F.broadcast(exact_pairs), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("bigint").alias("n_ret"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
        .collect()
    )
    # recall over the exact top-k pair set == avg(hit) of the old
    # exact-left-join formulation (top-k outputs are duplicate-free).
    recall_ok = bool(sum(r.n_hit for r in per_q) / len(exact_rows) >= recall_floor)
    stats = {r.query_id: r.n_ret for r in per_q}
    rows = [
        (r.query_id, stats.get(r.query_id, 0), r.neighbor_id, r.cos_sim, recall_ok)
        for r in exact_rows
        if r.rk == 1
    ]
    return spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("query_id", T.LongType(), False),
                T.StructField("n_ret", T.LongType(), False),
                T.StructField("exact_top1_id", T.LongType(), False),
                T.StructField("exact_top1_cos", T.DoubleType(), False),
                T.StructField("recall_ok", T.BooleanType(), False),
            ]
        ),
    )


@register(
    "q_llm_ann_bruteforce",
    oracle=f"""
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % {_QUERY_MOD} = 0),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {V.oracle_cosine("q.embedding", "c.embedding")} AS cos_sim
            FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
            FROM scored
        )
        SELECT query_id, neighbor_id, cos_sim, rk FROM ranked WHERE rk <= {_TOPK}
    """,
    tags=("llm", "vector"),
)
def q_llm_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized brute-force ANN — the 100 TB exact path.

    The query set (small by construction) ships to every partition
    inside the Arrow-serialized closure; each mapInPandas batch does
    one numpy matmul (queries × batch) and emits only its LOCAL top-k
    per query, so the global shuffle carries k rows per (query,
    partition) instead of |C| rows per query. A final window takes the
    global top-k; the k selected pairs then get their cosine recomputed
    with the cross-engine expression convention (V.cosine — numpy's
    normalized matmul agrees to ~1e-15 but not bit-for-bit, and the
    driver's value hash is bit-exact), which is what makes this
    hash-verifiable against the same exact-top-k oracle as
    q_llm_similarity_topk. Also asserted equal to that query in
    tests/test_llm.py."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    qrows = (
        e.where(F.col("vec_id") % _QUERY_MOD == 0)
        .select("vec_id", "embedding")
        .collect()
    )  # small query set: bounded by construction, broadcast via closure
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qm = np.array([r.embedding for r in qrows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)
    k = _TOPK + 1  # +1: the query row itself may be in-batch

    def local_topk(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            vm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            vm /= np.linalg.norm(vm, axis=1, keepdims=True)
            sims = qm @ vm.T  # |Q| × batch
            take = min(k, sims.shape[1])
            # lexsort, not argpartition (the r12 _knn_vote finding, same
            # class): local selection must follow the SAME total order
            # as the global window and the oracle — (cos_sim DESC,
            # neighbor_id ASC) — or an exact-duplicate embedding tied at
            # the local boundary could evict the oracle-chosen lower
            # neighbor_id before the global rank ever sees it
            idx = np.lexsort((np.broadcast_to(ids, sims.shape), -sims), axis=1)[
                :, :take
            ]
            out = {
                "query_id": np.repeat(qids, take),
                "neighbor_id": ids[idx].ravel(),
                "cos_sim": np.take_along_axis(sims, idx, axis=1).ravel(),
            }
            yield pd.DataFrame(out)

    local = e.select("vec_id", "embedding").mapInPandas(local_topk, schema=_topk_schema())
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    sel = (
        local.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _TOPK)
        .select("query_id", "neighbor_id", "rk")
    )
    # bit-exact cosine for the selected pairs. The selection is bounded
    # (|Q|×k rows) and the query embeddings are already driver-side, so
    # the neighbor embeddings come from ONE vec_id-IN-pruned scan
    # (pushed to parquet row groups) instead of two additional FULL
    # corpus scans joined against the broadcast selection — at 100 TB
    # those were 2 needless corpus passes. float32 values round-trip
    # collect→createDataFrame exactly, and V.cosine evaluates the same
    # Catalyst expression on the same float inputs as the join
    # formulation did.
    sel_rows = sel.collect()
    nids = sorted({r.neighbor_id for r in sel_rows})
    cvrows = (
        e.where(F.col("vec_id").isin(nids)).select("vec_id", "embedding").collect()
    )
    emb = {r.vec_id: r.embedding for r in qrows}
    emb.update({r.vec_id: r.embedding for r in cvrows})
    pairs = spark.createDataFrame(
        [
            (r.query_id, r.neighbor_id, emb[r.query_id], emb[r.neighbor_id], r.rk)
            for r in sel_rows
        ],
        "query_id long, neighbor_id long, qv array<float>, cv array<float>, rk integer",
    )
    return pairs.select(
        "query_id",
        "neighbor_id",
        V.cosine(F.col("qv"), F.col("cv")).alias("cos_sim"),
        "rk",
    )


_LSH_BANDS = 16
_LSH_BITS = 4


_LSH_DIM = 64


def _ann_lsh_topk(spark: SparkSession, sf_dir: str, query_df=None) -> DataFrame:
    """Approximate nearest neighbors via sign-LSH banding + exact rerank.

    Each vector gets 16 band-bucket ids from 4-bit random-hyperplane
    sketches (deterministic hash-derived hyperplanes — reproducible on
    any cluster, no fitted model: the ±1 matrix is rebuilt from md5 on
    every executor). Candidates = query/corpus pairs sharing any
    (band, bucket); shuffle cost is linear in collisions, never
    O(|Q|×|C|). Exact cosine (JVM sequential fold, identical to the
    exact operators) reranks candidates; recall vs the exact top-k is
    measured in tests/test_llm.py (0.92 at fixture scale).

    Bucket assignment is ONE Arrow-batched numpy matmul per batch
    (batch×dim @ dim×(bands·bits)) — the declared vectorized slow
    path. The pure-codegen formulation it replaces built a 4096-term
    fold expression (16 bands × 4 bits × 64 dims) whose evaluation
    dominated the whole suite (5.2 s at sf0.1 → ~1 s vectorized);
    per-element expression trees stop being "the fast path" when the
    operator is a dense matrix product.

    Band sizing note: the fixture embeddings are near-uniform (top-k
    sims ≈ 0.3–0.5), the hardest case for LSH — 16×4 trades a wide
    candidate set for recall. On real near-dup corpora (target sims
    ≥ 0.8, e.g. the embed_dedup use case) fewer/wider bands (8×8)
    collapse the candidate set to ~the true duplicates."""
    import numpy as np

    from cheetah_spark.functions.vectors import _lsh_sign

    e = load_table(spark, sf_dir, "embeddings")
    S = np.array(
        [
            [_lsh_sign(band, bit, i) for band in range(_LSH_BANDS) for bit in range(_LSH_BITS)]
            for i in range(_LSH_DIM)
        ]
    )  # (dim, bands*bits), ±1 entries
    bitw = 1 << np.arange(_LSH_BITS, dtype=np.int64)

    def assign(batches):
        # ONE output row per vector, its _LSH_BANDS bucket ids packed
        # in an array — NOT one pre-exploded row per (vector, band).
        # The pre-exploded shape shipped every 64-dim embedding through
        # Arrow 16× (and pandas-.repeat()ed the object column in
        # Python); the band fan-out is pure structure, so it belongs in
        # JVM codegen (posexplode below), not on the Python boundary
        # (guide §4.1: control how many bytes cross). At the 2000-row
        # sf0.1 fixture the query is machinery-bound, so this is
        # roughly neutral in seconds; the win is the 16x reduction in
        # Arrow transfer volume per corpus pass, which is what
        # dominates at real corpus sizes.
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Vm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            bits = (Vm @ S >= 0).astype(np.int64).reshape(len(pdf), _LSH_BANDS, _LSH_BITS)
            buckets = (bits * bitw).sum(axis=2)  # (n, bands)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": pdf["embedding"],
                    "buckets": list(buckets),
                }
            )

    def bucketed(df):
        # nsq is computed BEFORE the band fan-out — once per vector,
        # not 16× — with the SAME V.l2_norm_sq expression as before
        # (bit-identical doubles; the fan-out only copies the result).
        return (
            df.select("vec_id", "embedding")
            .mapInPandas(
                assign, "vec_id long, embedding array<float>, buckets array<bigint>"
            )
            .withColumn("nsq", V.l2_norm_sq(F.col("embedding")))
            .select(
                "vec_id",
                "embedding",
                "nsq",
                F.posexplode("buckets").alias("band", "bucket"),
            )
            .withColumn("band", F.col("band").cast("int"))
        )

    melted = bucketed(e)
    # The query side is ~1% of the corpus and feeds a broadcast, which
    # is a SEPARATE plan branch — bucketing it from the pre-filtered
    # scan keeps the full-corpus Arrow/numpy assign to ONE pass
    # (previously the broadcast build re-ran assign over all rows just
    # to keep 1%; measured ~2x on the whole query). query_df overrides
    # the query side (the fixed-|Q| production mode below).
    if query_df is None:
        query_df = e.where(F.col("vec_id") % _QUERY_MOD == 0)
    q = bucketed(query_df).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("nsq").alias("nsq_q"),
        "band",
        "bucket",
    )
    # Score INSIDE the map-side broadcast join, then dedup on
    # (ids, score) with a map-side-combinable max. A pair colliding in
    # b bands is scored b times (identical cosine each time — max is
    # exact), but the only shuffle this plan pays carries 24-byte
    # (id, id, double) rows; the previous dropDuplicates-then-score
    # shape shuffled every candidate WITH both 64-dim arrays attached
    # (~2 GB at sf0.1, the whole query's bottleneck — redundant JVM
    # codegen dot products are far cheaper than moving vectors).
    cos = V.dot(F.col("qv"), F.col("cv")) / (F.sqrt(F.col("nsq_q")) * F.sqrt(F.col("nsq_c")))
    scored = (
        F.broadcast(q)
        .join(
            melted.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("cv"),
                F.col("nsq").alias("nsq_c"),
                "band",
                "bucket",
            ),
            on=["band", "bucket"],
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cos_sim"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= _TOPK)


@register(
    "q_llm_ann_lsh",
    oracle=_ANN_CONTRACT_ORACLE.format(cos=V.oracle_cosine("q.embedding", "c.embedding")),
    tags=("llm", "vector"),
)
def q_llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified contract over :func:`_ann_lsh_topk` (see there
    for the operator design): per-query exact-top-1 anchors + returned
    count + recall>=0.8 pinned TRUE (measured 0.92 at sf0.01 and 0.93
    at sf0.1 — the floor sits just under the operating point so an
    index-quality regression is hash-visible, not merely
    floor-visible; r6 recall curve in SCALE.md; floor also asserted in
    tests/test_llm.py::test_ann_lsh_recall)."""
    return _ann_contract(spark, sf_dir, _ann_lsh_topk(spark, sf_dir), 0.8)


# --- fixed-|Q| LSH: the production operating point -----------------------
#
# q_llm_ann_lsh's contract query set GROWS with the corpus (vec_id %
# 100 == 0 → ~1%), so total candidate work is ~n²/buckets and the
# measured wall is superlinear (alpha 1.24 at 10→25x, r8; SCALE.md).
# That is the evaluation contract, not how an ANN index is served: a
# production workload is a FIXED query set (or a fixed-rate query
# stream) against a growing corpus, where per-query cost grows only
# with collisions-per-bucket. This operator pins |Q| = _FIXEDQ_N (the
# smallest vec_ids — deterministic and present at every scale tier) and
# measured LINEAR-at-worst in corpus size (last scale probe: 3.23 s at
# 1x, 4.64 s at 25x; alpha 0.20 to 10x, -0.10 to 25x; r9 verdict item
# #1: ship the fixed-|Q| story as code, not prose).

_FIXEDQ_N = 64


def _similarity_topk_fixedq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k ground truth for the fixed query set (the anchor
    builder — q_llm_similarity_topk's shape with |Q| pinned)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = (
        e.orderBy("vec_id")
        .limit(_FIXEDQ_N)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            V.l2_norm_sq(F.col("embedding")).alias("nsq_q"),
        )
    )
    joined = (
        F.broadcast(q)
        .crossJoin(
            e.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("embedding").alias("cv"),
                V.l2_norm_sq(F.col("embedding")).alias("nsq_c"),
            )
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    cos = V.dot(F.col("qv"), F.col("cv")) / (F.sqrt(F.col("nsq_q")) * F.sqrt(F.col("nsq_c")))
    scored = joined.select("query_id", "neighbor_id", cos.alias("cos_sim"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= _TOPK)


_EXACT_TOPK_FIXEDQ_PARAMS = f"topk={_TOPK};fixedq={_FIXEDQ_N};v1"


def _exact_topk_fixedq_rows(spark: SparkSession, sf_dir: str):
    from cheetah_spark.anchors import anchor_rows

    return anchor_rows(
        spark,
        sf_dir,
        "exact_topk_fixedq",
        ("embeddings",),
        _similarity_topk_fixedq,
        params=_EXACT_TOPK_FIXEDQ_PARAMS,
        helpers=(V.dot, V.l2_norm_sq),
    )


@register(
    "q_llm_ann_lsh_fixedq",
    oracle=f"""
        WITH q AS (
            SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_FIXEDQ_N}
        ),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {V.oracle_cosine("q.embedding", "c.embedding")} AS cos_sim
            FROM q JOIN embeddings c ON q.vec_id <> c.vec_id
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
            FROM scored
        )
        SELECT query_id, CAST({_TOPK} AS BIGINT) AS n_ret,
               neighbor_id AS exact_top1_id, cos_sim AS exact_top1_cos,
               TRUE AS recall_ok
        FROM ranked WHERE rk = 1
    """,
    tags=("llm", "vector"),
)
def q_llm_ann_lsh_fixedq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN at the production operating point: a FIXED
    {_FIXEDQ_N}-query set (smallest vec_ids — a stand-in for the fixed
    query workload an index serves) against the growing corpus. Same
    index, same banding, same rerank as :func:`q_llm_ann_lsh`; only
    the query side differs — a bounded broadcast table whose size does
    NOT scale with the corpus, so total work is one linear bucketing
    pass plus O(|Q| x collisions/bucket) candidate scoring. Measured
    linear-at-worst: 3.23 s at 1x, 4.64 s at 25x (the grow-with-corpus
    contract row q_llm_ann_lsh stays alongside as the evaluation-mode
    semantics)."""
    e = load_table(spark, sf_dir, "embeddings")
    qdf = e.orderBy("vec_id").limit(_FIXEDQ_N)
    approx = _ann_lsh_topk(spark, sf_dir, query_df=qdf)
    return _ann_contract(
        spark, sf_dir, approx, 0.8, exact_rows_fn=_exact_topk_fixedq_rows
    )


# ---------------------------------------------------------------------------
# UDF surface (Python / pandas / grouped-map parity)
# ---------------------------------------------------------------------------


@register(
    "q_udf_surface",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, len({X.oracle_tokens("text", X.TOKEN_RE)})::BIGINT AS n_tok
            FROM documents
        )
        SELECT doc_id, lang, n_tok,
               SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id)::BIGINT AS cum_tok,
               (SUM(n_tok) OVER (PARTITION BY lang))::DOUBLE
                   / (COUNT(*) OVER (PARTITION BY lang)) AS lang_mean_tok
        FROM t
    """,
    tags=("llm", "udf"),
)
def q_udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UDF-surface parity: an Arrow-batched scalar pandas UDF (BPE-ish
    token count, vectorized regex over each batch) feeding an
    applyInPandas grouped-map (per-language running token budget +
    group mean). All outputs are exact ints or single IEEE divisions,
    so the SQL-window oracle hash-matches despite the Python path.

    This is the declared slow path: everything else in this module is
    pure Column expression; these two hooks exist because the reference
    Handler surface (types.go:122-135) allows arbitrary user code."""
    import re

    from pyspark.sql.functions import pandas_udf

    pat = re.compile(X.TOKEN_RE)

    @pandas_udf("bigint")
    def bpe_count(s: pd.Series) -> pd.Series:
        return s.str.lower().map(lambda t: len(pat.findall(t)))

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", bpe_count(F.col("text")).alias("n_tok")
    )

    def per_lang(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        pdf["cum_tok"] = pdf["n_tok"].cumsum()
        pdf["lang_mean_tok"] = float(pdf["n_tok"].sum()) / len(pdf)
        return pdf

    return d.groupBy("lang").applyInPandas(
        per_lang, schema="doc_id long, lang string, n_tok long, cum_tok long, lang_mean_tok double"
    )


# ---------------------------------------------------------------------------
# Composite training-data pipeline
# ---------------------------------------------------------------------------

_PIPE_QUALITY = f"""
        SELECT doc_id, lang, text,
               ({_QW["len"]} * least(len({X.oracle_tokens("text")}), 200)::DOUBLE / 200
                + {_QW["uniq"]} * (len(list_distinct({X.oracle_tokens("text")}))::DOUBLE
                      / greatest(len({X.oracle_tokens("text")}), 1))
                + {_QW["alpha"]} * (1.0
                      - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                            / greatest(n_chars, 1)
                      - length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
                            / greatest(n_chars, 1))) AS quality
        FROM documents"""


@register(
    "q_llm_dedup_pipeline",
    oracle=f"""
        WITH scored AS ({_PIPE_QUALITY}),
        s1 AS (SELECT doc_id, lang, text FROM scored WHERE quality >= 0.5),
        fp AS (
            SELECT doc_id, lang, text,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_fp
            FROM s1
        ),
        keep AS (SELECT content_fp, MIN(doc_id) AS keep_id FROM fp GROUP BY 1),
        s2 AS (
            SELECT fp.doc_id, fp.lang, fp.text FROM fp
            JOIN keep ON fp.content_fp = keep.content_fp AND fp.doc_id = keep.keep_id
        ),
        sigs AS ({_oracle_minhash_sigs("s2")}),
        {_oracle_bands_cand()},
        near AS (
            SELECT cand.doc_id_b
            FROM cand
            JOIN sigs sa ON sa.doc_id = cand.doc_id_a
            JOIN sigs sb ON sb.doc_id = cand.doc_id_b
            WHERE list_sum(list_transform(generate_series(1, {_MH_HASHES}),
                       i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END))::DOUBLE
                       / {_MH_HASHES} >= 0.5
        ),
        s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id_b FROM near))
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(len({X.oracle_tokens("text", X.TOKEN_RE)})) AS BIGINT) AS total_tokens
        FROM s3 GROUP BY lang
    """,
    tags=("llm", "dedup", "pipeline"),
)
def q_llm_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data curation pipeline, end to end:

    quality filter (Gopher-style score ≥ 0.5) → exact dedup (md5
    content fingerprint, keep lowest doc_id) → MinHash-LSH near-dedup
    (banded candidates, drop the higher doc_id of every pair with
    est. Jaccard ≥ 0.5) → per-language corpus budget (docs + BPE-ish
    tokens).

    Plan shape at 100 TB: scan → map-side scoring/fingerprinting →
    one groupBy(fingerprint) shuffle → banded-bucket shuffle over
    survivors → two doc_id hash joins → broadcast anti-join of the
    (tiny) drop list → final partial-agg rollup. No window over the
    full corpus, no cross join, nothing driver-side."""
    d = load_table(spark, sf_dir, "documents")
    s1 = d.where(quality_score_expr(F.col("text")) >= 0.5).select("doc_id", "lang", "text")
    fp = s1.withColumn("content_fp", F.md5(X.norm_text(F.col("text"))))
    keep = fp.groupBy("content_fp").agg(F.min("doc_id").alias("doc_id"))
    # materialized: s2 feeds both the minhash-sig subtree (itself
    # checkpointed in _minhash_pairs) and the final anti-join/rollup;
    # localCheckpoint rather than persist so no CacheManager entry
    # leaks past the query (guide §5)
    s2 = fp.join(keep, ["content_fp", "doc_id"]).select("doc_id", "lang", "text").localCheckpoint()
    near = (
        _minhash_pairs(minhash_sigs_arrow(s2))
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
    )
    s3 = s2.join(near, "doc_id", "left_anti")
    return s3.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(X.tokens(F.col("text"), X.TOKEN_RE))).alias("total_tokens"),
    )


_IVF_LISTS = 16
_IVF_NPROBE = 4


def _ann_ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int = _IVF_NPROBE) -> DataFrame:
    """IVF-style ANN: coarse quantizer (16 deterministic centroids — the
    lowest vec_ids, no iterative training → reproducible on any
    cluster), hard assignment of the corpus into inverted lists, query
    probing of the nprobe=4 nearest lists, exact cosine rerank of the
    probed lists only.

    Scale shape: assignment is one vectorized mapInPandas scan (numpy
    matmul per Arrow batch); candidates come from an equi-join on the
    list id — the scan fraction is nprobe/nlists (25% here) instead of
    100%, and no O(|Q|x|C|) pairing exists anywhere. Recall vs the
    exact top-k is measured in tests/test_llm.py."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    cent = e.orderBy("vec_id").limit(_IVF_LISTS).collect()
    C = np.array([r.embedding for r in cent], dtype=np.float64)
    C /= np.linalg.norm(C, axis=1, keepdims=True)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            cid = np.argmax(Vn @ C.T, axis=1).astype("int32")
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cid": cid, "embedding": pdf["embedding"]}
            )

    assigned = e.select("vec_id", "embedding").mapInPandas(
        assign, "vec_id long, cid int, embedding array<float>"
    )

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            top = np.argsort(-(Vn @ C.T), axis=1)[:, :nprobe].astype("int32")
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                    "cid": top.ravel(),
                    "qv": pdf["embedding"].repeat(nprobe),
                }
            )

    q = (
        e.where(F.col("vec_id") % _QUERY_MOD == 0)
        .select("vec_id", "embedding")
        .mapInPandas(probe, "query_id long, cid int, qv array<float>")
    )
    cand = (
        F.broadcast(q)
        .join(assigned, "cid")
        .where(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "qv", F.col("embedding").alias("cv"))
    )
    scored = cand.select(
        "query_id", "neighbor_id", V.cosine(F.col("qv"), F.col("cv")).alias("cos_sim")
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= _TOPK)


@register(
    "q_llm_ann_ivf",
    oracle=_ANN_CONTRACT_ORACLE.format(cos=V.oracle_cosine("q.embedding", "c.embedding")),
    tags=("llm", "vector"),
)
def q_llm_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified contract over :func:`_ann_ivf_topk` (see there for
    the operator design): per-query exact-top-1 anchors + returned
    count + recall>=0.4 pinned TRUE (measured 0.48 at sf0.01 / 0.55 at
    sf0.1 on the near-uniform fixture — the worst case for
    partition-based indexes; floor pinned near the operating point, r6
    recall-vs-nprobe curve in SCALE.md; also asserted in
    tests/test_llm.py::test_ann_ivf_recall)."""
    return _ann_contract(spark, sf_dir, _ann_ivf_topk(spark, sf_dir), 0.4)


def _ivf_index_core(
    spark: SparkSession,
    e: DataFrame,
    assign,
    n_lists: int,
    src_path: str,
    name: str,
    params: str = "",
) -> str:
    """Build (once per source+code generation) a cid-PARTITIONED
    parquet IVF index, store directory ``name``, and return it — the
    offline index-build discipline, on disk in the shape a probe can
    PRUNE: one directory per inverted list, so a reader filtering
    ``WHERE cid IN (probed)`` lists only nprobe-ish directories. The
    derived-fixture store keys it by ``src_path`` and the assignment
    code's source, so regenerating the source or editing the build
    rebuilds it. ``e`` must carry (vec_id, embedding)."""
    from cheetah_spark.derived import derived_dir

    def build(out: str) -> None:
        (
            e.select("vec_id", "embedding")
            .mapInPandas(assign, "vec_id long, cid int, embedding array<float>")
            .write.mode("overwrite")
            .partitionBy("cid")
            .parquet(out)
        )

    return derived_dir(
        name, [src_path], build, f"lists:{n_lists};{params}", helpers=(assign,)
    )


def _ivf_index_dir(
    spark: SparkSession, sf_dir: str, e: DataFrame, assign, n_lists: int = _IVF_LISTS
) -> str:
    """The registered-contract cache location of :func:`_ivf_index_core`
    for the ``sf_dir`` embeddings fixture."""
    from cheetah_spark.catalog import table_path
    from cheetah_spark.streaming import _tag

    suffix = "" if n_lists == _IVF_LISTS else f"_{n_lists}"
    return _ivf_index_core(
        spark,
        e,
        assign,
        n_lists,
        table_path(sf_dir, "embeddings"),
        f"{_tag(sf_dir)}/ivf_index_cid{suffix}",
    )


def ivf_assign_fn(C):
    """The inverted-list assignment pass over (vec_id, embedding)
    batches — nearest centroid by cosine (rows are L2-normalized so
    argmax dot == argmax cosine). ONE definition for the contract
    stream, the scale experiment, and the declarative ``ann_enrich``
    transform; its source is part of every index's staleness digest."""
    import numpy as np

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V_ = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Vn = V_ / np.linalg.norm(V_, axis=1, keepdims=True)
            cid = np.argmax(Vn @ C.T, axis=1).astype("int32")
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(), "cid": cid, "embedding": pdf["embedding"]}
            )

    return assign


def ivf_probe_expand(C, nprobe: int, queries: DataFrame) -> DataFrame:
    """Probe expansion: each (vec_id, embedding) query row → its nprobe
    nearest inverted-list ids by cosine against the driver-resident
    centroid panel (vectorized mapInPandas; rows of C are normalized so
    argsort of the dot product is the cosine order). Returns
    (query_id, cid, qv) — the ONE expansion both the eager pruned probe
    (:func:`ivf_probe_topk`) and the lazy stream-static ``ann_enrich``
    join consume."""
    import numpy as np

    def probe(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V_ = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Vn = V_ / np.linalg.norm(V_, axis=1, keepdims=True)
            top = np.argsort(-(Vn @ C.T), axis=1)[:, :nprobe].astype("int32")
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                    "cid": top.ravel(),
                    "qv": pdf["embedding"].repeat(nprobe),
                }
            )

    return queries.select("vec_id", "embedding").mapInPandas(
        probe, "query_id long, cid int, qv array<float>"
    )


def ivf_probe_topk(
    spark: SparkSession,
    index_dir: str,
    C,
    queries: DataFrame,
    k: int,
    nprobe: int,
    exclude_self: bool = True,
    broadcast_queries: bool = True,
) -> DataFrame:
    """Answer a bounded (vec_id, embedding) query frame against a
    cid-partitioned IVF index: probe-expand each query to its nprobe
    nearest lists (vectorized mapInPandas against the driver-resident
    centroid panel), collect the DISTINCT probed cids (bounded by
    |queries| x nprobe), read the index ``WHERE cid IN probed`` — a
    PARTITION filter, so only the probed list directories are listed —
    broadcast the expanded queries onto the pruned scan via the cid
    equi-join, exact-cosine rerank, per-query (cos DESC, id ASC)
    window top-k. Returns (query_id, neighbor_id, cos_sim). Shared by
    the s_llm_ann_ivf contract stream and the declarative
    ``ann_enrich`` transform."""
    from pyspark.sql.window import Window

    q = ivf_probe_expand(C, nprobe, queries)
    # bounded by |queries| x nprobe (driver-held like any centroid
    # panel); the isin filter below is a PARTITION filter on the
    # cid-partitioned index — per-read index bytes ~ probed/nlists
    cids = sorted(r.cid for r in q.select("cid").distinct().collect())
    if not cids:
        return q.select(
            F.col("query_id"),
            F.col("query_id").alias("neighbor_id"),
            F.lit(0.0).alias("cos_sim"),
        ).limit(0)
    dim = int(C.shape[1])
    # norms are per-VECTOR functions: compute each side's ||x||² once
    # before the join instead of twice per candidate pair (the cosine
    # then costs ONE unrolled dot per pair, not three — same floats,
    # the lsh/similarity_topk nsq discipline; also one third the
    # generated-code size, which is what the first trigger/invocation
    # pays Janino for)
    q = q.withColumn("nsq_q", V.l2_norm_sq("qv", dim))
    idx = (
        spark.read.parquet(index_dir)
        .where(F.col("cid").isin(cids))
        .withColumn("nsq_c", V.l2_norm_sq("embedding", dim))
    )
    # broadcast is right for a bounded query panel (the contract shape);
    # a corpus-sized query side (ann_enrich over a whole table) must
    # shuffle-join instead — pass broadcast_queries=False
    cand = (F.broadcast(q) if broadcast_queries else q).join(idx, "cid")
    if exclude_self:
        cand = cand.where(F.col("query_id") != F.col("vec_id"))
    cand = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            V.dot("qv", "embedding", dim)
            / (F.sqrt(F.col("nsq_q")) * F.sqrt(F.col("nsq_c")))
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos_sim")
    )


@register(
    "s_llm_ann_ivf",
    oracle=_ANN_CONTRACT_ORACLE.format(cos=V.oracle_cosine("q.embedding", "c.embedding")),
    tags=("llm", "vector", "streaming"),
)
def s_llm_ann_ivf(
    spark: SparkSession, sf_dir: str, nlists: int | None = None
) -> DataFrame:
    """At-INGEST IVF ANN lookup — the streaming execution of
    :func:`q_llm_ann_ivf` against the SAME batch oracle: embeddings
    ARRIVE as a replay stream, the arriving query vectors (the
    vec_id % 100 panel convention, _QUERY_MOD) probe a STATIC
    pre-assigned IVF index, and each query is answered exactly within
    its arrival trigger — the production lookup-at-the-door shape
    (match a new crawl slice against the reference corpus as it lands,
    instead of re-scanning the lake later).

    Shape: the inverted-list assignment of the corpus is computed ONCE
    before the stream starts (one vectorized mapInPandas pass, written
    as a cid-PARTITIONED parquet index — the offline index-build
    discipline; r13 replaces the r12 persisted-DataFrame index, which
    scanned the WHOLE index per trigger and could never fit executor
    memory at 100 TB); each micro-batch then runs INSIDE foreachBatch
    as a batch frame (the run_stream_batch_partials pattern):
    probe-expand its queries (nprobe list ids per query), collect the
    trigger's distinct probed cids (bounded by |queries| x nprobe —
    driver-held like any centroid panel), read the index WHERE cid IN
    probed — partition pruning skips every unprobed list directory, so
    each trigger touches at most (distinct probed cids)/nlists of the
    index bytes — broadcast the queries against the pruned scan via
    the cid equi-join, exact-cosine rerank, and a per-query window
    top-k. All legal on the batch frame, and correct under ANY
    admission slicing because a query's answer depends only on the
    static index, never on other arrivals (the isin filter is a
    superset of each query's own nprobe lists, and the equi-join keeps
    exactly those). ZERO streaming state; the spool is k rows per
    arrived query. The drained spool is bit-identical to the batch
    operator's top-k, so the contract rows hash-match q_llm_ann_ivf's
    oracle verbatim."""
    import numpy as np

    from pyspark.sql.window import Window

    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import (
        embeddings_raw_stream_dir,
        run_stream_batch_partials,
    )

    e = load_table(spark, sf_dir, "embeddings")
    # nlists: the contract pins _IVF_LISTS (= the oracle's constants);
    # the override is the PRODUCTION sizing knob (nlists ~ sqrt(n) is
    # standard IVF practice) used by the scale probe to measure the
    # pruning axis — per-trigger index fraction = probed/nlists
    n_lists = int(nlists) if nlists else _IVF_LISTS
    cent = e.orderBy("vec_id").limit(n_lists).collect()
    C = np.array([r.embedding for r in cent], dtype=np.float64)
    C /= np.linalg.norm(C, axis=1, keepdims=True)

    index_dir = _ivf_index_dir(spark, sf_dir, e, ivf_assign_fn(C), n_lists)

    def answer_batch(batch: DataFrame) -> DataFrame:
        return ivf_probe_topk(
            spark,
            index_dir,
            C,
            batch.where(F.col("vec_id") % _QUERY_MOD == 0),
            _TOPK,
            _IVF_NPROBE,
        )

    src_dir = embeddings_raw_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    spooled = run_stream_batch_partials(stream, answer_batch)
    return _ann_contract(spark, sf_dir, spooled, 0.4)


def _ann_ivfpq_topk(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int | None = None,
    pq_m: int | None = None,
    pq_k: int | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """IVF-PQ: the production composition of the two index halves —
    IVF coarse lists bound WHICH rows each query scores
    (nprobe/nlists of the corpus), PQ residual codes bound what each
    scored row COSTS (8 bytes instead of 64 floats). This is the
    billion-scale ANN shape (Jégou et al. 2011; IVFADC): at 100 TB
    neither half suffices alone — full-scan ADC still touches every
    code (q_llm_ann_pq), and IVF over raw vectors still moves 64-dim
    arrays through the probe join (q_llm_ann_ivf).

    Deterministic-by-construction (the module stance): coarse
    centroids = the `_IVF_LISTS` lowest vec_ids (normalized); residual
    codebooks TRAINED by fixed-iteration Lloyd's on the next
    `_PQ_SAMPLE` vectors' residuals (:func:`_pq_train_books` — the
    FAISS train-on-a-sample flow, bounded driver state, bit-stable
    across runs and cluster sizes).

    Plan: ONE mapInPandas encode pass (assign list + PQ-encode the
    residual), a repartition on list id (co-locates each inverted
    list), then a scoring pass where each batch computes ADC lookups
    ONLY for the queries probing the lists present in that batch —
    per-partition work is |Q|·nprobe/nlists·|batch| table lookups on
    8-byte codes. Partial top-pools (k rows per query per partition)
    are the only shuffle; the bounded pool joins raw vectors once for
    the exact rerank."""
    import numpy as np

    from pyspark.sql.window import Window

    pq_m = _IVFPQ_M if pq_m is None else pq_m
    pq_k = _IVFPQ_K if pq_k is None else pq_k
    rerank = _IVFPQ_RERANK if rerank is None else rerank
    e = load_table(spark, sf_dir, "embeddings")
    seeds = e.orderBy("vec_id").limit(_IVF_LISTS + _PQ_SAMPLE).collect()
    C = np.array([r.embedding for r in seeds[:_IVF_LISTS]], dtype=np.float64)
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    # residual codebooks trained on a bounded sample (offset past the
    # centroid seeds, whose own residuals are zero and would
    # degenerate the init)
    S = np.array([r.embedding for r in seeds[_IVF_LISTS:]], dtype=np.float64)
    S /= np.linalg.norm(S, axis=1, keepdims=True)
    S = S - C[np.argmax(S @ C.T, axis=1)]  # training sample as residuals
    d_sub = S.shape[1] // pq_m
    books = _pq_train_books(S, pq_m, pq_k)
    # wider probe + rerank pool than the single-technique variants:
    # quantization error compounds with list pruning, and both knobs
    # buy recall at bounded cost (nprobe scales the scan fraction to
    # 6/16, the pool only the size of the exact-rerank join)
    if nprobe is None:
        nprobe = _IVF_NPROBE + 2

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            cid = np.argmax(Vn @ C.T, axis=1)
            R = Vn - C[cid]
            codes = np.empty((len(V), pq_m), dtype="int32")
            for m in range(pq_m):
                sub = R[:, m * d_sub : (m + 1) * d_sub]
                d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": cid.astype("int32"),
                    "code": list(codes),
                }
            )

    coded = (
        e.select("vec_id", "embedding")
        .mapInPandas(encode, "vec_id long, cid int, code array<int>")
        .repartition("cid")
    )

    # bounded query-side state on the driver (|Q| rows — the PQ/kmeans
    # pattern): normalized query vectors, their probed lists, and the
    # per-(query, list) coarse term qn·C[l] of the ADC score
    qrows = e.where(F.col("vec_id") % _QUERY_MOD == 0).select("vec_id", "embedding").collect()
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    qids = np.array([r.vec_id for r in qrows])
    coarse = Q @ C.T  # |Q| × nlists
    probed = np.argsort(-coarse, axis=1)[:, :nprobe]  # |Q| × nprobe
    tables = np.stack(
        [Q[:, m * d_sub : (m + 1) * d_sub] @ books[m].T for m in range(pq_m)], axis=1
    )  # |Q| × M × K
    # queries probing each list: list id -> array of query indices
    probes_by_list = {
        l: np.where((probed == l).any(axis=1))[0] for l in range(_IVF_LISTS)
    }
    pool = 2 * rerank * _TOPK

    def adc_score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out = []
            for l, grp in pdf.groupby("cid"):
                qi = probes_by_list.get(int(l))
                if qi is None or len(qi) == 0:
                    continue
                Cm = np.array(grp["code"].tolist(), dtype="int64")  # n × M
                ids = grp["vec_id"].to_numpy()
                # ADC: coarse term + residual table lookups, only for
                # the queries that probe THIS list
                approx = coarse[qi, l][:, None] + np.stack(
                    [tables[qi, m, :][:, Cm[:, m]] for m in range(pq_m)]
                ).sum(axis=0)  # |qi| × n
                k = min(pool, approx.shape[1])
                # lexsort, not argpartition: ADC ties are STRUCTURAL in
                # PQ (two vectors sharing all M codes score identically),
                # so the local pool cut must follow the global window's
                # total order (adc DESC, neighbor_id ASC) or pool
                # membership becomes partition-layout-dependent
                top = np.lexsort(
                    (np.broadcast_to(ids, approx.shape), -approx), axis=1
                )[:, :k]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(qids[qi], k),
                            "neighbor_id": ids[top].ravel(),
                            "adc": np.take_along_axis(approx, top, axis=1).ravel(),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    partials = coded.mapInPandas(adc_score, "query_id long, neighbor_id long, adc double")
    w_pool = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    cand = (
        partials.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("prk", F.row_number().over(w_pool))
        .where(F.col("prk") <= pool)
        .drop("prk", "adc")
    )
    qdf = F.broadcast(
        e.where(F.col("vec_id") % _QUERY_MOD == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    scored = (
        cand.join(
            e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")),
            "neighbor_id",
        )
        .join(qdf, "query_id")
        .select("query_id", "neighbor_id", V.cosine(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= _TOPK)


@register(
    "q_llm_ann_ivfpq",
    oracle=_ANN_CONTRACT_ORACLE.format(cos=V.oracle_cosine("q.embedding", "c.embedding")),
    tags=("llm", "vector"),
)
def q_llm_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified contract over :func:`_ann_ivfpq_topk` (see there
    for the operator design): per-query exact-top-1 anchors + returned
    count + recall>=0.55 pinned TRUE. Floor pinned just below the
    measured operating point of the 16-byte code + 80-candidate rerank
    pool (r7 capacity sweep: 0.64 sf0.001 / 0.76 sf0.01 / 0.69 sf0.1 /
    0.69 at 10× in the r7 recall probe), so a regression back toward the
    old 32-bit-code quality (0.27/0.12) is hash-visible (r6 verdict
    item #3; also asserted in tests/test_llm.py::test_ann_ivfpq_recall)."""
    return _ann_contract(spark, sf_dir, _ann_ivfpq_topk(spark, sf_dir), 0.55)


# ---------------------------------------------------------------------------
# Python UDTF surface (table functions)
# ---------------------------------------------------------------------------


@register(
    "q_udtf_surface",
    oracle="""
        WITH parts AS (
            SELECT doc_id, lang,
                   unnest(string_split(text, '.')) AS raw,
                   generate_subscripts(string_split(text, '.'), 1) - 1 AS pos
            FROM documents
        ),
        sentences AS (
            SELECT doc_id, lang, pos, trim(raw) AS sentence
            FROM parts WHERE trim(raw) <> ''
        )
        SELECT lang,
               COUNT(*) AS n_sentences,
               COUNT(DISTINCT doc_id) AS n_docs,
               CAST(SUM(strlen(sentence)) AS BIGINT) AS total_chars,
               CAST(MAX(pos) AS BIGINT) AS max_pos
        FROM sentences
        GROUP BY lang
    """,
    tags=("llm", "udtf", "udf-surface"),
)
def q_udtf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface — the fourth quadrant of
    the UDF API next to q_udf_surface's scalar/pandas/grouped-map
    trio: a user class whose ``eval`` yields 0..N ROWS per input row,
    applied per-document via LATERAL join (the declarative form of the
    reference's 1→N Handler contract, types.go:122-135).

    The UDTF splits text into trimmed sentences with their raw split
    positions; the DuckDB oracle mirrors the exact same logic with
    unnest + generate_subscripts, so counts/char-sums hash-match.

    Scale: UDTFs execute per-partition in the Python worker pool
    (Arrow-batched rows in, rows out) — same distribution contract as
    mapInPandas; the lateral join never shuffles the input (it is a
    generator projection), and the rollup shuffles only (lang) keys."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id bigint, lang string, pos int, sentence string")
    class SplitSentences:
        def eval(self, doc_id, lang, text):
            for i, part in enumerate((text or "").split(".")):
                # strip spaces ONLY: the DuckDB oracle uses trim(raw)
                # which strips spaces, not all whitespace — both engines
                # must agree on which parts are empty and on strlen
                s = part.strip(" ")
                if s:
                    yield doc_id, lang, i, s

    d = load_table(spark, sf_dir, "documents")
    spark.udtf.register("cheetah_split_sentences", SplitSentences)
    d.createOrReplaceTempView("docs_for_udtf")
    out = spark.sql(
        """
        SELECT s.lang,
               COUNT(*) AS n_sentences,
               COUNT(DISTINCT s.doc_id) AS n_docs,
               CAST(SUM(length(s.sentence)) AS BIGINT) AS total_chars,
               CAST(MAX(s.pos) AS BIGINT) AS max_pos
        FROM docs_for_udtf d,
             LATERAL cheetah_split_sentences(d.doc_id, d.lang, d.text) s
        GROUP BY s.lang
        """
    )
    return out


# ---------------------------------------------------------------------------
# Product-quantization ANN (ADC scoring + exact rerank)
# ---------------------------------------------------------------------------

_PQ_M = 8  # subspaces (64-dim fixture → 8 dims each)
_PQ_K = 16  # centroids per subspace codebook
_PQ_RERANK = 4  # rerank pool = _PQ_RERANK * _TOPK ADC candidates
_PQ_SAMPLE = 1024  # training-sample rows (bounded driver state)
_PQ_TRAIN_ITERS = 10
# IVF-PQ code capacity — dialed separately from the full-scan PQ
# variant: residual quantization error COMPOUNDS with list pruning, so
# the composed index needs finer codebooks. Operating point from the
# round-7 capacity sweep (10x recall 0.17 at M8xK16, 0.43 at M16xK16,
# 0.69 at M16xK256; rerank pool 20/80/160 → 0.57/0.69/0.72): 16
# sub-codes × 8 bits = 16 B/vector (the standard FAISS IVFADC
# production size) with an 80-candidate rerank pool — recall
# 0.69/0.69 at 1×/10× where the old 32-bit code plateaued at
# 0.27/0.12. The 10× plateau the r6 verdict called data-bound was
# CODE-CAPACITY-bound: doubling sub-codes and widening K recovers it.
_IVFPQ_M = 16
_IVFPQ_K = 256
_IVFPQ_RERANK = 8


def _pq_train_books(X, m: int, k: int, iters: int = _PQ_TRAIN_ITERS):
    """Per-subspace codebooks via driver-side Lloyd's on a bounded
    sample — the standard PQ training flow (FAISS trains on a sample
    too). Fully deterministic: fixed sample, init = the sample's first
    k rows per subspace, fixed iteration count, single-threaded numpy
    arithmetic — reproducible on any cluster, preserving the module's
    no-hidden-randomness stance while fixing the measured recall
    plateau of raw seed-slice codebooks (r7 recall probe: IVF-PQ was
    quantization-bound at 0.12 recall at 10× — the codebook, not the
    probe width, was the binding constraint).

    X: n × d sample (already normalized / residualized by the caller).
    Returns [m] arrays of k × (d//m). Empty clusters keep their
    previous centroid (deterministic, no re-seeding)."""
    import numpy as np

    d_sub = X.shape[1] // m
    books = []
    for j in range(m):
        sub = X[:, j * d_sub : (j + 1) * d_sub]
        cb = sub[:k].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k):
                pts = sub[assign == c]
                if len(pts):
                    cb[c] = pts.mean(axis=0)
        books.append(cb)
    return books


def _ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al., PAMI 2011 — public
    method): each normalized vector is cut into M=8 subvectors, each
    encoded as its nearest of K=16 per-subspace codebook centroids,
    TRAINED on a deterministic bounded sample by fixed-iteration
    Lloyd's (:func:`_pq_train_books` — reproducible on any cluster,
    same stance as q_llm_ann_ivf). A query scores the whole
    corpus by ADC: one M×K table of subspace dot products per query,
    approx cosine = sum of M table lookups per code — then the top
    ADC pool is reranked with exact cosine.

    Scale shape: codes compress the corpus 16× (8 bytes vs 64 floats
    here; 32× at production 128-dim/float32), so the scan that scores
    100 TB of raw vectors touches ~6 TB of codes. Scoring is one
    vectorized mapInPandas pass emitting a bounded per-partition
    partial top-k per query (the q_llm_ann_bruteforce shuffle shape —
    k rows per partition per query, never the corpus); only the
    |Q|-bounded rerank pool touches raw vectors again via an equi-join
    on neighbor_id. Recall vs the exact top-k is measured in
    tests/test_llm.py."""
    import numpy as np

    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "embeddings")
    sample_rows = e.orderBy("vec_id").limit(_PQ_SAMPLE).collect()
    S = np.array([r.embedding for r in sample_rows], dtype=np.float64)
    S /= np.linalg.norm(S, axis=1, keepdims=True)
    d_sub = S.shape[1] // _PQ_M
    # codebooks[m]: K × d_sub — Lloyd-trained on the bounded sample
    books = _pq_train_books(S, _PQ_M, _PQ_K)

    def encode(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            codes = np.empty((len(V), _PQ_M), dtype="int32")
            for m in range(_PQ_M):
                sub = V[:, m * d_sub : (m + 1) * d_sub]
                # nearest codeword by L2 within the subspace
                d2 = ((sub[:, None, :] - books[m][None, :, :]) ** 2).sum(axis=2)
                codes[:, m] = np.argmin(d2, axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(), "code": list(codes)})

    encoded = e.select("vec_id", "embedding").mapInPandas(
        encode, "vec_id long, code array<int>"
    )

    qrows = e.where(F.col("vec_id") % _QUERY_MOD == 0).select("vec_id", "embedding").collect()
    Q = np.array([r.embedding for r in qrows], dtype=np.float64)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    qids = np.array([r.vec_id for r in qrows])
    # ADC tables: per query, M × K subspace dot products
    tables = np.stack(
        [Q[:, m * d_sub : (m + 1) * d_sub] @ books[m].T for m in range(_PQ_M)], axis=1
    )  # |Q| × M × K
    pool = _PQ_RERANK * _TOPK

    def adc_score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array(pdf["code"].tolist(), dtype="int64")  # n × M
            ids = pdf["vec_id"].to_numpy()
            # approx cos for all queries × batch rows: sum of table lookups
            approx = np.stack(
                [tables[:, m, C[:, m]] for m in range(_PQ_M)]
            ).sum(axis=0)  # |Q| × n
            k = min(pool, approx.shape[1])
            # lexsort, not argpartition: same structural-ADC-tie reason
            # as the IVFPQ pool cut above
            top = np.lexsort(
                (np.broadcast_to(ids, approx.shape), -approx), axis=1
            )[:, :k]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, k),
                    "neighbor_id": ids[top].ravel(),
                    "adc": np.take_along_axis(approx, top, axis=1).ravel(),
                }
            )

    partials = encoded.mapInPandas(adc_score, "query_id long, neighbor_id long, adc double")
    w_pool = Window.partitionBy("query_id").orderBy(F.col("adc").desc(), F.col("neighbor_id"))
    cand = (
        partials.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("prk", F.row_number().over(w_pool))
        .where(F.col("prk") <= pool)
        .drop("prk", "adc")
    )
    # exact rerank of the bounded pool: join back the raw vectors
    qdf = F.broadcast(
        e.where(F.col("vec_id") % _QUERY_MOD == 0).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
    )
    scored = (
        cand.join(e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")), "neighbor_id")
        .join(qdf, "query_id")
        .select("query_id", "neighbor_id", V.cosine(F.col("qv"), F.col("cv")).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= _TOPK)


@register(
    "q_llm_ann_pq",
    oracle=_ANN_CONTRACT_ORACLE.format(cos=V.oracle_cosine("q.embedding", "c.embedding")),
    tags=("llm", "vector"),
)
def q_llm_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified contract over :func:`_ann_pq_topk` (see there for
    the operator design): per-query exact-top-1 anchors + returned
    count + recall>=0.3 pinned TRUE (measured 0.52 at sf0.01 / 0.39 at
    sf0.1 with the r6 Lloyd-trained codebooks, up from 0.44/0.34
    seed-sliced — the floor sits near the sf0.1 operating point; also
    asserted in tests/test_llm.py::test_ann_pq_recall)."""
    return _ann_contract(spark, sf_dir, _ann_pq_topk(spark, sf_dir), 0.3)


# ---------------------------------------------------------------------------
# K-means corpus clustering (semantic grouping / SemDeDup-style)
# ---------------------------------------------------------------------------

_KM_K = 16
_KM_ITERS = 5


def _kmeans_centroids(spark: SparkSession, sf_dir: str, iters: int, k: int = _KM_K):
    """Lloyd's iterations with bounded driver state: centroids live on
    the driver as a K×d array (broadcast into each assignment pass);
    the per-iteration update is a DISTRIBUTED per-(cluster, dim)
    exact-decimal sum — the driver only ever collects K×d partial rows
    (1024 here), never vectors. Deterministic: seeded with the K lowest
    vec_ids, ties broken by lowest cluster id, decimal sums are
    partitioning-independent.

    The fitted (C, wcss) pair is memoized per (sf_dir, iters): the
    result is deterministic and K×d floats small, and both
    q_llm_kmeans and q_llm_semdedup consume the same model — a
    production pipeline trains centroids once and reuses them across
    downstream stages, it does not re-run Lloyd's per query."""
    import numpy as np

    key = (sf_dir, iters, k)
    e = load_table(spark, sf_dir, "embeddings")
    if key in _kmeans_memo:
        C, wcss_per_iter = _kmeans_memo[key]
        return e, C.copy(), list(wcss_per_iter)
    seed = e.orderBy("vec_id").limit(k).collect()
    C = np.array([r.embedding for r in seed], dtype=np.float64)

    def make_assign(Cb):
        def assign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
                d2 = ((V[:, None, :] - Cb[None, :, :]) ** 2).sum(axis=2)
                yield pd.DataFrame(
                    {
                        "vec_id": pdf["vec_id"].to_numpy(),
                        "cid": np.argmin(d2, axis=1).astype("int32"),
                        "embedding": pdf["embedding"],
                    }
                )

        return assign

    wcss_per_iter: list[float] = []
    for _ in range(iters):
        assigned = e.select("vec_id", "embedding").mapInPandas(
            make_assign(C.copy()), "vec_id long, cid int, embedding array<float>"
        )
        # distributed mean: exact decimal per-(cid, dim) sums, K*d rows
        # (sum of squares rides along so the WCSS w.r.t. the ASSIGNING
        # centroids — Σ(x−c)² = Σx² − 2cΣx + nc² — costs no extra pass)
        sums = (
            assigned.select("cid", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(
                F.sum(F.col("x").cast(_util_DEC)).alias("s"),
                F.sum((F.col("x") * F.col("x")).cast(_util_DEC)).alias("s2"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        wcss_per_iter.append(
            sum(
                float(r.s2) - 2.0 * C[r.cid, r.dim] * float(r.s) + r.n * C[r.cid, r.dim] ** 2
                for r in sums
            )
        )
        newC = C.copy()
        counts = {}
        for r in sums:
            counts[r.cid] = r.n
            newC[r.cid, r.dim] = float(r.s) / r.n
        C = newC  # empty clusters keep their previous centroid
    _kmeans_memo[key] = (C.copy(), list(wcss_per_iter))
    return e, C, wcss_per_iter


_kmeans_memo: dict = {}  # (sf_dir, iters) -> (C, wcss_per_iter); see _kmeans_centroids


def _kmeans_result(spark: SparkSession, sf_dir: str, iters: int) -> DataFrame:
    e, C, _ = _kmeans_centroids(spark, sf_dir, iters)
    return _kmeans_per_cluster(e, C)


def _kmeans_per_cluster(e: DataFrame, C) -> DataFrame:
    import numpy as np

    def final_assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            cid = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "cid": cid.astype("int32"),
                    "sq_dist": d2[np.arange(len(V)), cid],
                }
            )

    out = e.select("vec_id", "embedding").mapInPandas(final_assign, "cid int, sq_dist double")
    return (
        out.groupBy("cid")
        .agg(
            F.count("*").alias("n_vectors"),
            F.round(F.sum(F.col("sq_dist").cast(_util_DEC)), 3).cast("double").alias("wcss"),
        )
        .orderBy("cid")
    )


@register(
    "q_llm_kmeans",
    oracle=f"""
        SELECT {_KM_K} AS k,
               COUNT(*)::BIGINT AS n_vectors,
               TRUE AS all_assigned,
               TRUE AS n_clusters_le_k,
               TRUE AS wcss_monotone,
               TRUE AS wcss_improved
        FROM embeddings
    """,
    tags=("llm", "vector", "clustering"),
)
def q_llm_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means over the embedding corpus (Lloyd's, K=16,
    5 iterations) — the clustering primitive behind semantic dedup
    (SemDeDup, Abbas et al. 2023: near-dups are removed WITHIN
    clusters), domain discovery, and diversity-balanced sampling.

    The iterative result can't be re-derived in one SQL statement, so —
    the q_approx_distinct_hll pattern — the contract row pins the
    algorithm's GUARANTEES as hash-checked values: full corpus coverage
    (every vector assigned exactly once; the count is the oracle's
    exact COUNT(*)), at most K clusters, and Lloyd's monotone
    non-increasing WCSS across all 5 iterations (both steps of Lloyd's
    are non-increasing — a FALSE here means the implementation broke,
    not the data). Per-cluster sizes/WCSS stay asserted in
    tests/test_llm.py via :func:`_kmeans_result`.

    Scale shape: each iteration is one vectorized assignment scan
    (numpy matmul per Arrow batch, centroids broadcast by closure) plus
    one (K×d)-bounded aggregate — driver state is K×d floats, never
    corpus rows; at 100 TB this is the canonical mini-batch-free
    distributed k-means with shuffle volume K×d×partitions, not
    corpus-sized."""
    e, C, wcss = _kmeans_centroids(spark, sf_dir, _KM_ITERS)
    per_cluster = _kmeans_per_cluster(e, C)
    n_corpus = e.count()
    monotone = all(b <= a * (1 + 1e-12) + 1e-9 for a, b in zip(wcss, wcss[1:]))
    improved = wcss[-1] <= wcss[0] * (1 + 1e-12) + 1e-9
    return per_cluster.agg(
        F.lit(_KM_K).alias("k"),
        F.sum("n_vectors").cast("bigint").alias("n_vectors"),
        (F.sum("n_vectors") == F.lit(n_corpus)).alias("all_assigned"),
        (F.countDistinct("cid") <= _KM_K).alias("n_clusters_le_k"),
        F.lit(bool(monotone)).alias("wcss_monotone"),
        F.lit(bool(improved)).alias("wcss_improved"),
    )


_SEM_TARGET = 125  # target expected cluster size for SemDeDup


def _semdedup_k(spark: SparkSession, sf_dir: str) -> int:
    """SemDeDup cluster count, scaled with the corpus so expected
    cluster size (and with it the per-cluster pairwise work) stays
    bounded: K = max(_KM_K, ceil(n/_SEM_TARGET)). At the driver
    fixtures (≤2000 vectors) this is exactly _KM_K, so contracts are
    unchanged there; the growth matters at scale (see SCALE.md).
    The row count comes from the memoized catalog probe — this is
    called from several places per query and must not launch an eager
    count job each time."""
    from cheetah_spark.catalog import _table_rows

    n = _table_rows(spark, sf_dir, "embeddings")
    return max(_KM_K, -(-n // _SEM_TARGET))


def _semdedup_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public method): semantic
    deduplication = cluster the corpus, then find near-duplicate pairs
    ONLY within each cluster — the composition of q_llm_kmeans and the
    exact-cosine rerank that makes embedding dedup tractable when no
    LSH structure fits (pairwise work is bounded by max cluster size,
    never corpus²; production caps cluster size by splitting).

    Keeps the lowest vec_id of each near-dup pair (cosine >= 0.9, the
    q_llm_embed_dedup threshold); output is per-cluster dedup
    accounting. Recall vs the unclustered banded path is asserted in
    tests/test_llm.py — planted near-identical vectors land in the
    same cluster by construction of nearest-centroid assignment.

    Scale shape: clustering as in q_llm_kmeans (bounded driver state);
    the pair stage shuffles once on cid, and each cluster's pairs are
    generated locally by a cid-equi self-join — the join key bounds
    the blow-up to sum(|cluster|²), the quantity SemDeDup exists to
    control. For that bound to hold, K must GROW with the corpus:
    with fixed K, cluster sizes grow ∝n and within-cluster pairs ∝n²
    — measured α=1.77 at 10× the fixture (SCALE.md) before this was
    made adaptive. K = max(16, ⌈n/125⌉) caps expected cluster size at
    ~125 vectors, making sum(|cluster|²) ≈ 125·n — linear — while the
    driver's centroid state stays a K×d array (n/125 × 64 doubles =
    0.004% of corpus size, bounded at any scale)."""
    import numpy as np

    e, C, _wcss = _kmeans_centroids(
        spark, sf_dir, _KM_ITERS, k=_semdedup_k(spark, sf_dir)
    )

    # same planted near-duplicates as q_llm_embed_dedup (perturbed
    # re-encodes of every MOD-th vector) so the two dedup strategies
    # are comparable on an identical corpus
    v = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", v.alias("v"))
    pert = e.where(F.col("vec_id") % _ED_PERT_MOD == 0).select(
        (F.col("vec_id") + _ED_PERT_OFFSET).alias("vec_id"),
        F.concat(
            F.array(F.element_at(v, 1) + F.lit(0.25)), F.slice(v, 2, _ED_DIM - 1)
        ).alias("v"),
    )
    u = base.unionByName(pert)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array(pdf["v"].tolist(), dtype=np.float64)
            d2 = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": np.argmin(d2, axis=1).astype("int32"),
                    "embedding": pdf["v"],
                }
            )

    assigned = (
        u.mapInPandas(assign, "vec_id long, cid int, embedding array<double>")
        # precompute ||x||² ONCE per vector: the pair stage then needs a
        # single zip_with/aggregate fold per pair instead of V.cosine's
        # three (dot + both norms) — measured 3.5 s → ~1.5 s on the
        # ~300k within-cluster pairs at sf0.1
        .withColumn("nsq", V.l2_norm_sq(F.col("embedding")))
        .persist()
    )
    try:
        a = assigned.select(
            "cid",
            F.col("vec_id").alias("id_a"),
            F.col("embedding").alias("va"),
            F.col("nsq").alias("nsq_a"),
        )
        b = assigned.select(
            "cid",
            F.col("vec_id").alias("id_b"),
            F.col("embedding").alias("vb"),
            F.col("nsq").alias("nsq_b"),
        )
        cos = V.dot(F.col("va"), F.col("vb")) / (
            F.sqrt(F.col("nsq_a")) * F.sqrt(F.col("nsq_b"))
        )
        pairs = (
            a.join(b, "cid")
            .where(F.col("id_a") < F.col("id_b"))
            .select("cid", "id_a", "id_b", cos.alias("cos_sim"))
            .where(F.col("cos_sim") >= _ED_THRESHOLD)
        )
        out = (
            assigned.groupBy("cid")
            .agg(F.count("*").alias("n_vectors"))
            .join(
                pairs.groupBy("cid").agg(
                    F.count("*").alias("n_dup_pairs"),
                    F.countDistinct("id_b").alias("n_removed"),
                ),
                "cid",
                "left",
            )
            .select(
                "cid",
                "n_vectors",
                F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
                F.coalesce("n_removed", F.lit(0)).alias("n_removed"),
            )
            .orderBy("cid")
        )
        out = out.localCheckpoint()  # materialize before unpersist
    finally:
        assigned.unpersist()
    return out


@register(
    "q_llm_semdedup",
    oracle=f"""
        SELECT (SELECT COUNT(*) FROM embeddings)
               + (SELECT COUNT(*) FROM embeddings WHERE vec_id % {_ED_PERT_MOD} = 0)
               AS n_vectors,
               TRUE AS n_clusters_le_k,
               TRUE AS removed_le_pairs,
               TRUE AS pairs_cover_banded
    """,
    tags=("llm", "dedup", "clustering"),
)
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified contract over :func:`_semdedup_per_cluster` (the
    operator; design documented there). The clustering is iterative
    (no single-SQL oracle), so — the q_llm_kmeans pattern — the
    contract row pins the guarantees: full coverage of corpus+planted
    duplicates (the count is the oracle's exact arithmetic), at most K
    clusters, per-cluster removal accounting consistent, and the
    within-cluster pair search recovering >=80% of the pairs the
    oracle-verified banded path (q_llm_embed_dedup) finds — computed
    in-plan, no driver-side counting. Per-cluster detail stays
    asserted in tests/test_llm.py."""
    per = _semdedup_per_cluster(spark, sf_dir)
    banded = q_llm_embed_dedup(spark, sf_dir).agg(F.count("*").alias("banded"))
    return (
        per.agg(
            F.sum("n_vectors").cast("bigint").alias("n_vectors"),
            (F.countDistinct("cid") <= _semdedup_k(spark, sf_dir)).alias("n_clusters_le_k"),
            (
                F.sum(F.when(F.col("n_removed") > F.col("n_dup_pairs"), 1).otherwise(0)) == 0
            ).alias("removed_le_pairs"),
            F.sum("n_dup_pairs").alias("_pairs"),
        )
        .crossJoin(F.broadcast(banded))
        .select(
            "n_vectors",
            "n_clusters_le_k",
            "removed_le_pairs",
            (F.col("_pairs") >= 0.8 * F.col("banded")).alias("pairs_cover_banded"),
        )
    )


@register(
    "q_arrow_surface",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(strlen(text) + CAST(doc_id % 7 AS BIGINT)) AS BIGINT) AS mix_sum,
               CAST(MAX(strlen(text)) AS BIGINT) AS max_len
        FROM documents
        GROUP BY lang
    """,
    tags=("llm", "udf-surface", "arrow"),
)
def q_arrow_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow surface — the zero-copy end of the Python UDF
    spectrum (scalar udf → pandas_udf → applyInPandas/mapInPandas →
    mapInArrow): the transform receives raw ``pyarrow.RecordBatch``es,
    computes with Arrow compute kernels (no pandas materialization),
    and yields batches back. The arithmetic (per-doc byte length plus
    a doc_id residue) is mirrored exactly in the oracle, proving the
    Arrow path is lossless.

    Scale: identical distribution contract to mapInPandas but without
    the pandas conversion tax — the right hot path for byte-heavy
    media/token work where columnar buffers should stay columnar.
    ASCII-only fixture text keeps char length == byte length across
    engines."""
    import pyarrow as pa
    import pyarrow.compute as pc

    d = load_table(spark, sf_dir, "documents")

    def arrow_mix(batches):
        for batch in batches:
            n = pc.utf8_length(batch.column("text"))
            did = pc.cast(batch.column("doc_id"), pa.int64())
            # doc_id % 7 via divide/multiply/subtract — Arrow ships no
            # modulo kernel (integer divide truncates; doc_id >= 0)
            residue = pc.subtract(did, pc.multiply(pc.divide(did, 7), 7))
            mix = pc.add(pc.cast(n, pa.int64()), residue)
            yield pa.RecordBatch.from_arrays(
                [batch.column("lang"), pc.cast(n, pa.int64()), mix],
                names=["lang", "n_chars", "mix"],
            )

    out = d.select("doc_id", "lang", "text").mapInArrow(
        arrow_mix, "lang string, n_chars bigint, mix bigint"
    )
    return out.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("mix").cast("bigint").alias("mix_sum"),
        F.max("n_chars").cast("bigint").alias("max_len"),
    )


# ---------------------------------------------------------------------------
# Incremental dedup against a persisted fingerprint index
# ---------------------------------------------------------------------------

_INCR_SPLIT = 5  # doc_id % 5 < 3 → historical (indexed); else incoming


def _fingerprint_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Materialize (once) the historical fingerprint index — the
    persisted state a production incremental pipeline anti-joins every
    new crawl batch against. Stored as parquet keyed by content_fp;
    at 100 TB this is a bucketed table on the fingerprint so the
    per-batch anti-join co-locates without reshuffling the index."""
    from cheetah_spark.catalog import table_path
    from cheetah_spark.derived import derived_dir
    from cheetah_spark.streaming import _tag

    def build(out: str) -> None:
        d = load_table(spark, sf_dir, "documents").where(
            F.col("doc_id") % _INCR_SPLIT < 3
        )
        (
            d.select(F.md5(X.norm_text(F.col("text"))).alias("content_fp"))
            .distinct()
            .write.mode("overwrite")
            .parquet(out)
        )

    return derived_dir(
        f"{_tag(sf_dir)}/fp_index",
        [table_path(sf_dir, "documents")],
        build,
        helpers=(X.norm_text,),
    )


@register(
    "q_llm_incremental_dedup",
    oracle="""
        WITH fp AS (
            SELECT doc_id, lang,
                   md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS content_fp
            FROM documents
        ),
        index_fps AS (
            SELECT DISTINCT content_fp FROM fp WHERE doc_id % 5 < 3
        ),
        incoming AS (
            SELECT * FROM fp WHERE doc_id % 5 >= 3
        ),
        novel AS (
            SELECT i.* FROM incoming i
            WHERE i.content_fp NOT IN (SELECT content_fp FROM index_fps)
        )
        SELECT i.lang,
               COUNT(*) AS n_incoming,
               COUNT(*) - (SELECT COUNT(*) FROM novel n WHERE n.lang = i.lang)
                   AS n_hit_index,
               (SELECT COUNT(DISTINCT n.content_fp) FROM novel n WHERE n.lang = i.lang)
                   AS n_new_unique
        FROM incoming i
        GROUP BY i.lang
    """,
    tags=("llm", "dedup", "incremental"),
)
def q_llm_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the shape production pipelines actually run:
    a PERSISTED fingerprint index (built once from the historical 60%
    of the corpus, materialized as parquet) filters each new batch via
    LEFT ANTI join, and only the surviving batch is deduped
    intra-batch. Per language: batch size, index hits, and net-new
    unique documents.

    Scale: the index never rebuilds — the per-batch cost is one
    anti-join on the fingerprint key (bucket the index on content_fp
    and the join co-locates; the batch side is always the small side)
    plus an intra-batch hash aggregate. This is the O(batch) update
    path that makes exact dedup sustainable at a 100 TB corpus growing
    daily, vs re-running q_llm_exact_dedup over everything."""
    idx = spark.read.parquet(_fingerprint_index_dir(spark, sf_dir))
    d = load_table(spark, sf_dir, "documents")
    # the batch proxy (doc_id, lang, fp) is referenced by both the
    # anti-join and the per-lang rollup — checkpoint so the md5+norm
    # corpus pass runs once, not per branch
    incoming = d.where(F.col("doc_id") % _INCR_SPLIT >= 3).select(
        "doc_id", "lang", F.md5(X.norm_text(F.col("text"))).alias("content_fp")
    ).localCheckpoint()
    novel = incoming.join(idx, "content_fp", "left_anti")
    batch = incoming.groupBy("lang").agg(F.count("*").alias("n_incoming"))
    new = novel.groupBy("lang").agg(
        F.count("*").alias("n_novel"),
        F.countDistinct("content_fp").alias("n_new_unique"),
    )
    return batch.join(new, "lang", "left").select(
        "lang",
        "n_incoming",
        (F.col("n_incoming") - F.coalesce(F.col("n_novel"), F.lit(0))).alias("n_hit_index"),
        F.coalesce(F.col("n_new_unique"), F.lit(0)).alias("n_new_unique"),
    )


# ---------------------------------------------------------------------------
# PCA over the embedding corpus (dimensionality reduction / whitening ahead
# of PQ or ANN indexing — the OPQ-style preprocessing step)
# ---------------------------------------------------------------------------

_PCA_D = 16  # components kept (of _ED_DIM=64)
_PCA_SNAP = 1 << 20  # q = floor(x·2^20 + 0.5): one IEEE mul+floor per element
_PCA_EVR_FLOOR = 0.25  # measured top-16/64 EVR ≈ 0.28-0.33 at sf0.001-0.1


# shared by the batch operator and s_llm_embed_pca (queries/streams.py):
# same contract, same oracle — the streaming fit must land on the same
# moments and the same invariant flags as the batch fit
_PCA_ORACLE = f"""
    WITH x AS (
        SELECT CAST(i - 1 AS INT) AS dim,
               CAST(floor(CAST(embedding AS DOUBLE[])[i] * {_PCA_SNAP} + 0.5)
                    AS BIGINT) AS q
        FROM embeddings, UNNEST(range(1, 65)) AS t(i)
    )
    SELECT dim,
           COUNT(*)::BIGINT AS n_vecs,
           SUM(q)::BIGINT AS sum_q,
           SUM(q * q)::BIGINT AS sum_q2,
           {_PCA_D} AS pca_d,
           TRUE AS orthonormal,
           TRUE AS eigs_nonincreasing,
           TRUE AS explained_ge_floor,
           TRUE AS pythagoras_ok,
           TRUE AS proj_centered,
           TRUE AS proj_var_matches
    FROM x GROUP BY dim
"""


def _pca_eigfit(G, s, n):
    """Fold raw moments (Gram G = ΣxxT, s = Σx, count n) into the fitted
    model + the four fit-invariant flags. Driver-side on a d×d matrix."""
    import numpy as np

    dim = len(s)
    mu = s / n
    cov = G / n - np.outer(mu, mu)  # population covariance
    evals, evecs = np.linalg.eigh(cov)  # ascending
    lam = evals[::-1].copy()  # descending
    d = min(_PCA_D, dim)  # degenerate corpora (dim < 16) still fit
    W = evecs[:, ::-1][:, :d].copy()

    total_var = float(np.trace(cov))
    flags = {
        "orthonormal": bool(np.abs(W.T @ W - np.eye(d)).max() < 1e-8),
        "eigs_nonincreasing": bool(np.all(np.diff(lam) <= 1e-12)),
        "explained_ge_floor": bool(
            float(lam[:d].sum()) / max(total_var, 1e-12) >= _PCA_EVR_FLOOR
        ),
        "pythagoras_ok": bool(
            abs(float(lam.sum()) - total_var) <= 1e-8 * max(1.0, total_var)
        ),
    }
    return mu, W, lam, d, flags


def _pca_apply_flags(e: DataFrame, mu, W, lam, n: int, d: int):
    """APPLY the rotation corpus-wide (map-only pass, broadcast μ/W);
    per-component decimal-exact sums (order-independent) checked
    against the eigenvalues on the driver at d scalars."""
    import numpy as np

    def project(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Vm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            P = (Vm - mu) @ W
            m = len(pdf)
            yield pd.DataFrame(
                {
                    "comp": np.tile(np.arange(d, dtype=np.int32), m),
                    "p": P.ravel(),
                }
            )

    psums = (
        e.select("embedding")
        .mapInPandas(project, "comp int, p double")
        .groupBy("comp")
        .agg(
            dsum("p").alias("sp"),
            dsum(F.col("p") * F.col("p")).alias("sp2"),
        )
        .collect()
    )
    proj_centered = True
    proj_var_matches = True
    for r in psums:
        mean_j = r.sp / n
        var_j = r.sp2 / n - mean_j * mean_j
        if abs(mean_j) > 1e-5:
            proj_centered = False
        # measured deviation ≈ 1e-6 relative (decimal-truncation of p²
        # at 6 places, n-scaled); 1e-4 rel + 1e-8 abs is ~100× headroom
        if abs(var_j - lam[r.comp]) > 1e-4 * max(lam[r.comp], 1e-9) + 1e-8:
            proj_var_matches = False
    return proj_centered, proj_var_matches


def _pca_output(moments: DataFrame, d: int, flags: dict, proj_centered: bool,
                proj_var_matches: bool) -> DataFrame:
    return moments.select(
        "dim",
        "n_vecs",
        "sum_q",
        "sum_q2",
        F.lit(d).cast("int").alias("pca_d"),
        F.lit(flags["orthonormal"]).alias("orthonormal"),
        F.lit(flags["eigs_nonincreasing"]).alias("eigs_nonincreasing"),
        F.lit(flags["explained_ge_floor"]).alias("explained_ge_floor"),
        F.lit(flags["pythagoras_ok"]).alias("pythagoras_ok"),
        F.lit(proj_centered).alias("proj_centered"),
        F.lit(proj_var_matches).alias("proj_var_matches"),
    )


@register(
    "q_llm_embed_pca",
    oracle=_PCA_ORACLE,
    tags=("llm", "vector", "iterative"),
)
def q_llm_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide PCA over the embedding table — the standard
    dimensionality-reduction / decorrelation step a training-data
    pipeline runs before product quantization or ANN indexing (the
    rotation half of OPQ; Ge et al., CVPR 2013 — public description).

    The fit is one distributed pass with BOUNDED driver state, the
    same shape every 100 TB-safe model fit in this module uses
    (kmeans, unigram): each partition emits ONE partial (count, Σx,
    Gram XᵀX) row via mapInPandas (a d×d numpy matmul per Arrow
    batch), the driver folds ≤ #partitions such rows into the d×d
    covariance — never a vector of corpus size — and `numpy.eigh` on
    the 64×64 matrix is microseconds. Applying the rotation is a
    second map-only pass (broadcast μ and V; batch matmul).

    Contract (the unigram/bpe pattern — an eigendecomposition is not
    SQL-expressible, so the oracle pins what SQL CAN compute plus
    invariants measured FOR REAL from the fitted model, one row per
    input dimension):

    - ``n_vecs``/``sum_q``/``sum_q2``: per-dimension snapped-integer
      first/second moments, hash-exact in both engines (one IEEE
      multiply + floor per element, exact BIGINT sums) — proves the
      distributed moment pass reads every value the oracle reads;
    - ``orthonormal`` (max |VᵀV − I| < 1e-8), ``eigs_nonincreasing``,
      ``pythagoras_ok`` (Σ all eigenvalues = trace(Cov) within 1e-8);
    - ``explained_ge_floor``: top-16/64 explained-variance ratio
      ≥ 0.25 (_PCA_EVR_FLOOR) — the floor sits just under the measured
      operating point so an index-quality regression flips the hash;
    - ``proj_centered`` / ``proj_var_matches``: the rotation APPLIED
      corpus-wide (second distributed pass) has per-component mean 0
      and variance equal to its eigenvalue — decimal-exact
      order-independent sums, compared on the driver at 16 scalars.
    """
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")

    # --- pass 1a: hash-exact per-dim snapped moments (the SQL mirror)
    xd = e.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"))
    q = F.floor(F.col("x") * F.lit(float(_PCA_SNAP)) + F.lit(0.5)).cast("long")
    moments = (
        xd.select(F.col("dim").cast("int").alias("dim"), q.alias("q"))
        .groupBy("dim")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum("q").cast("bigint").alias("sum_q"),
            F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sum_q2"),
        )
    )

    # --- pass 1b: covariance from one partial (n, Σx, XᵀX) row per
    # partition (driver folds ≤ #partitions rows — bounded state)
    def gram_partial(batches):
        G = None
        s = None
        n = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Vm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            if G is None:
                G = Vm.T @ Vm
                s = Vm.sum(axis=0)
            else:
                G += Vm.T @ Vm
                s += Vm.sum(axis=0)
            n += len(Vm)
        if n:
            yield pd.DataFrame({"g": [G.ravel().tolist()], "s": [s.tolist()], "n": [n]})

    parts = (
        e.select("embedding")
        .mapInPandas(gram_partial, "g array<double>, s array<double>, n long")
        .collect()
    )
    dim = len(parts[0].s)
    G = np.zeros((dim, dim))
    s = np.zeros(dim)
    n = 0
    for r in parts:
        G += np.array(r.g).reshape(dim, dim)
        s += np.array(r.s)
        n += r.n
    mu, W, lam, d, flags = _pca_eigfit(G, s, n)

    # --- pass 2: APPLY the rotation corpus-wide (see _pca_apply_flags)
    proj_centered, proj_var_matches = _pca_apply_flags(e, mu, W, lam, n, d)
    return _pca_output(moments, d, flags, proj_centered, proj_var_matches)


_KNN_HOLDOUT_MOD = 10  # vec_id % 10 == 0 → held-out query set (~10%)
_KNN_K = 5


@register(
    "q_llm_knn_classify",
    oracle=f"""
        WITH q AS (SELECT vec_id, embedding, label FROM embeddings
                   WHERE vec_id % {_KNN_HOLDOUT_MOD} = 0),
        train AS (SELECT vec_id, embedding, label FROM embeddings
                  WHERE vec_id % {_KNN_HOLDOUT_MOD} <> 0),
        scored AS (
            SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                   t.label AS n_label,
                   {V.oracle_cosine("q.embedding", "t.embedding")} AS cos_sim
            FROM q JOIN train t ON TRUE
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
            FROM scored
        ),
        votes AS (
            SELECT query_id, n_label, COUNT(*) AS n_votes
            FROM ranked WHERE rk <= {_KNN_K}
            GROUP BY query_id, n_label
        ),
        pick AS (
            SELECT query_id, n_label AS pred_label, n_votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY n_votes DESC, n_label ASC) AS vr
            FROM votes
        )
        SELECT q.vec_id, q.label AS true_label, p.pred_label,
               p.n_votes, p.pred_label = q.label AS correct
        FROM pick p JOIN q ON p.query_id = q.vec_id
        WHERE p.vr = 1
    """,
    tags=("llm", "vector", "classify"),
)
def q_llm_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label propagation over the embedding corpus: hold out every
    10th vector, predict its label by majority vote of its 5 nearest
    train neighbors (cosine) — the weak-labeling / quality-transfer
    primitive of curation pipelines (label a new crawl slice from a
    small hand-labeled seed set).

    Scale shape: identical to q_llm_ann_bruteforce — the bounded query
    set ships inside the Arrow closure, each train partition emits only
    its LOCAL top-k per query from ONE numpy matmul, and the global
    shuffle carries k rows per (query, partition), never |train| rows.
    The majority vote then reduces |Q|·k rows. In production the query
    side is the fixed new-slice batch (the q_llm_ann_lsh_fixedq
    operating point); train-side growth only adds map-side work.
    Numeric discipline: neighbor selection and the vote are
    integer/ranking decisions on numpy cosines whose ~1e-15 agreement
    with the expression convention is the same margin q_llm_ann_bruteforce
    hash-passes on; the emitted columns are all exact ints/bools."""
    e = load_table(spark, sf_dir, "embeddings")
    is_q = F.col("vec_id") % _KNN_HOLDOUT_MOD == 0
    qdf = e.where(is_q).select("vec_id", "embedding", "label")
    train = e.where(~is_q).select("vec_id", "embedding", "label")
    return _knn_vote(qdf, train)


def _knn_vote(qdf: DataFrame, train: DataFrame) -> DataFrame:
    """Shared k-NN majority-vote body (q_llm_knn_classify and its
    fixed-panel twin): collect the bounded query side, local numpy
    top-k per train partition, rank-reduce, broadcast vote join."""
    import numpy as np

    from pyspark.sql.window import Window

    # ONE bounded collect serves the Arrow closure AND the final truth
    # join (previously a second qdf scan); neighbor labels ride the
    # local-top-k emission itself (train vec_ids are unique, so
    # carrying the label is exactly the old 1:1 label join — which cost
    # a third full corpus scan)
    qrows = qdf.select("vec_id", "embedding", "label").collect()
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qm = np.array([r.embedding for r in qrows], dtype=np.float64)
    qm /= np.linalg.norm(qm, axis=1, keepdims=True)

    # the helper is label-type-generic (int labels in the fixture,
    # strings in the semantics tests) — carry the input's own type
    lbl_type = train.schema["label"].dataType.simpleString()

    def local_topk(batches):
        for pdf in batches:
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            labels = pdf["label"].to_numpy()
            vm = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            vm /= np.linalg.norm(vm, axis=1, keepdims=True)
            sims = qm @ vm.T
            take = min(_KNN_K, sims.shape[1])
            # lexsort, not argpartition: local selection must follow the
            # SAME total order as the global rank and the oracle —
            # (cos_sim DESC, neighbor_id ASC) — or an exact-duplicate
            # embedding could evict the oracle-chosen lower neighbor_id
            # at the local boundary before the global rank sees it
            idx = np.lexsort((np.broadcast_to(ids, sims.shape), -sims), axis=1)[
                :, :take
            ]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, take),
                    "neighbor_id": ids[idx].ravel(),
                    "cos_sim": np.take_along_axis(sims, idx, axis=1).ravel(),
                    "n_label": labels[idx].ravel(),
                }
            )

    local = train.select("vec_id", "embedding", "label").mapInPandas(
        local_topk, schema=f"{_topk_schema()}, n_label {lbl_type}"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    sel = (
        local.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _KNN_K)
        .select("query_id", "n_label")
    )
    votes = sel.groupBy("query_id", "n_label").agg(F.count("*").alias("n_votes"))
    vw = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("n_label").asc()
    )
    pick = (
        votes.withColumn("vr", F.row_number().over(vw))
        .where(F.col("vr") == 1)
        .select("query_id", F.col("n_label").alias("pred_label"), "n_votes")
    )
    truth = qdf.sparkSession.createDataFrame(
        [(r.vec_id, r.label) for r in qrows], f"vec_id long, true_label {lbl_type}"
    )
    return (
        pick.join(truth, pick.query_id == truth.vec_id)
        .select(
            "vec_id",
            "true_label",
            "pred_label",
            "n_votes",
            (F.col("pred_label") == F.col("true_label")).alias("correct"),
        )
    )


@register(
    "q_llm_knn_classify_fixedq",
    oracle=f"""
        WITH q AS (SELECT vec_id, embedding, label FROM embeddings
                   ORDER BY vec_id LIMIT {_FIXEDQ_N}),
        train AS (SELECT vec_id, embedding, label FROM embeddings
                  WHERE vec_id NOT IN (SELECT vec_id FROM q)),
        scored AS (
            SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
                   t.label AS n_label,
                   {V.oracle_cosine("q.embedding", "t.embedding")} AS cos_sim
            FROM q JOIN train t ON TRUE
        ),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id ASC) AS rk
            FROM scored
        ),
        votes AS (
            SELECT query_id, n_label, COUNT(*) AS n_votes
            FROM ranked WHERE rk <= {_KNN_K}
            GROUP BY query_id, n_label
        ),
        pick AS (
            SELECT query_id, n_label AS pred_label, n_votes,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY n_votes DESC, n_label ASC) AS vr
            FROM votes
        )
        SELECT q.vec_id, q.label AS true_label, p.pred_label,
               p.n_votes, p.pred_label = q.label AS correct
        FROM pick p JOIN q ON p.query_id = q.vec_id
        WHERE p.vr = 1
    """,
    tags=("llm", "vector", "classify"),
)
def q_llm_knn_classify_fixedq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label propagation at the PRODUCTION operating point: a
    FIXED {_FIXEDQ_N}-vector query panel (smallest vec_ids — the
    new-crawl-slice stand-in, exactly q_llm_ann_lsh_fixedq's panel
    convention) classified by majority vote of its {_KNN_K} nearest
    train neighbors, where train = the rest of the corpus.

    This is the fixed-|Q| twin of :func:`q_llm_knn_classify`, whose
    contract mode holds out |Q| = n/{_KNN_HOLDOUT_MOD} and therefore
    grows total work as |Q|·n (evaluation semantics, kept alongside).
    Here |Q| is a CONSTANT: the panel ships once inside the Arrow
    closure, each train partition still emits only its local top-k per
    panel query from one numpy matmul, and everything downstream of
    the map stage is O(|Q|·k·partitions) — corpus growth only adds
    perfectly parallel map-side work, the flat-above-10x shape the last
    scale probe measured for the fixedq family (1.26 s at 10x, 4.11 s at
    25x, 6.56 s at 50x)."""
    e = load_table(spark, sf_dir, "embeddings")
    qdf = e.orderBy("vec_id").limit(_FIXEDQ_N).select("vec_id", "embedding", "label")
    qids = [int(r.vec_id) for r in qdf.select("vec_id").collect()]
    train = e.where(~F.col("vec_id").isin(qids)).select(
        "vec_id", "embedding", "label"
    )
    return _knn_vote(qdf, train)


@register(
    "q_udaf_surface",
    oracle="""
        WITH ranked AS (
            SELECT lang, n_chars,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n_chars, doc_id) AS rn,
                   COUNT(*) OVER (PARTITION BY lang) AS n
            FROM documents
        )
        SELECT lang,
               CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                             THEN n_chars ELSE 0 END) AS DOUBLE)
                   / SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                              THEN 1 ELSE 0 END) AS trimmed_mean_chars
        FROM ranked
        GROUP BY lang
    """,
    tags=("llm", "udf", "udaf"),
)
def q_udaf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom AGGREGATE UDF surface — completing the Python-extension
    triptych (q_udf_surface scalar, q_udtf_surface table-valued): a
    pandas GROUPED_AGG UDF computes the 10%-trimmed mean of document
    lengths per language, the robust-statistics shape (winsorized
    quality metrics) that has no built-in aggregate.

    Determinism: the trim drops the k = n//10 smallest and largest
    VALUES — ties within the cut boundary are value-equal, so the kept
    multiset's integer sum is tie-independent; the mean is one IEEE
    division of exact int64 operands, bit-identical to the oracle's
    rank-based trim. Scale: GROUPED_AGG ships each group's column to
    ONE Arrow batch — per-group cardinality must fit an executor
    (true for per-lang doc lengths at any corpus size only after a
    pre-aggregation; the stated 100 TB form pre-buckets lengths and
    trims the bounded histogram instead — same result, bounded
    groups). The fixture runs the direct form to exercise the UDAF
    execution path itself."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean(v: pd.Series) -> float:
        s = np.sort(v.to_numpy(dtype=np.int64))
        k = len(s) // 10
        kept = s[k : len(s) - k] if len(s) > 2 * k else s
        return float(int(kept.sum())) / len(kept)

    # GROUPED_AGG UDFs can't mix with JVM aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT) — the count rides a second pandas
    # aggregate over the same Arrow batch
    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return len(v)

    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        n_rows("n_chars").alias("n_docs"),
        trimmed_mean("n_chars").alias("trimmed_mean_chars"),
    )


_NJ_CUT = 0.5  # the production near-dup Jaccard cut (q_llm_ngram_jaccard's)
# recall is estimated on a BOUNDED query panel probed against the FULL
# corpus (the way production evals actually run): panel stride m grows
# with the corpus so |panel| stays ~<= _EVAL_PANEL regardless of scale,
# and per-panel-doc work is one prefix-posting probe — the eval's cost
# is LINEAR in corpus size with a small constant, never the Sum(df^2)
# of an all-pairs exact join (measured: the all-pairs formulation read
# 8.5/27.9/67.9 s at 1x/5x/10x before this reroute).
_EVAL_PANEL = 1000


@register(
    "q_llm_dedup_recall_eval",
    oracle=f"""
        WITH m AS (
            SELECT 1 + COUNT(*) // {_EVAL_PANEL} AS stride FROM documents
        ),
        t AS (
            SELECT doc_id,
                   list_distinct({X.oracle_shingles(X.oracle_tokens("text"), 3)}) AS sh
            FROM documents
        ),
        ts AS (SELECT doc_id, sh, len(sh) AS n_sh FROM t),
        post AS (SELECT doc_id, unnest(sh) AS s FROM t),
        panel_truth_cand AS (
            SELECT DISTINCT a.doc_id AS query_id, b.doc_id AS neighbor_id
            FROM post a JOIN post b ON a.s = b.s AND a.doc_id <> b.doc_id
            WHERE a.doc_id % (SELECT stride FROM m) = 0
        ),
        true_pairs AS (
            SELECT tc.query_id, tc.neighbor_id
            FROM panel_truth_cand tc
            JOIN ts a ON a.doc_id = tc.query_id
            JOIN ts b ON b.doc_id = tc.neighbor_id
            WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
                      / greatest(a.n_sh + b.n_sh - len(list_intersect(a.sh, b.sh)), 1)
                  >= {_NJ_CUT}
        ),
        sigs AS ({_oracle_minhash_sigs()}),
        {_oracle_bands_cand()}
        , pcand AS (
            SELECT doc_id_a AS query_id, doc_id_b AS neighbor_id FROM cand
            WHERE doc_id_a % (SELECT stride FROM m) = 0
            UNION
            SELECT doc_id_b, doc_id_a FROM cand
            WHERE doc_id_b % (SELECT stride FROM m) = 0
        )
        SELECT (SELECT COUNT(*) FROM true_pairs) AS n_true,
               (SELECT COUNT(*) FROM pcand) AS n_candidates,
               (SELECT COUNT(*) FROM true_pairs tp JOIN pcand c
                   ON tp.query_id = c.query_id AND tp.neighbor_id = c.neighbor_id)
                   AS n_hit,
               (SELECT COUNT(*) FROM true_pairs tp JOIN pcand c
                   ON tp.query_id = c.query_id AND tp.neighbor_id = c.neighbor_id)::DOUBLE
                   / greatest((SELECT COUNT(*) FROM true_pairs), 1) AS recall
    """,
    tags=("llm", "dedup", "eval"),
)
def q_llm_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-recall evaluation AS a query: measure the MinHash LSH
    candidate generator against exact ground truth — the quality
    metric a curation team runs before trusting a dedup config, here
    hash-gated end-to-end (n_true / n_candidates / n_hit / recall all
    exact).

    Production shape, two bounds working together:

    - **Bounded query panel**: recall is estimated for a stride-sampled
      panel (~{_EVAL_PANEL} docs at ANY corpus size — the stride grows
      with the corpus) probed against the FULL corpus, exactly how
      recall evals run at 100 TB: per-query truth, not all-pairs truth.
    - **PPJoin prefix filtering** (Xiao et al. 2008), LOSSLESS for the
      Jaccard cut: J(a,b) >= t implies the pair collides inside each
      doc's first |d| - ceil(t|d|) + 1 shingles under one global
      (df asc, shingle asc) order, so the panel probes prefix postings,
      never full ones. The oracle keeps the naive full-posting join on
      the panel — the hash gate PROVES the lemma lossless on the data.

    Candidate side is the SAME banded generator every near-dup operator
    here shares (_minhash_band_candidates, oracle-mirrored), restricted
    to pairs touching the panel. Fixture recall pins ~1.0 at the 0.5
    cut — the LSH S-curve bound 1-(1-s^r)^b checked empirically in the
    driver gate.

    The panel size is the eval's COST knob (a production recall
    monitor dials it per run): the registered query pins the default
    so the oracle hash gate never moves; the declarative config layer
    exposes it as the ``dedup_recall_eval`` transform (config.py)."""
    return dedup_recall_eval_frame(load_table(spark, sf_dir, "documents"))


def _prefix_shingles(t: DataFrame) -> DataFrame:
    """Each document's prefix-filter shingles from its (doc_id, sh,
    n_sh) shingle set: its ``floor(n_sh * (1 - cut)) + 1`` rarest
    shingles by (document frequency, shingle), as (doc_id, s) rows.

    Document frequency is a COUNT over one (s)-partitioned window, not
    aggregate + join-back: the join shape shuffles the exploded posting
    stream TWICE (agg by s, then the probe side by s again); the window
    pays one s-shuffle then reuses the partitioning (guide §2.4 — the
    r13 CS13/CS14 span/url-dedup pattern)."""
    from pyspark.sql.window import Window

    wc = Window.partitionBy("s")
    wd = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
    return (
        t.select("doc_id", "n_sh", F.explode("sh").alias("s"))
        .withColumn("df", F.count("*").over(wc))
        .withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") <= F.floor(F.col("n_sh") * (1.0 - _NJ_CUT)) + 1)
        .select("doc_id", "s")
    )


def dedup_recall_eval_frame(d: DataFrame, panel: int = _EVAL_PANEL) -> DataFrame:
    """The recall eval over an arbitrary documents-shaped frame
    (doc_id, text) with a configurable panel budget: the stride grows
    with the corpus so |panel| stays ~<= ``panel`` at any scale. The
    registered query binds the pinned default; the config transform
    binds user panels."""
    spark = d.sparkSession
    n_docs = d.count()  # scalar: sets the panel stride
    stride = 1 + n_docs // panel
    toks = X.tokens(F.col("text"))
    t = (
        d.select("doc_id", F.array_distinct(X.shingles(toks, 3)).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
        .persist()
    )
    prefix = _prefix_shingles(t).persist()
    qprefix = prefix.where(F.col("doc_id") % stride == 0)
    truth_cand = (
        qprefix.alias("a")
        .join(prefix.alias("b"), on="s")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("query_id"), F.col("b.doc_id").alias("neighbor_id"))
        .distinct()
    )
    sa = t.select(F.col("doc_id").alias("query_id"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("n_a"))
    sb = t.select(F.col("doc_id").alias("neighbor_id"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("n_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # the pair set is panel-bounded; the shingle-set sides are corpus-
    # sized WITH arrays (their parquet-stat size estimate undercounts,
    # and AQE OOMed broadcasting one at 10x) — pin the bounded pair set
    # as the broadcast side of both joins
    true_pairs = (
        F.broadcast(truth_cand).join(sa, "query_id")
        .join(sb, "neighbor_id")
        .where(
            inter.cast("double")
            / F.greatest(F.col("n_a") + F.col("n_b") - inter, F.lit(1))
            >= _NJ_CUT
        )
        .select("query_id", "neighbor_id")
        .persist()
    )
    # signatures derive from the PERSISTED shingle table, not from the
    # raw text: t.sh is the same array_distinct(shingles(tokens(text)))
    # the kernel would build, and reusing it skips a second full
    # tokenize+shingle pass over the corpus (guide §1.2 step 1: don't
    # recompute what a materialized proxy already holds)
    sigs = minhash_sigs_arrow(t, shingles_col="sh").persist()
    cand = _minhash_band_candidates(sigs)
    # panel-bounded pair set, consumed by TWO actions (the n_hit join
    # and the n_cand count) — materialize it once or the whole
    # sigs→banding→distinct job re-runs per action (guide §1.2 step 1;
    # localCheckpoint so no CacheManager entry is created; the
    # checkpoint blocks themselves are reclaimed by the ContextCleaner
    # once the DataFrame is GC'd)
    pcand = (
        cand.where(F.col("doc_id_a") % stride == 0)
        .select(F.col("doc_id_a").alias("query_id"), F.col("doc_id_b").alias("neighbor_id"))
        .unionByName(
            cand.where(F.col("doc_id_b") % stride == 0)
            .select(F.col("doc_id_b").alias("query_id"), F.col("doc_id_a").alias("neighbor_id"))
        )
        .distinct()
        .localCheckpoint()
    )
    n_true = true_pairs.count()
    # n_cand and n_hit from ONE pass over the checkpointed pair set
    # (left-join flag + count/sum) instead of two separate actions
    hitrow = (
        pcand.join(
            F.broadcast(true_pairs.withColumn("__hit", F.lit(1))),
            ["query_id", "neighbor_id"],
            "left",
        )
        .agg(F.count("*").alias("nc"), F.coalesce(F.sum("__hit"), F.lit(0)).alias("nh"))
        .collect()[0]
    )
    n_cand, n_hit = int(hitrow.nc), int(hitrow.nh)
    # the result below is literal scalars — release every reused frame
    # now instead of leaking four CacheManager entries per invocation
    # (guide §5: unpersist when done)
    for frame in (t, prefix, true_pairs, sigs):
        frame.unpersist()
    return spark.createDataFrame(
        [(n_true, n_cand, n_hit, float(n_hit) / max(n_true, 1))],
        "n_true long, n_candidates long, n_hit long, recall double",
    )
