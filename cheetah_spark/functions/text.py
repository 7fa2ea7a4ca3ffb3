"""Text-analysis column expressions for the training-data pipeline.

Everything here is a pure Column expression (JVM-side, whole-stage
codegen) — no Python executes per row. The reference's only text
operation is byte-level line splitting (reference x/scanner/scanner.go:90-105)
and JSON/XML normalization (reference types.go:163-167,
x/windows/windows_event.go:57-139); the tokenize / shingle / hash /
quality surface below is the LLM-data-pipeline extension the north star
requires, designed so every helper has an exact DuckDB SQL counterpart
(used by the oracle gate).

Cross-engine determinism: the only hash function both engines share
bit-for-bit is MD5, so every hash here is a 56-bit integer derived from
an MD5 hex prefix (:func:`hash56`) — deterministic across engines,
partitionings, and cluster sizes. 56 bits keeps the value inside a
signed 64-bit long (no overflow in either engine).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pretokenizer: letter runs, digit runs, single non-space symbol.
# Same regex runs in DuckDB's regexp_extract_all (RE2) and Spark (Java
# util.regex) — only constructs valid in both are used.
TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
# Plain word tokens (letters/digits runs) — the default for shingling.
WORD_RE = "[a-z0-9]+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


# Spark SQL text twins. A plan built from one ``F.expr`` string costs one
# parse, while every Column call pays pyspark's per-call Py4J chatter
# (``_with_origin``: a conf read, a class lookup, an origin set and clear),
# so the plan-build hot paths spell their expressions as SQL text. The
# ``*_sql`` builders below return the same expression trees as their
# Column kernels, over a SQL expression string.


def sql_of(col: Column | str) -> str:
    """Spark SQL text of ``col``: a str names one column (quoted as a
    single identifier); a Column is read back as its SQL text, so it
    must be one the parser reads back (a column reference, or built-in
    calls over one)."""
    if isinstance(col, str):
        return "`" + col.replace("`", "``") + "`"
    return col._jc.toString()


def sql_str(value: str) -> str:
    """``value`` as a Spark SQL string literal (the parser unescapes
    backslashes, so they are doubled)."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def tokens_sql(expr: str, pattern: str = WORD_RE) -> str:
    """:func:`tokens` as Spark SQL text over ``expr``."""
    return f"regexp_extract_all(lower({expr}), {sql_str(pattern)}, 0)"


def shingles_sql(toks_expr: str, k: int = 3) -> str:
    """:func:`shingles` as Spark SQL text, the token array let-bound by
    the same one-element ``transform``."""
    return (
        f"get(transform(array({toks_expr}), tk -> CASE WHEN size(tk) < {k}"
        " THEN CAST(array() AS ARRAY<STRING>)"
        f" ELSE transform(sequence(1, size(tk) - {k - 1}),"
        f" i -> array_join(slice(tk, i, {k}), ' ')) END), 0)"
    )


def norm_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), "\\s+", " "))


def tokens(col: Column | str, pattern: str = WORD_RE) -> Column:
    """Lowercased token array via regexp scan (array<string>)."""
    return F.regexp_extract_all(F.lower(_c(col)), F.lit(pattern), 0)


def oracle_tokens(expr: str, pattern: str = WORD_RE) -> str:
    return f"regexp_extract_all(lower({expr}), '{pattern}')"


def shingles(toks: Column, k: int = 3) -> Column:
    """Word k-gram shingles of a token array (array<string>).

    Guarded so docs shorter than k yield an empty array (Spark's
    ``sequence(1, n)`` would otherwise count *down* for n < 1).

    ``toks`` is LET-BOUND via a one-element ``transform`` before any
    per-shingle use (r13): Catalyst re-evaluates expressions referenced
    inside a higher-order-function lambda once PER ELEMENT — with the
    previous formulation a caller that inlined ``tokens(text)`` paid a
    full-text ``regexp_extract_all`` once per shingle index, O(len²)
    per document (measured 10× on q_llm_span_dedup; the same trap the
    winnow fold hit). Binding the array as a lambda variable makes the
    inner ``slice`` reference a NamedLambdaVariable, evaluated once no
    matter what expression the caller passes. Values are bit-identical
    (same join/slice over the same array; NULL/short-doc guard
    unchanged: size(NULL) = -1 < k → empty array)."""

    def _shingles_of(tk: Column) -> Column:
        n = F.size(tk)
        return F.when(n < k, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.array_join(F.slice(tk, i, k), " "),
            )
        )

    return F.get(F.transform(F.array(toks), _shingles_of), 0)


def oracle_shingles(toks_expr: str, k: int = 3) -> str:
    # COALESCE guard: generate_series(1, 0) is [] but (1, <0) is NULL in
    # DuckDB — texts with fewer than k tokens must yield [] to match
    # Spark (caught by tests/test_text_fuzz.py).
    return (
        f"coalesce(list_transform(generate_series(1, len({toks_expr}) - {k - 1}), "
        f"i -> array_to_string(({toks_expr})[i:i+{k - 1}], ' ')), []::VARCHAR[])"
    )


def hash56(col: Column, seed: Column | int | None = None) -> Column:
    """Deterministic 56-bit hash shared bit-for-bit with DuckDB.

    ``bigint(md5(seed || ':' || s)[:14 hex])`` — MD5 is the one hash both
    engines implement identically; 14 hex chars = 56 bits < 2^63.
    """
    s = _c(col)
    if seed is not None:
        seedc = F.lit(seed) if isinstance(seed, int) else seed
        s = F.concat(seedc.cast("string"), F.lit(":"), s)
    return F.conv(F.substring(F.md5(s), 1, 14), 16, 10).cast("bigint")


def oracle_hash56(expr: str, seed: str | int | None = None) -> str:
    s = expr if seed is None else f"CAST({seed} AS VARCHAR) || ':' || ({expr})"
    return f"CAST('0x' || substr(md5({s}), 1, 14) AS BIGINT)"


# MinHash permutation family: h_i(x) = (A[i] * h31(x) + B[i]) mod P over
# a 31-bit md5-derived base hash — ONE md5 per shingle total, then cheap
# integer ops per permutation. A[i]*h31 < 2^31 * 2^31 = 2^62, so no
# signed-64 overflow in either engine. Constants come from a fixed seed
# so Spark and the DuckDB oracle embed identical literals.
MINHASH_P = 2147483659  # prime > 2^31
_MINHASH_MOD = 1 << 31


def minhash_params(num_hashes: int = 32) -> list[tuple[int, int]]:
    import random

    rng = random.Random(42)
    return [
        (rng.randrange(1, _MINHASH_MOD), rng.randrange(0, _MINHASH_MOD))
        for _ in range(num_hashes)
    ]


def minhash_base(col: Column) -> Column:
    """31-bit base hash of a shingle (one md5, shared with DuckDB)."""
    return hash56(col) % _MINHASH_MOD


def minhash_base_sql(expr: str) -> str:
    """:func:`minhash_base` as Spark SQL text over ``expr``."""
    return f"(CAST(conv(substring(md5({expr}), 1, 14), 16, 10) AS BIGINT) % {_MINHASH_MOD})"


def oracle_minhash_base(expr: str) -> str:
    return f"({oracle_hash56(expr)} % {_MINHASH_MOD})"


def minhash_perm(h31: Column, a: int, b: int) -> Column:
    return (F.lit(a).cast("bigint") * h31 + F.lit(b)) % F.lit(MINHASH_P)


def oracle_minhash_perm(h31_expr: str, a: int, b: int) -> str:
    return f"(({a}::BIGINT * {h31_expr} + {b}) % {MINHASH_P})"


def list_segments(lst):
    """``(values, starts, ends)`` of an Arrow ``ListArray``: ``values``
    is the child array cut to this array's rows, and ``starts``/``ends``
    (int64 numpy) bound each row's segment in it, so row i is
    ``values[starts[i]:ends[i]]``. The one list decode every Arrow fold
    here shares: a sliced array (``RecordBatch.slice``) keeps its
    parent's child, so its raw offsets need not start at 0; they are
    rebased onto the cut child."""
    import numpy as np

    off = lst.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lo, hi = int(off[0]), int(off[-1])
    offs = off - lo
    return lst.values.slice(lo, hi - lo), offs[:-1], offs[1:]


# SimHash (Charikar) over the distinct token set: each token votes
# +1/-1 per bit position of its hash56; the fingerprint sets bits with
# positive tally. The token hashes run JVM-side (one md5 per distinct
# token) and the tally, sign and bit packing run in one map-only Arrow
# fold per batch.

SIMHASH_BITS = 56  # md5-prefix hash width; keeps values in signed 64-bit


def simhash_df(docs, text_col: str = "text", id_col: str = "doc_id", bits: int = SIMHASH_BITS):
    """(id, simh) DataFrame — md5 token hashes JVM-side, the ±1 bit
    tally + sign + bit packing VECTORIZED in one ``mapInArrow`` stage.

    Bit-identical to the former explode + 56-SUM-agg plan (the per-bit
    tally is the same integer sum over the same hash56 values; pinned
    by the family's DuckDB oracles), with the same row set: a
    tokenless doc gets no row, as the oracle's GROUP BY gives it none.
    Why: the explode shipped ~80 rows/doc into a 56-column partial
    aggregate and a doc_id shuffle; the Arrow fold is map-only — no
    exploded intermediate, no shuffle — and the tally runs as one
    numpy broadcast + segmented reduceat per batch (guide §4.2;
    measured 3.96 s → 0.80 s warm at sf0.1, the same 5× the MinHash
    signature pass gained from the identical treatment)."""
    hs = F.transform(F.array_distinct(tokens(F.col(text_col))), lambda t: hash56(t))
    base = docs.select(
        F.col(id_col), F.coalesce(hs, F.array().cast("array<bigint>")).alias("hs")
    )
    return base.mapInArrow(
        lambda batches: _simhash_fold(batches, bits), f"`{id_col}` long, simh long"
    )


def _simhash_fold(batches, bits: int = SIMHASH_BITS):
    """The Arrow stage of :func:`simhash_df`: batches of (id, token-hash
    list) in, (id, simh) out, with no row for an empty list."""
    import numpy as np
    import pyarrow as pa

    shifts = np.arange(bits, dtype=np.int64)
    weights = np.int64(1) << shifts
    for rb in batches:
        vals, starts, ends = list_segments(rb.column(1))
        keep = ends > starts
        flat = vals.to_numpy(zero_copy_only=False)
        if flat.size:
            pm = 2 * ((flat[:, None] >> shifts) & 1) - 1  # (n_hashes, bits) ±1
            tly = np.add.reduceat(pm, starts[keep], axis=0)
            simh = ((tly > 0) * weights).sum(axis=1)
        else:
            simh = np.empty(0, dtype=np.int64)
        yield pa.record_batch(
            [rb.column(0).filter(pa.array(keep)), pa.array(simh, type=pa.int64())],
            names=[rb.schema.names[0], "simh"],
        )


def oracle_simhash_per_doc(bits: int = SIMHASH_BITS, table: str = "documents") -> str:
    """DuckDB mirror of :func:`simhash_df`: SELECT doc_id, simh."""
    h = oracle_hash56("t")
    terms = " + ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
        for b in range(bits)
    )
    return f"""SELECT doc_id, {terms} AS simh
        FROM (SELECT doc_id, {h} AS h
              FROM (SELECT doc_id, unnest(list_distinct({oracle_tokens("text")})) AS t
                    FROM {table}))
        GROUP BY doc_id"""


def hamming56(a: Column, b: Column) -> Column:
    """Hamming distance between two 56-bit fingerprints (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


# Wide (128-bit) SimHash: the production-scale variant of the 56-bit
# fingerprint above. MD5 is 128 bits — exactly one md5 per distinct
# token still supplies every bit. The fingerprint is REPRESENTED as
# its 4 pigeonhole blocks of 32 bits (each a small bigint), because
# that is the only shape the blocking join ever needs and it avoids
# any 128-bit integer type neither engine has. Bit g of a token's
# hash comes from the three md5-prefix longs: h0 = hex[1:14]
# (56 bits), h1 = hex[15:28] (56 bits), h2 = hex[29:32] (16 bits).

SIMHASH_WIDE_BITS = 128
SIMHASH_WIDE_BLOCKS = 4  # k+1 for the hamming-3 pigeonhole
SIMHASH_WIDE_BLOCK_BITS = SIMHASH_WIDE_BITS // SIMHASH_WIDE_BLOCKS  # 32


def simhash_wide_df(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(id, blk0..blk3) 128-bit fingerprint — one md5 per distinct
    token JVM-side (the md5-string array is materialized once and the
    three prefix longs derive from it, so the hash work is identical
    to the old exploded plan), then the 128-bit ±1 tally + sign + the
    4×32-bit block packing vectorized in one ``mapInArrow`` stage.

    Bit-identical to the former explode + 128-SUM-agg plan (same
    per-bit integer tallies over the same wh0/wh1/wh2 values — the
    DuckDB oracle mirror is unchanged); a tokenless doc gets no row in
    either formulation. Same guide-§4.2 rationale and measured shape as
    :func:`simhash_df`, with the bigger win here: the old plan carried
    ONE HUNDRED TWENTY-EIGHT aggregate columns through a partial+final
    aggregation and a doc_id shuffle."""
    import numpy as np
    import pyarrow as pa

    bb = SIMHASH_WIDE_BLOCK_BITS
    shifts56 = np.arange(56, dtype=np.int64)
    shifts16 = np.arange(16, dtype=np.int64)
    block_w = np.int64(1) << np.arange(bb, dtype=np.int64)  # weights within a block
    pow16_14 = np.int64(16) ** np.arange(13, -1, -1, dtype=np.int64)
    pow16_4 = np.int64(16) ** np.arange(3, -1, -1, dtype=np.int64)

    # ship the md5 HEX array once — deriving wh0/wh1/wh2 with three
    # JVM transforms would re-inline (and re-execute) the md5 lambda
    # per transform (Catalyst does not CSE across higher-order
    # functions); the nibble parse below is a fully vectorized numpy
    # fold over the raw hex bytes
    ms = F.transform(
        F.array_distinct(tokens(F.col(text_col))), lambda t: F.md5(t)
    )
    base = docs.select(
        F.col(id_col), F.coalesce(ms, F.array().cast("array<string>")).alias("ms")
    )
    names = [id_col] + [f"blk{b}" for b in range(SIMHASH_WIDE_BLOCKS)]

    def fold(batches):
        for rb in batches:
            svals, starts, ends = list_segments(rb.column(1))  # md5 hex strings
            keep = ends > starts
            if len(svals):
                obuf = np.frombuffer(svals.buffers()[1], dtype=np.int32)
                so = obuf[svals.offset : svals.offset + len(svals) + 1]
                data = np.frombuffer(svals.buffers()[2], dtype=np.uint8)
                # md5 hex is fixed 32 bytes and never null → the byte
                # range is contiguous and reshapes exactly
                hexb = data[so[0] : so[-1]].reshape(-1, 32).astype(np.int64)
                d = np.where(hexb >= 97, hexb - 87, hexb - 48)  # nibbles
                wh0 = d[:, 0:14] @ pow16_14
                wh1 = d[:, 14:28] @ pow16_14
                wh2 = d[:, 28:32] @ pow16_4
                bits = np.concatenate(
                    [
                        (wh0[:, None] >> shifts56) & 1,
                        (wh1[:, None] >> shifts56) & 1,
                        (wh2[:, None] >> shifts16) & 1,
                    ],
                    axis=1,
                )  # (n_tokens, 128), global bit order g = column index
                pm = 2 * bits - 1
                pos = np.add.reduceat(pm, starts[keep], axis=0) > 0  # (k, 128)
                blks = np.stack(
                    [
                        (pos[:, b * bb : (b + 1) * bb] * block_w).sum(axis=1)
                        for b in range(SIMHASH_WIDE_BLOCKS)
                    ],
                    axis=1,
                )  # (k, 4)
            else:
                blks = np.empty((0, SIMHASH_WIDE_BLOCKS), dtype=np.int64)
            yield pa.record_batch(
                [rb.column(0).filter(pa.array(keep))]
                + [pa.array(blks[:, b], type=pa.int64()) for b in range(SIMHASH_WIDE_BLOCKS)],
                names=names,
            )

    return base.mapInArrow(fold, ", ".join(f"`{n}` long" for n in names))


def oracle_simhash_wide_per_doc(table: str = "documents") -> str:
    """DuckDB mirror of :func:`simhash_wide_df`: doc_id, blk0..blk3.

    Relational formulation — unnest (block, bit) indices and GROUP BY
    instead of 128 literal aggregate terms; bit-identical to the Spark
    tally columns because both reduce to the same per-bit ±1 SUM.
    """
    bb = SIMHASH_WIDE_BLOCK_BITS
    return f"""SELECT doc_id,
               MAX(CASE WHEN b = 0 THEN bval END) AS blk0,
               MAX(CASE WHEN b = 1 THEN bval END) AS blk1,
               MAX(CASE WHEN b = 2 THEN bval END) AS blk2,
               MAX(CASE WHEN b = 3 THEN bval END) AS blk3
        FROM (
          SELECT doc_id, b,
                 SUM(CASE WHEN tly > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END) AS bval
          FROM (
            SELECT doc_id, b, j,
                   SUM(CASE WHEN (CASE WHEN b*{bb}+j < 56 THEN (wh0 >> (b*{bb}+j)) & 1
                                  WHEN b*{bb}+j < 112 THEN (wh1 >> (b*{bb}+j-56)) & 1
                                  ELSE (wh2 >> (b*{bb}+j-112)) & 1 END) = 1
                       THEN 1 ELSE -1 END) AS tly
            FROM (
              SELECT doc_id,
                     CAST('0x' || substr(m, 1, 14) AS BIGINT) AS wh0,
                     CAST('0x' || substr(m, 15, 14) AS BIGINT) AS wh1,
                     CAST('0x' || substr(m, 29, 4) AS BIGINT) AS wh2
              FROM (SELECT doc_id, md5(t) AS m
                    FROM (SELECT doc_id, unnest(list_distinct({oracle_tokens("text")})) AS t
                          FROM {table}))
            ),
            (SELECT unnest(generate_series(0, {SIMHASH_WIDE_BLOCKS - 1})) AS b),
            (SELECT unnest(generate_series(0, {bb - 1})) AS j)
            GROUP BY doc_id, b, j
          ) GROUP BY doc_id, b
        ) GROUP BY doc_id"""


def hamming_wide(a_blks: list[Column], b_blks: list[Column]) -> Column:
    """Hamming distance between two block-decomposed 128-bit fingerprints."""
    expr: Column | None = None
    for a, b in zip(a_blks, b_blks):
        term = F.bit_count(a.bitwiseXOR(b))
        expr = term if expr is None else expr + term
    assert expr is not None
    return expr


STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on"),
    "de": ("der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "ein"),
    "fr": ("le", "la", "les", "et", "est", "de", "un", "une", "pour", "dans"),
    "es": ("el", "la", "los", "y", "es", "de", "un", "una", "para", "en"),
    "zh": ("de", "shi", "zai", "he", "le", "wo", "ni", "ta", "men", "zhe"),
}


def stopword_overlap(toks: Column, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang`` (with multiplicity)."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def oracle_stopword_overlap(toks_expr: str, lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter({toks_expr}, t -> list_contains([{lst}], t)))"


def quality_features(text_col: Column | str) -> dict[str, Column]:
    """Quality-scoring feature set (all exact-integer or exact-ratio).

    Ratios are single IEEE divisions of identical integer operands in
    both engines → bit-identical, no rounding needed.
    """
    t = _c(text_col)
    toks = tokens(t)
    n_char = F.length(t)
    n_tok = F.size(toks)
    return {
        "n_char": n_char.cast("bigint"),
        "n_tok": n_tok.cast("bigint"),
        "n_uniq_tok": F.size(F.array_distinct(toks)).cast("bigint"),
        "mean_tok_len": F.aggregate(toks, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x))
        / F.greatest(n_tok, F.lit(1)),
        "digit_ratio": F.length(F.regexp_replace(t, "[^0-9]", "")) / F.greatest(n_char, F.lit(1)),
        "punct_ratio": F.length(F.regexp_replace(t, "[a-zA-Z0-9\\s]", ""))
        / F.greatest(n_char, F.lit(1)),
        "uniq_ratio": F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1)),
    }
