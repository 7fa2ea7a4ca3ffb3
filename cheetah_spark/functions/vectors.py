"""Vector (embedding) column expressions.

The similarity-search / embedding-dedup operators run on
``embeddings.embedding`` (array<float>, 64-dim fixtures; the operators
are dimension-agnostic). All math casts to double FIRST and accumulates
sequentially with ``F.aggregate`` — the same element order DuckDB's
``list_cosine_similarity(CAST(x AS DOUBLE[]), …)`` uses, so oracle
comparisons are bit-stable up to snap precision.

Scale posture: these are pure expressions → whole-stage codegen, no
Python, no shuffle. The O(n²) pairing around them is what must be
bounded at 100 TB — see q_llm_similarity_topk (broadcast query set) and
q_llm_ann_lsh in queries/llm.py (sign-LSH banding: its Arrow fold projects
onto the :func:`_lsh_sign` hyperplanes defined here).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(col: Column) -> Column:
    return col.cast("array<double>")


def _dot_hof_sql(a: str, b: str) -> str:
    """The higher-order fold as SQL text — the same expression the
    dimension-agnostic Column path builds."""
    return (
        f"aggregate(zip_with(CAST(`{a}` AS ARRAY<DOUBLE>), CAST(`{b}` AS ARRAY<DOUBLE>), "
        f"(x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
    )


def _dot_sql(a: str, b: str, dim: int) -> str:
    """The dot product as SQL text: unrolled left-assoc chain when both
    arrays actually have ``dim`` elements, else the higher-order fold.
    The guard is load-bearing under ANSI mode: out-of-range
    ``element_at`` THROWS (INVALID_ARRAY_INDEX_IN_ELEMENT_AT), while
    ``zip_with`` null-pads the shorter array — the CASE keeps the
    single definition dimension-agnostic (mismatched or shorter inputs
    take the fold branch and behave exactly as before)."""
    terms = "+".join(
        f"(CAST(element_at(`{a}`,{i}) AS DOUBLE)*CAST(element_at(`{b}`,{i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )
    return (
        f"(CASE WHEN size(`{a}`) = {dim} AND size(`{b}`) = {dim} "
        f"THEN (0.0D+{terms}) ELSE {_dot_hof_sql(a, b)} END)"
    )


def dot(a, b, dim: int | None = None) -> Column:
    """Sequential-order double dot product (bit-stable across engines).

    With ``dim`` (the statically-known vector length; ``a``/``b`` must
    then be plain column NAMES) the fold is UNROLLED into a
    left-associated add chain — bit-identical to the higher-order
    ``aggregate`` fold (same ``(((0.0 + x1) + x2) + …)`` order, same
    per-term double rounding; per-element float→double casts are exact,
    so they equal the fold's whole-array cast) but codegen-friendly:
    Catalyst's higher-order functions are CodegenFallback and evaluate
    INTERPRETED per element with per-lambda variable binding (~16 µs
    per 64-dim cosine measured — the single hottest expression of the
    ANN family at 1M candidate pairs; the unrolled form measured ~5×
    faster end-to-end, guide §1.2-2). The chain is built as ONE
    ``F.expr`` string: composing it Column-by-Column costs ~800 py4j
    round trips ≈ 1.5 s of plan-build per cosine (measured), the
    string parse costs ~7 ms. Callers that know the dimension (every
    embeddings operator: the fixture contract pins ``_ED_DIM``, index
    builders carry the centroid panel whose ``shape[1]`` is the dim)
    pass it; dimension-agnostic callers keep the fold. Out-of-range
    ``element_at`` yields NULL, exactly as the zipped fold nulls on
    length mismatch."""
    if dim is None:
        return F.aggregate(
            F.zip_with(_d(a), _d(b), lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
        )
    if not (isinstance(a, str) and isinstance(b, str)):
        raise TypeError("dot(dim=...) takes plain column names")
    return F.expr(_dot_sql(a, b, dim))


def l2_norm_sq(a, dim: int | None = None) -> Column:
    return dot(a, a, dim)


def cosine(a, b, dim: int | None = None) -> Column:
    """Cosine similarity in doubles: dot / (||a|| * ||b||)."""
    if dim is None:
        return dot(a, b) / (F.sqrt(l2_norm_sq(a)) * F.sqrt(l2_norm_sq(b)))
    if not (isinstance(a, str) and isinstance(b, str)):
        raise TypeError("cosine(dim=...) takes plain column names")
    return F.expr(
        f"{_dot_sql(a, b, dim)}/(SQRT({_dot_sql(a, a, dim)})*SQRT({_dot_sql(b, b, dim)}))"
    )


def oracle_cosine(a_expr: str, b_expr: str) -> str:
    """DuckDB counterpart (double-cast so both engines accumulate doubles)."""
    return f"list_cosine_similarity(CAST({a_expr} AS DOUBLE[]), CAST({b_expr} AS DOUBLE[]))"


def _lsh_sign(band: int, bit: int, i: int) -> float:
    """±1 hyperplane component: parity of md5(f"{band}:{bit}:{i}") —
    deterministic on any cluster, no random state, no stored model.
    (Same derivation as text.hash56 & 1, but evaluated in Python at
    plan-build time so NO hashing runs per row.)"""
    import hashlib

    h = int(hashlib.md5(f"{band}:{bit}:{i}".encode()).hexdigest()[:14], 16)
    return 1.0 if h & 1 else -1.0
