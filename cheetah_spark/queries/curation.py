"""Training-data curation operators beyond dedup: deterministic
stratified sampling, context-window sequence packing, and embedding
quantization — the remaining pieces a 100 TB pretraining-data pipeline
runs after filtering/dedup (no reference counterpart; north-star
extension surface like queries/llm.py).

All three follow the module conventions: hash decisions are the
cross-engine :func:`~cheetah_spark.functions.text.hash56`, every float
op is a single IEEE op on identical operands in both engines, and
outputs are exact ints or raw divisions so the DuckDB oracle
hash-matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cheetah_spark.catalog import load_table
from cheetah_spark.functions import text as X
from cheetah_spark.operators.graph import connected_components
from cheetah_spark.queries._util import (
    davg,
    dsum,
    dsum2,
    oracle_davg,
    oracle_dsum,
    oracle_dsum2,
    oracle_snap,
    snap,
)
from cheetah_spark.registry import REGISTRY, register

# importing llm first guarantees its registrations (and oracle SQL
# fragments) exist before this module reuses them
from cheetah_spark.queries import llm as _llm  # noqa: F401

# ---------------------------------------------------------------------------
# Stratified sampling
# ---------------------------------------------------------------------------

# per-mil keep rates per stratum — the domain-mixture knob of a
# pretraining pipeline (upsample scarce langs, downsample dominant)
_SAMPLE_RATES = {"en": 500, "de": 250, "fr": 250, "es": 125, "zh": 125}
_SAMPLE_DEFAULT = 100
_SAMPLE_SEED = "sample:"

_ORACLE_RATE = (
    "CASE lang "
    + " ".join(f"WHEN '{lg}' THEN {r}" for lg, r in _SAMPLE_RATES.items())
    + f" ELSE {_SAMPLE_DEFAULT} END"
)


def sample_keep_expr(
    id_col: "F.Column",
    stratum_col: "F.Column",
    rates: dict[str, int] = _SAMPLE_RATES,
    default: int = _SAMPLE_DEFAULT,
    seed: str = _SAMPLE_SEED,
) -> "F.Column":
    """The single-definition keep decision of the stratified sampler:
    ``hash56(seed || id) mod 1000 < rate(stratum)``. Map-only codegen —
    shared by :func:`q_llm_sample_stratified` and the declarative
    ``stratified_sample`` config transform (config.py), batch or
    streaming."""
    rate = F.lit(default)
    for lg, r in reversed(list(rates.items())):
        rate = F.when(stratum_col == lg, F.lit(r)).otherwise(rate)
    return X.hash56(F.concat(F.lit(seed), id_col.cast("string"))) % 1000 < rate


@register(
    "q_llm_sample_stratified",
    oracle=f"""
        WITH tagged AS (
            SELECT lang, doc_id,
                   ({X.oracle_hash56(f"'{_SAMPLE_SEED}' || CAST(doc_id AS VARCHAR)")} % 1000)
                       < ({_ORACLE_RATE}) AS kept
            FROM documents
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
               MIN(CASE WHEN kept THEN doc_id END) AS min_kept_id,
               MAX(CASE WHEN kept THEN doc_id END) AS max_kept_id
        FROM tagged
        GROUP BY lang
    """,
    tags=("llm", "sampling"),
)
def q_llm_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling: a document is kept
    iff ``hash56('sample:' || doc_id) mod 1000`` falls under its
    stratum's per-mil rate. No RNG state, no ordering dependence — the
    same rows are kept on any cluster, any partitioning, any engine
    (the property that makes a sampled corpus reproducible), and the
    decision is a map-only codegen expression: at 100 TB this is a pure
    scan-filter with the mixture knob as data, not code."""
    d = load_table(spark, sf_dir, "documents")
    kept = sample_keep_expr(F.col("doc_id"), F.col("lang"))
    return (
        d.select("lang", "doc_id", kept.alias("kept"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("kept"), 1)).alias("n_kept"),
            F.min(F.when(F.col("kept"), F.col("doc_id"))).alias("min_kept_id"),
            F.max(F.when(F.col("kept"), F.col("doc_id"))).alias("max_kept_id"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

_CTX_TOKENS = 2048  # context-window budget per packed sequence


@register(
    "q_llm_pack_sequences",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, source,
                   len({X.oracle_tokens("text", X.TOKEN_RE)})::BIGINT AS n_tok
            FROM documents
        ), placed AS (
            SELECT lang, source, n_tok,
                   COALESCE(SUM(n_tok) OVER (
                       PARTITION BY lang, source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
            FROM t
        )
        SELECT lang, source,
               CAST(cum_prev // {_CTX_TOKENS} AS BIGINT) AS bin,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
        FROM placed
        GROUP BY lang, source, bin
    """,
    tags=("llm", "packing"),
)
def q_llm_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window sequence packing: within each (lang, source)
    shard, documents are laid end-to-end in doc_id order and assigned
    to the 2048-token bin where they START (streaming first-fit
    — the standard pretraining packing that avoids global bin-state).

    Exact integer window arithmetic → bit-identical oracle. Scale
    shape: ONE window shuffle partitioned by (lang, source) — packing
    state never crosses shard boundaries, so a 100 TB corpus packs
    shard-parallel with no global coordination (the shard key is
    whatever unit downstream training shuffles by)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", "source",
        F.size(X.tokens(F.col("text"), X.TOKEN_RE)).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = t.select(
        "lang", "source", "n_tok",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).alias("cum_prev"),
    )
    return (
        placed.select(
            "lang", "source", "n_tok",
            F.floor(F.col("cum_prev") / _CTX_TOKENS).cast("bigint").alias("bin"),
        )
        .groupBy("lang", "source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("bin_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicate clustering (connected components)
# ---------------------------------------------------------------------------

_CC_MAX_ITERS = 50

# Checksum modulus (shared by every *_checksum aggregate in this
# module). Residues average ~_TRIM_MOD/2 ≈ 5e8, so an int64 sum would
# wrap near ~1.8e10 docs (and Spark's non-ANSI SUM wraps SILENTLY
# while DuckDB promotes to HUGEINT, diverging the hash) — both engines
# therefore sum the residues as DECIMAL(38,0), exact to ~2e29 docs
# (round-6 advice), then reduce % _TRIM_MOD back into BIGINT (round-7
# advice: a raw decimal final column is driver-incomparable).
_TRIM_MOD = 1000000007


def _simhash_rep_components(spark: SparkSession, sf_dir: str):
    """(grp, labels, sim) for the rep-collapse SimHash component
    machinery shared by :func:`q_llm_dup_clusters` and
    :func:`q_llm_dedup_keep`:

    - ``sim``: the (doc_id, simh) fingerprint proxy, ONE corpus
      tokenize+md5+tally pass, eagerly localCheckpointed. This is the
      guide-§8 lightweight-proxy discipline: every decision downstream
      (grouping, blocking, components, the callers' doc joins) depends
      only on these 16 bytes/row — materialize them once and never
      re-tokenize the corpus. The r8→r12 shape instead unpersisted
      ``grp`` and let each caller RECOMPUTE the full simhash pass for
      its final join (q_llm_dedup_keep paid the corpus pass three
      times: grp build, comp rebuild, doc-level join — measured 3.4 s
      → 1.5 s at sf0.1 from this change alone). On a cluster swap
      localCheckpoint for a durable ``checkpoint()``/write-out of the
      proxy table, same call shape (graph.py discipline).
    - ``grp``: one row per DISTINCT fingerprint — (simh, rep = min
      doc_id, grp_docs, grp_max), derived from ``sim`` (no second
      pass), localCheckpointed because the blocking a/b sides and the
      callers' final joins all read it. localCheckpoint, not persist:
      a persist here leaked a CacheManager entry per invocation
      (session-lifetime growth in a daemon — guide §5).
    - ``labels``: (rep, comp_id) from connected components over
      rep-level near-dup edges (pigeonhole block join over distinct
      fingerprints, map-side hamming filter before the distinct
      shuffle — the r8 fix for the doc-pair graph that OOM'd the 25×
      probe; reps without edges are absent, callers coalesce to the
      group's own rep)."""
    from cheetah_spark.queries.llm import _SH_BLOCK_BITS, _SH_BLOCKS, _SH_K

    d = load_table(spark, sf_dir, "documents")
    sim = X.simhash_df(d).localCheckpoint()
    grp = (
        sim.groupBy("simh")
        .agg(
            F.min("doc_id").alias("rep"),
            F.count("*").alias("grp_docs"),
            F.max("doc_id").alias("grp_max"),
        )
        .localCheckpoint()
    )
    mask = (1 << _SH_BLOCK_BITS) - 1
    blocks = grp.select(
        "rep",
        "simh",
        F.explode(F.sequence(F.lit(0), F.lit(_SH_BLOCKS - 1))).alias("blk"),
    ).select(
        "rep",
        "simh",
        "blk",
        F.call_function("shiftright", F.col("simh"), (F.col("blk") * _SH_BLOCK_BITS).cast("int"))
        .bitwiseAND(F.lit(mask))
        .alias("bval"),
    )
    a = blocks.select(F.col("rep").alias("rep_a"), F.col("simh").alias("simh_a"), "blk", "bval")
    b = blocks.select(F.col("rep").alias("rep_b"), F.col("simh").alias("simh_b"), "blk", "bval")
    pairs = (
        a.join(b, on=["blk", "bval"])
        .where(F.col("rep_a") < F.col("rep_b"))
        .where(X.hamming56(F.col("simh_a"), F.col("simh_b")) <= _SH_K)
        .select("rep_a", "rep_b")
        .distinct()
    )
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("rep_a").alias("s"), F.col("rep_b").alias("t")),
                F.struct(F.col("rep_b").alias("s"), F.col("rep_a").alias("t")),
            )
        ).alias("e")
    ).select("e.s", "e.t")
    labels = connected_components(spark, sym, max_iters=_CC_MAX_ITERS).select(
        F.col("node_id").alias("rep"), "comp_id"
    )
    return grp, labels, sim


@register(
    "q_llm_dup_clusters",
    oracle=f"""
        WITH RECURSIVE pairs AS ({REGISTRY["q_llm_simhash_dedup"].oracle}),
        edges AS (
            SELECT doc_id_a AS s, doc_id_b AS t FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pairs
        ),
        reach(s, t) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
        ),
        labeled AS (SELECT s AS doc_id, MIN(t) AS comp_id FROM reach GROUP BY s)
        SELECT comp_id,
               COUNT(*) AS n_docs,
               MAX(doc_id) AS max_doc_id
        FROM labeled
        GROUP BY comp_id
        HAVING COUNT(*) > 1
    """,
    tags=("llm", "dedup", "iterative"),
)
def q_llm_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not just pairs: connected components over the
    SimHash near-dup graph via alternating large-star/small-star
    rounds (Kiveris et al., SoCC'14) — the step a real curation
    pipeline needs between pairwise similarity and "keep one doc per
    duplicate group" (pairs alone over-delete: A~B, B~C must collapse
    to ONE cluster {{A,B,C}}).

    Since round 8 the Spark plan runs the REP-COLLAPSE composition
    (the SCALE.md r6/r7 finding: the doc-pair graph emitted 1.9 B
    block-collision candidates and OOM'd the 25× probe): exact
    56-bit-fingerprint groups collapse to a representative (min
    doc_id) BEFORE blocking, components run over rep-level edges, and
    doc-level cluster accounting comes back by summing group sizes.
    This is output-identical to the doc-pair form — hamming distance
    depends only on fingerprints, so two docs are connected iff their
    fingerprint groups are, identical-fingerprint docs (hamming 0) are
    connected by construction, and min-rep per component equals min
    doc_id per component because each rep IS its group's min doc_id.
    The DuckDB oracle keeps the doc-pair recursive-closure form (the
    simhash pair oracle reused verbatim as a CTE), so the hash gate
    verifies exactly that equivalence end-to-end.

    The iteration (factored out as
    :func:`cheetah_spark.operators.graph.connected_components`, where
    the iterative-Spark mechanics — per-round ``localCheckpoint``
    lineage truncation, edge-set-only iteration, fingerprint
    convergence, small loop shuffle partitions — are documented and
    unit-tested on hand-built graphs) converges in O(log n) rounds
    independent of graph diameter: each round rewires edges toward
    neighborhood minima with pure groupBy-min + equi-join plans. This
    is deliberately NOT a driver-side algorithm: each round is a
    distributed shuffle; the driver only checks the converged flag.

    Output: multi-doc clusters only — (comp_id = min doc_id, n_docs,
    max_doc_id). Multi-doc groups whose fingerprint has no near-dup
    neighbor are edgeless components and are still emitted (coalesce
    to the group's own rep)."""
    grp, labels, _sim = _simhash_rep_components(spark, sf_dir)
    return (
        grp.join(labels, "rep", "left")
        .select(
            F.coalesce(F.col("comp_id"), F.col("rep")).alias("comp_id"),
            "grp_docs",
            "grp_max",
        )
        .groupBy("comp_id")
        .agg(
            F.sum("grp_docs").cast("bigint").alias("n_docs"),
            F.max("grp_max").alias("max_doc_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def _dup_clusters_wide_oracle() -> str:
    from cheetah_spark.queries.llm import _oracle_simhash_wide_cte, _SHW_K

    return f"""
        WITH RECURSIVE {_oracle_simhash_wide_cte()},
        wp AS (SELECT DISTINCT rep_a, rep_b FROM scored WHERE hamming <= {_SHW_K}),
        edges AS (
            SELECT rep_a AS s, rep_b AS t FROM wp
            UNION ALL
            SELECT rep_b, rep_a FROM wp
        ),
        reach(s, t) AS (
            SELECT rep, rep FROM grp
            UNION
            SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
        ),
        labeled AS (SELECT s AS rep, MIN(t) AS comp_id FROM reach GROUP BY s),
        cl AS (
            SELECT l.comp_id, COUNT(*)::BIGINT AS n_reps,
                   CAST(SUM(g.n_docs) AS BIGINT) AS n_docs
            FROM labeled l JOIN grp g ON g.rep = l.rep
            GROUP BY l.comp_id
        )
        SELECT comp_id, n_reps, n_docs FROM cl WHERE n_reps > 1
    """


@register(
    "q_llm_dup_clusters_wide",
    oracle=_dup_clusters_wide_oracle(),
    tags=("llm", "dedup", "iterative"),
)
def q_llm_dup_clusters_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters over the WIDE fingerprint graph — the 100 TB
    composition: exact-fingerprint groups collapse to representatives
    (q_llm_simhash_wide), connected components run over REP-level
    near-dup edges, and cluster doc counts come back by summing group
    sizes — so the iterative stage's input is the distinct-fingerprint
    graph, not the saturated document-pair graph.

    Measured motivation (SCALE.md r6): q_llm_dup_clusters consumes the
    56-bit pair graph, whose emitted pair set saturates on homogeneous
    corpora — 300 s and borderline single-JVM heap at 25×; this
    composition runs the identical component machinery in 7.4 s at
    both 10× and 25×, flat, because rep-level edges grow with the
    corpus's distinct-fingerprint near-dup structure (7.7 k pairs at
    25×) instead of quadratic doc pairs.

    Output per multi-rep cluster: comp_id (min rep), n_reps, and
    n_docs — the total documents the cluster covers, i.e. what a
    keep-one-per-cluster pass would touch. The DuckDB oracle reuses
    the wide-simhash CTE verbatim plus a recursive closure, so the
    hash gate verifies fingerprints, grouping, blocking, components
    and the doc-count rollup end-to-end."""
    wide = (
        REGISTRY["q_llm_simhash_wide"].fn(spark, sf_dir)
        .select("rep_a", "rep_b", "n_docs_a", "n_docs_b")
        # feeds edges AND both rep→n_docs branches; localCheckpoint
        # (bounded pair set) rather than persist — a persist here
        # leaked one CacheManager entry per invocation (guide §5)
        .localCheckpoint()
    )
    sym = wide.select(
        F.explode(
            F.array(
                F.struct(F.col("rep_a").alias("s"), F.col("rep_b").alias("t")),
                F.struct(F.col("rep_b").alias("s"), F.col("rep_a").alias("t")),
            )
        ).alias("e")
    ).select("e.s", "e.t")
    labels = connected_components(spark, sym, max_iters=_CC_MAX_ITERS)
    repdocs = (
        wide.select(F.col("rep_a").alias("rep"), F.col("n_docs_a").alias("n_docs"))
        .unionByName(
            wide.select(F.col("rep_b").alias("rep"), F.col("n_docs_b").alias("n_docs"))
        )
        .distinct()
    )
    return (
        labels.join(repdocs, labels["node_id"] == repdocs["rep"])
        .groupBy("comp_id")
        .agg(F.count("*").alias("n_reps"), F.sum("n_docs").cast("bigint").alias("n_docs"))
        .where(F.col("n_reps") > 1)
    )


@register(
    "q_llm_dedup_keep",
    oracle=f"""
        WITH RECURSIVE pairs AS ({REGISTRY["q_llm_simhash_dedup"].oracle}),
        edges AS (
            SELECT doc_id_a AS s, doc_id_b AS t FROM pairs
            UNION ALL
            SELECT doc_id_b, doc_id_a FROM pairs
        ),
        reach(s, t) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
        ),
        labeled AS (SELECT s AS doc_id, MIN(t) AS comp_id FROM reach GROUP BY s)
        SELECT d.lang,
               COUNT(*)::BIGINT AS n_docs,
               CAST(SUM(CASE WHEN l.comp_id = d.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN l.comp_id <> d.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN l.comp_id = d.doc_id
                             THEN CAST(({X.oracle_hash56("CAST(d.doc_id AS VARCHAR)")})
                                       % {_TRIM_MOD} AS DECIMAL(38,0))
                             ELSE CAST(0 AS DECIMAL(38,0)) END) % {_TRIM_MOD}
                    AS BIGINT) AS kept_checksum,
               MIN(CASE WHEN l.comp_id <> d.doc_id THEN d.doc_id END)
                   AS min_dropped_id
        FROM documents d JOIN labeled l USING (doc_id)
        GROUP BY d.lang
    """,
    tags=("llm", "dedup", "transform", "iterative"),
)
def q_llm_dedup_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus REWRITE that duplicate clustering exists for: keep
    exactly ONE document per near-duplicate cluster (the cluster's min
    doc_id — a deterministic canonical-representative rule), drop the
    rest, and pin the kept set with a checksum — the step a real
    curation pipeline runs between :func:`q_llm_dup_clusters`'s
    accounting and training-data materialization (pairs alone
    over-delete; keep-one-per-component is the correct deletion set).

    Spark plan: the shared rep-collapse component machinery
    (:func:`_simhash_rep_components` — distinct-fingerprint nodes,
    pigeonhole block edges, O(log n) large/small-star rounds), then
    ONE fingerprint-keyed join maps every document to its component
    and the keep rule is a pure comparison ``doc_id == comp_id`` (the
    component label IS the kept doc by construction: min-rep over the
    component = min doc_id). Per-lang rollup: doc counts, kept/dropped
    split, a modular checksum over KEPT doc_ids, and the first dropped
    id. The DuckDB oracle recomputes components from the doc-pair
    closure and applies the identical rule — hash equality proves the
    rep-collapse plan picks exactly the same survivors."""
    grp, labels, sim = _simhash_rep_components(spark, sf_dir)
    comp = grp.join(labels, "rep", "left").select(
        "simh", F.coalesce(F.col("comp_id"), F.col("rep")).alias("comp_id")
    )
    d = load_table(spark, sf_dir, "documents")
    # LEFT joins end-to-end: a token-less document has no fingerprint
    # row (simhash_df's explode emits nothing), but the oracle's
    # closure seeds from ALL documents — such a doc is its own
    # singleton component and must be KEPT, not silently dropped
    # (r8 self-review finding). ``sim`` is the checkpointed proxy from
    # _simhash_rep_components — joining it instead of a fresh
    # X.simhash_df(d) avoids re-tokenizing the corpus a third time.
    doc = (
        d.select("doc_id", "lang")
        .join(sim, "doc_id", "left")
        .join(comp, "simh", "left")
    )
    kept = F.col("doc_id") == F.coalesce(F.col("comp_id"), F.col("doc_id"))
    return doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.sum(F.when(~kept, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        (
            F.sum(
                F.when(
                    kept,
                    (X.hash56(F.col("doc_id").cast("string")) % _TRIM_MOD).cast(
                        "decimal(38,0)"
                    ),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            % _TRIM_MOD
        )
        .cast("bigint")
        .alias("kept_checksum"),
        F.min(F.when(~kept, F.col("doc_id"))).alias("min_dropped_id"),
    )


# ---------------------------------------------------------------------------
# Embedding quantization
# ---------------------------------------------------------------------------


@register(
    "q_llm_embed_quantize",
    oracle="""
        WITH v AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
        ), scaled AS (
            SELECT vec_id, x,
                   list_aggregate(list_transform(x, e -> abs(e)), 'max') AS max_abs,
                   127.0 / greatest(list_aggregate(list_transform(x, e -> abs(e)), 'max'),
                                    1e-12) AS scale
            FROM v
        )
        SELECT vec_id, max_abs,
               CAST(list_sum(list_transform(x, e ->
                   CAST(least(127, greatest(-127, floor(e * scale + 0.5))) AS BIGINT)))
                   AS BIGINT) AS checksum,
               CAST(len(list_filter(list_transform(x, e ->
                   CAST(least(127, greatest(-127, floor(e * scale + 0.5))) AS BIGINT)),
                   q -> abs(q) = 127)) AS BIGINT) AS n_saturated
        FROM scaled
    """,
    tags=("llm", "vector", "quantize"),
)
def q_llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization per embedding (the standard
    storage/serving compression before ANN indexing): scale =
    127/max|x|, q_i = clamp(floor(x_i·scale + 0.5), ±127).

    Every step is a single IEEE op on identical operands (explicit
    ``floor(x+0.5)`` rounding — built-in round() disagrees between
    engines on ties), so the integer checksum and saturation count
    hash-match DuckDB exactly. Map-only codegen: at 100 TB this is a
    pure scan-transform, no shuffle."""
    e = load_table(spark, sf_dir, "embeddings")
    x = F.col("embedding").cast("array<double>")
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v)))
    scale = F.lit(127.0) / F.greatest(max_abs, F.lit(1e-12))
    q = F.transform(
        x,
        lambda v: F.least(
            F.lit(127).cast("bigint"),
            F.greatest(F.lit(-127).cast("bigint"), F.floor(v * scale + F.lit(0.5))),
        ),
    )
    return e.select(
        "vec_id",
        max_abs.alias("max_abs"),
        F.aggregate(q, F.lit(0).cast("bigint"), lambda acc, v: acc + v).alias("checksum"),
        F.size(F.filter(q, lambda v: F.abs(v) == 127)).cast("bigint").alias("n_saturated"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

_DECON_SEED = "bench:"
_EVAL_PERMIL = 20  # ~2% of docs stand in for the held-out benchmark set
_DECON_K = 3  # shingle width shared with the dedup family
_DECON_FLAG_DEN = 8  # flag a doc when >= 1/8 of its shingles hit the eval set


def _is_eval() -> "F.Column":
    """The eval/train split of ``documents``: a doc is in the stand-in
    benchmark set when the seeded hash56 of its doc_id falls in the
    lowest _EVAL_PERMIL of 1000 buckets."""
    return (
        X.hash56(F.concat(F.lit(_DECON_SEED), F.col("doc_id").cast("string"))) % 1000
        < _EVAL_PERMIL
    )


@register(
    "q_llm_decontaminate",
    oracle=f"""
        WITH tagged AS (
            SELECT doc_id, lang, text,
                   ({X.oracle_hash56(f"'{_DECON_SEED}' || CAST(doc_id AS VARCHAR)")} % 1000)
                       < {_EVAL_PERMIL} AS is_eval
            FROM documents
        ),
        eval_sh AS (
            SELECT DISTINCT unnest(list_distinct(
                {X.oracle_shingles(X.oracle_tokens("text"), _DECON_K)})) AS s
            FROM tagged WHERE is_eval
        ),
        ex AS (
            SELECT doc_id, lang,
                   unnest(list_distinct(
                       {X.oracle_shingles(X.oracle_tokens("text"), _DECON_K)})) AS s
            FROM tagged WHERE NOT is_eval
        ),
        hits AS (
            SELECT e.doc_id, e.lang,
                   COUNT(*)::BIGINT AS n_sh,
                   COUNT(v.s)::BIGINT AS n_contam
            FROM ex e LEFT JOIN eval_sh v ON e.s = v.s
            GROUP BY e.doc_id, e.lang
        )
        SELECT lang,
               COUNT(*) AS n_train_docs,
               CAST(SUM(CASE WHEN n_contam * {_DECON_FLAG_DEN} >= n_sh THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_flagged,
               CAST(SUM(n_contam) AS BIGINT) AS total_hits,
               MIN(CASE WHEN n_contam * {_DECON_FLAG_DEN} >= n_sh THEN doc_id END)
                   AS min_flagged_id
        FROM hits
        GROUP BY lang
    """,
    tags=("llm", "dedup", "decontamination"),
)
def q_llm_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing
    3-gram shingles with a held-out eval set (the step every serious
    pretraining pipeline runs so test benchmarks don't leak into
    training data). The fixture has no separate benchmark table, so a
    deterministic ~2% hash-slice of `documents` stands in as the eval
    set — the same trick as q_llm_sample_stratified, reproducible on
    any engine.

    Scale shape: the eval side of the join is tiny by construction
    (real benchmark suites are megabytes against a 100 TB corpus), so
    it is explicitly `broadcast()` — the contamination check is then a
    map-side hash probe on each train shingle with NO shuffle of the
    corpus; the only shuffle is the per-doc count aggregation, keyed by
    uniformly-distributed doc_id. A doc is flagged when >= 1/8 of its
    distinct shingles hit the eval set (exact integer cross-multiply,
    no float threshold)."""
    d = load_table(spark, sf_dir, "documents")
    shl = F.array_distinct(X.shingles(X.tokens(F.col("text")), _DECON_K))
    tagged = d.select("doc_id", "lang", "text", _is_eval().alias("is_eval"))
    eval_sh = (
        tagged.where(F.col("is_eval"))
        .select(F.explode(shl).alias("s"))
        .distinct()
        .select("s", F.lit(1).alias("hit"))
    )
    # n_sh is recovered as COUNT(*) over the exploded rows (the array
    # is already distinct) instead of a sibling `size(shl)` column:
    # projection collapse would re-evaluate the whole tokenize→shingle→
    # distinct expression per EXPLODED row (~n_sh× duplicated work —
    # measured 33 s of a 38 s sf0.1 run before this shape).
    ex = tagged.where(~F.col("is_eval")).select(
        "doc_id", "lang", F.explode(shl).alias("s")
    )
    hits = (
        ex.join(F.broadcast(eval_sh), "s", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_sh"),
            F.count("hit").alias("n_contam"),
        )
    )
    flagged = F.col("n_contam") * _DECON_FLAG_DEN >= F.col("n_sh")
    return hits.groupBy("lang").agg(
        F.count("*").alias("n_train_docs"),
        F.sum(F.when(flagged, 1).otherwise(0)).cast("bigint").alias("n_flagged"),
        F.sum("n_contam").cast("bigint").alias("total_hits"),
        F.min(F.when(flagged, F.col("doc_id"))).alias("min_flagged_id"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------

_IDF_SCALE = 1_000_000


@register(
    "q_llm_tfidf_topterms",
    oracle=f"""
        WITH tf AS (
            SELECT doc_id, lang, term, COUNT(*)::BIGINT AS tf
            FROM (SELECT doc_id, lang, unnest({X.oracle_tokens("text")}) AS term
                  FROM documents)
            GROUP BY doc_id, lang, term
        ),
        dfreq AS (SELECT term, COUNT(*)::BIGINT AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*)::BIGINT AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.lang, tf.term,
                   tf.tf * ((n.n_docs * {_IDF_SCALE}) // dfreq.df) AS score
            FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
        ),
        top AS (
            SELECT lang, term, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, term ASC) AS rn
            FROM scored
        )
        SELECT lang, term AS top_term,
               COUNT(*) AS n_docs_top,
               CAST(MAX(score) AS BIGINT) AS max_score
        FROM top WHERE rn = 1
        GROUP BY lang, term
    """,
    tags=("llm", "text"),
)
def q_llm_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction with an EXACT integer weighting:
    score = tf * floor(N_docs * 1e6 / df). The floor-scaled idf ratio
    keeps the whole computation in BIGINT arithmetic — monotone in the
    classic tf·log(N/df) for fixed tf, and bit-identical across
    engines (a float log differs by ulps between libm implementations
    and is exactly the kind of cross-engine hash breaker this repo
    bans). Output: for each lang, how many documents have each term as
    their top-scored keyword, with a (score DESC, term ASC)
    deterministic tie-break.

    Scale shape: tf is one shuffle keyed by (doc_id, term); df is a
    vocabulary-sized aggregate of the tf table (map-side combined).
    The tf⋈df join key is Zipf-skewed ("the" is a heavy hitter) and
    its dim side is aggregate-fed — the shape AQE's skew-join rewrite
    can NOT split (OptimizeSkewedJoin needs bare shuffles directly
    under both Sort children; measured in tests/test_skew.py) and at
    100 TB the vocab outgrows the broadcast threshold — so the join
    pre-salts the bounded Zipf head deterministically
    (functions.skew.hot_salted_join: top-K hot terms replicated
    buckets×, big rows salted on hash(doc_id)). N_docs is a single
    bounded scalar (same class as the documented centroid collects).
    The per-doc top-1 is NOT a row_number window (sort + full shuffle
    of the doc×term table): it is ``min(struct(-score, term))`` — an
    ordinary aggregate with map-side partials, picking max score with
    the same (score DESC, term ASC) tie-break the oracle's ROW_NUMBER
    spells out."""
    from cheetah_spark.functions.skew import hot_salted_join

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    terms = d.select("doc_id", "lang", F.explode(X.tokens(F.col("text"))).alias("term"))
    # tf feeds the df rollup AND the scored join's big side; each lazy
    # reference re-runs the corpus explode + (doc, term) aggregate —
    # materialize the already-aggregated small-row table once
    tf = (
        terms.groupBy("doc_id", "lang", "term")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # hot-head detection from a seeded 5% sample — a heavy-hitter
    # ESTIMATE is as safe as the exact head (see hot_salted_join) and
    # avoids recomputing the full tokenize pipeline eagerly. The
    # statistic must be DOCUMENT frequency (distinct docs per term):
    # the skewed join key multiplicity is one tf row per (doc, term),
    # so a term repeated inside few docs is NOT hot here (round-5
    # review finding — an occurrence count would waste hot_k slots)
    probe = (
        d.sample(0.05, seed=7)
        .select("doc_id", F.explode(X.tokens(F.col("text"))).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    scored = hot_salted_join(
        tf, dfreq, "term", freq_col="df", salt_on="doc_id", hot_probe=probe
    ).select(
        "doc_id", "lang", "term",
        F.expr(f"tf * (CAST({n_docs * _IDF_SCALE} AS BIGINT) div df)").alias("score"),
    )
    top = (
        scored.groupBy("doc_id", "lang")
        .agg(F.min(F.struct((-F.col("score")).alias("ns"), F.col("term").alias("t"))).alias("m"))
        .select("lang", F.col("m.t").alias("top_term"), (-F.col("m.ns")).alias("score"))
    )
    return top.groupBy("lang", "top_term").agg(
        F.count("*").alias("n_docs_top"), F.max("score").alias("max_score")
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style)
# ---------------------------------------------------------------------------

_REP_TOP_NUM, _REP_TOP_DEN = 1, 5  # flag when top 2-gram >= 20% of 2-grams
_REP_DUP_NUM, _REP_DUP_DEN = 1, 2  # flag when duplicated 2-grams >= 50%


@register(
    "q_llm_repetition",
    oracle=f"""
        WITH ex AS (
            SELECT doc_id, lang,
                   unnest({X.oracle_shingles(X.oracle_tokens("text"), 2)}) AS g
            FROM documents
        ),
        cnt AS (
            SELECT doc_id, lang, g, COUNT(*)::BIGINT AS c
            FROM ex GROUP BY doc_id, lang, g
        ),
        per_doc AS (
            SELECT doc_id, lang,
                   CAST(SUM(c) AS BIGINT) AS n_2g,
                   COUNT(*)::BIGINT AS n_uniq_2g,
                   CAST(MAX(c) AS BIGINT) AS top_c,
                   CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_2g
            FROM cnt GROUP BY doc_id, lang
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN top_c * {_REP_TOP_DEN} >= n_2g * {_REP_TOP_NUM}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_top_heavy,
               CAST(SUM(CASE WHEN dup_2g * {_REP_DUP_DEN} >= n_2g * {_REP_DUP_NUM}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_heavy,
               CAST(SUM(dup_2g) AS BIGINT) AS total_dup_2g,
               CAST(SUM(n_2g) AS BIGINT) AS total_2g
        FROM per_doc
        GROUP BY lang
    """,
    tags=("llm", "quality"),
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals: the fraction of a document made
    of its single most-frequent 2-gram, and the fraction covered by any
    repeated 2-gram — the quality filters that catch boilerplate /
    template spam which per-token stats (q_llm_quality_score) miss.
    Thresholds are exact integer cross-multiplies (top 2-gram >= 1/5,
    duplicated 2-grams >= 1/2), never float ratios.

    Scale shape: explode to (doc, 2-gram) then two hash aggregations,
    both map-side combinable, keyed first by the uniformly-distributed
    (doc_id, gram) then by doc_id — no joins, no windows, no skew
    (a hot gram is still spread across docs). At 100 TB this is the
    same two-level-agg plan as q_hash_agg, linear in corpus size."""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select(
        "doc_id", "lang",
        F.explode(X.shingles(X.tokens(F.col("text")), 2)).alias("g"),
    )
    cnt = ex.groupBy("doc_id", "lang", "g").agg(F.count("*").alias("c"))
    per_doc = cnt.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("bigint").alias("n_2g"),
        F.count("*").alias("n_uniq_2g"),
        F.max("c").cast("bigint").alias("top_c"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).cast("bigint").alias("dup_2g"),
    )
    top_heavy = F.col("top_c") * _REP_TOP_DEN >= F.col("n_2g") * _REP_TOP_NUM
    dup_heavy = F.col("dup_2g") * _REP_DUP_DEN >= F.col("n_2g") * _REP_DUP_NUM
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(top_heavy, 1).otherwise(0)).cast("bigint").alias("n_top_heavy"),
        F.sum(F.when(dup_heavy, 1).otherwise(0)).cast("bigint").alias("n_dup_heavy"),
        F.sum("dup_2g").cast("bigint").alias("total_dup_2g"),
        F.sum("n_2g").cast("bigint").alias("total_2g"),
    )


# ---------------------------------------------------------------------------
# Sliding-window chunking
# ---------------------------------------------------------------------------

_CHUNK_W = 32  # tokens per training chunk
_CHUNK_S = 24  # stride (8-token overlap)
_CHUNK_FP_MOD = 1_000_000_007  # keeps the checksum sum far under int64


@register(
    "q_llm_chunk_windows",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, {X.oracle_tokens("text")} AS toks,
                   len({X.oracle_tokens("text")})::BIGINT AS n_tok
            FROM documents
        ),
        ch AS (
            SELECT doc_id, lang, toks, n_tok,
                   unnest(generate_series(0,
                       (greatest(n_tok - {_CHUNK_W}, 0) + {_CHUNK_S - 1}) // {_CHUNK_S})) AS ci
            FROM t
        ),
        chunk AS (
            SELECT doc_id, lang, ci,
                   least({_CHUNK_W}, n_tok - ci * {_CHUNK_S}) AS clen,
                   {X.oracle_hash56(
                       f"array_to_string(toks[ci * {_CHUNK_S} + 1 : "
                       f"ci * {_CHUNK_S} + least({_CHUNK_W}, n_tok - ci * {_CHUNK_S})], ' ')"
                   )} AS fp
            FROM ch
        )
        SELECT lang,
               COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_chunks,
               CAST(SUM(clen) AS BIGINT) AS sum_chunk_tokens,
               CAST(SUM(fp % {_CHUNK_FP_MOD}) AS BIGINT) AS fp_checksum,
               CAST(MAX(ci) + 1 AS BIGINT) AS max_chunks_per_doc
        FROM chunk
        GROUP BY lang
    """,
    tags=("llm", "chunking"),
)
def q_llm_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: split each document into overlapping
    32-token windows at stride 24 (the step that turns variable-length
    cleaned documents into fixed training contexts; window/stride are
    fixture-scaled — production uses e.g. 2048/1920, same plan). The
    per-chunk 56-bit content fingerprint makes the output verify chunk
    CONTENT, not just counts, and its modulo-sum checksum stays exact
    in BIGINT.

    Scale shape: map-only — tokenize, compute the chunk count
    arithmetically, explode a `sequence`, slice; no shuffle anywhere
    except the final per-lang aggregate. The chunk count per doc is
    ceil(max(n_tok - W, 0) / S) + 1, all integer ops, so Spark and
    DuckDB enumerate identical chunks and hash identical slices."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "lang", X.tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id", "lang", "toks", F.size("toks").cast("bigint").alias("n_tok")
    )
    n_chunks_m1 = F.expr(
        f"(greatest(n_tok - {_CHUNK_W}, CAST(0 AS BIGINT)) + {_CHUNK_S - 1}) div {_CHUNK_S}"
    )
    ch = t.select(
        "doc_id", "lang", "toks", "n_tok",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks_m1)).alias("ci"),
    )
    clen = F.least(F.lit(_CHUNK_W).cast("bigint"), F.col("n_tok") - F.col("ci") * _CHUNK_S)
    fp = X.hash56(
        F.array_join(F.slice(F.col("toks"), (F.col("ci") * _CHUNK_S + 1).cast("int"), clen.cast("int")), " ")
    )
    chunk = ch.select("doc_id", "lang", "ci", clen.alias("clen"), fp.alias("fp"))
    return chunk.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.sum("clen").cast("bigint").alias("sum_chunk_tokens"),
        F.sum(F.col("fp") % _CHUNK_FP_MOD).cast("bigint").alias("fp_checksum"),
        (F.max("ci") + 1).cast("bigint").alias("max_chunks_per_doc"),
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# The fixture text is synthetic word-salad with no natural PII, so a
# deterministic hash-selected ~30% of documents get PII-shaped spans
# APPENDED (derived from doc_id — identical injection in both engines,
# same stance as q_llm_embed_dedup's planted duplicates): the operator
# under test is the redaction, and zero-match redaction would verify
# nothing.
_PII_SEED = "pii:"
_PII_PERMIL = 300
# Only regex constructs valid in BOTH Java regex (Spark) and RE2
# (DuckDB): char classes, bounded repeats, \b ASCII word boundary.
_PII_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE_RE = r"\b555-[0-9]{4}\b"
_PII_IP_RE = r"\b10\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PII_FP_MOD = 1_000_003


def pii_redact_expr(col) -> "F.Column":
    """Redact PII-shaped spans (email / 555-phone / 10.x IP) with typed
    placeholders — one chained regexp_replace expression. THE single
    definition used by q_llm_pii_redact and the declarative
    ``pii_redact`` config transform."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(col, _PII_EMAIL_RE, "<EMAIL>"),
            _PII_PHONE_RE,
            "<PHONE>",
        ),
        _PII_IP_RE,
        "<IP>",
    )


@register(
    "q_llm_pii_redact",
    oracle=f"""
        WITH planted AS (
            SELECT doc_id, lang,
                   CASE WHEN ({X.oracle_hash56(f"'{_PII_SEED}' || CAST(doc_id AS VARCHAR)")}
                              % 1000) < {_PII_PERMIL}
                        THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@mail.example.com call 555-'
                             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                             || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
                             || '.' || CAST((doc_id // 7) % 256 AS VARCHAR)
                             || '.' || CAST((doc_id // 11) % 256 AS VARCHAR)
                        ELSE text END AS t,
                   ({X.oracle_hash56(f"'{_PII_SEED}' || CAST(doc_id AS VARCHAR)")}
                    % 1000) < {_PII_PERMIL} AS is_planted
            FROM documents
        ),
        red AS (
            SELECT doc_id, lang, is_planted,
                   len(regexp_extract_all(t, '{_PII_EMAIL_RE}'))::BIGINT AS n_email,
                   len(regexp_extract_all(t, '{_PII_PHONE_RE}'))::BIGINT AS n_phone,
                   len(regexp_extract_all(t, '{_PII_IP_RE}'))::BIGINT AS n_ip,
                   regexp_replace(regexp_replace(regexp_replace(t,
                       '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_PII_PHONE_RE}', '<PHONE>', 'g'),
                       '{_PII_IP_RE}', '<IP>', 'g') AS rt
            FROM planted
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN is_planted THEN 1 ELSE 0 END) AS BIGINT) AS n_planted,
               CAST(SUM(n_email) AS BIGINT) AS n_emails,
               CAST(SUM(n_phone) AS BIGINT) AS n_phones,
               CAST(SUM(n_ip) AS BIGINT) AS n_ips,
               CAST(SUM({X.oracle_hash56("rt")} % {_PII_FP_MOD}) AS BIGINT) AS fp_checksum
        FROM red
        GROUP BY lang
    """,
    tags=("llm", "pii", "redaction"),
)
def q_llm_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — the scrub every training-data pipeline runs
    before a corpus ships: emails, phone numbers, and private-range
    IPv4 addresses are replaced with typed placeholders, and the
    redacted text is content-fingerprinted so the check verifies the
    OUTPUT text, not just match counts.

    Scale shape: map-only — three sequential ``regexp_replace`` passes
    plus three ``regexp_count``s, all whole-stage-codegen JVM
    expressions (regex per row, no Python); the only shuffle is the
    per-lang summary. At 100 TB this is a pure scan-transform, the
    same linear shape as q_llm_fingerprint. Patterns use only the
    regex subset with identical semantics in Java and RE2 (classes,
    bounded repeats, ASCII ``\\b``), so both engines match identical
    spans."""
    d = load_table(spark, sf_dir, "documents")
    is_planted = (
        X.hash56(F.concat(F.lit(_PII_SEED), F.col("doc_id").cast("string"))) % 1000
        < _PII_PERMIL
    )
    suffix = F.concat(
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), F.expr("(doc_id div 7) % 256").cast("string"),
        F.lit("."), F.expr("(doc_id div 11) % 256").cast("string"),
    )
    t = F.when(is_planted, F.concat(F.col("text"), suffix)).otherwise(F.col("text"))
    rt = pii_redact_expr(t)
    red = d.select(
        "lang",
        is_planted.alias("is_planted"),
        F.regexp_count(t, F.lit(_PII_EMAIL_RE)).cast("bigint").alias("n_email"),
        F.regexp_count(t, F.lit(_PII_PHONE_RE)).cast("bigint").alias("n_phone"),
        F.regexp_count(t, F.lit(_PII_IP_RE)).cast("bigint").alias("n_ip"),
        rt.alias("rt"),
    )
    return red.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("is_planted"), 1).otherwise(0)).cast("bigint").alias("n_planted"),
        F.sum("n_email").cast("bigint").alias("n_emails"),
        F.sum("n_phone").cast("bigint").alias("n_phones"),
        F.sum("n_ip").cast("bigint").alias("n_ips"),
        F.sum(X.hash56(F.col("rt")) % _PII_FP_MOD).cast("bigint").alias("fp_checksum"),
    )


# ---------------------------------------------------------------------------
# Span-level (substring) duplication
# ---------------------------------------------------------------------------

_SPAN_K = 8  # token span width — long enough that collisions mean real reuse


@register(
    "q_llm_span_dedup",
    oracle=f"""
        WITH ex AS (
            SELECT doc_id, lang,
                   {X.oracle_hash56("s")} AS h
            FROM (
                SELECT doc_id, lang,
                       unnest(list_distinct(
                           {X.oracle_shingles(X.oracle_tokens("text"), _SPAN_K)})) AS s
                FROM documents
            )
        ),
        span_counts AS (
            SELECT h, COUNT(*)::BIGINT AS n_docs_with
            FROM ex GROUP BY h
        ),
        per_doc AS (
            SELECT e.doc_id, e.lang,
                   COUNT(*)::BIGINT AS n_spans,
                   CAST(SUM(CASE WHEN c.n_docs_with >= 2 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dup_spans
            FROM ex e JOIN span_counts c ON e.h = c.h
            GROUP BY e.doc_id, e.lang
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_spans) AS BIGINT) AS total_spans,
               CAST(SUM(n_dup_spans) AS BIGINT) AS dup_span_occurrences,
               CAST(SUM(CASE WHEN n_dup_spans > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_docs_affected,
               MIN(CASE WHEN n_dup_spans > 0 THEN doc_id END) AS min_affected_id
        FROM per_doc
        GROUP BY lang
    """,
    tags=("llm", "dedup", "span"),
)
def q_llm_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level (substring) duplication detection — the
    suffix-array-style "duplicated training spans" signal (Lee et al.,
    *Deduplicating Training Data Makes Language Models Better*),
    approximated distributed-style: every distinct 8-token rolling span
    is fingerprinted with the cross-engine 56-bit hash; a span that
    occurs in >= 2 distinct documents is duplicated text even when the
    documents as wholes are unique.

    Scale shape: ONE explode pass — per-span occurrence counts ride a
    count-over-window on the uniform span hash (value-identical to the
    groupBy+join spelling the oracle keeps, but the exploded stream is
    derived and shuffled once instead of twice), then one doc-keyed
    rollup. No cross joins; every shuffle key is a uniform 56-bit
    hash, so no skew at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    spans = F.array_distinct(X.shingles(X.tokens("text"), _SPAN_K))
    ex = d.select("doc_id", "lang", F.explode(spans).alias("s")).select(
        "doc_id", "lang", X.hash56(F.col("s")).alias("h")
    )
    # count-over-window ≡ the groupBy(h)+self-join spelling the oracle
    # keeps (each occurrence paired with its span's occurrence count),
    # but derives the exploded span stream ONCE and shuffles it once —
    # the join formulation re-ran the tokenize+shingle corpus pass for
    # both the agg and the probe side and shuffled the stream twice.
    # Window keys are uniform 56-bit hashes: no skew at any scale.
    counted = ex.withColumn(
        "n_docs_with", F.count("*").over(Window.partitionBy("h"))
    )
    per_doc = (
        counted
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.when(F.col("n_docs_with") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_spans"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_spans").cast("bigint").alias("total_spans"),
        F.sum("n_dup_spans").cast("bigint").alias("dup_span_occurrences"),
        F.sum(F.when(F.col("n_dup_spans") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_affected"),
        F.min(F.when(F.col("n_dup_spans") > 0, F.col("doc_id"))).alias("min_affected_id"),
    )


@register(
    "q_llm_span_trim",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, {X.oracle_tokens("text")} AS tk FROM documents
        ),
        tok AS (
            SELECT doc_id, lang, unnest(tk) AS tok,
                   generate_subscripts(tk, 1) AS pos
            FROM toks
        ),
        sh AS (
            SELECT doc_id, unnest(s) AS s, generate_subscripts(s, 1) AS spos
            FROM (SELECT doc_id,
                         {X.oracle_shingles("tk", _SPAN_K)} AS s
                  FROM toks)
        ),
        ex AS (SELECT doc_id, spos, {X.oracle_hash56("s")} AS h FROM sh),
        dup AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) >= 2),
        cov AS (
            SELECT DISTINCT e.doc_id, e.spos + r.range AS pos
            FROM ex e JOIN dup USING (h), range({_SPAN_K}) r
        ),
        per_doc AS (
            SELECT t.doc_id, t.lang,
                   COUNT(*)::BIGINT AS n_tok,
                   CAST(SUM(CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_cov,
                   COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN t.tok END,
                                       ' ' ORDER BY t.pos), '') AS trimmed
            FROM tok t LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos
            GROUP BY t.doc_id, t.lang
        )
        SELECT lang,
               COUNT(*)::BIGINT AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               CAST(SUM(n_cov) AS BIGINT) AS covered_tokens,
               CAST(SUM(CASE WHEN n_cov > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_docs_affected,
               CAST(SUM(CAST(({X.oracle_hash56("trimmed")}) % {_TRIM_MOD}
                             AS DECIMAL(38,0))) % {_TRIM_MOD} AS BIGINT)
                   AS trim_checksum,
               MIN(CASE WHEN n_cov > 0 THEN doc_id END) AS min_affected_id
        FROM per_doc
        GROUP BY lang
    """,
    tags=("llm", "dedup", "span", "transform"),
)
def q_llm_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup that REWRITES the corpus — the trim step
    of Lee et al.'s ExactSubstr dedup (*Deduplicating Training Data
    Makes Language Models Better*), at token-shingle granularity (the
    distributed stand-in for their suffix array): every token position
    covered by an 8-token span occurring >= 2 times in the corpus is
    removed, and each document is rebuilt from its surviving tokens.
    :func:`q_llm_span_dedup` reports the signal; this operator applies
    it — the output pins both the trim accounting (covered-token
    counts) and a checksum over the REWRITTEN texts, so the transform
    itself is hash-verified, not just its row count (the
    pii_redact/multimodal_resize integrity convention).

    Determinism: everything is exact integer/string ops — positions,
    hash56 span fingerprints, modular checksum of the rebuilt text.
    No floats anywhere.

    Scale shape: one shingle explode -> uniform-hash span count
    (map-side combinable) -> join back (uniform 56-bit keys, no skew);
    the k-wide position explode runs ONLY on duplicated span
    occurrences (the small minority in a real corpus — the fixture's
    duplicated-span mass is the worst case); covered positions
    distinct + the rebuild aggregate both shuffle on doc_id (uniform).
    Per-doc state in the rebuild is one token array — bounded by doc
    length, the same bound pack_sequences already carries."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", X.tokens(F.col("text")).alias("tk"))
    tok = toks.select(
        "doc_id", "lang", F.posexplode("tk").alias("pos0", "tok")
    ).select("doc_id", "lang", (F.col("pos0") + 1).alias("pos"), "tok")
    ex = toks.select(
        "doc_id", F.posexplode(X.shingles(F.col("tk"), _SPAN_K)).alias("spos0", "s")
    ).select("doc_id", (F.col("spos0") + 1).alias("spos"), X.hash56(F.col("s")).alias("h"))
    # count-over-window ≡ the groupBy(h)+join spelling the oracle keeps
    # (occurrences of spans seen >= 2 times survive), but the exploded
    # span stream is derived once and shuffled once — the join
    # formulation re-ran the tokenize+shingle pass for the dup agg and
    # the probe side both. Uniform 56-bit window keys: no skew.
    cov = (
        ex.withColumn("n", F.count("*").over(Window.partitionBy("h")))
        .where(F.col("n") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("spos"), F.col("spos") + (_SPAN_K - 1))).alias("pos"),
        )
        .distinct()
        .withColumn("covered", F.lit(True))
    )
    per_doc = (
        tok.join(cov, ["doc_id", "pos"], "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_tok"),
            F.sum(F.when(F.col("covered"), 1).otherwise(0)).cast("bigint").alias("n_cov"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("covered").isNull(), F.struct("pos", "tok"))
                        )
                    ),
                    lambda x: x["tok"],
                ),
                " ",
            ).alias("trimmed"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_cov").cast("bigint").alias("covered_tokens"),
        F.sum(F.when(F.col("n_cov") > 0, 1).otherwise(0)).cast("bigint").alias("n_docs_affected"),
        (F.sum((X.hash56(F.col("trimmed")) % _TRIM_MOD).cast("decimal(38,0)")) % _TRIM_MOD)
        .cast("bigint")
        .alias("trim_checksum"),
        F.min(F.when(F.col("n_cov") > 0, F.col("doc_id"))).alias("min_affected_id"),
    )


# ---------------------------------------------------------------------------
# Vocabulary induction + coverage
# ---------------------------------------------------------------------------

_VOCAB_V = 256  # induced vocabulary size


@register(
    "q_llm_vocab_coverage",
    oracle=f"""
        WITH tok AS (
            SELECT lang, unnest({X.oracle_tokens("text")}) AS w
            FROM documents
        ),
        counts AS (
            SELECT w, COUNT(*)::BIGINT AS n FROM tok GROUP BY w
        ),
        vocab AS (
            SELECT w FROM counts ORDER BY n DESC, w ASC LIMIT {_VOCAB_V}
        )
        SELECT t.lang,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN v.w IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_in_vocab,
               COUNT(DISTINCT t.w)::BIGINT AS n_distinct_words
        FROM tok t LEFT JOIN vocab v ON t.w = v.w
        GROUP BY t.lang
    """,
    tags=("llm", "vocab"),
)
def q_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction and coverage: build the top-V
    (V=256) global word vocabulary by (frequency DESC, word ASC — a
    total order, so the vocab is deterministic), then measure per-lang
    how much of the token stream the vocabulary covers — the
    first-order statistic a BPE trainer computes before merging.

    Scale shape: word counting is the canonical map-side-combine
    groupBy; top-V is a partial top-k per partition folded on the
    driver (TakeOrderedAndProject — never a global sort); the
    256-row vocab is broadcast back against the token stream. The
    token stream is exploded once and reused for both the counting
    and the coverage join."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("lang", F.explode(X.tokens("text")).alias("w"))
    # |words| rows, map-side combined before its one shuffle; the
    # checkpoint keeps the word-count corpus pass out of the coverage
    # join's broadcast rebuild (the top-V heap stays in the final plan)
    counts = tok.groupBy("w").agg(F.count("*").alias("n")).localCheckpoint()
    vocab = (
        counts.orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(_VOCAB_V)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        tok.join(F.broadcast(vocab), "w", "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.coalesce(F.col("in_vocab"), F.lit(0)))
            .cast("bigint")
            .alias("n_in_vocab"),
            F.countDistinct("w").alias("n_distinct_words"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle + shard assignment
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = "shuffle:"
_N_SHARDS = 16
_SHARD_CK_MOD = 1_000_003


@register(
    "q_llm_shuffle_shards",
    oracle=f"""
        WITH h AS (
            SELECT doc_id, length(text)::BIGINT AS n_bytes,
                   {X.oracle_hash56(f"'{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)")} AS h
            FROM documents
        ),
        pos AS (
            SELECT *, h % {_N_SHARDS} AS shard,
                   ROW_NUMBER() OVER (PARTITION BY h % {_N_SHARDS}
                                      ORDER BY h, doc_id) AS rn
            FROM h
        )
        SELECT shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
               MIN(h) AS min_h, MAX(h) AS max_h,
               CAST(SUM(rn * (h % {_SHARD_CK_MOD})) AS BIGINT) AS order_checksum
        FROM pos
        GROUP BY shard
    """,
    tags=("llm", "shuffle", "sharding"),
)
def q_llm_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle + shard assignment — the
    final write step of a training-data pipeline: every document gets a
    pseudo-random but reproducible position (order by
    ``hash56('shuffle:' || doc_id)``) inside a balanced shard
    (``hash % 16``), so any engine re-produces byte-identical training
    shards from the same corpus. The ``order_checksum`` folds each
    document's within-shard ROW_NUMBER into the hash so the oracle
    verifies the *order*, not just membership.

    Scale shape: the hash is uniform, so shards are balanced by
    construction; the within-shard sort is exactly what
    ``repartition(shard).sortWithinPartitions(h)`` does on a real
    write path — each shard sorts independently, no global sort, no
    skew. At 100 TB you raise _N_SHARDS to O(cluster cores) and this
    is the standard shuffle-write."""
    d = load_table(spark, sf_dir, "documents")
    h = X.hash56(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string")))
    base = d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_bytes"),
        h.alias("h"),
    ).withColumn("shard", F.col("h") % _N_SHARDS)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    pos = base.withColumn("rn", F.row_number().over(w))
    return pos.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.min("h").alias("min_h"),
        F.max("h").alias("max_h"),
        F.sum(F.col("rn") * (F.col("h") % _SHARD_CK_MOD)).cast("bigint").alias("order_checksum"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (constant-memory membership at scale)
# ---------------------------------------------------------------------------

_BLOOM_M = 1 << 18  # bits in the filter (2^18 = 32 KiB — fixture-sized;
# production sizes m to the eval-shingle count for the target FP rate)
_BLOOM_WORDS = _BLOOM_M // 32  # 32-bit words: shift stays < 63 (DuckDB checks shift overflow)
_BLOOM_K = 3  # hash functions per element
_BLOOM_SEEDS = tuple(f"bloom{i}:" for i in range(_BLOOM_K))


def _bloom_positions_spark(s: "F.Column") -> list:
    """k bit positions of a shingle: hash56 under k seeds, mod m."""
    return [X.hash56(s, seed=F.lit(seed)) % _BLOOM_M for seed in _BLOOM_SEEDS]


def bloom_words(eval_docs: DataFrame, col: str = "text", ngram: int = _DECON_K) -> DataFrame:
    """Build the Bloom filter from eval documents: their distinct
    ``ngram`` shingles -> k bit positions each -> OR-aggregated into
    (word_idx, word) rows, one per occupied 32-bit word (at most m/32).
    The one build of the registered operator, its streaming anchor and
    the ``decontaminate`` transform."""
    shl = F.array_distinct(X.shingles(X.tokens(F.col(col)), ngram))
    eval_sh = eval_docs.select(F.explode(shl).alias("s")).distinct()
    pos = eval_sh.select(F.explode(F.array(*_bloom_positions_spark(F.col("s")))).alias("pos"))
    return pos.groupBy((F.col("pos") / 32).cast("bigint").alias("word_idx")).agg(
        # SQL shiftleft: the bit count is a per-row column (the python
        # F.shiftleft wrapper only takes a literal int)
        F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")).alias("word")
    )


def bloom_slot_probe(train: DataFrame, bloom: DataFrame):
    """Probe each shingle ``s`` of ``train`` against the (word_idx,
    word) filter: one BROADCAST left join per hash function on the
    shingle's word slot. Returns the joined frame and the all-k-bits-set
    membership Column over it."""
    probed = train
    hit = F.lit(True)
    for i, p in enumerate(_bloom_positions_spark(F.col("s"))):
        b = F.broadcast(bloom.select(F.col("word_idx").alias(f"wi{i}"), F.col("word").alias(f"w{i}")))
        probed = probed.withColumn(f"pos{i}", p).join(
            b, (F.col(f"pos{i}") / 32).cast("bigint") == F.col(f"wi{i}"), "left"
        )
        bit = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(pos{i} % 32 AS INT))")
        hit = hit & (F.coalesce(F.col(f"w{i}"), F.lit(0)).bitwiseAND(bit) != 0)
    return probed, hit


def _oracle_bloom_positions(expr: str) -> list[str]:
    return [f"({X.oracle_hash56(expr, seed=repr(seed))} % {_BLOOM_M})" for seed in _BLOOM_SEEDS]


_BLOOM_ORACLE_POS = _oracle_bloom_positions("s")

_BLOOM_ORACLE = f"""
    WITH tagged AS (
        SELECT doc_id, lang, text,
               ({X.oracle_hash56(f"'{_DECON_SEED}' || CAST(doc_id AS VARCHAR)")} % 1000)
                   < {_EVAL_PERMIL} AS is_eval
        FROM documents
    ),
    eval_sh AS (
        SELECT DISTINCT unnest(list_distinct(
            {X.oracle_shingles(X.oracle_tokens("text"), _DECON_K)})) AS s
        FROM tagged WHERE is_eval
    ),
    eval_pos AS (
        {" UNION ALL ".join(f"SELECT {p} AS pos FROM eval_sh" for p in _BLOOM_ORACLE_POS)}
    ),
    bloom AS (
        SELECT pos // 32 AS word_idx,
               bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER)) AS word
        FROM eval_pos GROUP BY word_idx
    ),
    train_sh AS (
        SELECT doc_id, lang,
               unnest(list_distinct(
                   {X.oracle_shingles(X.oracle_tokens("text"), _DECON_K)})) AS s
        FROM tagged WHERE NOT is_eval
    ),
    probed AS (
        SELECT t.doc_id, t.lang,
               {" AND ".join(
                   f"COALESCE((SELECT word FROM bloom b WHERE b.word_idx = {p} // 32)"
                   f" & (1::BIGINT << CAST({p} % 32 AS INTEGER)), 0) != 0"
                   for p in _BLOOM_ORACLE_POS)} AS hit
        FROM train_sh t
    )
    SELECT lang,
           COUNT(DISTINCT doc_id) AS n_train_docs,
           CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_shingles,
           COUNT(DISTINCT CASE WHEN hit THEN doc_id END) AS n_flagged_docs,
           MIN(CASE WHEN hit THEN doc_id END) AS min_flagged_id
    FROM probed
    GROUP BY lang
"""


@register("q_llm_bloom_decontaminate", oracle=_BLOOM_ORACLE, tags=("llm", "decontamination", "bloom"))
def q_llm_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination via an explicit Bloom filter: eval-set shingles
    are folded into an m-bit filter (k seeded hash56 positions each,
    OR-aggregated into m/32 32-bit words), and every train shingle is
    probed against it — a shingle "hits" iff all k bits are set. False
    positives are inherent to a Bloom filter, but because both engines
    compute the identical integer hash/bit math, the flagged set is
    bit-for-bit reproducible and the oracle hash-matches exactly.

    Scale shape (the reason this exists next to the exact-join
    q_llm_decontaminate): the filter is CONSTANT memory (m bits)
    regardless of eval-set size, built with one tiny groupBy over eval
    shingle positions, and the probe side is a broadcast hash join of
    each train shingle's k word-slots against an m/32-row table — the
    100 TB corpus is never shuffled; membership costs k broadcast
    probes per shingle. This is the standard production trade: an
    exact semi-join re-checks only the Bloom survivors.
    """
    d = load_table(spark, sf_dir, "documents")
    shl = F.array_distinct(X.shingles(X.tokens(F.col("text")), _DECON_K))
    tagged = d.select("doc_id", "lang", "text", _is_eval().alias("is_eval"))
    # m/32 rows; each of the k probe joins below broadcasts its own
    # projection — without the checkpoint every broadcast re-runs the
    # eval-side shingle+hash build (k eval scans)
    bloom = bloom_words(tagged.where(F.col("is_eval"))).localCheckpoint()
    # each train shingle joins its k word slots (broadcast)
    train = tagged.where(~F.col("is_eval")).select("doc_id", "lang", F.explode(shl).alias("s"))
    probed, hit = bloom_slot_probe(train, bloom)
    probed = probed.withColumn("hit", hit)
    return probed.groupBy("lang").agg(
        F.countDistinct("doc_id").alias("n_train_docs"),
        F.sum(F.when(F.col("hit"), 1).otherwise(0)).cast("bigint").alias("n_hit_shingles"),
        F.countDistinct(F.when(F.col("hit"), F.col("doc_id"))).alias("n_flagged_docs"),
        F.min(F.when(F.col("hit"), F.col("doc_id"))).alias("min_flagged_id"),
    )


# ---------------------------------------------------------------------------
# Unigram language-model scoring (corpus-level perplexity signal)
# ---------------------------------------------------------------------------


@register(
    "q_llm_unigram_logprob",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest({X.oracle_tokens("text")}) AS tok
            FROM documents
        ),
        vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
        scored AS (
            SELECT tok, {oracle_snap('ln(cnt / total)', 6)} AS logp
            FROM vocab, tot
        ),
        per_doc AS (
            SELECT t.doc_id, t.lang,
                   COUNT(*) AS n_tok,
                   {oracle_dsum("s.logp")} AS sum_logp
            FROM tok t JOIN scored s ON t.tok = s.tok
            GROUP BY t.doc_id, t.lang
        )
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               {oracle_dsum2("sum_logp / n_tok", 4)} AS sum_mean_logp,
               {oracle_snap('MIN(sum_logp / n_tok)', 6)} AS min_mean_logp
        FROM per_doc
        GROUP BY lang
    """,
    tags=("llm", "quality", "language-model"),
)
def q_llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM scoring: train token frequencies over the corpus,
    then score each document by its mean token log-probability — the
    cheapest corpus-level perplexity signal (documents far below the
    per-lang mean are boilerplate/garbage candidates; far above are
    degenerate repetition).

    Determinism: p(tok) = cnt/total is one IEEE division of identical
    integers in both engines; ln() may differ by 1 ulp across libms, so
    each token's logp is snapped to 6 decimals (decimal-cast, the
    module convention for transcendentals) BEFORE the exact-decimal
    per-doc sum; the per-doc mean is a raw division of identical
    operands.

    Scale shape: one token-keyed aggregate builds the vocab (map-side
    combinable), one token-keyed join scores the corpus. The join key
    is Zipf-skewed ("the" is a heavy hitter) and the vocab side is
    aggregate-fed — the shape AQE skew-join can NOT split (measured:
    tests/test_skew.py::test_aqe_skew_join_blocked_by_aggregate_side),
    and a 100 TB vocabulary outgrows the broadcast threshold — so the
    bounded Zipf head is pre-salted deterministically
    (functions.skew.hot_salted_join; hottest tokens by cnt replicated
    buckets×, corpus rows salted on hash(doc_id)). The per-doc rollup
    then shuffles on uniformly-distributed doc_id."""
    from cheetah_spark.functions.skew import hot_salted_join

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(X.tokens(F.col("text"))).alias("tok"))
    # vocab feeds two branches (total, scored) and each lazy reference
    # re-derives the corpus tokenize+count; materialize the vocab-sized
    # table once
    vocab = tok.groupBy("tok").agg(F.count("*").alias("cnt")).localCheckpoint()
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("total"))
    scored = vocab.crossJoin(F.broadcast(total)).select(
        "tok", "cnt", snap(F.log(F.col("cnt") / F.col("total")), 6).alias("logp")
    )
    probe = (
        d.sample(0.05, seed=7)
        .select(F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = (
        hot_salted_join(tok, scored, "tok", freq_col="cnt", salt_on="doc_id", hot_probe=probe)
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tok"), dsum("logp").alias("sum_logp"))
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        dsum2(F.col("sum_logp") / F.col("n_tok"), 4).alias("sum_mean_logp"),
        snap(F.min(F.col("sum_logp") / F.col("n_tok")), 6).alias("min_mean_logp"),
    )


# Interpolated bigram LM: p(w2|w1) = λ·cnt2(w1 w2)/cnt1(w1)
# + (1−λ)·cnt1(w2)/total — the CCNet/KenLM-style perplexity filter one
# rung above the unigram signal (a doc full of real words in garbled
# ORDER scores normally under a unigram LM but poorly here).
_BG_LAMBDA = 0.7


@register(
    "q_llm_bigram_logprob",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest({X.oracle_tokens("text")}) AS tok FROM documents
        ),
        cnt1 AS (SELECT tok, COUNT(*)::BIGINT AS c1 FROM tok GROUP BY tok),
        total AS (SELECT CAST(SUM(c1) AS BIGINT) AS total FROM cnt1),
        bg AS (
            SELECT doc_id, lang, s,
                   string_split(s, ' ')[1] AS w1, string_split(s, ' ')[2] AS w2
            FROM (SELECT doc_id, lang,
                         unnest({X.oracle_shingles(X.oracle_tokens("text"), 2)}) AS s
                  FROM documents)
        ),
        cnt2 AS (SELECT s, COUNT(*)::BIGINT AS c2 FROM bg GROUP BY s),
        lm AS (
            SELECT c2.s,
                   {oracle_snap(
                       f"ln({_BG_LAMBDA} * (c2.c2::DOUBLE / u1.c1)"
                       f" + {1 - _BG_LAMBDA} * (u2.c1::DOUBLE / total.total))", 6)}
                       AS logp
            FROM cnt2 c2
            JOIN cnt1 u1 ON u1.tok = string_split(c2.s, ' ')[1]
            JOIN cnt1 u2 ON u2.tok = string_split(c2.s, ' ')[2], total
        ),
        per_doc AS (
            SELECT bg.doc_id, bg.lang,
                   COUNT(*)::BIGINT AS n_bg,
                   {oracle_dsum("lm.logp")} AS sum_logp
            FROM bg JOIN lm ON lm.s = bg.s
            GROUP BY bg.doc_id, bg.lang
        )
        SELECT lang,
               COUNT(*)::BIGINT AS n_docs,
               CAST(SUM(n_bg) AS BIGINT) AS total_bigrams,
               {oracle_dsum2("sum_logp / n_bg", 4)} AS sum_mean_logp,
               {oracle_snap('MIN(sum_logp / n_bg)', 6)} AS min_mean_logp
        FROM per_doc
        GROUP BY lang
    """,
    tags=("llm", "quality", "language-model"),
)
def q_llm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring — the CCNet-style perplexity
    filter one rung above :func:`q_llm_unigram_logprob`: train unigram
    and bigram counts over the corpus, score every document by its
    mean interpolated bigram log-probability
    ln(λ·p(w2|w1) + (1−λ)·p(w2)). Word ORDER now matters: shuffled or
    templated word salad that fools the unigram signal scores far
    below the per-lang mean here.

    Determinism: both probabilities are IEEE divisions of identical
    integers, the interpolation is a fixed-order double expression,
    and ln() is snapped to 6 decimals BEFORE the exact-decimal per-doc
    sums (the module convention for transcendentals).

    Scale shape — the unigram lesson applied one level up: the LM is
    composed entirely at the VOCAB level (bigram-vocab ⋈ unigram-vocab
    twice — both sides are aggregates ≪ corpus, uniform-enough keys),
    so the corpus-sized explode pays exactly ONE join, against the
    (pair → logp) relation — and that join key is Zipf-skewed with an
    aggregate-fed build side, the shape AQE cannot split
    (tests/test_skew.py), so the hot head is pre-salted via
    hot_salted_join with a sampled heavy-hitter probe. Per-doc and
    per-lang rollups shuffle on uniform keys."""
    from cheetah_spark.functions.skew import hot_salted_join

    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    tok = d.select(F.explode(toks).alias("tok"))
    # cnt1 feeds THREE branches (total, u1, u2) and each lazy reference
    # re-derives the full corpus tokenize+count; materialize the
    # vocab-sized table once (the unchanged plan ran the corpus explode
    # 5x: cnt1 x3, bg for cnt2, bg for the scoring join)
    cnt1 = tok.groupBy("tok").agg(F.count("*").alias("c1")).localCheckpoint()
    total = cnt1.agg(F.sum("c1").cast("bigint").alias("total"))
    bg = d.select(
        "doc_id", "lang", F.explode(X.shingles(toks, 2)).alias("s")
    )
    cnt2 = bg.groupBy("s").agg(F.count("*").alias("c2"))
    w = F.split(F.col("s"), " ")
    u1 = cnt1.select(F.col("tok").alias("w1"), F.col("c1").alias("c1_w1"))
    u2 = cnt1.select(F.col("tok").alias("w2"), F.col("c1").alias("c1_w2"))
    lm = (
        cnt2.select("s", "c2", w.getItem(0).alias("w1"), w.getItem(1).alias("w2"))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "s",
            snap(
                F.log(
                    F.lit(_BG_LAMBDA) * (F.col("c2") / F.col("c1_w1"))
                    + F.lit(1 - _BG_LAMBDA) * (F.col("c1_w2") / F.col("total"))
                ),
                6,
            ).alias("logp"),
            F.col("c2"),
        )
    )
    probe = (
        d.sample(0.05, seed=11)
        .select(F.explode(X.shingles(X.tokens(F.col("text")), 2)).alias("s"))
        .groupBy("s")
        .agg(F.count("*").alias("c2"))
    )
    per_doc = (
        hot_salted_join(bg, lm, "s", freq_col="c2", salt_on="doc_id", hot_probe=probe)
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_bg"), dsum("logp").alias("sum_logp"))
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bg").cast("bigint").alias("total_bigrams"),
        dsum2(F.col("sum_logp") / F.col("n_bg"), 4).alias("sum_mean_logp"),
        snap(F.min(F.col("sum_logp") / F.col("n_bg")), 6).alias("min_mean_logp"),
    )


# ---------------------------------------------------------------------------
# Domain mixture
# ---------------------------------------------------------------------------

_MIX_ALPHA_SQRT = True  # α = 0.5 temperature (share^α via sqrt)


@register(
    "q_llm_domain_mix",
    oracle=f"""
        WITH per AS (
            SELECT source,
                   COUNT(*)::BIGINT AS n_docs,
                   CAST(SUM(len({X.oracle_tokens("text", X.TOKEN_RE)})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY source
        ), tot AS (
            SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM per
        ), s AS (
            SELECT source, n_docs, n_tokens,
                   n_tokens::DOUBLE / total::DOUBLE AS token_share,
                   CAST(sqrt(n_tokens::DOUBLE / total::DOUBLE) AS DECIMAL(38,12)) AS sq
            FROM per, tot
        ), z AS (
            SELECT SUM(sq) AS zsum FROM s
        )
        SELECT source, n_docs, n_tokens, token_share,
               CAST(sq AS DOUBLE) / CAST(zsum AS DOUBLE) AS mix_weight,
               (CAST(sq AS DOUBLE) / CAST(zsum AS DOUBLE)) / token_share AS upsample
        FROM s, z
    """,
    tags=("llm", "curation", "mixture"),
)
def q_llm_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting — the sampling-weight table a
    pretraining pipeline derives before shard assembly: per-source doc
    and (BPE-ish) token counts, the source's natural token share, and a
    temperature-smoothed sampling weight w_i ∝ share_i^0.5 (α = 0.5 —
    the multilingual-corpus temperature-sampling scheme of the XLM-R /
    mT5 line of work: flattens head domains, upsamples tail ones), plus
    the resulting upsample factor w_i/share_i.

    Determinism/oracle notes: counts are exact BIGINTs; share is ONE
    IEEE division of exact ints; the normalizer Σ sqrt(share) would be
    an order-dependent double sum, so each sqrt is snapped to
    DECIMAL(38,12) and summed exactly (partitioning-independent), then
    converted once — every float in the output is reproducible
    bit-for-bit on any cluster and hash-matches DuckDB.

    Scale: one groupBy(source) over a map-only token-count scan plus a
    broadcast of the (tiny) per-source table against two scalar
    aggregates. The 100 TB plan is a single shuffle on the domain key
    with map-side combine."""
    d = load_table(spark, sf_dir, "documents")
    # |sources| rows; referenced by tot, s, and (via s) z and the final
    # select — the checkpoint keeps the corpus token-count scan at ONE
    # (measured: 4 documents scans in the lazy plan)
    per = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(X.tokens(F.col("text"), X.TOKEN_RE))).cast("long").alias("n_tokens"),
    ).localCheckpoint()
    tot = per.agg(F.sum("n_tokens").cast("long").alias("total"))
    share = F.col("n_tokens").cast("double") / F.col("total").cast("double")
    s = per.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "n_tokens",
        share.alias("token_share"),
        F.sqrt(share).cast("decimal(38,12)").alias("sq"),
    )
    z = s.agg(F.sum("sq").alias("zsum"))
    weight = F.col("sq").cast("double") / F.col("zsum").cast("double")
    return s.crossJoin(F.broadcast(z)).select(
        "source", "n_docs", "n_tokens", "token_share",
        weight.alias("mix_weight"),
        (weight / F.col("token_share")).alias("upsample"),
    )


# ---------------------------------------------------------------------------
# Weighted sampling (Efraimidis–Spirakis exponential keys)
# ---------------------------------------------------------------------------

_WS_K = 8  # sample size per lang stratum
_WS_SEED = "wsample:"
_WS_U_DIV = 72057594037927936  # 2^56 — hash56 range, exact in a double


@register(
    "q_llm_weighted_sample",
    oracle=f"""
        WITH keyed AS (
            SELECT lang, doc_id, n_chars,
                   {oracle_snap(
                       "ln(CAST(("
                       + X.oracle_hash56(f"'{_WS_SEED}' || CAST(doc_id AS VARCHAR)")
                       + f") + 1 AS DOUBLE) / CAST({_WS_U_DIV} AS DOUBLE))", 6)}
                       / n_chars AS es_key
            FROM documents
            WHERE n_chars > 0
        ),
        ranked AS (
            SELECT lang, doc_id, n_chars, es_key,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY es_key DESC, doc_id) AS rk
            FROM keyed
        )
        SELECT lang, rk, doc_id, n_chars, es_key
        FROM ranked WHERE rk <= {_WS_K}
    """,
    tags=("llm", "sampling", "weighted"),
)
def q_llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement per stratum — the
    Efraimidis–Spirakis exponential-key scheme (A-ES, Inf. Process.
    Lett. 2006): each doc draws key u^(1/w) (here the order-equivalent
    ln(u)/w with w = n_chars, so longer documents are proportionally
    more likely); the top-k keys per stratum ARE a weighted sample
    without replacement. One pass, no RNG state: u derives from
    hash56(seed || doc_id), so the identical sample falls out on any
    cluster, any partitioning, any engine — the reproducibility
    property :func:`q_llm_sample_stratified` has, extended to
    importance weights.

    Determinism: u = (hash56+1)/2^56 is one IEEE division of identical
    integers; ln(u) is snapped to 6 decimals (module transcendental
    convention) BEFORE the division by the exact-int weight, so the
    key is bit-identical in both engines; ties (possible after the
    snap) break on doc_id in both ORDER BYs.

    Scale: key assignment is map-only codegen; the per-stratum top-k
    is rank<=k over a window, which Spark executes as
    WindowGroupLimit — each map task keeps only its local top-k per
    stratum BEFORE the shuffle (pinned in tests/test_plans.py), so the
    exchange moves O(k·strata·tasks) rows, not the corpus. This is the
    weighted complement of the reservoir shape: at 100 TB the sample
    materializes in one scan."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        X.hash56(F.concat(F.lit(_WS_SEED), F.col("doc_id").cast("string"))) + F.lit(1)
    ).cast("double") / F.lit(float(_WS_U_DIV))
    # weight guard (round-6 advice): w = n_chars = 0 would divide the
    # snapped ln(u) by zero — NULL in Spark, -inf under DuckDB's IEEE
    # division — a latent cross-engine ordering divergence. A 0-weight
    # doc has zero selection probability under A-ES semantics anyway,
    # so both plans exclude it up front.
    keyed = d.where(F.col("n_chars") > 0).select(
        "lang", "doc_id", "n_chars", (snap(F.log(u), 6) / F.col("n_chars")).alias("es_key")
    )
    w = Window.partitionBy("lang").orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _WS_K)
        .select("lang", "rk", "doc_id", "n_chars", "es_key")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance-weighted data selection
# ---------------------------------------------------------------------------

_DSIR_TARGET = "en"  # the target-domain stratum the selector matches


@register(
    "q_llm_dsir_select",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest({X.oracle_tokens("text")}) AS tok
            FROM documents
        ),
        raw AS (SELECT tok, COUNT(*)::BIGINT AS cr FROM tok GROUP BY tok),
        tgt AS (SELECT tok, COUNT(*)::BIGINT AS ct FROM tok
                WHERE lang = '{_DSIR_TARGET}' GROUP BY tok),
        tots AS (
            SELECT CAST(SUM(cr) AS BIGINT) AS total_r,
                   CAST(COUNT(*) AS BIGINT) AS vsize,
                   CAST((SELECT SUM(ct) FROM tgt) AS BIGINT) AS total_t
            FROM raw
        ),
        lm AS (
            SELECT r.tok,
                   {oracle_snap(
                       "ln((CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE)"
                       " * CAST(tots.total_r + tots.vsize AS DOUBLE))"
                       " / (CAST(r.cr + 1 AS DOUBLE)"
                       " * CAST(tots.total_t + tots.vsize AS DOUBLE)))", 6)} AS llr
            FROM raw r LEFT JOIN tgt t ON r.tok = t.tok, tots
        ),
        per_doc AS (
            SELECT k.doc_id, k.lang,
                   COUNT(*)::BIGINT AS n_tok,
                   {oracle_dsum("lm.llr")} AS sum_llr
            FROM tok k JOIN lm ON k.tok = lm.tok
            GROUP BY k.doc_id, k.lang
        ),
        stats AS (
            SELECT lang, {oracle_davg("sum_llr / n_tok")} AS mean_llr
            FROM per_doc GROUP BY lang
        )
        SELECT d.lang,
               COUNT(*)::BIGINT AS n_docs,
               CAST(SUM(CASE WHEN d.sum_llr / d.n_tok > s.mean_llr
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
               {oracle_dsum2(
                   "CASE WHEN d.sum_llr / d.n_tok > s.mean_llr"
                   " THEN d.sum_llr / d.n_tok ELSE 0 END", 4)} AS sum_sel_llr,
               MIN(CASE WHEN d.sum_llr / d.n_tok > s.mean_llr
                        THEN d.doc_id END) AS min_sel_id,
               MAX(CASE WHEN d.sum_llr / d.n_tok > s.mean_llr
                        THEN d.doc_id END) AS max_sel_id
        FROM per_doc d JOIN stats s ON d.lang = s.lang
        GROUP BY d.lang
    """,
    tags=("llm", "selection", "language-model"),
)
def q_llm_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance-weighted data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by its mean per-token log importance ratio
    ln(p_target/p_raw) under two add-one-smoothed unigram LMs — the
    target LM trained on the 'en' stratum (standing in for the
    high-quality target corpus, e.g. Wikipedia), the raw LM on
    everything — then
    select the documents above their stratum's mean ratio. The
    deterministic threshold stands in for DSIR's Gumbel resampling
    step; the RANDOMIZED companion is :func:`q_llm_weighted_sample`,
    which can consume these weights directly.

    Determinism: both LMs are exact integer counts; the smoothed ratio
    is two double multiplies and one divide of identical operands in a
    fixed association, ln snapped to 6 decimals pre-sum (module
    convention); per-doc mean and per-lang mean are divisions of exact
    decimal sums by counts. The > comparison sees bit-identical
    doubles in both engines.

    Scale (the unigram_logprob shape, one level up): BOTH LMs compose
    at the vocab level — the raw vocab aggregate left-joins the target
    vocab aggregate (token-keyed, both sides ≪ corpus) and broadcasts
    two scalar totals; the corpus-sized token explode then pays
    exactly ONE join, against the (tok → llr) relation, Zipf-head
    pre-salted via hot_salted_join (AQE cannot split aggregate-fed
    skew joins — tests/test_skew.py). Per-lang stats broadcast back
    over 5 rows. No sort anywhere: selection is a threshold, not a
    rank, so the 100 TB plan is two vocab shuffles + one salted corpus
    join + one doc-keyed aggregate."""
    from cheetah_spark.functions.skew import hot_salted_join

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(X.tokens(F.col("text"))).alias("tok"))
    # raw and tgt each feed two branches (their scalar total + the lm
    # join); materialize the vocab-sized aggregates once instead of
    # re-running the corpus explode per reference
    raw = tok.groupBy("tok").agg(F.count("*").alias("cr")).localCheckpoint()
    tgt = (
        tok.where(F.col("lang") == _DSIR_TARGET)
        .groupBy("tok")
        .agg(F.count("*").alias("ct"))
        .localCheckpoint()
    )
    tots = raw.agg(
        F.sum("cr").cast("bigint").alias("total_r"), F.count("*").cast("bigint").alias("vsize")
    )
    ttot = tgt.agg(F.sum("ct").cast("bigint").alias("total_t"))
    llr = F.log(
        (
            (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast("double")
            * (F.col("total_r") + F.col("vsize")).cast("double")
        )
        / (
            (F.col("cr") + F.lit(1)).cast("double")
            * (F.col("total_t") + F.col("vsize")).cast("double")
        )
    )
    lm = (
        raw.join(tgt, "tok", "left")
        .crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(ttot))
        .select("tok", "cr", snap(llr, 6).alias("llr"))
    )
    probe = (
        d.sample(0.05, seed=7)
        .select(F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cr"))
    )
    per_doc = (
        hot_salted_join(tok, lm, "tok", freq_col="cr", salt_on="doc_id", hot_probe=probe)
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tok"), dsum("llr").alias("sum_llr"))
        # referenced by BOTH the per-lang mean and the selection join —
        # without this the whole salted scoring pass runs twice
        .localCheckpoint()
    )
    avg = F.col("sum_llr") / F.col("n_tok")
    stats = per_doc.groupBy("lang").agg(davg(avg).alias("mean_llr"))
    sel = avg > F.col("mean_llr")
    return (
        per_doc.join(F.broadcast(stats), "lang")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(sel, 1).otherwise(0)).cast("bigint").alias("n_selected"),
            dsum2(F.when(sel, avg).otherwise(F.lit(0.0)), 4).alias("sum_sel_llr"),
            F.min(F.when(sel, F.col("doc_id"))).alias("min_sel_id"),
            F.max(F.when(sel, F.col("doc_id"))).alias("max_sel_id"),
        )
    )


# ---------------------------------------------------------------------------
# Dataset card
# ---------------------------------------------------------------------------


@register(
    "q_llm_dataset_card",
    oracle=f"""
        SELECT lang,
               COUNT(*)::BIGINT AS n_docs,
               COUNT(DISTINCT source)::BIGINT AS n_sources,
               CAST(SUM(len({X.oracle_tokens("text", X.TOKEN_RE)})) AS BIGINT)
                   AS total_tokens,
               SUM(n_chars)::BIGINT AS total_chars,
               {oracle_snap("quantile_cont(n_chars, 0.5)")} AS p50_chars,
               {oracle_snap("quantile_cont(n_chars, 0.9)")} AS p90_chars,
               COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
                   ::BIGINT AS n_distinct_fp
        FROM documents GROUP BY lang
    """,
    tags=("llm", "curation", "report"),
)
def q_llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-language dataset card every training-data pipeline
    publishes with a corpus drop: volume (docs, chars, BPE-ish
    tokens), provenance breadth (distinct sources), length shape
    (exact p50/p90 chars, the q_exact_percentile shared-buffer +
    snap convention), and exact-duplicate structure (distinct
    content fingerprints — n_docs − n_distinct_fp IS the removable
    exact-dup mass, the first number a dedup pass is sized by).

    One hash-partial aggregation per language: every measure is
    map-side combinable except the two COUNT(DISTINCT)s, which Spark
    plans as expand+two-phase aggregation — still one shuffle keyed
    by lang, no per-doc pairs materialized. At 100 TB this is a scan
    + one lang-keyed exchange."""
    from cheetah_spark.functions.text import norm_text

    d = load_table(spark, sf_dir, "documents")
    pcts = F.percentile("n_chars", F.array(F.lit(0.5), F.lit(0.9)))
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.sum(F.size(X.tokens(F.col("text"), X.TOKEN_RE)))
            .cast("bigint")
            .alias("total_tokens"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            pcts.alias("pcts"),
            F.countDistinct(F.md5(norm_text(F.col("text"))))
            .cast("bigint")
            .alias("n_distinct_fp"),
        )
        .select(
            "lang",
            "n_docs",
            "n_sources",
            "total_tokens",
            "total_chars",
            snap(F.element_at("pcts", 1)).alias("p50_chars"),
            snap(F.element_at("pcts", 2)).alias("p90_chars"),
            "n_distinct_fp",
        )
    )


# --------------------------------------------------------------------------
# URL-level dedup (round 10): the step-1 operator of web-scale curation
# pipelines — CCNet / RefinedWeb dedupe fetched pages by CANONICAL URL
# before any content pass. The fixture tables carry no URLs, so a messy
# URL is derived deterministically per document (case-varied scheme and
# host, tracking params, param-order variance, fragments, and a
# path-space small enough to force real collisions), and ONE
# canonicalization spec — lowercase scheme/host, strip leading www.,
# drop utm_* tracking params, sort the remaining query params, drop the
# fragment — is expressed twice: in pure Catalyst built-ins here and in
# ANSI SQL in the oracle. Any divergence between the two readings of
# the spec is a hash mismatch.

_URL_PATHS = 97  # distinct pages: ~50 docs/page at sf0.1 -> real dup mass


def _messy_url_expr():
    """The deterministic messy URL (Catalyst): variance in everything
    canonicalization must normalize."""
    scheme = F.when(F.col("doc_id") % 2 == 0, "https").otherwise("HTTP")
    host_case = F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("source"))).otherwise(
        F.col("source")
    )
    www = F.when(F.col("doc_id") % 5 == 0, "WWW.").otherwise("")
    page = (F.col("doc_id") % _URL_PATHS).cast("string")
    params = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("a=1&utm_source=feed&b="), page),
    ).otherwise(F.concat(F.lit("b="), page, F.lit("&utm_campaign=x&a=1")))
    frag = F.concat(F.lit("#sec"), (F.col("doc_id") % 4).cast("string"))
    return F.concat(
        scheme, F.lit("://"), www, host_case, F.lit(".example.com/p/"), page,
        F.lit("?"), params, frag,
    )


def _canonical_url_sql(url: str) -> str:
    """The canonicalization spec as Spark SQL text over the SQL
    expression ``url`` (Catalyst built-ins only): lowercase scheme+host,
    strip leading www., drop utm_* params, sort remaining params, drop
    the fragment. The one definition every caller parses; DuckDB
    mirror: :func:`_canon_url_sql`."""
    kept = (
        rf"array_join(array_sort(filter(split(regexp_extract({url}, '\\?([^#]*)', 1), '&'),"
        " p -> NOT startswith(p, 'utm_') AND p != '')), '&')"
    )
    return (
        f"concat(lower(regexp_extract({url}, '^([A-Za-z]+)://', 1)), '://',"
        rf" regexp_replace(lower(regexp_extract({url}, '^[A-Za-z]+://([^/?#]+)', 1)), '^www\\.', ''),"
        f" regexp_extract({url}, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1),"
        f" CASE WHEN {kept} != '' THEN concat('?', {kept}) ELSE '' END)"
    )


def _canonical_url_expr(url) -> "F.Column":
    """:func:`_canonical_url_sql` over ``url`` (a column name or a
    Column) as one parsed Column."""
    return F.expr(_canonical_url_sql(X.sql_of(url)))


# the fixture's messy-URL derivation and the canonicalization, as
# standalone DuckDB fragments (shared by the url-dedup oracle and the
# declarative fineweb-chain oracle, queries/declarative.py)
_MESSY_URL_EXPR_SQL = f"""(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END)
                   || '://'
                   || (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END)
                   || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
                   || '.example.com/p/' || CAST(doc_id % {_URL_PATHS} AS VARCHAR)
                   || '?'
                   || (CASE WHEN doc_id % 2 = 0
                        THEN 'a=1&utm_source=feed&b=' || CAST(doc_id % {_URL_PATHS} AS VARCHAR)
                        ELSE 'b=' || CAST(doc_id % {_URL_PATHS} AS VARCHAR) || '&utm_campaign=x&a=1' END)
                   || '#sec' || CAST(doc_id % 4 AS VARCHAR)"""


def _canon_url_sql(url: str = "url") -> str:
    """DuckDB mirror of :func:`_canonical_url_sql` over column ``url``."""
    return f"""lower(regexp_extract({url}, '^([A-Za-z]+)://', 1)) || '://'
                   || regexp_replace(lower(regexp_extract({url}, '^[A-Za-z]+://([^/?#]+)', 1)),
                                     '^www\\.', '')
                   || regexp_extract({url}, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
                   || (CASE WHEN array_to_string(list_sort(list_filter(
                              string_split(regexp_extract({url}, '\\?([^#]*)', 1), '&'),
                              p -> NOT starts_with(p, 'utm_') AND p <> '')), '&') <> ''
                        THEN '?' || array_to_string(list_sort(list_filter(
                              string_split(regexp_extract({url}, '\\?([^#]*)', 1), '&'),
                              p -> NOT starts_with(p, 'utm_') AND p <> '')), '&')
                        ELSE '' END)"""


_URL_DEDUP_ORACLE = f"""
        WITH urls AS (
            SELECT doc_id, source,
                   {_MESSY_URL_EXPR_SQL} AS url
            FROM documents
        ),
        canon AS (
            SELECT doc_id, source, url,
                   {_canon_url_sql("url")} AS curl
            FROM urls
        ),
        keep AS (
            SELECT curl, MIN(doc_id) AS keep_id, COUNT(*)::BIGINT AS n_fetches
            FROM canon GROUP BY curl
        )
        SELECT c.source,
               COUNT(*)::BIGINT AS n_docs,
               COUNT(DISTINCT c.curl)::BIGINT AS n_pages,
               CAST(SUM(CASE WHEN c.doc_id <> k.keep_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped,
               CAST(SUM(CASE WHEN k.n_fetches >= 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_in_dup_groups
        FROM canon c JOIN keep k ON c.curl = k.curl
        GROUP BY c.source
    """


@register(
    "q_llm_url_dedup",
    oracle=_URL_DEDUP_ORACLE,
    tags=("llm", "curation", "dedup", "url"),
)
def q_llm_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup: canonicalize (lowercase scheme/host, strip
    www., drop utm_* tracking params, sort remaining params, drop
    fragment — all Catalyst built-ins, regexp/filter/array_sort, no
    Python UDF), group fetches by canonical URL, keep-min per page,
    report per-source drop mass.

    Scale shape: one map-only canonicalization pass, then ONE shuffle
    on the canonical-URL key — keep-min and fetch count ride a
    curl-partitioned window (value-identical to the groupBy+join
    spelling the oracle keeps, without re-deriving or re-shuffling the
    fetch rows). URL hot-heads are the pathological skew case and
    would route through functions/skew.hot_salted_join like any Zipf
    key. At 100 TB this is exactly the CommonCrawl step-1 plan:
    nothing touches document text."""
    d = load_table(spark, sf_dir, "documents")
    urls = d.select("doc_id", "source", _messy_url_expr().alias("url"))
    canon = urls.select(
        "doc_id", "source", _canonical_url_expr("url").alias("curl")
    )
    # min/count over a curl-partitioned window ≡ the groupBy+join
    # spelling the oracle keeps (each fetch paired with its page's
    # keep-min and fetch count), but the regexp-heavy canonicalization
    # pass runs ONCE and the fetch rows shuffle once — the join
    # formulation derived canon twice and shuffled it twice when the
    # page side outgrows broadcast (always, at 100 TB)
    wc = Window.partitionBy("curl")
    keyed = canon.select(
        "doc_id", "source", "curl",
        F.min("doc_id").over(wc).alias("keep_id"),
        F.count("*").over(wc).cast("bigint").alias("n_fetches"),
    )
    return (
        keyed
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_distinct("curl").cast("bigint").alias("n_pages"),
            F.sum(F.when(F.col("doc_id") != F.col("keep_id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(F.when(F.col("n_fetches") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_in_dup_groups"),
        )
    )


def _url_pages_report(pages: DataFrame) -> DataFrame:
    """Drained per-(source, curl) state (keep_id, n_fetches) → the
    batch dedup report. keep-min is GLOBAL per canonical URL — a page
    fetched from several sources keeps exactly one doc corpus-wide —
    so the rollup first reduces the STATE rows per curl (global min
    doc_id + global fetch total: doc_ids are unique, so the global
    keeper's own (source, curl) group is the one whose local min
    equals the global min) and joins that page-level side back. Both
    sides of the join are state-sized (O(live pages)), never
    fetch-sized, so 'the drained state alone yields the report' holds
    without any functional dependency between curl and source (the
    fixture happens to embed source in the host; production URLs
    don't).

    Semantics note (ADVICE r12): ``n_pages`` counts pages the source
    FETCHED (its state rows), while ``n_docs - n_dropped`` counts pages
    whose GLOBAL keeper lives in that source. With cross-source
    canonical URLs these legitimately diverge — a source that fetched a
    page but lost the global keep-min contributes to n_pages yet drops
    every fetch. The invariant ``n_docs - n_dropped == n_pages`` (the
    older per-stratum test) therefore holds only when curl functionally
    determines source, as in the registered fixture; corpus-wide,
    SUM(n_docs - n_dropped) == |distinct curl| always holds."""
    g = pages.groupBy("curl").agg(
        F.min("keep_id").alias("g_keep"),
        F.sum("n_fetches").alias("g_fetches"),
    )
    return (
        pages.join(g, "curl")
        .groupBy("source")
        .agg(
            F.sum("n_fetches").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_pages"),
            F.sum(
                F.col("n_fetches")
                - (F.col("keep_id") == F.col("g_keep")).cast("int")
            )
            .cast("bigint")
            .alias("n_dropped"),
            F.sum(F.when(F.col("g_fetches") >= 2, F.col("n_fetches")).otherwise(0))
            .cast("bigint")
            .alias("n_in_dup_groups"),
        )
    )


def url_dedup_live_state(canon_stream: DataFrame, ttl_seconds: int) -> DataFrame:
    """TTL-aged keyed URL state: a STREAMING (doc_id, source, curl)
    frame → the drained LIVE per-(source, curl) state
    (keep_id, n_fetches) after aging out URLs not re-fetched within
    ``ttl_seconds`` of event time (event time = doc_id seconds — the
    replay feeds arrive doc_id-ordered, documents_stream_dir contract).

    This is the unbounded-ingest answer the complete-mode MIN/COUNT
    aggregation cannot give: at true 100 TB ingest |live canonical
    URLs| itself grows without bound, so state must age. Mechanism is
    the s_sec_impossible_travel discipline — applyInPandasWithState,
    one (keep_id, n_fetches, last_seen) entry per key, with an
    EVENT-TIME timeout at last_seen + ttl: when the watermark passes
    it, the key is evicted and emits a tombstone. Every update emits
    the current state stamped with the batch's watermark, so the
    drained spool resolves per key to its LATEST emission via
    :func:`resolve_latest_url_state` — the watermark strictly advances
    between a key's update and its later eviction (timeout > stamping
    wm), but an eviction and a subsequent REBIRTH can tie on wm, which
    the resolver breaks toward the live row (evicted ASC);
    a URL re-fetched AFTER eviction deliberately starts a fresh window
    — that is what TTL aging means. With ttl >= the corpus's event
    span nothing evicts and the live state equals the un-aged state
    bit-for-bit (the conformance gate in tests)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window

    from cheetah_spark.streaming import run_stream_to_files

    # base offset: the engine's initial watermark is epoch 0 and the
    # late filter is inclusive, so doc_id 0 at epoch 0 would be dropped
    withts = canon_stream.withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") + F.lit(86400))
    ).withWatermark("ts", "0 seconds")

    def update(key, pdfs, state):
        if state.hasTimedOut:
            keep_id, n_fetches, _last = state.get
            wm = state.getCurrentWatermarkMs()
            state.remove()
            yield pd.DataFrame(
                {
                    "source": [key[0]],
                    "curl": [key[1]],
                    "keep_id": [keep_id],
                    "n_fetches": [n_fetches],
                    "wm": [wm],
                    "evicted": [True],
                }
            )
            return
        # per-key per-batch body at URL-keyspace call rates: single-
        # chunk fast path + numpy extrema instead of pandas Series ops
        chunks = list(pdfs)
        rows = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
        ids = rows["doc_id"].to_numpy()
        mn = int(ids.min())
        cnt = int(len(ids))
        last = int(ids.max())
        if state.exists:
            pmn, pcnt, plast = state.get
            mn, cnt, last = min(mn, pmn), cnt + pcnt, max(last, plast)
        state.update((mn, cnt, last))
        # event-time timeout must sit strictly above the watermark;
        # 86400 is the event-time base offset applied to doc_id above
        state.setTimeoutTimestamp(
            max(
                (last + 86400 + ttl_seconds) * 1000,
                state.getCurrentWatermarkMs() + 1,
            )
        )
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "curl": [key[1]],
                "keep_id": [mn],
                "n_fetches": [cnt],
                "wm": [state.getCurrentWatermarkMs()],
                "evicted": [False],
            }
        )

    spool = run_stream_to_files(
        withts,
        lambda df: df.groupBy("source", "curl").applyInPandasWithState(
            update,
            outputStructType=(
                "source string, curl string, keep_id long, n_fetches long, "
                "wm long, evicted boolean"
            ),
            stateStructType="keep_id long, n_fetches long, last long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        ),
        output_mode="update",
    )
    return resolve_latest_url_state(spool)


def resolve_latest_url_state(spool: DataFrame) -> DataFrame:
    """Resolve a drained url-dedup update spool (one row per emission,
    stamped (wm, evicted)) to each key's LATEST live state.

    Ordering: ``wm DESC, evicted ASC, n_fetches DESC``. The watermark
    is monotone but NOT strictly increasing between batches, so wm
    alone cannot order an eviction against a rebirth that lands before
    the watermark advances — they tie on wm, and the tombstone's larger
    n_fetches must not outrank the reborn window (it would silently
    drop a live key). ``evicted ASC`` breaks that tie toward the live
    row, which is safe in the other direction too: an eviction can
    never share a wm with an EARLIER update of the same key, because
    the timeout is always set strictly above the stamping watermark
    (``max(..., wm+1)`` in the update fn), so the eviction batch's
    watermark strictly exceeds every prior update's stamp. Among live
    rows tying on wm, n_fetches is monotone within a window, so
    n_fetches DESC picks the newest."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("source", "curl").orderBy(
        F.col("wm").desc(), F.col("evicted").asc(), F.col("n_fetches").desc()
    )
    return (
        spool.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & ~F.col("evicted"))
        .select("source", "curl", "keep_id", "n_fetches")
    )


@register(
    "s_llm_url_dedup",
    # the literal batch oracle: the drained keyed state must roll up to
    # the batch dedup report bit-for-bit
    oracle=_URL_DEDUP_ORACLE,
    tags=("streaming", "llm", "curation", "dedup", "url"),
)
def s_llm_url_dedup(
    spark: SparkSession, sf_dir: str, ttl_seconds: int | None = None
) -> DataFrame:
    """STREAMING URL-level dedup — the at-ingest execution of
    :func:`q_llm_url_dedup`, hash-verified against the SAME batch
    oracle: canonicalization is a pure per-row map (identical Catalyst
    expression, shared builders), and keep-min-per-page is a keyed
    MIN/COUNT aggregation — both order-insensitive, so the streaming
    result is deterministic regardless of how the replay slices
    batches (the s_sec_first_seen state discipline: a dropDuplicates
    formulation would depend on within-batch arrival and could not be
    hash-gated).

    Shape: keyed state per (source, curl) carrying exactly one
    (keep_id = MIN(doc_id), n_fetches = COUNT(*)) entry per live
    (source, page) pair — the bounded-entity state class (state ~
    |pages|, not |fetches|). The drained state alone determines the
    batch report via :func:`_url_pages_report`, whose global-per-curl
    reduction runs over STATE rows — the batch plan's fetch-level
    agg-to-agg join disappears entirely at ingest, and cross-source
    canonical URLs roll up to the same global keeper the batch
    operator picks.

    ``ttl_seconds`` selects the state engine: None (the registered
    contract path) runs a complete-mode Catalyst MIN/COUNT aggregation;
    a value routes through :func:`url_dedup_live_state`, which ages
    URLs not re-fetched within the TTL out of the store via an
    event-time timeout — the production knob for unbounded ingest,
    where |live URLs| itself grows without bound. A TTL at least the
    corpus's event span drains state identical to the un-aged path
    (tests/test_curation.py pins both: oracle equality with a large
    TTL, eviction with a small one)."""
    from cheetah_spark.queries.streams import scoped_state_partitions
    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import documents_stream_dir, run_stream_to_completion

    src_dir = documents_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)

    def canon_frame(df: DataFrame) -> DataFrame:
        urls = df.select("doc_id", "source", _messy_url_expr().alias("url"))
        return urls.select(
            "doc_id", "source", _canonical_url_expr("url").alias("curl")
        )

    with scoped_state_partitions(spark):
        if ttl_seconds is not None:
            pages = url_dedup_live_state(canon_frame(stream), ttl_seconds)
        else:
            pages = run_stream_to_completion(
                stream,
                lambda df: canon_frame(df).groupBy("source", "curl").agg(
                    F.min("doc_id").alias("keep_id"),
                    F.count("*").alias("n_fetches"),
                ),
                output_mode="complete",
            )
            # the report self-joins the drained state; a memory-sink
            # view can't resolve its own references twice — cut the
            # lineage (state-sized frame, distributed, no collect)
            pages = pages.localCheckpoint(eager=False)
    return _url_pages_report(pages)


@register(
    "s_llm_url_dedup_ttl",
    # same batch oracle: with a TTL ≥ the corpus's event span nothing
    # evicts, so the TTL engine must drain to the un-aged report
    # bit-for-bit — the conformance law the pytest gate already pins
    oracle=_URL_DEDUP_ORACLE,
    tags=("streaming", "llm", "curation", "dedup", "url", "ttl"),
)
def s_llm_url_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-knob path of :func:`s_llm_url_dedup` as its own
    contract query (r12 verdict item #4): route through
    :func:`url_dedup_live_state` — applyInPandasWithState keyed
    (source, curl) state with an EVENT-TIME timeout — with a TTL (10^7 s)
    at least the fixture's event span, so the driver hash-gates the
    aging engine itself (state update, timeout stamping, spool
    resolution via :func:`resolve_latest_url_state`, report rollup)
    against the SAME DuckDB batch oracle as the un-aged path. The
    small-TTL behaviors (eviction, rebirth, watermark-tie resolution)
    stay pinned in tests/test_curation.py — they are unreachable by a
    batch SQL oracle by construction."""
    return s_llm_url_dedup(spark, sf_dir, ttl_seconds=10**7)


# ---------------------------------------------------------------------------
# Gopher rule battery (Rae et al. 2021, Table A1)
# ---------------------------------------------------------------------------

# The seven published Gopher quality rules, each as an exact integer
# cross-multiply (never a float ratio compare):
#   R1 word count outside [50, 100000]
#   R2 mean word length outside [3, 10]
#   R3 symbol-to-word ratio ('#' or '...') > 0.1
#   R4 > 90% of lines start with a bullet
#   R5 > 30% of lines end with an ellipsis
#   R6 < 80% of words contain an alphabetic character
#   R7 fewer than 2 of the 8 Gopher stop words present
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_noisy_text_expr():
    """Deterministic web-noise derivation (fixture synthesis, same spec
    in the oracle): the parquet corpus is clean single-line prose, so a
    genre switch on ``doc_id % 7`` rewrites each doc into one of the
    pathological shapes the Gopher rules exist to catch — bullet lists,
    ellipsis-truncated link farms, symbol soup, stub pages, digit junk,
    concatenated-word spam — leaving genre 6 as the raw document."""
    toks = X.tokens(F.col("text"))
    g = F.col("doc_id") % 7
    return (
        F.when(g == 0, F.array_join(F.transform(toks, lambda t: F.concat(F.lit("- "), t)), "\n"))
        .when(g == 1, F.array_join(F.transform(toks, lambda t: F.concat(t, F.lit("..."))), "\n"))
        .when(g == 2, F.array_join(toks, " # "))
        .when(g == 3, F.array_join(F.slice(toks, 1, 10), " "))
        .when(g == 4, F.array_join(F.transform(toks, lambda t: F.lit("4242")), " "))
        .when(g == 5, F.array_join(F.transform(toks, lambda t: F.concat(t, t, t)), " "))
        .otherwise(F.concat(F.col("text"), F.lit(" and that is the end of it")))
    )


_GOPHER_ORACLE_TOKS = X.oracle_tokens("text")
_GOPHER_ORACLE_NOISY = f"""
            CASE doc_id % 7
              WHEN 0 THEN array_to_string(list_transform({_GOPHER_ORACLE_TOKS}, t -> '- ' || t), chr(10))
              WHEN 1 THEN array_to_string(list_transform({_GOPHER_ORACLE_TOKS}, t -> t || '...'), chr(10))
              WHEN 2 THEN array_to_string({_GOPHER_ORACLE_TOKS}, ' # ')
              WHEN 3 THEN array_to_string(({_GOPHER_ORACLE_TOKS})[1:10], ' ')
              WHEN 4 THEN array_to_string(list_transform({_GOPHER_ORACLE_TOKS}, t -> '4242'), ' ')
              WHEN 5 THEN array_to_string(list_transform({_GOPHER_ORACLE_TOKS}, t -> t || t || t), ' ')
              ELSE text || ' and that is the end of it'
            END
"""

_GOPHER_ORACLE_STOP_SUM = " + ".join(
    f"list_contains({X.oracle_tokens('nt')}, '{w}')::INT" for w in _GOPHER_STOPWORDS
)


_GOPHER_RULES_ORACLE = f"""
        WITH noisy AS (
            SELECT doc_id, lang, doc_id % 7 AS genre, {_GOPHER_ORACLE_NOISY} AS nt
            FROM documents
        ),
        feats AS (
            SELECT doc_id, lang, genre,
                   len(list_filter(string_split_regex(nt, '\\s+'), x -> x <> ''))::BIGINT AS n_w,
                   CAST(coalesce(list_sum(list_transform(
                       list_filter(string_split_regex(nt, '\\s+'), x -> x <> ''),
                       w -> length(w))), 0) AS BIGINT) AS sum_wlen,
                   len(list_filter(string_split(nt, chr(10)), x -> x <> ''))::BIGINT AS n_lines,
                   len(list_filter(string_split(nt, chr(10)),
                       x -> starts_with(ltrim(x), '- ') OR starts_with(ltrim(x), '* ')))::BIGINT AS n_bullet,
                   len(list_filter(string_split(nt, chr(10)),
                       x -> ends_with(rtrim(x), '...')))::BIGINT AS n_ell_lines,
                   (length(nt) - length(replace(nt, '#', '')))::BIGINT AS cnt_hash,
                   ((length(nt) - length(replace(nt, '...', ''))) // 3)::BIGINT AS cnt_ell,
                   len(list_filter(
                       list_filter(string_split_regex(nt, '\\s+'), x -> x <> ''),
                       w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS n_alpha,
                   ({_GOPHER_ORACLE_STOP_SUM})::BIGINT AS n_stop
            FROM noisy
        ),
        rules AS (
            SELECT lang, genre,
                   (n_w < {_GOPHER_MIN_WORDS} OR n_w > {_GOPHER_MAX_WORDS}) AS r_wordcount,
                   (sum_wlen < 3 * n_w OR sum_wlen > 10 * n_w) AS r_meanlen,
                   ((cnt_hash + cnt_ell) * 10 > n_w) AS r_symbol,
                   (n_bullet * 10 > 9 * n_lines) AS r_bullet,
                   (n_ell_lines * 10 > 3 * n_lines) AS r_ellipsis,
                   (n_alpha * 10 < 8 * n_w) AS r_alpha,
                   (n_stop < 2) AS r_stopword
            FROM feats
        )
        SELECT lang, genre,
               COUNT(*)::BIGINT AS n_docs,
               CAST(SUM(r_wordcount::INT) AS BIGINT) AS f_wordcount,
               CAST(SUM(r_meanlen::INT) AS BIGINT) AS f_meanlen,
               CAST(SUM(r_symbol::INT) AS BIGINT) AS f_symbol,
               CAST(SUM(r_bullet::INT) AS BIGINT) AS f_bullet,
               CAST(SUM(r_ellipsis::INT) AS BIGINT) AS f_ellipsis,
               CAST(SUM(r_alpha::INT) AS BIGINT) AS f_alpha,
               CAST(SUM(r_stopword::INT) AS BIGINT) AS f_stopword,
               CAST(SUM(CASE WHEN NOT (r_wordcount OR r_meanlen OR r_symbol OR r_bullet
                                       OR r_ellipsis OR r_alpha OR r_stopword)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_keep
        FROM rules
        GROUP BY lang, genre
    """


@register(
    "q_llm_gopher_rules",
    oracle=_GOPHER_RULES_ORACLE,
    tags=("llm", "curation", "quality", "gopher"),
)
def q_llm_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021 Table A1, the
    filter set reused verbatim by FineWeb / Dolma / RedPajama-v2) with
    per-rule drop accounting: each of the seven published rules is an
    exact integer cross-multiply over word/line/symbol features, and the
    output is the per-(lang, genre) count of documents failing each rule
    plus the surviving mass — the per-rule attribution table a curation
    run reports before committing a filter config.

    Scale shape: the entire battery is map-only Catalyst expressions
    over each document (split / filter / aggregate higher-order funcs,
    no Python), followed by ONE hash aggregate keyed by the tiny
    (lang, genre) space — partial aggregation makes the shuffle carry
    ~35 rows per executor regardless of corpus size. At 100 TB this is
    a pure scan-side pass, the cheapest possible plan shape.

    The reference has no quality operators (its only compute hook is
    the 1→N Handler, reference types.go:122-135); this extends the
    curation family per SURVEY.md §2B."""
    d = load_table(spark, sf_dir, "documents")
    return _gopher_rollup(_gopher_judged(d))


def gopher_feat_exprs(nt) -> dict:
    """The Gopher features over a text column (a column name or a
    Column), as Spark SQL text: feature name → expression. Map-only
    Catalyst higher-order functions, no Python. Spelled once, as SQL,
    so every caller parses the same definition (DuckDB mirror:
    :func:`gopher_fail_sql`)."""
    t = X.sql_of(nt)
    words = rf"filter(split({t}, '\\s+'), x -> x != '')"
    lines = rf"filter(split({t}, '\n'), x -> x != '')"
    toks = X.tokens_sql(t)
    return {
        "n_w": f"CAST(size({words}) AS BIGINT)",
        "sum_wlen": f"aggregate({words}, CAST(0 AS BIGINT), (acc, w) -> acc + length(w))",
        "n_lines": f"CAST(size({lines}) AS BIGINT)",
        "n_bullet": (
            f"CAST(size(filter({lines}, x -> startswith(ltrim(x), '- ')"
            " OR startswith(ltrim(x), '* '))) AS BIGINT)"
        ),
        "n_ell_lines": f"CAST(size(filter({lines}, x -> endswith(rtrim(x), '...'))) AS BIGINT)",
        "cnt_hash": f"CAST(length({t}) - length(replace({t}, '#', '')) AS BIGINT)",
        "cnt_ell": f"CAST((length({t}) - length(replace({t}, '...', ''))) / 3 AS BIGINT)",
        "n_alpha": f"CAST(size(filter({words}, w -> w RLIKE '[A-Za-z]')) AS BIGINT)",
        "n_stop": "CAST(0 + "
        + " + ".join(f"CAST(array_contains({toks}, '{w}') AS INT)" for w in _GOPHER_STOPWORDS)
        + " AS BIGINT)",
    }


def gopher_rule_sql(feat) -> dict:
    """The seven published Gopher rules (Rae et al. 2021 Table A1) as
    Spark SQL booleans over the feature expressions — exact integer
    cross-multiplies, never float ratio compares. ``feat`` maps feature
    name → SQL text: :func:`gopher_feat_exprs` output for a single-pass
    expression, or the feature names over a materialized feature
    projection. Insertion order is the f_* report column order."""
    f = {k: f"({v})" for k, v in feat.items()}
    n_w = f["n_w"]
    return {
        "wordcount": f"({n_w} < {_GOPHER_MIN_WORDS} OR {n_w} > {_GOPHER_MAX_WORDS})",
        "meanlen": f"({f['sum_wlen']} < 3 * {n_w} OR {f['sum_wlen']} > 10 * {n_w})",
        "symbol": f"(({f['cnt_hash']} + {f['cnt_ell']}) * 10 > {n_w})",
        "bullet": f"({f['n_bullet']} * 10 > 9 * {f['n_lines']})",
        "ellipsis": f"({f['n_ell_lines']} * 10 > 3 * {f['n_lines']})",
        "alpha": f"({f['n_alpha']} * 10 < 8 * {n_w})",
        "stopword": f"({f['n_stop']} < 2)",
    }


def gopher_rule_exprs(feat) -> dict:
    """:func:`gopher_rule_sql` as parsed boolean Columns."""
    return {k: F.expr(v) for k, v in gopher_rule_sql(feat).items()}


def gopher_fail_sql(col: str, rules: tuple = None) -> str:
    """DuckDB boolean expression: document column ``col`` fails ANY of
    the named Gopher rules — the oracle mirror of the declarative
    `gopher_rules` filter transform (config.py), rule for rule the
    same integer cross-multiplies as :func:`gopher_rule_sql`."""
    words = f"list_filter(string_split_regex({col}, '\\s+'), x -> x <> '')"
    lines = f"list_filter(string_split({col}, chr(10)), x -> x <> '')"
    n_w = f"len({words})::BIGINT"
    sum_wlen = f"CAST(coalesce(list_sum(list_transform({words}, w -> length(w))), 0) AS BIGINT)"
    n_lines = f"len({lines})::BIGINT"
    n_bullet = (
        f"len(list_filter({lines}, x -> starts_with(ltrim(x), '- ')"
        f" OR starts_with(ltrim(x), '* ')))::BIGINT"
    )
    n_ell = f"len(list_filter({lines}, x -> ends_with(rtrim(x), '...')))::BIGINT"
    cnt_hash = f"(length({col}) - length(replace({col}, '#', '')))::BIGINT"
    cnt_ell = f"((length({col}) - length(replace({col}, '...', ''))) // 3)::BIGINT"
    n_alpha = f"len(list_filter({words}, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT"
    n_stop = (
        "("
        + " + ".join(
            f"list_contains({X.oracle_tokens(col)}, '{w}')::INT" for w in _GOPHER_STOPWORDS
        )
        + ")::BIGINT"
    )
    exprs = {
        "wordcount": f"({n_w} < {_GOPHER_MIN_WORDS} OR {n_w} > {_GOPHER_MAX_WORDS})",
        "meanlen": f"({sum_wlen} < 3 * {n_w} OR {sum_wlen} > 10 * {n_w})",
        "symbol": f"(({cnt_hash} + {cnt_ell}) * 10 > {n_w})",
        "bullet": f"({n_bullet} * 10 > 9 * {n_lines})",
        "ellipsis": f"({n_ell} * 10 > 3 * {n_lines})",
        "alpha": f"({n_alpha} * 10 < 8 * {n_w})",
        "stopword": f"({n_stop} < 2)",
    }
    use = rules if rules is not None else tuple(exprs)
    return "(" + " OR ".join(exprs[r] for r in use) + ")"


def _gopher_judged(docs: DataFrame) -> DataFrame:
    """Map-only Gopher judging of a (doc_id, lang, text) frame: noise
    derivation, the seven integer-cross-multiply rules, per-doc verdict
    booleans — shared verbatim by the batch operator and the streaming
    twin (stateless, so micro-batch slicing cannot change a verdict)."""
    noisy = docs.select(
        "doc_id", "lang", (F.col("doc_id") % 7).alias("genre"),
        _gopher_noisy_text_expr().alias("nt"),
    )
    fx = gopher_feat_exprs("nt")
    feats = noisy.selectExpr("lang", "genre", *[f"{v} AS {k}" for k, v in fx.items()])
    rules = gopher_rule_sql({k: k for k in fx})
    return feats.selectExpr("lang", "genre", *[f"{v} AS r_{k}" for k, v in rules.items()])


def _gopher_rollup(rules: DataFrame) -> DataFrame:
    keep = ~(
        F.col("r_wordcount") | F.col("r_meanlen") | F.col("r_symbol") | F.col("r_bullet")
        | F.col("r_ellipsis") | F.col("r_alpha") | F.col("r_stopword")
    )
    return rules.groupBy("lang", "genre").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        *[
            F.sum(F.col(f"r_{r}").cast("int")).cast("bigint").alias(f"f_{r}")
            for r in ("wordcount", "meanlen", "symbol", "bullet", "ellipsis", "alpha", "stopword")
        ],
        F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias("n_keep"),
    )


@register(
    "s_llm_gopher_filter",
    oracle=_GOPHER_RULES_ORACLE,
    tags=("streaming", "llm", "curation", "quality", "gopher"),
)
def s_llm_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Gopher quality filtering — the rule battery applied to
    documents as they ARRIVE (the s_llm_c4_filter discipline, closing
    the last quality battery without an at-ingest execution): each
    micro-batch runs the identical map-only judged projection
    (_gopher_judged, shared with q_llm_gopher_rules), the per-doc
    verdict rows spool to parquet via foreachBatch (executors write,
    the driver holds nothing), and the final rollup over the spool
    must hash-match the batch operator's oracle VERBATIM — the battery
    is stateless, so admission slicing cannot change a single verdict.

    Scale shape: zero streaming state, engine floor + the map work;
    the micro-batch is fanned out to every core before judging (the
    single-row-group replay files would otherwise pin each batch to
    one scan partition — the r9 starvation fix)."""
    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import documents_stream_dir, run_stream_to_files

    src_dir = documents_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    fanout = spark.sparkContext.defaultParallelism
    sunk = run_stream_to_files(
        stream,
        lambda df: _gopher_judged(df.repartition(fanout)),
        output_mode="append",
    )
    return _gopher_rollup(sunk)


# ---------------------------------------------------------------------------
# C4 rule battery (Raffel et al. 2020, §2.2)
# ---------------------------------------------------------------------------

# The published C4 cleaning heuristics, split exactly as the paper does:
# line-level retention (terminal punctuation, >= 3 words, no
# 'javascript') REWRITES each page; page-level gates ('lorem ipsum',
# curly brace, badword, >= 5 retained lines) drop whole pages. The
# badword list stands in for the public LDNOOBW list the paper cites
# (one declared token, injected by the fixture derivation below).
_C4_MIN_LINE_WORDS = 3
_C4_MIN_PAGE_LINES = 5
_C4_BADWORDS = ("badword",)
_C4_FP_MOD = 1_000_000_007  # checksum-sum convention (q_llm_chunk_windows)


def _c4_noisy_page_expr():
    """Deterministic web-page derivation (fixture synthesis, same spec
    in the oracle): the clean one-line corpus is rewritten into a
    multi-line page — 4-token lines whose terminal punctuation cycles
    on ``(doc_id + line) % 5`` (period / bang / none / a 'javascript'
    line / question mark) — and a poison tail keyed on doc_id injects
    the three page-level C4 triggers ('lorem ipsum', a curly brace, a
    badword) at fixed low rates."""
    # the token array is LET-BOUND (the shingles() r13 discipline):
    # mk_line's slice would otherwise re-run the full-text
    # regexp_extract_all once per line index — O(len²) per doc
    def _lines_of(tk):
        n = F.size(tk)
        idx = F.sequence(F.lit(0), F.floor((n - F.lit(1)) / 4).cast("int"))

        def mk_line(i):
            body = F.array_join(F.slice(tk, i * 4 + 1, 4), " ")
            m = (F.col("doc_id") + i) % 5
            return (
                F.when(m == 0, F.concat(body, F.lit(".")))
                .when(m == 1, F.concat(body, F.lit("!")))
                .when(m == 2, body)
                .when(m == 3, F.concat(body, F.lit(" javascript required.")))
                .otherwise(F.concat(body, F.lit("?")))
            )

        return F.when(n < 1, F.array().cast("array<string>")).otherwise(
            F.transform(idx, mk_line)
        )

    lines = F.get(F.transform(F.array(X.tokens(F.col("text"))), _lines_of), 0)
    empty = F.array().cast("array<string>")
    poison = [
        F.when(F.col("doc_id") % 17 == 0, F.array(F.lit("lorem ipsum dolor sit amet."))).otherwise(empty),
        F.when(F.col("doc_id") % 19 == 3, F.array(F.lit("var f = function() {"))).otherwise(empty),
        F.when(F.col("doc_id") % 23 == 5, F.array(F.lit("this page contains badword."))).otherwise(empty),
    ]
    return F.array_join(F.concat(lines, *poison), "\n")


_C4_ORACLE_PAGE = f"""
            array_to_string(
              CASE WHEN len({_GOPHER_ORACLE_TOKS}) < 1 THEN []::VARCHAR[]
                   ELSE list_transform(
                       generate_series(0, (len({_GOPHER_ORACLE_TOKS}) - 1) // 4),
                       i -> array_to_string(({_GOPHER_ORACLE_TOKS})[i * 4 + 1 : i * 4 + 4], ' ')
                            || CASE (doc_id + i) % 5
                                 WHEN 0 THEN '.'
                                 WHEN 1 THEN '!'
                                 WHEN 2 THEN ''
                                 WHEN 3 THEN ' javascript required.'
                                 ELSE '?'
                               END)
              END
              || (CASE WHEN doc_id % 17 = 0 THEN ['lorem ipsum dolor sit amet.'] ELSE []::VARCHAR[] END)
              || (CASE WHEN doc_id % 19 = 3 THEN ['var f = function() {{'] ELSE []::VARCHAR[] END)
              || (CASE WHEN doc_id % 23 = 5 THEN ['this page contains badword.'] ELSE []::VARCHAR[] END),
              chr(10))
"""

_C4_ORACLE_LINE_KEEP = (
    "(ends_with(x, '.') OR ends_with(x, '!') OR ends_with(x, '?') OR ends_with(x, '\"'))"
    f" AND len(list_filter(string_split_regex(x, '\\s+'), w -> w <> '')) >= {_C4_MIN_LINE_WORDS}"
    " AND NOT contains(x, 'javascript')"
)


_C4_RULES_ORACLE = f"""
        WITH pages AS (
            SELECT doc_id, lang, {_C4_ORACLE_PAGE} AS page
            FROM documents
        ),
        feats AS (
            SELECT doc_id, lang, page,
                   list_filter(string_split(page, chr(10)), x -> x <> '') AS lines,
                   list_filter(list_filter(string_split(page, chr(10)), x -> x <> ''),
                               x -> {_C4_ORACLE_LINE_KEEP}) AS kept_lines,
                   contains(lower(page), 'lorem ipsum') AS p_lorem,
                   contains(page, '{{') AS p_curly,
                   list_has_any({X.oracle_tokens('page')},
                                [{", ".join(repr(w) for w in _C4_BADWORDS)}]) AS p_badword
            FROM pages
        ),
        judged AS (
            SELECT lang,
                   len(lines)::BIGINT AS n_lines,
                   len(kept_lines)::BIGINT AS n_kept_lines,
                   CAST(len(list_filter(lines, x -> NOT (ends_with(x, '.') OR ends_with(x, '!')
                        OR ends_with(x, '?') OR ends_with(x, '"')))) AS BIGINT) AS l_punct,
                   CAST(len(list_filter(lines,
                        x -> len(list_filter(string_split_regex(x, '\\s+'), w -> w <> ''))
                             < {_C4_MIN_LINE_WORDS})) AS BIGINT) AS l_short,
                   CAST(len(list_filter(lines, x -> contains(x, 'javascript'))) AS BIGINT) AS l_js,
                   p_lorem, p_curly, p_badword,
                   (len(kept_lines) < {_C4_MIN_PAGE_LINES}) AS p_minlines,
                   (NOT (p_lorem OR p_curly OR p_badword
                         OR len(kept_lines) < {_C4_MIN_PAGE_LINES})) AS kept,
                   CASE WHEN NOT (p_lorem OR p_curly OR p_badword
                                  OR len(kept_lines) < {_C4_MIN_PAGE_LINES})
                        THEN {X.oracle_hash56(f"array_to_string(kept_lines, chr(10))")} % {_C4_FP_MOD}
                        ELSE 0 END AS fp,
                   CASE WHEN NOT (p_lorem OR p_curly OR p_badword
                                  OR len(kept_lines) < {_C4_MIN_PAGE_LINES})
                        THEN length(array_to_string(kept_lines, chr(10)))
                        ELSE 0 END AS kept_chars
            FROM feats
        )
        SELECT lang,
               COUNT(*)::BIGINT AS n_pages,
               CAST(SUM(kept::INT) AS BIGINT) AS n_pages_kept,
               CAST(SUM(p_lorem::INT) AS BIGINT) AS p_lorem,
               CAST(SUM(p_curly::INT) AS BIGINT) AS p_curly,
               CAST(SUM(p_badword::INT) AS BIGINT) AS p_badword,
               CAST(SUM(p_minlines::INT) AS BIGINT) AS p_minlines,
               CAST(SUM(n_lines) AS BIGINT) AS total_lines,
               CAST(SUM(n_kept_lines) AS BIGINT) AS total_kept_lines,
               CAST(SUM(l_punct) AS BIGINT) AS lines_drop_punct,
               CAST(SUM(l_short) AS BIGINT) AS lines_drop_short,
               CAST(SUM(l_js) AS BIGINT) AS lines_drop_js,
               CAST(SUM(kept_chars) AS BIGINT) AS kept_chars,
               CAST(SUM(fp) AS BIGINT) AS kept_checksum
        FROM judged
        GROUP BY lang
"""


@register(
    "q_llm_c4_rules",
    oracle=_C4_RULES_ORACLE,
    tags=("llm", "curation", "quality", "c4"),
)
def q_llm_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning battery (Raffel et al. 2020 §2.2) as a
    hash-verified corpus REWRITE: line-level retention (terminal
    punctuation, >= {_C4_MIN_LINE_WORDS} words, no 'javascript')
    rebuilds each page, page-level gates ('lorem ipsum', curly brace,
    badword stand-in, >= {_C4_MIN_PAGE_LINES} retained lines) drop
    whole pages, and the output pins BOTH the per-rule drop accounting
    AND a checksum over the rewritten kept text (the span_trim /
    pii_redact integrity convention) — so the transform itself is
    verified, not just its counts.

    Complements q_llm_gopher_rules: Gopher judges documents whole,
    C4 rewrites them line by line; real curation stacks run both.

    Scale shape: pure map-side higher-order Catalyst expressions
    (split / filter / transform lambdas, zero Python) and ONE hash
    aggregate on lang — partial aggregation collapses everything
    map-side, so the shuffle carries ~5 rows per executor at any
    corpus size. The reference has no quality operators (SURVEY.md
    §2A; its only compute hook is the 1→N Handler, reference
    types.go:122-135)."""
    d = load_table(spark, sf_dir, "documents")
    return _c4_rollup(_c4_judged(d))


def _c4_term(x):
    """C4 line rule: terminal punctuation (Raffel et al. 2020 §2.2)."""
    return x.endswith(".") | x.endswith("!") | x.endswith("?") | x.endswith('"')


def _c4_nwords(x):
    return F.size(F.filter(F.split(x, r"\s+"), lambda w: w != ""))


def _c4_line_keep(x):
    """The published line-retention predicate, shared by the judged
    report, the streaming filter, and the config-layer transform."""
    return _c4_term(x) & (_c4_nwords(x) >= _C4_MIN_LINE_WORDS) & ~x.contains("javascript")


def c4_page_exprs(page) -> tuple:
    """(kept_text, page_drop) Columns over an arbitrary page Column —
    the C4 cleaning as a pure map expression: kept_text is the page
    rebuilt from retained lines, page_drop is the page-level gate
    ('lorem ipsum' / curly brace / badword / < min retained lines).
    The declarative `c4_rules` transform binds these directly."""
    lines_c = F.filter(F.split(page, "\n"), lambda x: x != "")
    kept = F.filter(lines_c, _c4_line_keep)
    page_drop = (
        F.lower(page).contains("lorem ipsum")
        | page.contains("{")
        | F.arrays_overlap(X.tokens(page), F.array(*[F.lit(w) for w in _C4_BADWORDS]))
        | (F.size(kept) < _C4_MIN_PAGE_LINES)
    )
    return F.array_join(kept, "\n"), page_drop


def _c4_judged(docs: DataFrame) -> DataFrame:
    """Map-only C4 judging of a (doc_id, lang, text) frame: page
    derivation, line retention, page gates, rewrite checksum — shared
    verbatim by the batch operator and the streaming twin (stateless,
    so micro-batch slicing cannot change it)."""
    pages = docs.select("doc_id", "lang", _c4_noisy_page_expr().alias("page"))
    page = F.col("page")
    term = _c4_term
    nwords = _c4_nwords
    line_keep = _c4_line_keep
    lines_c = F.filter(F.split(page, "\n"), lambda x: x != "")
    feats = pages.select(
        "lang",
        lines_c.alias("lines"),
        F.filter(lines_c, line_keep).alias("kept_lines"),
        F.lower(page).contains("lorem ipsum").alias("p_lorem"),
        page.contains("{").alias("p_curly"),
        F.arrays_overlap(X.tokens(page), F.array(*[F.lit(w) for w in _C4_BADWORDS])).alias("p_badword"),
    )
    dropped = ~(
        F.col("p_lorem") | F.col("p_curly") | F.col("p_badword")
        | (F.size("kept_lines") < _C4_MIN_PAGE_LINES)
    )
    kept_text = F.array_join(F.col("kept_lines"), "\n")
    judged = feats.select(
        "lang",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size("kept_lines").cast("bigint").alias("n_kept_lines"),
        F.size(F.filter(F.col("lines"), lambda x: ~term(x))).cast("bigint").alias("l_punct"),
        F.size(F.filter(F.col("lines"), lambda x: nwords(x) < _C4_MIN_LINE_WORDS))
        .cast("bigint").alias("l_short"),
        F.size(F.filter(F.col("lines"), lambda x: x.contains("javascript"))).cast("bigint").alias("l_js"),
        "p_lorem", "p_curly", "p_badword",
        (F.size("kept_lines") < _C4_MIN_PAGE_LINES).alias("p_minlines"),
        dropped.alias("kept"),
        F.when(dropped, X.hash56(kept_text) % _C4_FP_MOD).otherwise(F.lit(0)).alias("fp"),
        F.when(dropped, F.length(kept_text)).otherwise(F.lit(0)).alias("kept_chars"),
    )
    return judged


def _c4_rollup(judged: DataFrame) -> DataFrame:
    return judged.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_pages"),
        F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_pages_kept"),
        F.sum(F.col("p_lorem").cast("int")).cast("bigint").alias("p_lorem"),
        F.sum(F.col("p_curly").cast("int")).cast("bigint").alias("p_curly"),
        F.sum(F.col("p_badword").cast("int")).cast("bigint").alias("p_badword"),
        F.sum(F.col("p_minlines").cast("int")).cast("bigint").alias("p_minlines"),
        F.sum("n_lines").cast("bigint").alias("total_lines"),
        F.sum("n_kept_lines").cast("bigint").alias("total_kept_lines"),
        F.sum("l_punct").cast("bigint").alias("lines_drop_punct"),
        F.sum("l_short").cast("bigint").alias("lines_drop_short"),
        F.sum("l_js").cast("bigint").alias("lines_drop_js"),
        F.sum("kept_chars").cast("bigint").alias("kept_chars"),
        F.sum("fp").cast("bigint").alias("kept_checksum"),
    )


@register(
    "s_llm_c4_filter",
    oracle=_C4_RULES_ORACLE,
    tags=("streaming", "llm", "curation", "quality", "c4"),
)
def s_llm_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING C4 cleaning — the rule battery applied to documents as
    they ARRIVE: each micro-batch runs the identical map-only judged
    projection (_c4_judged, shared with q_llm_c4_rules), the per-doc
    verdict rows spool to parquet via foreachBatch (executors write,
    the driver holds nothing — the run_stream_to_files discipline),
    and the final rollup over the spool must hash-match the batch
    operator's oracle VERBATIM: the filter is stateless, so admission
    slicing cannot change a single verdict.

    This is how a production ingest pipeline applies quality rules
    at the door instead of re-scanning the lake; the micro-batch is
    fanned out to every core before the judging projection (the
    single-row-group replay files would otherwise pin each batch to
    one scan partition — the r9 starvation fix)."""
    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import documents_stream_dir, run_stream_to_files

    src_dir = documents_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    fanout = spark.sparkContext.defaultParallelism
    sunk = run_stream_to_files(
        stream,
        lambda df: _c4_judged(df.repartition(fanout)),
        output_mode="append",
    )
    return _c4_rollup(sunk)


# ---------------------------------------------------------------------------
# Corpus-wide duplicated-line removal (CCNet / FineWeb boilerplate pass)
# ---------------------------------------------------------------------------

_LINE_DF_K = 2  # a line seen in >= K distinct docs is boilerplate


def _line_exploded(d: DataFrame) -> DataFrame:
    """(doc_id, lang, i, line) — the C4 page split into non-empty
    lines with their in-doc position. Explodes the expression directly
    (the Generate-carries-the-array lesson from the bloom reroute)."""
    pages = d.select("doc_id", "lang", _c4_noisy_page_expr().alias("page"))
    return pages.select(
        "doc_id", "lang",
        F.posexplode(F.filter(F.split(F.col("page"), "\n"), lambda x: x != "")).alias("i", "line"),
    )


def boiler_line_set(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = _LINE_DF_K,
) -> list:
    """Corpus-level boilerplate line set over an arbitrary text column,
    collected to the driver: lines appearing in >= ``min_docs`` distinct
    documents. Bounded by |distinct repeated lines| — the same
    broadcast-side discipline as s_llm_line_dedup's offline compile
    (boilerplate is by definition ≪ corpus). The declarative
    `line_dedup` transform (config.py) compiles it once per corpus
    version: the set of a local `from` corpus is memoized on the
    ``(mtime_ns, size)`` of its files, so a rebuild of the plan runs no
    job until the corpus is rewritten. Its per-document rewrite is then
    a pure map with zero joins and zero streaming state."""
    ex = docs.select(
        id_col,
        F.explode(
            F.filter(F.split(F.col(text_col), "\n"), lambda x: x != "")
        ).alias("line"),
    )
    return [
        r.line
        for r in ex.groupBy("line")
        .agg(F.count_distinct(id_col).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("line")
        .collect()
    ]


def _line_boiler(ex: DataFrame) -> DataFrame:
    """The corpus-level boilerplate set: lines appearing in >=
    {_LINE_DF_K} distinct documents. One map-side-combinable hash
    aggregate keyed by the line; bounded by distinct repeated lines."""
    return (
        ex.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= _LINE_DF_K)
    )


def _line_lang_partials(ex: DataFrame, boiler: DataFrame) -> DataFrame:
    """Judge exploded lines against the broadcast boilerplate set,
    rebuild each document in line order, and reduce to per-lang sums.
    Every output column is a SUM/COUNT monoid element, so partials
    computed over any doc-complete slice of the corpus merge exactly
    (the streaming twin's foreachBatch contract)."""
    judged = ex.join(F.broadcast(boiler), "line", "left").select(
        "doc_id", "lang", "i", "line", F.col("df").isNotNull().alias("dropped")
    )
    kept_struct = F.when(~F.col("dropped"), F.struct(F.col("i"), F.col("line")))
    per_doc = judged.groupBy("doc_id", "lang").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.col("dropped").cast("int")).cast("bigint").alias("n_dropped"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(kept_struct)), lambda s: s["line"]),
            "\n",
        ).alias("kept_text"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_lines").cast("bigint").alias("total_lines"),
        F.sum("n_dropped").cast("bigint").alias("dropped_lines"),
        F.sum(F.when(F.col("n_dropped") > 0, 1).otherwise(0)).cast("bigint").alias("docs_touched"),
        F.sum(F.length("kept_text")).cast("bigint").alias("kept_chars"),
        F.sum(X.hash56(F.col("kept_text")) % _C4_FP_MOD).cast("bigint").alias("kept_checksum"),
    )


_LINE_DEDUP_ORACLE = f"""
        WITH pages AS (
            SELECT doc_id, lang, {_C4_ORACLE_PAGE} AS page
            FROM documents
        ),
        withlines AS (
            SELECT doc_id, lang,
                   list_filter(string_split(page, chr(10)), x -> x <> '') AS lines
            FROM pages
        ),
        ex AS (
            SELECT doc_id, lang, i, lines[i] AS line
            FROM withlines, unnest(generate_series(1, len(lines))) AS t(i)
        ),
        dfreq AS (
            SELECT line, COUNT(DISTINCT doc_id)::BIGINT AS df
            FROM ex GROUP BY line
        ),
        judged AS (
            SELECT ex.doc_id, ex.lang, ex.i, ex.line,
                   (dfreq.df >= {_LINE_DF_K}) AS dropped
            FROM ex JOIN dfreq ON ex.line = dfreq.line
        ),
        per_doc AS (
            SELECT doc_id, lang,
                   COUNT(*)::BIGINT AS n_lines,
                   CAST(SUM(dropped::INT) AS BIGINT) AS n_dropped,
                   coalesce(array_to_string(list(line ORDER BY i)
                       FILTER (WHERE NOT dropped), chr(10)), '') AS kept_text
            FROM judged GROUP BY doc_id, lang
        )
        SELECT lang,
               COUNT(*)::BIGINT AS n_docs,
               CAST(SUM(n_lines) AS BIGINT) AS total_lines,
               CAST(SUM(n_dropped) AS BIGINT) AS dropped_lines,
               CAST(SUM(CASE WHEN n_dropped > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
               CAST(SUM(length(kept_text)) AS BIGINT) AS kept_chars,
               CAST(SUM({X.oracle_hash56('kept_text')} % {_C4_FP_MOD}) AS BIGINT) AS kept_checksum
        FROM per_doc GROUP BY lang
    """


@register(
    "q_llm_line_dedup",
    oracle=_LINE_DEDUP_ORACLE,
    tags=("llm", "curation", "dedup", "lines"),
)
def q_llm_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-WIDE duplicated-line removal — the CCNet / FineWeb
    boilerplate pass (nav menus, cookie banners, footer text repeat
    verbatim across pages): any line occurring in >= {_LINE_DF_K}
    distinct documents is removed from every document, documents are
    rebuilt in line order, and the output pins the rewrite with the
    kept-text checksum convention (span_trim / c4_rules).

    Distinct from q_llm_span_dedup (within/cross-doc token shingles)
    and q_llm_c4_rules (per-page line heuristics): the duplicate
    signal here is a CORPUS-level document-frequency aggregate, the
    same shape CCNet computes over shard hashes. Shares the C4 page
    derivation so the same fixture corpus feeds both batteries.

    Scale shape: posexplode → one map-side-combinable hash aggregate
    keyed by the line (uniform after hashing), then the boilerplate
    SET — bounded by distinct repeated lines, orders of magnitude
    smaller than the corpus — joins back BROADCAST, so the exploded
    corpus never shuffles for the flagging step (the hot 'lorem ipsum'
    line with df ~ n/17 would be a classic skew key under a shuffle
    join; broadcasting sidesteps it entirely). Per-doc reassembly
    shuffles once on doc_id (uniform), per-lang rollup is partial-agg.
    At 100 TB: if the boilerplate set outgrows the broadcast
    threshold, AQE falls back to a shuffle join where
    functions/skew.hot_salted_join is the documented escape hatch."""
    d = load_table(spark, sf_dir, "documents")
    ex = _line_exploded(d)
    return _line_lang_partials(ex, _line_boiler(ex))


def _line_boiler_build(spark_: SparkSession, sf_: str) -> DataFrame:
    return _line_boiler(_line_exploded(load_table(spark_, sf_, "documents")))


def line_boiler_anchor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The offline-compiled boilerplate set as a persisted anchor
    (code-identity keyed): the production posture is ONE corpus pass
    compiled offline and shipped to every ingest stream, so the build
    rides the fixture-derivation policy, not the per-stream hot path
    (the bloom-filter discipline). Module-level so the scale probe can
    warm it per fixture like every other one-time derivation."""
    from cheetah_spark.anchors import anchor_df

    return anchor_df(
        spark,
        sf_dir,
        "line_boiler",
        ("documents",),
        _line_boiler_build,
        params=f"k={_LINE_DF_K};v1",
        helpers=(_line_exploded, _line_boiler, _c4_noisy_page_expr),
    )


@register(
    "s_llm_line_dedup",
    # the literal batch oracle: the merged micro-batch partials over a
    # fully-drained replay must equal the batch rewrite bit-for-bit
    oracle=_LINE_DEDUP_ORACLE,
    tags=("streaming", "llm", "curation", "dedup", "lines"),
)
def s_llm_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING boilerplate-line removal — the at-ingest execution of
    :func:`q_llm_line_dedup`, hash-verified against the SAME batch
    oracle. The corpus-level signal (which lines are boilerplate) is a
    batch-built artifact; applying it to a document is a pure per-doc
    function, so the merged per-lang micro-batch partials over a
    doc-complete replay equal the batch result bit-for-bit.

    Shape (the 100 TB ingest posture, the s_llm_bloom_decontaminate
    playbook): the boilerplate set is compiled OFFLINE once from the
    reference corpus (persisted anchor, code-identity keyed — bounded
    by distinct repeated lines, orders of magnitude smaller than the
    corpus) and ships to every micro-batch as the broadcast probe side.
    Each trigger explodes its admitted documents, judges lines against
    the broadcast set, rebuilds kept text per doc, and reduces to a
    per-lang SUM partial (≤|langs| rows) inside foreachBatch — fully
    whole-stage-codegen except the collect_list reassembly the batch
    plan shares. ZERO streaming state: a document never spans
    micro-batches (doc_id-sliced replay), so every partial column is a
    monoid element and the final rollup merge is exact. A boilerplate
    refresh = rebuild the bounded set and restart the stream; the
    corpus is never rescanned."""
    from cheetah_spark.queries.streams import scoped_state_partitions
    from cheetah_spark.sources import ParquetSource
    from cheetah_spark.streaming import documents_stream_dir, run_stream_batch_partials

    boiler = line_boiler_anchor(spark, sf_dir)

    src_dir = documents_stream_dir(spark, sf_dir)
    stream = ParquetSource(src_dir, streaming=True, max_files_per_trigger=2).read(spark)
    # micro-batch fan-out before the explode (the r9 starvation fix:
    # 2 single-row-group files per trigger = 2 scan partitions). The
    # shuffle scope is sized to the CORE COUNT, not the keyspace-8 the
    # stateful streams use: this stream has ZERO streaming state (no
    # per-partition state stores to amortize), and the per-batch
    # per-doc rebuild is a real shuffle that wants every core —
    # measured at the 25x tier: 8 partitions 7.4 s vs core-count 5.5 s
    # min-of-3 (a vanilla 200-partition session still gets scoped
    # down: 200 micro-tasks per 2-file batch is pure overhead).
    fanout = spark.sparkContext.defaultParallelism
    with scoped_state_partitions(spark, n=fanout):
        partials = run_stream_batch_partials(
            stream,
            lambda df: _line_lang_partials(
                _line_exploded(df.repartition(fanout)), boiler
            ),
        )
    return partials.groupBy("lang").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_lines").cast("bigint").alias("total_lines"),
        F.sum("dropped_lines").cast("bigint").alias("dropped_lines"),
        F.sum("docs_touched").cast("bigint").alias("docs_touched"),
        F.sum("kept_chars").cast("bigint").alias("kept_chars"),
        F.sum("kept_checksum").cast("bigint").alias("kept_checksum"),
    )


# CCNet-style perplexity bucketing: per-language head/middle/tail
# terciles by unigram-LM mean log-probability (Wenzek et al. 2020 split
# Common Crawl this way and trained on 'head'; the bucket boundary IS
# the curation decision). Reuses the q_llm_unigram_logprob scoring
# discipline verbatim: ln() snapped to 6 decimals per token BEFORE the
# exact-decimal per-doc sum, mean = one IEEE division of identical
# operands, so the NTILE ordering key is bit-identical in both engines
# (doc_id tiebreaker makes equal scores deterministic anyway).
_PPL_BUCKETS = 3
_PPL_NAMES = "CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"


@register(
    "q_llm_perplexity_bucket",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, unnest({X.oracle_tokens("text")}) AS tok
            FROM documents
        ),
        vocab AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM vocab),
        scored AS (
            SELECT tok, {oracle_snap('ln(cnt / total)', 6)} AS logp
            FROM vocab, tot
        ),
        per_doc AS (
            SELECT t.doc_id, t.lang, COUNT(*) AS n_tok,
                   {oracle_dsum("s.logp")} AS sum_logp
            FROM tok t JOIN scored s ON t.tok = s.tok
            GROUP BY t.doc_id, t.lang
        ),
        bucketed AS (
            SELECT lang, n_tok, sum_logp / n_tok AS mean_logp,
                   ntile({_PPL_BUCKETS}) OVER (
                       PARTITION BY lang
                       ORDER BY sum_logp / n_tok DESC, doc_id ASC) AS b
            FROM per_doc
        )
        SELECT lang, {_PPL_NAMES} AS bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
               {oracle_dsum2("mean_logp", 4)} AS sum_mean_logp,
               {oracle_snap('MIN(mean_logp)', 6)} AS worst_mean_logp
        FROM bucketed
        GROUP BY lang, b
    """,
    tags=("llm", "quality", "language-model", "curation"),
)
def q_llm_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail split: score every document with
    the corpus unigram LM (mean token log-prob — the cheap perplexity
    proxy), then cut each language into equal-depth terciles; training
    mixes draw from 'head', 'tail' is the discard/re-review pool.

    Scale shape: the scoring pass is q_llm_unigram_logprob's — one
    vocab aggregate, one Zipf-aware salted token join (the AQE-immune
    aggregate-fed skew shape, functions/skew.py), one per-doc rollup.
    The tercile cut adds ONE window sort per language partition over
    the per-DOC relation (corpus-size rows / ~17 tokens), and the final
    rollup reduces 3·|langs| groups. At 100 TB the per-lang sort is the
    cost to beat: the production alternative is approx quantile
    boundaries (q_approx_quantile_cd) + a broadcast range join, traded
    here for the exact equal-depth contract."""
    from cheetah_spark.functions.skew import hot_salted_join

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(X.tokens(F.col("text"))).alias("tok"))
    # vocab feeds two branches (total, scored) and each lazy reference
    # re-derives the corpus tokenize+count; materialize the vocab-sized
    # table once
    vocab = tok.groupBy("tok").agg(F.count("*").alias("cnt")).localCheckpoint()
    total = vocab.agg(F.sum("cnt").cast("bigint").alias("total"))
    scored = vocab.crossJoin(F.broadcast(total)).select(
        "tok", "cnt", snap(F.log(F.col("cnt") / F.col("total")), 6).alias("logp")
    )
    probe = (
        d.sample(0.05, seed=7)
        .select(F.explode(X.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    per_doc = (
        hot_salted_join(tok, scored, "tok", freq_col="cnt", salt_on="doc_id", hot_probe=probe)
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_tok"), dsum("logp").alias("sum_logp"))
    )
    mean_logp = F.col("sum_logp") / F.col("n_tok")
    w = Window.partitionBy("lang").orderBy(mean_logp.desc(), F.col("doc_id").asc())
    bucketed = per_doc.select(
        "lang", "n_tok", mean_logp.alias("mean_logp"), F.ntile(_PPL_BUCKETS).over(w).alias("b")
    )
    return bucketed.groupBy("lang", "b").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        dsum2("mean_logp", 4).alias("sum_mean_logp"),
        snap(F.min("mean_logp"), 6).alias("worst_mean_logp"),
    ).select(
        "lang",
        F.expr(_PPL_NAMES).alias("bucket"),
        "n_docs",
        "total_tokens",
        "sum_mean_logp",
        "worst_mean_logp",
    )


# SFT chat-template rendering: the format step between a curated corpus
# and a fine-tuning run. The fixture derives a deterministic
# instruction pair from each document (first _SFT_PROMPT_TOKENS tokens
# = the prompt, remainder = the response) and renders the standard
# role-tagged template; the hash gate verifies the rendered bytes
# verbatim, so a template drift (missing newline, wrong tag order)
# fails the driver row rather than silently corrupting a training run.
_SFT_PROMPT_TOKENS = 8


@register(
    "q_llm_sft_format",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, {X.oracle_tokens("text")} AS toks
            FROM documents
        ),
        pair AS (
            SELECT doc_id, lang,
                   array_to_string(list_slice(toks, 1, {_SFT_PROMPT_TOKENS}), ' ')
                       AS prompt,
                   array_to_string(
                       list_slice(toks, {_SFT_PROMPT_TOKENS} + 1, len(toks)), ' ')
                       AS response,
                   len(toks) AS n_tok
            FROM t WHERE len(toks) > {_SFT_PROMPT_TOKENS}
        )
        SELECT doc_id, lang,
               '<|user|>' || chr(10) || prompt || chr(10)
                   || '<|assistant|>' || chr(10) || response || '<|end|>'
                   AS rendered,
               CAST({_SFT_PROMPT_TOKENS} AS BIGINT) AS n_prompt_tokens,
               CAST(n_tok - {_SFT_PROMPT_TOKENS} AS BIGINT) AS n_response_tokens
        FROM pair
    """,
    tags=("llm", "curation", "sft", "format"),
)
def q_llm_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT instruction formatting — render each curated document into
    the role-tagged chat template a fine-tuning run consumes
    (<|user|>/<|assistant|>/<|end|>), with per-side token accounting.
    Documents too short to split are dropped (the length gate every
    SFT formatter applies).

    The rendered STRING is itself under the hash gate — byte-for-byte
    template fidelity, not just counts — because a silently drifted
    template (lost newline, swapped tags) is the classic way a
    formatting bug poisons a fine-tune while every count still looks
    right.

    Scale shape: map-only string expressions in whole-stage codegen
    (split/slice/concat — no Python, no shuffle at all); the template
    literal lives in the plan. At 100 TB this is one scan, and the
    output column feeds q_llm_pack_sequences' packing pass
    unchanged."""
    d = load_table(spark, sf_dir, "documents")
    toks = X.tokens(F.col("text"))
    t = d.select("doc_id", "lang", toks.alias("toks")).where(
        F.size("toks") > _SFT_PROMPT_TOKENS
    )
    prompt = F.array_join(F.slice("toks", 1, _SFT_PROMPT_TOKENS), " ")
    response = F.array_join(
        F.slice(F.col("toks"), _SFT_PROMPT_TOKENS + 1, F.size("toks") - _SFT_PROMPT_TOKENS),
        " ",
    )
    return t.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit("<|user|>\n"),
            prompt,
            F.lit("\n<|assistant|>\n"),
            response,
            F.lit("<|end|>"),
        ).alias("rendered"),
        F.lit(_SFT_PROMPT_TOKENS).cast("bigint").alias("n_prompt_tokens"),
        (F.size("toks") - _SFT_PROMPT_TOKENS).cast("bigint").alias("n_response_tokens"),
    )


@register(
    "q_llm_cross_source_dups",
    oracle=f"""
        WITH ft AS (
            SELECT DISTINCT md5(lower(trim(text))) AS f, source FROM documents
        ),
        pf AS (
            SELECT DISTINCT md5(array_to_string(
                       list_slice({X.oracle_tokens("text")}, 1, 8), ' ')) AS f,
                   source
            FROM documents
        ),
        full_pairs AS (
            SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_exact_shared
            FROM ft a JOIN ft b ON a.f = b.f AND a.source < b.source
            GROUP BY 1, 2
        ),
        prefix_pairs AS (
            SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_prefix_shared
            FROM pf a JOIN pf b ON a.f = b.f AND a.source < b.source
            GROUP BY 1, 2
        )
        SELECT COALESCE(f.src_a, p.src_a) AS src_a,
               COALESCE(f.src_b, p.src_b) AS src_b,
               COALESCE(f.n_exact_shared, 0) AS n_exact_shared,
               COALESCE(p.n_prefix_shared, 0) AS n_prefix_shared
        FROM full_pairs f FULL OUTER JOIN prefix_pairs p
          ON f.src_a = p.src_a AND f.src_b = p.src_b
    """,
    tags=("llm", "dedup", "curation", "contamination"),
)
def q_llm_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-dataset duplicate matrix: for every pair of sources, how
    many content fingerprints they SHARE, at two granularities — exact
    full-text (benchmark-leak contamination between corpora; the
    within-dataset version is q_llm_exact_dedup) and first-8-token
    prefix (shared opening boilerplate, the cross-crawl template
    signal). The audit a curation team runs before mixing datasets: a
    hot cell means two 'independent' sources aren't.

    Scale shape: per granularity, one codegen fingerprint projection,
    one DISTINCT collapse to (fp, source) — at most |sources| rows per
    fingerprint regardless of duplicate MASS (the rep-collapse
    discipline of the near-dup family) — then a fingerprint-keyed
    self-equi-join whose per-key block is bounded by |sources|, and a
    |sources|²-bounded rollup joined across granularities. All counts
    exact."""

    def pair_counts(fp_col, out_name):
        # the self-join's two aliases would each re-run the corpus
        # fingerprint scan; materialize the DISTINCT-collapsed
        # (fp, source) proxy once (≤ |sources| rows per fingerprint —
        # the §8 small-rows table)
        srcs = d.select(fp_col.alias("f"), "source").distinct().localCheckpoint()
        a, b = srcs.alias("a"), srcs.alias("b")
        return (
            a.join(b, (F.col("a.f") == F.col("b.f")) & (F.col("a.source") < F.col("b.source")))
            .groupBy(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
            .agg(F.count("*").alias(out_name))
        )

    d = load_table(spark, sf_dir, "documents")
    full_pairs = pair_counts(F.md5(F.lower(F.trim(F.col("text")))), "n_exact_shared")
    prefix_pairs = pair_counts(
        F.md5(F.array_join(F.slice(X.tokens(F.col("text")), 1, 8), " ")),
        "n_prefix_shared",
    )
    zero = F.lit(0).cast("bigint")
    return full_pairs.join(prefix_pairs, ["src_a", "src_b"], "full_outer").select(
        "src_a",
        "src_b",
        F.coalesce("n_exact_shared", zero).alias("n_exact_shared"),
        F.coalesce("n_prefix_shared", zero).alias("n_prefix_shared"),
    )
