"""Declarative-config query surface: prove the kawad-shaped JSON
config path (cheetah_spark/config.py, reference README.md:164-299)
drives the same operator surface the DataFrame API does — the config
below builds a filter → SQL-aggregate pipeline and the driver verifies
its result against the DuckDB oracle like any other operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from cheetah_spark.config import pipeline_from_config
from cheetah_spark.registry import register

# Shared aggregate text: valid in BOTH Spark SQL (the config's sql
# transform) and DuckDB (the oracle) — exact decimal sum, _util rules.
_AGG = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM __input__
    WHERE value >= 10
    GROUP BY event_type
"""


@register(
    "q_config_pipeline",
    oracle=_AGG.replace("__input__", "events"),
    tags=("config", "pipeline"),
)
def q_config_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A pipeline declared entirely as config (source block + transform
    chain), loaded by :func:`pipeline_from_config` and planned by
    Catalyst like any hand-built DataFrame — filter pushdown and
    partial aggregation apply to config-declared pipelines unchanged.

    The events table is loaded via its parquet path directly (the
    config path takes raw files, like the reference daemon); ts is not
    touched so the TIMESTAMP(NANOS) fixture nuance stays out of scope
    — the aggregate runs on (event_type, value, user_id) only."""
    # engine requirement for this fixture family: events.ts is parquet
    # TIMESTAMP(NANOS); schema conversion needs nanosAsLong on ANY
    # session (same runtime-set as catalog.load_table)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/events.parquet"},
        "transforms": [
            {"type": "select", "columns": ["event_type", "value", "user_id"]},
            {"type": "sql", "query": _AGG, "view": "__input__"},
        ],
    }
    return pipeline_from_config(cfg).dataframe(spark)


# Deterministic PII planting for the config chain (the corpus has no
# natural PII): every 3rd doc gets an email + phone suffix appended,
# expressed as a plain SQL expr so it can live INSIDE the JSON config.
_PLANT_EXPR = (
    "CASE WHEN doc_id % 3 = 0 THEN concat(text, ' contact u', "
    "cast(doc_id AS string), '@mail.example.com call 555-', "
    "lpad(cast(doc_id % 10000 AS string), 4, '0')) ELSE text END"
)

# Final stage of the config chain (Spark SQL over the transformed
# view): exact-dedup on the content fingerprint of the REDACTED text
# (keep min doc_id), then a per-lang summary whose fp_checksum pins
# the redacted output text byte-for-byte.
_CUR_AGG = """
    WITH kept AS (
        SELECT * FROM (
            SELECT *, MIN(doc_id) OVER (PARTITION BY content_fp) AS keeper
            FROM __input__
        ) WHERE doc_id = keeper
    )
    SELECT lang,
           COUNT(*) AS n_kept,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(conv(substr(content_fp, 1, 14), 16, 10) AS BIGINT)
                    % 1000003) AS BIGINT) AS fp_checksum
    FROM kept GROUP BY lang
"""

from cheetah_spark.functions.text import WORD_RE as _W_TOK  # oracle tokens == X.tokens


def _curation_oracle() -> str:
    """DuckDB mirror of the whole config chain: quality gate → PII
    plant → redact → content fingerprint → token count → fp-dedup →
    per-lang summary."""
    from cheetah_spark.queries.curation import _PII_EMAIL_RE, _PII_PHONE_RE
    from cheetah_spark.queries.llm import _QW

    toks = f"regexp_extract_all(lower(text), '{_W_TOK}')"
    return f"""
        WITH q AS (
            SELECT doc_id, lang, text,
                   ({_QW["len"]} * least(len({toks}), 200)::DOUBLE / 200
                    + {_QW["uniq"]} * (len(list_distinct({toks}))::DOUBLE
                        / greatest(len({toks}), 1))
                    + {_QW["alpha"]} * (1.0
                        - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                            / greatest(length(text), 1)
                        - length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
                            / greatest(length(text), 1))) AS quality
            FROM documents
        ),
        planted AS (
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 3 = 0
                        THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                             || '@mail.example.com call 555-'
                             || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                        ELSE text END AS t
            FROM q WHERE quality >= 0.5
        ),
        red AS (
            SELECT doc_id, lang,
                   regexp_replace(regexp_replace(t,
                       '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_PII_PHONE_RE}', '<PHONE>', 'g') AS rt
            FROM planted
        ),
        fp AS (
            SELECT doc_id, lang,
                   md5(trim(regexp_replace(lower(rt), '\\s+', ' ', 'g'))) AS content_fp,
                   len(regexp_extract_all(lower(rt), '{_W_TOK}'))::BIGINT AS n_tokens
            FROM red
        ),
        kept AS (
            SELECT * FROM (
                SELECT *, MIN(doc_id) OVER (PARTITION BY content_fp) AS keeper FROM fp
            ) WHERE doc_id = keeper
        )
        SELECT lang,
               COUNT(*) AS n_kept,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(CAST('0x' || substr(content_fp, 1, 14) AS BIGINT)
                        % 1000003) AS BIGINT) AS fp_checksum
        FROM kept GROUP BY lang
    """


@register(
    "q_config_curation",
    oracle=_curation_oracle(),
    tags=("config", "pipeline", "llm", "curation"),
)
def q_config_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A full training-data curation pipeline assembled ENTIRELY from a
    kawad-style JSON config (reference README.md:164-299): quality gate
    (threshold filter) → deterministic PII planting (with_column, plain
    SQL expr in the config) → PII redaction → content fingerprint →
    token count → SQL exact-dedup + per-lang summary. Every curation
    stage is one of the declarative transform types in
    cheetah_spark/config.py:159-215, each bound to the SAME
    single-definition column expression its q_llm_* operator uses —
    the driver row therefore certifies the config surface end-to-end,
    not a parallel implementation. (minhash_sig, the fifth config
    transform, is exercised by tests/test_config.py — its
    array-of-longs output has no compact SQL summary.)

    The fp_checksum aggregates a 56-bit hash of each kept doc's
    REDACTED normalized text, so a single mis-redacted byte anywhere
    in the corpus flips the driver hash. All stages are map-only
    Column expressions until the end — the plan is scan → codegen →
    fingerprint-window shuffle → per-lang partial aggregate, identical
    to what the hand-built equivalents produce."""
    cfg = {
        "source": {"type": "parquet", "path": f"{sf_dir}/documents.parquet"},
        "transforms": [
            {"type": "quality_score", "column": "text", "as": "quality", "threshold": 0.5},
            {"type": "with_column", "name": "text", "expr": _PLANT_EXPR},
            {"type": "pii_redact", "column": "text"},
            {"type": "content_fp", "column": "text", "as": "content_fp"},
            {"type": "token_count", "column": "text", "as": "n_tokens"},
            {"type": "sql", "query": _CUR_AGG, "view": "__input__"},
        ],
    }
    return pipeline_from_config(cfg).dataframe(spark)


def _stream_curation_oracle() -> str:
    """Batch mirror of the STREAMING config chain: the complete-mode
    aggregate over the bounded replay equals the batch aggregate over
    the table."""
    from cheetah_spark.queries.curation import _PII_EMAIL_RE, _PII_PHONE_RE
    from cheetah_spark.queries.llm import _QW

    toks = f"regexp_extract_all(lower(text), '{_W_TOK}')"
    return f"""
        WITH q AS (
            SELECT doc_id, lang, text,
                   ({_QW["len"]} * least(len({toks}), 200)::DOUBLE / 200
                    + {_QW["uniq"]} * (len(list_distinct({toks}))::DOUBLE
                        / greatest(len({toks}), 1))
                    + {_QW["alpha"]} * (1.0
                        - length(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                            / greatest(length(text), 1)
                        - length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g'))::DOUBLE
                            / greatest(length(text), 1))) AS quality
            FROM documents
        ),
        red AS (
            SELECT doc_id, lang,
                   regexp_replace(regexp_replace(
                       CASE WHEN doc_id % 3 = 0
                            THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                                 || '@mail.example.com call 555-'
                                 || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                            ELSE text END,
                       '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                       '{_PII_PHONE_RE}', '<PHONE>', 'g') AS rt
            FROM q WHERE quality >= 0.5
        )
        SELECT lang,
               COUNT(*)::BIGINT AS n_docs,
               CAST(SUM(len(regexp_extract_all(lower(rt), '{_W_TOK}'))) AS BIGINT)
                   AS total_tokens,
               CAST(SUM(CAST('0x' || substr(
                        md5(trim(regexp_replace(lower(rt), '\\s+', ' ', 'g'))), 1, 14)
                    AS BIGINT) % 1000003) AS BIGINT) AS fp_checksum
        FROM red GROUP BY lang
    """


# Streaming tail of the config chain: a streaming-safe per-lang
# aggregate (no window, no COUNT DISTINCT — those are batch-only);
# the per-arrival fp-hash sum pins every redacted text byte exactly
# like the batch variant.
_SCUR_AGG = """
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(CAST(conv(substr(content_fp, 1, 14), 16, 10) AS BIGINT)
                    % 1000003) AS BIGINT) AS fp_checksum
    FROM __input__ GROUP BY lang
"""


@register(
    "s_config_curation",
    oracle=_stream_curation_oracle(),
    tags=("config", "pipeline", "llm", "curation", "streaming"),
)
def s_config_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME declarative curation transforms running as a REAL
    StreamingQuery — certifying config.py's claim that every curation
    binding is map-only and therefore streaming-safe. The JSON config
    differs from q_config_curation only in ``"streaming": true`` on
    the source block (pointed at the documents replay feed) and a
    streaming-safe aggregate tail (per-lang counts/sums in complete
    mode instead of the batch window dedup): quality gate → PII plant
    → redact → content fingerprint → token count all execute inside
    micro-batches unchanged — the single-definition expressions, one
    more execution mode.

    The config assembles the streaming source + transform plan
    (pipeline_from_config); the bounded-replay conformance harness
    (run_stream_to_completion, complete mode) drives it and the
    DuckDB oracle recomputes the whole chain in batch — complete-mode
    aggregation over a fully-drained bounded stream must equal the
    batch aggregate, hash-exact down to every redacted byte
    (fp_checksum)."""
    from cheetah_spark.queries.streams import scoped_state_partitions
    from cheetah_spark.streaming import documents_stream_dir, run_stream_to_completion

    src_dir = documents_stream_dir(spark, sf_dir)
    cfg = {
        "source": {
            "type": "parquet",
            "path": src_dir,
            "streaming": True,
            "max_files_per_trigger": 2,
        },
        "transforms": [
            # fan each micro-batch out to every core BEFORE the regex
            # chain: the file stream admits 2 single-row-group files
            # per trigger = 2 scan partitions, which starves the map
            # chain on a wide cluster (the s_llm_minhash_dedup r9
            # finding, SCALE.md) — row placement is agg-irrelevant
            {"type": "repartition"},
            {"type": "quality_score", "column": "text", "as": "quality", "threshold": 0.5},
            {"type": "with_column", "name": "text", "expr": _PLANT_EXPR},
            {"type": "pii_redact", "column": "text"},
            {"type": "content_fp", "column": "text", "as": "content_fp"},
            {"type": "token_count", "column": "text", "as": "n_tokens"},
            {"type": "sql", "query": _SCUR_AGG, "view": "__input__"},
        ],
    }
    stream = pipeline_from_config(cfg).dataframe(spark)
    assert stream.isStreaming
    with scoped_state_partitions(spark):
        out = run_stream_to_completion(stream, lambda df: df, output_mode="complete")
    return out.select("lang", "n_docs", "total_tokens", "fp_checksum")


# ---------------------------------------------------------------------------
# FineWeb-style curation chain from JSON alone (r12): URL dedup →
# Gopher quality gate → corpus line dedup, the stack the r11 verdict
# asked the declarative layer to assemble (config.py transform types
# url_dedup / gopher_rules / line_dedup).
# ---------------------------------------------------------------------------

# rule subset: the synthetic corpus has no English stopwords, so the
# stopword rule would degenerate the chain to an empty corpus — exactly
# the per-corpus battery tuning FineWeb documents, exposed by the
# transform's `rules` knob
_FW_RULES = ("wordcount", "meanlen", "symbol", "bullet", "ellipsis", "alpha")

# final stage (Spark SQL inside the config): per-lang survivor count,
# kept-char mass, and a 56-bit md5 checksum over every REWRITTEN text —
# the integrity convention that makes the whole chain hash-gateable
_FW_AGG = """
    SELECT lang,
           COUNT(*) AS n_kept,
           CAST(SUM(length(text)) AS BIGINT) AS kept_chars,
           CAST(SUM(CAST(conv(substr(md5(text), 1, 14), 16, 10) AS BIGINT)
                    % 1000003) AS BIGINT) AS kept_checksum
    FROM __input__ GROUP BY lang
"""


def _fineweb_src_dir(spark: SparkSession, sf_dir: str) -> str:
    """documents + the fixture's messy URL column, staged as an
    id-ordered parquet dir (persisted fixture anchor): the batch chain
    reads it whole, the streaming chain replays it file by file — the
    raw table has no url column; production crawls do."""
    from pyspark.sql import functions as F

    from cheetah_spark.queries.curation import _messy_url_expr
    from cheetah_spark.streaming import _ordered_stream_dir

    def add_url(t):
        return t.select(
            "doc_id", "source", "lang", "text", _messy_url_expr().alias("url")
        )

    return _ordered_stream_dir(
        spark,
        sf_dir,
        "documents",
        ("doc_id",),
        4,
        "fineweb_src_4",
        transform=add_url,
        helpers=(_messy_url_expr,),
    )


_FW_ROLLUP = """
        SELECT lang,
               COUNT(*)::BIGINT AS n_kept,
               CAST(SUM(length(text)) AS BIGINT) AS kept_chars,
               CAST(SUM(CAST('0x' || substr(md5(text), 1, 14) AS BIGINT)
                        % 1000003) AS BIGINT) AS kept_checksum
"""


def _fineweb_ctes() -> str:
    """The shared DuckDB CTE chain mirroring the declarative FineWeb
    stages up to `final` (the url-dedup + Gopher + line-strip
    survivors with REWRITTEN text): messy-URL derivation → canonicalize
    → global keep-min → Gopher rule subset on the raw text →
    boilerplate-line strip (line DF >= 2 over the WHOLE corpus, the
    transform's `from` contract). v1 rolls `final` up directly; v2
    chains the MinHash near-dedup stage on top."""
    from cheetah_spark.queries.curation import (
        _MESSY_URL_EXPR_SQL,
        _canon_url_sql,
        gopher_fail_sql,
    )

    fails = gopher_fail_sql("text", _FW_RULES)
    return f"""urls AS (
            SELECT doc_id, lang, source, text,
                   {_MESSY_URL_EXPR_SQL} AS url
            FROM documents
        ),
        canon AS (
            SELECT doc_id, lang, text,
                   {_canon_url_sql("url")} AS curl
            FROM urls
        ),
        keep AS (SELECT curl, MIN(doc_id) AS keep_id FROM canon GROUP BY curl),
        survivors AS (
            SELECT c.doc_id, c.lang, c.text
            FROM canon c JOIN keep k ON c.curl = k.curl AND c.doc_id = k.keep_id
            WHERE NOT {fails}
        ),
        alllines AS (
            SELECT doc_id, i, lines[i] AS line FROM (
                SELECT doc_id,
                       list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
                FROM documents
            ), unnest(generate_series(1, len(lines))) AS t(i)
        ),
        boiler AS (
            SELECT line FROM alllines GROUP BY line
            HAVING COUNT(DISTINCT doc_id) >= 2
        ),
        ex AS (
            SELECT s.doc_id, s.lang, i, lines[i] AS line FROM (
                SELECT doc_id, lang,
                       list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
                FROM survivors
            ) s, unnest(generate_series(1, len(lines))) AS t(i)
        ),
        stripped AS (
            SELECT e.doc_id,
                   coalesce(array_to_string(list(e.line ORDER BY e.i)
                       FILTER (WHERE b.line IS NULL), chr(10)), '') AS text
            FROM ex e LEFT JOIN boiler b ON e.line = b.line
            GROUP BY e.doc_id
        ),
        final AS (
            -- survivors whose text had zero non-empty lines never reach
            -- `ex`; restore them with empty rewritten text
            SELECT s.doc_id, s.lang, coalesce(st.text, '') AS text
            FROM survivors s LEFT JOIN stripped st ON s.doc_id = st.doc_id
        )"""


def _fineweb_oracle() -> str:
    """DuckDB mirror of the v1 chain: the shared CTEs rolled up."""
    return f"""
        WITH {_fineweb_ctes()}
        {_FW_ROLLUP}
        FROM final GROUP BY lang
    """


def _fineweb_v2_oracle() -> str:
    """DuckDB mirror of the v2 chain: the shared CTEs + the MinHash
    near-dedup stage over the REWRITTEN survivor texts (the FineWeb
    pipeline order: quality gates, then near-dedup) — signatures,
    banding, and candidate pairs come from the registered minhash
    family's own oracle builders, so the mirror is the same single
    definition the q_llm_minhash_dedup driver row certifies. A doc is
    dropped iff it collides in >=1 band with an earlier (lower-id)
    doc; shingle-less docs never enter the banding and survive."""
    from cheetah_spark.queries.llm import _oracle_bands_cand, _oracle_minhash_sigs

    return f"""
        WITH {_fineweb_ctes()},
        sigs AS ({_oracle_minhash_sigs("final")}),
        {_oracle_bands_cand()},
        flagged AS (SELECT DISTINCT doc_id_b AS doc_id FROM cand),
        kept2 AS (
            SELECT f.* FROM final f LEFT JOIN flagged g USING (doc_id)
            WHERE g.doc_id IS NULL
        )
        {_FW_ROLLUP}
        FROM kept2 GROUP BY lang
    """


@register(
    "q_config_fineweb",
    oracle=_fineweb_oracle(),
    tags=("config", "pipeline", "llm", "curation", "dedup"),
)
def q_config_fineweb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FineWeb curation stack assembled ENTIRELY from JSON config:
    URL dedup (canonical keep-min) → Gopher quality gate (rule-subset
    knob — the per-corpus battery tuning the paper documents; the
    stopword rule is off because the synthetic corpus has no English
    stopwords) → corpus-wide boilerplate-line strip (`from` compiles
    the line-DF set over the full staged corpus) → per-lang summary
    with a checksum over every REWRITTEN text. Each stage is a
    declarative transform type bound to the SAME single-definition
    expressions its registered operator uses (config.py), so the
    driver row certifies the config surface end-to-end.

    Scale shape: one map-only canonicalization pass + one keep-min
    shuffle (url_dedup), a map-only rule battery, a broadcast-set
    Arrow strip, ONE per-lang hash aggregate. The boilerplate set is
    compiled once per corpus version (the offline-compile discipline
    of s_llm_line_dedup): a bounded corpus pass the first time, then
    held in memory until the corpus files change, so a rebuild of
    this plan runs no job for it."""
    src = _fineweb_src_dir(spark, sf_dir)
    cfg = {
        "source": {"type": "parquet", "path": src},
        "transforms": [
            {"type": "url_dedup", "url": "url", "id": "doc_id"},
            {"type": "gopher_rules", "column": "text", "mode": "filter",
             "rules": list(_FW_RULES)},
            {"type": "line_dedup", "column": "text", "from": src},
            {"type": "sql", "query": _FW_AGG, "view": "__input__"},
        ],
    }
    return pipeline_from_config(cfg).dataframe(spark)


@register(
    "s_config_fineweb",
    oracle=_fineweb_oracle(),
    tags=("config", "pipeline", "llm", "curation", "dedup", "streaming"),
)
def s_config_fineweb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME JSON-declared FineWeb chain running as a REAL
    StreamingQuery against the SAME batch oracle: the url_dedup
    transform routes through keyed keep-min state (one counter per
    live canonical URL; the first micro-batch containing a URL emits
    its min-id row — deterministic under the id-ordered replay
    contract, unlike a dropDuplicates winner), the quality gate and
    the broadcast boilerplate strip are stateless map stages, and the
    kept documents spool to parquet via foreachBatch (executors write,
    the driver holds nothing). The final rollup over the spool must
    hash-match the batch chain bit-for-bit — kept set, kept bytes,
    checksum."""
    from pyspark.sql import functions as F

    from cheetah_spark.queries.streams import scoped_state_partitions
    from cheetah_spark.streaming import run_stream_to_files

    src = _fineweb_src_dir(spark, sf_dir)
    cfg = {
        "source": {
            "type": "parquet",
            "path": src,
            "streaming": True,
            "max_files_per_trigger": 1,
        },
        "transforms": [
            {"type": "url_dedup", "url": "url", "id": "doc_id"},
            {"type": "gopher_rules", "column": "text", "mode": "filter",
             "rules": list(_FW_RULES)},
            {"type": "line_dedup", "column": "text", "from": src},
        ],
    }
    stream = pipeline_from_config(cfg).dataframe(spark)
    assert stream.isStreaming
    with scoped_state_partitions(spark):
        kept = run_stream_to_files(stream, lambda df: df, output_mode="update")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_kept"),
        F.sum(F.length("text")).cast("bigint").alias("kept_chars"),
        F.sum(
            F.conv(F.substring(F.md5("text"), 1, 14), 16, 10).cast("bigint")
            % 1000003
        )
        .cast("bigint")
        .alias("kept_checksum"),
    )


def _fineweb_v2_transforms(src: str, streaming: bool) -> list:
    """The five declarative stages of the v2 chain (FineWeb order:
    dedup-by-URL, quality gates, boilerplate strip, MinHash near-dedup).
    Streaming composes ONE plan with two stateful stages — the planner
    accepts keyed-state-then-aggregation only when the state operator
    declares append mode (each keep-min row is emitted exactly once,
    so append is the true contract), the inter-stage columns stay pure
    Catalyst, and the rollup inputs (kept_chars, fp) are projected
    BEFORE the near-dedup stage so the bucket-win state carries slim
    scalars, never text."""
    stages = [
        {"type": "url_dedup", "url": "url", "id": "doc_id",
         **({"state_output_mode": "append"} if streaming else {})},
        {"type": "gopher_rules", "column": "text", "mode": "filter",
         "rules": list(_FW_RULES)},
        {"type": "line_dedup", "column": "text", "from": src},
    ]
    if streaming:
        stages += [
            {"type": "sql", "view": "__fw_v2_gated__", "query": """
                SELECT doc_id, lang, text,
                       length(text) AS kept_chars,
                       CAST(conv(substr(md5(text), 1, 14), 16, 10) AS BIGINT)
                           % 1000003 AS fp
                FROM __fw_v2_gated__
            """},
            {"type": "minhash_dedup", "column": "text", "id": "doc_id",
             "carry": ["lang", "kept_chars", "fp"]},
        ]
    else:
        stages += [
            {"type": "minhash_dedup", "column": "text", "id": "doc_id"},
            {"type": "sql", "query": _FW_AGG, "view": "__input__"},
        ]
    return stages


@register(
    "q_config_fineweb_v2",
    oracle=_fineweb_v2_oracle(),
    tags=("config", "pipeline", "llm", "curation", "dedup", "minhash"),
)
def q_config_fineweb_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE FineWeb curation stack from JSON config (r12
    verdict item #5): v1's url_dedup → gopher_rules → line_dedup plus
    the pipeline's MinHash near-dedup stage — `minhash_dedup` drops
    every doc colliding in >=1 LSH band with an earlier doc over the
    REWRITTEN text (keep-one-per-near-dup-cluster, the q_llm_minhash_
    dedup banding expressions verbatim) — then the per-lang rollup.

    Scale shape adds to v1: one map-side signature pass (Arrow-
    vectorized), ONE (band, bucket) shuffle + bucket-min, one anti-join
    on doc_id. No pair space materializes at any scale — the banding
    cost is O(corpus), and the 128-bit bucket keys shuffle uniformly
    (AQE splits any adversarial hot bucket)."""
    src = _fineweb_src_dir(spark, sf_dir)
    cfg = {
        "source": {"type": "parquet", "path": src},
        "transforms": _fineweb_v2_transforms(src, streaming=False),
    }
    return pipeline_from_config(cfg).dataframe(spark)


@register(
    "s_config_fineweb_v2",
    oracle=_fineweb_v2_oracle(),
    tags=("config", "pipeline", "llm", "curation", "dedup", "minhash",
          "streaming"),
)
def s_config_fineweb_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 5-stage chain as ONE StreamingQuery against the SAME oracle:
    keyed URL keep-min state (append mode — each emission is final,
    which is what lets the planner accept the SECOND stateful stage
    downstream), stateless Catalyst quality gate + boilerplate strip +
    rollup-input projection, then the minhash_dedup bucket-win
    aggregation (the s_llm_minhash_dedup state discipline: per occupied
    (band, bucket), the running MIN (doc_id, lang, kept_chars, fp)
    struct — slim scalars, the text never enters the state store).

    The update-mode spool drains to parquet via foreachBatch and
    resolve_minhash_survivors reduces it to the kept rows — a doc
    survives iff it holds the FINAL min of all 8 of its buckets —
    which is order-insensitive (running-min emissions resolve to the
    same final state under any batch slicing), so the rollup is
    hash-gateable against the batch chain bit-for-bit."""
    from pyspark.sql import functions as F

    from cheetah_spark.queries.llm import resolve_minhash_survivors
    from cheetah_spark.queries.streams import scoped_state_partitions
    from cheetah_spark.streaming import run_stream_to_files

    src = _fineweb_src_dir(spark, sf_dir)
    cfg = {
        "source": {
            "type": "parquet",
            "path": src,
            "streaming": True,
            "max_files_per_trigger": 1,
        },
        "transforms": _fineweb_v2_transforms(src, streaming=True),
    }
    stream = pipeline_from_config(cfg).dataframe(spark)
    assert stream.isStreaming
    with scoped_state_partitions(spark):
        spool = run_stream_to_files(stream, lambda df: df, output_mode="update")
    kept = resolve_minhash_survivors(spool)
    return kept.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("kept_chars").cast("bigint").alias("kept_chars"),
        F.sum("fp").cast("bigint").alias("kept_checksum"),
    )


_ANN_ENRICH_STAGE = {
    "type": "ann_enrich",
    "id": "vec_id",
    "embedding": "embedding",
    "k": 5,            # _TOPK — the contract's k
    "nlists": 16,      # _IVF_LISTS — the hash-gated oracle's constants
    "nprobe": 4,       # _IVF_NPROBE
}


def _ann_enrich_contract(spark: SparkSession, sf_dir: str, enriched) -> "DataFrame":
    """Reshape an ann_enrich output (id, neighbors array) to the ANN
    family's (query_id, neighbor_id, cos_sim) rows for the query panel
    and run the shared recall contract — the enrich answers every row;
    the contract grades the vec_id % _QUERY_MOD panel against the
    persisted exact anchor, exactly like s_llm_ann_ivf."""
    from pyspark.sql import functions as F

    from cheetah_spark.queries.llm import _ann_contract, _queries

    rows = (
        _queries(enriched)
        .select("vec_id", F.explode("neighbors").alias("nb"))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("nb.neighbor_id").alias("neighbor_id"),
            F.col("nb.cos_sim").alias("cos_sim"),
        )
    )
    return _ann_contract(spark, sf_dir, rows, 0.4)


def _register_ann_enrich_pair():
    # deferred import: llm.py must be loaded for the oracle constants
    from cheetah_spark.functions import vectors as V
    from cheetah_spark.queries.llm import _ANN_CONTRACT_ORACLE

    oracle = _ANN_CONTRACT_ORACLE.format(
        cos=V.oracle_cosine("q.embedding", "c.embedding")
    )

    @register(
        "q_config_ann_enrich",
        oracle=oracle,
        tags=("config", "pipeline", "llm", "vector"),
    )
    def q_config_ann_enrich(spark: SparkSession, sf_dir: str):
        """Similarity search from JSON config: the `ann_enrich`
        declarative transform attaches a (cos DESC, id ASC) top-k
        neighbor array to EVERY embeddings row — offline-compiled
        cid-partitioned IVF index (the shared _ivf_index_core /
        ivf_assign_fn / ivf_probe_expand / ivf_rerank definitions),
        pruned shuffle join + window rerank — and the query panel's rows are graded by
        the ANN family's recall contract against the persisted exact
        anchor, same constants as q/s_llm_ann_ivf."""
        cfg = {
            "source": {"type": "parquet", "path": f"{sf_dir}/embeddings.parquet"},
            "transforms": [dict(_ANN_ENRICH_STAGE, index=f"{sf_dir}/embeddings.parquet")],
        }
        return _ann_enrich_contract(
            spark, sf_dir, pipeline_from_config(cfg).dataframe(spark)
        )

    @register(
        "s_config_ann_enrich",
        oracle=oracle,
        tags=("config", "pipeline", "llm", "vector", "streaming"),
    )
    def s_config_ann_enrich(spark: SparkSession, sf_dir: str):
        """The same JSON stage over a STREAMING source — lookup-at-the-
        door as ONE lazy plan (stateless probe expansion → stream-static
        cid join against the static index → update-mode per-query top-k
        fold; no per-trigger driver work, the transform contract's pure
        df→df shape) — drained and graded by the identical recall
        contract: a query's answer depends only on the static index, so
        admission slicing cannot move a row."""
        from cheetah_spark.queries.streams import scoped_state_partitions
        from cheetah_spark.streaming import (
            embeddings_raw_stream_dir,
            run_stream_to_files,
        )

        src_dir = embeddings_raw_stream_dir(spark, sf_dir)
        cfg = {
            "source": {
                "type": "parquet",
                "path": src_dir,
                "streaming": True,
                "max_files_per_trigger": 2,
            },
            "transforms": [dict(_ANN_ENRICH_STAGE, index=f"{sf_dir}/embeddings.parquet")],
        }
        stream = pipeline_from_config(cfg).dataframe(spark)
        assert stream.isStreaming
        with scoped_state_partitions(spark):
            drained = run_stream_to_files(stream, lambda df: df, output_mode="update")
        return _ann_enrich_contract(spark, sf_dir, drained)


_register_ann_enrich_pair()


# --- r13: security detections from JSON (the reference's deployment
# shape: kawad-style daemon configs wiring a detection over the event
# pipe) — the brute-force chain is the contract pair; port_scan and
# log_drift transform types carry config e2e tests (tests/test_config.py)


@register(
    "q_config_detections",
    oracle=None,  # set below: shares q_sec_brute_force's oracle verbatim
    tags=("config", "pipeline", "security"),
)
def q_config_detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A SIEM detection declared entirely as config: raw events parquet
    source, then the `brute_force` transform binding
    queries/security.brute_force_report. Hash-gated by the SAME oracle
    as q_sec_brute_force — the config path and the DataFrame path are
    one definition.

    ts normalization mirrors catalog.load_table's CONDITIONAL handling:
    if the raw scan yields ts as long (a TIMESTAMP(NANOS) fixture under
    nanosAsLong), a declarative with_column stage truncates ns → µs —
    the same integer-DIV DuckDB's ns→µs cast performs; a µs fixture
    needs no stage."""
    from pyspark.sql import types as T

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    raw_ts = spark.read.parquet(path).schema["ts"].dataType
    ts_fix = (
        [{"type": "with_column", "name": "ts",
          "expr": "timestamp_micros(ts DIV 1000)"}]
        if isinstance(raw_ts, T.LongType)
        else []
    )
    cfg = {
        "source": {"type": "parquet", "path": path},
        "transforms": ts_fix + [{"type": "brute_force"}],
    }
    return pipeline_from_config(cfg).dataframe(spark)


@register(
    "s_config_detections",
    oracle=None,  # set below: same oracle
    tags=("config", "pipeline", "security", "streaming"),
)
def s_config_detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same JSON-declared detection at INGEST: the `brute_force`
    transform routes through the keyed run-length state stage
    (update-mode monotone per-user report emissions), the spool is
    resolved by the operator's own column-wise extremum fold, and the
    result hash-matches the batch oracle verbatim under the replay's
    admission slicing — detections deploy from config without losing
    the hash gate."""
    from cheetah_spark.queries.security import resolve_brute_force
    from cheetah_spark.queries.streams import scoped_state_partitions
    from cheetah_spark.streaming import events_stream_dir, run_stream_to_files

    src_dir = events_stream_dir(spark, sf_dir)
    cfg = {
        "source": {
            "type": "parquet",
            "path": src_dir,
            "streaming": True,
            "max_files_per_trigger": 2,
        },
        "transforms": [{"type": "brute_force"}],
    }
    stream = pipeline_from_config(cfg).dataframe(spark)
    assert stream.isStreaming
    with scoped_state_partitions(spark):
        spool = run_stream_to_files(stream, lambda df: df, output_mode="update")
    return resolve_brute_force(spool)


def _bind_detection_oracles() -> None:
    import dataclasses

    from cheetah_spark.queries.security import _BF_ORACLE
    from cheetah_spark.registry import REGISTRY

    for name in ("q_config_detections", "s_config_detections"):
        # replace() keeps every other QuerySpec field intact (a
        # field-by-field reconstruction would silently default any
        # field added to the dataclass later)
        REGISTRY[name] = dataclasses.replace(REGISTRY[name], oracle=_BF_ORACLE)


_bind_detection_oracles()
