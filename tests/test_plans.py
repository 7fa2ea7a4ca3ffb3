"""Physical-plan audits: the properties that make these plans survive
100 TB, asserted as tests so a regression in pushdown / pruning /
broadcast / join strategy fails CI rather than surfacing as a slow
cluster job.

Checks run on the pre-execution plan text (`explain`), i.e. what
Catalyst committed to before AQE runtime re-planning — broadcast hints
and pushdowns must already be present there.
"""

from __future__ import annotations

import contextlib
import io
import re

from cheetah_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _q(name, spark, sf_dir):
    return REGISTRY[name].fn(spark, sf_dir)


def plan_nodes(p: str) -> list[tuple[int, str, int]]:
    """(depth, operator, node id) of each line of a formatted plan's
    tree, top-down."""
    nodes = []
    for line in p.split("\n\n")[0].splitlines()[1:]:
        m = re.match(r"^([ :+-]*)(?:\* )?(.+?) \((\d+)\)$", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2).strip(), int(m.group(3))))
    return nodes


def plan_details(p: str) -> dict[int, str]:
    """Node id -> that node's section of a formatted plan's details."""
    sections = re.split(r"\n\n(?=\(\d+\) )", p)
    return {int(re.match(r"\((\d+)\)", x).group(1)): x for x in sections if x.startswith("(")}


def subtree_ids(nodes: list[tuple[int, str, int]], root_id: int) -> set[int]:
    """Node ids of the subtree rooted at ``root_id`` (itself included)."""
    i = next(k for k, n in enumerate(nodes) if n[2] == root_id)
    ids = {root_id}
    for depth, _, nid in nodes[i + 1:]:
        if depth <= nodes[i][0]:
            break
        ids.add(nid)
    return ids


def test_scan_project_prunes_columns(spark, sf_dir):
    p = plan(_q("q_scan_project", spark, sf_dir))
    # the parquet scan must read only the projected columns
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema, p
    assert "l_comment" not in read_schema[0], read_schema[0]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    p = plan(_q("q_filter_pred", spark, sf_dir))
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert pushed and "PushedFilters: []" not in pushed[0], pushed


def test_flagship_join_broadcasts_dimensions(spark, sf_dir):
    p = plan(_q("q_multiway_join_tpch", spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p


def test_topk_uses_limit_pushdown(spark, sf_dir):
    p = plan(_q("q_sort_limit_topk", spark, sf_dir))
    # top-k must be TakeOrderedAndProject (per-partition heap + merge),
    # not a global sort followed by limit
    assert "TakeOrderedAndProject" in p, p


def test_hash_agg_has_partial_aggregation(spark, sf_dir):
    p = plan(_q("q_hash_agg", spark, sf_dir))
    # map-side combine: two HashAggregate levels around the exchange
    assert p.count("HashAggregate") >= 2, p


def test_minhash_dedup_has_no_cross_join(spark, sf_dir):
    p = plan(_q("q_llm_minhash_dedup", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_simhash_dedup_has_no_cross_join(spark, sf_dir):
    p = plan(_q("q_llm_simhash_dedup", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_config_curation_prunes_and_stays_join_free(spark, sf_dir):
    # a config-assembled pipeline must get the same Catalyst treatment
    # as hand-built DataFrames: column pruning through six declarative
    # transforms down to the scan (n_chars/source never read), and the
    # dedup window + per-lang agg must not introduce any join
    p = plan(_q("q_config_curation", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "Join" not in p
    import re

    rs = re.search(r"ReadSchema: (\S+)", p)
    assert rs and "n_chars" not in rs.group(1) and "source" not in rs.group(1), p
    assert "Window" in p  # the fingerprint dedup runs as one window


def test_simhash_wide_scores_inside_block_join(spark, sf_dir):
    # wide variant: no cartesian, and the hamming<=3 test must fold
    # into the (blk,bval) equi-join's residual condition (map-side
    # score-and-filter) so only qualifying pairs ever reach the
    # distinct's exchange — the r5 saturation fix depends on it
    p = plan(_q("q_llm_simhash_wide", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    import re

    cond = re.search(r"Join condition:.*", p)
    assert cond and "bit_count" in cond.group(0) and "<= 3" in cond.group(0), p


def test_embed_dedup_has_no_cross_join(spark, sf_dir):
    # round-1 regression: this was a crossJoin all-pairs cosine
    p = plan(_q("q_llm_embed_dedup", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ngram_jaccard_has_no_cross_join(spark, sf_dir):
    # round-1 regression: same-source self-join was quadratic in-block
    p = plan(_q("q_llm_ngram_jaccard", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_dedup_pipeline_has_no_cross_join(spark, sf_dir):
    p = plan(_q("q_llm_dedup_pipeline", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_similarity_topk_broadcasts_queries(spark, sf_dir):
    p = plan(_q("q_llm_similarity_topk", spark, sf_dir))
    # the small query set must be the broadcast side; the corpus scan
    # must not shuffle before scoring
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p


def test_broadcast_join_hint_respected(spark, sf_dir):
    p = plan(_q("q_broadcast_join", spark, sf_dir))
    assert "BroadcastHashJoin" in p, p


def test_asof_join_is_single_window_not_range_join(spark, sf_dir):
    p = plan(_q("q_asof_join", spark, sf_dir))
    assert "Window" in p, p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_wholestage_codegen_covers_llm_scoring(spark, sf_dir):
    # quality scoring is pure expressions → must stay JVM-side (the
    # scoring regexes appear in a Project, never a Python eval node).
    # Codegen "*(n)" markers are hidden under AdaptiveSparkPlan until
    # execution, so assert the property, not the marker.
    p = plan(_q("q_llm_quality_score", spark, sf_dir), "simple")
    assert "BatchEvalPython" not in p  # no row-at-a-time Python
    assert "ArrowEvalPython" not in p  # not even a vectorized UDF here
    assert "regexp_extract_all" in p, p  # scoring is a JVM expression


def test_m4_is_aggregate_not_window_sort(spark, sf_dir):
    # first/last must be arg-extremum aggregates (map-side partials),
    # not a ROW_NUMBER window: a window would sort every bucket's rows
    p = plan(_q("q_timeseries_m4", spark, sf_dir))
    assert "Window" not in p, p
    assert p.count("HashAggregate") >= 2 or "SortAggregate" in p, p


def test_latest_by_key_is_aggregate_not_window_sort(spark, sf_dir):
    # CDC compaction must not sort each key's full history
    p = plan(_q("q_latest_by_key", spark, sf_dir))
    assert "Window" not in p, p


def test_pii_redact_stays_in_codegen(spark, sf_dir):
    # regex scrub must be JVM expressions, never Python rows (codegen
    # "*(n)" markers hide under AdaptiveSparkPlan — assert the property)
    p = plan(_q("q_llm_pii_redact", spark, sf_dir), "simple")
    assert "BatchEvalPython" not in p
    assert "ArrowEvalPython" not in p
    assert "regexp_replace" in p, p  # the scrub is a JVM expression


def test_funnel_has_no_cross_join(spark, sf_dir):
    p = plan(_q("q_events_funnel", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_cidr_match_is_hash_join_not_nested_loop(spark, sf_dir):
    # the prefix-bucket trick exists precisely so the range predicate
    # does NOT become a broadcast nested-loop join
    p = plan(_q("q_sec_cidr_match", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p, p


def test_span_dedup_has_no_cross_join(spark, sf_dir):
    p = plan(_q("q_llm_span_dedup", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_vocab_topv_is_partial_topk_and_broadcast(spark, sf_dir):
    p = plan(_q("q_llm_vocab_coverage", spark, sf_dir))
    # top-V must be a per-partition heap, and the vocab must broadcast
    assert "TakeOrderedAndProject" in p, p
    assert "BroadcastHashJoin" in p, p


def test_anomaly_zscore_broadcasts_stats(spark, sf_dir):
    p = plan(_q("q_sec_anomaly_zscore", spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "Window" not in p, p  # two hash aggs + broadcast, no window


def test_sink_partition_prune_has_partition_filters(spark, sf_dir):
    # the event_type predicate must prune PARTITIONS (directory-level),
    # not just filter rows after a full scan
    p = plan(_q("q_sink_partition_prune", spark, sf_dir))
    pf = [ln for ln in p.splitlines() if "PartitionFilters" in ln]
    assert pf, p
    assert any("event_type" in ln for ln in pf), pf


def test_scan_orc_pushes_column_pruning(spark, sf_dir):
    p = plan(_q("q_scan_orc", spark, sf_dir))
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema, p
    # props is never referenced — the ORC reader must not materialize it
    assert "props" not in read_schema[0], read_schema[0]


def test_bloom_decontaminate_probe_is_broadcast(spark, sf_dir):
    # the corpus side must never shuffle: all k probe joins broadcast
    # the m/32-word filter table; no cross join anywhere
    p = plan(_q("q_llm_bloom_decontaminate", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p, p


def test_path_topk_is_take_ordered(spark, sf_dir):
    # the final top-10 must be a per-partition heap, not a global sort
    p = plan(_q("q_events_path_topk", spark, sf_dir))
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    # bucketed co-located tables: the join must consume bucketed scans
    # directly — zero shuffle on either side
    p = plan(_q("q_bucketed_join", spark, sf_dir))
    assert "SortMergeJoin" in p, p
    join_part = p.split("HashAggregate")[0]  # the scan+join subtree
    assert "Exchange" not in join_part.split("SortMergeJoin")[0], p


def test_ann_lsh_dedups_after_scoring_without_vector_shuffle(spark, sf_dir):
    """The LSH candidate dedup must be a map-side-combinable aggregate
    over (ids, score) AFTER the broadcast band join — not a
    dropDuplicates that shuffles candidate rows with both embedding
    vectors attached (the r4 rewrite; the shuffle rows are 24 bytes)."""
    from cheetah_spark.queries.llm import _ann_lsh_topk

    p = plan(_ann_lsh_topk(spark, sf_dir))
    assert "BroadcastHashJoin" in p  # band/bucket candidate join stays broadcast
    assert "CartesianProduct" not in p
    # the pair dedup is the max-aggregate (partial + final, formatted
    # mode lists the function in the node detail), so no exchange
    # carries embedding arrays between the join and the aggregate
    assert "HashAggregate" in p and "max(cos_sim" in p, (
        "pair dedup should be a max() hash aggregate"
    )


def test_domain_mix_joins_totals_by_broadcast(spark, sf_dir):
    """The scalar totals (grand token count, normalizer) must join the
    per-source table via broadcast — no shuffled join for single-row
    frames."""
    p = plan(_q("q_llm_domain_mix", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_ann_ivfpq_has_no_cross_join_and_repartitions_lists(spark, sf_dir):
    """IVF-PQ: codes co-located by inverted list (an explicit
    repartition on cid), partial top-pools the only wide data, no
    all-pairs anywhere; the bounded rerank joins are hash joins."""
    from cheetah_spark.queries.llm import _ann_ivfpq_topk

    p = plan(_ann_ivfpq_topk(spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "hashpartitioning(cid" in p, p  # list co-location shuffle


def test_bpe_encode_folds_merges_over_vocab_broadcast(spark, sf_dir):
    """r14: corpus tokenization encodes the DISTINCT-WORD table once
    and attaches per-word stats by broadcast join — the merge folds
    (interpreted higher-order expressions) must appear on the
    vocab-sized branch only, never per occurrence, and the occurrence
    side joins broadcast-hash with zero Python eval."""
    from cheetah_spark.registry import REGISTRY

    p = plan(REGISTRY["q_llm_bpe_encode"].fn(spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert "BroadcastHashJoin" in tree, tree
    assert "SortMergeJoin" not in tree, tree
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # the merge folds (aggregate() over each word's symbol array) are
    # computed only on the vocabulary branch: in the word-keyed
    # distinct aggregate under the innermost BroadcastExchange, never
    # on the occurrence side of either join
    nodes, details = plan_nodes(p), plan_details(p)
    fold_ids = {nid for nid, d in details.items() if "aggregate(" in d}
    assert fold_ids, p
    vocab = max((n for n in nodes if n[1] == "BroadcastExchange"), key=lambda n: n[0])
    assert fold_ids <= subtree_ids(nodes, vocab[2]), p
    for nid in fold_ids:
        assert re.search(r"Keys \[1\]: \[word#", details[nid]), details[nid]


def test_weighted_sample_uses_window_group_limit(spark, sf_dir):
    p = plan(_q("q_llm_weighted_sample", spark, sf_dir))
    # rank<=k over the stratum window must run as WindowGroupLimit —
    # each map task keeps its local top-k per lang BEFORE the
    # exchange; without it the full corpus sorts through the shuffle
    assert "WindowGroupLimit" in p, p
    assert "CartesianProduct" not in p


def test_dsir_select_is_salted_join_no_cartesian(spark, sf_dir):
    """The corpus-sized token relation joins the vocab-level LM exactly
    once (hot-salted equi-join); the LM totals and per-lang stats ride
    broadcasts (one-row / 5-row frames — BroadcastNestedLoopJoin is
    acceptable ONLY for those scalar totals, never a CartesianProduct
    or a shuffled join of the scalar frames)."""
    p = plan(_q("q_llm_dsir_select", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastExchange" in p, p
    # the corpus-side join must be a real equi-join, present in plan
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_span_trim_has_no_cross_join_and_partial_aggregates(spark, sf_dir):
    """The span-count aggregate must combine map-side, the dup join
    must be a real equi-join on the uniform span hash, and nothing may
    degenerate into a cartesian / nested-loop product — the k-wide
    position explode is gated behind the >=2-occurrence filter."""
    p = plan(_q("q_llm_span_trim", spark, sf_dir))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("HashAggregate") >= 2, p


def test_entropy_filter_partial_aggs_no_window(spark, sf_dir):
    """q_llm_entropy_filter must be pure hash aggregation: partial
    (map-side) aggregation at every level, no window, no join — the
    H = ln(n) − (Σ c·ln c)/n identity folds entropy into one per-doc
    aggregate instead of a per-row p=c/n window pass."""
    p = plan(_q("q_llm_entropy_filter", spark, sf_dir))
    assert "partial_count" in p or "partial_sum" in p, p
    assert "Window" not in p, p
    assert "Join" not in p, p
    # column pruning: the scan must not read n_chars/source
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and "source" not in read_schema[0], read_schema


def test_winnow_fingerprint_maponly_no_allpairs(spark, sf_dir):
    """q_llm_winnow_fingerprint: the fingerprint selection is the
    map-only Arrow fold (r13 — the doc-partitioned running-min window
    over the exploded k-gram stream is GONE), and no cartesian/
    nested-loop join — cross-doc sharing is a hash aggregate, never an
    all-pairs."""
    from cheetah_spark.catalog import load_table
    from cheetah_spark.queries.llm import _winnow_fp_arrow

    p = plan(_q("q_llm_winnow_fingerprint", spark, sf_dir))
    # the registered plan reads the checkpointed fingerprint table: no
    # window operator (of any spec) and no all-pairs join survive
    assert "windowspecdefinition" not in p.replace(" ", ""), p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    # the fold itself: one MapInArrow, zero Exchange, zero Window —
    # the exploded k-gram stream never enters a shuffle
    inner = plan(_winnow_fp_arrow(load_table(spark, sf_dir, "documents")))
    assert "MapInArrow" in inner, inner
    assert "Exchange" not in inner and "Window" not in inner, inner


def test_stream_bloom_probe_is_maponly_before_agg(spark, sf_dir):
    """s_llm_bloom_decontaminate's micro-batch plan: the Bloom probe
    must reach the stateful aggregate WITHOUT a shingle explode
    (no Generate) and attach the filter as a 1-row BROADCAST build —
    Catalyst folds the constant-key equi-join to a
    BroadcastNestedLoopJoin, which with a single build row is exactly
    the broadcast cross-attach intended (zero comparisons, no
    shuffle); per-doc rows stay 1:1, so the only shuffle is the
    per-lang aggregate."""
    from cheetah_spark.queries import curation as C
    from cheetah_spark.queries.streams import bloom_probe_transform

    # plan the REAL probe transform (the module-level helper the
    # streaming query itself runs — r7 advice: a hand-rebuilt analogue
    # could drift from the shipped path) over the batch documents
    # scan; the streaming plan differs only in source/state wrappers
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = [0] * (C._BLOOM_M // 32)
    bloom_row = spark.createDataFrame([(1, words)], "bk int, words array<bigint>")
    p = plan(bloom_probe_transform(d, bloom_row))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p, p
    assert "BuildRight" in p, p  # the 1-row words relation is the build side
    assert "Generate" not in p, p  # no shingle explode


def test_stream_bloom_partials_plan(spark, sf_dir):
    """s_llm_bloom_decontaminate's r10 foreachBatch micro-batch plan
    (bloom_probe_partials): the corpus side never shuffles wide — each
    of the k probe positions is a BROADCAST hash join against the
    m/32-word table (BuildRight), the shingle explode feeds codegen
    projections (no Python stage, no HOF-lambda filter path), and the
    only exchanges are the two-level (doc, lang) aggregation."""
    from cheetah_spark.queries import curation as C
    from cheetah_spark.queries.streams import bloom_probe_partials

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bloom = spark.createDataFrame(
        [(0, 0)], "word_idx bigint, word bigint"
    )
    p = plan(bloom_probe_partials(d, bloom))
    assert p.count("BroadcastHashJoin LeftOuter BuildRight") == C._BLOOM_K, p
    assert "BuildRight" in p, p
    assert "Generate" in p, p  # the explode IS the batch-legal shape
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # the expensive shingle expression must be exploded DIRECTLY: an
    # alias-then-explode projection makes InferFiltersFromGenerate
    # re-inline the whole regexp+transform chain into a pushed-down
    # Filter over text (measured 20x at the 25x tier) — the Generate
    # arguments must therefore carry the expression itself
    gen = [ln for ln in p.splitlines() if "explode" in ln and "Arguments" in ln]
    assert gen and "regexp_extract_all" in gen[0], p


def test_syslog_parse_is_maponly_regex_plus_one_rollup(spark, sf_dir):
    """q_syslog_parse: per-line parsing must be pure projection over
    the text scan (no join, no window, no Python stage) with map-side
    partial aggregation around the single facility×severity rollup
    exchange — the shape that makes a 100 TB syslog archive parse
    embarrassingly parallel."""
    p = plan(_q("q_syslog_parse", spark, sf_dir))
    assert "Join" not in p and "Window" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # partial + final (sort-based here: the two countDistincts expand
    # the rollup into distinct-aggregate form)
    assert p.count("HashAggregate") + p.count("SortAggregate") >= 2, p


def test_journald_parse_frames_at_scan_no_python(spark, sf_dir):
    """q_journald_parse: export-format entries are framed by the text
    scan's lineSep (no Generate/explode for framing), fields extracted
    with JVM regexp — no Python anywhere, one rollup exchange."""
    p = plan(_q("q_journald_parse", spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Generate" not in p, p  # framing happens at the scan, not via explode
    assert "Join" not in p and "Window" not in p, p
    assert p.count("HashAggregate") + p.count("SortAggregate") >= 2, p


def test_webhook_readback_single_pass(spark, sf_dir):
    """q_webhook_sink_batches: the spool readback is one scan → distinct
    → global aggregate, no Python stage (serialization happened JVM-side
    at delivery time; readback is plain spark.read.json)."""
    p = plan(_q("q_webhook_sink_batches", spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Join" not in p and "Window" not in p, p


def test_stream_minhash_sig_is_single_arrow_stage(spark, sf_dir):
    """The r8 signature path: exactly ONE Arrow python stage (the
    vectorized permutation fold), md5 base hashes JVM-side beneath it,
    and no row-at-a-time Python — pinned so a refactor can't silently
    stack a second Python round trip into the streaming hot path."""
    from pyspark.sql import functions as F

    from cheetah_spark.queries.llm import minhash_sigs_arrow

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan(minhash_sigs_arrow(d))
    # tree-line occurrences only ("MapInArrow (n)"); formatted mode
    # repeats each node once more in the detail section
    assert p.count("MapInArrow (") == 1, p
    assert "BatchEvalPython" not in p, p  # no row-at-a-time Python


def test_embed_pca_moments_partial_agg_and_pruned_scan(spark, sf_dir):
    """q_llm_embed_pca's hash-exact moment pass: per-dim integer sums
    must partially aggregate map-side (the shuffle carries 64 partial
    rows per task, not n×64 exploded rows) and the parquet scan must
    read ONLY the embedding column."""
    from pyspark.sql import functions as F

    from cheetah_spark.queries.llm import _PCA_SNAP

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    xd = e.select(F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "x"))
    q = F.floor(F.col("x") * F.lit(float(_PCA_SNAP)) + F.lit(0.5)).cast("long")
    moments = (
        xd.select(F.col("dim").cast("int").alias("dim"), q.alias("q"))
        .groupBy("dim")
        .agg(F.sum("q").alias("sum_q"))
    )
    p = plan(moments)
    assert "partial_sum" in p or "partial sum" in p.lower(), p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and "vec_id" not in read_schema[0], read_schema


def test_stream_minhash_fans_out_before_arrow_stage(spark, sf_dir):
    """The r9 starvation fix: the streaming signature plan must carry a
    round-robin Exchange (the micro-batch fan-out) BENEATH the Arrow
    stage, so a refactor can't silently pin the sig compute back to
    #admitted-files cores."""
    from pyspark.sql import functions as F

    from cheetah_spark.queries.llm import minhash_sigs_arrow

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fanout = spark.sparkContext.defaultParallelism
    p = plan(minhash_sigs_arrow(d.repartition(fanout)))
    assert "MapInArrow" in p, p
    assert "RoundRobinPartitioning" in p, p
    # the exchange must be BELOW the Arrow stage (executes first):
    # formatted-plan node numbering increases downward in the tree,
    # so assert order in the simple string form instead
    simple = plan(minhash_sigs_arrow(d.repartition(fanout)), "simple")
    arrow_at = simple.index("MapInArrow")
    exch_at = simple.index("RoundRobinPartitioning")
    assert exch_at > arrow_at, simple  # deeper in the tree = printed later


def test_connector_envelopes_stay_jvm_side(spark, sf_dir):
    """Every r10 connector envelope plan is pure Catalyst: the
    narrowing predicate (wildcard regex / attribute filter / prefix /
    equality) compiles to JVM expressions — no Python eval node
    anywhere, and the rollup keeps partial aggregation (map-side
    combine before the exchange)."""
    for name in (
        "q_amqp_envelope",
        "q_pubsub_envelope",
        "q_kinesis_envelope",
        "q_nsq_envelope",
        "q_zmq_envelope",
        "q_nats_envelope",
    ):
        p = plan(_q(name, spark, sf_dir))
        assert "BatchEvalPython" not in p, (name, p)
        assert "ArrowEvalPython" not in p, (name, p)
        assert "partial_" in p or "HashAggregate" in p, (name, p)


def test_zmq_prefix_is_startswith_and_nsq_equality_pushes(spark, sf_dir):
    """The zmq prefix subscription surfaces as StartsWith (a pushable
    predicate class) and the NSQ flat-topic filter as a plain equality
    — both visible in the pre-AQE plan."""
    p_zmq = plan(_q("q_zmq_envelope", spark, sf_dir))
    assert "StartsWith" in p_zmq or "startswith" in p_zmq.lower(), p_zmq
    p_nsq = plan(_q("q_nsq_envelope", spark, sf_dir))
    assert "= ev.click" in p_nsq or "ev.click" in p_nsq, p_nsq


def test_kinesis_shard_routing_is_codegen_md5(spark, sf_dir):
    """The MD5 shard-routing expression stays inside whole-stage
    codegen (md5/instr/floor are JVM built-ins)."""
    p = plan(_q("q_kinesis_envelope", spark, sf_dir))
    assert "md5" in p.lower(), p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_url_dedup_single_shuffle_key_no_python(spark, sf_dir):
    """q_llm_url_dedup: canonicalization is map-only JVM expressions;
    the only shuffle keys are the canonical URL (groupBy + join) and
    the final source rollup — document text is never read."""
    p = plan(_q("q_llm_url_dedup", spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" not in read_schema[0], read_schema
    assert "partial_" in p or "HashAggregate" in p, p


def test_gopher_rules_maponly_single_agg_no_python(spark, sf_dir):
    """q_llm_gopher_rules: the whole rule battery is map-side JVM
    higher-order expressions — no Python eval, no join, no window —
    with exactly one hash aggregate (partial + final) keyed by the
    tiny (lang, genre) space, and the scan reads only the three
    columns the battery needs."""
    p = plan(_q("q_llm_gopher_rules", spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Join" not in p and "Window" not in p, p
    assert p.count("+- Exchange") == 1, p
    assert "partial_" in p or "HashAggregate" in p, p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and "embedding" not in read_schema[0], read_schema


def test_c4_rules_maponly_single_agg_no_python(spark, sf_dir):
    """q_llm_c4_rules: line rewrite + page gates are map-side JVM
    higher-order expressions; one lang-keyed hash aggregate is the
    only exchange, and nothing reaches Python."""
    p = plan(_q("q_llm_c4_rules", spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Join" not in p and "Window" not in p, p
    assert p.count("+- Exchange") == 1, p
    assert "partial_" in p or "HashAggregate" in p, p


def test_line_dedup_broadcasts_boilerplate_set(spark, sf_dir):
    """q_llm_line_dedup: the corpus-side exploded lines must NOT
    shuffle for the flagging join — the bounded boilerplate set is the
    broadcast side (the df ~ n/17 'lorem ipsum' line is a skew key
    under any shuffle join). No Python anywhere."""
    p = plan(_q("q_llm_line_dedup", spark, sf_dir))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_recursive_cte_is_unionloop_no_join(spark, sf_dir):
    """q_sql_recursive_cte: the recursion must plan as UnionLoop with a
    map+filter step body — no self-join, no Python — and the rollup
    keeps partial aggregation around its single exchange."""
    p = plan(_q("q_sql_recursive_cte", spark, sf_dir))
    assert "UnionLoop" in p, p
    assert "Join" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "partial_" in p, p


def test_lateral_topn_decorrelates_to_window_group_limit(spark, sf_dir):
    """q_sql_lateral_topn: the correlated LATERAL must decorrelate to a
    WindowGroupLimit top-k with a map-side partial pass before the
    exchange, joined back broadcast — never a per-row re-execution or
    nested-loop shape."""
    p = plan(_q("q_sql_lateral_topn", spark, sf_dir))
    assert "WindowGroupLimit" in p, p
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_ewma_single_window_exec_one_sort(spark, sf_dir):
    p = plan(_q("q_timeseries_ewma", spark, sf_dir))
    # eight LAG taps over one shared WINDOW spec must collapse into a
    # single Window exec (one shuffle on user_id + one in-partition
    # sort), not one pass per tap
    assert p.count("Window") - p.count("WindowGroupLimit") >= 1, p
    assert p.count("Exchange") <= 2, p  # key shuffle (+AQE read), no per-tap exchanges
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_ohlc_is_one_partial_agg_no_window(spark, sf_dir):
    p = plan(_q("q_timeseries_ohlc", spark, sf_dir))
    # open/close via min_by/max_by partial aggregation — map-side
    # combine, one shuffle on the group key, and NO window sort
    assert "partial_min_by" in p or "partial_min" in p, p
    assert "Window" not in p, p
    assert p.count("Exchange") <= 2, p


def test_triangles_pairs_are_blocked_not_allpairs(spark, sf_dir):
    p = plan(_q("q_graph_triangles", spark, sf_dir))
    # co-presence pair generation must be an equi-join on the
    # (type, hour) block key — never a cartesian/BNL all-pairs pass
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p.replace(
        "BroadcastNestedLoopJoin BuildRight, Inner, true", ""
    ) or "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p, p


def test_first_seen_is_min_agg_not_window(spark, sf_dir):
    p = plan(_q("q_sec_first_seen", spark, sf_dir))
    # first-seen must be the associative MIN aggregate (map-side
    # combinable), not a row_number()=1 window sort per user
    assert "Window" not in p, p
    assert "partial_min" in p, p


def test_knn_local_topk_shuffles_k_rows_only(spark, sf_dir):
    p = plan(_q("q_llm_knn_classify", spark, sf_dir))
    # one Arrow stage for the local top-k; the global rank runs over
    # |Q|·k·partitions rows, and the label join broadcasts that side
    assert p.count("MapInPandas (") == 1, p  # tree-line occurrences only
    assert "BroadcastHashJoin" in p, p


def test_phash_payload_never_shuffles(spark, sf_dir):
    p = plan(_q("q_multimodal_phash_dedup", spark, sf_dir))
    # payload bytes stay inside the single Arrow fingerprint stage;
    # only the 64-char hash reaches the exchange
    assert p.count("MapInPandas (") == 1, p  # tree-line occurrences only
    exch = [ln for ln in p.splitlines() if "hashpartitioning" in ln]
    assert exch and all("payload" not in ln for ln in exch), p
    assert "partial_count" in p or "partial" in p, p  # map-side combine on phash


def test_audio_fingerprint_payload_never_shuffles(spark, sf_dir):
    p = plan(_q("q_multimodal_audio_dedup", spark, sf_dir))
    assert p.count("MapInPandas (") == 1, p  # tree-line occurrences only
    exch = [ln for ln in p.splitlines() if "hashpartitioning" in ln]
    assert exch and all("payload" not in ln for ln in exch), p


def test_sqlite_pull_is_partitioned_no_driver_collect(spark, sf_dir):
    # the ranges DF must carry multiple partitions into the Arrow pull
    # stage (each task opens its own read-only connection); the rollup
    # aggregates map-side after it
    from cheetah_spark.sources.sqlite_local import (
        EVENTS_SQLITE_SCHEMA,
        SqliteSource,
        events_sqlite_path,
    )

    db = events_sqlite_path(spark, sf_dir)
    src = SqliteSource(db, "events", EVENTS_SQLITE_SCHEMA, num_partitions=8)
    df = src.read(spark)
    assert df.rdd.getNumPartitions() >= 4, df.rdd.getNumPartitions()
    p = plan(_q("q_scan_sqlite", spark, sf_dir))
    assert p.count("MapInPandas (") == 1, p
    assert "partial_count" in p or "partial" in p, p


def test_percent_rank_single_window_exec(spark, sf_dir):
    p = plan(_q("q_window_percent_rank", spark, sf_dir))
    # percent_rank + cume_dist + row_number share one window spec →
    # ONE Window exec, one shuffle, one sort
    assert p.count("Window (") <= 1 or p.count("Window") - p.count("WindowGroupLimit") >= 1, p
    assert p.count("Exchange") <= 2, p


def test_cross_source_dups_collapses_before_join(spark, sf_dir):
    # the (fp, source) DISTINCT must bound each join block by |sources|
    # BEFORE the fingerprint self-join; never a cartesian
    p = plan(_q("q_llm_cross_source_dups", spark, sf_dir))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # two granularities → two distinct-collapse aggregates feed joins
    assert p.count("HashAggregate") >= 4, p


def test_recall_eval_truth_has_no_cartesian(spark, sf_dir):
    from cheetah_spark.registry import REGISTRY

    # the operator collects scalar counts internally; audit the plan of
    # its bounded-panel truth side by rebuilding the candidate join
    import cheetah_spark.queries.llm as L
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from cheetah_spark.functions import text as X

    toks = X.tokens(F.col("text"))
    t = d.select("doc_id", F.array_distinct(X.shingles(toks, 3)).alias("sh")).withColumn(
        "n_sh", F.size("sh")
    )
    post = t.select("doc_id", "n_sh", F.explode("sh").alias("s"))
    df_ = post.groupBy("s").agg(F.count("*").alias("df"))
    wd = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("s").asc())
    prefix = (
        post.join(df_, "s")
        .withColumn("rn", F.row_number().over(wd))
        .where(F.col("rn") <= F.floor(F.col("n_sh") * 0.5) + 1)
        .select("doc_id", "s")
    )
    truth = (
        prefix.alias("a")
        .join(prefix.alias("b"), on="s")
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
    )
    p = plan(truth)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_knn_fixedq_local_topk_shuffles_k_rows_only(spark, sf_dir):
    p = plan(_q("q_llm_knn_classify_fixedq", spark, sf_dir))
    # identical map-stage discipline to the contract mode: one Arrow
    # stage computes the local top-k (the fixed 64-query panel ships
    # inside the closure), and the label join broadcasts the k-row side
    assert p.count("MapInPandas (") == 1, p  # tree-line occurrences only
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_stream_line_dedup_batch_transform_broadcasts_boiler(spark, sf_dir):
    """s_llm_line_dedup's per-micro-batch plan (the exact transform
    foreachBatch runs, composed on a batch frame): the offline-compiled
    boilerplate set joins back BROADCAST — the exploded batch never
    shuffles for the flagging step — and nothing reaches Python."""
    from cheetah_spark.catalog import load_table
    from cheetah_spark.queries.curation import (
        _line_exploded,
        _line_lang_partials,
        line_boiler_anchor,
    )

    boiler = line_boiler_anchor(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    p = plan(_line_lang_partials(_line_exploded(d), boiler))
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_stream_url_dedup_state_never_reads_text(spark, sf_dir):
    """s_llm_url_dedup's keyed state is fed by a map-only plan: the
    canonicalization expressions read (doc_id, source) only — document
    text never enters the stream — and keep-min is the associative
    MIN/COUNT aggregate (map-side combinable partials), never a
    row_number window sort."""
    from cheetah_spark.catalog import load_table
    from cheetah_spark.queries.curation import _canonical_url_expr, _messy_url_expr
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    urls = d.select("doc_id", "source", _messy_url_expr().alias("url"))
    canon = urls.select(
        "doc_id", "source", _canonical_url_expr(F.col("url")).alias("curl")
    )
    state = canon.groupBy("source", "curl").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_fetches")
    )
    p = plan(state)
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and "text" not in read_schema[0], read_schema
    assert "Window" not in p, p
    assert "partial_min" in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p


def test_gopher_filter_batch_transform_maponly_no_python(spark, sf_dir):
    """s_llm_gopher_filter's per-micro-batch transform (the exact
    judged projection the stream runs, composed on a batch frame):
    map-only JVM higher-order expressions — no Python eval, no join,
    no exchange before the spool write."""
    from cheetah_spark.catalog import load_table
    from cheetah_spark.queries.curation import _gopher_judged

    d = load_table(spark, sf_dir, "documents")
    p = plan(_gopher_judged(d))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "Join" not in p and "Exchange" not in p, p


def test_config_fineweb_chain_plan_no_python_single_window(spark, sf_dir):
    """q_config_fineweb: the whole declarative chain must stay JVM-side
    (the boilerplate strip inlines the small set as a literal-array
    filter — zero Python eval), dedup via ONE keep-min window shuffle,
    no cartesian/broadcast-nested-loop anywhere, and the final rollup
    keeps partial aggregation."""
    p = plan(_q("q_config_fineweb", spark, sf_dir))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Window" in p, p
    assert "HashAggregate" in p, p


def test_config_fineweb_v2_chain_plan_single_arrow_no_cartesian(spark, sf_dir):
    """q_config_fineweb_v2: the 5-stage chain adds exactly ONE Arrow
    stage (the vectorized MinHash signature — bucket-min is a window
    over the banding shuffle, not an agg+self-join that would evaluate
    the signature subtree twice), no row-at-a-time Python, no
    cartesian/nested-loop join anywhere, and the anti-join drops
    flagged docs via a hash join."""
    p = plan(_q("q_config_fineweb_v2", spark, sf_dir))
    # formatted plans print each node twice (tree line "MapInArrow (id)"
    # + details line "(id) MapInArrow") — count tree entries only
    assert p.count("MapInArrow (") == 1, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert "Window" in p and "HashAggregate" in p, p


def _partial_agg_before_first_exchange(p: str) -> bool:
    """True iff the plan's innermost exchange is fed by a partial
    aggregate — i.e. some detail block ``(N) HashAggregate`` with
    partial_* functions has a LOWER node id than every ``(N) Exchange``
    block (formatted plans number nodes bottom-up, so lower id = closer
    to the scan)."""
    import re

    exchanges = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) Exchange", p)]
    partials = [
        int(m.group(1))
        for m in re.finditer(r"\((\d+)\) (?:Hash|Sort|ObjectHash)Aggregate", p)
        if "partial_" in p[m.start() : p.find("\n\n", m.start())]
    ]
    return bool(exchanges) and bool(partials) and min(partials) < min(exchanges)


def test_sec_port_scan_distinct_is_two_phase_no_join(spark, sf_dir):
    """q_sec_port_scan: the exact-distinct fanout must decompose into
    the two-level (user, week, port) -> (user, week) aggregation with a
    map-side partial BEFORE the first exchange (the shuffle carries
    per-key counts, not events), read only the three needed columns,
    and contain no join at all."""
    p = plan(_q("q_sec_port_scan", spark, sf_dir))
    assert _partial_agg_before_first_exchange(p), p
    read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read_schema and "event_type" not in read_schema[0], read_schema
    assert "Join" not in p, p


def test_sec_brute_force_single_shuffle_no_join(spark, sf_dir):
    """q_sec_brute_force: the gaps-and-islands + next-event correlation
    must run on ONE sort shuffle — hashpartitioning(user_id) satisfies
    both window clusterings, and the next-event verdict rides lead()
    in the first Window exec instead of a (user_id, rn) self-join that
    would re-scan and re-window the event table."""
    p = plan(_q("q_sec_brute_force", spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert tree.count("Exchange") == 1, tree
    assert tree.count("Window") == 2, tree
    # join-free + single-exchange ⇒ single-branch DAG ⇒ one source read
    # (a literal scan-node count is cache-fragile: another test caching
    # the table renders the child plan inside InMemoryRelation)
    assert "Join" not in p, p


def test_sec_log_drift_caches_daily_counts_single_events_read(spark, sf_dir):
    """q_sec_log_drift: the bounded daily-counts frame must be
    MATERIALIZED once (eager localCheckpoint → Scan ExistingRDD) so the
    zero-fill spine's three references read the checkpointed RDD and
    events hit parquet exactly once — localCheckpoint rather than
    persist() so no CacheManager entry leaks past the query (r13 fix:
    the leaked entry made this plan depend on which query ran first);
    the spine joins must be broadcast (never cartesian — the 1-row
    bounds crossJoin is the documented broadcast-scalar BNLJ); the
    trailing window runs once; the worst-day selection stays the
    max_by fold (no rank branch)."""
    p = plan(_q("q_sec_log_drift", spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert "ExistingRDD" in tree, tree
    assert "InMemoryTableScan" not in tree, tree
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in tree, tree
    assert tree.count("Window") == 1, tree
    assert "max_by" in p, p


def test_profile_table_single_expand_no_join(spark, sf_dir):
    """q_profile_table: the multi-column exact distinct must plan as
    ONE Expand feeding a partial aggregate (map-side dedup before the
    shuffle) — not per-column scans or joins; the oracle's 6-scan
    UNION spelling collapses into this single-pass plan."""
    p = plan(_q("q_profile_table", spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert tree.count("Expand") == 1, tree
    assert "Join" not in p and "Union" not in p, p
    assert _partial_agg_before_first_exchange(p), p


def test_k_anonymity_two_level_partial_agg_no_join(spark, sf_dir):
    """q_priv_k_anonymity: group sizes must partial-aggregate map-side
    before the only row-scale shuffle (the QI-tuple agg), the segment
    report runs on the bounded group-size frame, and the audit contains
    no join, window, or distinct expansion."""
    p = plan(_q("q_priv_k_anonymity", spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert _partial_agg_before_first_exchange(p), p
    assert "Join" not in p and "Window" not in tree and "Expand" not in tree, p


def test_span_family_single_derivation_window(spark, sf_dir):
    """r13 CS13: per-span occurrence counts ride a count-over-window —
    ONE derivation of the exploded span stream (one documents scan in
    the plan), no groupBy+join re-derivation."""
    for name in ("q_llm_span_dedup", "q_llm_span_trim"):
        p = plan(_q(name, spark, sf_dir))
        tree = p.split("\n\n")[0]
        assert tree.count("Scan parquet") == (1 if name == "q_llm_span_dedup" else 2), (
            name,
            tree,
        )
        assert "Window" in tree, (name, tree)


def test_url_dedup_single_canonicalization_pass(spark, sf_dir):
    """r13 CS14: keep-min/fetch-count ride a curl window — the
    regexp-heavy canonicalization appears over ONE documents scan."""
    p = plan(_q("q_llm_url_dedup", spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "Window" in tree, tree
    assert "Join" not in tree, tree


def test_first_seen_single_events_pass(spark, sf_dir):
    """r13 CS12: both rollups fold from the checkpointed (user, type,
    day) pre-aggregate — the final plan reads NO parquet (the one
    events scan lives in the checkpoint-build job)."""
    p = plan(_q("q_sec_first_seen", spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert "Scan parquet" not in tree, tree
    assert "ExistingRDD" in tree, tree


def test_knn_no_label_join_after_local_topk(spark, sf_dir):
    """r13 CS17: neighbor labels ride the local-top-k emission — no
    corpus-scan label join downstream of the map stage (exactly one
    embeddings scan feeds MapInPandas; the truth side is a local
    relation)."""
    p = plan(_q("q_llm_knn_classify", spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert tree.count("Scan parquet") == 1, tree
    assert "ExistingRDD" in tree or "LocalTableScan" in tree, tree


def test_triangles_enumeration_uses_broadcast_joins(spark, sf_dir):
    """r14: the checkpointed pres/edge relations carry no stats, so the
    enumeration joins planned SortMergeJoin; under the row-count gate
    every join in the final plan must be broadcast-hash — the wedge
    stream never shuffles or sorts."""
    p = plan(_q("q_graph_triangles", spark, sf_dir))
    tree = p.split("\n\n")[0]
    assert "SortMergeJoin" not in tree, tree
    assert tree.count("BroadcastHashJoin") >= 2, tree


def test_recall_eval_prefix_df_is_window_not_join(spark, sf_dir):
    """r14: document frequency rides a COUNT over the (s)-partitioned
    window instead of aggregate + join-back (one shuffle of the
    exploded posting stream, not two). Pinned at the helper level —
    the query itself returns collected scalars."""
    from pyspark.sql import functions as F

    from cheetah_spark.catalog import load_table
    from cheetah_spark.queries.llm import dedup_recall_eval_frame

    d = load_table(spark, sf_dir, "documents").limit(200)
    out = dedup_recall_eval_frame(d, panel=50)
    row = out.collect()[0]
    assert row.n_true >= 0 and 0.0 <= row.recall <= 1.0

    from cheetah_spark.queries.llm import _prefix_shingles

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split("text", " ").alias("sh")).withColumn("n_sh", F.size("sh"))
    p = plan(_prefix_shingles(t))
    nodes, details = plan_nodes(p), plan_details(p)
    names = [name for _, name, _ in nodes]
    assert not any("Join" in n or "Aggregate" in n for n in names), p
    # df: one COUNT window partitioned by s alone
    df_windows = [
        details[nid] for _, name, nid in nodes
        if name == "Window" and "count(1) windowspecdefinition(s#" in details[nid]
    ]
    assert len(df_windows) == 1, p
    assert re.search(r"AS df#\d+L\], \[s#\d+\]$", df_windows[0].strip()), df_windows[0]
    # two shuffles: by s for df, by doc_id for the per-doc rank
    keys = sorted(
        re.search(r"hashpartitioning\((\w+)#", details[nid]).group(1)
        for _, name, nid in nodes if name == "Exchange"
    )
    assert keys == ["doc_id", "s"], p
