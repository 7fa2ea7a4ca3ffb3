"""Relational core: scans, filters, joins, aggregates, sorts, set ops.

The reference framework has none of these (verified in SURVEY.md §2A —
its only compute hook is the 1→0..N ``Handler``, reference
types.go:122-135); this module is the declared target surface of
SURVEY.md §2B expressed as idiomatic Catalyst-optimized DataFrame plans.

Scale posture: every query here is a declarative plan — predicate
pushdown and column pruning reach the parquet scan, dimension joins are
explicitly broadcast where the dimension is small by construction
(region/nation/supplier), fact-fact joins shuffle on their equi-keys and
AQE handles skew. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheetah_spark.catalog import load_table
from cheetah_spark.queries._util import davg, dsum2, oracle_davg, oracle_dsum2
from cheetah_spark.registry import register


# ---------------------------------------------------------------------------
# Scans / filters / projection (reference: scanner source + Handler-as-map,
# x/scanner/scanner.go:14-105, types.go:122-135)
# ---------------------------------------------------------------------------


@register(
    "q_scan_project",
    oracle="""
        SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
        FROM lineitem
    """,
    tags=("scan",),
)
def q_scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet scan + narrow projection (column pruning reaches the scan)."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )


@register(
    "q_filter_pred",
    oracle="""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
        WHERE o_orderstatus IN ('O', 'F')
          AND o_totalprice BETWEEN 50000 AND 250000
          AND (o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%')
          AND o_custkey IS NOT NULL
    """,
    tags=("filter",),
)
def q_filter_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicate (IN / BETWEEN / LIKE / IS NOT NULL), pushed down."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("O", "F")
        & F.col("o_totalprice").between(50000, 250000)
        & (F.col("o_orderpriority").like("1-%") | F.col("o_orderpriority").like("2-%"))
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


def _text_lines_fixture(sf_dir: str) -> str:
    """Materialize documents.text as one delimited text file (cached).

    Mirrors the reference scanner's custom-delimiter splitting
    (x/scanner/scanner.go:90-105, tested with a multi-byte delimiter in
    test/stream_test.go:43-55). Derivation uses pyarrow (not Spark) so
    the Spark plan under test is purely the lineSep scan.
    """
    import pyarrow.parquet as pq

    from cheetah_spark.catalog import table_path
    from cheetah_spark.derived import derived_dir
    from cheetah_spark.streaming import _tag

    src = table_path(sf_dir, "documents")

    def build(out: str) -> None:
        tbl = pq.read_table(src, columns=["doc_id", "text"])
        rows = sorted(zip(tbl.column("doc_id").to_pylist(), tbl.column("text").to_pylist()))
        with open(f"{out}/doc_lines.txt", "w", encoding="utf-8") as f:
            f.write("|#|".join(t for _, t in rows))

    return f"{derived_dir(f'{_tag(sf_dir)}/doc_lines', [src], build)}/doc_lines.txt"


@register(
    "q_scan_text_lines",
    oracle="""
        SELECT COUNT(*) AS n_lines,
               CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
               CAST(MAX(LENGTH(text)) AS BIGINT) AS max_chars
        FROM documents
    """,
    tags=("scan", "source"),
)
def q_scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-delimiter text scan (reference scanner S2): read a derived
    single-file fixture with a multi-byte lineSep and verify record
    boundaries against the source table."""
    path = _text_lines_fixture(sf_dir)
    lines = spark.read.option("lineSep", "|#|").text(path)
    return lines.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.max(F.length("value")).cast("bigint").alias("max_chars"),
    )


@register(
    "q_deser_json",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
               (CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS DOUBLE)
                     / COUNT(*)) AS avg_k
        FROM events
        GROUP BY event_type
    """,
    tags=("deser", "json"),
)
def q_deser_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload → typed column (reference DeserializationSource S7 /
    TransformUnmarshalJSON, types.go:159-195): ``from_json`` projection
    then aggregate on the extracted field."""
    e = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            (F.sum("k").cast("double") / F.count("*")).alias("avg_k"),
        )
    )


@register(
    "q_flatmap_explode",
    oracle="""
        SELECT token, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        )
        GROUP BY token
    """,
    tags=("flatmap",),
)
def q_flatmap_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1→N handler semantics (reference Handler T1 returning multiple
    messages, types.go:122-135) as split + explode."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
    )


@register(
    "q_union_fanin",
    oracle=f"""
        SELECT src, o_orderstatus, COUNT(*) AS n,
               {oracle_dsum2("o_totalprice")} AS sum_price
        FROM (
            SELECT 'high' AS src, * FROM orders WHERE o_totalprice > 150000
            UNION ALL
            SELECT 'urgent' AS src, * FROM orders WHERE o_orderpriority = '1-URGENT'
        )
        GROUP BY src, o_orderstatus
    """,
    tags=("union",),
)
def q_union_fanin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fan-in of N sources into one stream (reference MultiSource S6,
    x/multi/multisrc.go:15-81) as unionByName."""
    o = load_table(spark, sf_dir, "orders")
    high = o.filter(F.col("o_totalprice") > 150000).withColumn("src", F.lit("high"))
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").withColumn("src", F.lit("urgent"))
    return (
        high.unionByName(urgent)
        .groupBy("src", "o_orderstatus")
        .agg(F.count("*").alias("n"), dsum2(("o_totalprice")).alias("sum_price"))
    )


# ---------------------------------------------------------------------------
# Joins (no reference equivalent — target surface per SURVEY.md §2B)
# ---------------------------------------------------------------------------


@register(
    "q_hash_join_inner",
    oracle=f"""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               {oracle_dsum2("o_totalprice")} AS sum_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    tags=("join",),
)
def q_hash_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi inner join, shuffle on the join key (AQE may flip to
    broadcast when the build side is small at runtime)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "inner")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_orders"), dsum2(("o_totalprice")).alias("sum_price"))
    )


@register(
    "q_broadcast_join",
    oracle=f"""
        SELECT r_name, n_name, COUNT(*) AS n_cust,
               {oracle_davg("c_acctbal")} AS avg_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name
    """,
    tags=("join", "broadcast"),
)
def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-dimension joins with explicit broadcast hints — nation (25
    rows) and region (5 rows) are fixed-size at every SF, so the big
    side never shuffles."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"), davg(("c_acctbal")).alias("avg_bal"))
    )


@register(
    "q_outer_joins",
    oracle=f"""
        WITH cust AS (
            SELECT c_nationkey AS nationkey, COUNT(*) AS n_cust,
                   {oracle_dsum2("c_acctbal")} AS sum_bal
            FROM customer WHERE c_mktsegment = 'BUILDING'
            GROUP BY c_nationkey
        ), supp AS (
            SELECT s_nationkey AS nationkey, COUNT(*) AS n_supp
            FROM supplier WHERE s_acctbal > 5000
            GROUP BY s_nationkey
        )
        SELECT COALESCE(cust.nationkey, supp.nationkey) AS nationkey,
               n_name, n_cust, sum_bal, n_supp
        FROM cust FULL OUTER JOIN supp ON cust.nationkey = supp.nationkey
        LEFT JOIN nation ON COALESCE(cust.nationkey, supp.nationkey) = n_nationkey
    """,
    tags=("join", "outer"),
)
def q_outer_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER between two filtered aggregates (nulls on both sides)
    plus a LEFT join to the dimension for names."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cust = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count("*").alias("n_cust"), dsum2(("c_acctbal")).alias("sum_bal"))
    )
    supp = (
        s.filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    joined = cust.join(supp, cust.c_nk == supp.s_nk, "full_outer").withColumn(
        "nationkey", F.coalesce("c_nk", "s_nk")
    )
    return joined.join(F.broadcast(n), joined.nationkey == n.n_nationkey, "left").select(
        "nationkey", "n_name", "n_cust", "sum_bal", "n_supp"
    )


@register(
    "q_semi_anti_join",
    oracle="""
        SELECT 'semi' AS side, c_mktsegment, COUNT(*) AS n
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 150000)
        GROUP BY c_mktsegment
        UNION ALL
        SELECT 'anti' AS side, c_mktsegment, COUNT(*) AS n
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """,
    tags=("join", "semi", "anti"),
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI (EXISTS) and LEFT ANTI (NOT EXISTS) joins."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 150000)
    semi = (
        c.join(big, c.c_custkey == big.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .select(F.lit("semi").alias("side"), "c_mktsegment", "n")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n"))
        .select(F.lit("anti").alias("side"), "c_mktsegment", "n")
    )
    return semi.unionByName(anti)


@register(
    "q_theta_range_join",
    oracle=f"""
        SELECT s_nationkey AS nationkey, COUNT(*) AS n_pairs,
               {oracle_dsum2("c_acctbal - s_acctbal")} AS sum_gap
        FROM supplier JOIN customer
          ON c_nationkey = s_nationkey AND c_acctbal > s_acctbal
        GROUP BY s_nationkey
    """,
    tags=("join", "theta"),
)
def q_theta_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi predicate riding on an equi key: the equi component
    (nationkey) partitions the shuffle so the theta condition never
    degenerates into a cross join — the scale-safe shape for range
    joins (pure theta at 100 TB is a cartesian explosion)."""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    return (
        s.join(c, (c.c_nationkey == s.s_nationkey) & (c.c_acctbal > s.s_acctbal))
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_pairs"),
            dsum2((F.col("c_acctbal") - F.col("s_acctbal"))).alias("sum_gap"),
        )
    )


@register(
    "q_multiway_join_tpch",
    oracle=f"""
        SELECT n_name,
               {oracle_dsum2("l_extendedprice * (1 - l_discount)")} AS revenue,
               COUNT(*) AS n_lines
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    tags=("join", "agg", "flagship"),
)
def q_multiway_join_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q5-shaped 6-table star join.

    Plan shape at scale: lineitem⋈orders⋈customer shuffle on their keys
    (the two fact joins), supplier/nation/region broadcast; the date and
    region predicates push into the scans before any join.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(l, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum2((F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# ---------------------------------------------------------------------------
# Aggregation
# ---------------------------------------------------------------------------


@register(
    "q_hash_agg",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               {oracle_dsum2("l_quantity")} AS sum_qty,
               {oracle_dsum2("l_extendedprice")} AS sum_base_price,
               {oracle_dsum2("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
               {oracle_dsum2("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
               {oracle_davg("l_quantity")} AS avg_qty,
               {oracle_davg("l_extendedprice")} AS avg_price,
               {oracle_davg("l_discount")} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg",),
)
def q_hash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped grouped aggregation (map-side partial agg →
    shuffle on the low-cardinality group key → final agg)."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        dsum2(("l_quantity")).alias("sum_qty"),
        dsum2(("l_extendedprice")).alias("sum_base_price"),
        dsum2((disc_price)).alias("sum_disc_price"),
        dsum2((charge)).alias("sum_charge"),
        davg(("l_quantity")).alias("avg_qty"),
        davg(("l_extendedprice")).alias("avg_price"),
        davg(("l_discount")).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@register(
    "q_agg_distinct",
    oracle="""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS n_part,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT l_orderkey) AS n_order
        FROM lineitem
        GROUP BY l_returnflag
    """,
    tags=("agg", "distinct"),
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct counts (expand + two-phase agg)."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_part"),
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_orderkey").alias("n_order"),
    )


@register(
    "q_grouping_sets",
    oracle=f"""
        SELECT COALESCE(l_returnflag, 'ALL') AS rf,
               COALESCE(l_linestatus, 'ALL') AS ls,
               CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
               COUNT(*) AS n_rows,
               {oracle_dsum2("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    tags=("agg", "rollup"),
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping indicators (subtotals + grand total)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count("*").alias("n_rows"),
            dsum2(("l_quantity")).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "g_rf",
            "g_ls",
            "n_rows",
            "sum_qty",
        )
    )


@register(
    "q_cube_agg",
    oracle=f"""
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               COUNT(*) AS n,
               {oracle_dsum2("o_totalprice")} AS sum_price
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "cube"),
)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions (all 4 grouping sets)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), dsum2(("o_totalprice")).alias("sum_price"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "sum_price",
        )
    )


@register(
    "q_having_filter",
    oracle=f"""
        SELECT o_custkey, COUNT(*) AS n_orders,
               {oracle_dsum2("o_totalprice")} AS sum_price
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 12
    """,
    tags=("agg", "having"),
)
def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"), dsum2(("o_totalprice")).alias("sum_price"))
        .filter(F.col("n_orders") >= 12)
    )


# ---------------------------------------------------------------------------
# Sort / limit / set ops / dedup
# ---------------------------------------------------------------------------


@register(
    "q_sort_limit_topk",
    oracle="""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 100
    """,
    tags=("sort", "limit"),
)
def q_sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: ORDER BY + LIMIT compiles to TakeOrderedAndProject
    (per-partition top-k then driver merge of k·P rows — no total sort,
    no full shuffle; survives any scale-up). Unique tiebreaker keeps the
    selected set deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "q_set_ops",
    oracle="""
        SELECT 'intersect' AS side, custkey FROM (
            SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            INTERSECT
            SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
        )
        UNION ALL
        SELECT 'except' AS side, custkey FROM (
            SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
            EXCEPT
            SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
        )
    """,
    tags=("setop",),
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct semantics, matching SQL)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    b = o.filter(F.col("o_totalprice") > 150000).select(F.col("o_custkey").alias("custkey"))
    inter = a.intersect(b).select(F.lit("intersect").alias("side"), "custkey")
    exc = a.subtract(b).select(F.lit("except").alias("side"), "custkey")
    return inter.unionByName(exc)


@register(
    "q_distinct_dedup",
    oracle="""
        SELECT DISTINCT lang, source FROM documents
    """,
    tags=("distinct",),
)
def q_distinct_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DISTINCT (exact dedup of the key tuple); the scaled
    content-dedup operators live in queries/llm.py."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("lang", "source").distinct()
