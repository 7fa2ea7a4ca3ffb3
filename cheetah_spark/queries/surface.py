"""SQL-surface breadth: format scans (CSV/NDJSON), window frame/rank
extras, null semantics, FILTER-style conditional aggregation, and
correlated subqueries.

Completes the "a reference user can run every query they run today"
bar (reference kawad config sources, README.md:164-299, cover
csv/json/scanner feeds; the relational surface is north-star). Scans
verify against the SOURCE VIEW (the derived file must round-trip), the
rest against direct SQL oracles.
"""

from __future__ import annotations

import csv
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from cheetah_spark.catalog import load_table, register_views
from cheetah_spark.queries._util import dsum2, oracle_dsum2
from cheetah_spark.registry import register
from cheetah_spark.sources import CsvSource, JsonSource


def _events_file_fixture(sf_dir: str, fmt: str) -> str:
    """Materialize events as one CSV or NDJSON file (cached, sorted by
    event_id). Python writers, not Spark — the plan under test is
    purely the scan. Doubles round-trip via repr (exact)."""
    import pyarrow.parquet as pq

    from cheetah_spark.catalog import table_path
    from cheetah_spark.derived import derived_dir
    from cheetah_spark.streaming import _tag

    src = table_path(sf_dir, "events")

    def build(out: str) -> None:
        tbl = pq.read_table(
            src, columns=["event_id", "event_type", "user_id", "value", "props"]
        )
        rows = sorted(
            zip(*(tbl.column(c).to_pylist() for c in ("event_id", "event_type", "user_id", "value", "props")))
        )
        with open(f"{out}/events.{fmt}", "w", encoding="utf-8", newline="") as f:
            if fmt == "csv":
                w = csv.writer(f)
                w.writerow(["event_id", "event_type", "user_id", "value", "props"])
                for r in rows:
                    w.writerow([r[0], r[1], r[2], repr(r[3]), r[4]])
            else:  # ndjson
                for r in rows:
                    f.write(
                        json.dumps(
                            {
                                "event_id": r[0],
                                "event_type": r[1],
                                "user_id": r[2],
                                "value": r[3],
                                "props": r[4],
                            }
                        )
                        + "\n"
                    )

    return f"{derived_dir(f'{_tag(sf_dir)}/events_{fmt}_file', [src], build)}/events.{fmt}"


_EVENTS_AGG_ORACLE = f"""
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(user_id) AS BIGINT) AS sum_users,
               {oracle_dsum2("value")} AS sum_value
        FROM events
        GROUP BY event_type
"""


def _events_scan_agg(df: DataFrame) -> DataFrame:
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("user_id").cast("bigint").alias("sum_users"),
        dsum2("value").alias("sum_value"),
    )


@register("q_scan_csv", oracle=_EVENTS_AGG_ORACLE, tags=("scan", "source", "csv"))
def q_scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV scan with explicit schema (reference kawad csv-ish feeds):
    read the derived single-file CSV and verify the aggregate equals
    the parquet source view — proves lossless round-trip including
    doubles (repr strings parse to identical bits in both engines)."""
    path = _events_file_fixture(sf_dir, "csv")
    df = CsvSource(
        path,
        schema="event_id bigint, event_type string, user_id bigint, value double, props string",
        header=True,
    ).read(spark)
    return _events_scan_agg(df)


@register("q_scan_ndjson", oracle=_EVENTS_AGG_ORACLE, tags=("scan", "source", "json"))
def q_scan_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDJSON scan with explicit schema (reference S3 gzip-NDJSON sink
    format, x/s3/s3.go:128-141, read back): same lossless-round-trip
    verification as q_scan_csv."""
    path = _events_file_fixture(sf_dir, "ndjson")
    df = JsonSource(
        path,
        schema="event_id bigint, event_type string, user_id bigint, value double, props string",
    ).read(spark)
    return _events_scan_agg(df)


@register(
    "q_window_range_frame",
    oracle="""
        SELECT o_orderkey, o_custkey, d,
               CAST(ROUND(SUM(tp) OVER (
                   PARTITION BY o_custkey ORDER BY d
                   RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS rev_30d
        FROM (SELECT o_orderkey, o_custkey,
                     date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d,
                     CAST(o_totalprice AS DECIMAL(38,6)) AS tp
              FROM orders)
    """,
    tags=("window", "frame"),
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): per customer, rolling
    30-day revenue ordered by order date — peers at the same date are
    summed together, so the result is deterministic without a
    tiebreaker. Decimal sums keep it exact at any partitioning."""
    o = load_table(spark, sf_dir, "orders")
    d = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("d")
        .rangeBetween(-30, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        d.alias("d"),
        F.col("o_totalprice").cast("decimal(38,6)").alias("tp"),
    ).select(
        "o_orderkey",
        "o_custkey",
        "d",
        F.round(F.sum("tp").over(w), 2).cast("double").alias("rev_30d"),
    )


@register(
    "q_window_ntile",
    oracle="""
        SELECT o_orderkey,
               ntile(4) OVER w AS quartile,
               percent_rank() OVER w AS pr,
               cume_dist() OVER w AS cd
        FROM orders
        WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
    """,
    tags=("window", "rank"),
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranking: ntile/percent_rank/cume_dist over a total
    order (o_orderkey tiebreaker → deterministic; the rank ratios are
    single integer divisions → bit-identical)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@register(
    "q_null_semantics",
    oracle="""
        SELECT o_orderkey,
               NULLIF(o_orderstatus, 'O') AS ns,
               (NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F') AS null_safe_eq_f,
               COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open,
               row_number() OVER (
                   ORDER BY NULLIF(o_orderstatus, 'O') NULLS FIRST, o_orderkey) AS rn
        FROM orders
    """,
    tags=("scalar", "null"),
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics: NULLIF-manufactured nulls, null-safe equality
    (<=> / IS NOT DISTINCT FROM), COALESCE, and explicit NULLS FIRST
    ordering with a unique tiebreaker."""
    o = load_table(spark, sf_dir, "orders")
    ns = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    w = Window.orderBy(ns.asc_nulls_first(), F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        ns.alias("ns"),
        ns.eqNullSafe(F.lit("F")).alias("null_safe_eq_f"),
        F.coalesce(ns, F.lit("open")).alias("status_or_open"),
        F.row_number().over(w).alias("rn"),
    )


@register(
    "q_conditional_agg",
    oracle="""
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6)))
                          FILTER (WHERE o_orderstatus = 'F'), 2) AS DOUBLE) AS rev_finished,
               COUNT(DISTINCT CASE WHEN o_totalprice > 150000 THEN o_custkey END)
                   AS n_big_custs
        FROM orders
        GROUP BY o_orderpriority
    """,
    tags=("agg", "filter"),
)
def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional (FILTER-clause) aggregation: filtered count, filtered
    decimal-exact sum (NULL when the group has no qualifying rows, per
    SQL semantics), and a filtered distinct count."""
    o = load_table(spark, sf_dir, "orders")
    big = F.when(F.col("o_totalprice") > 150000, True)
    return o.groupBy("o_orderpriority").agg(
        F.count(F.when(F.col("o_totalprice") > 150000, 1)).alias("n_big"),
        F.round(
            F.sum(
                F.when(
                    F.col("o_orderstatus") == "F", F.col("o_totalprice").cast("decimal(38,6)")
                )
            ),
            2,
        )
        .cast("double")
        .alias("rev_finished"),
        F.countDistinct(F.when(big, F.col("o_custkey"))).alias("n_big_custs"),
    )


_SUBQ_SQL = """
    SELECT c.c_custkey, c.c_name,
           (SELECT COUNT(*) FROM orders o
             WHERE o.o_custkey = c.c_custkey) AS n_orders
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                   WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
      AND c.c_custkey NOT IN (SELECT o_custkey FROM orders
                               WHERE o_orderstatus = 'P')
"""


@register("q_sql_subqueries", oracle=_SUBQ_SQL, tags=("advanced", "sql", "subquery"))
def q_sql_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated subqueries through the SQL surface: scalar correlated
    COUNT, correlated EXISTS, and NOT IN — the identical SQL text runs
    in both engines. Catalyst decorrelates all three into joins (no
    per-row re-execution — subqueries become aggregate + semi/anti
    joins, the only shape that survives 100 TB)."""
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_SUBQ_SQL)
