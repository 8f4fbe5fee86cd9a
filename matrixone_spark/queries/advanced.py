"""Operator edge cases: null ordering, ilike, HAVING, explicit GROUPING SETS,
correlated EXISTS with OR, nested subqueries, approx percentile, fraction
sampling. These mirror the reference's BVT edge corpora
(test/distributed/cases/operator/, subquery/, distinct/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.functions.sql_surface import run_sql
from matrixone_spark.queries import register
from matrixone_spark.queries._helpers import dec


@register(
    "null_ordering",
    oracle="""
SELECT o_orderkey, CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_totalprice END AS p
FROM orders WHERE o_orderkey <= 60
ORDER BY p DESC NULLS LAST, o_orderkey
LIMIT 30
""",
    tags=("sort",),
    doc="Explicit NULLS FIRST/LAST ordering (reference sort kernels pkg/sort/sort.go handle null placement; MySQL defaults differ from ANSI — made explicit).",
)
def null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders").filter(F.col("o_orderkey") <= 60)
    p = F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(F.col("o_totalprice"))
    return (
        o.select("o_orderkey", p.alias("p"))
        .orderBy(F.col("p").desc_nulls_last(), F.asc("o_orderkey"))
        .limit(30)
    )


@register(
    "ilike_filter",
    oracle="""
SELECT p_partkey, p_name FROM part
WHERE p_name ILIKE '%QuIcK%' OR UPPER(p_brand) LIKE 'BRAND#1%'
""",
    tags=("filter",),
    doc="ILIKE case-insensitive match (reference operator list: like/ilike, list_operator.go).",
)
def ilike_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = Catalog(spark, sf_dir).table("part")
    return p.filter(
        F.col("p_name").ilike("%QuIcK%") | F.upper("p_brand").like("BRAND#1%")
    ).select("p_partkey", "p_name")


@register(
    "having_filter",
    oracle="""
SELECT l_suppkey, COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
FROM lineitem
GROUP BY l_suppkey
HAVING COUNT(*) > 550 AND SUM(CAST(l_quantity AS DECIMAL(18,2))) > 14000
""",
    tags=("agg",),
    doc="HAVING over multiple aggregates (having_binder.go in reference planner).",
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = Catalog(spark, sf_dir).table("lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(dec("l_quantity")).alias("sq"),
        )
        .filter((F.col("n") > 550) & (F.col("sq") > 14000))
        .select("l_suppkey", "n", F.col("sq").cast("double").alias("total_qty"))
    )


@register(
    "grouping_sets_explicit",
    oracle="""
SELECT COALESCE(o_orderstatus, '<s>') AS o_orderstatus,
       COALESCE(o_orderpriority, '<p>') AS o_orderpriority,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    tags=("agg",),
    doc="Explicit GROUPING SETS (reference rewrites to unions, plan/build_test.go:1125; Spark native Expand).",
)
def grouping_sets_explicit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_sql(spark, """
        SELECT COALESCE(o_orderstatus, '<s>') AS o_orderstatus,
               COALESCE(o_orderpriority, '<p>') AS o_orderpriority,
               COUNT(*) AS cnt,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """, orders=Catalog(spark, sf_dir).table("orders"))


@register(
    "exists_or_correlated",
    oracle="""
SELECT s_suppkey, s_name FROM supplier s
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_suppkey = s.s_suppkey
                AND (l.l_quantity >= 49.5 OR l.l_discount >= 0.095))
""",
    tags=("subquery",),
    doc="Correlated EXISTS with OR-residual (reference flatten_subquery.go pulls correlated preds into the SEMI join condition).",
)
def exists_or_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    s, l = cat.table("supplier"), cat.table("lineitem")
    cond = (l.l_suppkey == s.s_suppkey) & (
        (l.l_quantity >= 49.5) | (l.l_discount >= 0.095)
    )
    return s.join(l, cond, "left_semi").select("s_suppkey", "s_name")


@register(
    "nested_subquery_two_levels",
    oracle="""
SELECT n_name, cnt FROM (
  SELECT n.n_name, (SELECT COUNT(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey
                    AND c.c_acctbal > (SELECT ROUND(CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
                                                   / COUNT(*), 6)
                                       FROM customer c2)) AS cnt
  FROM nation n) t
WHERE cnt > 0
""",
    tags=("subquery",),
    doc="Two-level nested scalar subqueries (correlated count over an uncorrelated avg) — reference flattens inner-out (flatten_subquery.go:59-170).",
)
def nested_subquery_two_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    c, n = cat.table("customer"), cat.table("nation")
    avg_bal = c.agg(
        F.round(F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1)), 6).alias("ab")
    )
    rich = c.crossJoin(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    per_nation = rich.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        n.join(per_nation, n.n_nationkey == per_nation.c_nationkey, "left")
        .filter(F.col("cnt") > 0)
        .select("n_name", "cnt")
    )


@register(
    "mysql_compat_battery",
    oracle="""
SELECT n_nationkey,
       CASE n_name WHEN 'FRANCE' THEN 1 WHEN 'GERMANY' THEN 2 WHEN 'CHINA' THEN 3 ELSE 0 END AS fld,
       CASE WHEN n_name < 'JAPAN' THEN -1 WHEN n_name > 'JAPAN' THEN 1 ELSE 0 END AS cmp_japan,
       (10 * 16777216 + 0 * 65536 + 5 * 256 + n_nationkey) AS ip_num,
       CONCAT(CAST(10 AS VARCHAR), '.0.5.', CAST(n_nationkey AS VARCHAR)) AS ip_str,
       DATEDIFF('day', DATE '1970-01-01', DATE '1995-03-15') + 719528 AS todays,
       ((200801 // 100) * 12 + (200801 % 100) - 1 + n_nationkey) // 12 * 100
         + ((200801 // 100) * 12 + (200801 % 100) - 1 + n_nationkey) % 12 + 1 AS period_shift,
       LPAD(CAST(n_nationkey * 97 // 3600 AS VARCHAR), 2, '0') || ':' ||
       LPAD(CAST((n_nationkey * 97 % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
       LPAD(CAST(n_nationkey * 97 % 60 AS VARCHAR), 2, '0') AS sec_time
FROM nation
""",
    tags=("functions", "mysql"),
    doc="MySQL-compat shims driver-gated (functions/mysql.py): field/strcmp/inet arithmetic/to_days/period_add/sec_to_time vs hand-expanded ANSI equivalents (unit tests pin MySQL doc values; this pins cross-engine expression behavior).",
)
def mysql_compat_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions import mysql as M

    n = Catalog(spark, sf_dir).table("nation")
    return n.select(
        "n_nationkey",
        M.field("n_name", "FRANCE", "GERMANY", "CHINA").alias("fld"),
        M.strcmp(F.col("n_name"), F.lit("JAPAN")).alias("cmp_japan"),
        M.inet_aton(F.concat(F.lit("10.0.5."), F.col("n_nationkey").cast("string"))).alias("ip_num"),
        M.inet_ntoa(F.lit(10 * 16777216 + 5 * 256) + F.col("n_nationkey")).alias("ip_str"),
        M.to_days(F.lit("1995-03-15").cast("date")).alias("todays"),
        M.period_add(F.lit(200801), F.col("n_nationkey")).alias("period_shift"),
        M.sec_to_time(F.col("n_nationkey") * 97).alias("sec_time"),
    )


@register(
    "approx_percentile_tdigest",
    oracle=None,  # approx sketch values are engine-specific (t-digest vs GK)
    tags=("agg", "approx"),
    doc="approx_percentile (list_agg.go:560, t-digest aggexec/approx_percentile.go) → F.percentile_approx; exact percentiles oracle-gated separately (agg_median_percentile).",
)
def approx_percentile_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = Catalog(spark, sf_dir).table("lineitem")
    iqr = F.percentile_approx("l_extendedprice", [0.25, 0.75], 1000)
    # Scalar columns only: the driver's rows-only hasher canonicalizes by
    # sorting values, and array<double> cells are unhashable there (r03 red).
    return l.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_p50"),
        iqr.getItem(0).alias("approx_p25"),
        iqr.getItem(1).alias("approx_p75"),
    )


@register(
    "sample_fraction",
    oracle=None,  # random sample; statistical gate below, not value-equality
    tags=("sample", "approx"),
    doc="TABLESAMPLE percent mode (sample/types.go:166 percent sampling) → df.sample(fraction, seed); deterministic-given-seed row subset.",
)
def sample_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = Catalog(spark, sf_dir).table("orders")
    return o.sample(fraction=0.1, seed=42).select("o_orderkey", "o_custkey")


@register(
    "agg_null_group_keys",
    oracle="""
SELECT o_orderstatus,
       CASE WHEN grp_key IS NULL THEN 'NULL' ELSE CAST(grp_key AS VARCHAR) END AS customer_key,
       COUNT(*) AS cnt
FROM (
  SELECT o.o_orderstatus,
         CASE WHEN o.o_custkey <= 700 THEN o.o_custkey % 10 ELSE NULL END AS grp_key
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
GROUP BY o_orderstatus, grp_key
""",
    tags=("agg", "regression"),
    doc=(
        "NULL group keys must survive partial/merge aggregation after a join "
        "(reference regression test/distributed/cases/benchmark/tpcds/"
        "01_issue_24208.sql: a partial batch with only non-null keys, a "
        "later batch introducing the NULL group — the merge-group path "
        "dropped it). Spark's two-phase HashAggregate treats NULL as a "
        "normal grouping value; this query pins that across a shuffle join."
    ),
)
def agg_null_group_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    o, l = c.table("orders"), c.table("lineitem")
    grp = F.when(F.col("o_custkey") <= 700, F.col("o_custkey") % 10)
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select("o_orderstatus", grp.alias("grp_key"))
        .groupBy("o_orderstatus", "grp_key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "o_orderstatus",
            F.when(F.col("grp_key").isNull(), "NULL")
            .otherwise(F.col("grp_key").cast("string"))
            .alias("customer_key"),
            "cnt",
        )
    )


@register(
    "join_exists_or_exists",
    oracle="""
SELECT c_custkey FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE c.c_custkey = o.o_custkey AND o.o_totalprice > 400000)
   OR EXISTS (SELECT 1 FROM lineitem l
              WHERE c.c_custkey = l.l_suppkey AND l.l_quantity >= 49)
""",
    tags=("join", "subquery", "regression"),
    doc=(
        "OR of two EXISTS subqueries: each outer row emitted exactly once "
        "even when a subquery side produces many matching batches "
        "(reference regression tpcds/02_issue_24219.sql — the catalog-side "
        "EXISTS spanning several batches duplicated the outer row). "
        "Catalyst plans ExistenceJoin markers + a disjunction filter; runs "
        "through Engine.sql (SQL surface) to exercise that rewrite."
    ),
)
def join_exists_or_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.engine import Engine

    eng = Engine(spark).load(sf_dir)
    return eng.sql(
        """
        SELECT c_custkey FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE c.c_custkey = o.o_custkey AND o.o_totalprice > 400000)
           OR EXISTS (SELECT 1 FROM lineitem l
                      WHERE c.c_custkey = l.l_suppkey AND l.l_quantity >= 49)
        """
    )
