"""Time-series coverage: tumbling/sliding windows, gap fill, sessionization.

Reference (SURVEY §2.9): TimeWin operator (colexec/timewin/timewin.go:153) for
`INTERVAL(ts, n, unit) SLIDING(m, unit)` with _wstart/_wend pseudo-columns;
Fill operator (colexec/fill/fill.go:125) with
NONE/PREV/NEXT/NULL/VALUE/LINEAR (plan.pb.go:905-914); golden SQL at
test/distributed/cases/time_window/time_window.sql.

Spark: F.window is the native tumbling/sliding implementation (epoch-aligned
buckets, same math as DuckDB time_bucket); gap fill is spine-join + window
functions (operators/timewindow.py) — fully distributed, no driver loop.

events.ts spans 2024-01-01 .. 2024-01-30 (~10k rows at sf0.01; ~100k at
sf0.1). value aggregation uses exact decimals for hash-stability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.operators.timewindow import fill_gaps, sessionize, time_window
from matrixone_spark.queries import register
from matrixone_spark.queries._helpers import dec


@register(
    "timewin_tumbling",
    oracle="""
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS _wstart,
       time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) + INTERVAL 1 HOUR AS _wend,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("timeseries", "bench"),
    doc="Tumbling window agg: INTERVAL(ts, 1, hour) with _wstart/_wend (timewin.go:153) → F.window(ts, '1 hour').",
)
def timewin_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    wdf, keys = time_window(e, "ts", "1 hour")
    return wdf.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    )


@register(
    "timewin_sliding",
    oracle="""
SELECT to_timestamp((CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 1800) AS BIGINT) - g.k) * 1800)
         AT TIME ZONE 'UTC' AS _wstart,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events, generate_series(0, 1) g(k)
GROUP BY 1
""",
    tags=("timeseries",),
    doc="Sliding window INTERVAL(ts,1,hour) SLIDING(30,minute) (timewin.go SLIDING; each row lands in width/slide=2 windows) → F.window(ts,'1 hour','30 minutes'). Oracle expands the two memberships via generate_series.",
)
def timewin_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events")
    wdf, _ = time_window(e, "ts", "1 hour", slide="30 minutes")
    return wdf.groupBy("_wstart").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    )


_FILL_ORACLE_BASE = """
WITH agg AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS bucket,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM events WHERE event_type = 'signup' AND user_id = 7
  GROUP BY 1
), spine AS (
  SELECT unnest(generate_series((SELECT min(bucket) FROM agg),
                                (SELECT max(bucket) FROM agg),
                                INTERVAL 1 HOUR)) AS bucket
)
SELECT s.bucket, {value_expr} AS v
FROM spine s LEFT JOIN agg a ON s.bucket = a.bucket
"""


@register(
    "timewin_fill_prev",
    oracle=_FILL_ORACLE_BASE.format(
        value_expr="last_value(a.v IGNORE NULLS) OVER (ORDER BY s.bucket)"
    ),
    tags=("timeseries",),
    doc="FILL(PREV) (fill.go:125, FillType PREV plan.pb.go:905): empty buckets carry the previous value — spine join + last(ignorenulls) window.",
)
def timewin_fill_prev(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fill_query(spark, sf_dir, "prev")


@register(
    "timewin_fill_linear",
    oracle=_FILL_ORACLE_BASE.format(
        value_expr="""
      CASE WHEN a.v IS NOT NULL THEN a.v
           ELSE (SELECT NULL) END""").replace(
        "ELSE (SELECT NULL) END",
        """ELSE
           ROUND(
           last_value(a.v IGNORE NULLS) OVER (ORDER BY s.bucket)
           + (first_value(a.v IGNORE NULLS) OVER (ORDER BY s.bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
              - last_value(a.v IGNORE NULLS) OVER (ORDER BY s.bucket))
           * ((epoch(s.bucket) - epoch(last_value(CASE WHEN a.v IS NOT NULL THEN s.bucket END IGNORE NULLS)
                                      OVER (ORDER BY s.bucket)))
              / (epoch(first_value(CASE WHEN a.v IS NOT NULL THEN s.bucket END IGNORE NULLS)
                    OVER (ORDER BY s.bucket ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
                 - epoch(last_value(CASE WHEN a.v IS NOT NULL THEN s.bucket END IGNORE NULLS)
                      OVER (ORDER BY s.bucket)))), 6)
           END"""
    ),
    tags=("timeseries",),
    doc="FILL(LINEAR) (fill.go LINEAR interpolation): gaps interpolated between neighboring non-null buckets; edges stay NULL.",
)
def timewin_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fill_query(spark, sf_dir, "linear")


@register(
    "timewin_fill_value",
    oracle=_FILL_ORACLE_BASE.format(value_expr="COALESCE(a.v, -1.0)"),
    tags=("timeseries",),
    doc="FILL(VALUE, -1) (fill.go VALUE mode): empty buckets get the constant.",
)
def timewin_fill_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fill_query(spark, sf_dir, "value", fill_value=-1.0)


def _fill_query(spark, sf_dir, mode, fill_value=None) -> DataFrame:
    e = (
        Catalog(spark, sf_dir)
        .table("events")
        .filter((F.col("event_type") == "signup") & (F.col("user_id") == 7))
    )
    wdf, _ = time_window(e, "ts", "1 hour")
    agg = wdf.groupBy(F.col("_wstart").alias("bucket")).agg(
        F.sum(dec("value")).cast("double").alias("v")
    )
    out = fill_gaps(agg, "bucket", "v", 3600, mode=mode, fill_value=fill_value)
    return out.select("bucket", "v")


@register(
    "sessionize_events",
    oracle="""
WITH flagged AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
         CASE WHEN epoch(CAST(ts AS TIMESTAMP))
                   - epoch(LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts)) > 1800
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events WHERE user_id <= 10
), sess AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM sess GROUP BY user_id, session_id
""",
    tags=("timeseries", "window"),
    doc="Sessionization (30-min gap): batch analogue of F.session_window via gaps-and-islands (operators/timewindow.py sessionize); the streaming path uses session_window natively (streaming/events.py).",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events").filter(F.col("user_id") <= 10)
    s = sessionize(e, "ts", 1800, ["user_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


@register(
    "timewin_per_user_hourly",
    oracle="""
SELECT user_id,
       time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS _wstart,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tot,
       CAST(MAX(value) AS DOUBLE) AS mx
FROM events WHERE event_type = 'purchase'
GROUP BY 1, 2
""",
    tags=("timeseries",),
    doc="Grouped time-window agg (timewin.go group+window keys): per-user 6-hour purchase rollup.",
)
def timewin_per_user_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).table("events").filter(F.col("event_type") == "purchase")
    wdf, _ = time_window(e, "ts", "6 hours", group_cols=["user_id"])
    return wdf.groupBy("user_id", "_wstart").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).cast("double").alias("tot"),
        F.max("value").cast("double").alias("mx"),
    )


@register(
    "timewin_sql_surface",
    oracle="""
WITH b AS (
  SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS _wstart,
         COUNT(*) AS n,
         MAX(CASE WHEN event_type = 'purchase' AND user_id % 97 = 3
                  THEN value END) AS mx
  FROM events GROUP BY 1)
SELECT _wstart,
       _wstart + INTERVAL 6 HOUR AS _wend,
       n,
       CAST(coalesce(mx, last_value(mx IGNORE NULLS) OVER (
           ORDER BY _wstart ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         AS DOUBLE) AS mx
FROM b
""",
    tags=("timeseries", "dialect"),
    doc=(
        "The reference's time-window SQL surface end-to-end: the MySQL text "
        "`SELECT _wstart, _wend, ... INTERVAL(ts, 6, hour) FILL(PREV)` "
        "(mysql_sql.y, window/time_window.sql) through "
        "mysql_dialect.rewrite_time_window — year-1-origin window alignment "
        "(timewin.go:476; coincides with the epoch grid at 6 h), FILL "
        "patching NULL aggregates across non-empty windows. The sparse "
        "max() predicate forces NULL windows so the fill path is load-"
        "bearing. Oracle reproduces the same fill with DuckDB IGNORE NULLS "
        "window functions."
    ),
)
def timewin_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions.sql_surface import run_sql
    from matrixone_spark.mysql_dialect import translate

    return run_sql(spark, translate(
        "select _wstart, _wend, count(*) as n, "
        "cast(max(case when event_type = 'purchase' and user_id % 97 = 3 "
        "then value end) as double) as mx "
        "from {events} interval(ts, 6, hour) fill(prev)"
    ), events=Catalog(spark, sf_dir).table("events"))


@register(
    "apply_sql_surface",
    oracle="""
SELECT o_orderkey,
       gs.result AS k,
       o_totalprice
FROM (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 64) o
CROSS JOIN LATERAL (
    SELECT unnest(generate_series(1, CAST(o_orderkey % 3 AS INT))) AS result
) gs
""",
    tags=("relational", "dialect"),
    doc=(
        "CROSS APPLY TVF in SQL text (reference Apply operator, "
        "join/apply.sql) through mysql_dialect.rewrite_apply -> Spark "
        "JOIN LATERAL with a correlated generate_series; the oracle runs "
        "DuckDB's own LATERAL unnest(generate_series)."
    ),
)
def apply_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from matrixone_spark.functions.sql_surface import run_sql
    from matrixone_spark.mysql_dialect import translate

    return run_sql(spark, translate(
        "select o.o_orderkey, gs.result as k, o.o_totalprice "
        "from (select o_orderkey, o_totalprice from {orders} "
        "where o_orderkey <= 64) o "
        "cross apply generate_series(1, cast(o.o_orderkey % 3 as int)) gs"
    ), orders=Catalog(spark, sf_dir).table("orders"))
