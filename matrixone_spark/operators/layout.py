"""Data layout for scale: bucketing, range partitioning, skew salting.

Reference parity (SURVEY §2.9/§4.1):
- Shuffle operator with hash AND range modes chosen from zonemap value ranges
  (colexec/shuffle/shuffle.go:101; planner plan/shuffle.go:442-579) →
  repartition(cols) / repartitionByRange here.
- Multi-CN shuffle-join co-location (plan/ap_multi_cn_shuffle_merge_guide.md)
  → Spark bucketed tables: both sides bucketed by the join key join WITHOUT
  an Exchange (verified in tests/test_layout.py).
- Skewed-key handling (AQE skew join is on; this module adds explicit salting
  for aggregations, which AQE does not split).

These are the levers that decide whether a plan survives 100 TB: a
co-located join saves the dominant shuffle; salting caps the largest task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame, table_name: str, bucket_cols: "list[str]", n_buckets: int,
    sort_cols: "list[str] | None" = None, mode: str = "overwrite",
) -> None:
    """Persist as a bucketed managed table — joins/aggs on bucket_cols then
    plan with NO shuffle on the bucketed side(s)."""
    w = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def repartition_range_write(
    df: DataFrame, path: str, range_cols: "list[str]", n_partitions: int
) -> None:
    """Range-partitioned parquet layout (reference range shuffle): files are
    value-clustered so min/max row-group stats prune range predicates."""
    df.repartitionByRange(n_partitions, *range_cols).write.mode("overwrite").parquet(path)


def salted_groupby_sum(
    df: DataFrame, key_col: str, value_col: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase aggregation with explicit salting for heavy-hitter keys:
    groupBy(key, salt) partial → groupBy(key) final. Caps the biggest
    reducer at ~1/n_salts of the hottest key (zipf-style skew)."""
    salted = df.withColumn("_salt", F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(n_salts)))
    partial = salted.groupBy(key_col, "_salt").agg(
        F.sum(F.col(value_col).cast("decimal(28,6)")).alias("_psum"),
        F.count(F.lit(1)).alias("_pcnt"),
    )
    return partial.groupBy(key_col).agg(
        F.sum("_psum").cast("double").alias(f"sum_{value_col}"),
        F.sum("_pcnt").alias("cnt"),
    )
