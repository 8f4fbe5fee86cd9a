"""Shared builders for hash-stable aggregate expressions.

Double summation is order-dependent; Spark's partial aggregation order is
non-deterministic under parallelism, so raw SUM(double) can never hash-match
an oracle. Every money/measure aggregate therefore runs in exact DECIMAL
arithmetic and only the FINAL value is cast to DOUBLE — bit-identical on both
engines. (The reference hits the same issue differently: its decimal types are
exact by construction, pkg/container/types/types.go:57-59.)
"""

from __future__ import annotations

from pyspark.sql import Column

from matrixone_spark.functions import col_of


def dec(col: "str | Column", prec: int = 18, scale: int = 2) -> Column:
    return col_of(col).cast(f"decimal({prec},{scale})")
