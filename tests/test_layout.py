"""Scale-layout gates: bucketed joins must not shuffle; salted aggregation
must equal plain aggregation; range-partitioned writes must prune."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.obs import executed_plan
from matrixone_spark.operators.layout import (
    repartition_range_write,
    salted_groupby_sum,
    write_bucketed,
)
from tests.conftest import SF_DIR

TMP = "/root/repo/.tmp_test_layout"


def test_bucketed_join_has_no_shuffle(spark):
    """Both sides bucketed on the join key → join plans without Exchange
    (reference co-located shuffle join, ap_multi_cn_shuffle_merge_guide.md)."""
    cat = Catalog(spark, SF_DIR)
    try:
        write_bucketed(cat.table("orders"), "t_orders_b", ["o_orderkey"], 8)
        write_bucketed(
            cat.table("lineitem").select("l_orderkey", "l_quantity"),
            "t_lineitem_b", ["l_orderkey"], 8,
        )
        j = spark.table("t_orders_b").join(
            spark.table("t_lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = executed_plan(j)
        assert "Exchange hashpartitioning" not in plan, plan
        # and it still returns the right row count
        expected = (
            cat.table("lineitem")
            .join(cat.table("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
            .count()
        )
        assert j.count() == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_salted_agg_equals_plain(spark):
    cat = Catalog(spark, SF_DIR)
    li = cat.table("lineitem")
    salted = {
        (r.l_returnflag): (r.sum_l_quantity, r.cnt)
        for r in salted_groupby_sum(li, "l_returnflag", "l_quantity", 16).collect()
    }
    plain = {
        r.l_returnflag: (float(r.s), r.c)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,6)")).alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert salted == plain


def test_range_partitioned_write_prunes(spark):
    cat = Catalog(spark, SF_DIR)
    out = f"{TMP}/orders_range"
    try:
        repartition_range_write(cat.table("orders"), out, ["o_orderdate"], 8)
        back = spark.read.parquet(out).filter(
            F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz")
        )
        # value-clustered files → most row groups pruned; verify correctness
        expected = cat.table("orders").filter(
            F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz")
        ).count()
        assert back.count() == expected
        import glob, pyarrow.parquet as pq

        files = glob.glob(f"{out}/part-*.parquet")
        assert len(files) >= 4
        # range clustering: per-file [min,max] spans must not all overlap
        spans = []
        for f in files:
            md = pq.read_metadata(f)
            col_idx = [md.schema.column(i).name for i in range(md.num_columns)].index("o_orderdate")
            mins, maxs = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(col_idx).statistics
                mins.append(st.min); maxs.append(st.max)
            spans.append((min(mins), max(maxs)))
        spans.sort()
        overlaps = sum(1 for a, b in zip(spans, spans[1:]) if a[1] > b[0])
        assert overlaps == 0, f"files not value-clustered: {spans}"
    finally:
        shutil.rmtree(TMP, ignore_errors=True)
