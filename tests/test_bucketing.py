"""Bucketed co-located joins — the 100 TB shuffle-elimination strategy.

Reference parity: the reference co-locates fact-fact joins via hash-bucketed
shuffle pipelines chosen at compile time (pkg/sql/compile/compile.go shuffle
join planning; SURVEY §2.9). Spark's equivalent static strategy is Hive-style
bucketing: both sides written `bucketBy(N, key)` with equal N join WITHOUT an
Exchange — the scan's output partitioning already satisfies the join's
distribution requirement. At 100 TB this turns the nightly fact-fact join
from two full shuffles into zero.
"""

import pytest

from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.obs import executed_plan

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("bucketed-wh"))
    cat = Catalog(spark, SF_DIR)
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")
    (
        cat.table("lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .option("path", wh + "/li_bkt")
        .mode("overwrite")
        .saveAsTable("li_bkt")
    )
    (
        cat.table("orders")
        .select("o_orderkey", "o_orderpriority")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .option("path", wh + "/ord_bkt")
        .mode("overwrite")
        .saveAsTable("ord_bkt")
    )
    yield "li_bkt", "ord_bkt"
    spark.sql("DROP TABLE IF EXISTS li_bkt")
    spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    li_name, ord_name = bucketed_tables
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the join must satisfy distribution by bucketing
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li, o = spark.table(li_name), spark.table(ord_name)
        joined = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count("*").alias("n"))
        plan = executed_plan(joined)
        join_part = plan.split("HashAggregate")[-1]  # below the final agg
        assert "SortMergeJoin" in plan, plan
        # the join inputs are bucket scans: no Exchange between join and scans
        assert "Exchange" not in join_part, join_part
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_matches_unbucketed_results(spark, bucketed_tables):
    li_name, ord_name = bucketed_tables
    cat = Catalog(spark, SF_DIR)
    li, o = spark.table(li_name), spark.table(ord_name)
    got = {
        (r.o_orderpriority, r.n)
        for r in li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    li2 = cat.table("lineitem").select("l_orderkey")
    o2 = cat.table("orders").select("o_orderkey", "o_orderpriority")
    want = {
        (r.o_orderpriority, r.n)
        for r in li2.join(o2, li2.l_orderkey == o2.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want
