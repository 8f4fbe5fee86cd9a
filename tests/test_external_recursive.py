"""External source/sink roundtrips (External/ExternalWrite parity) and
recursive CTE fixpoint behavior."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from matrixone_spark.catalog import Catalog
from matrixone_spark.obs import executed_plan
from matrixone_spark.operators.recursive import recursive_cte
from matrixone_spark.sources.external import read_csv, read_jsonl, write_outfile
from tests.conftest import SF_DIR

TMP = "/root/repo/.tmp_test_io"


@pytest.fixture()
def tmpdir():
    os.makedirs(TMP, exist_ok=True)
    yield TMP
    shutil.rmtree(TMP, ignore_errors=True)


def test_csv_roundtrip_with_options(spark, tmpdir):
    n = Catalog(spark, SF_DIR).table("nation")
    out = f"{tmpdir}/nation_csv"
    write_outfile(n, out, fmt="csv", field_terminator="|", header=True)
    back = read_csv(spark, out, schema=n.schema, field_terminator="|", header=True)
    assert sorted(r.n_nationkey for r in back.collect()) == sorted(
        r.n_nationkey for r in n.collect()
    )
    assert back.schema == n.schema


def test_jsonl_roundtrip(spark, tmpdir):
    r = Catalog(spark, SF_DIR).table("region")
    out = f"{tmpdir}/region_jsonl"
    write_outfile(r, out, fmt="json")
    back = read_jsonl(spark, out, schema=r.schema)
    assert {x.r_name for x in back.collect()} == {x.r_name for x in r.collect()}


def test_csv_gzip_roundtrip(spark, tmpdir):
    """Compression path (reference auto-detects compressed LOAD DATA inputs,
    colexec/external compression handling)."""
    import glob

    r = Catalog(spark, SF_DIR).table("region")
    out = f"{tmpdir}/region_gz"
    r.write.option("compression", "gzip").option("header", True).csv(out)
    assert glob.glob(f"{out}/*.csv.gz")
    back = read_csv(spark, out, schema=r.schema)
    assert {x.r_name for x in back.collect()} == {x.r_name for x in r.collect()}


def test_write_partitioned_parquet_prunes(spark, tmpdir):
    o = Catalog(spark, SF_DIR).table("orders")
    out = f"{tmpdir}/orders_part"
    write_outfile(o, out, fmt="parquet", partition_by=["o_orderstatus"])
    assert os.path.isdir(f"{out}/o_orderstatus=F")
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = executed_plan(back)
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan, plan


def test_recursive_cte_hierarchy(spark):
    """Binary hierarchy: parent(k) = k div 2; descendants of node 1 with depth."""
    nodes = spark.range(1, 64).select(F.col("id").alias("node"))
    base = nodes.filter(F.col("node") == 1).select("node", F.lit(0).alias("depth"))

    def step(frontier):
        children = frontier.join(
            nodes.select(F.col("node").alias("child")),
            (F.col("child") == F.col("node") * 2) | (F.col("child") == F.col("node") * 2 + 1),
        )
        return children.select(F.col("child").alias("node"), (F.col("depth") + 1).alias("depth"))

    out = recursive_cte(base, step)
    rows = {(r.node, r.depth) for r in out.collect()}
    assert len(rows) == 63  # all nodes reached exactly once
    assert (1, 0) in rows and (63, 5) in rows
    import math

    for node, depth in rows:
        assert depth == int(math.log2(node))


def test_recursive_cte_fuse_levels_equivalent(spark):
    """r13 level fusion: fuse_levels=1 (the r12 per-level loop), 2 and 3 must
    produce the same fixpoint, on a hierarchy AND on a cyclic graph, and the
    max_iter bound still counts LEVELS (not rounds)."""
    nodes = spark.range(1, 32).select(F.col("id").alias("node"))
    base = nodes.filter(F.col("node") == 1).select("node", F.lit(0).alias("depth"))

    def step(frontier):
        children = frontier.join(
            nodes.select(F.col("node").alias("child")),
            (F.col("child") == F.col("node") * 2) | (F.col("child") == F.col("node") * 2 + 1),
        )
        return children.select(F.col("child").alias("node"), (F.col("depth") + 1).alias("depth"))

    expect = {(r.node, r.depth) for r in recursive_cte(base, step, fuse_levels=1).collect()}
    assert len(expect) == 31
    for k in (2, 3):
        got = {(r.node, r.depth) for r in recursive_cte(base, step, fuse_levels=k).collect()}
        assert got == expect, f"fuse_levels={k}"

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src int, dst int")
    cbase = spark.createDataFrame([(1,)], "node int")

    def cstep(frontier):
        return frontier.join(edges, F.col("node") == F.col("src")).select(
            F.col("dst").alias("node")
        )

    for k in (1, 2, 3):
        assert {r.node for r in recursive_cte(cbase, cstep, max_iter=10, fuse_levels=k).collect()} == {1, 2, 3}
    # non-convergence within max_iter LEVELS still raises regardless of fusion
    import pytest as _pytest

    grow = spark.range(0, 1).select(F.col("id").alias("node"))

    def gstep(frontier):
        return frontier.select((F.col("node") + 1).alias("node"))

    for k in (1, 2, 3):
        with _pytest.raises(RuntimeError, match="did not converge"):
            recursive_cte(grow, gstep, max_iter=5, fuse_levels=k)


def test_recursive_cte_cycle_terminates(spark):
    """UNION-distinct recursion must terminate on a cyclic graph."""
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src int, dst int")
    base = spark.createDataFrame([(1,)], "node int")

    def step(frontier):
        return frontier.join(edges, F.col("node") == F.col("src")).select(
            F.col("dst").alias("node")
        )

    out = recursive_cte(base, step, max_iter=10)
    assert {r.node for r in out.collect()} == {1, 2, 3}


def test_read_connector_surface(spark):
    import pytest
    from matrixone_spark.sources.external import read_connector

    with pytest.raises(ValueError, match="unknown connector"):
        read_connector(spark, "cassandra")
    # without the jar, the surface fails with the actionable package name.
    # fresh session: tests/test_connectors.py registers a Python DataSource
    # named "mongodb" on the shared session, which would satisfy the load
    fresh = spark.newSession()
    with pytest.raises(NotImplementedError, match="mongo-spark-connector"):
        read_connector(fresh, "mongodb", {"connection.uri": "mongodb://x", "database": "d", "collection": "c"})
