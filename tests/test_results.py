"""ResultStore (save_query_result/result_scan) + SnapshotStore analogues."""

import pytest

from matrixone_spark.catalog import Catalog
from matrixone_spark.obs import total_jobs
from matrixone_spark.results import ResultStore, SnapshotStore

SF_DIR = "/root/testdata/sf0.001"


def test_result_scan_roundtrip(spark, tmp_path):
    store = ResultStore(spark, str(tmp_path / "results"))
    nation = Catalog(spark, SF_DIR).table("nation").select("n_nationkey", "n_name")
    qid = store.save(nation)
    assert store.last_query_id() == qid
    back = store.result_scan().orderBy("n_nationkey").collect()
    orig = nation.orderBy("n_nationkey").collect()
    assert back == orig
    # explicit id works too, unknown id raises
    assert store.result_scan(qid).count() == len(orig)
    with pytest.raises(FileNotFoundError):
        store.result_scan("deadbeef")


def test_snapshot_immutable_copy(spark, tmp_path):
    snaps = SnapshotStore(spark, str(tmp_path / "snaps"))
    region = Catalog(spark, SF_DIR).table("region")
    snaps.create("v1", "region", region)
    assert snaps.list() == ["v1"]
    assert snaps.tables("v1") == ["region"]
    got = snaps.read("v1", "region").orderBy("r_regionkey").collect()
    assert got == region.orderBy("r_regionkey").collect()
    # snapshots are immutable: re-creating the same name/table fails
    with pytest.raises(Exception):
        snaps.create("v1", "region", region)
    snaps.drop("v1")
    assert snaps.list() == []


def _jobs_started(spark, build) -> "tuple[int, object]":
    """Spark jobs started while ``build()`` runs, and its result."""
    j0 = total_jobs(spark)
    out = build()
    return total_jobs(spark) - j0, out


def test_rescan_starts_no_job_and_keeps_inferred_schema(spark, tmp_path):
    """A result or snapshot re-scanned in the session that wrote it is read
    with the recorded schema: no footer-inference job before collect, and
    the same schema inference would give."""
    cat = Catalog(spark, SF_DIR)
    store = ResultStore(spark, str(tmp_path / "results"))
    orders = cat.table("orders").select("o_orderkey", "o_orderdate", "o_totalprice")
    qid = store.save(orders)
    jobs, back = _jobs_started(spark, lambda: store.result_scan(qid))
    assert jobs == 0
    assert back.schema == spark.read.parquet(str(tmp_path / "results" / qid)).schema
    assert sorted(back.collect()) == sorted(orders.collect())

    snaps = SnapshotStore(spark, str(tmp_path / "snaps"))
    region = cat.table("region")
    snaps.create("v1", "region", region)
    jobs, got = _jobs_started(spark, lambda: snaps.read("v1", "region"))
    assert jobs == 0
    assert got.schema == spark.read.parquet(str(tmp_path / "snaps" / "v1" / "region")).schema
    assert sorted(got.collect()) == sorted(region.collect())


def test_rewritten_result_read_with_new_schema(spark, tmp_path):
    """A result directory rewritten under the same id (here by a plain
    overwrite, as another writer would) is read with its new schema."""
    store = ResultStore(spark, str(tmp_path / "results"))
    qid = store.save(spark.range(3).selectExpr("id AS k"))
    assert store.result_scan(qid).columns == ["k"]
    new = spark.range(4).selectExpr("CAST(id AS STRING) AS name", "id * 2 AS twice")
    new.write.mode("overwrite").parquet(str(tmp_path / "results" / qid))
    back = store.result_scan(qid)
    assert back.schema == spark.read.parquet(str(tmp_path / "results" / qid)).schema
    assert back.columns == ["name", "twice"]
    assert sorted(back.collect()) == sorted(new.collect())
