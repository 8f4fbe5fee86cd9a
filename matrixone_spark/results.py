"""Saved query results + table snapshots — batch analogues.

Reference surfaces:
- ``SAVE QUERY RESULT`` / ``result_scan(query_id)`` / ``last_query_id()``
  (test/distributed/cases/save_query_result/, query_result/;
  pkg/frontend/query_result.go): each statement's result set can be
  persisted and re-scanned by query id.
- Snapshots (``tree/snapshot.go``, ``pkg/frontend/data_branch.go``):
  point-in-time named copies. The transactional Git-for-Data machinery is
  out of scope (SURVEY §1); the batch analogue is an immutable parquet
  copy — which is also the 100 TB-honest design: a snapshot of an
  immutable columnar table IS a manifest copy, and parquet-per-snapshot
  keeps reads partition-parallel with zero coordination.

Both write through the normal DataFrame writer, so at cluster scale the
save is a distributed parquet write, not a driver collect. A re-scan reads
with the schema recorded when the directory was written: inferring it from
the footers is a Spark job (~40 ms against ~6 ms with the schema known,
local[4] on a 4-vCPU machine).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from matrixone_spark.matcache import LAZY_CAPACITY, MaterializationCache

# (appId, directory) -> schema of the parquet written there, checked against
# the directory's fingerprint. save/create seed it with the frame they just
# wrote; a directory written by another process, or changed since, misses
# and is inferred from its footers once.
_SCHEMAS = MaterializationCache(LAZY_CAPACITY)


def _write(spark: SparkSession, df: DataFrame, path: str) -> None:
    df.write.mode("errorifexists").parquet(path)
    _SCHEMAS.get(spark.sparkContext.applicationId, path, [path], lambda: df.schema)


def _read(spark: SparkSession, path: str) -> DataFrame:
    """The parquet directory at ``path``, read with its recorded schema.
    Spark makes a supplied file schema nullable, so this equals the schema
    inference would give."""
    schema = _SCHEMAS.get(
        spark.sparkContext.applicationId, path, [path], lambda: spark.read.parquet(path).schema
    )
    return spark.read.schema(schema).parquet(path)


class ResultStore:
    """SAVE QUERY RESULT / result_scan / last_query_id analogue."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._last_id: str | None = None

    def save(self, df: DataFrame) -> str:
        """Persist a result set; returns its query id (result_scan key)."""
        qid = uuid.uuid4().hex[:16]
        _write(self.spark, df, os.path.join(self.root, qid))
        self._last_id = qid
        return qid

    def last_query_id(self) -> str:
        if self._last_id is None:
            raise ValueError("no saved query result in this session")
        return self._last_id

    def result_scan(self, qid: str | None = None) -> DataFrame:
        qid = qid or self.last_query_id()
        path = os.path.join(self.root, qid)
        if not os.path.isdir(path):
            raise FileNotFoundError(f"no saved result {qid!r}")
        return _read(self.spark, path)


class SnapshotStore:
    """Named point-in-time table copies (snapshot = saved parquet copy)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _path(self, name: str, table: str) -> str:
        if not name.replace("_", "").replace("-", "").isalnum():
            raise ValueError(f"bad snapshot name {name!r}")
        return os.path.join(self.root, name, table)

    def create(self, name: str, table: str, df: DataFrame) -> None:
        _write(self.spark, df, self._path(name, table))

    def read(self, name: str, table: str) -> DataFrame:
        path = self._path(name, table)
        if not os.path.isdir(path):
            raise FileNotFoundError(f"no snapshot {name!r} of {table!r}")
        return _read(self.spark, path)

    def tables(self, name: str) -> list[str]:
        base = os.path.join(self.root, name)
        return sorted(os.listdir(base)) if os.path.isdir(base) else []

    def list(self) -> list[str]:
        return sorted(os.listdir(self.root)) if os.path.isdir(self.root) else []

    def drop(self, name: str) -> None:
        import shutil

        base = os.path.join(self.root, name)
        if os.path.isdir(base):
            shutil.rmtree(base)
