"""Catalog: parquet-backed table registry.

Reference parity: the reference keeps a catalog of databases/tables/columns in
system tables (``pkg/catalog/``, mo_database/mo_tables/mo_columns) with
DDL-declared fixed schemas (``pkg/sql/plan/build_ddl.go``). Our analogue is a
thin registry mapping table name → parquet path; the schema travels with the
parquet footer (declared, never inferred at query time), and Spark's reader uses
row-group min/max + dictionary + bloom metadata the same way the reference scans
use per-block ZoneMaps/BloomFilters (``pkg/objectio/meta.go:296``).

At 100 TB each "table" is a partitioned parquet directory; nothing here assumes a
single file.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from matrixone_spark.matcache import LAZY_CAPACITY, MaterializationCache

# Driver-provided tables (TESTDATA.md). One parquet per table at sf dirs.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables that should always broadcast in joins.
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})


# Columns that must arrive as session-TZ TIMESTAMP regardless of the parquet
# physical layout. The driver has regenerated testdata with three layouts over
# time: TIMESTAMP(NANOS) (int64 ns under nanosAsLong), timestamp[us] with tz
# (already fine), and timestamp[us] WITHOUT tz — which Spark 4 reads as
# TIMESTAMP_NTZ and which breaks withWatermark + unix_micros paths. Session TZ
# is pinned to UTC (``_REQUIRED_RUNTIME_CONFS``), so casting NTZ→TIMESTAMP is
# semantics-preserving and agrees with the DuckDB oracle.
_NANOS_TS_COLUMNS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _fix_nanos_timestamps(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for table, cols in _NANOS_TS_COLUMNS.items():
        for c in cols:
            if c not in df.columns:
                continue
            dt = dtypes.get(c)
            if dt == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
            elif dt == "timestamp_ntz":
                df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Shared across Catalog instances: the driver sweep constructs a fresh
# Catalog per query; re-reading parquet footers 100+ times is pure waste.
# Keyed by applicationId + (sf_dir, table name, session UUID), and rebuilt
# when the table's source file changes. A frame belongs to the session that
# read it (its temp views, including spark.sql's {frame} arguments, land
# there), so each session gets its own; the UUID, unlike id(spark), is never
# reused by a later session.
_TABLE_CACHE = MaterializationCache(LAZY_CAPACITY)


# Correctness-critical session confs that are runtime-settable. The round
# driver calls queries() with ITS OWN SparkSession (not ours) — without
# nanosAsLong the events table is unreadable, and without UTC the timestamp
# literals/epochs diverge from the DuckDB oracle. Applied idempotently on
# every Catalog construction so results don't depend on who built the session.
_REQUIRED_RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in _REQUIRED_RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


class Catalog:
    """Name → DataFrame registry over a scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        ensure_session_confs(spark)
        self.spark = spark
        self.sf_dir = sf_dir
        self.app_id = spark.sparkContext.applicationId
        self.session_id = spark._jsparkSession.sessionUUID()

    def path(self, name: str) -> str:
        p = os.path.join(self.sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            return p
        # partitioned-directory layout (100 TB posture): <sf_dir>/<name>/
        d = os.path.join(self.sf_dir, name)
        if os.path.exists(d):
            return d
        raise FileNotFoundError(f"table {name!r} not found under {self.sf_dir}")

    def table(self, name: str) -> DataFrame:
        path = self.path(name)

        def build() -> DataFrame:
            from matrixone_spark.sources.layout_cache import split_layout_path

            # Ingest-layout step (reference TAE block ingest parity): a
            # single-file single-row-group table can't be split, so every
            # scan of it is one task; rewrite once into a clustered
            # multi-file copy and scan that. No-op for directory tables.
            split = split_layout_path(path, name)
            return _fix_nanos_timestamps(self.spark.read.parquet(split or path))

        return _TABLE_CACHE.get(self.app_id, (self.sf_dir, name, self.session_id), [path], build)

    def register_views(self) -> None:
        """Register every table as a temp view so ``spark.sql`` sees them."""
        for name in TABLES:
            try:
                self.table(name).createOrReplaceTempView(name)
            except FileNotFoundError:
                pass


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    cat = Catalog(spark, sf_dir)
    return {name: cat.table(name) for name in TABLES}
