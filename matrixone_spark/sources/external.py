"""External data ingest / export — SURVEY §2.1 External + ExternalWrite.

Reference: the External operator (colexec/external/external.go:206, 11k LoC)
reads CSV (:616 parallel chunk offsets), JSONLINE (types.go:375), and Parquet
(:152) from local FS / S3 stages / inline, with LOAD DATA options (field and
line terminators, headers, compression auto-detect); ExternalWrite implements
SELECT ... INTO OUTFILE (colexec/externalwrite/). The reference hand-splits
CSV files into parallel chunk readers (compile/scope.go:710
buildLoadParallelRun) — Spark's DataSource framework does exactly this
natively (one task per file split), so this module is a thin option-mapping
layer, not an engine.

S3/stages: the same spark.read calls take s3a:// URIs on a real cluster —
nothing here assumes local paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv(
    spark: SparkSession,
    path: str,
    schema: "StructType | str | None" = None,
    header: bool = True,
    field_terminator: str = ",",
    line_terminator: "str | None" = None,
    enclosed_by: str = '"',
    compression: "str | None" = None,
) -> DataFrame:
    """LOAD DATA ... FIELDS TERMINATED BY ... ENCLOSED BY ... parity
    (external.go CSV path; options map 1:1 to Spark CSV reader options)."""
    reader = (
        spark.read.option("header", header)
        .option("sep", field_terminator)
        .option("quote", enclosed_by)
        .option("mode", "PERMISSIVE")  # MySQL LOAD DATA is permissive
    )
    if line_terminator:
        reader = reader.option("lineSep", line_terminator)
    if compression:
        reader = reader.option("compression", compression)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession, path: str, schema: "StructType | str | None" = None
) -> DataFrame:
    """JSONLINE external table (external/types.go:375) → spark.read.json
    (one JSON object per line; parse_jsonl_file TVF parity)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet external table (external.go:152)."""
    return spark.read.parquet(path)


def write_outfile(
    df: DataFrame,
    path: str,
    fmt: str = "csv",
    header: bool = True,
    field_terminator: str = ",",
    mode: str = "overwrite",
    partition_by: "list[str] | None" = None,
) -> None:
    """SELECT ... INTO OUTFILE parity (colexec/externalwrite/).

    At 100 TB: partition_by routes output into partition directories
    (partition-pruned reads downstream); writes are task-parallel (one file
    per task — coalesce upstream if a single file is required)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if fmt == "csv":
        writer.option("header", header).option("sep", field_terminator).csv(path)
    elif fmt == "json":
        writer.json(path)
    elif fmt == "parquet":
        writer.parquet(path)
    else:
        raise ValueError(f"unsupported format {fmt!r}")


def resolve_stage_url(url: str, stages: "dict[str, str] | None" = None) -> str:
    """stage://<name>/<rel> → the stage's base URL + rel path.

    Reference: CREATE STAGE binds a name to a URL+credentials
    (pkg/sql/colexec/external/external.go stage handling; stages live in a
    catalog table). Here the binding is an explicit dict — on a cluster the
    resolved URL is whatever scheme the stage points at (s3a://, file://)."""
    if not url.startswith("stage://"):
        return url
    rest = url[len("stage://") :]
    name, _, rel = rest.partition("/")
    if not stages or name not in stages:
        raise ValueError(f"unknown stage {name!r} (defined: {sorted(stages or {})})")
    base = stages[name].rstrip("/")
    return f"{base}/{rel}" if rel else base


def load_data(
    spark: SparkSession,
    path: "str | None" = None,
    *,
    inline: "str | None" = None,
    fmt: str = "csv",
    schema: "StructType | str | None" = None,
    header: bool = False,
    field_terminator: str = ",",
    enclosed_by: str = '"',
    line_terminator: "str | None" = None,
    ignore_lines: int = 0,
    null_value: str = "\\N",
    compression: str = "auto",
    set_clauses: "dict[str, str] | None" = None,
    stages: "dict[str, str] | None" = None,
) -> DataFrame:
    """Full LOAD DATA surface (external.go:616 option handling):

    - ``inline``  — LOAD DATA INLINE FORMAT='csv', DATA='...' (the reference
      feeds the literal string through the same CSV/JSONL reader); the text
      is parallelized and parsed by the identical option set as file loads.
    - ``stages``  — stage://name/path URLs resolve through the stage catalog
      (resolve_stage_url) before reading.
    - ``ignore_lines`` — IGNORE N LINES, applied per file (the reference
      skips N lines of each input file; implemented by per-file line
      indexing — a small job per file at plan time, data stays distributed).
    - ``null_value`` — MySQL's \\N marker → NULL.
    - ``compression='auto'`` — extension-based codec inference (.gz/.bz2/
      .deflate handled transparently by Hadoop input formats, matching the
      reference's auto-detect by filename); pass an explicit codec name to
      override for non-standard extensions.
    - ``set_clauses`` — LOAD DATA ... SET col = <sql expr>: applied as
      withColumn expressions after parsing, before the append (the
      reference evaluates SET exprs in the projection above External).
    """
    if (path is None) == (inline is None):
        raise ValueError("load_data: exactly one of path / inline required")

    opts = {
        "header": header,
        "sep": field_terminator,
        "quote": enclosed_by,
        "nullValue": null_value,
        "mode": "PERMISSIVE",  # MySQL LOAD DATA is permissive
    }
    if line_terminator:
        opts["lineSep"] = line_terminator
    if compression != "auto":
        opts["compression"] = compression

    if inline is not None:
        lines = inline.splitlines()[ignore_lines:]
        rdd = spark.sparkContext.parallelize(lines)
        reader = spark.read.options(**opts)
        reader = reader.schema(schema) if schema is not None else reader.option("inferSchema", True)
        df = reader.csv(rdd) if fmt == "csv" else spark.read.schema(schema).json(rdd) if schema else spark.read.json(rdd)
    else:
        src = resolve_stage_url(path, stages)
        if ignore_lines > 0 and fmt == "csv":
            import glob as _glob
            import os as _os

            files = sorted(_glob.glob(src)) if any(c in src for c in "*?[") else (
                sorted(
                    _os.path.join(src, f) for f in _os.listdir(src)
                ) if _os.path.isdir(src) else [src]
            )
            sc = spark.sparkContext
            n = ignore_lines
            rdds = [
                sc.textFile(f).zipWithIndex().filter(lambda t: t[1] >= n).map(lambda t: t[0])
                for f in files
            ]
            rdd = rdds[0] if len(rdds) == 1 else sc.union(rdds)
            reader = spark.read.options(**opts)
            reader = reader.schema(schema) if schema is not None else reader.option("inferSchema", True)
            df = reader.csv(rdd)
        elif fmt == "csv":
            reader = spark.read.options(**opts)
            reader = reader.schema(schema) if schema is not None else reader.option("inferSchema", True)
            df = reader.csv(src)
        elif fmt in ("jsonl", "json"):
            df = read_jsonl(spark, src, schema=schema)
        elif fmt == "parquet":
            df = read_parquet(spark, src)
        else:
            raise ValueError(f"unsupported format {fmt!r}")

    if set_clauses:
        from pyspark.sql import functions as F

        from matrixone_spark.functions.sql_surface import register_spark

        for col, expr in set_clauses.items():
            register_spark(spark, expr)  # SET text may call surface functions
            df = df.withColumn(col, F.expr(expr))
    return df


def read_connector(
    spark: SparkSession, kind: str, options: "dict[str, str] | None" = None
) -> DataFrame:
    """Connector scans (reference MongoScan pkg/sql/colexec/mongodbscan/,
    Iceberg table scans pkg/datasync/ — SURVEY §2.1).

    Spark-first mapping: both are DataSource V2 formats —
    ``spark.read.format("mongodb")`` (mongo-spark-connector) and
    ``spark.read.format("iceberg")`` / catalog tables
    (iceberg-spark-runtime). The connector JARs are not present in this
    container, so this raises a clear error naming the package to add; on
    a real cluster the happy path is exactly the builder below.
    """
    options = options or {}
    jars = {
        "mongodb": "org.mongodb.spark:mongo-spark-connector_2.13",
        "iceberg": "org.apache.iceberg:iceberg-spark-runtime-3.5_2.13",
    }
    if kind not in jars:
        raise ValueError(f"unknown connector {kind!r} (supported: {sorted(jars)})")
    reader = spark.read.format(kind)
    for k, v in options.items():
        reader = reader.option(k, v)
    try:
        return reader.load()
    except Exception as e:  # connector jar absent in this container
        raise NotImplementedError(
            f"{kind} connector requires --packages {jars[kind]} on the cluster; "
            f"underlying error: {type(e).__name__}"
        ) from e
