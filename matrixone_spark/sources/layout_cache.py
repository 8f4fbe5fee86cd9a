"""Ingest-time layout optimization: split + cluster single-file tables.

Reference parity: the reference never queries raw load files — LOAD DATA
ingests into TAE block storage (8192-row blocks with per-block ZoneMap
min/max and bloom metadata, ``pkg/objectio/meta.go:296``,
``pkg/vm/engine/tae/``), and every scan plans over those blocks in
parallel. The Spark-native analogue of that ingest step is a one-off
rewrite of any *unsplittable* source file (a single parquet file with one
row group cannot be parallelized by byte-range splitting — every row lands
in one task) into a multi-file parquet directory, clustered on the table's
natural predicate key so row-group min/max stats prune files the way the
reference's ZoneMaps prune blocks.

At 100 TB this module is a no-op: real tables arrive as partitioned
parquet directories with thousands of splits (``Catalog.path`` already
prefers ``<sf_dir>/<name>/``). It exists for the local harness, where the
driver materializes each table as exactly one file + one row group.

The rewrite is driver-side pyarrow (no Spark job), content-preserving
(same rows, different order — every consumer is order-insensitive), cached
under ``<repo>/.layout_cache`` and keyed by the source file's
(size, mtime_ns, rows) — the in-session caches' fingerprint
(``matcache.fingerprint``) plus the row count — so a regenerated testdata
dir invalidates naturally.
Concurrent builders race benignly: build into a temp dir, publish with an
atomic rename, loser discards.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from matrixone_spark.matcache import fingerprint

# Natural clustering keys (the column the reference would zonemap-sort on):
# date/time predicates dominate these tables' query mix.
CLUSTER_KEYS: dict[str, str] = {
    "lineitem": "l_shipdate",
    "orders": "o_orderdate",
    "events": "ts",
}

# Below this, a single task handles the table fine; above, serial scan
# dominates query latency.
MIN_ROWS = 100_000
# A table already split into this many row groups / files parallelizes
# without our help.
MIN_SOURCE_GROUPS = 8
# One slice per ~20k rows, capped at the harness core count: big tables get
# full parallelism, mid-size ones avoid a spray of tiny-task files.
ROWS_PER_SLICE = 20_000
MAX_SLICES = 32

# Fan-out sources: few rows on disk, but each row explodes into hundreds of
# derived rows downstream (shingles, tokens, vector pairs) — the expensive
# generator phase runs in the SCAN task, so these get max slicing at a much
# lower row threshold. Same reasoning a 100 TB deployment applies when it
# sizes splits by post-explode volume, not file bytes.
FANOUT_TABLES: frozenset = frozenset({"documents", "embeddings"})
MIN_ROWS_FANOUT = 1_000

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def cache_root() -> str:
    return os.environ.get(
        "SPARK_GRAFT_CACHE_DIR", os.path.join(_REPO_ROOT, ".layout_cache")
    )


def enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_LAYOUT_CACHE", "1") != "0"


def split_layout_path(src_path: str, table: str) -> "str | None":
    """Return a split/clustered copy of ``src_path`` to scan instead, or None.

    None means "scan the source as-is": already a directory, small, already
    multi-group, or pyarrow can't read it.
    """
    if not enabled() or os.path.isdir(src_path):
        return None
    try:
        import pyarrow.parquet as pq

        f = pq.ParquetFile(src_path)
    except Exception:
        return None
    md = f.metadata
    fanout = table in FANOUT_TABLES
    min_rows = MIN_ROWS_FANOUT if fanout else MIN_ROWS
    if md.num_rows < min_rows or md.num_row_groups >= MIN_SOURCE_GROUPS:
        return None

    tag = "-".join(map(str, (*fingerprint(src_path), md.num_rows)))
    root = cache_root()
    dest = os.path.join(root, f"{table}-{tag}")
    done = os.path.join(dest, "_COMPLETE")
    if os.path.exists(done):
        return dest

    import pyarrow.parquet as pq  # noqa: F811 (narrow reimport for clarity)

    tbl = f.read()
    key = CLUSTER_KEYS.get(table)
    if key and key in tbl.column_names:
        tbl = tbl.sort_by(key)

    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=root, prefix=f".{table}-build-")
    try:
        n = md.num_rows
        slices = MAX_SLICES if fanout else min(MAX_SLICES, max(4, n // ROWS_PER_SLICE))
        step = (n + slices - 1) // slices
        for i in range(slices):
            lo = i * step
            if lo >= n:
                break
            pq.write_table(
                tbl.slice(lo, step),
                os.path.join(tmp, f"part-{i:04d}.parquet"),
            )
        with open(os.path.join(tmp, "_COMPLETE"), "w") as fh:
            fh.write(tag)
        os.rename(tmp, dest)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(done):  # rename lost a race → reuse winner's
            return None
    return dest
