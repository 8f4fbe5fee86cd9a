"""Ingest layout cache: split/cluster rewrite must be content-preserving.

Reference parity: TAE block ingest (pkg/vm/engine/tae/, objectio ZoneMaps)
— load files are re-laid into scannable blocks; queries never read the raw
single file. Our rewrite must change ONLY physical layout, never content.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from matrixone_spark.sources import layout_cache as lc


@pytest.fixture()
def big_single_file(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    n = lc.MIN_ROWS
    tbl = pa.table(
        {
            "l_shipdate": pa.array([(n - i) % 1000 for i in range(n)], pa.int64()),
            "v": pa.array(range(n), pa.int64()),
        }
    )
    src = str(tmp_path / "lineitem.parquet")
    pq.write_table(tbl, src, row_group_size=n)  # one row group: unsplittable
    return src, tbl


def test_split_preserves_content_and_clusters(big_single_file):
    src, tbl = big_single_file
    dest = lc.split_layout_path(src, "lineitem")
    assert dest is not None and os.path.isdir(dest)
    parts = sorted(p for p in os.listdir(dest) if p.startswith("part-"))
    assert len(parts) == min(lc.MAX_SLICES, max(4, tbl.num_rows // lc.ROWS_PER_SLICE))
    got = pq.read_table(dest)
    # content-identical modulo order
    assert got.num_rows == tbl.num_rows
    assert sorted(got.column("v").to_pylist()) == sorted(tbl.column("v").to_pylist())
    # clustered on the declared key: slices cover disjoint, ascending ranges
    assert got.column("l_shipdate").to_pylist() == sorted(tbl.column("l_shipdate").to_pylist())
    # second call is a cache hit (same path, no rebuild)
    assert lc.split_layout_path(src, "lineitem") == dest


def test_small_or_multigroup_sources_pass_through(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    small = pa.table({"a": pa.array(range(100), pa.int64())})
    p1 = str(tmp_path / "small.parquet")
    pq.write_table(small, p1)
    assert lc.split_layout_path(p1, "small") is None

    n = lc.MIN_ROWS
    multi = pa.table({"a": pa.array(range(n), pa.int64())})
    p2 = str(tmp_path / "multi.parquet")
    pq.write_table(multi, p2, row_group_size=n // lc.MIN_SOURCE_GROUPS)
    assert lc.split_layout_path(p2, "multi") is None


def test_same_second_rewrite_gets_a_new_split(tmp_path, monkeypatch):
    """A same-size, same-row-count rewrite within one second is a new
    source: the split tag carries the fingerprint's mtime_ns, not whole
    seconds."""
    monkeypatch.setenv("SPARK_GRAFT_CACHE_DIR", str(tmp_path / "cache"))
    n = lc.MIN_ROWS
    src = str(tmp_path / "lineitem.parquet")
    t0 = 1_700_000_000 * 10**9
    dests, sizes = [], []
    for i, mtime in enumerate((t0 + 100_000_000, t0 + 600_000_000)):
        tbl = pa.table({
            "l_shipdate": pa.array([k % 1000 for k in range(n)], pa.int64()),
            "v": pa.array(range(i * n, (i + 1) * n), pa.int64()),
        })
        # plain, uncompressed int64: both versions have the same byte size
        pq.write_table(tbl, src, row_group_size=n, compression="none", use_dictionary=False)
        os.utime(src, ns=(mtime, mtime))
        sizes.append(os.path.getsize(src))
        dests.append(lc.split_layout_path(src, "lineitem"))
    assert sizes[0] == sizes[1]
    assert dests[0] != dests[1]
    assert sorted(pq.read_table(dests[1]).column("v").to_pylist()) == list(range(n, 2 * n))
