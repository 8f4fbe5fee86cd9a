"""S2 cell-ID parity gates.

The hard gate is the reference BVT's own golden vector
(test/distributed/cases/geo/geo_s2h3.result): the center of the level-5
parent of the (0,0) leaf cell, plus every structural invariant that file
checks (leaf level 30, parent levels, 4 edge neighbors, self-is-not-a-
neighbor, edge-neighbor-is-a-neighbor, coarser-cell-has-larger-area).
Float parity is within 1 ULP of the Go s2 output (different libm)."""

from __future__ import annotations

import json

from matrixone_spark.functions.s2cell import (
    cell_all_neighbors,
    cell_approx_area_m2,
    cell_center_lonlat,
    cell_edge_neighbors,
    cell_level,
    cell_parent,
    cellid_from_lonlat,
    cells_are_neighbors,
    is_valid,
)


def test_bvt_golden_vectors():
    # geo_s2h3.result:1-6 — leaf level 30, parent level 10
    leaf = cellid_from_lonlat(116.3975, 39.9087)
    assert cell_level(leaf) == 30
    assert cell_level(cell_parent(leaf, 10)) == 10
    # geo_s2h3.result:7-9 — center5 golden vector (≤1 ULP vs Go s2)
    lon, lat = cell_center_lonlat(cell_parent(cellid_from_lonlat(0.0, 0.0), 5))
    assert abs(lon - 1.2121321753162386) <= 1e-15 * abs(lon)
    assert abs(lat - 1.2118610132510708) <= 1e-15 * abs(lat)
    # result:10-13 — coarser cell has bigger area
    l0 = cellid_from_lonlat(0.0, 0.0)
    assert cell_approx_area_m2(cell_parent(l0, 5)) > cell_approx_area_m2(cell_parent(l0, 10))
    # result:14-17 — 4 edge neighbors, ≥4 all neighbors
    p10 = cell_parent(l0, 10)
    en = cell_edge_neighbors(p10)
    assert len(en) == 4
    assert len(cell_all_neighbors(p10)) >= 4
    # result:18-30 — self not neighbor; first edge neighbor is a neighbor
    assert not cells_are_neighbors(p10, p10)
    assert cells_are_neighbors(p10, en[0])
    # result:38-39 — invalid id 0 raises
    try:
        cell_level(0)
        raised = False
    except ValueError:
        raised = True
    assert raised


def test_structural_invariants():
    for lon, lat in [(116.3975, 39.9087), (-122.41, 37.77), (0.0, -89.9), (179.9, 0.1), (-179.9, -45.0)]:
        leaf = cellid_from_lonlat(lon, lat)
        assert is_valid(leaf) and cell_level(leaf) == 30
        # center of the leaf is inside the leaf (re-encoding gives same leaf)
        clon, clat = cell_center_lonlat(leaf)
        assert cellid_from_lonlat(clon, clat) == leaf
        for lvl in (0, 3, 12, 25):
            p = cell_parent(leaf, lvl)
            assert cell_level(p) == lvl and is_valid(p)
            # parent of parent is consistent
            if lvl >= 3:
                assert cell_parent(p, 3) == cell_parent(leaf, 3)
        # neighbors are mutual and at the same level
        p8 = cell_parent(leaf, 8)
        for n in cell_edge_neighbors(p8):
            assert cell_level(n) == 8
            assert cells_are_neighbors(n, p8)
        alln = cell_all_neighbors(p8)
        assert len(set(alln)) == len(alln) and p8 not in alln
        assert set(cell_edge_neighbors(p8)) <= set(alln)


def test_face_corner_wrap():
    """Cells at a cube-face corner have neighbors on other faces — the wrap
    path; neighbor count is 7 for corner cells (faces meet 3-around)."""
    # the (0,0) corner of face 0 is at lat/lng ≈ (-45 lat rotated)...
    # take a cell hugging a face boundary: lon slightly over 45° crosses
    leaf = cellid_from_lonlat(45.0001, 0.0)
    p6 = cell_parent(leaf, 6)
    alln = cell_all_neighbors(p6)
    faces = {n >> 61 for n in alln} | {p6 >> 61}
    assert len(alln) in (7, 8)
    assert len(faces) >= 2  # crossed the face edge


def test_spark_udf_battery(spark):
    from matrixone_spark.queries import load_all
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(spark, load_all()["geo_s2_battery"])


def test_vectorized_core_parity_world_grid():
    """Round-5 parity gate (r4 verdict #1): the vectorized numpy core that
    backs s2_cellid/with_s2_buckets must agree bit-for-bit with the
    scalar codec over a world grid covering all 6 cube faces — including
    faces 4/5 (ids beyond int64) and antimeridian points."""
    import numpy as np

    from matrixone_spark.functions.s2cell import _cellids_np

    lons = np.array([lo for lo in np.linspace(-180.0, 180.0, 49) for _ in range(25)])
    lats = np.array([la for _ in range(49) for la in np.linspace(-90.0, 90.0, 25)])
    leaf = _cellids_np(lons, lats)
    faces = set(int(v) >> 61 for v in leaf)
    assert faces == {0, 1, 2, 3, 4, 5}
    for lo, la, v in zip(lons, lats, leaf):
        assert int(v) == cellid_from_lonlat(float(lo), float(la))
    lvl5 = _cellids_np(lons, lats, 5)
    for lo, la, v in zip(lons, lats, lvl5):
        assert int(v) == cell_parent(cellid_from_lonlat(float(lo), float(la)), 5)


def test_with_s2_buckets_spark(spark):
    """with_s2_buckets: one mapInArrow pass adds the parent cell and the
    [cell]+8-neighbor bucket array; null coordinates yield null cell/buckets."""
    from decimal import Decimal

    from matrixone_spark.functions.s2cell import cell_all_neighbors, with_s2_buckets

    rows = [
        (1, 116.3975, 39.9087),
        (2, 179.9, -41.3),       # antimeridian / face-5 side
        (3, -179.9, -41.3),
        (4, None, 10.0),         # null lon -> null outputs
    ]
    df = spark.createDataFrame(rows, "id int, lon double, lat double")
    out = {r["id"]: r for r in with_s2_buckets(df, "lon", "lat", "cell", "buckets", 5).collect()}
    for rid, lon, lat in rows:
        if lon is None:
            assert out[rid]["cell"] is None and out[rid]["buckets"] is None
            continue
        exp = cell_parent(cellid_from_lonlat(lon, lat), 5)
        assert out[rid]["cell"] == Decimal(exp)
        assert [int(b) for b in out[rid]["buckets"]] == [exp] + cell_all_neighbors(exp)
