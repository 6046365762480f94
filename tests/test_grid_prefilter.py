"""The stab pass's driver-side pieces and its JVM prefilter: the
vectorized interval index against the per-cell, per-interval loop it
replaced; the 1° grid bound against ``Cell.get_rect_bound``; the grid
semi-join against an unfiltered stab on adversarial points; rows with
a non-finite coordinate; and the token expression against the numpy
token."""

import math

import numpy as np
import pandas as pd
import pytest

from s2spark import columns as CC
from s2spark import fixtures as FX
from s2spark import joins as J
from s2spark.geometry import (
    Cap,
    Cell,
    cid_level,
    cid_parent,
    cid_range_max,
    cid_range_min,
    latlng_to_point,
)
from s2spark.kernels import cellops, hilbert
from s2spark.kernels import regions as RK
from s2spark.kernels.cellops import sortable_int


@pytest.fixture(scope="module")
def pieces():
    return J.compute_coverings(FX.region_objects()), FX.region_params()


def _loop_index(covering_rows):
    """the interval index as it was built before vectorizing: one
    ``sortable_int(cid_range_min(...))`` per cell, and a CSR fill by a
    Python loop over the intervals in stable ``lo`` order."""
    starts = np.array([sortable_int(cid_range_min(c))
                       for _, c, _ in covering_rows], dtype=np.int64)
    ends = np.array([sortable_int(cid_range_max(c))
                     for _, c, _ in covering_rows], dtype=np.int64)
    rids = np.array([r for r, _, _ in covering_rows], dtype=np.int64)
    interior = np.array([i for _, _, i in covering_rows], dtype=bool)
    bounds = np.unique(np.concatenate([starts, ends + 1]))
    nseg = len(bounds) - 1
    lo = np.searchsorted(bounds, starts, side="left")
    hi = np.searchsorted(bounds, ends + 1, side="left")
    counts = np.zeros(nseg + 1, dtype=np.int64)
    np.add.at(counts, lo, 1)
    np.subtract.at(counts, hi, 1)
    seg_off = np.zeros(nseg + 1, dtype=np.int64)
    seg_off[1:] = np.cumsum(np.cumsum(counts[:-1]))
    seg_region = np.empty(seg_off[-1], dtype=np.int64)
    seg_interior = np.empty(seg_off[-1], dtype=bool)
    cursor = seg_off[:-1].copy()
    for idx in np.argsort(lo, kind="stable"):
        s, e = lo[idx], hi[idx]
        pos = cursor[s:e]
        seg_region[pos] = rids[idx]
        seg_interior[pos] = interior[idx]
        cursor[s:e] += 1
    return bounds, seg_off, seg_region, seg_interior


def _random_covering(seed, n=600):
    """overlapping rows: random cells at levels 0-30 on all six faces,
    their ancestors and repeats under other region ids; ids on faces
    4-5 given as their signed int64 view half of the time."""
    rng = np.random.default_rng(seed)
    leaf = hilbert.from_face_ij(rng.integers(0, 6, n),
                                rng.integers(0, hilbert.MAX_SIZE, n),
                                rng.integers(0, hilbert.MAX_SIZE, n))
    cells = [cid_parent(int(c), int(lv))
             for c, lv in zip(leaf, rng.integers(0, 31, n))]
    cells += [cid_parent(c, max(0, cid_level(c) - 3)) for c in cells[:n // 4]]
    cells += cells[:n // 8]
    rows = []
    for c in cells:
        if c >> 63 and rng.random() < 0.5:
            c -= 1 << 64
        rows.append((int(rng.integers(1, 9)), c, bool(rng.random() < 0.4)))
    return rows


@pytest.mark.parametrize("which", ["fixture", "random"])
def test_interval_index_matches_loop(pieces, which):
    rows = pieces[0] if which == "fixture" else _random_covering(20261020)
    got = J.build_interval_index(rows)
    ref = _loop_index(rows)
    for name, want in zip(("bounds", "seg_off", "seg_region",
                           "seg_interior"), ref):
        arr = getattr(got, name)
        assert arr.dtype == want.dtype, name
        np.testing.assert_array_equal(arr, want, err_msg=name)


def _special_cells():
    """every level's cell at both poles, on both sides of the
    antimeridian and at a cube corner."""
    out = []
    for lat, lng in ((90.0, 0.0), (-90.0, 0.0), (89.999, 45.0),
                     (10.0, 180.0), (-10.0, -180.0), (0.0, 179.9999),
                     (35.26438968275466, 45.0), (-60.0, -179.9)):
        leaf = hilbert.lat_lng_to_cell_id(np.array([lat]), np.array([lng]))
        out += [cellops.parent(leaf, lv)[0] for lv in range(31)]
    return np.array(out, dtype=np.uint64)


def test_cell_bounds_contain_rect_bound(pieces):
    rng = np.random.default_rng(7)
    n = 3000
    leaf = hilbert.from_face_ij(np.arange(n) % 6,
                                rng.integers(0, hilbert.MAX_SIZE, n),
                                rng.integers(0, hilbert.MAX_SIZE, n))
    rand = np.array([cid_parent(int(c), int(lv))
                     for c, lv in zip(leaf, np.arange(n) % 31)],
                    dtype=np.uint64)
    fixture = np.array([c for _, c, _ in pieces[0]], dtype=np.uint64)
    cids = np.concatenate([fixture, rand, _special_cells()])
    lat_lo, lat_hi, lng_lo, lng_hi = RK.cell_latlng_bounds(cids)
    assert (lng_lo <= lng_hi).all()
    for k, c in enumerate(cids):
        r = Cell(int(c)).get_rect_bound()
        assert lat_lo[k] <= math.degrees(r.lat.lo), hex(c)
        assert lat_hi[k] >= math.degrees(r.lat.hi), hex(c)
        span = lng_hi[k] - lng_lo[k]
        if span >= 360.0:
            continue
        assert not r.lng.is_full(), hex(c)
        off = (math.degrees(r.lng.lo) - lng_lo[k]) % 360.0
        assert off + math.degrees(r.lng.length()) <= span, hex(c)


def test_grid_keys_on_fixture(pieces):
    keys = RK.covering_grid_keys(
        np.array([c for _, c, _ in pieces[0]], dtype=np.uint64))
    assert keys.dtype == np.int32 and keys[0] == -1
    assert (np.diff(keys) > 0).all()
    assert keys[-1] < RK.GRID_ROWS * RK.GRID_COLS
    # the fixture regions touch a small share of the sphere's squares
    assert 1 < len(keys) < RK.GRID_ROWS * RK.GRID_COLS // 10


def _pole_and_seam_regions():
    """the fixture regions plus caps over the north pole and across the
    antimeridian, whose cells take the full-longitude and wrapped
    bounds."""
    regions = FX.region_objects()
    params = FX.region_params()
    for rid, lat, lng, rad in ((101, 89.5, 30.0, 0.02),
                               (102, -3.0, 179.8, 0.01),
                               (103, -89.9, -100.0, 0.004)):
        regions[rid] = Cap.from_lat_lng_radius(lat, lng, rad)
        params[rid] = ("cap", [*latlng_to_point(lat, lng), math.cos(rad)])
    return J.compute_coverings(regions), params


def _adversarial_points(cov_rows):
    """integer grid lines, the ±180° seam and the poles, every fixture
    covering cell's vertices (and their float neighbours), and
    coordinates off the grid."""
    pts = []
    for lat in np.arange(-90.0, 91.0, 1.0):
        for lng in (-180.0, -179.0, 0.0, 179.0, 180.0, 139.0, -74.0, 2.0):
            pts.append((lat, lng))
    for lat in (40.0, 51.0, 35.0, -33.0, 0.0, 89.0, -89.0, 90.0, -90.0):
        pts += [(lat, float(g)) for g in np.arange(-180.0, 181.0, 1.0)]
    cid = np.array([c for _, c, _ in cov_rows], dtype=np.uint64)
    v = cellops.cell_vertices_xyz(cid).reshape(-1, 3)
    vlat = np.degrees(np.arctan2(v[:, 2], np.hypot(v[:, 0], v[:, 1])))
    vlng = np.degrees(np.arctan2(v[:, 1], v[:, 0]))
    for step in (0.0, np.inf, -np.inf):
        pts += list(zip(np.nextafter(vlat, step) if step else vlat,
                        np.nextafter(vlng, -step) if step else vlng))
    pts += [(40.7, 185.0), (40.7, -185.0), (40.7, 540.0), (95.0, 10.0),
            (-91.0, 0.0), (0.0, -180.0000001), (90.0, 180.0),
            (-90.0, -180.0), (float("nan"), 0.0), (0.0, float("inf"))]
    lat, lng = np.array(pts, dtype=np.float64).T
    return lat, lng


def test_grid_semijoin_equals_unfiltered_stab(spark):
    cov_rows, params = _pole_and_seam_regions()
    lat, lng = _adversarial_points(cov_rows)
    pid = np.arange(len(lat), dtype=np.int64)
    _, rows, rids = J._stab_hits(lat, lng, J.build_interval_index(cov_rows),
                                 params)
    want = sorted(zip(rids.tolist(), pid[rows].tolist()))
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": pid, "lat": lat, "lng": lng}))
    got = sorted(map(tuple, J.pip_join_broadcast(pts, cov_rows,
                                                 params).collect()))
    assert len(want) > 1000 and got == want
    assert {101, 102, 103} <= {r for r, _ in got}
    # the prefilter does drop rows: most grid-line points are far away
    assert J._near_covering(pts, cov_rows).count() < len(lat) - 2000


def test_nonfinite_coordinates_match_no_region(spark):
    """NaN encodes to the first leaf of face 2, the cube corner at
    (35.2644°, 45°): an interior covering cell of a cap there must not
    take rows with a NaN or null coordinate."""
    lat, lng, rad = 35.26438968275466, 45.0, math.radians(2.0)
    cov_rows = J.compute_coverings({1: Cap.from_lat_lng_radius(lat, lng,
                                                               rad)})
    params = {1: ("cap", [*latlng_to_point(lat, lng), math.cos(rad)])}
    pts = spark.createDataFrame(
        [(1, float("nan"), 0.0), (2, 0.0, float("nan")), (3, lat, lng),
         (4, None, lng), (5, lat, None), (6, float("nan"), float("nan"))],
        "point_id long, lat double, lng double")
    got = sorted(map(tuple, J.pip_join_broadcast(pts, cov_rows,
                                                 params).collect()))
    assert got == [(1, 3)]
    anti = sorted(r.point_id for r in J.pip_anti(pts, cov_rows,
                                                 params).collect())
    assert anti == [1, 2, 4, 5, 6]


def test_token_matches_numpy_token(spark):
    """``columns.token`` and the ``s2_token`` SQL function lowercase
    every hex digit A-F, strip trailing zeros and map 0 to 'X'."""
    from s2spark.sqlfns import register_s2_sql
    ids = np.array([0xABCDEF0123456789, 0x0FEDCBA987654321,
                    0xFACE000000000000, 0xB000000000000000,
                    0x1D00000000000000, 0x89C2590000000000, 1, 0],
                   dtype=np.uint64)
    df = spark.createDataFrame([(int(i),) for i in ids.view(np.int64)],
                               "c long")
    want = list(cellops.to_token(ids))
    assert [r.t for r in df.select(CC.token("c").alias("t")).collect()] \
        == want
    register_s2_sql(spark)
    df.createOrReplaceTempView("token_ids")
    assert [r.t for r in spark.sql(
        "SELECT s2_token(c) AS t FROM token_ids").collect()] == want
