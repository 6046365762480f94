"""Region geometry + RegionCoverer tests (SURVEY.md §5.1 TestCap /
TestLatLngRect / TestCellUnion / TestRegionCoverer semantics)."""

import math

import numpy as np
import pytest

from s2spark.coverer import RegionCoverer, get_simple_covering
from s2spark.geometry import (
    Cap,
    Cell,
    CellUnion,
    LatLngRect,
    R1Interval,
    S1Interval,
    SimplePolygon,
    cid_all_neighbors,
    cid_children,
    cid_from_face,
    cid_from_lat_lng,
    cid_level,
    cid_parent,
)
from s2spark.kernels import cellops as CO
from s2spark.kernels import hilbert as H

RNG = np.random.default_rng(42)

# the s2sphere README quickstart's exact output: default RegionCoverer
# covering of LatLngRect.from_point_pair((33,-122),(33.1,-122.1))
QUICKSTART_COVERING = [
    9291041754864156672, 9291043953887412224, 9291044503643226112,
    9291045878032760832, 9291047252422295552, 9291047802178109440,
    9291051650468806656, 9291052200224620544,
]


def test_quickstart_covering_golden():
    """bit-exact reproduction of the reference's documented covering."""
    cov = RegionCoverer().get_covering(
        LatLngRect.from_point_pair(33, -122, 33.1, -122.1))
    assert cov.ids == QUICKSTART_COVERING


def test_scalar_encode_matches_numpy():
    lat = RNG.uniform(-90, 90, 2000)
    lng = RNG.uniform(-180, 180, 2000)
    vec = H.lat_lng_to_cell_id(lat, lng)
    sca = np.array([cid_from_lat_lng(a, b) for a, b in zip(lat, lng)],
                   dtype=np.uint64)
    assert (vec == sca).all()


def test_scalar_neighbors_match_numpy():
    lat = RNG.uniform(-90, 90, 300)
    lng = RNG.uniform(-180, 180, 300)
    p9 = np.unique(CO.parent(H.lat_lng_to_cell_id(lat, lng), 9))
    nbv = CO.get_all_neighbors(p9, 9)
    for row, c in zip(nbv, p9):
        assert sorted(int(v) for v in row) == sorted(cid_all_neighbors(int(c), 9))


@pytest.mark.parametrize("kind", ["cap", "rect", "poly"])
def test_covering_properties(kind):
    """TestRegionCoverer: ≤ max_cells, covers region samples; interior
    covering is inside the region and inside the covering."""
    if kind == "cap":
        region = Cap.from_lat_lng_radius(40.0, 10.0, 0.05)
        lo, hi = (37, 43), (6, 14)
    elif kind == "rect":
        region = LatLngRect.from_degrees(39, 8, 41, 12)
        lo, hi = (37, 43), (6, 14)
    else:
        region = SimplePolygon([(38, 8), (38, 12), (42, 12), (42, 8)])
        lo, hi = (36, 44), (6, 14)
    r = RegionCoverer()
    cov = r.get_covering(region)
    interior = r.get_interior_covering(region)
    assert 0 < len(cov) <= 8
    contains = region.contains_latlng
    for _ in range(2000):
        la = RNG.uniform(*lo)
        ln = RNG.uniform(*hi)
        leaf = cid_from_lat_lng(la, ln)
        if contains(la, ln):
            assert cov.contains_cellid(leaf)
        if interior.contains_cellid(leaf):
            assert contains(la, ln)
    for c in interior.ids:
        assert region.contains(Cell(c))
        assert cov.contains_cellid(c)


def test_covering_level_bounds():
    cap = Cap.from_lat_lng_radius(40.0, 10.0, 0.05)
    cov = RegionCoverer(min_level=8, max_level=15, max_cells=500) \
        .get_covering(cap)
    # normalization may merge sibling quads below min_level, but never
    # above max_level
    assert all(cid_level(c) <= 15 for c in cov.ids)
    assert len(cov) <= 500
    # denormalize restores the min_level floor
    denorm = CellUnion(cov.ids, normalized=True).denormalize(8)
    assert all(cid_level(c) >= 8 for c in denorm)


def test_seam_and_pole_regions():
    """rects crossing the ±180° seam and touching a pole cover their
    sample points (the reference suite's hot spots)."""
    seam = LatLngRect.from_degrees(10, 175, 20, -175)  # wraps
    cov = RegionCoverer().get_covering(seam)
    for ln in (176.0, 179.9, -179.9, -176.0):
        assert seam.contains_latlng(15, ln)
        assert cov.contains_cellid(cid_from_lat_lng(15, ln))
    assert not seam.contains_latlng(15, 0.0)
    pole = Cap.from_lat_lng_radius(90.0, 0.0, 0.1)
    pcov = RegionCoverer().get_covering(pole)
    for ln in (0, 90, 180, -90):
        assert pcov.contains_cellid(cid_from_lat_lng(89.99, ln))


def test_cellunion_normalize_laws():
    """TestCellUnion: sibling-quad merge, containment dedup,
    idempotence."""
    c = cid_parent(cid_from_lat_lng(10, 10), 10)
    kids = cid_children(c)
    assert CellUnion(kids).ids == [c]
    assert CellUnion(kids[:3]).ids == sorted(kids[:3])
    assert CellUnion([c] + kids).ids == [c]
    grandkids = [g for k in kids for g in cid_children(k)]
    assert CellUnion(grandkids).ids == [c]
    u = CellUnion(kids[:2])
    assert CellUnion(u.ids).ids == u.ids  # idempotent


def test_cellunion_set_algebra():
    a_ids = [cid_parent(cid_from_lat_lng(10, 10), 8),
             cid_parent(cid_from_lat_lng(20, 20), 8)]
    b_ids = cid_children(a_ids[0]) + [cid_parent(cid_from_lat_lng(30, 30), 8)]
    a, b = CellUnion(a_ids), CellUnion(b_ids)
    inter = CellUnion.get_intersection(a, b)
    assert inter.ids == [a_ids[0]]
    uni = CellUnion.get_union(a, b)
    for cid in list(a.ids) + list(b.ids):
        assert uni.contains_cellid(cid)
    assert uni.leaf_cells_covered() == (
        a.leaf_cells_covered() + b.leaf_cells_covered()
        - inter.leaf_cells_covered())


def test_cellunion_expand():
    base = CellUnion([cid_parent(cid_from_lat_lng(10, 10), 10)])
    grown = base.expand_level(10)
    assert len(grown.ids) >= 1
    for nbr in cid_all_neighbors(base.ids[0], 10):
        assert grown.contains_cellid(nbr)


def test_intervals():
    """TestR1Interval / TestS1Interval core laws incl. wrap."""
    r = R1Interval(1.0, 2.0)
    assert r.contains(1.5) and not r.contains(2.5)
    assert r.union(R1Interval(2.5, 3.0)).hi == 3.0
    s = S1Interval(3.0, -3.0)  # wraps through ±π
    assert s.is_inverted()
    assert s.contains(3.1) and s.contains(-3.1) and not s.contains(0.0)
    assert abs(s.length() - (2 * math.pi - 6.0)) < 1e-12
    assert abs(abs(s.center()) - math.pi) < 1e-12
    full = S1Interval.full()
    assert full.contains(0.0) and full.contains(math.pi)
    pp = S1Interval.from_point_pair(3.0, -3.0)
    assert pp.is_inverted() and pp.contains(3.1)


def test_cap_laws():
    """TestCap: containment, expansion, complement, area."""
    cap = Cap.from_lat_lng_radius(40, 10, 0.1)
    assert cap.contains_latlng(40, 10)
    assert cap.contains_latlng(40 + math.degrees(0.09), 10)
    assert not cap.contains_latlng(40 + math.degrees(0.11), 10)
    bigger = cap.expanded(0.05)
    assert bigger.contains_latlng(40 + math.degrees(0.13), 10)
    assert abs(cap.area() - 2 * math.pi * cap.height) < 1e-15
    assert abs(cap.angle() - 0.1) < 1e-12
    assert not cap.complement().contains_latlng(40, 10)
    assert cap.complement().contains_latlng(-40, -170)
    # add_point grows minimally
    grown = cap.add_point((0.0, 0.0, 1.0))
    assert grown.contains_point((0.0, 0.0, 1.0))


def test_rect_laws():
    """TestLatLngRect: seam wrap, union, expansion, cap bound."""
    r = LatLngRect.from_degrees(10, 170, 20, -170)
    assert r.contains_latlng(15, 175) and r.contains_latlng(15, -175)
    assert not r.contains_latlng(15, 0)
    r2 = LatLngRect.from_degrees(12, 175, 18, 178)
    assert r.contains_rect(r2) and r.intersects_rect(r2)
    cap = r.get_cap_bound()
    for k in range(4):
        vlat, vlng = r.get_vertex(k)
        assert cap.contains_point(
            (math.cos(vlng) * math.cos(vlat),
             math.sin(vlng) * math.cos(vlat), math.sin(vlat)))
    assert LatLngRect.from_point_pair(33, -122, 33.1, -122.1) \
        .contains_latlng(33.05, -122.05)


def test_polygon_extension():
    poly = SimplePolygon([(0, 0), (0, 10), (10, 10), (10, 0)])
    assert poly.contains_latlng(5, 5)
    assert not poly.contains_latlng(15, 5)
    with pytest.raises(ValueError):
        SimplePolygon([(0, 0), (10, 10), (0, 10), (10, 0)])  # a bowtie


def test_flood_fill_covering():
    cap = Cap.from_lat_lng_radius(40, 10, 0.05)
    cells = get_simple_covering(cap, (40.0, 10.0), 8)
    u = CellUnion(cells, normalized=True)
    assert all(cid_level(c) == 8 for c in cells)
    for _ in range(300):
        la = RNG.uniform(37, 43)
        ln = RNG.uniform(6, 14)
        if cap.contains_latlng(la, ln):
            assert u.contains_cellid(cid_from_lat_lng(la, ln))


def test_face_cells_partition_sphere():
    """the 6 face cells cover every point exactly once."""
    lat = RNG.uniform(-90, 90, 2000)
    lng = RNG.uniform(-180, 180, 2000)
    leaves = H.lat_lng_to_cell_id(lat, lng)
    faces = CellUnion([cid_from_face(f) for f in range(6)])
    hits = [sum(1 for f in range(6)
                if cid_parent(int(leaf), 0) == cid_from_face(f))
            for leaf in leaves[:200]]
    assert all(h == 1 for h in hits)
    assert all(faces.contains_cellid(int(leaf)) for leaf in leaves[:200])


def test_simple_polygon_concave():
    """general simple polygon (SURVEY §1.1 row 12): the U-shape
    fixture is concave and NOT star-shaped; crossing parity classifies
    arms/notch/outside correctly and agrees with the vectorized
    kernel and the scalar form everywhere."""
    from s2spark.fixtures import POLYS, U_POLY
    from s2spark.geometry import cross, dot, latlng_to_point, normalize
    from s2spark.kernels import regions as RK

    verts = dict(POLYS)[U_POLY]
    # genuinely non-star: some edge does not see the centroid on its
    # left, so the centroid fan of triangles does not tile the ring
    pts = [latlng_to_point(la, ln) for la, ln in verts]
    c = normalize(tuple(sum(v[i] for v in pts) for i in range(3)))
    assert any(dot(cross(a, b), c) <= 0
               for a, b in zip(pts, pts[1:] + pts[:1]))
    p = SimplePolygon(verts)
    assert p.contains_latlng(-16.0, -49.0)      # left arm
    assert p.contains_latlng(-16.0, -44.8)      # right arm
    assert p.contains_latlng(-21.0, -47.0)      # bottom bar
    assert not p.contains_latlng(-16.0, -47.0)  # the notch
    assert not p.contains_latlng(-13.0, -47.0)  # above the opening
    assert not p.contains_latlng(40.0, 10.0)    # far away
    lat = RNG.uniform(-26, -11, 4000)
    lng = RNG.uniform(-53, -41, 4000)
    kern = RK.simplepoly_contains(lat, lng, p.crossing_params())
    scalar = np.array([p.contains_latlng(a, b) for a, b in zip(lat, lng)])
    assert (kern == scalar).all()
    assert 0 < kern.sum() < len(kern)


def test_simple_polygon_covering():
    """coverer consumes the SimplePolygon region interface: every
    contained sample point falls in the covering; interior covering
    cells are fully contained."""
    from s2spark.fixtures import POLYS, U_POLY

    p = SimplePolygon(dict(POLYS)[U_POLY])
    cov = RegionCoverer(max_cells=64).get_covering(p)
    lat = RNG.uniform(-23, -13, 2000)
    lng = RNG.uniform(-51, -43, 2000)
    for la, ln in zip(lat, lng):
        if p.contains_latlng(la, ln):
            assert cov.contains_cellid(cid_from_lat_lng(la, ln))
    interior = RegionCoverer(max_cells=64).get_interior_covering(p)
    for cid in interior:
        cell = Cell(cid)
        assert all(p.contains_point(cell.get_vertex(k)) for k in range(4))
