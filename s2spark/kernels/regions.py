"""Vectorized exact region predicates + the broadcast interval index.

These are the *verify stage* of point-in-region joins (SURVEY.md §2.4,
§2.5): candidate (point, region) pairs from the covering prefilter are
confirmed with exact geometry, vectorized in numpy.

⚠️ Formula discipline: each predicate is written with a FIXED operation
order that the DuckDB oracle SQL reproduces term-for-term
(s2spark.fixtures generates that SQL), so verdicts are bit-identical
across engines. Change a formula here → regenerate the SQL.

Semantics anchors: ``sphere.py :: Cap.contains`` (chord test ≡ dot
test), ``LatLngRect.contains`` (interval + seam wrap),
``CellUnion.contains`` (sorted-range stabbing — here the CSR index).
"""

from __future__ import annotations

import numpy as np

DEG = 0.017453292519943295  # pi / 180, inlined identically in oracle SQL


def latlng_to_xyz_oracle(lat_deg: np.ndarray, lng_deg: np.ndarray):
    """degrees -> xyz with the exact op order the oracle SQL uses."""
    rl = lat_deg * DEG
    rg = lng_deg * DEG
    cl = np.cos(rl)
    return np.cos(rg) * cl, np.sin(rg) * cl, np.sin(rl)


def cap_contains(lat_deg, lng_deg, ax: float, ay: float, az: float,
                 cos_radius: float) -> np.ndarray:
    """great-circle dot test: axis·p >= cos(radius)."""
    x, y, z = latlng_to_xyz_oracle(np.asarray(lat_deg), np.asarray(lng_deg))
    return ax * x + ay * y + az * z >= cos_radius


def rect_contains(lat_deg, lng_deg, lat_lo: float, lat_hi: float,
                  lng_lo: float, lng_hi: float) -> np.ndarray:
    """degree-interval test; lng_lo > lng_hi means the rect wraps ±180°.

    Accepts lng slightly outside [-180, 180] by normalizing with the
    same arithmetic the oracle SQL uses.
    """
    lat = np.asarray(lat_deg, dtype=np.float64)
    lng = np.asarray(lng_deg, dtype=np.float64)
    lngn = lng - 360.0 * np.floor((lng + 180.0) / 360.0)
    lat_ok = (lat >= lat_lo) & (lat <= lat_hi)
    if lng_lo > lng_hi:  # seam wrap
        return lat_ok & ((lngn >= lng_lo) | (lngn <= lng_hi))
    return lat_ok & (lngn >= lng_lo) & (lngn <= lng_hi)


def simplepoly_contains(lat_deg, lng_deg, params) -> np.ndarray:
    """general SIMPLE polygon (may be concave, non-star) via crossing
    parity: p is inside iff the great-circle arc from a fixed
    reference point o (outside the polygon) to p crosses the boundary
    an odd number of times (``sphere.py :: simple_crossing`` per edge;
    the parity trick of ``S2Loop.contains``).

    ``params`` is 10 floats per edge, precomputed from edge (a, b) and
    reference o (``geometry.SimplePolygon.crossing_params``):
      n = cross(a, b); acb = -dot(n, o); u = cross(o, b); w = cross(a, o)
    crossing ⇔ acb·(n·p) > 0 ∧ acb·(u·p) > 0 ∧ acb·(w·p) > 0.
    Orientation-free (parity ignores winding direction). The oracle
    SQL reproduces the identical constants and op order.
    """
    x, y, z = latlng_to_xyz_oracle(np.asarray(lat_deg), np.asarray(lng_deg))
    crossings = np.zeros(x.shape, dtype=np.int64)
    for t in range(0, len(params), 10):
        nx, ny, nz, acb, ux, uy, uz, wx, wy, wz = params[t:t + 10]
        m = (acb * (nx * x + ny * y + nz * z) > 0.0) \
            & (acb * (ux * x + uy * y + uz * z) > 0.0) \
            & (acb * (wx * x + wy * y + wz * z) > 0.0)
        crossings += m
    return (crossings % 2) == 1


def chord_dist2(lat1, lng1, lat2, lng2) -> np.ndarray:
    """squared chord distance |p1-p2|² (monotone in angle)."""
    x1, y1, z1 = latlng_to_xyz_oracle(np.asarray(lat1), np.asarray(lng1))
    x2, y2, z2 = latlng_to_xyz_oracle(np.asarray(lat2), np.asarray(lng2))
    dx = x1 - x2
    dy = y1 - y2
    dz = z1 - z2
    return dx * dx + dy * dy + dz * dz


class IntervalIndex:
    """CSR stabbing index over covering-cell leaf ranges.

    The distributed form of ``CellUnion.contains`` for MANY regions at
    once: all covering cells' [range_min, range_max] leaf intervals are
    decomposed into disjoint elementary segments; each segment lists
    the (region, payload) intervals covering it. A batch of N points is
    matched with one searchsorted + one CSR gather — O(N log B + M)
    with zero per-row Python.

    Built driver-side (coverings are small relative to points) and
    shipped to executors by closure capture — the engine's "broadcast
    range join" (SURVEY.md §2.5a).

    All ids here are *sortable* int64 (sign-flipped uint64).
    """

    __slots__ = ("bounds", "seg_off", "seg_region", "seg_interior")

    def __init__(self, starts, ends, region_ids, interior):
        starts = np.asarray(starts, dtype=np.int64)
        ends = np.asarray(ends, dtype=np.int64)
        region_ids = np.asarray(region_ids, dtype=np.int64)
        interior = np.asarray(interior, dtype=bool)
        # elementary segment boundaries: starts and one-past-ends
        bounds = np.unique(np.concatenate([starts, ends + 1]))
        nseg = len(bounds) - 1
        lo = np.searchsorted(bounds, starts, side="left")
        hi = np.searchsorted(bounds, ends + 1, side="left")  # exclusive
        counts = np.zeros(nseg + 1, dtype=np.int64)
        np.add.at(counts, lo, 1)
        np.subtract.at(counts, hi, 1)
        span_counts = np.cumsum(counts[:-1])  # intervals covering each seg
        seg_off = np.zeros(nseg + 1, dtype=np.int64)
        seg_off[1:] = np.cumsum(span_counts)
        seg_region = np.empty(seg_off[-1], dtype=np.int64)
        seg_interior = np.empty(seg_off[-1], dtype=bool)
        cursor = seg_off[:-1].copy()
        order = np.argsort(lo, kind="stable")
        for idx in order:
            s, e = lo[idx], hi[idx]
            pos = cursor[s:e]
            seg_region[pos] = region_ids[idx]
            seg_interior[pos] = interior[idx]
            cursor[s:e] += 1
        self.bounds = bounds
        self.seg_off = seg_off
        self.seg_region = seg_region
        self.seg_interior = seg_interior

    def stab(self, ids_sortable: np.ndarray):
        """ids (sortable int64) -> (row_idx, region_id, interior):
        one output row per (point, covering-interval) hit."""
        seg = np.searchsorted(self.bounds, ids_sortable, side="right") - 1
        valid = (seg >= 0) & (seg < len(self.seg_off) - 1)
        seg_v = np.where(valid, seg, 0)
        start = self.seg_off[seg_v]
        cnt = np.where(valid, self.seg_off[seg_v + 1] - start, 0)
        row_idx = np.repeat(np.arange(len(ids_sortable)), cnt)
        # gather positions: start[i] .. start[i]+cnt[i] for each i
        total = int(cnt.sum())
        if total == 0:
            return (row_idx, np.empty(0, np.int64), np.empty(0, bool))
        offsets = np.repeat(start, cnt) + _ramp(cnt)
        return row_idx, self.seg_region[offsets], self.seg_interior[offsets]


def _ramp(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated (vectorized)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(counts)
    return np.arange(total, dtype=np.int64) - np.repeat(ends - counts, counts)
