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

from s2spark.kernels import cellops

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
        # one entry per (interval, covered segment); within a segment
        # the entries run in (lo, interval index) order
        span = hi - lo
        idx = np.repeat(np.arange(len(lo)), span)
        seg = np.repeat(lo, span) + _ramp(span)
        idx = idx[np.lexsort((idx, lo[idx], seg))]
        self.bounds = bounds
        self.seg_off = np.zeros(nseg + 1, dtype=np.int64)
        self.seg_off[1:] = np.cumsum(np.bincount(seg, minlength=nseg))
        self.seg_region = region_ids[idx]
        self.seg_interior = interior[idx]

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


# 1° lat/lng squares, key = row * GRID_COLS + col (row from lat + 90,
# col from lng + 180); the key -1 stands for coordinates off the grid
GRID_ROWS = 180
GRID_COLS = 360
GRID_PAD_DEG = 1e-9  # bound padding, far above the vertex rounding


def cell_latlng_bounds(cell_ids: np.ndarray):
    """padded (lat_lo, lat_hi, lng_lo, lng_hi) degree bounds of each
    cell, ``lng_lo <= lng_hi`` with ``lng_hi`` past 180 where the bound
    wraps and ``lng_hi - lng_lo >= 360`` for every longitude.

    The rule of ``Cell.get_rect_bound``: above level 0 the latitude
    and longitude extremes lie at the vertices (longitude: the
    shortest arc holding all four), and a cell that reaches a pole
    spans every longitude; a level-0 face gets the whole sphere."""
    cid = np.asarray(cell_ids, dtype=np.uint64)
    v = cellops.cell_vertices_xyz(cid)
    x, y, z = v[..., 0], v[..., 1], v[..., 2]
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    lng = np.sort(np.degrees(np.arctan2(y, x)), axis=1)
    # the shortest arc holding the 4 longitudes skips the widest gap
    gap = np.diff(np.concatenate([lng, lng[:, :1] + 360.0], axis=1), axis=1)
    lng_lo = lng[np.arange(len(cid)), (gap.argmax(axis=1) + 1) % 4]
    lng_hi = lng_lo + (360.0 - gap.max(axis=1))
    face = cellops.level(cid) == 0
    lat_lo = np.where(face, -90.0, lat.min(axis=1) - GRID_PAD_DEG)
    lat_hi = np.where(face, 90.0, lat.max(axis=1) + GRID_PAD_DEG)
    full = (lat_lo <= -90.0) | (lat_hi >= 90.0)
    return (lat_lo, lat_hi,
            np.where(full, -180.0, lng_lo - GRID_PAD_DEG),
            np.where(full, 180.0, lng_hi + GRID_PAD_DEG))


def covering_grid_keys(cell_ids: np.ndarray) -> np.ndarray:
    """sorted int32 keys of the 1° squares that some cell's
    :func:`cell_latlng_bounds` touches, plus -1. Squares are found
    with the point key's own ``floor(x + c)`` in float64, so a point
    inside a cell always gets a key enumerated here."""
    lat_lo, lat_hi, lng_lo, lng_hi = cell_latlng_bounds(cell_ids)
    r0 = np.clip(np.floor(lat_lo + 90.0), 0, GRID_ROWS - 1).astype(np.int64)
    r1 = np.clip(np.floor(lat_hi + 90.0), 0, GRID_ROWS - 1).astype(np.int64)
    c0 = np.floor(lng_lo + 180.0).astype(np.int64)
    ncol = np.minimum(np.floor(lng_hi + 180.0).astype(np.int64) - c0 + 1,
                      GRID_COLS)
    n = (r1 - r0 + 1) * ncol
    cell = np.repeat(np.arange(len(n)), n)
    k = _ramp(n)
    row = r0[cell] + k // ncol[cell]
    col = (c0[cell] + k % ncol[cell]) % GRID_COLS
    return np.unique(np.concatenate([[-1], row * GRID_COLS + col])) \
        .astype(np.int32)


def _ramp(counts: np.ndarray) -> np.ndarray:
    """[0..c0), [0..c1), ... concatenated (vectorized)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.cumsum(counts)
    return np.arange(total, dtype=np.int64) - np.repeat(ends - counts, counts)
