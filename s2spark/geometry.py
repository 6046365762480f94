"""Scalar region geometry for the coverer & region API.

Driver-side value types mirroring the reference's region model
(``sphere.py :: R1Interval, S1Interval, Cap, LatLngRect, Cell,
CellUnion``; SURVEY.md §2.4, §2.7). These run per *region* (never per
point/row) — the per-row hot paths live in ``s2spark.kernels``.

Cell ids here are plain non-negative python ints (the uint64 bit
pattern), so ordering comparisons are naturally unsigned.

``SimplePolygon`` is an engine extension (the reference has no
polygon type — SURVEY.md §1.1 row 12): any simple vertex ring,
containment via edge-crossing parity.
"""

from __future__ import annotations

import math
from bisect import bisect_left
from dataclasses import dataclass

from s2spark.kernels import hilbert

MAX_LEVEL = 30
MAX_SIZE = 1 << 30
_FULL = math.pi


# ---------------------------------------------------------------------------
# scalar cell-id helpers (python ints, unsigned semantics)
# ---------------------------------------------------------------------------

def cid_lsb(cid: int) -> int:
    return cid & -cid


def cid_level(cid: int) -> int:
    return MAX_LEVEL - ((cid_lsb(cid).bit_length() - 1) >> 1)


def cid_lsb_for_level(level: int) -> int:
    return 1 << (2 * (MAX_LEVEL - level))


def cid_parent(cid: int, level: int) -> int:
    nl = cid_lsb_for_level(level)
    return (cid & -nl) | nl


def cid_range_min(cid: int) -> int:
    return cid - (cid_lsb(cid) - 1)


def cid_range_max(cid: int) -> int:
    return cid + (cid_lsb(cid) - 1)


def cid_contains(a: int, b: int) -> bool:
    return cid_range_min(a) <= b <= cid_range_max(a)


def cid_children(cid: int) -> list[int]:
    ol = cid_lsb(cid)
    nl = ol >> 2
    first = cid - ol + nl
    return [first + 2 * k * nl for k in range(4)]


def cid_child_begin(cid: int, level: int) -> int:
    return cid - cid_lsb(cid) + cid_lsb_for_level(level)


def cid_child_end(cid: int, level: int) -> int:
    return cid + cid_lsb(cid) + cid_lsb_for_level(level)


def cid_is_face(cid: int) -> bool:
    return (cid & ((1 << 60) - 1)) == 0


def cid_from_face(face: int) -> int:
    return (face << 61) | (1 << 60)


# pure-python scalar twins of the numpy kernels (the coverer makes
# thousands of tiny calls; numpy singleton dispatch would dominate)
_LOOKUP_POS_L = hilbert.LOOKUP_POS.tolist()
_LOOKUP_IJ_L = hilbert.LOOKUP_IJ.tolist()


def _st_to_uv_s(s: float) -> float:
    if s >= 0.5:
        return (1.0 / 3.0) * (4.0 * s * s - 1.0)
    return (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))


def _uv_to_st_s(u: float) -> float:
    if u >= 0:
        return 0.5 * math.sqrt(1.0 + 3.0 * u)
    return 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)


def _st_to_ij_s(s: float) -> int:
    return max(0, min(MAX_SIZE - 1, int(math.floor(MAX_SIZE * s))))


def _face_uv_to_xyz_s(face: int, u: float, v: float):
    if face == 0:
        return (1.0, u, v)
    if face == 1:
        return (-u, 1.0, v)
    if face == 2:
        return (-u, -v, 1.0)
    if face == 3:
        return (-1.0, -v, -u)
    if face == 4:
        return (v, -1.0, -u)
    return (v, u, -1.0)


def _xyz_to_face_uv_s(p):
    x, y, z = p
    ax, ay, az = abs(x), abs(y), abs(z)
    if ax > ay:
        f = 0 if ax > az else 2
    else:
        f = 1 if ay > az else 2
    if (x, y, z)[f] < 0:
        f += 3
    uv = _face_xyz_to_uv_unchecked(f, p)
    return f, uv[0], uv[1]


def _face_xyz_to_uv_unchecked(face: int, p):
    x, y, z = p
    if face == 0:
        return y / x, z / x
    if face == 1:
        return -x / y, z / y
    if face == 2:
        return -x / z, -y / z
    if face == 3:
        return z / x, y / x
    if face == 4:
        return z / y, -x / y
    return -y / z, -x / z


def _from_face_ij_s(face: int, i: int, j: int) -> int:
    n = face << 60
    bits = face & 1
    for k in range(7, -1, -1):
        bits += ((i >> (k * 4)) & 15) << 6
        bits += ((j >> (k * 4)) & 15) << 2
        bits = _LOOKUP_POS_L[bits]
        n |= (bits >> 2) << (k * 8)
        bits &= 3
    return n * 2 + 1


def _from_face_ij_wrap_s(face: int, i: int, j: int) -> int:
    i = max(-1, min(MAX_SIZE, i))
    j = max(-1, min(MAX_SIZE, j))
    scale = 1.0 / MAX_SIZE
    limit = math.nextafter(1.0, 2.0)
    u = max(-limit, min(limit, scale * (2.0 * (i - MAX_SIZE // 2) + 1.0)))
    v = max(-limit, min(limit, scale * (2.0 * (j - MAX_SIZE // 2) + 1.0)))
    f2, u2, v2 = _xyz_to_face_uv_s(_face_uv_to_xyz_s(face, u, v))
    return _from_face_ij_s(f2, _st_to_ij_s(0.5 * (u2 + 1.0)),
                           _st_to_ij_s(0.5 * (v2 + 1.0)))


def cid_from_lat_lng(lat_deg: float, lng_deg: float) -> int:
    return cid_from_point(latlng_to_point(lat_deg, lng_deg))


def cid_from_point(p) -> int:
    f, u, v = _xyz_to_face_uv_s(p)
    return _from_face_ij_s(f, _st_to_ij_s(_uv_to_st_s(u)),
                           _st_to_ij_s(_uv_to_st_s(v)))


def cid_to_face_ij(cid: int):
    face = cid >> 61
    bits = face & 1
    i = j = 0
    for k in range(7, -1, -1):
        nbits = 2 if k == 7 else 4
        bits += ((cid >> (k * 8 + 1)) & ((1 << (2 * nbits)) - 1)) << 2
        bits = _LOOKUP_IJ_L[bits]
        i += (bits >> 6) << (k * 4)
        j += ((bits >> 2) & 15) << (k * 4)
        bits &= 3
    if cid_lsb(cid) & 0x1111111111111110:
        bits ^= 1
    return face, i, j, bits


def cid_vertex_neighbors(cid: int, level: int) -> list[int]:
    """``CellId.get_vertex_neighbors`` — the 3–4 cells at ``level``
    (coarser than the cell) touching the cell's lowest vertex."""
    face, i, j, _ = cid_to_face_ij(cid)
    halfsize = 1 << (MAX_LEVEL - (level + 1))
    size = halfsize << 1
    if i & halfsize:
        ioffset, isame = size, (i + size) < MAX_SIZE
    else:
        ioffset, isame = -size, (i - size) >= 0
    if j & halfsize:
        joffset, jsame = size, (j + size) < MAX_SIZE
    else:
        joffset, jsame = -size, (j - size) >= 0
    out = [cid_parent(cid, level),
           _from_face_ij_same(face, i + ioffset, j, isame, level),
           _from_face_ij_same(face, i, j + joffset, jsame, level)]
    if isame or jsame:
        out.append(_from_face_ij_same(face, i + ioffset, j + joffset,
                                      isame and jsame, level))
    return out


def cid_all_neighbors(cid: int, level: int) -> list[int]:
    """scalar ``CellId.get_all_neighbors`` at the cell's own level."""
    face, i, j, _ = cid_to_face_ij(cid)
    size = 1 << (MAX_LEVEL - level)
    i &= -size
    j &= -size
    out = []
    for k in (-size, 0, size):
        if k < 0:
            same_face = (j + k) >= 0
        elif k >= size:
            same_face = (j + k) < MAX_SIZE
        else:
            same_face = True
            out.append(_from_face_ij_same(face, i + k, j - size,
                                          j - size >= 0, level))
            out.append(_from_face_ij_same(face, i + k, j + size,
                                          j + size < MAX_SIZE, level))
        out.append(_from_face_ij_same(face, i - size, j + k,
                                      same_face and i - size >= 0, level))
        out.append(_from_face_ij_same(face, i + size, j + k,
                                      same_face and i + size < MAX_SIZE,
                                      level))
    return out


def _from_face_ij_same(face, i, j, same, level) -> int:
    leaf = _from_face_ij_s(face, i, j) if same \
        else _from_face_ij_wrap_s(face, i, j)
    return cid_parent(leaf, level)


# ---------------------------------------------------------------------------
# point utilities
# ---------------------------------------------------------------------------

def latlng_to_point(lat_deg: float, lng_deg: float):
    phi = math.radians(lat_deg)
    theta = math.radians(lng_deg)
    c = math.cos(phi)
    return (math.cos(theta) * c, math.sin(theta) * c, math.sin(phi))


def point_to_latlng(p):
    x, y, z = p
    return (math.degrees(math.atan2(z, math.hypot(x, y))),
            math.degrees(math.atan2(y, x)))


def dot(a, b):
    return a[0] * b[0] + a[1] * b[1] + a[2] * b[2]


def cross(a, b):
    return (a[1] * b[2] - a[2] * b[1],
            a[2] * b[0] - a[0] * b[2],
            a[0] * b[1] - a[1] * b[0])


def norm(a):
    return math.sqrt(dot(a, a))


def normalize(a):
    n = norm(a)
    return (a[0] / n, a[1] / n, a[2] / n)


def origin_point():
    """an arbitrary fixed reference point, guaranteed off every edge
    used by tests (``sphere.py :: origin``)."""
    return normalize((0.00457, 1.0, 0.0031358))


def ortho(a):
    """a unit vector orthogonal to ``a`` (``sphere.py :: ortho``)."""
    k = max(range(3), key=lambda i: abs(a[i]))
    temp = [0.012, 0.0053, 0.00457]
    temp[(k + 1) % 3] = 1.0
    return normalize(cross(a, tuple(temp)))


def robust_cross_prod(a, b):
    """cross product stable for nearly (anti)parallel inputs
    (``sphere.py :: robust_cross_prod``): (b+a)×(b−a) = 2·a×b."""
    x = cross((b[0] + a[0], b[1] + a[1], b[2] + a[2]),
              (b[0] - a[0], b[1] - a[1], b[2] - a[2]))
    if x != (0.0, 0.0, 0.0):
        return x
    return ortho(a)


def simple_ccw(a, b, c) -> bool:
    """True if the points are counterclockwise (``simple_ccw``):
    det(c, a, b) > 0."""
    return dot(cross(c, a), b) > 0


def angle_between(a, b) -> float:
    """stable angle between unit vectors via the chord
    (``Point.angle`` / ``LatLng.get_distance`` underlying form)."""
    d = (a[0] - b[0], a[1] - b[1], a[2] - b[2])
    return 2.0 * math.asin(min(1.0, 0.5 * math.sqrt(dot(d, d))))


def latlng_distance(lat1: float, lng1: float,
                    lat2: float, lng2: float) -> float:
    """great-circle distance in radians between degree coordinates
    (``LatLng.get_distance``)."""
    return angle_between(latlng_to_point(lat1, lng1),
                         latlng_to_point(lat2, lng2))


def _point_to_arc_distance(p, a, b) -> float:
    """angle from point ``p`` to the minor great-circle arc a→b
    (``sphere.py :: get_distance`` edge-distance primitive): if p's
    projection onto the arc's great circle lies within the arc, the
    distance is the |asin| of the normalized plane offset; else the
    nearer endpoint."""
    n = robust_cross_prod(a, b)
    nn = normalize(n)
    # within-arc test: p between the perpendicular planes at a and b
    if dot(cross(n, a), p) > 0 and dot(cross(b, n), p) > 0:
        return abs(math.asin(max(-1.0, min(1.0, dot(nn, p)))))
    return min(angle_between(p, a), angle_between(p, b))


def simple_crossing(a, b, c, d) -> bool:
    """edge AB crosses edge CD at an interior point
    (``sphere.py :: simple_crossing``)."""
    ab = cross(a, b)
    acb = -dot(ab, c)
    bda = dot(ab, d)
    if acb * bda <= 0:
        return False
    cd = cross(c, d)
    cbd = -dot(cd, b)
    dac = dot(cd, a)
    return (acb * cbd > 0) and (acb * dac > 0)


# ---------------------------------------------------------------------------
# intervals (``sphere.py :: R1Interval / S1Interval``)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class R1Interval:
    lo: float
    hi: float

    @staticmethod
    def empty() -> "R1Interval":
        return R1Interval(1.0, 0.0)

    @staticmethod
    def from_point_pair(p1: float, p2: float) -> "R1Interval":
        return R1Interval(min(p1, p2), max(p1, p2))

    def is_empty(self) -> bool:
        return self.lo > self.hi

    def center(self) -> float:
        return 0.5 * (self.lo + self.hi)

    def length(self) -> float:
        return self.hi - self.lo

    def contains(self, other) -> bool:
        if isinstance(other, R1Interval):
            if other.is_empty():
                return True
            return other.lo >= self.lo and other.hi <= self.hi
        return self.lo <= other <= self.hi

    def interior_contains(self, p: float) -> bool:
        return self.lo < p < self.hi

    def intersects(self, other: "R1Interval") -> bool:
        if self.lo <= other.lo:
            return other.lo <= self.hi and other.lo <= other.hi
        return self.lo <= other.hi and self.lo <= self.hi

    def union(self, other: "R1Interval") -> "R1Interval":
        if self.is_empty():
            return other
        if other.is_empty():
            return self
        return R1Interval(min(self.lo, other.lo), max(self.hi, other.hi))

    def intersection(self, other: "R1Interval") -> "R1Interval":
        return R1Interval(max(self.lo, other.lo), min(self.hi, other.hi))

    def expanded(self, margin: float) -> "R1Interval":
        if self.is_empty():
            return self
        return R1Interval(self.lo - margin, self.hi + margin)


@dataclass(frozen=True)
class S1Interval:
    """circular interval on [-π, π]; lo > hi means it wraps through ±π
    (``sphere.py :: S1Interval``)."""
    lo: float
    hi: float

    @staticmethod
    def full() -> "S1Interval":
        return S1Interval(-_FULL, _FULL)

    @staticmethod
    def empty() -> "S1Interval":
        return S1Interval(_FULL, -_FULL)

    @staticmethod
    def from_point_pair(p1: float, p2: float) -> "S1Interval":
        if p1 == -_FULL:
            p1 = _FULL
        if p2 == -_FULL:
            p2 = _FULL
        if _pos_distance(p1, p2) <= _FULL:
            return S1Interval(p1, p2)
        return S1Interval(p2, p1)

    def is_full(self) -> bool:
        return self.hi - self.lo == 2 * _FULL

    def is_empty(self) -> bool:
        return self.lo - self.hi == 2 * _FULL

    def is_inverted(self) -> bool:
        return self.lo > self.hi

    def center(self) -> float:
        c = 0.5 * (self.lo + self.hi)
        if not self.is_inverted():
            return c
        return c - _FULL if c >= 0 else c + _FULL

    def length(self) -> float:
        length = self.hi - self.lo
        if length >= 0:
            return length
        length += 2 * _FULL
        return length if length > 0 else -1.0

    def contains(self, other) -> bool:
        if isinstance(other, S1Interval):
            if self.is_inverted():
                if other.is_inverted():
                    return other.lo >= self.lo and other.hi <= self.hi
                return (other.lo >= self.lo or other.hi <= self.hi) \
                    and not self.is_empty()
            if other.is_inverted():
                return self.is_full() or other.is_empty()
            return other.lo >= self.lo and other.hi <= self.hi
        p = other
        if p == -_FULL:
            p = _FULL
        if self.is_inverted():
            return (p >= self.lo or p <= self.hi) and not self.is_empty()
        return self.lo <= p <= self.hi

    def intersects(self, other: "S1Interval") -> bool:
        if self.is_empty() or other.is_empty():
            return False
        if self.is_inverted():
            return other.is_inverted() or other.lo <= self.hi \
                or other.hi >= self.lo
        if other.is_inverted():
            return other.lo <= self.hi or other.hi >= self.lo
        return other.lo <= self.hi and other.hi >= self.lo

    def union(self, other: "S1Interval") -> "S1Interval":
        if other.is_empty():
            return self
        if self.is_empty():
            return other
        if self.fast_contains(other.lo):
            if self.fast_contains(other.hi):
                if self.contains(other):
                    return self
                return S1Interval.full()
            return S1Interval(self.lo, other.hi)
        if self.fast_contains(other.hi):
            return S1Interval(other.lo, self.hi)
        if other.fast_contains(self.lo):
            return other
        dlo = _pos_distance(other.hi, self.lo)
        dhi = _pos_distance(self.hi, other.lo)
        if dlo < dhi:
            return S1Interval(other.lo, self.hi)
        return S1Interval(self.lo, other.hi)

    def fast_contains(self, p: float) -> bool:
        if self.is_inverted():
            return (p >= self.lo or p <= self.hi) and not self.is_empty()
        return self.lo <= p <= self.hi

    def expanded(self, margin: float) -> "S1Interval":
        if margin >= 0:
            if self.is_empty():
                return self
            if self.length() + 2 * margin >= 2 * _FULL - 1e-15:
                return S1Interval.full()
        else:
            if self.is_full():
                return self
            if self.length() + 2 * margin <= 1e-15:
                return S1Interval.empty()
        lo = math.remainder(self.lo - margin, 2 * _FULL)
        hi = math.remainder(self.hi + margin, 2 * _FULL)
        if lo <= -_FULL:
            lo = _FULL
        return S1Interval(lo, hi)


def _pos_distance(a: float, b: float) -> float:
    d = b - a
    return d if d >= 0 else (b + _FULL) - (a - _FULL)


# ---------------------------------------------------------------------------
# Cell (``sphere.py :: Cell``) — scalar geometric realization
# ---------------------------------------------------------------------------

class Cell:
    __slots__ = ("cid", "face", "level", "u_lo", "u_hi", "v_lo", "v_hi")

    def __init__(self, cid: int):
        self.cid = cid
        face, i, j, _ = cid_to_face_ij(cid)
        self.face = face
        self.level = cid_level(cid)
        size = 1 << (MAX_LEVEL - self.level)
        i_lo = i & -size
        j_lo = j & -size
        self.u_lo = _st_to_uv_s(i_lo / MAX_SIZE)
        self.u_hi = _st_to_uv_s((i_lo + size) / MAX_SIZE)
        self.v_lo = _st_to_uv_s(j_lo / MAX_SIZE)
        self.v_hi = _st_to_uv_s((j_lo + size) / MAX_SIZE)

    def _uv_corner(self, k: int):
        # CCW order: (lo,lo),(hi,lo),(hi,hi),(lo,hi)
        u = self.u_lo if k in (0, 3) else self.u_hi
        v = self.v_lo if k in (0, 1) else self.v_hi
        return u, v

    def get_vertex_raw(self, k: int):
        u, v = self._uv_corner(k)
        return _face_uv_to_xyz_s(self.face, u, v)

    def get_vertex(self, k: int):
        return normalize(self.get_vertex_raw(k))

    def get_center_raw(self):
        u = 0.5 * (self.u_lo + self.u_hi)
        v = 0.5 * (self.v_lo + self.v_hi)
        return _face_uv_to_xyz_s(self.face, u, v)

    def get_edge_raw(self, k: int):
        """outward normal of edge k (``Cell.get_edge_raw``)."""
        if k == 0:
            return _v_norm(self.face, self.v_lo)        # bottom
        if k == 1:
            return _u_norm(self.face, self.u_hi)        # right
        if k == 2:
            n = _v_norm(self.face, self.v_hi)           # top (negated)
            return (-n[0], -n[1], -n[2])
        n = _u_norm(self.face, self.u_lo)               # left (negated)
        return (-n[0], -n[1], -n[2])

    def contains(self, p) -> bool:
        """exact point-in-cell via face uv projection (``Cell.contains``)."""
        uv = _face_xyz_to_uv(self.face, p)
        if uv is None:
            return False
        u, v = uv
        return self.u_lo <= u <= self.u_hi and self.v_lo <= v <= self.v_hi

    def subdivide(self) -> list["Cell"]:
        return [Cell(c) for c in cid_children(self.cid)]

    # --- bounds ---------------------------------------------------------

    def _get_latitude(self, i: int, j: int) -> float:
        p = self.get_vertex_raw(_corner_index(i, j))
        return math.atan2(p[2], math.hypot(p[0], p[1]))

    def _get_longitude(self, i: int, j: int) -> float:
        p = self.get_vertex_raw(_corner_index(i, j))
        return math.atan2(p[1], p[0])

    def get_rect_bound(self) -> "LatLngRect":
        """``Cell.get_rect_bound`` — exact lat/lng bound (C++ semantics:
        for level>0 extremes are at the vertices)."""
        if self.level > 0:
            u = self.u_lo + self.u_hi
            v = self.v_lo + self.v_hi
            i = 1 if ((_u_axis_z(self.face) == 0) == (u < 0)) else 0
            j = 1 if ((_v_axis_z(self.face) == 0) == (v < 0)) else 0
            max_err = 1.0 / (1 << 51)
            lat = R1Interval.from_point_pair(self._get_latitude(i, j),
                                             self._get_latitude(1 - i, 1 - j))
            lat = lat.expanded(max_err).intersection(
                R1Interval(-_FULL / 2, _FULL / 2))
            if lat.lo == -_FULL / 2 or lat.hi == _FULL / 2:
                return LatLngRect(lat, S1Interval.full())
            lng = S1Interval.from_point_pair(self._get_longitude(i, 1 - j),
                                             self._get_longitude(1 - i, j))
            return LatLngRect(lat, lng.expanded(max_err))
        pole_min_lat = math.asin(math.sqrt(1.0 / 3.0))
        q = _FULL / 4
        if self.face == 0:
            return LatLngRect(R1Interval(-q, q), S1Interval(-q, q))
        if self.face == 1:
            return LatLngRect(R1Interval(-q, q), S1Interval(q, 3 * q))
        if self.face == 2:
            return LatLngRect(R1Interval(pole_min_lat, _FULL / 2),
                              S1Interval.full())
        if self.face == 3:
            return LatLngRect(R1Interval(-q, q), S1Interval(3 * q, -3 * q))
        if self.face == 4:
            return LatLngRect(R1Interval(-q, q), S1Interval(-3 * q, -q))
        return LatLngRect(R1Interval(-_FULL / 2, -pole_min_lat),
                          S1Interval.full())

    def get_cap_bound(self) -> "Cap":
        """``Cell.get_cap_bound`` — cap at the uv-center covering the
        4 vertices."""
        cap = Cap(normalize(self.get_center_raw()), 0.0)
        for k in range(4):
            cap = cap.add_point(self.get_vertex(k))
        return cap


def _corner_index(i: int, j: int) -> int:
    # (i,j) in {0,1}² -> CCW vertex index
    return {(0, 0): 0, (1, 0): 1, (1, 1): 2, (0, 1): 3}[(i, j)]


def _u_norm(face: int, u: float):
    """``get_u_norm``: normal of the constant-u edge plane."""
    return ((u, -1.0, 0.0), (1.0, u, 0.0), (1.0, 0.0, u),
            (-u, 0.0, 1.0), (0.0, -u, 1.0), (0.0, -1.0, -u))[face]


def _v_norm(face: int, v: float):
    """``get_v_norm``: normal of the constant-v edge plane."""
    return ((-v, 0.0, 1.0), (0.0, -v, 1.0), (0.0, -1.0, -v),
            (v, -1.0, 0.0), (1.0, v, 0.0), (1.0, 0.0, v))[face]


def _u_axis_z(face: int) -> float:
    return (0.0, 0.0, 0.0, 1.0, 1.0, 0.0)[face]


def _v_axis_z(face: int) -> float:
    return (1.0, 1.0, 0.0, 0.0, 0.0, 0.0)[face]


def _face_xyz_to_uv(face: int, p):
    """project p onto ``face``; None if p is on the back hemisphere."""
    x, y, z = p
    if face == 0:
        if x <= 0:
            return None
        return y / x, z / x
    if face == 1:
        if y <= 0:
            return None
        return -x / y, z / y
    if face == 2:
        if z <= 0:
            return None
        return -x / z, -y / z
    if face == 3:
        if x >= 0:
            return None
        return z / x, y / x
    if face == 4:
        if y >= 0:
            return None
        return z / y, -x / y
    if z >= 0:
        return None
    return -y / z, -x / z


# ---------------------------------------------------------------------------
# Cap (``sphere.py :: Cap``)
# ---------------------------------------------------------------------------

class Cap:
    """spherical cap: unit axis + height h = 1 - cos(angle)."""

    __slots__ = ("axis", "height")

    def __init__(self, axis, height: float):
        self.axis = axis
        self.height = height

    @staticmethod
    def from_axis_angle(axis, angle_rad: float) -> "Cap":
        return Cap(axis, Cap._height_for_angle(angle_rad))

    @staticmethod
    def from_lat_lng_radius(lat_deg: float, lng_deg: float,
                            radius_rad: float) -> "Cap":
        return Cap.from_axis_angle(latlng_to_point(lat_deg, lng_deg),
                                   radius_rad)

    @staticmethod
    def empty() -> "Cap":
        return Cap((1.0, 0.0, 0.0), -1.0)

    @staticmethod
    def _height_for_angle(radians: float) -> float:
        if radians >= _FULL:
            return 2.0
        d = math.sin(0.5 * radians)
        return 2 * d * d

    def angle(self) -> float:
        if self.is_empty():
            return -1.0
        return 2 * math.asin(math.sqrt(0.5 * self.height))

    def is_empty(self) -> bool:
        return self.height < 0

    def is_full(self) -> bool:
        return self.height >= 2

    def area(self) -> float:
        """cap area = 2π·h (``Cap.area``)."""
        return 2 * _FULL * max(0.0, self.height)

    def complement(self) -> "Cap":
        h = 2 - self.height if not self.is_full() else -1.0
        return Cap((-self.axis[0], -self.axis[1], -self.axis[2]), h)

    def expanded(self, distance_rad: float) -> "Cap":
        if self.is_empty():
            return Cap.empty()
        return Cap.from_axis_angle(self.axis, self.angle() + distance_rad)

    def add_point(self, p) -> "Cap":
        if self.is_empty():
            return Cap(p, 0.0)
        d = (self.axis[0] - p[0], self.axis[1] - p[1], self.axis[2] - p[2])
        return Cap(self.axis, max(self.height, 0.5 * dot(d, d)))

    def get_distance(self, p) -> float:
        """angle (radians) from unit point ``p`` to the cap, 0 inside
        (``Cap.get_distance``): axis angle minus the cap angle."""
        if self.is_empty():
            return float("inf")
        return max(0.0, angle_between(self.axis, p) - self.angle())

    def contains_point(self, p) -> bool:
        d = (self.axis[0] - p[0], self.axis[1] - p[1], self.axis[2] - p[2])
        return dot(d, d) <= 2 * self.height

    def interior_contains_point(self, p) -> bool:
        d = (self.axis[0] - p[0], self.axis[1] - p[1], self.axis[2] - p[2])
        return self.is_full() or dot(d, d) < 2 * self.height

    # --- region interface (coverer) --------------------------------------

    def get_cap_bound(self) -> "Cap":
        return self

    def contains(self, cell: Cell) -> bool:
        vertices = [cell.get_vertex(k) for k in range(4)]
        for v in vertices:
            if not self.contains_point(v):
                return False
        return not self.complement()._intersects(cell, vertices)

    def may_intersect(self, cell: Cell) -> bool:
        vertices = [cell.get_vertex(k) for k in range(4)]
        for v in vertices:
            if self.contains_point(v):
                return True
        return self._intersects(cell, vertices)

    def _intersects(self, cell: Cell, vertices) -> bool:
        """cap intersects cell at a non-vertex point, given that no
        vertex is inside the cap (``Cap.intersects``)."""
        if self.height >= 1:
            # hemisphere or larger: cap complement and cell are both
            # convex, and no cell vertex is inside -> no intersection
            return False
        if self.is_empty():
            return False
        if cell.contains(self.axis):
            return True
        sin2_angle = self.height * (2 - self.height)
        for k in range(4):
            edge = cell.get_edge_raw(k)
            d = dot(self.axis, edge)
            if d > 0:
                continue
            if d * d > sin2_angle * dot(edge, edge):
                return False
            direction = cross(edge, self.axis)
            if dot(direction, vertices[k]) < 0 \
                    and dot(direction, vertices[(k + 1) & 3]) > 0:
                return True
        return False

    def contains_latlng(self, lat_deg: float, lng_deg: float) -> bool:
        return self.contains_point(latlng_to_point(lat_deg, lng_deg))

    def get_rect_bound(self) -> "LatLngRect":
        """``Cap.get_rect_bound``: lat band around the axis latitude;
        full lng when the cap crosses a pole, else a centered lng
        interval of half-width asin(sin r / cos lat)."""
        if self.is_empty():
            return LatLngRect(R1Interval.empty(), S1Interval.empty())
        axis_lat = math.atan2(self.axis[2],
                              math.hypot(self.axis[0], self.axis[1]))
        axis_lng = math.atan2(self.axis[1], self.axis[0])
        r = self.angle()
        lat_lo = axis_lat - r
        lat_hi = axis_lat + r
        all_lng = False
        if lat_lo <= -_FULL / 2:
            lat_lo = -_FULL / 2
            all_lng = True
        if lat_hi >= _FULL / 2:
            lat_hi = _FULL / 2
            all_lng = True
        if all_lng:
            return LatLngRect(R1Interval(lat_lo, lat_hi), S1Interval.full())
        sin_a = math.sin(r)
        cos_lat = math.cos(axis_lat)
        if sin_a >= cos_lat:
            return LatLngRect(R1Interval(lat_lo, lat_hi), S1Interval.full())
        half = math.asin(sin_a / cos_lat)
        lo = math.remainder(axis_lng - half, 2 * _FULL)
        hi = math.remainder(axis_lng + half, 2 * _FULL)
        if lo <= -_FULL:
            lo = _FULL
        if hi <= -_FULL:
            hi = _FULL
        return LatLngRect(R1Interval(lat_lo, lat_hi), S1Interval(lo, hi))


# ---------------------------------------------------------------------------
# LatLngRect (``sphere.py :: LatLngRect``)
# ---------------------------------------------------------------------------

class LatLngRect:
    __slots__ = ("lat", "lng")

    def __init__(self, lat: R1Interval, lng: S1Interval):
        self.lat = lat
        self.lng = lng

    @staticmethod
    def from_degrees(lat_lo: float, lng_lo: float,
                     lat_hi: float, lng_hi: float) -> "LatLngRect":
        return LatLngRect(
            R1Interval(math.radians(lat_lo), math.radians(lat_hi)),
            S1Interval(math.radians(lng_lo), math.radians(lng_hi)))

    @staticmethod
    def from_point_pair(lat1: float, lng1: float,
                        lat2: float, lng2: float) -> "LatLngRect":
        """degrees; the quickstart's bbox constructor
        (``LatLngRect.from_point_pair``)."""
        return LatLngRect(
            R1Interval.from_point_pair(math.radians(lat1), math.radians(lat2)),
            S1Interval.from_point_pair(math.radians(lng1), math.radians(lng2)))

    def is_empty(self) -> bool:
        return self.lat.is_empty()

    def get_center(self):
        return (self.lat.center(), self.lng.center())  # radians

    def get_vertex(self, k: int):
        """(lat, lng) radians of vertex k, CCW from lower-left."""
        lats = (self.lat.lo, self.lat.lo, self.lat.hi, self.lat.hi)
        lngs = (self.lng.lo, self.lng.hi, self.lng.hi, self.lng.lo)
        return lats[k], lngs[k]

    def contains_latlng(self, lat_deg: float, lng_deg: float) -> bool:
        return self.lat.contains(math.radians(lat_deg)) \
            and self.lng.contains(math.radians(lng_deg))

    def contains_rect(self, other: "LatLngRect") -> bool:
        return self.lat.contains(other.lat) and self.lng.contains(other.lng)

    def intersects_rect(self, other: "LatLngRect") -> bool:
        return self.lat.intersects(other.lat) and self.lng.intersects(other.lng)

    def union(self, other: "LatLngRect") -> "LatLngRect":
        return LatLngRect(self.lat.union(other.lat), self.lng.union(other.lng))

    def intersection(self, other: "LatLngRect") -> "LatLngRect":
        """``LatLngRect.intersection`` (empty when disjoint)."""
        lat = self.lat.intersection(other.lat)
        if lat.is_empty() or not self.lng.intersects(other.lng):
            return LatLngRect(R1Interval.empty(), S1Interval.empty())
        if self.lng.contains(other.lng):
            lng = other.lng
        elif other.lng.contains(self.lng):
            lng = self.lng
        else:
            # one-sided overlap of non-nested intervals
            lo = other.lng.lo if self.lng.fast_contains(other.lng.lo) \
                else self.lng.lo
            hi = other.lng.hi if self.lng.fast_contains(other.lng.hi) \
                else self.lng.hi
            lng = S1Interval(lo, hi)
        return LatLngRect(lat, lng)

    @staticmethod
    def from_center_size(center_lat: float, center_lng: float,
                         size_lat: float, size_lng: float) -> "LatLngRect":
        """degrees; ``LatLngRect.from_center_size``."""
        half_lat = math.radians(size_lat) / 2
        half_lng = math.radians(size_lng) / 2
        c_lat = math.radians(center_lat)
        c_lng = math.radians(center_lng)
        base = LatLngRect(R1Interval(c_lat, c_lat),
                          S1Interval(c_lng, c_lng))
        return base.expanded(half_lat, half_lng)

    def expanded(self, lat_margin: float, lng_margin: float) -> "LatLngRect":
        lat = self.lat.expanded(lat_margin).intersection(
            R1Interval(-_FULL / 2, _FULL / 2))
        return LatLngRect(lat, self.lng.expanded(lng_margin))

    def convolve_with_cap(self, angle_rad: float) -> "LatLngRect":
        """Minkowski sum with a cap of the given radius
        (``LatLngRect.convolve_with_cap``): union of caps at the 4
        vertices, rect-bounded, unioned with the margin expansion."""
        out = self.expanded(angle_rad, angle_rad)
        for k in range(4):
            vlat, vlng = self.get_vertex(k)
            cap = Cap.from_axis_angle(
                latlng_to_point(math.degrees(vlat), math.degrees(vlng)),
                angle_rad)
            out = out.union(cap.get_rect_bound())
        return out

    def get_distance(self, lat_deg: float, lng_deg: float) -> float:
        """angle (radians) from a point to the rect, 0 inside
        (``LatLngRect.get_distance``): pure latitude distance when the
        point's longitude is inside the rect's interval, else exact
        point-to-meridian-segment distance on the nearest lng edge."""
        p_lat = math.radians(lat_deg)
        p_lng = math.radians(lng_deg)
        if self.is_empty():
            return float("inf")
        if self.lng.contains(p_lng):
            return max(0.0, self.lat.lo - p_lat, p_lat - self.lat.hi)
        # nearest longitude edge: compare circular distances to lo/hi
        d_lo = abs(math.remainder(p_lng - self.lng.lo, 2 * math.pi))
        d_hi = abs(math.remainder(p_lng - self.lng.hi, 2 * math.pi))
        edge_lng = self.lng.lo if d_lo <= d_hi else self.lng.hi
        p = latlng_to_point(lat_deg, lng_deg)
        a = latlng_to_point(math.degrees(self.lat.lo),
                            math.degrees(edge_lng))
        b = latlng_to_point(math.degrees(self.lat.hi),
                            math.degrees(edge_lng))
        return _point_to_arc_distance(p, a, b)

    # --- region interface -------------------------------------------------

    def contains(self, cell: Cell) -> bool:
        """``LatLngRect.contains(cell)`` — via the cell's exact rect
        bound, matching the reference."""
        return self.contains_rect(cell.get_rect_bound())

    def may_intersect(self, cell: Cell) -> bool:
        """``LatLngRect.may_intersect`` — conservative rect-bound test,
        matching the reference."""
        return self.intersects_rect(cell.get_rect_bound())

    def get_cap_bound(self) -> Cap:
        """``LatLngRect.get_cap_bound``."""
        if self.is_empty():
            return Cap.empty()
        if self.lat.lo + self.lat.hi < 0:
            pole_z, pole_angle = -1.0, _FULL / 2 + self.lat.hi
        else:
            pole_z, pole_angle = 1.0, _FULL / 2 - self.lat.lo
        pole_cap = Cap.from_axis_angle((0.0, 0.0, pole_z), pole_angle)
        lng_span = self.lng.hi - self.lng.lo
        if math.remainder(lng_span, 2 * _FULL) >= 0 and lng_span < 2 * _FULL:
            c = self.get_center()
            mid_cap = Cap(latlng_to_point(math.degrees(c[0]),
                                          math.degrees(c[1])), 0.0)
            for k in range(4):
                vlat, vlng = self.get_vertex(k)
                mid_cap = mid_cap.add_point(
                    latlng_to_point(math.degrees(vlat), math.degrees(vlng)))
            if mid_cap.height < pole_cap.height:
                return mid_cap
        return pole_cap


# ---------------------------------------------------------------------------
# SimplePolygon — engine EXTENSION (SURVEY.md §1.1-12)
# ---------------------------------------------------------------------------

class SimplePolygon:
    """SIMPLE spherical polygon from (lat, lng) degree vertices, either
    winding — convex, star-shaped and concave rings alike (SURVEY §1.1
    row 12: real admin boundaries are neither convex nor star-shaped);
    the engine's one polygon type. A ring whose non-adjacent edges
    cross (a bowtie) is rejected at construction.

    Containment by crossing parity against a fixed
    reference point known to be outside (``sphere.py ::
    simple_crossing`` per edge; the parity bookkeeping of
    ``S2Loop.contains``): p is inside iff arc(o → p) crosses the
    boundary an odd number of times. Orientation-free. Exact and
    SQL-expressible (each crossing is three sign tests with
    precomputed constants), so PIP joins over it get a full DuckDB
    value-hash oracle.

    The reference point is the antipode of the vertex centroid —
    outside any polygon small enough to have a < π/2 cap bound (all
    engine fixtures; asserted non-degenerate vs every edge plane).
    """

    __slots__ = ("vertices", "ref", "_params")

    def __init__(self, latlngs):
        self.vertices = [latlng_to_point(la, ln) for (la, ln) in latlngs]
        n = len(self.vertices)
        if n < 3:
            raise ValueError("polygon needs >= 3 vertices")
        for i in range(n):  # O(n²), driver-side: rings are small
            for j in range(i + 2, n - (i == 0)):
                if simple_crossing(self.vertices[i],
                                   self.vertices[(i + 1) % n],
                                   self.vertices[j],
                                   self.vertices[(j + 1) % n]):
                    raise ValueError(f"polygon edges {i} and {j} cross; "
                                     "the ring is not simple")
        cx = sum(v[0] for v in self.vertices)
        cy = sum(v[1] for v in self.vertices)
        cz = sum(v[2] for v in self.vertices)
        c = normalize((cx, cy, cz))
        self.ref = (-c[0], -c[1], -c[2])
        params: list[float] = []
        for i in range(n):
            a = self.vertices[i]
            b = self.vertices[(i + 1) % n]
            nn = cross(a, b)
            acb = -dot(nn, self.ref)
            if abs(acb) < 1e-15:
                raise ValueError("reference point degenerate vs an edge "
                                 "plane; perturb the polygon")
            u = cross(self.ref, b)
            w = cross(a, self.ref)
            params.extend([nn[0], nn[1], nn[2], acb,
                           u[0], u[1], u[2], w[0], w[1], w[2]])
        self._params = params

    def crossing_params(self) -> list[float]:
        """10 floats per edge for the vectorized kernel + oracle SQL
        (``s2spark.kernels.regions.simplepoly_contains``)."""
        return list(self._params)

    def contains_point(self, p) -> bool:
        crossings = 0
        for t in range(0, len(self._params), 10):
            nx, ny, nz, acb, ux, uy, uz, wx, wy, wz = \
                self._params[t:t + 10]
            if (acb * (nx * p[0] + ny * p[1] + nz * p[2]) > 0.0
                    and acb * (ux * p[0] + uy * p[1] + uz * p[2]) > 0.0
                    and acb * (wx * p[0] + wy * p[1] + wz * p[2]) > 0.0):
                crossings += 1
        return crossings % 2 == 1

    def contains_latlng(self, lat_deg: float, lng_deg: float) -> bool:
        return self.contains_point(latlng_to_point(lat_deg, lng_deg))

    # --- region interface (coverer input) ----------------------------------

    def _edges(self):
        n = len(self.vertices)
        for i in range(n):
            yield self.vertices[i], self.vertices[(i + 1) % n]

    def contains(self, cell: Cell) -> bool:
        cell_v = [cell.get_vertex(k) for k in range(4)]
        if not all(self.contains_point(v) for v in cell_v):
            return False
        # a polygon vertex inside the cell means boundary intrudes
        if any(cell.contains(v) for v in self.vertices):
            return False
        for a, b in self._edges():
            for k in range(4):
                if simple_crossing(a, b, cell_v[k], cell_v[(k + 1) & 3]):
                    return False
        return True

    def may_intersect(self, cell: Cell) -> bool:
        cell_v = [cell.get_vertex(k) for k in range(4)]
        if any(self.contains_point(v) for v in cell_v):
            return True
        if any(cell.contains(v) for v in self.vertices):
            return True
        for a, b in self._edges():
            for k in range(4):
                if simple_crossing(a, b, cell_v[k], cell_v[(k + 1) & 3]):
                    return True
        return False

    def get_cap_bound(self) -> Cap:
        c = self.ref
        cap = Cap(normalize((-c[0], -c[1], -c[2])), 0.0)
        for v in self.vertices:
            cap = cap.add_point(v)
        return cap


# ---------------------------------------------------------------------------
# CellUnion (``sphere.py :: CellUnion``)
# ---------------------------------------------------------------------------

class CellUnion:
    """normalized sorted set of cell ids (python ints)."""

    __slots__ = ("ids",)

    def __init__(self, ids, normalized: bool = False):
        ids = [int(i) for i in ids]
        if normalized:
            self.ids = ids
        else:
            self.ids = self._normalize(ids)

    @staticmethod
    def _normalize(ids: list[int]) -> list[int]:
        """sort, drop contained, merge complete sibling quads
        (``CellUnion.normalize``)."""
        out: list[int] = []
        for cid in sorted(ids):
            if out and cid_contains(out[-1], cid):
                continue
            while out and cid_contains(cid, out[-1]):
                out.pop()
            while len(out) >= 3:
                if (out[-3] ^ out[-2] ^ out[-1]) != cid:
                    break
                # exact sibling test: identical bits above the 2
                # child-position bits
                mask = cid_lsb(cid) << 1
                mask = ~(mask + (mask << 1)) & ((1 << 64) - 1)
                idm = cid & mask
                if (out[-3] & mask) != idm or (out[-2] & mask) != idm \
                        or (out[-1] & mask) != idm or cid_is_face(cid):
                    break
                out.pop()
                out.pop()
                out.pop()
                cid = cid_parent(cid, cid_level(cid) - 1)
            out.append(cid)
        return out

    def __len__(self):
        return len(self.ids)

    def __iter__(self):
        return iter(self.ids)

    def contains_cellid(self, cid: int) -> bool:
        """bisect containment (``CellUnion.contains``)."""
        i = bisect_left(self.ids, cid)
        if i < len(self.ids) and cid_range_min(self.ids[i]) <= cid:
            return True
        return i > 0 and cid_range_max(self.ids[i - 1]) >= cid

    def intersects_cellid(self, cid: int) -> bool:
        i = bisect_left(self.ids, cid)
        if i < len(self.ids) and cid_range_min(self.ids[i]) <= cid_range_max(cid):
            return True
        return i > 0 and cid_range_max(self.ids[i - 1]) >= cid_range_min(cid)

    def denormalize(self, min_level: int, level_mod: int = 1) -> list[int]:
        """split cells coarser than min_level (``CellUnion.denormalize``)."""
        out = []
        for cid in self.ids:
            lvl = cid_level(cid)
            new_level = max(min_level, lvl)
            if level_mod > 1:
                new_level += (MAX_LEVEL - (new_level - min_level)) % level_mod
                new_level = min(MAX_LEVEL, new_level)
            if new_level == lvl:
                out.append(cid)
            else:
                end = cid_child_end(cid, new_level)
                c = cid_child_begin(cid, new_level)
                step = 2 * cid_lsb_for_level(new_level)
                while c != end:
                    out.append(c)
                    c += step
        return out

    @staticmethod
    def get_union(x: "CellUnion", y: "CellUnion") -> "CellUnion":
        return CellUnion(list(x.ids) + list(y.ids))

    @staticmethod
    def get_intersection(x: "CellUnion", y: "CellUnion") -> "CellUnion":
        """two-pointer range intersection (``CellUnion.get_intersection``)."""
        out = []
        i = j = 0
        xi, yj = x.ids, y.ids
        while i < len(xi) and j < len(yj):
            imin = cid_range_min(xi[i])
            jmin = cid_range_min(yj[j])
            if imin > jmin:
                if xi[i] <= cid_range_max(yj[j]):
                    out.append(xi[i])
                    i += 1
                else:
                    j += 1
            elif jmin > imin:
                if yj[j] <= cid_range_max(xi[i]):
                    out.append(yj[j])
                    j += 1
                else:
                    i += 1
            else:
                if xi[i] <= yj[j]:
                    out.append(xi[i])
                    i += 1
                else:
                    out.append(yj[j])
                    j += 1
        return CellUnion(out, normalized=True)

    def expand_level(self, level: int) -> "CellUnion":
        """add all neighbors at ``level`` (``CellUnion.expand(level)``)."""
        out = []
        level_lsb = cid_lsb_for_level(level)
        i = len(self.ids) - 1
        while i >= 0:
            cid = self.ids[i]
            if cid_lsb(cid) < level_lsb:
                cid = cid_parent(cid, level)
                while i > 0 and cid_contains(cid, self.ids[i - 1]):
                    i -= 1
            out.append(cid)
            out.extend(cid_all_neighbors(cid, cid_level(cid)))
            i -= 1
        return CellUnion(out)

    def expand_radius(self, min_radius_rad: float,
                      max_level_diff: int = 8) -> "CellUnion":
        """dilate by a radius (``CellUnion.expand(min_radius, ...)``)."""
        from s2spark.metrics import MIN_WIDTH
        min_level = MAX_LEVEL
        for cid in self.ids:
            min_level = min(min_level, cid_level(cid))
        radius_level = MIN_WIDTH.get_max_level(min_radius_rad)
        if radius_level == 0 and min_radius_rad > MIN_WIDTH.get_value(0):
            u = self.expand_level(0)
            return u.expand_level(0)
        return self.expand_level(min(min_level + max_level_diff, radius_level))

    def leaf_cells_covered(self) -> int:
        """number of level-30 leaves covered: a level-L cell covers
        4^(30-L) = lsb leaves (``CellUnion.leaf_cells_covered``)."""
        return sum(cid_lsb(cid) for cid in self.ids)

    def average_based_area(self) -> float:
        """AVG_AREA-calibrated area (``CellUnion.average_based_area``)."""
        from s2spark.metrics import AVG_AREA
        return AVG_AREA.get_value(MAX_LEVEL) * self.leaf_cells_covered()

    def exact_area(self) -> float:
        """sum of exact cell areas (``CellUnion.exact_area``)."""
        import numpy as np

        from s2spark.kernels.cellops import cell_exact_area
        if not self.ids:
            return 0.0
        return float(cell_exact_area(
            np.array(self.ids, dtype=np.uint64)).sum())
