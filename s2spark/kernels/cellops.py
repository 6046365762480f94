"""Cell-id algebra + neighbor expansion, vectorized over uint64 arrays.

Semantics: ``sphere.py :: CellId`` methods — level/lsb/parent/child/
range_min/range_max/contains/advance/to_token/from_token and the
neighbor family (get_edge_neighbors / get_vertex_neighbors /
get_all_neighbors, from_face_ij_wrap / from_face_ij_same).
SURVEY.md §2.2–§2.3.

The same bit identities exist as Spark Column expressions in
``s2spark.columns``; these numpy twins serve kernels and tests.
"""

from __future__ import annotations

import numpy as np

from s2spark.kernels.hilbert import (
    LOOKUP_BITS,
    MAX_LEVEL,
    MAX_SIZE,
    POS_BITS,
    face_uv_to_xyz,
    from_face_ij,
    st_to_uv,
    to_face_ij,
    uv_to_st,
    xyz_to_face_uv,
)

_U = np.uint64
_SIGN = 1 << 63


def _as_u64(cell_id) -> np.ndarray:
    return np.asarray(cell_id).astype(np.uint64)


def sortable_int(cell_id: int) -> int:
    """one id, given as a uint64 or as its signed int64 view -> the
    order-preserving int64 of ``columns.sortable`` (sign bit flipped,
    read signed; for a uint64 ``u`` that is ``u - 2^63``)."""
    return (int(cell_id) & (2 * _SIGN - 1)) - _SIGN


def sortable(cell_id: np.ndarray) -> np.ndarray:
    """array twin of :func:`sortable_int` over a uint64 or int64 array."""
    return (np.asarray(cell_id).view(_U) ^ _U(_SIGN)).view(np.int64)


def lsb(cell_id) -> np.ndarray:
    """lowest set bit: ``id & -id`` (``CellId.lsb``)."""
    cid = _as_u64(cell_id)
    return cid & (~cid + _U(1))


def lsb_for_level(level: int) -> int:
    """``CellId.lsb_for_level``: 1 << 2*(MAX_LEVEL - level)."""
    return 1 << (2 * (MAX_LEVEL - level))


def level(cell_id) -> np.ndarray:
    """cell level 0..30 (``CellId.level``).

    lsb is an exact power of two <= 2^60, so float64 log2 is exact.
    """
    tz = np.log2(lsb(cell_id).astype(np.float64)).astype(np.int64)
    return MAX_LEVEL - (tz >> 1)


def parent(cell_id, lvl: int) -> np.ndarray:
    """ancestor at ``lvl`` (``CellId.parent``) — the tiling op."""
    new_lsb = _U(lsb_for_level(lvl))
    cid = _as_u64(cell_id)
    return (cid & (~new_lsb + _U(1))) | new_lsb


def child_begin(cell_id, lvl: int) -> np.ndarray:
    """first descendant at ``lvl`` (``CellId.child_begin``)."""
    new_lsb = _U(lsb_for_level(lvl))
    cid = _as_u64(cell_id)
    return cid - lsb(cid) + new_lsb


def child_end(cell_id, lvl: int) -> np.ndarray:
    """one-past-last descendant at ``lvl`` (``CellId.child_end``)."""
    new_lsb = _U(lsb_for_level(lvl))
    cid = _as_u64(cell_id)
    return cid + lsb(cid) + new_lsb


def children(cell_id) -> np.ndarray:
    """(N,4) array of the 4 children (``CellId.child(0..3)``)."""
    cid = _as_u64(cell_id)
    lb = lsb(cid)
    child_lsb = lb >> _U(2)
    first = cid - lb + child_lsb  # child 0
    step = child_lsb * _U(2)
    return first[:, None] + np.arange(4, dtype=np.uint64)[None, :] * step[:, None]


def range_min(cell_id) -> np.ndarray:
    """smallest leaf id in the cell (``CellId.range_min``)."""
    cid = _as_u64(cell_id)
    return cid - (lsb(cid) - _U(1))


def range_max(cell_id) -> np.ndarray:
    """largest leaf id in the cell (``CellId.range_max``)."""
    cid = _as_u64(cell_id)
    return cid + (lsb(cid) - _U(1))


def contains(a, b) -> np.ndarray:
    """cell a contains cell b (``CellId.contains``)."""
    bu = _as_u64(b)
    return (range_min(a) <= bu) & (bu <= range_max(a))


def advance(cell_id, n) -> np.ndarray:
    """advance n positions along the Hilbert curve at this cell's level
    (``CellId.advance``, no wrap/clamp — caller keeps n in range)."""
    cid = _as_u64(cell_id)
    step = lsb(cid) * _U(2)
    return cid + (np.asarray(n).astype(np.uint64) * step)


def get_size_ij(lvl: int) -> int:
    """edge length in leaf-ij units of a level-``lvl`` cell."""
    return 1 << (MAX_LEVEL - lvl)


def is_valid(cell_id) -> np.ndarray:
    """``CellId.is_valid``: face < 6 and trailing-bit pattern present."""
    cid = _as_u64(cell_id)
    face_ok = (cid >> _U(POS_BITS)) < _U(6)
    lb = cid & (~cid + _U(1))
    lsb_ok = (lb & _U(0x1555555555555555)) != 0
    return face_ok & lsb_ok


# ---------------------------------------------------------------------------
# tokens
# ---------------------------------------------------------------------------

def to_token(cell_id) -> np.ndarray:
    """zero-stripped lowercase hex token (``CellId.to_token``)."""
    cid = _as_u64(np.atleast_1d(cell_id))
    out = np.empty(cid.shape, dtype=object)
    for idx, v in enumerate(cid):
        if v == 0:
            out[idx] = "X"
        else:
            out[idx] = format(int(v), "016x").rstrip("0")
    return out


def from_token(tokens) -> np.ndarray:
    """inverse of :func:`to_token` (``CellId.from_token``)."""
    toks = np.atleast_1d(np.asarray(tokens, dtype=object))
    out = np.empty(toks.shape, dtype=np.uint64)
    for idx, t in enumerate(toks):
        out[idx] = 0 if t in ("X", "x", "") else int(str(t).ljust(16, "0"), 16)
    return out


# ---------------------------------------------------------------------------
# neighbors (face-wrapping ij arithmetic)
# ---------------------------------------------------------------------------

def _st_to_ij_linear(s: np.ndarray) -> np.ndarray:
    return np.clip(np.floor(MAX_SIZE * s), 0, MAX_SIZE - 1).astype(np.int64)


def from_face_ij_wrap(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """leaf id for possibly off-face (i, j) (``CellId.from_face_ij_wrap``).

    Clamps (i, j) one leaf beyond the face, converts through (u, v) with
    the *linear* projection, reprojects through xyz onto the correct
    face, and re-quantizes — exactly the reference's wrap semantics.
    """
    i = np.clip(np.asarray(i, dtype=np.int64), -1, MAX_SIZE)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, MAX_SIZE)
    scale = 1.0 / MAX_SIZE
    limit = np.nextafter(1.0, 2.0)
    u = np.clip(scale * (2.0 * (i - MAX_SIZE // 2) + 1.0), -limit, limit)
    v = np.clip(scale * (2.0 * (j - MAX_SIZE // 2) + 1.0), -limit, limit)
    x, y, z = face_uv_to_xyz(np.asarray(face), u, v)
    f2, u2, v2 = xyz_to_face_uv(x, y, z)
    return from_face_ij(f2, _st_to_ij_linear(0.5 * (u2 + 1.0)),
                        _st_to_ij_linear(0.5 * (v2 + 1.0)))


def from_face_ij_same(face, i, j, same) -> np.ndarray:
    """dispatch in-range coords to the fast path, others to wrap
    (``CellId.from_face_ij_same``)."""
    face = np.asarray(face)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    same = np.asarray(same, dtype=bool)
    out = np.empty(face.shape, dtype=np.uint64)
    if same.any():
        out[same] = from_face_ij(face[same], i[same], j[same])
    nm = ~same
    if nm.any():
        out[nm] = from_face_ij_wrap(face[nm], i[nm], j[nm])
    return out


def get_edge_neighbors(cell_id, lvl: int) -> np.ndarray:
    """(N,4) edge neighbors at the cells' own level ``lvl``
    (``CellId.get_edge_neighbors``); all input ids must be at ``lvl``."""
    face, i, j, _ = to_face_ij(cell_id)
    size = get_size_ij(lvl)
    down = from_face_ij_same(face, i, j - size, j - size >= 0)
    right = from_face_ij_same(face, i + size, j, i + size < MAX_SIZE)
    up = from_face_ij_same(face, i, j + size, j + size < MAX_SIZE)
    left = from_face_ij_same(face, i - size, j, i - size >= 0)
    return parent(np.stack([down, right, up, left], axis=1), lvl)


def get_all_neighbors(cell_id, lvl: int, nbr_level: int | None = None) -> np.ndarray:
    """(N,8) Moore neighborhood (``CellId.get_all_neighbors``) for cells
    all at level ``lvl``, neighbors at ``nbr_level == lvl`` (the kNN ring-1
    case; the reference allows nbr_level >= lvl, we fix them equal so the
    output is rectangular and fully vectorized)."""
    if nbr_level is None:
        nbr_level = lvl
    assert nbr_level == lvl, "vectorized path supports nbr_level == lvl"
    face, i, j, _ = to_face_ij(cell_id)
    size = get_size_ij(lvl)
    i = i & ~(size - 1)
    j = j & ~(size - 1)
    cols = []
    # k walks -size, 0, size along one axis (nbr_size == size)
    for k in (-size, 0, size):
        if k < 0:
            same_face = (j + k) >= 0
        elif k >= size:
            same_face = (j + k) < MAX_SIZE
        else:
            same_face = np.ones(len(i), dtype=bool)
            # north and south neighbors
            cols.append(from_face_ij_same(face, i + k, j - size, j - size >= 0))
            cols.append(from_face_ij_same(face, i + k, j + size, j + size < MAX_SIZE))
        # east, west, and diagonal neighbors
        cols.append(from_face_ij_same(face, i - size, j + k,
                                      same_face & (i - size >= 0)))
        cols.append(from_face_ij_same(face, i + size, j + k,
                                      same_face & (i + size < MAX_SIZE)))
    return parent(np.stack(cols, axis=1), lvl)


def get_vertex_neighbors(cell_id, lvl: int):
    """vectorized ``CellId.get_vertex_neighbors``: the 3-4 cells at
    the COARSER level ``lvl`` touching each cell's closest vertex.
    Returns ``(nbrs, has4)``: (N,4) uint64 in the reference's order
    [parent, i-offset, j-offset, diagonal] and a (N,) bool — the
    diagonal slot is only meaningful where ``has4`` (it exists iff the
    i- or j-offset stays on the face). Semantics anchor:
    ``sphere.py :: CellId.get_vertex_neighbors`` (scalar twin:
    ``geometry.cid_vertex_neighbors``)."""
    ids = _as_u64(cell_id)
    face, i, j, _ = to_face_ij(ids)
    halfsize = get_size_ij(lvl + 1)
    size = halfsize << 1
    ihalf = (i & halfsize) != 0
    ioffset = np.where(ihalf, size, -size)
    isame = np.where(ihalf, (i + size) < MAX_SIZE, (i - size) >= 0)
    jhalf = (j & halfsize) != 0
    joffset = np.where(jhalf, size, -size)
    jsame = np.where(jhalf, (j + size) < MAX_SIZE, (j - size) >= 0)
    n0 = parent(ids, lvl)
    n1 = parent(from_face_ij_same(face, i + ioffset, j, isame), lvl)
    n2 = parent(from_face_ij_same(face, i, j + joffset, jsame), lvl)
    n3 = parent(from_face_ij_same(face, i + ioffset, j + joffset,
                                  isame & jsame), lvl)
    return np.stack([n0, n1, n2, n3], axis=1), (isame | jsame)


def ring_expand(cells: np.ndarray, lvl: int) -> np.ndarray:
    """unique union of ``cells`` and their Moore neighborhoods at ``lvl``
    — one Moore ring of a kNN candidate disk (semantics = repeated
    ``CellId.get_all_neighbors``; SURVEY.md §2.3)."""
    nbrs = get_all_neighbors(cells, lvl)
    return np.unique(np.concatenate([cells, nbrs.ravel()]))


def disk_expand_owned(owner: np.ndarray, cells: np.ndarray, lvl: int,
                      steps: int):
    """``steps`` Moore-ring expansions of many PER-OWNER cell sets in
    one vectorized pass (the kNN candidate disks, VERDICT r3
    item 1): input parallel arrays (owner int64, cell uint64); output
    the per-owner unique union of the cells and every cell within
    Chebyshev distance <= ``steps`` of them, as sorted-by-owner
    parallel arrays. Semantics = ``steps`` repeated
    ``CellId.get_all_neighbors`` per owner (``ring_expand`` with an
    ownership axis) — one numpy dedupe per step bounds growth at
    O(perimeter), no per-row Python."""
    owner = np.asarray(owner, dtype=np.int64)
    cells = _as_u64(cells)
    for _ in range(int(steps)):
        nb = get_all_neighbors(cells, lvl)          # (N, 8) uint64
        owner = np.concatenate([owner, np.repeat(owner, 8)])
        cells = np.concatenate([cells, nb.ravel()])
        pair = np.stack([owner.view(np.uint64), cells], axis=1)
        pair = np.unique(pair, axis=0)
        owner = pair[:, 0].view(np.int64)
        cells = pair[:, 1].copy()
    return owner, cells


# ---------------------------------------------------------------------------
# cell geometry (uv bound, vertices) — needed by region predicates/coverer
# ---------------------------------------------------------------------------

def cell_uv_bounds(cell_id):
    """(u_lo, u_hi, v_lo, v_hi) of each cell (``Cell`` uv rectangle)."""
    cid = _as_u64(cell_id)
    face, i, j, _ = to_face_ij(cid)
    lvl = level(cid)
    size = (np.int64(1) << (MAX_LEVEL - lvl)).astype(np.int64)
    i_lo = i & ~(size - 1)
    j_lo = j & ~(size - 1)
    u_lo = st_to_uv(i_lo * (1.0 / MAX_SIZE))
    u_hi = st_to_uv((i_lo + size) * (1.0 / MAX_SIZE))
    v_lo = st_to_uv(j_lo * (1.0 / MAX_SIZE))
    v_hi = st_to_uv((j_lo + size) * (1.0 / MAX_SIZE))
    return face, u_lo, u_hi, v_lo, v_hi


def cell_vertices_xyz(cell_id):
    """(N,4,3) unnormalized CCW vertex xyz of each cell (``Cell.get_vertex``
    order: (u_lo,v_lo),(u_hi,v_lo),(u_hi,v_hi),(u_lo,v_hi))."""
    face, u_lo, u_hi, v_lo, v_hi = cell_uv_bounds(cell_id)
    us = (u_lo, u_hi, u_hi, u_lo)
    vs = (v_lo, v_lo, v_hi, v_hi)
    n = len(np.atleast_1d(face))
    out = np.empty((n, 4, 3), dtype=np.float64)
    for k in range(4):
        x, y, z = face_uv_to_xyz(face, us[k], vs[k])
        out[:, k, 0] = x
        out[:, k, 1] = y
        out[:, k, 2] = z
    return out


# ---------------------------------------------------------------------------
# spherical areas (``sphere.py :: Cell.exact_area/approx_area/
# average_area``, ``girard_area``/``area`` free functions — SURVEY §2.4)
# ---------------------------------------------------------------------------

def triangle_area(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    """spherical triangle area via the numerically stable L'Huilier
    form (``sphere.py :: area(a, b, c)``); inputs (N,3) unit vectors."""
    def ang(u, v):
        d = u - v
        s = np.sqrt((d * d).sum(axis=1))
        return 2.0 * np.arcsin(np.clip(0.5 * s, 0.0, 1.0))

    sa = ang(b, c)
    sb = ang(c, a)
    sc = ang(a, b)
    s = 0.5 * (sa + sb + sc)
    t = (np.tan(0.5 * s) * np.tan(0.5 * (s - sa))
         * np.tan(0.5 * (s - sb)) * np.tan(0.5 * (s - sc)))
    return 4.0 * np.arctan(np.sqrt(np.maximum(t, 0.0)))


def cell_exact_area(cell_id) -> np.ndarray:
    """exact cell area in steradians: the two vertex triangles
    (``Cell.exact_area``)."""
    v = cell_vertices_xyz(cell_id)
    norm = np.sqrt((v * v).sum(axis=2, keepdims=True))
    v = v / norm
    return (triangle_area(v[:, 0], v[:, 1], v[:, 2])
            + triangle_area(v[:, 0], v[:, 2], v[:, 3]))


def cell_average_area(lvl: int) -> float:
    """constant average area at a level (``Cell.average_area``)."""
    from s2spark.metrics import AVG_AREA
    return AVG_AREA.get_value(lvl)
