"""RegionCoverer — best-first search producing cell coverings.

Semantics: ``sphere.py :: RegionCoverer`` (get_covering /
get_interior_covering / defaults min_level=0, max_level=30,
max_cells=8, level_mod=1; SURVEY.md §2.6). Regions are any object with
the region interface: ``get_cap_bound()``, ``may_intersect(cell)``,
``contains(cell)`` (``s2spark.geometry`` Cap / LatLngRect /
SimplePolygon / Cell / CellUnion-adapters).

Runs driver-side per region (broadcast afterwards) or inside
``applyInPandas`` for large region tables — never per point.
"""

from __future__ import annotations

import heapq
from itertools import count

from s2spark import metrics
from s2spark.geometry import (
    Cell,
    CellUnion,
    cid_from_face,
    cid_from_point,
    cid_level,
    cid_vertex_neighbors,
)

MAX_LEVEL = 30


class _Candidate:
    __slots__ = ("cell", "is_terminal", "children", "num_terminals")

    def __init__(self, cell: Cell):
        self.cell = cell
        self.is_terminal = False
        self.children: list[_Candidate] = []
        self.num_terminals = 0


class RegionCoverer:
    """``RegionCoverer`` with the reference's defaults and priority."""

    def __init__(self, min_level: int = 0, max_level: int = MAX_LEVEL,
                 max_cells: int = 8, level_mod: int = 1):
        assert 0 <= min_level <= max_level <= MAX_LEVEL
        assert 1 <= level_mod <= 3
        self.min_level = min_level
        self.max_level = max_level
        self.max_cells = max_cells
        self.level_mod = level_mod

    # --- public API -------------------------------------------------------

    def get_covering(self, region) -> CellUnion:
        """cells whose union covers the region (``get_covering``)."""
        return CellUnion(self._get_covering_internal(region, interior=False))

    def get_interior_covering(self, region) -> CellUnion:
        """cells fully contained in the region
        (``get_interior_covering``)."""
        return CellUnion(self._get_covering_internal(region, interior=True))

    # --- internals ----------------------------------------------------------

    def _max_children_shift(self) -> int:
        return 2 * self.level_mod

    def _new_candidate(self, region, cell: Cell, interior: bool):
        if not region.may_intersect(cell):
            return None
        cand = _Candidate(cell)
        if cell.level >= self.min_level:
            if interior:
                if region.contains(cell):
                    cand.is_terminal = True
                elif cell.level + self.level_mod > self.max_level:
                    return None
            else:
                if cell.level + self.level_mod > self.max_level \
                        or region.contains(cell):
                    cand.is_terminal = True
        return cand

    def _expand_children(self, region, candidate: _Candidate, cell: Cell,
                         num_levels: int, interior: bool) -> int:
        """subdivide ``num_levels`` deep, attaching surviving candidates
        (``RegionCoverer._expand_children``)."""
        num_levels -= 1
        num_terminals = 0
        for child_cell in cell.subdivide():
            if num_levels > 0:
                if region.may_intersect(child_cell):
                    num_terminals += self._expand_children(
                        region, candidate, child_cell, num_levels, interior)
                continue
            child = self._new_candidate(region, child_cell, interior)
            if child is not None:
                candidate.children.append(child)
                if child.is_terminal:
                    num_terminals += 1
        return num_terminals

    def _add_candidate(self, region, candidate, pq, result, tiebreak,
                       interior: bool) -> None:
        if candidate is None:
            return
        if candidate.is_terminal:
            result.append(candidate.cell.cid)
            return
        # expand one level at a time below min_level so it isn't skipped
        num_levels = 1 if candidate.cell.level < self.min_level \
            else self.level_mod
        num_terminals = self._expand_children(region, candidate,
                                              candidate.cell, num_levels,
                                              interior)
        if not candidate.children:
            return
        if (not interior
                and num_terminals == 1 << self._max_children_shift()
                and candidate.cell.level >= self.min_level):
            # all children terminal: emit the parent instead
            candidate.is_terminal = True
            result.append(candidate.cell.cid)
            return
        # priority: prefer coarse cells, then fewer children, then
        # fewer terminal children (the reference's exact ordering)
        shift = self._max_children_shift()
        priority = ((((candidate.cell.level << shift)
                      + len(candidate.children)) << shift)
                    + num_terminals)
        candidate.num_terminals = num_terminals
        heapq.heappush(pq, (priority, next(tiebreak), candidate))

    def _initial_candidates(self, region, pq, result, tiebreak,
                            interior: bool) -> None:
        """``_get_initial_candidates``: a 4-cell seed from the bounding
        cap when possible, else the 6 faces."""
        if self.max_cells >= 4:
            cap = region.get_cap_bound()
            level = min(metrics.MIN_WIDTH.get_max_level(2 * cap.angle()),
                        min(self.max_level, MAX_LEVEL - 1))
            if self.level_mod > 1 and level > self.min_level:
                level -= (level - self.min_level) % self.level_mod
            if level > 0:
                cid = cid_from_point(cap.axis)
                for base in cid_vertex_neighbors(cid, level):
                    self._add_candidate(
                        region, self._new_candidate(region, Cell(base),
                                                    interior),
                        pq, result, tiebreak, interior)
                return
        for face in range(6):
            self._add_candidate(
                region,
                self._new_candidate(region, Cell(cid_from_face(face)),
                                    interior),
                pq, result, tiebreak, interior)

    def _get_covering_internal(self, region, interior: bool) -> list[int]:
        pq: list = []
        result: list[int] = []
        tiebreak = count()
        self._initial_candidates(region, pq, result, tiebreak, interior)
        while pq and (not interior or len(result) < self.max_cells):
            _, _, candidate = heapq.heappop(pq)
            # subdivision gate (reference semantics): exterior coverings
            # must fit every child plus the REMAINING QUEUE within the
            # budget (each queued candidate will emit >= 1 cell), else
            # the candidate itself becomes a covering cell; interior
            # coverings only count emitted results (queued candidates
            # may legally emit nothing) and DROP a candidate that
            # doesn't fit — emitting it would break the ⊆ invariant
            budget_used = len(result) + (0 if interior else len(pq))
            if (candidate.cell.level < self.min_level
                    or len(candidate.children) == 1
                    or (budget_used + len(candidate.children)
                        <= self.max_cells)):
                for child in candidate.children:
                    self._add_candidate(region, child, pq, result, tiebreak,
                                        interior)
            elif not interior:
                candidate.is_terminal = True
                result.append(candidate.cell.cid)
            # else: interior candidate over budget — dropped
        return result


def get_simple_covering(region, start_latlng, level: int,
                        max_cells: int = 10_000) -> list[int]:
    """flood-fill covering at a fixed level from a seed point
    (``sphere.py :: get_simple_covering / _flood_fill``)."""
    from s2spark.geometry import (
        cid_all_neighbors,
        cid_from_lat_lng,
        cid_parent,
    )
    start = cid_parent(cid_from_lat_lng(*start_latlng), level)
    frontier = [start]
    seen = {start}
    out = []
    while frontier and len(out) < max_cells:
        cid = frontier.pop()
        if not region.may_intersect(Cell(cid)):
            continue
        out.append(cid)
        for nbr in cid_all_neighbors(cid, level):
            if nbr not in seen:
                seen.add(nbr)
                frontier.append(nbr)
    return sorted(out)
