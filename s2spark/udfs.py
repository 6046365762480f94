"""Arrow-batched pandas UDFs wrapping the numpy kernels.

The only JVM→Python crossings in the engine (SURVEY.md §3.1): encode,
decode, neighbor expansion, and exact-verify predicates. Each is a
scalar pandas UDF — one Arrow batch in, one numpy kernel call, one
Arrow batch out; no per-row Python anywhere (BASELINE.json north_star).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from s2spark.kernels import cellops, hilbert


def _u64_to_i64(a: np.ndarray) -> np.ndarray:
    return a.view(np.int64) if a.dtype == np.uint64 else a.astype(np.int64)


@F.pandas_udf(LongType())
def s2_cell_id(lat: pd.Series, lng: pd.Series) -> pd.Series:
    """leaf (level-30) cell id from degrees (``CellId.from_lat_lng``)."""
    ids = hilbert.lat_lng_to_cell_id(lat.to_numpy(np.float64),
                                     lng.to_numpy(np.float64))
    return pd.Series(_u64_to_i64(ids))


@F.pandas_udf(StructType([StructField("lat", DoubleType()),
                          StructField("lng", DoubleType())]))
def s2_to_lat_lng(cell_id: pd.Series) -> pd.DataFrame:
    """cell center in degrees (``CellId.to_lat_lng``)."""
    lat, lng = hilbert.cell_id_to_lat_lng(
        cell_id.to_numpy(np.int64).view(np.uint64))
    return pd.DataFrame({"lat": lat, "lng": lng})


def s2_neighbors_udf(lvl: int):
    """UDF factory: array of the 8 Moore neighbors at level ``lvl``
    (``CellId.get_all_neighbors``). Input ids must be at ``lvl``."""

    @F.pandas_udf(ArrayType(LongType()))
    def _nbrs(cell_id: pd.Series) -> pd.Series:
        ids = cell_id.to_numpy(np.int64).view(np.uint64)
        nb = cellops.get_all_neighbors(ids, lvl)  # (N, 8) uint64
        nb_i64 = nb.view(np.int64)
        return pd.Series(list(nb_i64))

    return _nbrs


def s2_disk_expand_var_udf(lvl: int):
    """UDF factory: expand each row's ARRAY of level-``lvl`` cell ids
    by a PER-ROW ring count (``steps`` column) into the covering disk —
    the kNN candidate disks: a literal count for the opening disk, each
    straggler's own proven or escalation radius in pass 2. Rows are
    grouped by their step value so each distinct count pays one
    vectorized ``cellops.disk_expand_owned`` pass (neighbors + dedupe
    per ring); the result splits back per row — no per-row Python in
    the expansion itself."""

    @F.pandas_udf(ArrayType(LongType()))
    def _disk(tiles: pd.Series, steps: pd.Series) -> pd.Series:
        res: list = [None] * len(tiles)
        st = steps.to_numpy(np.int64)
        for s in np.unique(st):
            idx = np.nonzero(st == s)[0]
            sub = tiles.iloc[idx]
            lens = np.fromiter((len(t) for t in sub), dtype=np.int64,
                               count=len(idx))
            if lens.sum() == 0:
                for i in idx:
                    res[i] = []
                continue
            owner = np.repeat(np.arange(len(idx), dtype=np.int64), lens)
            cells = np.concatenate([np.asarray(t, dtype=np.int64)
                                    for t in sub]).view(np.uint64)
            owner, cells = cellops.disk_expand_owned(owner, cells, lvl,
                                                     int(s))
            bounds = np.searchsorted(owner, np.arange(1, len(idx)))
            for i, chunk in zip(idx,
                                np.split(cells.view(np.int64), bounds)):
                res[i] = chunk.tolist()
        return pd.Series(res)

    return _disk


def s2_vertex_neighbors_udf(lvl: int):
    """UDF factory: array of the 3-4 vertex neighbors at the coarser
    level ``lvl`` (``CellId.get_vertex_neighbors``) — reference order
    [parent, i-offset, j-offset(, diagonal)]."""

    @F.pandas_udf(ArrayType(LongType()))
    def _vn(cell_id: pd.Series) -> pd.Series:
        ids = cell_id.to_numpy(np.int64).view(np.uint64)
        nb, has4 = cellops.get_vertex_neighbors(ids, lvl)
        nb_i64 = nb.view(np.int64)
        return pd.Series([row[:3 + int(v)].tolist()
                          for row, v in zip(nb_i64, has4)])

    return _vn
