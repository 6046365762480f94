"""Spatial join strategies (SURVEY.md §2.5) — the heart of the engine.

The reference expresses containment as scalar predicates
(``CellUnion.contains``, ``Cap/LatLngRect.contains``); here each
becomes a distributed join over covering cells with an exact verify
stage:

- :func:`pip_join_broadcast` — zero-shuffle map-side join: the covering
  intervals (all regions) are compiled into a CSR stabbing index
  (``kernels.regions.IntervalIndex``) captured by a ``mapInPandas``
  closure; each Arrow batch of points does searchsorted + gather +
  vectorized exact verify. The Spark form of the reference's
  sorted-id bisect, amortized over batches.
- :func:`pip_join_bucketed` — Catalyst-native equi-join on the
  level-:data:`BUCKET_LEVEL` cell-id prefix: scalar encode UDF, bucket
  bit math, hash join + BETWEEN filter, then a scalar exact-verify UDF
  (two Python crossings). With ``broadcast_covering=False`` it is the
  shuffle arm: a sort-merge join hash-partitioned on the bucket, whose
  hot-city partitions AQE's skew-join rule splits from the actual
  shuffle sizes.
- :func:`pip_join` — the router: the stab while the covering fits in
  memory, else the sort-merge bucket join.

Both arms return identical (region_id, point_id) sets; the tests
assert it and the DuckDB oracle checks each against brute-force exact
geometry. On 4 CPUs the stab ran the flagship about 2x faster than the
bucketed hash join, whose level-8 bucket probe emitted ~3x the rows the
BETWEEN filter kept.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StructField,
    StructType,
)

from s2spark import columns as CC
from s2spark import metrics
from s2spark.coverer import RegionCoverer
from s2spark.geometry import (
    Cell,
    CellUnion,
    cid_child_begin,
    cid_child_end,
    cid_level,
    cid_lsb_for_level,
    cid_parent,
    cid_range_max,
    cid_range_min,
)
from s2spark.kernels import cellops, hilbert
from s2spark.kernels import regions as RK
from s2spark.kernels.cellops import sortable, sortable_int

SIGN = 1 << 63
BUCKET_LEVEL = 8  # cell-id prefix level both bucket-join sides key on
# above this many covering rows (the stab index's size) the router
# leaves the map-side stab for the sort-merge bucket join
BROADCAST_COVERING_LIMIT = 5_000_000
# a point's 1° grid key (kernels.regions.covering_grid_keys): NULL for
# a null or NaN coordinate, -1 (always kept) off the lat/lng grid
GRID_KEY_SQL = (
    "CASE WHEN lat IS NULL OR lng IS NULL OR isnan(lat) OR isnan(lng) "
    "THEN NULL "
    "WHEN lat < -90.0 OR lat > 90.0 OR lng < -180.0 OR lng > 180.0 THEN -1 "
    f"ELSE CAST(LEAST(FLOOR(lat + 90.0), {RK.GRID_ROWS - 1}) * {RK.GRID_COLS}"
    f" + LEAST(FLOOR(lng + 180.0), {RK.GRID_COLS - 1}) AS INT) END")


# ---------------------------------------------------------------------------
# covering construction
# ---------------------------------------------------------------------------

def compute_coverings(regions: dict[int, object],
                      max_cells: int = 256) -> list[tuple]:
    """(region_id, cell_id, interior) rows for every covering cell.

    ``interior`` is exact (``region.contains(cell)``): matches on
    interior cells skip the verify stage (the reference's
    interior-covering optimization, SURVEY.md §2.6). A larger
    max_cells budget tightens boundaries — fewer exact verifies per
    matched row — while the exploded covering stays broadcastable.
    """
    coverer = RegionCoverer(max_cells=max_cells)
    rows = []
    for rid, region in regions.items():
        for cid in coverer.get_covering(region).ids:
            rows.append((rid, cid, region.contains(Cell(cid))))
    return rows


def _covering_cells(covering_rows: list[tuple]) -> np.ndarray:
    """the rows' cell ids (uint64 or their signed view) as uint64."""
    cids = np.array([cid for _, cid, _ in covering_rows], dtype=object)
    return (cids & ((1 << 64) - 1)).astype(np.uint64)


def build_interval_index(covering_rows: list[tuple]) -> RK.IntervalIndex:
    """covering rows -> CSR stabbing index over sortable leaf ranges."""
    cid = _covering_cells(covering_rows)
    return RK.IntervalIndex(sortable(cellops.range_min(cid)),
                            sortable(cellops.range_max(cid)),
                            [rid for rid, _, _ in covering_rows],
                            [i for _, _, i in covering_rows])


_COVDF_CACHE: dict = {}


def coverings_df(spark: SparkSession, covering_rows: list[tuple],
                 bucket_level: int = BUCKET_LEVEL) -> DataFrame:
    """covering rows -> DataFrame keyed by cell-id bucket for
    :func:`pip_join_bucketed`: (region_id, cell_id, range_min_s,
    range_max_s, interior, bucket). Cells coarser than the bucket
    level are exploded into their bucket-level descendants.

    Memoized per (session, rows content, level) — r6: the ~24k-row
    bucket explosion plus createDataFrame's row-by-row pickling cost
    ~0.3s per CALL inside every PIP query; the covering is a pure
    function of fixture constants, so repeat calls in one process
    reuse the same local-relation DataFrame (the _COV_CACHE
    precedent — a side-input constant, not a result)."""
    # applicationId, not id(sc): a stopped context's id() can be
    # reused by a later session in the same process, and handing that
    # session a dead DataFrame would crash — appIds are per-app unique
    key = (spark.sparkContext.applicationId, bucket_level,
           hash(tuple(covering_rows)))
    hit = _COVDF_CACHE.get(key)
    if hit is not None:
        return hit
    out = []
    for rid, cid, interior in covering_rows:
        rmin_s = sortable_int(cid_range_min(cid))
        rmax_s = sortable_int(cid_range_max(cid))
        cid_s = (cid ^ SIGN) - SIGN if cid & SIGN else cid
        if cid_level(cid) >= bucket_level:
            buckets = [cid_parent(cid, bucket_level)]
        else:
            step = 2 * cid_lsb_for_level(bucket_level)
            b = cid_child_begin(cid, bucket_level)
            end = cid_child_end(cid, bucket_level)
            buckets = []
            while b != end:
                buckets.append(b)
                b += step
        for b in buckets:
            b_s = (b ^ SIGN) - SIGN if b & SIGN else b
            out.append((rid, cid_s, rmin_s, rmax_s, bool(interior), b_s))
    schema = ("region_id long, cell_id long, range_min_s long, "
              "range_max_s long, interior boolean, bucket long")
    df = spark.createDataFrame(out, schema)
    _COVDF_CACHE[key] = df
    return df


# ---------------------------------------------------------------------------
# exact verify (shared by all variants)
# ---------------------------------------------------------------------------

def verify_matches(lat: np.ndarray, lng: np.ndarray,
                   region_ids: np.ndarray,
                   params_by_region: dict[int, tuple[str, list[float]]]
                   ) -> np.ndarray:
    """vectorized exact containment for candidate (point, region) rows,
    grouped by region (<= a few dozen kernel calls per batch)."""
    ok = np.zeros(len(lat), dtype=bool)
    for rid in np.unique(region_ids):
        m = region_ids == rid
        kind, params = params_by_region[int(rid)]
        if kind == "cap":
            ok[m] = RK.cap_contains(lat[m], lng[m], *params)
        elif kind == "rect":
            ok[m] = RK.rect_contains(lat[m], lng[m], *params)
        elif kind == "spoly":
            ok[m] = RK.simplepoly_contains(lat[m], lng[m], params)
        else:
            raise ValueError(f"region {int(rid)}: unknown kind {kind!r}")
    return ok


def make_verify_udf(params_by_region: dict[int, tuple[str, list[float]]],
                    with_interior: bool = True):
    """pandas UDF (region_id, lat, lng, interior) -> contained.

    Exact verify for the bucket join; params ride in the closure. Rows
    flagged as interior-cell hits are accepted without exact-geometry
    work (kernel-level mask). ``with_interior=False`` is rejected."""
    if not with_interior:
        raise ValueError("make_verify_udf takes the interior column")

    @F.pandas_udf(BooleanType())
    def _verify_i(region_id: pd.Series, lat: pd.Series, lng: pd.Series,
                  interior: pd.Series) -> pd.Series:
        ok = interior.to_numpy(bool).copy()
        b = ~ok
        if b.any():
            ok[b] = verify_matches(lat.to_numpy(np.float64)[b],
                                   lng.to_numpy(np.float64)[b],
                                   region_id.to_numpy(np.int64)[b],
                                   params_by_region)
        return pd.Series(ok)

    return _verify_i


# ---------------------------------------------------------------------------
# variant (a): broadcast interval-stab join (zero shuffle)
# ---------------------------------------------------------------------------

def _stab_hits(lat: np.ndarray, lng: np.ndarray, index: RK.IntervalIndex,
               params_by_region: dict[int, tuple[str, list[float]]]):
    """encode + interval stab + exact verify over one batch: the leaf
    ids, and the (row, region_id) pairs whose containment holds. A row
    with a non-finite coordinate is in no region."""
    leaf = hilbert.lat_lng_to_cell_id(lat, lng)
    rows, rids, interior = index.stab(sortable(leaf))
    finite = np.isfinite(lat) & np.isfinite(lng)
    if not finite.all():  # a NaN encodes to a real leaf: mask its hits
        hit = finite[rows]
        rows, rids, interior = rows[hit], rids[hit], interior[hit]
    keep = interior.copy()
    boundary = ~interior
    if boundary.any():
        keep[boundary] = verify_matches(
            lat[rows[boundary]], lng[rows[boundary]],
            rids[boundary], params_by_region)
    return leaf, rows[keep], rids[keep]


def pip_join_broadcast(points: DataFrame,
                       covering_rows: list[tuple],
                       params_by_region: dict[int, tuple[str, list[float]]],
                       extra_cols: tuple[str, ...] = (),
                       emit_cell_id: bool = False) -> DataFrame:
    """point-in-region join, map-side: encode + stab + verify fused in
    one ``mapInPandas`` pass. Output: (region_id, point_id,
    *extra_cols[, cell_id]).

    ``points`` needs (point_id, lat, lng). Scales linearly in points
    with NO shuffle. The interval index rides in the task closure, not
    a Spark broadcast: it is pickled with every task (146 KiB for the
    flagship's 3,319-cell covering), so the covering side is bounded by
    driver memory and task size. ``emit_cell_id`` passes the leaf id
    computed in-kernel through, so downstream tiling needs no second
    encode pass. A broadcast 1° grid semi-join (:func:`_near_covering`)
    ahead of the pass keeps only the points near some covering cell.
    """
    index = build_interval_index(covering_rows)
    fields = ([StructField("region_id", LongType()),
               StructField("point_id", LongType())]
              + [points.schema[c] for c in extra_cols])
    if emit_cell_id:
        fields.append(StructField("cell_id", LongType()))
    out_schema = StructType(fields)

    def _map(batches):
        for pdf in batches:
            lat = pdf["lat"].to_numpy(np.float64)
            lng = pdf["lng"].to_numpy(np.float64)
            leaf, rows, rids = _stab_hits(lat, lng, index, params_by_region)
            if len(rids) == 0:
                continue
            out = {"region_id": rids,
                   "point_id": pdf["point_id"].to_numpy(np.int64)[rows]}
            for c in extra_cols:
                out[c] = pdf[c].to_numpy()[rows]
            if emit_cell_id:
                out["cell_id"] = leaf.view(np.int64)[rows]
            yield pd.DataFrame(out)

    return _near_covering(points, covering_rows) \
        .mapInPandas(_map, out_schema)


def _near_covering(points: DataFrame,
                   covering_rows: list[tuple]) -> DataFrame:
    """the rows of ``points`` whose 1° grid square touches some covering
    cell's lat/lng bound, or whose coordinates lie off the grid: a
    broadcast left-semi join on an int key that runs in the scan's
    codegen stage, so the rows no covering cell is near never cross
    into Python. It drops only rows the stab would emit nothing for."""
    keys = RK.covering_grid_keys(_covering_cells(covering_rows))
    grid = points.sparkSession.createDataFrame(pa.table({"_grid_key": keys}))
    return points.join(F.broadcast(grid),
                       F.expr(GRID_KEY_SQL) == grid["_grid_key"], "left_semi")


# ---------------------------------------------------------------------------
# variant (b): bucket equi-join on the cell-id prefix
# ---------------------------------------------------------------------------

def with_cell_id(points: DataFrame) -> DataFrame:
    """encode once; downstream stays JVM-side bit math."""
    from s2spark.udfs import s2_cell_id
    return points.withColumn("cell_id", s2_cell_id("lat", "lng"))


def pip_join_bucketed(points: DataFrame, cov_df: DataFrame,
                      params_by_region: dict[int, tuple[str, list[float]]],
                      broadcast_covering: bool = True) -> DataFrame:
    """point-in-region as a Catalyst-native bucket equi-join. Output:
    (region_id, point_id).

    One scalar-UDF encode pass (narrow columns through Arrow), then
    JVM-side bucket prefix via codegen bit math, an equi-join against
    the bucket-exploded covering table with a BETWEEN range filter,
    and the exact-verify scalar UDF only on non-interior candidates.

    ``broadcast_covering`` picks the join: a broadcast hash join, or a
    sort-merge join hash-partitioned on the bucket (the ``merge`` hint
    also keeps AQE from demoting it to a broadcast). A hot city's
    bucket partition is then split by AQE's skew-join rule, which
    copies the covering slice it joins against — from the actual
    shuffle sizes, with no sample pass.

    ``cov_df`` must be built at :data:`BUCKET_LEVEL`
    (:func:`coverings_df`'s default).
    """
    pts = points if "cell_id" in points.columns else with_cell_id(points)
    pts = pts.withColumn("_bucket", CC.parent("cell_id", BUCKET_LEVEL)) \
             .withColumn("_leaf_s", CC.sortable("cell_id"))
    cov = F.broadcast(cov_df) if broadcast_covering else cov_df.hint("merge")
    joined = pts.join(
        cov, (pts["_bucket"] == cov["bucket"])
        & pts["_leaf_s"].between(cov["range_min_s"], cov["range_max_s"]),
        "inner")
    # single filter pass; the kernel skips exact-geometry work for
    # interior-cell hits (the reference's interior-covering
    # optimization) — branching in the plan would re-evaluate the
    # whole join+encode subtree per branch
    verify = make_verify_udf(params_by_region)
    accepted = joined.where(
        verify("region_id", "lat", "lng", "interior"))
    return accepted.select(F.col("region_id"), pts["point_id"])


def pip_join(points: DataFrame, covering_rows: list[tuple],
             params_by_region: dict[int, tuple[str, list[float]]]
             ) -> DataFrame:
    """point-in-region with the arm chosen by covering size: the
    map-side stab while its index (one entry per covering row) fits
    under :data:`BROADCAST_COVERING_LIMIT`, else the sort-merge bucket
    join. Output: (region_id, point_id)."""
    if len(covering_rows) <= BROADCAST_COVERING_LIMIT:
        return pip_join_broadcast(points, covering_rows, params_by_region)
    cov_df = coverings_df(points.sparkSession, covering_rows)
    return pip_join_bucketed(points, cov_df, params_by_region,
                             broadcast_covering=False)


def pip_anti(points: DataFrame, covering_rows: list[tuple],
             params_by_region: dict[int, tuple[str, list[float]]]
             ) -> DataFrame:
    """LEFT ANTI form: the rows of ``points`` contained in NO region.
    One ``mapInPandas`` pass (the stab of :func:`pip_join_broadcast`)
    that keeps each input row with no verified hit, so every row is
    judged on its own coordinates, even when rows share a point_id."""
    index = build_interval_index(covering_rows)

    def _map(batches):
        for pdf in batches:
            _, rows, _ = _stab_hits(pdf["lat"].to_numpy(np.float64),
                                    pdf["lng"].to_numpy(np.float64),
                                    index, params_by_region)
            miss = np.ones(len(pdf), dtype=bool)
            miss[rows] = False
            yield pdf[miss]

    return points.mapInPandas(_map, points.schema)


def cell_containment_join(cells: DataFrame, container: DataFrame,
                          container_levels: list[int] | None = None
                          ) -> DataFrame:
    """rows of ``cells`` whose cell_id is contained in ANY cell of
    ``container`` — the distributed ``CellUnion.contains`` /
    covering∩covering primitive (SURVEY §2.5 cell-interval joins,
    §2.7 intersection).

    S2 cells are nested-or-disjoint, so containment is pure equality
    after snapping: cell a ⊆ cell b  ⇔  parent(a, level(b)) == b.
    The join is a UNION of plain hash equi-joins, one per distinct
    container level (bounded by 31) — no range join, no nested loop,
    scales like any equi-join and broadcasts when small.

    Multiplicity: with a NORMALIZED container set (disjoint cells, the
    CellUnion invariant) each contained cell matches exactly one level.
    For arbitrary containers holding nested cells at several levels, a
    cell could match more than one union arm, so the union dedupes
    across arms (``distinct``) to keep "contained in ANY"
    set semantics; callers needing input multiplicity must pass
    normalized containers. ``container_levels=None`` triggers a small
    driver collect of the distinct levels (bounded ≤ 31) — pass it
    explicitly on the hot path.
    """
    if container_levels is None:
        container_levels = [r["lvl"] for r in container.select(
            CC.level("cell_id").alias("lvl")).distinct().collect()]
    out = None
    for lvl in sorted(container_levels):
        side = container.where(CC.level("cell_id") == lvl) \
            .select(F.col("cell_id").alias("_container"))
        snapped = cells.where(CC.level("cell_id") >= lvl).join(
            F.broadcast(side),
            CC.parent(cells["cell_id"], lvl) == F.col("_container"),
            "left_semi")
        out = snapped if out is None else out.unionAll(snapped)
    if out is None:
        return cells.limit(0)
    if len(container_levels) > 1:
        out = out.distinct()
    return out


# ---------------------------------------------------------------------------
# kNN via certified covering disks (SURVEY.md §2.3 / §2.5 row kNN)
# ---------------------------------------------------------------------------

FB_RING_CAP = 32   # max rings a pass-2 disk may span ((2·32+1)² ≈ 4.2k
#                    tiles per query); wider proven bounds escalate, and
#                    what still fails to certify is brute-forced

LAST_KNN_FALLBACK: dict | None = None   # pass-2 arms of the most recent
#                    knn_join_df call, for tests: reset to None on entry
#                    and set only by the pass-2 probe when pass 1 left
#                    stragglers. "bounded": some straggler had a proven
#                    k-th bound; "unbounded": some straggler took the
#                    brute-force arm. Read from the probe the pass already
#                    runs — no extra Spark job


def knn_auto_level(n_points: int, k_max: int) -> int:
    """ring level from global density: aim for ~k_max/2 points per
    cell. Exactness never depends on the level — only work does: the
    pass-1 over-fetch is |disk| ≈ 9·ppt candidates per query, so a
    FINER grid (fewer points per tile, a few more pass-2 stragglers)
    beats a coarse one — measured at 600k pts / 9.8k queries / k=3:
    level 6 (ppt≈35) 19.6 s, level 7 12.0 s, level 8 (ppt≈2.4) 9.2 s.
    Candidate volume is what costs."""
    density = max(n_points, 1) / (4.0 * np.pi)  # points per steradian
    target_area = max(k_max, 1) / 2.0 / density
    return max(2, min(18, metrics.AVG_AREA.get_max_level(target_area)))


def knn_join(spark: SparkSession, points: DataFrame,
             queries: list[tuple[int, float, float, int]],
             level: int | None = 6) -> DataFrame:
    """exact k nearest points per query — small-list convenience API.

    Thin shim over :func:`knn_join_df`: the query list becomes a
    4-column DataFrame (query_id, lat, lng, k) and the DataFrame path
    ranks it, honoring the per-query ``k`` column. Output: (query_id,
    point_id, rnk) with (dist2, point_id) ties.
    """
    if level is None:
        level = knn_auto_level(points.count(),
                               max(k for _, _, _, k in queries))
    q = spark.createDataFrame(
        [(int(qid), float(la), float(ln), int(k))
         for qid, la, ln, k in queries],
        "query_id long, lat double, lng double, k int")
    # a small query set pays driver latency, not candidate volume: open
    # with 3 rings so pass 1 usually certifies every query (r5 measured
    # 3 rings faster than 1 even at 6k queries x 600k points)
    return knn_join_df(points, q, level=level, init_rings=3)


def knn_join_df(points: DataFrame, queries: DataFrame,
                level: int | None = 6, k: int = 10,
                max_rounds: int = 16, init_rings: int = 1) -> DataFrame:
    """exact kNN with the QUERY SET AS A DATAFRAME: two certified
    passes, no driver loop and no per-query driver state.

    ``queries``: (query_id, lat, lng[, k]) — an optional per-query
    integer ``k`` column overrides the global ``k`` argument. Output
    (query_id, point_id, rnk), ties by (dist2, point_id).

    * **Pass 1** ranks every query's opening disk of
      ``min(init_rings, max_rounds)`` Moore rings around its level-
      ``level`` tile (``max_rounds`` is only that cap; 0 means the
      query's own tile) and emits the queries it certifies: >= kq
      candidates with k-th chord² <= chord²(rings·min_width). Every
      point outside the disk is at least that far, so the ranking is
      final.
    * **Pass 2** gives each straggler one more disk. One with >= kq
      candidates has a PROVEN bound on its true k-th distance (more
      candidates can only lower it), so the disk covering that bound
      holds its whole top-k: ranked and emitted unconditionally, if
      the disk fits in ``FB_RING_CAP`` rings. Any other straggler gets
      an escalation disk of min(max(2r, 8), FB_RING_CAP) rings and
      must certify. The remainder is ranked against every point
      through a broadcast of its few query rows (never a shuffle of
      the point table). One probe action materializes both ranks and
      reads both arm flags.
    """
    from pyspark.sql import Window

    from s2spark.udfs import s2_cell_id, s2_disk_expand_var_udf
    global LAST_KNN_FALLBACK
    LAST_KNN_FALLBACK = None

    if level is None:
        # density calibration (perf-only — output is exact at ANY
        # level); one count() of the point table
        level = knn_auto_level(points.count(), int(k))
    pts = points if "cell_id" in points.columns else with_cell_id(points)
    pts = pts.withColumn("tile", CC.parent("cell_id", level)) \
        .select("point_id", "lat", "lng", "tile").persist()
    min_width = float(metrics.MIN_WIDTH.get_value(level))
    k_col = (F.col("k").cast("int") if "k" in queries.columns
             else F.lit(int(k)))
    # the query tile is encoded in the same projection as the query
    # columns: no enc-then-join-back shuffle
    q = queries.select("query_id",
                       F.col("lat").alias("qlat"),
                       F.col("lng").alias("qlng"),
                       k_col.alias("kq"),
                       CC.parent(s2_cell_id(F.col("lat"), F.col("lng")),
                                 level).alias("tile")).persist()

    @F.pandas_udf("double")
    def _chord2(qlat: pd.Series, qlng: pd.Series,
                lat: pd.Series, lng: pd.Series) -> pd.Series:
        return pd.Series(RK.chord_dist2(qlat.to_numpy(np.float64),
                                        qlng.to_numpy(np.float64),
                                        lat.to_numpy(np.float64),
                                        lng.to_numpy(np.float64)))

    w = Window.partitionBy("query_id").orderBy("dist2", "point_id")
    disk = s2_disk_expand_var_udf(level)
    cached = []

    def _rank(cand: DataFrame) -> DataFrame:
        """chord² + per-query rank + certification of (query row,
        candidate point) rows, persisted: one pass serves the
        pass-2 plan AND the emitted top-k. ``ok`` (per query): the
        top-k is final — a proven disk, or >= kq candidates with k-th
        chord² <= chord²(rings·min_width), clamped at pi (== 4.0). It
        is a whole-partition window over the rank's own partitioning,
        so it costs no extra shuffle. The projection is slimmed BEFORE
        the window so the rank shuffle and the cache stay narrow."""
        th = F.least(F.col("rings") * F.lit(min_width),
                     F.lit(float(np.pi)))
        bound = F.pow(F.lit(2.0) * F.sin(th / F.lit(2.0)), F.lit(2.0))
        kth_ok = F.when(F.col("rnk") == F.col("kq"),
                        F.col("dist2") <= bound)
        ranked = cand \
            .withColumn("dist2", _chord2("qlat", "qlng", "lat", "lng")) \
            .select("query_id", "point_id", "kq", "rings", "proven",
                    "dist2") \
            .withColumn("rnk", F.row_number().over(w)) \
            .withColumn("ok", F.col("proven") | F.max(kth_ok).over(
                Window.partitionBy("query_id"))) \
            .persist()
        cached.append(ranked)
        return ranked

    def _disk_rank(plan: DataFrame) -> DataFrame:
        """rank the covering disk of each query row (q's columns plus
        ``rings`` and ``proven``). The exploded (query, tile) set is
        BROADCAST: it is tens of rows per query, but its plan carries
        no stats, so without the hint Catalyst sort-merge-joins and
        re-shuffles the whole point table."""
        tiles = plan.select(
            "query_id", "qlat", "qlng", "kq", "rings", "proven",
            F.explode(disk(F.array("tile"), "rings")).alias("tile"))
        return _rank(pts.join(F.broadcast(tiles), "tile"))

    def _topk(ranked: DataFrame) -> DataFrame:
        return ranked.where(F.col("ok") & (F.col("rnk") <= F.col("kq"))) \
            .select("query_id", "point_id",
                    F.col("rnk").cast("int").alias("rnk"))

    # pass 1: the opening disk, emitted for the queries it certifies
    r0 = max(0, min(int(init_rings), int(max_rounds)))
    ranked1 = _disk_rank(q.select("*", F.lit(r0).alias("rings"),
                                  F.lit(False).alias("proven")))
    out_parts = [_topk(ranked1)]

    # pass 2: the straggler plan comes from the QUERY set left-joined
    # with the pass-1 k-th rows — a query with fewer than kq candidates
    # (even none) has no such row and must still reach the brute arm.
    # The proven disk has ceil(theta_ub/min_width)+1 rings: outside
    # disk(ρ) every point is farther than (ρ-1)·min_width, and the +1
    # absorbs that and float rounding.
    kth = ranked1.where(F.col("rnk") == F.col("kq")) \
        .select("query_id", F.col("dist2").alias("kth"), "ok")
    theta = 2.0 * F.asin(F.least(F.sqrt("kth") / F.lit(2.0),
                                 F.lit(1.0)))
    rings_b = (F.ceil(theta / F.lit(min_width)) + F.lit(1)).cast("int")
    proven = F.col("kth").isNotNull() & (rings_b <= F.lit(FB_RING_CAP))
    esc = int(min(max(2 * r0, 8), FB_RING_CAP))
    stg = q.join(F.broadcast(kth), "query_id", "left") \
        .where(~F.coalesce(F.col("ok"), F.lit(False))) \
        .select("query_id", "qlat", "qlng", "kq", "tile",
                F.when(proven, rings_b).otherwise(F.lit(esc))
                .alias("rings"),
                F.coalesce(proven, F.lit(False)).alias("proven"))
    ranked2 = _disk_rank(stg)
    out_parts.append(_topk(ranked2))
    done2 = ranked2.where((F.col("rnk") == F.col("kq")) & F.col("ok")) \
        .select("query_id")
    # BOTH arm flags in ONE action, which also materializes both ranks:
    # any proven straggler, and stragglers minus pass-2 certified > 0
    # (each query has at most one k-th row). Nulls: no stragglers.
    bounded, unbounded = stg.select(
        F.col("proven").cast("int").alias("p"), F.lit(1).alias("n")) \
        .unionAll(done2.select(F.lit(0).alias("p"),
                               F.lit(-1).alias("n"))) \
        .agg(F.max("p"), F.sum("n")).first()
    if bounded is not None:
        LAST_KNN_FALLBACK = {"bounded": bounded == 1,
                             "unbounded": unbounded > 0}
    if unbounded:
        rem = stg.join(F.broadcast(done2), "query_id", "left_anti")
        out_parts.append(_topk(_rank(pts.crossJoin(F.broadcast(
            rem.select("query_id", "qlat", "qlng", "kq", "rings",
                       F.lit(True).alias("proven")))))))

    # eagerly checkpoint the SMALL result (<= sum of k rows) so every
    # persist is released before returning — none outlives the call
    out = out_parts[0]
    for p in out_parts[1:]:
        out = out.unionAll(p)
    out = out.localCheckpoint()
    for c in cached:
        c.unpersist()
    pts.unpersist()
    q.unpersist()
    return out


def distance_join(points: DataFrame, radius_rad: float) -> DataFrame:
    """within-distance SELF-join: all pairs (p1 < p2) of points within
    great-circle angle ``radius_rad`` — the co-location primitive.

    Scale shape (the standard grid join): pick the deepest level whose
    MIN cell width >= radius, so any qualifying pair lies in the same
    tile or a Moore neighbor; side a explodes to its tile + 8
    neighbors ("zones"), side b keeps its tile, and the candidate join
    is a plain hash EQUI-join on zone == tile (each ordered pair
    matched at most once — a's zone set hits b's tile once). Exact
    chord² verify on candidates only. Output (p1, p2, dist2) with
    dist2 in the oracle's op order, rounded once.
    """
    from s2spark.udfs import s2_neighbors_udf

    level = max(0, min(30, metrics.MIN_WIDTH.get_max_level(radius_rad)))
    thresh = 2.0 * np.sin(0.5 * radius_rad)
    thresh2 = thresh * thresh
    pts = points if "cell_id" in points.columns else with_cell_id(points)
    pts = pts.withColumn("tile", CC.parent("cell_id", level))
    nbrs = s2_neighbors_udf(level)
    a = pts.withColumn(
        "zone", F.explode(F.array_union(nbrs("tile"),
                                        F.array(F.col("tile"))))) \
        .select(F.col("point_id").alias("p1"),
                F.col("lat").alias("lat1"),
                F.col("lng").alias("lng1"), "zone")
    b = pts.select(F.col("point_id").alias("p2"),
                   F.col("lat").alias("lat2"),
                   F.col("lng").alias("lng2"), "tile")
    cand = a.join(b, (a["zone"] == b["tile"]) & (a["p1"] < b["p2"]))

    def _chord2(lat1: pd.Series, lng1: pd.Series,
                lat2: pd.Series, lng2: pd.Series) -> pd.Series:
        return pd.Series(RK.chord_dist2(lat1.to_numpy(np.float64),
                                        lng1.to_numpy(np.float64),
                                        lat2.to_numpy(np.float64),
                                        lng2.to_numpy(np.float64)))

    # marked nondeterministic only so that Catalyst does not push the
    # dist2 filter below the projection and evaluate the UDF twice
    chord2 = F.pandas_udf(_chord2, "double").asNondeterministic()
    return cand \
        .withColumn("dist2", chord2("lat1", "lng1", "lat2", "lng2")) \
        .where(F.col("dist2") <= F.lit(thresh2)) \
        .select("p1", "p2", F.round("dist2", 12).alias("dist2"))


# ---------------------------------------------------------------------------
# raster <-> vector alignment (SURVEY.md §2.5 row raster)
# ---------------------------------------------------------------------------

def raster_vector_align(points: DataFrame, covering_rows: list[tuple],
                        params_by_region: dict,
                        level: int = 8) -> DataFrame:
    """per-(region, raster-tile) statistics: raster tiles are the
    points' level-``level`` cells; vector regions arrive as coverings.
    One map-side pass (:func:`pip_join_broadcast`: encode, interval
    stab and exact verify in a single Python crossing) emits the leaf
    id, then Column-expr tiling and the aggregate run JVM-side."""
    pts = pip_join_broadcast(points, covering_rows, params_by_region,
                             extra_cols=("lat", "lng"), emit_cell_id=True)
    return pts.withColumn("tile_id", CC.parent("cell_id", level)) \
        .groupBy("region_id", "tile_id") \
        .agg(F.count("*").alias("n_points"),
             F.round(F.avg("lat"), 6).alias("avg_lat"),
             F.round(F.avg("lng"), 6).alias("avg_lng")) \
        .withColumn("tile_token", CC.token("tile_id")) \
        .drop("tile_id")
