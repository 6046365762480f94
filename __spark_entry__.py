"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Engine: ``s2spark`` — S2 Hilbert tiling + spatial joins, Spark-first
(SURVEY.md §2 inventory; each query below names the operator rows it
covers).
"""

from __future__ import annotations

import os
import sys
import warnings
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from s2spark import columns as CC  # noqa: E402
from s2spark import fixtures as FX  # noqa: E402
from s2spark import joins as J  # noqa: E402
from s2spark import synth  # noqa: E402

_COV_CACHE: dict = {}
_SHIPPED: set = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """make ``s2spark`` importable on executor Python workers even
    when the driver process runs from a foreign cwd: ship the package
    zip via addPyFile (once per Spark application; a failed ship warns
    here instead of surfacing later as executor unpickling errors)."""
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    repo = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(repo, "dist", "s2spark.zip")

    def _stale() -> bool:
        if not os.path.exists(zip_path):
            return True
        zmt = os.path.getmtime(zip_path)
        for root, _, files in os.walk(os.path.join(repo, "s2spark")):
            for f in files:
                if f.endswith(".py") \
                        and os.path.getmtime(os.path.join(root, f)) > zmt:
                    return True
        return False

    try:
        if _stale():  # rebuild on any source change — stale zips ship
            sys.path.insert(0, os.path.join(repo, "scripts"))
            import make_pyfiles
            zip_path = make_pyfiles.main()
        spark.sparkContext.addPyFile(zip_path)
    except Exception as e:  # same-cwd runs still work without shipping
        warnings.warn(f"s2spark: could not ship {zip_path} to the "
                      f"executors: {type(e).__name__}: {e}", stacklevel=3)
    _SHIPPED.add(key)


def _wrap(fn):
    def _inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_shipped(spark)
        return fn(spark, sf_dir)
    _inner.__doc__ = fn.__doc__
    return _inner


def _coverings():
    """covering rows are pure functions of the fixture constants —
    compute once per process."""
    if "rows" not in _COV_CACHE:
        _COV_CACHE["rows"] = J.compute_coverings(FX.region_objects())
        _COV_CACHE["params"] = FX.region_params()
    return _COV_CACHE["rows"], _COV_CACHE["params"]


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: derive points from sf0.001 lineitem, spatial-join them
    against the fixture regions (map-side interval-stab variant: encode,
    stab and exact verify in one pass), assign level-8 tiles (pure
    Column bit math), aggregate per (region, tile)."""
    _ensure_shipped(spark)
    sf_dir = "/root/testdata/sf0.001"
    cov_rows, params = _coverings()
    pts = FX.points_df(spark, sf_dir)
    return J.raster_vector_align(pts, cov_rows, params, level=8)


# ---------------------------------------------------------------------------
# oracle-checked queries
# ---------------------------------------------------------------------------

def _q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode + parent tiling + per-tile counts (SURVEY §2.1 + §2.2
    parent). Full value-hash oracle via the committed golden fixture
    tests/golden/geo_points.parquet (frozen kernel encodes keyed by
    (lat, lng)); kernel bit-exactness separately anchored by the
    s2sphere README golden tokens."""
    pts = J.with_cell_id(FX.points_df(spark, sf_dir))
    # r6 (guide §2.3, shuffle fewer bytes): aggregate on the LONG tile
    # id and tokenize after — the old shape shuffled a ~16-char string
    # per row and ran the token regex once per point instead of once
    # per tile; token() is injective on valid ids, so the groups (and
    # the output set) are identical.
    return pts.withColumn("tile_id", CC.parent("cell_id", 12)) \
        .groupBy("tile_id") \
        .agg(F.count("*").alias("n_points")) \
        .select(CC.token("tile_id").alias("tile_token"), "n_points")


def _q_cell_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parent/level/range/token/sortable + Hilbert traversal
    (next/prev, wrap variants, child_position, advance_wrap) as pure
    Column exprs over synthetic valid ids (SURVEY §2.2), full
    value-hash oracle."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(
        (F.col("l_orderkey") * F.lit(1000000)
         + F.col("l_partkey") * F.lit(100)
         + F.col("l_suppkey")).alias("point_id"),
        synth.synth_cell_col().alias("cell_id"))
    return df.select(
        "point_id", "cell_id",
        CC.level("cell_id").alias("lvl"),
        CC.parent("cell_id", 8).alias("parent_l8"),
        CC.parent("cell_id", 4).alias("parent_l4"),
        CC.range_min("cell_id").alias("range_min"),
        CC.range_max("cell_id").alias("range_max"),
        CC.token("cell_id").alias("token"),
        CC.sortable("cell_id").alias("sortable"),
        CC.face("cell_id").alias("face"),
        CC.pos("cell_id").alias("pos"),
        CC.next_cell("cell_id").alias("next_c"),
        CC.prev_cell("cell_id").alias("prev_c"),
        CC.next_wrap("cell_id").alias("next_w"),
        CC.prev_wrap("cell_id").alias("prev_w"),
        CC.child_position("cell_id", 5).alias("child_pos_l5"),
        CC.child_position("cell_id", 12).alias("child_pos_l12"),
        CC.advance_wrap("cell_id", 123456789, 12).alias("adv_w"),
    )


def _q_cell_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """child enumeration via explode (SURVEY §2.2 child/children)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(
        (F.col("l_orderkey") * F.lit(1000000)
         + F.col("l_partkey") * F.lit(100)
         + F.col("l_suppkey")).alias("point_id"),
        synth.synth_cell_col().alias("cell_id"))
    return df.select(
        "point_id",
        F.explode(CC.children_array("cell_id", 13)).alias("child_id"))


def _q_tile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi-level tile rollup — Hilbert levels nest perfectly so
    ROLLUP is semantically exact (SURVEY §2.8 aggregations)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(synth.synth_cell_col().alias("cell_id"),
                   F.col("l_quantity"))
    return df \
        .withColumn("tile_l4", CC.token(CC.parent("cell_id", 4))) \
        .withColumn("tile_l8", CC.token(CC.parent("cell_id", 8))) \
        .rollup("tile_l4", "tile_l8") \
        .agg(F.count("*").alias("n_rows"),
             F.round(F.sum("l_quantity"), 2).alias("sum_qty")) \
        .select(F.coalesce("tile_l4", F.lit("ALL")).alias("tile_l4"),
                F.coalesce("tile_l8", F.lit("ALL")).alias("tile_l8"),
                "n_rows", "sum_qty")


def _q_tile_rollup_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approximate-distinct tile rollup (VERDICT r4 stretch): ONE
    per-fine-tile HLL sketch pass, coarse level = sketch UNION (no
    fact rescan — the hypertable rollup scale path). Approximate, so
    no SQL oracle; gated by its hash-oracled exact twin
    `tile_rollup_sketch_exact` + the pytest error bound
    (tests/test_sketches.py), the image_tile_stats pattern."""
    from s2spark import sketches as SK
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(synth.synth_cell_col().alias("cell_id"),
                   F.col("l_partkey"))
    return SK.tile_distinct_rollup(df, "cell_id", "l_partkey")


def _q_tile_rollup_sketch_exact(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """exact twin of `tile_rollup_sketch`: true count_distinct per
    (level, tile) — full value-hash SQL oracle."""
    from s2spark import sketches as SK
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(synth.synth_cell_col().alias("cell_id"),
                   F.col("l_partkey"))
    return SK.tile_distinct_rollup_exact(df, "cell_id", "l_partkey")


def _q_pip_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """point-in-region via broadcast interval-stab join + exact verify
    (SURVEY §2.5a); oracle = brute-force exact geometry."""
    cov_rows, params = _coverings()
    return J.pip_join_broadcast(FX.points_df(spark, sf_dir),
                                cov_rows, params)


def _q_cellunion_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distributed CellUnion intersection (SURVEY §2.5 cell-interval
    joins + §2.7): fine-level union B ∩ coarse-level union A via the
    snap-to-level hash equi-join (nested-or-disjoint property — no
    range join needed). Full value-hash oracle."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    base = li.select(F.col("l_orderkey").alias("ok"),
                     F.col("l_partkey").alias("pk"),
                     synth.synth_cell_col().alias("cell_id"))
    a = base.where(F.col("ok") % 5 == 0) \
        .select(CC.parent("cell_id", 8).alias("cell_id")).distinct()
    b = base.where(F.col("pk") % 3 == 0) \
        .select(CC.parent("cell_id", 10).alias("cell_id")).distinct()
    return J.cell_containment_join(b, a, container_levels=[8]) \
        .select("cell_id")


def _q_tile_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-order traversal (SURVEY §2.2 begin/end/advance/walk):
    enumerate every level-5 cell on all 6 faces from spark.range —
    id(face, k) = (face<<61 | lsb5) + 2·lsb5·k. Full oracle."""
    lsb5 = 1 << (2 * (30 - 5))
    n_per_face = 4 ** 5
    rng = spark.range(6 * n_per_face)
    face = (F.col("id") / F.lit(n_per_face)).cast("long")
    k = F.col("id") % F.lit(n_per_face)
    base = F.when(face >= 4,
                  F.lit(-(2 ** 63)) + (face - F.lit(4)) * F.lit(2 ** 61)) \
        .otherwise(face * F.lit(2 ** 61))
    cell = base + F.lit(lsb5) + k * F.lit(2 * lsb5)
    df = rng.select(cell.alias("cell_id"))
    return df.select("cell_id",
                     CC.token("cell_id").alias("token"),
                     CC.face("cell_id").alias("face"),
                     CC.level("cell_id").alias("lvl"))


def _q_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moore-neighborhood expansion (SURVEY §2.3): 8 neighbors per
    level-12 cell via the face-wrapping kernel UDF + explode. Full
    value-hash oracle via the frozen kernel-neighbor fixture
    tests/golden/synth_neighbors.parquet."""
    from s2spark.udfs import s2_neighbors_udf
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # orderBy before limit: deterministic row SET, not just row count
    cells = li.select(synth.synth_cell_col().alias("cell_id")) \
        .distinct().orderBy(CC.sortable("cell_id")).limit(2000)
    nbrs = s2_neighbors_udf(12)
    return cells.select(
        "cell_id", F.explode(nbrs("cell_id")).alias("neighbor_id")) \
        .withColumn("neighbor_token", CC.token("neighbor_id"))


def _q_vertex_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vertex-neighbor expansion (SURVEY §2.3): the 3-4 coarser-level
    cells touching each cell's closest vertex, vectorized kernel UDF +
    explode; full value-hash oracle via the frozen fixture."""
    from s2spark.udfs import s2_vertex_neighbors_udf
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cells = li.select(synth.synth_cell_col().alias("cell_id")) \
        .distinct().orderBy(CC.sortable("cell_id")).limit(2000)
    vn = s2_vertex_neighbors_udf(11)
    return cells.select(
        "cell_id", F.explode(vn("cell_id")).alias("vertex_neighbor_id")) \
        .withColumn("vn_token", CC.token("vertex_neighbor_id"))


def _q_pip_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """point-in-region as a Catalyst-native bucketed broadcast hash
    join (SURVEY §2.5b) — same oracle as the other variants."""
    cov_rows, params = _coverings()
    return J.pip_join_bucketed(FX.points_df(spark, sf_dir),
                               J.coverings_df(spark, cov_rows), params)


def _q_pip_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the shuffle arm (SURVEY §2.5c): the bucket join as a sort-merge
    join hash-partitioned on the cell-id bucket, hot buckets split by
    AQE's skew join — must equal the broadcast variant AND the
    oracle."""
    cov_rows, params = _coverings()
    return J.pip_join_bucketed(FX.points_df(spark, sf_dir),
                               J.coverings_df(spark, cov_rows), params,
                               broadcast_covering=False)


def _q_pip_planned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """router-chosen PIP join (SURVEY §4.3): the map-side stab while
    the covering fits under the broadcast limit, else the sort-merge
    arm; must equal every other PIP variant AND the oracle."""
    cov_rows, params = _coverings()
    return J.pip_join(FX.points_df(spark, sf_dir), cov_rows, params)


def _q_pip_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIP against the concave, non-star U-shaped polygon fixture
    (region 25) — crossing-parity containment (SURVEY §1.1 row 12);
    full value-hash oracle from the identical crossing-test SQL."""
    rid = FX.U_POLY
    objs = {rid: FX.region_objects()[rid]}
    params = {rid: FX.region_params()[rid]}
    cov_rows = J.compute_coverings(objs)
    return J.pip_join_broadcast(FX.points_df(spark, sf_dir), cov_rows,
                                params)


def _q_pip_buffered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """buffered point-in-region: the cap fixtures dilated by
    Cap.expanded (SURVEY §2.4 cap ops — the buffer/kNN-bound
    primitive); coverings recomputed for the dilated regions, same
    join machinery, exact oracle with the expanded radii."""
    regions = FX.buffered_cap_objects()
    params = FX.buffered_cap_params()
    cov_rows = J.compute_coverings(regions)
    return J.pip_join_broadcast(FX.points_df(spark, sf_dir), cov_rows,
                                params)


def _q_pip_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI form: points contained in NO region (SURVEY §2.5
    semi/anti)."""
    cov_rows, params = _coverings()
    pts = FX.points_df(spark, sf_dir)
    return J.pip_anti(pts, cov_rows, params).select("point_id")


def _q_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-region aggregates over the PIP join (SURVEY §2.8)."""
    cov_rows, params = _coverings()
    pts = FX.points_df(spark, sf_dir)
    m = J.pip_join_broadcast(pts, cov_rows, params,
                             extra_cols=("lat", "lng"))
    return m.groupBy("region_id").agg(
        F.count("*").alias("n_points"),
        F.round(F.avg("lat"), 4).alias("avg_lat"),
        F.round(F.avg("lng"), 4).alias("avg_lng"))


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact kNN via certified cell-neighbor disks (SURVEY §2.3 +
    §2.5 kNN row): a 3-ring opening disk, then one pass-2 disk or a
    brute-force rank for the queries it cannot certify; oracle =
    brute-force distances."""
    return J.knn_join(spark, FX.points_df(spark, sf_dir), FX.KNN_QUERIES,
                      level=6)


DIST_JOIN_RADIUS = 0.005   # rad (~32 km)
DIST_JOIN_MOD = 20         # subset: point_id % 20 == 0


def _q_distance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """within-distance self-join (co-location pairs) via the tile grid
    equi-join + exact chord verify (SURVEY §2.5); brute-force SQL
    oracle over the same subset."""
    pts = FX.points_df(spark, sf_dir) \
        .where(F.pmod("point_id", DIST_JOIN_MOD) == 0)
    return J.distance_join(pts, DIST_JOIN_RADIUS)


def _q_knn_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact kNN with the query set as a DATAFRAME (~1000 queries at
    sf0.01, derived from the point table) — the large-query-set scale
    path (SURVEY §2.5 kNN; VERDICT r1 item 5): two certified disk
    passes in DataFrames, no per-query driver state. Brute-force SQL
    oracle."""
    pts = FX.points_df(spark, sf_dir)
    q = pts.where(F.pmod("point_id", FX.KNN_MANY_MOD) == 0) \
        .groupBy(F.col("point_id").alias("query_id")) \
        .agg(F.min("lat").alias("lat"), F.min("lng").alias("lng"))
    # level=None -> density-calibrated tile level (perf-only; the
    # disk certification is exact at any level). r6 (VERDICT r5
    # item 1): a ONE-ring opening disk already certifies 9790/9797
    # queries at sf0.1, so a 3-ring opening would rank 5.6x the
    # candidates for the sake of ~7 stragglers; pass 2 resolves those
    # (proven-kth-bound disk for >=k-candidate queries, escalation
    # disk, broadcast brute-force rank for the rest). max_rounds=1
    # caps the opening disk at one ring.
    return J.knn_join_df(pts, q, level=None, k=FX.KNN_MANY_K,
                         max_rounds=1, init_rings=1)


def _q_raster_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """raster tile <-> vector covering alignment (SURVEY §2.5 raster
    row). Full value-hash oracle: membership from the exact region
    predicates + tile ids from the frozen golden-fixture encodes."""
    cov_rows, params = _coverings()
    return J.raster_vector_align(FX.points_df(spark, sf_dir), cov_rows,
                                 params, level=8)


def _q_knn_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token round-trip: format + parse back + face extraction over
    synthetic ids (SURVEY §2.2 tokens/validity)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(
        (F.col("l_orderkey") * F.lit(1000000)
         + F.col("l_partkey") * F.lit(100)
         + F.col("l_suppkey")).alias("point_id"),
        synth.synth_cell_col().alias("cell_id"))
    return df.select(
        "point_id",
        CC.from_token(CC.token("cell_id")).alias("parsed_id"),
        CC.is_valid("cell_id").cast("boolean").alias("valid"),
    )


def _q_top_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """global top-k (SURVEY §2.8 sort/limit): densest 20 synthetic
    level-8 tiles, deterministic (count desc, token) ordering."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    df = li.select(synth.synth_cell_col().alias("cell_id"))
    return df.groupBy(CC.token(CC.parent("cell_id", 8)).alias("tile")) \
        .agg(F.count("*").alias("n")) \
        .orderBy(F.desc("n"), "tile").limit(20)


def _q_tile_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """set ops on tile-id sets (SURVEY §2.8 set ops): tiles seen from
    even partkeys EXCEPT tiles seen from odd partkeys. Splitting on
    l_partkey (not l_orderkey, which also drives the synth face) makes
    the two tile sets genuinely overlap, so EXCEPT does real work; set
    semantics = distinct-then-except (ADVICE r1 item 1)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    base = li.select(F.col("l_partkey").alias("pk"),
                     synth.synth_cell_col().alias("cell_id"))
    even = base.where(F.col("pk") % 2 == 0) \
        .select(CC.parent("cell_id", 10).alias("tile_id"))
    odd = base.where(F.col("pk") % 2 == 1) \
        .select(CC.parent("cell_id", 10).alias("tile_id"))
    return even.distinct().exceptAll(odd.distinct())


def _q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped relational aggregate (SURVEY §2.8): the engine's
    stock Catalyst path, oracle-checked."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("date")) \
        .groupBy("l_returnflag", "l_linestatus") \
        .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
             F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
             F.round(F.sum(F.col("l_extendedprice")
                           * (F.lit(1) - F.col("l_discount"))), 2)
             .alias("sum_disc_price"),
             F.count("*").alias("count_order"))


def _q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped STAR join (SURVEY §2.8 join reordering /
    broadcast-dim selection): lineitem ⋈ orders ⋈ customer ⋈ supplier
    ⋈ nation ⋈ region with the local-supplier predicate
    (c_nationkey = s_nationkey) — Catalyst broadcasts every dim and
    keeps one big-table scan; revenue per (region, nation) with the
    pricing_summary rounding discipline."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]) \
        .join(c, o["o_custkey"] == c["c_custkey"]) \
        .join(s, (li["l_suppkey"] == s["s_suppkey"])
              & (c["c_nationkey"] == s["s_nationkey"])) \
        .join(n, c["c_nationkey"] == n["n_nationkey"]) \
        .join(r, n["n_regionkey"] == r["r_regionkey"])
    return j.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice")
                      * (F.lit(1) - F.col("l_discount"))), 2)
        .alias("revenue"))


_NATION_REVENUE_SQL = """
SELECT r_name, n_name, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


def _q_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fact ⋈ broadcast part dimension, revenue per brand ordered
    desc (SURVEY §2.8; completes coverage of every testdata table) —
    deterministic ordering via (revenue rounded, brand)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    j = li.join(p, li["l_partkey"] == p["p_partkey"])
    return j.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        F.round(F.sum(F.col("l_extendedprice")
                      * (F.lit(1) - F.col("l_discount"))), 2)
        .alias("revenue"))


_BRAND_REVENUE_SQL = """
SELECT p_brand, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """join + window top-k per group (SURVEY §2.8 windows)."""
    from pyspark.sql import Window
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    spend = o.groupBy("o_custkey").agg(
        F.round(F.sum("o_totalprice"), 2).alias("spend"))
    j = spend.join(c, spend["o_custkey"] == c["c_custkey"]) \
        .select("c_custkey", "c_nationkey", "spend")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("spend"),
                                                  "c_custkey")
    return j.withColumn("rnk", F.row_number().over(w)) \
        .where(F.col("rnk") <= 3) \
        .select("c_nationkey", "c_custkey", "spend",
                F.col("rnk").cast("int").alias("rnk"))


def _q_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """batch twin of the STREAM-STREAM interval self-join
    (s2spark.streaming.correlated_event_pairs): same-user event pairs
    within ±5 minutes — plans as a user_id hash equi-join with a
    BETWEEN residual on batch, a bounded-state stream-stream join on
    streams (stream≡batch pinned in tests/test_streaming.py)."""
    from s2spark import streaming as ST
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ST.correlated_event_pairs(ev)


def _event_pairs_sql() -> str:
    from s2spark.streaming import CORRELATE_WINDOW_MIN
    return f"""
SELECT a.user_id, a.event_id AS e1, b.event_id AS e2
FROM events a JOIN events b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND b.ts >= a.ts - INTERVAL '{CORRELATE_WINDOW_MIN} minutes'
 AND b.ts <= a.ts + INTERVAL '{CORRELATE_WINDOW_MIN} minutes'
"""


def _q_event_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semi-structured payload extraction (SURVEY §2.8 scalar fns):
    the events table's JSON ``props`` column parsed with Spark's
    native from_json into a typed field, aggregated per event type —
    the log-analytics shape (typed extraction stays JVM-side, no
    regex in the hot path). All-integer output; DuckDB oracle uses
    json_extract_string on the same path."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.from_json("props", "k INT")["k"].cast("long")
    return ev.select("event_type", k.alias("k")) \
        .groupBy("event_type") \
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("k").isNull().cast("long")).alias("n_null_k"),
             F.sum("k").alias("sum_k"),
             F.min("k").alias("min_k"),
             F.max("k").alias("max_k"))


_EVENT_PROPS_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       min(k) AS min_k, max(k) AS max_k
FROM e GROUP BY event_type
"""


def _q_events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tumbling-window per-type event counts — the batch twin of the
    Structured Streaming demo (SURVEY §2.10)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy(F.window("ts", "10 minutes").start.alias("win_start"),
                      "event_type") \
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))


SESSION_GAP_MIN = 30  # 30-minute inactivity gap


def _q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-user SESSIONIZATION (gaps-and-islands): a new session
    starts when >30 min passes between a user's consecutive events.
    Two windows (lag flag, then running sum) + one agg — all JVM
    expressions; shuffles once on user_id and both window passes plus
    the final groupBy reuse that partitioning. Timestamps compared by
    direct interval arithmetic on TIMESTAMP_NTZ (tz-independent,
    identical in DuckDB). Batch twin of streaming session windows
    (SURVEY §2.10). Boundary matches ``session_window`` exactly
    (ADVICE r3 investigated — empirically pinned in
    tests/test_streaming.py::test_session_exact_gap_boundary): Spark
    MERGES touching session windows, so an event at exactly
    last + gap stays in the SAME session — hence strictly ``>`` on
    the inactivity flag, not ``>=``."""
    from pyspark.sql import Window
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .select("user_id", "event_id", "value", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(f"INTERVAL {SESSION_GAP_MIN} MINUTES")
    flagged = ev.withColumn(
        "new_s",
        F.when(F.col("ts") - F.lag("ts").over(w) > gap, 1)
        .when(F.lag("ts").over(w).isNull(), 1).otherwise(0))
    sess = flagged.withColumn(
        "session_id", F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.round(F.sum("value"), 2).alias("sum_value"))


def _event_sessions_sql() -> str:
    return f"""
WITH flagged AS (
  SELECT user_id, event_id, value, ts,
         CASE WHEN lag(ts) OVER w IS NULL THEN 1
              WHEN ts - lag(ts) OVER w
                   > INTERVAL '{SESSION_GAP_MIN} minutes' THEN 1
              ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS INT)
                AS session_id
  FROM flagged)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS start_ts, max(ts) AS end_ts,
       round(sum(value), 2) AS sum_value
FROM sess GROUP BY user_id, session_id
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from s2spark import ann as A
    from s2spark import text as T
    raw = {
        # The driver certifies the FIRST 50 keys, so the window leads
        # with the keys whose code path changed last, then the keys
        # left outside the last window, then the rest.
        # --- the stab pass behind the grid prefilter ---
        "raster_vector": _q_raster_vector,
        "pip_broadcast": _q_pip_broadcast,
        "pip_planned": _q_pip_planned,
        "pip_polygon": _q_pip_polygon,
        "pip_buffered": _q_pip_buffered,
        "pip_anti": _q_pip_anti,
        "image_pip": _q_image_pip,
        "region_stats": _q_region_stats,
        # --- cell tokens without ICU lower ---
        "tile_assign": _q_tile_assign,
        "cell_algebra": _q_cell_algebra,
        "tile_rollup": _q_tile_rollup,
        "tile_rollup_sketch": _q_tile_rollup_sketch,
        "tile_rollup_sketch_exact": _q_tile_rollup_sketch_exact,
        "tile_enumerate": _q_tile_enumerate,
        "neighbors": _q_neighbors,
        "vertex_neighbors": _q_vertex_neighbors,
        "token_roundtrip": _q_knn_tokens,
        "top_tiles": _q_top_tiles,
        "image_tile_stats_exact": _q_image_tile_stats_exact,
        "image_tile_stats": _q_image_tile_stats,
        # --- the other PIP arms, then the last window's tail ---
        "pip_bucketed": _q_pip_bucketed,
        "pip_salted": _q_pip_salted,
        "token_quantiles": T.token_quantiles,
        "knn_many": _q_knn_many,
        "cell_children": _q_cell_children,
        "simhash": T.simhash,
        "pricing_summary": _q_pricing_summary,
        "tile_setops": _q_tile_setops,
        "top_customers": _q_top_customers,
        "fingerprint": T.fingerprint,
        "lang_id": T.lang_id,
        "pii_scan": T.pii_scan,
        "stratified_sample": T.stratified_sample,
        "token_count": T.token_count,
        "decontaminate": T.decontaminate,
        "repetition_ratio": T.repetition_ratio,
        "pq_codes": A.pq_codes,
        "image_verify": _q_image_verify,
        "image_resize": _q_image_resize,
        # --- earlier order ---
        "ann_ivf_buckets": A.ivf_buckets,
        "ann_ivf": A.ann_ivf_topk,
        "ann_ivfpq": A.ann_ivfpq_topk,
        "ann_ivf_recall": A.ann_ivf_recall,
        "ann_ivfpq_recall": A.ann_ivfpq_recall,
        "ann_lsh_buckets": A.lsh_buckets,
        "ann_lsh": A.ann_lsh_topk,
        "ann_bruteforce": A.ann_bruteforce_topk,
        "embedding_similar_pairs": A.embedding_cosine_dedup,
        "embedding_components": A.embedding_components,
        "bigram_model": T.bigram_model,
        "lm_quality": T.lm_quality,
        "simhash_pairs": T.simhash_pairs,
        "dedup_minhash_lsh": T.minhash_lsh_pairs,
        "dedup_components": T.dedup_components,
        "dedup_keep_best": T.dedup_keep_best,
        "dedup_ngram_jaccard": T.ngram_jaccard_pairs,
        "dedup_exact": T.dedup_exact,
        "corpus_curation": T.corpus_curation,
        "image_phash_neardup": _q_image_phash_neardup,
        "image_components": _q_image_components,
        "multimodal_dedup": _q_multimodal_dedup,
        "audio_features": _q_audio_features,
        "video_frames": _q_video_frames,
        "cellunion_intersect": _q_cellunion_intersect,
        "distance_join": _q_distance_join,
        "knn": _q_knn,
        "event_pairs": _q_event_pairs,
        "source_stats": T.source_stats,
        "event_props": _q_event_props,
        "nation_revenue": _q_nation_revenue,
        "brand_revenue": _q_brand_revenue,
        "quality_score": T.quality_score,
        "events_window": _q_events_window,
        "event_sessions": _q_event_sessions,
        "tfidf_top_terms": T.tfidf_top_terms,
    }
    return {k: _wrap(v) for k, v in raw.items()}


def _q_image_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """canonical image per phash-near-dup cluster (components over the
    banded hamming pair graph — the image-side dedup_components);
    recursive-CTE oracle over the frozen fixture phashes."""
    from s2spark import images as IM
    return IM.image_components(IM.synth_images(spark, 500))


def _image_components_sql() -> str:
    from s2spark import images as IM
    golden_imgs = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "tests", "golden", "geo_images.parquet")
    return f"""
WITH RECURSIVE g AS (SELECT image_id, phash
                     FROM read_parquet('{golden_imgs}')),
p AS MATERIALIZED (
  SELECT a.image_id AS i1, b.image_id AS i2
  FROM g a JOIN g b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.phash, b.phash)) <= {IM.PHASH_HAMMING_MAX}),
edges AS MATERIALIZED (SELECT i1 AS a, i2 AS b FROM p
                       UNION SELECT i2, i1 FROM p),
ids AS MATERIALIZED (SELECT image_id FROM g),
reach(image_id, r) AS (
  SELECT image_id, image_id FROM ids
  UNION
  SELECT reach.image_id, e.b FROM reach JOIN edges e ON reach.r = e.a
)
SELECT image_id, min(r) AS canonical_id FROM reach GROUP BY image_id
"""


def _q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cross-modal image+caption curation: visual canonical (phash
    components) AND per-caption-template diversity cap (digit-
    normalized captions). Oracle: recursive-CTE components over the
    frozen fixture phashes + captions reconstructed deterministically
    from the image ids."""
    from s2spark import images as IM
    # id_bounds: fixture ids are img%012d over range(500), so the
    # numeric-suffix range is a constant — skips the min/max probe job
    # (VERDICT r5 item 4; clamped-bounds exactness is test-pinned)
    return IM.multimodal_dedup(IM.synth_images(spark, 500),
                               id_bounds=(0, 499))


def _multimodal_dedup_sql() -> str:
    from s2spark import images as IM
    from s2spark.text import MD5_INT64_SQL
    golden_imgs = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "tests", "golden", "geo_images.parquet")
    tpl = ("regexp_replace('caption ' || idx || ' size ' || w || 'x' || h"
           " || ' fmt ' || fmt, '[0-9]+', '#', 'g')")
    return f"""
WITH RECURSIVE g AS (SELECT image_id, phash
                     FROM read_parquet('{golden_imgs}')),
p AS MATERIALIZED (
  SELECT a.image_id AS i1, b.image_id AS i2
  FROM g a JOIN g b ON a.image_id < b.image_id
  WHERE bit_count(xor(a.phash, b.phash)) <= {IM.PHASH_HAMMING_MAX}),
edges AS MATERIALIZED (SELECT i1 AS a, i2 AS b FROM p
                       UNION SELECT i2, i1 FROM p),
ids AS MATERIALIZED (SELECT image_id FROM g),
reach(image_id, r) AS (
  SELECT image_id, image_id FROM ids
  UNION
  SELECT reach.image_id, e.b FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (SELECT image_id, min(r) AS canonical_id FROM reach
         GROUP BY image_id),
cap0 AS (
  SELECT image_id, CAST(substr(image_id, 4) AS BIGINT) AS idx
  FROM g),
cap1 AS (
  SELECT image_id,
         [8, 16, 32][(idx % 3) + 1] AS w,
         [8, 16, 32][((idx // 3) % 3) + 1] AS h,
         ['raw', 'png', 'qzl'][(idx % 3) + 1] AS fmt, idx
  FROM cap0),
cap AS (
  SELECT image_id,
         {MD5_INT64_SQL.format(col=tpl)} AS tpl_hash
  FROM cap1),
rk AS (
  SELECT image_id, tpl_hash,
         CAST(row_number() OVER (PARTITION BY tpl_hash
                                 ORDER BY image_id) AS INT) AS tpl_rank
  FROM cap)
SELECT comp.image_id, comp.canonical_id, rk.tpl_hash, rk.tpl_rank,
       comp.image_id = comp.canonical_id
       AND rk.tpl_rank <= {IM.MM_TEMPLATE_CAP} AS keep
FROM comp JOIN rk ON comp.image_id = rk.image_id
"""


def _q_image_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """synthetic geo_images -> decode -> phash/pixel/caption invariants
    (BASELINE.json per-row invariant; lossless => exact). Full
    value-hash oracle via the frozen image_verify fixture."""
    from s2spark import images as IM
    return IM.verify_images(IM.synth_images(spark, 500))


def _q_image_tile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo-tiled image stats: encode + parent tile + per-tile aggregates."""
    from s2spark import images as IM
    return IM.image_tile_stats(IM.synth_images(spark, 500), level=6)


def _q_image_tile_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """image-table tiling with EXACT per-tile phash diversity — full
    value-hash oracle via the frozen geo_images fixture (generator +
    encode kernel + phash DCT all gated); the approx_count_distinct
    variant (image_tile_stats) stays the scale path."""
    from s2spark import images as IM
    from s2spark.joins import with_cell_id
    df = with_cell_id(IM.synth_images(spark, 500))
    return df.withColumn("tile_id", CC.parent("cell_id", 6)) \
        .groupBy(CC.token("tile_id").alias("tile_token")) \
        .agg(F.count("*").alias("n_images"),
             F.count_distinct("phash").alias("phash_distinct"))


def _q_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """near-dup image pairs by phash hamming <= PHASH_HAMMING_MAX via
    pigeonhole
    banding (union of band-key equi-joins, no all-pairs — the
    multimodal dedup op). Oracle: brute-force hamming over the FROZEN
    geo_images fixture phashes, so generator + phash DCT + banding
    logic are all cross-checked against an independent all-pairs
    recompute."""
    from s2spark import images as IM
    return IM.phash_neardup_pairs(IM.synth_images(spark, 500))


def _q_image_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE north-star join shape on the IMAGE table itself: geo-tagged
    images -> S2 encode -> point-in-region broadcast join vs the 17
    fixture regions -> per-region image count + exact phash diversity
    + distinct level-6 tiles. Oracle: frozen geo_images fixture
    (lat/lng/leaf/phash all kernel-frozen) + the exact region
    predicates in SQL — generator, encode, PIP verify, and tiling are
    all hash-gated end to end."""
    from s2spark import images as IM
    cov_rows, params = _coverings()
    imgs = IM.synth_images(spark, 500)
    pts = imgs.select(
        F.substring("image_id", 4, 12).cast("long").alias("point_id"),
        "lat", "lng", "phash")
    m = J.pip_join_broadcast(pts, cov_rows, params,
                             extra_cols=("phash",), emit_cell_id=True)
    return m.groupBy("region_id").agg(
        F.count("*").alias("n_images"),
        F.count_distinct("phash").alias("phash_distinct"),
        F.count_distinct(CC.token(CC.parent("cell_id", 6)))
        .alias("n_tiles"))


def _image_pip_sql() -> str:
    golden_imgs = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "tests", "golden", "geo_images.parquet")
    arms = FX.region_arms_sql("phash, leaf_cell_id", "g",
                              FX.region_params())
    deg = FX.DEG
    return f"""
WITH g AS (SELECT lat, lng, leaf_cell_id, phash,
                  cos(lng * {deg!r}) * cos(lat * {deg!r}) AS px,
                  sin(lng * {deg!r}) * cos(lat * {deg!r}) AS py,
                  sin(lat * {deg!r}) AS pz,
                  lng - 360.0 * floor((lng + 180.0) / 360.0) AS lngn
           FROM read_parquet('{golden_imgs}')),
m AS ({arms})
SELECT region_id, count(*) AS n_images,
       count(DISTINCT phash) AS phash_distinct,
       count(DISTINCT ({synth.token_sql(
           synth.parent_sql('leaf_cell_id', 6))})) AS n_tiles
FROM m GROUP BY region_id
"""


def _q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """audio feature extraction over binary pcm16 clips: windowed
    energy + rFFT dominant frequency / spectral centroid (real numpy
    DSP). Full value-hash oracle via the frozen audio_features
    fixture; dominant-frequency recovery also pinned by
    tests/test_multimodal.py."""
    from s2spark import multimodal as MM
    return MM.audio_features(MM.synth_audio(spark, 300))


def _q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """video frame sampling over raw-frame binary payloads (every 5th
    frame -> per-frame stats). Full value-hash oracle via the frozen
    video_frames fixture."""
    from s2spark import multimodal as MM
    return MM.sample_frames(MM.synth_video(spark, 200))


def _q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distributed resize (decode -> NN resample -> re-encode +
    phash recompute). Full value-hash oracle via the frozen
    resized_images fixture; pixel exactness also pinned by
    tests/test_images.py."""
    from s2spark import images as IM
    out = IM.resize_images(IM.synth_images(spark, 500), 16, 16)
    return out.select("image_id", "w", "h", "fmt", "phash", "caption")


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_PID = "l_orderkey * 1000000 + l_partkey * 100 + l_suppkey"
_SC = "sc"  # alias for the synthetic cell id


def _golden_select(name: str, cols: str) -> str:
    """oracle over a frozen kernel-output fixture in tests/golden/."""
    p = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "tests", "golden", f"{name}.parquet")
    return f"SELECT {cols} FROM read_parquet('{p}')"


def _synth_base() -> str:
    return (f"SELECT {_PID} AS point_id, ({synth.SYNTH_CELL_SQL.strip()}) "
            f"AS {_SC} FROM lineitem")


def _distance_join_sql() -> str:
    import numpy as np
    thresh = 2.0 * np.sin(0.5 * DIST_JOIN_RADIUS)
    thresh2 = float(thresh * thresh)
    return f"""
WITH ptx AS (
  SELECT * FROM ({FX.PTX_SQL.strip()}) w
  WHERE point_id % {DIST_JOIN_MOD} = 0),
d AS (
  SELECT a.point_id AS p1, b.point_id AS p2,
         (a.px - b.px) * (a.px - b.px) + (a.py - b.py) * (a.py - b.py)
         + (a.pz - b.pz) * (a.pz - b.pz) AS dist2
  FROM ptx a JOIN ptx b ON a.point_id < b.point_id)
SELECT p1, p2, round(dist2, 12) AS dist2
FROM d WHERE dist2 <= ({thresh2!r})
"""


def oracle_sql() -> dict[str, str]:
    from s2spark import images as _IM
    s = _SC
    cell_algebra = f"""
WITH t AS ({_synth_base()})
SELECT point_id, {s} AS cell_id,
       {synth.level_sql(s)} AS lvl,
       {synth.parent_sql(s, 8)} AS parent_l8,
       {synth.parent_sql(s, 4)} AS parent_l4,
       {synth.range_min_sql(s)} AS range_min,
       {synth.range_max_sql(s)} AS range_max,
       {synth.token_sql(s)} AS token,
       {synth.sortable_sql(s)} AS sortable,
       CAST(({s} >> 61) & 7 AS INT) AS face,
       ({s}) & {(1 << 61) - 1} AS pos,
       {synth.next_sql(s)} AS next_c,
       {synth.prev_sql(s)} AS prev_c,
       {synth.next_wrap_sql(s)} AS next_w,
       {synth.prev_wrap_sql(s)} AS prev_w,
       {synth.child_position_sql(s, 5)} AS child_pos_l5,
       {synth.child_position_sql(s, 12)} AS child_pos_l12,
       {synth.advance_wrap_sql(s, 123456789, 12)} AS adv_w
FROM t
"""
    # children of a level-12 cell: id - lsb + (2k+1)*child_lsb, k=0..3
    lsb12 = 1 << (2 * (30 - 12))
    child_lsb = lsb12 >> 2
    kids = ", ".join(f"({s} - {lsb12} + {(2 * k + 1) * child_lsb})"
                     for k in range(4))
    cell_children = f"""
WITH t AS ({_synth_base()})
SELECT point_id, unnest([{kids}]) AS child_id FROM t
"""
    tile_rollup = f"""
WITH t AS (SELECT ({synth.SYNTH_CELL_SQL.strip()}) AS {s}, l_quantity
           FROM lineitem),
tt AS (SELECT {synth.token_sql(synth.parent_sql(s, 4))} AS tile_l4,
              {synth.token_sql(synth.parent_sql(s, 8))} AS tile_l8,
              l_quantity FROM t)
SELECT coalesce(tile_l4, 'ALL') AS tile_l4,
       coalesce(tile_l8, 'ALL') AS tile_l8,
       count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty
FROM tt GROUP BY ROLLUP (tile_l4, tile_l8)
"""
    tile_rollup_sketch_exact = f"""
WITH t AS (SELECT ({synth.SYNTH_CELL_SQL.strip()}) AS {s}, l_partkey
           FROM lineitem),
f AS (SELECT {synth.parent_sql(s, 8)} AS tf, l_partkey FROM t)
SELECT CAST(8 AS INTEGER) AS level,
       {synth.token_sql('tf')} AS tile_token,
       count(*) AS n_rows,
       count(DISTINCT l_partkey) AS distinct_est
FROM f GROUP BY tf
UNION ALL
SELECT CAST(4 AS INTEGER) AS level,
       {synth.token_sql(synth.parent_sql('tf', 4))} AS tile_token,
       count(*) AS n_rows,
       count(DISTINCT l_partkey) AS distinct_est
FROM f GROUP BY {synth.parent_sql('tf', 4)}
"""
    token_roundtrip = f"""
WITH t AS ({_synth_base()})
SELECT point_id, {s} AS parsed_id, TRUE AS valid FROM t
"""
    params = FX.region_params()
    pip = FX.pip_oracle_sql()
    anti_pred = " OR ".join(
        FX.region_predicate_sql(*params[rid]) for rid in sorted(params))
    pip_anti = f"""
WITH ptx AS ({FX.PTX_SQL.strip()})
SELECT point_id FROM ptx WHERE NOT ({anti_pred})
"""
    # region_stats: per-region arms with lat/lng carried through
    region_stats = (
        f"WITH ptx AS ({FX.PTX_SQL.strip()}),\n"
        "m AS (" + FX.region_arms_sql("point_id, lat, lng", "ptx", params)
        + ")\n"
        "SELECT region_id, count(*) AS n_points, "
        "round(avg(lat), 4) AS avg_lat, round(avg(lng), 4) AS avg_lng "
        "FROM m GROUP BY region_id")
    from s2spark import ann as A
    from s2spark import text as T
    top_tiles = f"""
WITH t AS (SELECT ({synth.SYNTH_CELL_SQL.strip()}) AS sc FROM lineitem)
SELECT {synth.token_sql(synth.parent_sql('sc', 8))} AS tile,
       count(*) AS n
FROM t GROUP BY 1 ORDER BY n DESC, tile LIMIT 20
"""
    tile_setops = f"""
WITH base AS (SELECT l_partkey AS pk,
                     ({synth.SYNTH_CELL_SQL.strip()}) AS sc FROM lineitem)
SELECT DISTINCT {synth.parent_sql('sc', 10)} AS tile_id
FROM base WHERE pk % 2 = 0
EXCEPT
SELECT DISTINCT {synth.parent_sql('sc', 10)} AS tile_id
FROM base WHERE pk % 2 = 1
"""
    pricing_summary = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""
    top_customers = """
WITH spend AS (
  SELECT o_custkey, round(sum(o_totalprice), 2) AS spend
  FROM orders GROUP BY o_custkey),
j AS (
  SELECT c_custkey, c_nationkey, spend,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY spend DESC, c_custkey) AS rnk
  FROM spend JOIN customer ON o_custkey = c_custkey)
SELECT c_nationkey, c_custkey, spend, CAST(rnk AS INT) AS rnk
FROM j WHERE rnk <= 3
"""
    events_window = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start, event_type,
       count(*) AS n_events, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2
"""
    # encode-downstream oracles via the committed golden fixture
    # (lat, lng) -> kernel leaf_cell_id — a silent encode regression
    # now trips the driver gate, not just pytest (VERDICT r1 item 4)
    golden = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "tests", "golden", "geo_points.parquet")
    tile_assign = f"""
WITH p AS ({FX.POINTS_SQL.strip()}),
g AS (SELECT lat, lng, leaf_cell_id FROM read_parquet('{golden}')),
j AS (SELECT leaf_cell_id FROM p JOIN g USING (lat, lng))
SELECT {synth.token_sql(synth.parent_sql('leaf_cell_id', 12))}
           AS tile_token,
       count(*) AS n_points
FROM j GROUP BY 1
"""
    golden_imgs = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "tests", "golden", "geo_images.parquet")
    image_tile_stats_exact = f"""
WITH g AS (SELECT * FROM read_parquet('{golden_imgs}'))
SELECT {synth.token_sql(synth.parent_sql('leaf_cell_id', 6))}
           AS tile_token,
       count(*) AS n_images,
       count(DISTINCT phash) AS phash_distinct
FROM g GROUP BY 1
"""
    golden_vn = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "tests", "golden",
                             "synth_vertex_neighbors.parquet")
    vertex_neighbors = f"""
WITH cells AS (
  SELECT cell_id FROM (
    SELECT DISTINCT ({synth.SYNTH_CELL_SQL.strip()}) AS cell_id
    FROM lineitem)
  ORDER BY {synth.sortable_sql('cell_id')} LIMIT 2000),
g AS (SELECT * FROM read_parquet('{golden_vn}')),
j AS (SELECT c.cell_id,
             unnest(CASE WHEN g.has4 THEN [g.v0, g.v1, g.v2, g.v3]
                         ELSE [g.v0, g.v1, g.v2] END)
                 AS vertex_neighbor_id
      FROM cells c JOIN g ON c.cell_id = g.cell_id)
SELECT cell_id, vertex_neighbor_id,
       {synth.token_sql('vertex_neighbor_id')} AS vn_token
FROM j
"""
    golden_nbrs = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "tests", "golden", "synth_neighbors.parquet")
    nbr_cols = ", ".join(f"g.n{k}" for k in range(8))
    neighbors = f"""
WITH cells AS (
  SELECT cell_id FROM (
    SELECT DISTINCT ({synth.SYNTH_CELL_SQL.strip()}) AS cell_id
    FROM lineitem)
  ORDER BY {synth.sortable_sql('cell_id')} LIMIT 2000),
g AS (SELECT * FROM read_parquet('{golden_nbrs}')),
j AS (SELECT c.cell_id, unnest([{nbr_cols}]) AS neighbor_id
      FROM cells c JOIN g ON c.cell_id = g.cell_id)
SELECT cell_id, neighbor_id,
       {synth.token_sql('neighbor_id')} AS neighbor_token
FROM j
"""
    rv_arms = FX.region_arms_sql("lat, lng", "ptx", params)
    raster_vector = f"""
WITH ptx AS ({FX.PTX_SQL.strip()}),
g AS (SELECT lat, lng, leaf_cell_id FROM read_parquet('{golden}')),
m AS ({rv_arms}),
j AS (SELECT m.region_id, m.lat, m.lng, g.leaf_cell_id
      FROM m JOIN g USING (lat, lng))
SELECT region_id, count(*) AS n_points,
       round(avg(lat), 6) AS avg_lat, round(avg(lng), 6) AS avg_lng,
       {synth.token_sql(synth.parent_sql('leaf_cell_id', 8))} AS tile_token
FROM j GROUP BY region_id, {synth.parent_sql('leaf_cell_id', 8)}
"""
    return {
        "cell_algebra": cell_algebra,
        "cell_children": cell_children,
        "tile_rollup": tile_rollup,
        "tile_rollup_sketch_exact": tile_rollup_sketch_exact,
        "token_roundtrip": token_roundtrip,
        "tile_enumerate": """
WITH r AS (SELECT range AS id FROM range(6144)),
c AS (SELECT CASE WHEN id // 1024 >= 4
             THEN (-9223372036854775807 - 1) + (id // 1024 - 4) * 2305843009213693952
             ELSE (id // 1024) * 2305843009213693952 END
             + 1125899906842624 + (id % 1024) * 2251799813685248 AS cell_id FROM r)
SELECT cell_id,
       regexp_replace(lower(lpad(to_hex(cell_id), 16, '0')), '0+$', '')
           AS token,
       CAST((cell_id >> 61) & 7 AS INT) AS face,
       (30 - bit_count((cell_id & -cell_id) - 1) // 2) AS lvl
FROM c
""",
        "cellunion_intersect": f"""
WITH base AS (SELECT l_orderkey AS ok, l_partkey AS pk,
                     ({synth.SYNTH_CELL_SQL.strip()}) AS sc FROM lineitem),
a AS (SELECT DISTINCT {synth.parent_sql('sc', 8)} AS cell_id
      FROM base WHERE ok % 5 = 0),
b AS (SELECT DISTINCT {synth.parent_sql('sc', 10)} AS cell_id
      FROM base WHERE pk % 3 = 0)
SELECT cell_id FROM b
WHERE {synth.parent_sql('cell_id', 8)} IN (SELECT cell_id FROM a)
""",
        "pip_broadcast": pip,
        "pip_bucketed": pip,
        "pip_salted": pip,
        "pip_planned": pip,
        "pip_polygon": (
            f"WITH ptx AS ({FX.PTX_SQL.strip()})\n"
            + FX.region_arms_sql("point_id", "ptx",
                                 {FX.U_POLY: params[FX.U_POLY]})),
        "pip_buffered": FX.buffered_pip_oracle_sql(),
        "pip_anti": pip_anti,
        "region_stats": region_stats,
        "knn": FX.knn_oracle_sql(),
        "knn_many": FX.knn_many_oracle_sql(),
        "distance_join": _distance_join_sql(),
        "tile_assign": tile_assign,
        "raster_vector": raster_vector,
        "neighbors": neighbors,
        "vertex_neighbors": vertex_neighbors,
        "image_tile_stats_exact": image_tile_stats_exact,
        # frozen media-pipeline fixtures (scripts/make_golden_media.py):
        # each pipeline is deterministic numpy with no binary output
        # columns, so its frozen output IS the value-hash oracle — a
        # codec / resize / phash / rFFT regression trips the driver gate
        "image_pip": _image_pip_sql(),
        "image_components": _image_components_sql(),
        "multimodal_dedup": _multimodal_dedup_sql(),
        "ann_ivf_recall": A.ann_ivf_recall_sql(),
        "ann_ivfpq_recall": A.ann_ivfpq_recall_sql(),
        "image_phash_neardup": f"""
WITH g AS (SELECT image_id, phash
           FROM read_parquet('{os.path.join(
               os.path.dirname(os.path.abspath(__file__)),
               "tests", "golden", "geo_images.parquet")}'))
SELECT a.image_id AS i1, b.image_id AS i2,
       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
FROM g a JOIN g b ON a.image_id < b.image_id
WHERE bit_count(xor(a.phash, b.phash)) <= {_IM.PHASH_HAMMING_MAX}
""",
        "image_resize": _golden_select(
            "resized_images", "image_id, w, h, fmt, phash, caption"),
        "image_verify": _golden_select(
            "image_verify", "image_id, caption, phash_ok, phash_ham, "
                            "pixel_ok, psnr, mean_px"),
        "audio_features": _golden_select(
            "audio_features", "audio_id, caption, duration_sec, "
                              "n_windows, energy_mean, energy_std, "
                              "dominant_hz, spectral_centroid_hz"),
        "video_frames": _golden_select(
            "video_frames", "video_id, frame_idx, ts_sec, mean_px"),
        "dedup_exact": T.DEDUP_EXACT_SQL,
        "dedup_ngram_jaccard": T.NGRAM_JACCARD_SQL,
        "dedup_minhash_lsh": T.minhash_lsh_sql(),
        "simhash": T.simhash_sql(),
        "simhash_pairs": T.simhash_pairs_sql(),
        "lang_id": T.lang_id_sql(),
        "quality_score": T.quality_score_sql(),
        "token_count": T.TOKEN_COUNT_SQL,
        "fingerprint": T.FINGERPRINT_SQL,
        "ann_bruteforce": A.ann_bruteforce_sql(),
        "ann_lsh_buckets": A.lsh_buckets_sql(),
        "ann_lsh": A.ann_lsh_sql(),
        "ann_ivf_buckets": A.ivf_buckets_sql(),
        "ann_ivf": A.ann_ivf_sql(),
        "pq_codes": A.pq_codes_sql(),
        "ann_ivfpq": A.ann_ivfpq_sql(),
        "dedup_components": T.dedup_components_sql(),
        "event_pairs": _event_pairs_sql(),
        "repetition_ratio": T.REPETITION_SQL,
        "bigram_model": T.bigram_model_sql(),
        "lm_quality": T.lm_quality_sql(),
        "source_stats": T.source_stats_sql(),
        "event_props": _EVENT_PROPS_SQL,
        "nation_revenue": _NATION_REVENUE_SQL,
        "brand_revenue": _BRAND_REVENUE_SQL,
        "decontaminate": T.DECONTAM_SQL,
        "dedup_keep_best": T.dedup_keep_best_sql(),
        "stratified_sample": T.stratified_sample_sql(),
        "pii_scan": T.pii_scan_sql(),
        "tfidf_top_terms": T.tfidf_top_terms_sql(),
        "token_quantiles": T.token_quantiles_sql(),
        "corpus_curation": T.corpus_curation_sql(),
        "embedding_similar_pairs": A.embedding_cosine_dedup_sql(),
        "embedding_components": A.embedding_components_sql(),
        "top_tiles": top_tiles,
        "tile_setops": tile_setops,
        "pricing_summary": pricing_summary,
        "top_customers": top_customers,
        "events_window": events_window,
        "event_sessions": _event_sessions_sql(),
    }
