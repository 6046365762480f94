"""Deterministic geo fixtures shared by the Spark engine and the
DuckDB oracle (FIXTURES.md §6, __spark_entry__.py contract).

The driver testdata has no geo columns, so points are derived from
``lineitem`` by integer/float arithmetic that BOTH engines evaluate
bit-identically, and query regions are module-level constants whose
exact-geometry SQL predicates are *generated from the same floats*
(``s2spark.kernels.regions`` documents the formula discipline).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s2spark.geometry import (
    Cap,
    LatLngRect,
    SimplePolygon,
    latlng_to_point,
)

DEG = 0.017453292519943295  # pi/180 — inlined in SQL and numpy alike

# ---------------------------------------------------------------------------
# derived point table (lineitem -> point_id, lat, lng)
# ---------------------------------------------------------------------------

POINTS_SQL = """
SELECT l_orderkey * 1000000 + l_partkey * 100 + l_suppkey AS point_id,
       ((l_orderkey % 170) - 85) + l_discount AS lat,
       ((l_partkey % 360) - 180) + l_tax AS lng
FROM lineitem
"""


def points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the Spark twin of POINTS_SQL (same op order -> same float bits)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return li.select(
        (F.col("l_orderkey") * F.lit(1000000)
         + F.col("l_partkey") * F.lit(100)
         + F.col("l_suppkey")).alias("point_id"),
        ((F.col("l_orderkey") % F.lit(170) - F.lit(85))
         + F.col("l_discount")).alias("lat"),
        ((F.col("l_partkey") % F.lit(360) - F.lit(180))
         + F.col("l_tax")).alias("lng"),
    )


# ---------------------------------------------------------------------------
# query regions (constants; ids unique across kinds)
# ---------------------------------------------------------------------------

# caps: (region_id, lat, lng, radius_rad) — spread over all 6 faces,
# incl. the sign-bit faces (southern/western hemispheres), the ±180°
# seam, and a near-pole cap; radii span 3 orders of magnitude.
CAPS = [
    (1, 40.7128, -74.0060, 0.03),     # NYC area (face 4)
    (2, 51.5074, -0.1278, 0.012),     # London (face 1 edge)
    (3, -33.8688, 151.2093, 0.02),    # Sydney (southern)
    (4, 35.6762, 139.6503, 0.25),     # Tokyo, large cap
    (5, -1.2921, 36.8219, 0.004),     # Nairobi, small
    (6, 10.3, 179.65, 0.05),          # straddles the ±180° seam
    (7, 83.4, 12.0, 0.08),            # near the north pole (face 2)
    (8, -62.7, -58.4, 0.06),          # Antarctic (face 5)
]

# rects: (region_id, lat_lo, lat_hi, lng_lo, lng_hi) degrees;
# lng_lo > lng_hi wraps the seam.
RECTS = [
    (11, 38.377, 42.613, -9.481, -2.917),    # Iberia
    (12, -25.143, -14.221, 123.509, 137.846),  # outback
    (13, 9.218, 23.741, 175.312, -173.577),  # wraps ±180°
    (14, -55.913, -48.402, -75.118, -63.209),  # Patagonia (face 5)
    (15, 59.307, 71.883, 4.412, 31.157),     # Scandinavia
    (16, -3.913, 3.442, -62.517, -51.873),   # Amazon (equator)
]

# an 8-point star around (52, 58): alternating outer/inner radii
def _star_vertices(center_lat, center_lng, r_out, r_in, points=8):
    out = []
    for k in range(2 * points):
        ang = math.pi * k / points
        r = r_out if k % 2 == 0 else r_in
        out.append((center_lat + r * math.sin(ang),
                    center_lng + r * math.cos(ang)
                    / math.cos(math.radians(center_lat))))
    return out


# simple polygons: (region_id, [(lat, lng), ...]) vertex rings, all
# ``SimplePolygon``s (crossing-parity containment, either winding):
# convex rings 21-23 (23 crosses the seam), the star 24, and a
# concave, NOT star-shaped U/horseshoe 25 around (−18, −47) — points
# deep in one arm cannot see the other arm from any interior point.
POLYS = [
    (21, [(30.117, -10.413), (30.117, 10.413), (45.221, 14.332),
          (52.416, 0.117), (45.221, -14.332)]),
    (22, [(-20.311, 140.213), (-30.223, 150.448), (-20.311, 160.316),
          (-12.117, 150.448)]),
    (23, [(-5.113, -179.211), (5.317, -172.419), (12.116, -179.211),
          (5.317, 174.108), (-5.113, 174.108)]),
    (24, _star_vertices(52.113, 58.277, 6.1, 2.3)),
    (25, [(-22.117, -49.813), (-22.117, -44.209), (-14.321, -44.209),
          (-14.321, -46.117), (-20.213, -46.117), (-20.213, -48.023),
          (-14.321, -48.023), (-14.321, -49.813)]),
]
U_POLY = 25  # the concave, non-star ring ``pip_polygon`` joins against


def region_objects() -> dict[int, object]:
    """region_id -> geometry object (coverer input)."""
    out: dict[int, object] = {}
    for rid, lat, lng, rad in CAPS:
        out[rid] = Cap.from_lat_lng_radius(lat, lng, rad)
    for rid, lat_lo, lat_hi, lng_lo, lng_hi in RECTS:
        out[rid] = LatLngRect.from_degrees(lat_lo, lng_lo, lat_hi, lng_hi)
    for rid, verts in POLYS:
        out[rid] = SimplePolygon(verts)
    return out


def region_params() -> dict[int, tuple[str, list[float]]]:
    """region_id -> (kind, params) for the vectorized verify kernels.

    cap:  [ax, ay, az, cos_radius]
    rect: [lat_lo, lat_hi, lng_lo, lng_hi]   (degrees; lo>hi wraps)
    spoly: 10 floats per edge (``SimplePolygon.crossing_params``)
    """
    out: dict[int, tuple[str, list[float]]] = {}
    for rid, lat, lng, rad in CAPS:
        ax, ay, az = latlng_to_point(lat, lng)
        out[rid] = ("cap", [ax, ay, az, math.cos(rad)])
    for rid, lat_lo, lat_hi, lng_lo, lng_hi in RECTS:
        out[rid] = ("rect", [lat_lo, lat_hi, lng_lo, lng_hi])
    for rid, verts in POLYS:
        out[rid] = ("spoly", SimplePolygon(verts).crossing_params())
    return out


# ---------------------------------------------------------------------------
# oracle SQL generation (exact same formulas as kernels/regions.py)
# ---------------------------------------------------------------------------

PTX_SQL = f"""
SELECT point_id, lat, lng,
       cos(lng * {DEG!r}) * cos(lat * {DEG!r}) AS px,
       sin(lng * {DEG!r}) * cos(lat * {DEG!r}) AS py,
       sin(lat * {DEG!r}) AS pz,
       lng - 360.0 * floor((lng + 180.0) / 360.0) AS lngn
FROM ({POINTS_SQL.strip()})
"""


def region_predicate_sql(kind: str, params: list[float]) -> str:
    """exact containment predicate over (lat, lng, px, py, pz, lngn)
    for one ``region_params`` entry."""
    if kind == "cap":
        ax, ay, az, cosr = params
        return f"(({ax!r}) * px + ({ay!r}) * py + ({az!r}) * pz >= ({cosr!r}))"
    if kind == "rect":
        lat_lo, lat_hi, lng_lo, lng_hi = params
        lat_p = f"(lat >= ({lat_lo!r}) AND lat <= ({lat_hi!r}))"
        if lng_lo > lng_hi:
            lng_p = f"(lngn >= ({lng_lo!r}) OR lngn <= ({lng_hi!r}))"
        else:
            lng_p = f"(lngn >= ({lng_lo!r}) AND lngn <= ({lng_hi!r}))"
        return f"({lat_p} AND {lng_p})"
    if kind == "spoly":
        arms = []
        for t in range(0, len(params), 10):
            nx, ny, nz, acb, ux, uy, uz, wx, wy, wz = params[t:t + 10]
            arms.append(
                f"(CASE WHEN ({acb!r}) * (({nx!r}) * px + ({ny!r}) * py"
                f" + ({nz!r}) * pz) > 0.0"
                f" AND ({acb!r}) * (({ux!r}) * px + ({uy!r}) * py"
                f" + ({uz!r}) * pz) > 0.0"
                f" AND ({acb!r}) * (({wx!r}) * px + ({wy!r}) * py"
                f" + ({wz!r}) * pz) > 0.0 THEN 1 ELSE 0 END)")
        return "((" + " + ".join(arms) + ") % 2 = 1)"
    raise ValueError(f"unknown region kind {kind!r}")


def region_arms_sql(cols: str, source: str,
                    params: dict[int, tuple[str, list[float]]]) -> str:
    """one ``SELECT region_id, {cols} FROM {source}`` arm per region,
    filtered by its exact predicate, as a UNION ALL (ascending ids)."""
    return "\nUNION ALL\n".join(
        f"SELECT CAST({rid} AS BIGINT) AS region_id, {cols} FROM {source} "
        f"WHERE {region_predicate_sql(*params[rid])}"
        for rid in sorted(params))


def pip_oracle_sql() -> str:
    """brute-force exact point-in-region join: every (region, point)
    containment pair — the oracle for BOTH Spark join variants."""
    return (f"WITH ptx AS ({PTX_SQL.strip()})\n"
            + region_arms_sql("point_id", "ptx", region_params()))


BUFFER_RAD = 0.01  # radius dilation for the buffered-PIP query


def buffered_cap_objects() -> dict[int, object]:
    """the cap fixtures dilated by BUFFER_RAD (``Cap.expanded`` — the
    buffer/kNN-bound primitive, SURVEY.md §2.4 cap ops)."""
    return {rid: Cap.from_lat_lng_radius(lat, lng, rad).expanded(BUFFER_RAD)
            for rid, lat, lng, rad in CAPS}


def buffered_cap_params() -> dict[int, tuple[str, list[float]]]:
    """verify params for the dilated caps. The exact predicate uses
    cos(expanded angle) where the expansion goes through the same
    height arithmetic as ``Cap.expanded`` (so Spark and the oracle SQL
    share the identical constant)."""
    out = {}
    for rid, lat, lng, rad in CAPS:
        cap = Cap.from_lat_lng_radius(lat, lng, rad).expanded(BUFFER_RAD)
        ax, ay, az = cap.axis
        out[rid] = ("cap", [ax, ay, az, math.cos(cap.angle())])
    return out


def buffered_pip_oracle_sql() -> str:
    return (f"WITH ptx AS ({PTX_SQL.strip()})\n"
            + region_arms_sql("point_id", "ptx", buffered_cap_params()))


# ---------------------------------------------------------------------------
# kNN query fixture (constants in both engines)
# ---------------------------------------------------------------------------

# (query_id, lat, lng, k) — dense spots and empty ocean (multi-ring)
KNN_QUERIES = [
    (1, 40.713, -74.006, 5),
    (2, 51.507, -0.128, 1),
    (3, -33.869, 151.209, 10),
    (4, 0.412, -140.317, 25),    # mid-Pacific: sparse, wide disk
    (5, 83.1, 11.4, 5),          # near-pole
    (6, 10.2, 179.8, 5),         # seam
    (7, -62.5, -58.3, 50),       # Antarctic
    (8, 35.676, 139.650, 50),
]


KNN_MANY_MOD = 61   # queries = points with point_id % 61 == 0
KNN_MANY_K = 3


def knn_many_queries_sql() -> str:
    """deterministic large query set derived from the point table:
    one query per point_id divisible by KNN_MANY_MOD (duplicate
    point_ids collapsed with min — the id packing collides)."""
    return (f"SELECT point_id AS query_id, min(lat) AS qlat, "
            f"min(lng) AS qlng FROM ({POINTS_SQL.strip()}) "
            f"WHERE point_id % {KNN_MANY_MOD} = 0 GROUP BY 1")


def knn_many_oracle_sql() -> str:
    """brute-force exact kNN over the derived query table."""
    return f"""
WITH ptx AS ({PTX_SQL.strip()}),
q AS ({knn_many_queries_sql()}),
qx AS (
  SELECT query_id,
         cos(qlng * {DEG!r}) * cos(qlat * {DEG!r}) AS qx,
         sin(qlng * {DEG!r}) * cos(qlat * {DEG!r}) AS qy,
         sin(qlat * {DEG!r}) AS qz
  FROM q
),
d AS (
  SELECT query_id, point_id,
         (qx - px) * (qx - px) + (qy - py) * (qy - py)
         + (qz - pz) * (qz - pz) AS dist2
  FROM qx CROSS JOIN ptx
),
r AS (
  SELECT query_id, point_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist2, point_id) AS rnk
  FROM d
)
SELECT query_id, point_id, CAST(rnk AS INT) AS rnk
FROM r WHERE rnk <= {KNN_MANY_K}
"""


def knn_oracle_sql() -> str:
    """brute-force exact kNN with (dist2, point_id) tie-break."""
    q_rows = ", ".join(f"({qid}, {lat!r}, {lng!r}, {k})"
                       for qid, lat, lng, k in KNN_QUERIES)
    return f"""
WITH ptx AS ({PTX_SQL.strip()}),
q(query_id, qlat, qlng, k) AS (VALUES {q_rows}),
qx AS (
  SELECT query_id, k,
         cos(qlng * {DEG!r}) * cos(qlat * {DEG!r}) AS qx,
         sin(qlng * {DEG!r}) * cos(qlat * {DEG!r}) AS qy,
         sin(qlat * {DEG!r}) AS qz
  FROM q
),
d AS (
  SELECT query_id, k, point_id,
         (qx - px) * (qx - px) + (qy - py) * (qy - py)
         + (qz - pz) * (qz - pz) AS dist2
  FROM qx CROSS JOIN ptx
),
r AS (
  SELECT query_id, point_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist2, point_id) AS rnk, k
  FROM d
)
SELECT query_id, point_id, CAST(rnk AS INT) AS rnk FROM r WHERE rnk <= k
"""
