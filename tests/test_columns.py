"""Column-expression cell algebra ≡ numpy kernels (SURVEY.md §2.2).

Every bit-math op must agree between the JVM (Catalyst codegen) and
the numpy twin on ids from all 6 faces — the sign-bit faces 4/5 are
the risk area (SURVEY.md §7.3-1).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from s2spark import columns as CC
from s2spark.kernels import cellops as C
from s2spark.kernels import hilbert as H

RNG = np.random.default_rng(7)


@pytest.fixture(scope="module")
def id_df(spark):
    lat = RNG.uniform(-90, 90, 5000)
    lng = RNG.uniform(-180, 180, 5000)
    leaf = H.lat_lng_to_cell_id(lat, lng)
    # mix of levels incl. sign-bit faces
    ids = np.concatenate([
        leaf,
        C.parent(leaf[:1000], 12),
        C.parent(leaf[:1000], 4),
        C.parent(leaf[:500], 0),
    ])
    pdf = pd.DataFrame({"id": ids.view(np.int64)})
    df = spark.createDataFrame(pdf)
    return df, ids


def _col_vs_np(df, col, expected):
    got = np.array([r[0] for r in df.select(col.alias("x")).collect()])
    np.testing.assert_array_equal(got, expected)


def test_level(id_df):
    df, ids = id_df
    _col_vs_np(df, CC.level("id"), C.level(ids))


def test_parent(id_df):
    df, ids = id_df
    for lvl in (0, 3, 12):
        leafish = ids[C.level(ids) >= lvl]
        sub = df.where(CC.level("id") >= lvl)
        got = np.array([r[0] for r in
                        sub.select(CC.parent("id", lvl).alias("x")).collect()])
        np.testing.assert_array_equal(np.sort(got.view(np.uint64)),
                                      np.sort(C.parent(leafish, lvl)))


def test_range_and_contains(id_df):
    df, ids = id_df
    _col_vs_np(df, CC.range_min("id"), C.range_min(ids).view(np.int64))
    _col_vs_np(df, CC.range_max("id"), C.range_max(ids).view(np.int64))
    got = np.array([r[0] for r in df.select(
        CC.contains(CC.parent(F.col("id"), 0), F.col("id")).alias("x")).collect()])
    assert got.all()


def test_face_token_valid(id_df):
    df, ids = id_df
    _col_vs_np(df, CC.face("id"), (ids >> np.uint64(61)).astype(np.int64))
    got = [r[0] for r in df.select(CC.token("id").alias("x")).collect()]
    assert got == list(C.to_token(ids))
    # token round-trip through the Column parser
    rt = np.array([r[0] for r in
                   df.select(CC.from_token(CC.token("id")).alias("x")).collect()])
    np.testing.assert_array_equal(rt.view(np.uint64), ids)
    got = np.array([r[0] for r in df.select(CC.is_valid("id").alias("x")).collect()])
    assert got.all()


def test_sortable_ordering(id_df, spark):
    df, ids = id_df
    got = np.array([r[0] for r in
                    df.orderBy(CC.sortable("id")).select("id").collect()])
    np.testing.assert_array_equal(got.view(np.uint64), np.sort(ids))


def test_driver_sortable_matches_column(id_df):
    """the driver-side sign flip, scalar and array form, equals the
    Column ``sortable`` on ids from all 6 faces, whether the ids come
    as uint64 or as their signed int64 view."""
    df, ids = id_df
    assert set((ids >> np.uint64(61)).tolist()) == set(range(6))
    want = np.array([r[0] for r in
                     df.select(CC.sortable("id").alias("x")).collect()])
    signed = ids.view(np.int64)
    np.testing.assert_array_equal(C.sortable(ids), want)
    np.testing.assert_array_equal(C.sortable(signed), want)
    assert [C.sortable_int(int(u)) for u in ids] == want.tolist()
    assert [C.sortable_int(int(x)) for x in signed] == want.tolist()


def test_children_and_advance(id_df):
    df, ids = id_df
    lvl12 = df.where(CC.level("id") == 12)
    ids12 = ids[C.level(ids) == 12]
    got = np.array([r[0] for r in lvl12.select(
        CC.children_array("id", 13).alias("x")).collect()], dtype=np.int64)
    np.testing.assert_array_equal(np.sort(got.view(np.uint64), axis=None),
                                  np.sort(C.children(ids12), axis=None))
    got = np.array([r[0] for r in lvl12.select(
        CC.advance("id", 1).alias("x")).collect()])
    np.testing.assert_array_equal(np.sort(got.view(np.uint64)),
                                  np.sort(C.advance(ids12, 1)))


def test_udf_encode_matches_kernel(spark):
    from s2spark.udfs import s2_cell_id, s2_to_lat_lng
    lat = RNG.uniform(-90, 90, 3000)
    lng = RNG.uniform(-180, 180, 3000)
    pdf = pd.DataFrame({"lat": lat, "lng": lng})
    df = spark.createDataFrame(pdf)
    out = df.select(s2_cell_id("lat", "lng").alias("cid")).toPandas()
    np.testing.assert_array_equal(out["cid"].to_numpy(np.int64),
                                  H.lat_lng_to_cell_id(lat, lng).view(np.int64))
    # decode UDF round-trips
    dec = df.select(s2_cell_id("lat", "lng").alias("cid")) \
            .select("cid", s2_to_lat_lng("cid").alias("ll")) \
            .select("cid", "ll.lat", "ll.lng").toPandas()
    re = H.lat_lng_to_cell_id(dec["lat"].to_numpy(), dec["lng"].to_numpy())
    np.testing.assert_array_equal(re.view(np.int64),
                                  dec["cid"].to_numpy(np.int64))


def test_codegen_no_udf_in_tile_path(spark, id_df):
    """tile assignment (parent) must be pure codegen — no Python eval."""
    df, _ = id_df
    plan = df.select(CC.parent("id", 10).alias("t"))._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_wrap_traversal_columns(spark):
    """next_wrap / prev_wrap / advance_wrap / child_position Column ops
    match the uint64 reference model (``CellId.next_wrap`` etc.),
    including the face-5-end -> face-0-begin wrap."""
    M64 = (1 << 64) - 1

    def u(x):
        return x & M64

    def i64(x):
        x &= M64
        return x - (1 << 64) if x >= (1 << 63) else x

    WRAP = 6 << 61
    lvl = 12
    lsb12 = 1 << (2 * (30 - lvl))

    def py_next_wrap(cid):
        cu = u(cid)
        n = u(cu + 2 * (cu & (-cu & M64)))
        return i64(n - WRAP) if n >= WRAP else i64(n)

    def py_prev_wrap(cid):
        cu = u(cid)
        p = u(cu - 2 * (cu & (-cu & M64)))
        return i64(p + WRAP) if p >= WRAP else i64(p)

    def py_adv(cid, n):
        sh = 2 * (30 - lvl) + 1
        total = 6 * 4 ** lvl
        return i64((((u(cid) >> sh) + n) % total) << sh | lsb12)

    def py_next(cid):
        cu = u(cid)
        return i64(cu + 2 * (cu & (-cu & M64)))

    def py_prev(cid):
        cu = u(cid)
        return i64(cu - 2 * (cu & (-cu & M64)))

    ids = [lsb12, i64(WRAP - lsb12),                       # begin, end
           i64(4 << 61 | (77 << 37) | lsb12),              # face 4
           (3 << 61) | (12345 << 37) | lsb12,              # face 3
           (1 << 63) - lsb12,                              # face-3 LAST
           (0 << 61) | ((4 ** lvl - 1) << 37) | lsb12]     # face-0 last
    df = spark.createDataFrame([(i,) for i in ids], "cell_id long")
    out = df.select(
        "cell_id",
        CC.next_cell("cell_id").alias("nc"),
        CC.prev_cell("cell_id").alias("pc"),
        CC.next_wrap("cell_id").alias("nw"),
        CC.prev_wrap("cell_id").alias("pw"),
        CC.advance_wrap("cell_id", 123456789, lvl).alias("aw"),
        CC.advance_wrap("cell_id", 6 * 4 ** lvl, lvl).alias("aident"),
        CC.child_position("cell_id", lvl).alias("cp"),
    ).collect()
    for r in out:
        cid = r["cell_id"]
        assert r["nc"] == py_next(cid)
        assert r["pc"] == py_prev(cid)
        assert r["nw"] == py_next_wrap(cid)
        assert r["pw"] == py_prev_wrap(cid)
        assert r["aw"] == py_adv(cid, 123456789)
        assert r["aident"] == cid          # full cycle == identity
        assert r["cp"] == (u(cid) >> (2 * (30 - lvl) + 1)) & 3
        # wrap round-trips
        assert py_prev_wrap(r["nw"]) == cid


def test_wrap_traversal_random_batch(spark):
    """5000 random valid ids at random levels: Column wrap ops equal
    the uint64 reference model in one vectorized pass."""
    M64 = (1 << 64) - 1
    rng = np.random.default_rng(23)
    lat = rng.uniform(-89.9, 89.9, 5000)
    lng = rng.uniform(-180, 180, 5000)
    leaves = H.lat_lng_to_cell_id(lat, lng)
    lvls = rng.integers(1, 31, 5000)
    ids = np.empty(5000, dtype=np.uint64)
    for lvl in np.unique(lvls):
        m = lvls == lvl
        ids[m] = C.parent(leaves[m], int(lvl))
    ids_i64 = ids.view(np.int64)

    def u(x):
        return int(x) & M64

    def i64(x):
        x &= M64
        return x - (1 << 64) if x >= (1 << 63) else x

    WRAP = 6 << 61

    df = spark.createDataFrame([(int(i),) for i in ids_i64],
                               "cell_id long")
    out = df.select("cell_id",
                    CC.next_wrap("cell_id").alias("nw"),
                    CC.prev_wrap("cell_id").alias("pw")).collect()
    for r in out:
        cu = u(r["cell_id"])
        l = cu & (-cu & M64)
        n = (cu + 2 * l) & M64
        p = (cu - 2 * l) & M64
        assert r["nw"] == i64(n - WRAP if n >= WRAP else n)
        assert r["pw"] == i64(p + WRAP if p >= WRAP else p)
