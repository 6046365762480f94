"""The PIP shuffle arm: the bucket join as a sort-merge join whose hot
bucket partitions AQE's skew-join rule splits, and the router that
picks it over the map-side stab only when the covering is too big.
Every arm must return the stab's rows. Also the anti form, which runs
the same stab, and the verify stage's region kinds."""

import numpy as np
import pandas as pd
import pytest

from s2spark import fixtures as FX
from s2spark import joins as J


@pytest.fixture(scope="module")
def pieces():
    return J.compute_coverings(FX.region_objects()), FX.region_params()


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _final_plan(df) -> str:
    """executed adaptive plan of a DataFrame already collected."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=false" not in plan
    return plan.split("== Initial Plan ==")[0]


def test_bucket_join_defaults_match_stab(spark, sf_dir, pieces):
    """coverings_df and pip_join_bucketed called with their default
    bucket levels key on the same prefix and find every match."""
    cov_rows, params = pieces
    pts = FX.points_df(spark, sf_dir)
    ref = _rows(J.pip_join_broadcast(pts, cov_rows, params))
    got = _rows(J.pip_join_bucketed(pts, J.coverings_df(spark, cov_rows),
                                    params))
    assert ref and got == ref


def test_pip_salted_is_bucket_sort_merge(spark, sf_dir):
    """the shuffle arm runs as the shuffle it claims: a sort-merge join
    with both sides hash-partitioned on the cell-id bucket, never
    demoted by AQE to a broadcast, and one encode pass."""
    import __spark_entry__ as E

    df = E.queries()["pip_salted"](spark, sf_dir)
    df.collect()
    plan = _final_plan(df)
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning(_bucket#" in plan
    assert "Exchange hashpartitioning(bucket#" in plan
    assert "BroadcastHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("ArrowEvalPython [s2_cell_id(") == 1


def test_hot_bucket_skew_split(spark, pieces):
    """half the points at one spot inside a region: AQE splits the hot
    bucket's partition (and copies its covering slice), and the rows
    still equal the stab's."""
    cov_rows, params = pieces
    n = 200_000
    rng = np.random.default_rng(20261018)
    lat = rng.uniform(-60.0, 75.0, n)
    lng = rng.uniform(-180.0, 180.0, n)
    hot = np.arange(n) % 2 == 0
    lat[hot] = 51.5074 + rng.uniform(-0.01, 0.01, int(hot.sum()))
    lng[hot] = -0.1278 + rng.uniform(-0.01, 0.01, int(hot.sum()))
    pts = spark.createDataFrame(pd.DataFrame(
        {"point_id": np.arange(n, dtype=np.int64), "lat": lat, "lng": lng}))
    confs = {"spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
             "256KB",
             "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB"}
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = J.pip_join_bucketed(pts, J.coverings_df(spark, cov_rows),
                                 params, broadcast_covering=False)
        got = _rows(df)
        plan = _final_plan(df)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "SortMergeJoin(skew=true)" in plan
    assert got == _rows(J.pip_join_broadcast(pts, cov_rows, params))


def test_router_arms(spark, sf_dir, pieces, monkeypatch):
    """a covering within the limit takes the shuffle-free stab; with
    the limit at 0 the router takes the sort-merge arm. Same rows."""
    cov_rows, params = pieces
    pts = FX.points_df(spark, sf_dir)
    stab = J.pip_join(pts, cov_rows, params)
    ref = _rows(stab)
    # a broadcast is not a shuffle: the grid prefilter broadcasts keys
    assert not [ln for ln in _final_plan(stab).splitlines()
                if "Exchange" in ln and "BroadcastExchange" not in ln]
    monkeypatch.setattr(J, "BROADCAST_COVERING_LIMIT", 0)
    merge = J.pip_join(pts, cov_rows, params)
    got = _rows(merge)
    assert "SortMergeJoin" in _final_plan(merge)
    assert ref and got == ref


def test_pip_anti_judges_rows_not_ids(spark, pieces):
    """two rows share a point_id: one inside cap 1 (NYC), one far from
    every region. The anti form keeps the far row."""
    cov_rows, params = pieces
    pts = spark.createDataFrame(
        [(7, 40.7128, -74.006), (7, -40.0, 100.0)],
        "point_id long, lat double, lng double")
    assert _rows(J.pip_anti(pts, cov_rows, params)) == [(7, -40.0, 100.0)]


def test_verify_matches_rejects_unknown_kind():
    lat = np.array([10.0])
    lng = np.array([20.0])
    params = {99: ("triangle", [0.0] * 9)}
    with pytest.raises(ValueError, match="region 99.*'triangle'"):
        J.verify_matches(lat, lng, np.array([99]), params)
