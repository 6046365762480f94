"""Targeted hot-tile salting: identical join output to the unsalted
variants, hot buckets detected from the Zipfian fixture."""

from pyspark.sql import functions as F

from s2spark import fixtures as FX
from s2spark import joins as J
from s2spark import plan as P


def _pip_rows(df):
    return sorted((r[0], r[1]) for r in df.collect())


def test_targeted_salting_equivalence(spark, sf_dir):
    """with NO salts (an empty salt map) and with a hand-made salt on
    every covering bucket, the join still matches the broadcast one."""
    cov_rows = J.compute_coverings(FX.region_objects())
    params = FX.region_params()
    pts = FX.points_df(spark, sf_dir)
    cov_df = J.coverings_df(spark, cov_rows, bucket_level=4)
    ref = _pip_rows(J.pip_join_broadcast(pts, cov_rows, params))

    none = spark.createDataFrame([], "sb long, factor int")
    assert _pip_rows(P.pip_join_salted_targeted(
        pts, cov_df, params, none, bucket_level=4)) == ref

    every = cov_df.select(F.col("bucket").alias("sb")).distinct() \
        .selectExpr("sb", "3 AS factor")
    assert _pip_rows(P.pip_join_salted_targeted(
        pts, cov_df, params, every, bucket_level=4)) == ref


def test_targeted_salting_df_salt_map(spark, sf_dir):
    """the DataFrame salt-map form (scale path, no driver dict —
    VERDICT r5 item 6) must produce the identical join output."""
    cov_rows = J.compute_coverings(FX.region_objects())
    params = FX.region_params()
    pts = FX.points_df(spark, sf_dir)
    cov_df = J.coverings_df(spark, cov_rows, bucket_level=4)
    hot = P.hot_bucket_salts_df(pts, bucket_level=4,
                                sample_fraction=None)
    got = sorted((r[0], r[1]) for r in P.pip_join_salted_targeted(
        pts, cov_df, params, hot, bucket_level=4).collect())
    ref = sorted((r[0], r[1]) for r in J.pip_join_broadcast(
        pts, cov_rows, params).collect())
    assert got == ref


def test_hot_bucket_detection_on_skewed_points(spark):
    """the bench generator's hot-city mix must trip the detector."""
    import bench
    pts = bench.synthetic_points(spark, 200_000)
    salts = {r["sb"]: r["factor"] for r in P.hot_bucket_salts_df(
        pts, bucket_level=4, sample_fraction=0.2).collect()}
    assert salts, "hot-city fixture should produce skewed buckets"
    assert all(2 <= s <= 16 for s in salts.values())


def test_strategy_choice(spark):
    """all three planner outcomes: a covering that fits a broadcast
    never probes skew; past the limit, a flat point set shuffles with
    plain salting and a hot bucket gets targeted salting."""
    # 12 points in 12 distinct level-4 buckets: no bucket is hot
    flat = spark.createDataFrame(
        [(i, -50.0 + 9.0 * i, -170.0 + 29.0 * i) for i in range(12)],
        "point_id long, lat double, lng double")
    # plus 60 points around one spot: that bucket is 6x the mean
    skewed = flat.unionAll(spark.createDataFrame(
        [(100 + i, 48.85 + 1e-4 * i, 2.35) for i in range(60)],
        "point_id long, lat double, lng double"))
    big = P.BROADCAST_COVERING_LIMIT + 1

    assert P.choose_pip_plan(skewed, 1000, bucket_level=4) == \
        ("bucketed", None)

    strategy, hot = P.choose_pip_plan(flat, big, bucket_level=4,
                                      sample_fraction=None)
    assert strategy == "salted" and hot.collect() == []
    hot.unpersist()

    strategy, hot = P.choose_pip_plan(skewed, big, bucket_level=4,
                                      sample_fraction=None)
    factors = [r["factor"] for r in hot.collect()]
    hot.unpersist()
    assert strategy == "salted_targeted"
    assert len(factors) == 1 and 2 <= factors[0] <= 16
