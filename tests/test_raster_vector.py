"""raster_vector_align (map-side stab path) cross-checked against the
same per-(region, tile) aggregate built over the independent bucketed
broadcast-hash PIP join: same rows, same (region_id, tile_token,
n_points), averages within 1e-6."""

import math

import pytest
from pyspark.sql import functions as F

from s2spark import columns as CC
from s2spark import fixtures as FX
from s2spark import joins as J


@pytest.fixture(scope="module")
def pieces():
    return J.compute_coverings(FX.region_objects()), FX.region_params()


def _bucketed_align(points, cov_rows, params, level=8):
    cov_df = J.coverings_df(points.sparkSession, cov_rows, bucket_level=8)
    # the bucket join emits (region_id, point_id); lat, lng and cell_id
    # come from joining the points back on point_id. The fixture
    # repeats point_ids (5,992 distinct of 6,000 at sf0.001), so both
    # sides key on a hash of the whole row instead.
    keyed = points.withColumn("point_id",
                              F.xxhash64("point_id", "lat", "lng"))
    matched = J.pip_join_bucketed(keyed, cov_df, params)
    pts = J.with_cell_id(matched.join(
        keyed.select("point_id", "lat", "lng"), "point_id"))
    return pts.withColumn("tile_id", CC.parent("cell_id", level)) \
        .groupBy("region_id", "tile_id") \
        .agg(F.count("*").alias("n_points"),
             F.round(F.avg("lat"), 6).alias("avg_lat"),
             F.round(F.avg("lng"), 6).alias("avg_lng")) \
        .withColumn("tile_token", CC.token("tile_id")) \
        .drop("tile_id")


def _by_key(df):
    return {(r.region_id, r.tile_token): (r.n_points, r.avg_lat, r.avg_lng)
            for r in df.collect()}


def _points(spark, sf_dir, source):
    if source == "fixture":
        return FX.points_df(spark, sf_dir)
    import bench
    return bench.synthetic_points(spark, 200_000) \
        .sample(False, 0.5, seed=20261017)


@pytest.mark.parametrize("source", ["fixture", "hot_city"])
def test_align_matches_bucketed_path(spark, sf_dir, pieces, source):
    cov_rows, params = pieces
    pts = _points(spark, sf_dir, source)
    got = _by_key(J.raster_vector_align(pts, cov_rows, params, level=8))
    ref = _by_key(_bucketed_align(pts, cov_rows, params, level=8))
    assert got, "fixture regions must catch some points"
    assert got.keys() == ref.keys()
    # faces 4-5 set bit 63: their tokens lead with hex digit >= 8
    assert any(int(tok[0], 16) >= 8 for _, tok in got)
    for k, (n, lat, lng) in got.items():
        n_ref, lat_ref, lng_ref = ref[k]
        assert n == n_ref, k
        assert math.isclose(lat, lat_ref, abs_tol=1e-6 + 1e-9), k
        assert math.isclose(lng, lng_ref, abs_tol=1e-6 + 1e-9), k
