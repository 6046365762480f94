"""spark-submit --py-files deployment smoke (BASELINE.json
north_rule deployment shape): package the engine, run the flagship
job script through real spark-submit on a small input, then resume it
and confirm committed chunks are skipped."""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_make_pyfiles_main_prints_nothing(capsys, monkeypatch):
    """``__spark_entry__._ensure_shipped`` calls ``main()`` inside the
    first ``queries()`` call when the zip is stale, so ``main()`` must
    not write to a stdout the caller may own; only the script prints
    the path."""
    monkeypatch.syspath_prepend(os.path.join(ROOT, "scripts"))
    import make_pyfiles
    out = make_pyfiles.main()
    assert os.path.exists(out)
    assert capsys.readouterr().out == ""


@pytest.mark.slow
def test_spark_submit_pyfiles(tmp_path, spark, sf_dir):
    from s2spark.fixtures import points_df
    pts_path = str(tmp_path / "pts")
    points_df(spark, sf_dir).write.parquet(pts_path)

    zip_path = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles.py")],
        capture_output=True, text=True, check=True).stdout.strip()
    assert os.path.exists(zip_path)

    spark_submit = os.path.join(os.path.dirname(sys.executable),
                                "spark-submit")
    if not os.path.exists(spark_submit):
        import pyspark
        spark_submit = os.path.join(os.path.dirname(pyspark.__file__),
                                    "bin", "spark-submit")
    out_dir = str(tmp_path / "out")
    cmd = [spark_submit, "--master", "local[2]",
           "--py-files", zip_path,
           os.path.join(ROOT, "scripts", "flagship_submit.py"),
           pts_path, out_dir, "2"]
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable}
    r = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "2 computed, 0 resumed-over" in r.stdout

    manifest = json.load(open(os.path.join(out_dir,
                                           "_s2spark_manifest.json")))
    assert set(manifest["chunks"]) == {"0", "1"}

    # resume: rerunning skips every committed chunk
    r2 = subprocess.run(cmd, capture_output=True, text=True, env=env,
                        timeout=600)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "0 computed, 2 resumed-over" in r2.stdout


@pytest.mark.slow
def test_image_submit_pyfiles_resume(tmp_path, spark):
    """the IMAGE+caption ingest pipeline (north-rule shape: decode
    invariant gate -> S2 tile -> PIP join -> per-(region, tile) agg)
    through real spark-submit --py-files, resumable: second run skips
    every committed chunk; totals match an in-process run."""
    from pyspark.sql import functions as F

    from s2spark import fixtures as FX
    from s2spark import images as IM
    from s2spark import joins as J

    imgs_path = str(tmp_path / "imgs")
    IM.synth_images(spark, 300).write.parquet(imgs_path)

    zip_path = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "make_pyfiles.py")],
        capture_output=True, text=True, check=True).stdout.strip()
    spark_submit = os.path.join(os.path.dirname(sys.executable),
                                "spark-submit")
    if not os.path.exists(spark_submit):
        import pyspark
        spark_submit = os.path.join(os.path.dirname(pyspark.__file__),
                                    "bin", "spark-submit")
    out_dir = str(tmp_path / "out")
    cmd = [spark_submit, "--master", "local[2]",
           "--py-files", zip_path,
           os.path.join(ROOT, "scripts", "image_submit.py"),
           imgs_path, out_dir, "3"]
    env = {**os.environ, "PYSPARK_PYTHON": sys.executable}
    r = subprocess.run(cmd, capture_output=True, text=True, env=env,
                       timeout=600)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "3 computed, 0 resumed-over" in r.stdout
    assert "0 rows failed the decode invariant" in r.stdout

    # totals match the in-process (unchunked) pipeline
    cov_rows = J.compute_coverings(FX.region_objects())
    params = FX.region_params()
    pts = IM.synth_images(spark, 300, with_bytes=False).select(
        F.substring("image_id", 4, 12).cast("long").alias("point_id"),
        "lat", "lng")
    expected_matches = J.pip_join_broadcast(pts, cov_rows,
                                            params).count()
    from s2spark import io as SIO
    got = SIO.read_checkpointed(spark, out_dir)
    assert got.agg(F.sum("n_images")).collect()[0][0] == expected_matches

    r2 = subprocess.run(cmd, capture_output=True, text=True, env=env,
                        timeout=600)
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert "0 computed, 3 resumed-over" in r2.stdout
