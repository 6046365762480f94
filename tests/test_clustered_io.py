"""Clustered io without discarded work: the writers partition by
sampled range bounds whose sample job runs no Python, so the encode UDF
sees each row once, and covering scans open only the files whose
footer ``cell_sort`` spans overlap the covering."""

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.types import LongType

from s2spark import columns as CC
from s2spark import fixtures as FX
from s2spark import io as IO
from s2spark.kernels import hilbert

SIGN = 1 << 63
M64 = (1 << 64) - 1


def _raw(s: int) -> int:
    """a sortable (signed) id -> the uint64 cell id it orders."""
    return (s ^ SIGN) & M64


def _counted_points(spark, sf_dir):
    """the fixture points with ``cell_id`` from an encode UDF that
    counts the rows it is fed in an accumulator."""
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf(LongType())
    def enc(lat: pd.Series, lng: pd.Series) -> pd.Series:
        acc.add(len(lat))
        ids = hilbert.lat_lng_to_cell_id(lat.to_numpy(np.float64),
                                         lng.to_numpy(np.float64))
        return pd.Series(ids.view(np.int64))

    pts = FX.points_df(spark, sf_dir)
    return pts.withColumn("cell_id", enc("lat", "lng")), acc, pts.count()


def _spans(path):
    """{file: (min, max) cell_sort over its row groups}."""
    out = {}
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.read_metadata(f)
        if not md.num_rows:
            continue
        idx = md.schema.names.index(IO.CELL_SORT_COL)
        st = [md.row_group(i).column(idx).statistics
              for i in range(md.num_row_groups)]
        out[f] = (min(s.min for s in st), max(s.max for s in st))
    return out


@pytest.fixture(scope="module")
def layout16(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layout16"))
    df, _, n = _counted_points(spark, sf_dir)
    IO.write_clustered(df, path, num_files=16)
    return path, n


def test_writers_encode_each_row_once(spark, sf_dir, tmp_path):
    df, acc, n = _counted_points(spark, sf_dir)
    IO.write_clustered(df, str(tmp_path / "clustered"), num_files=4)
    assert acc.value == n

    df, acc, n = _counted_points(spark, sf_dir)
    res = IO.checkpointed_write(spark, lambda chunk: df,
                                str(tmp_path / "ck"), 1,
                                cluster_col="cell_id")
    assert res[0].rows == n
    assert acc.value == n


def test_leaf_bounds_sample_runs_no_python(spark, sf_dir, monkeypatch):
    df, acc, n = _counted_points(spark, sf_dir)
    plans = []
    collect = ClassicDataFrame.collect

    def spy(self):
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return collect(self)

    monkeypatch.setattr(ClassicDataFrame, "collect", spy)
    bounds = CC.leaf_bounds(df, 16, "cell_id")
    monkeypatch.undo()

    assert len(plans) == 1
    assert "Python" not in plans[0], plans[0]
    assert acc.value == 0
    assert 0 < len(bounds) <= 15 and bounds == sorted(set(bounds))


def test_sixteen_files_disjoint_and_balanced(layout16):
    path, n = layout16
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) == 16
    rows = [pq.read_metadata(f).num_rows for f in files]
    assert sum(rows) == n
    assert max(rows) <= 1.25 * np.mean(rows), rows
    spans = sorted(_spans(path).values())
    assert all(a_hi < b_lo for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]))


def test_covering_scan_opens_only_overlapping_files(spark, layout16):
    path, _ = layout16
    spans = _spans(path)
    order = sorted(spans.values())
    # one range inside the 4th file, one across the 9th/10th boundary
    ranges = [(order[3][0] + 1, order[3][1] - 1),
              (order[8][1] - 1, order[9][0] + 1)]
    want = {f for f, (mn, mx) in spans.items()
            if any(lo <= mx and mn <= hi for lo, hi in ranges)}
    assert len(want) == 3

    scan = IO.scan_cell_ranges(spark, path,
                               [(_raw(lo), _raw(hi)) for lo, hi in ranges])
    got = {os.path.realpath(f.removeprefix("file:"))
           for f in scan.inputFiles()}
    assert got == {os.path.realpath(f) for f in want}

    c = F.col(IO.CELL_SORT_COL)
    twin = spark.read.parquet(path).where(
        c.between(*ranges[0]) | c.between(*ranges[1]))
    assert sorted(map(tuple, scan.collect())) \
        == sorted(map(tuple, twin.collect()))
    assert scan.count() > 0


def test_scan_of_no_file_runs_no_job(spark, layout16):
    path, _ = layout16
    top = max(mx for _, mx in _spans(path).values())
    assert top < SIGN - 1000
    sc = spark.sparkContext
    group = "s2spark-scan-nothing"
    sc.setJobGroup(group, group)
    try:
        scan = IO.scan_cell_ranges(spark, path,
                                   [(_raw(top + 1), _raw(top + 1000))])
        assert scan.collect() == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert scan.schema == spark.read.parquet(path).schema


def test_scan_over_listing_threshold_reads_the_path(spark, layout16):
    """more overlapping files than Spark lists without a job: the scan
    reads the whole path instead, still building without a job."""
    path, _ = layout16
    order = sorted(_spans(path).values())
    lo, hi = order[2][0], order[5][1]   # 4 files
    sc = spark.sparkContext
    group = "s2spark-scan-many"
    old = spark.conf.get(IO.LISTING_THRESHOLD)
    spark.conf.set(IO.LISTING_THRESHOLD, "2")
    sc.setJobGroup(group, group)
    try:
        scan = IO.scan_cell_ranges(spark, path, [(_raw(lo), _raw(hi))])
        scan.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(IO.LISTING_THRESHOLD, old)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert len(scan.inputFiles()) == 16
    c = F.col(IO.CELL_SORT_COL)
    assert scan.count() == spark.read.parquet(path).where(
        c.between(lo, hi)).count()


def test_empty_input_writes_readable_table(spark, sf_dir, tmp_path):
    df, _, _ = _counted_points(spark, sf_dir)
    empty = df.where(F.lit(False))
    out = str(tmp_path / "empty")
    IO.write_clustered(empty, out, num_files=4)
    back = spark.read.parquet(out)
    assert back.count() == 0
    assert back.schema == empty.withColumn(
        IO.CELL_SORT_COL, CC.sortable("cell_id")).schema
    assert IO.scan_cell_ranges(spark, out, [(0, M64)]).count() == 0

    res = IO.checkpointed_write(spark, lambda chunk: empty,
                                str(tmp_path / "ck"), 1,
                                cluster_col="cell_id")
    assert res[0].rows == 0
    assert IO.read_checkpointed(spark, str(tmp_path / "ck")).count() == 0
