"""Hilbert-clustered storage pruning (SURVEY §4.3, VERDICT r3 item 4):
a covering-range scan over a `write_clustered` layout must read only
the row groups whose min/max overlap the range — pinned against the
same data written randomly ordered, which reads everything.

At 100 TB this layout is the difference between scanning a tile and
scanning the planet. The same stored `cell_sort` min/max stats drive
FILE-level skipping: `scan_cell_ranges` reads the footers and opens
only the overlapping files (tests/test_clustered_io.py pins that), and
the file-prunability half is asserted from the parquet footers
directly here."""

import glob

import pytest
from pyspark.sql import functions as F

from s2spark import columns as CC
from s2spark import io as IO
from s2spark import fixtures as FX
from s2spark.joins import with_cell_id

SIGN = 1 << 63
M64 = (1 << 64) - 1


def _scan_metrics(df):
    """execute `df` and return (rows_returned, scan numOutputRows)."""
    rows = df.collect()
    leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    metrics = {}
    it = leaf.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    return len(rows), metrics


def test_covering_range_scan_prunes_row_groups(spark, sf_dir, tmp_path):
    pts = with_cell_id(FX.points_df(spark, sf_dir))
    total = pts.count()

    clustered = str(tmp_path / "clustered")
    shuffled = str(tmp_path / "shuffled")
    IO.write_clustered(pts, clustered, num_files=16)
    # identical data, identical file count, Hilbert-hostile order
    pts.withColumn(IO.CELL_SORT_COL, CC.sortable("cell_id")) \
        .repartition(16, "point_id") \
        .write.mode("overwrite").parquet(shuffled)

    # covering range: the level-2 ancestor of the first point's cell
    first = pts.select("cell_id").first()["cell_id"]
    u = first & M64
    lsb2 = 1 << (2 * (30 - 2))
    parent2 = (u & ~(2 * lsb2 - 1)) | lsb2
    lo, hi = parent2 - (lsb2 - 1), parent2 + (lsb2 - 1)

    n_c, m_c = _scan_metrics(IO.scan_cell_ranges(spark, clustered, [(lo, hi)]))
    n_s, m_s = _scan_metrics(IO.scan_cell_ranges(spark, shuffled, [(lo, hi)]))

    # same answer from both layouts, and the range is a real subset
    assert n_c == n_s
    assert 0 < n_c < total

    # clustered: only overlapping row groups are read; shuffled: every
    # row group overlaps (random order), so the scan reads ~everything
    assert m_s["numOutputRows"] >= int(0.9 * total)
    assert m_c["numOutputRows"] <= max(2 * total // 16, 2 * n_c), (
        f"clustered scan read {m_c['numOutputRows']} of {total} rows")

    # the range predicate reached the parquet reader
    plan = IO.scan_cell_ranges(spark, clustered, [(lo, hi)]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert IO.CELL_SORT_COL in plan.split("PushedFilters", 1)[1][:200]


def test_clustered_files_are_min_max_prunable(spark, sf_dir, tmp_path):
    """file-level half (what Iceberg/Delta skipping would use): in the
    clustered layout, files partition the Hilbert range, so a narrow
    range overlaps few files' [min, max] intervals."""
    import pyarrow.parquet as pq

    pts = with_cell_id(FX.points_df(spark, sf_dir))
    clustered = str(tmp_path / "clustered2")
    IO.write_clustered(pts, clustered, num_files=16)

    spans = []
    for f in glob.glob(f"{clustered}/part-*.parquet"):
        md = pq.read_metadata(f)
        idx = md.schema.names.index(IO.CELL_SORT_COL)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) > 4

    # file spans must be (nearly) disjoint: total overlap pairs small
    spans.sort()
    overlaps = sum(1 for (a, b), (c, d) in zip(spans, spans[1:]) if c <= b)
    assert overlaps <= 1, f"file Hilbert spans overlap: {spans}"

    # a range as wide as one file's span overlaps at most 2 files
    lo, hi = spans[len(spans) // 2]
    hit = sum(1 for a, b in spans if a <= hi and b >= lo)
    assert hit <= 2


def test_covering_scan_composes_with_pip(spark, sf_dir, tmp_path):
    """the 100 TB read path end to end: points written
    Hilbert-clustered, one region's COVERING turned into its
    [range_min, range_max] intervals, scan_cell_ranges pulls exactly
    the candidate rows the full-table filter would — while reading a
    fraction of the row groups ("scan the tile, not the planet")."""
    import numpy as np

    from s2spark import fixtures as FX
    from s2spark import joins as J
    from s2spark.kernels import cellops

    pts = with_cell_id(FX.points_df(spark, sf_dir))
    clustered = str(tmp_path / "clustered_pip")
    IO.write_clustered(pts, clustered, num_files=16)
    total = pts.count()

    cov_rows = J.compute_coverings(FX.region_objects())
    read_frac = []
    nonempty = 0
    for rid in sorted({r[0] for r in cov_rows}):
        if nonempty >= 3:
            break
        cells = np.array([r[1] for r in cov_rows if r[0] == rid],
                         dtype=np.uint64)
        ranges = list(zip(cellops.range_min(cells).tolist(),
                          cellops.range_max(cells).tolist()))
        scan = IO.scan_cell_ranges(spark, clustered, ranges)
        got = sorted(r["point_id"] for r in scan.collect())

        # twin: full-table filter with the same intervals
        m, metrics = _scan_metrics(scan)
        sortable = F.col("cell_id").bitwiseXOR(F.lit(-(2 ** 63)))
        pred = None
        for lo, hi in ranges:
            u = lambda x: x - (1 << 64) if x >= (1 << 63) else x
            los = u(lo ^ (1 << 63))
            his = u(hi ^ (1 << 63))
            p = sortable.between(F.lit(los), F.lit(his))
            pred = p if pred is None else (pred | p)
        exp = sorted(r["point_id"]
                     for r in pts.where(pred).collect())
        assert got == exp
        if got:
            nonempty += 1
            read_frac.append(metrics["numOutputRows"] / total)

    # at least two regions actually matched rows at this sf, and each
    # covering read touched a minority of the table's rows
    assert nonempty >= 2
    assert max(read_frac) < 0.55, read_frac


def _raw_range(lo, hi):
    """sortable (signed) bounds -> the uint64 cell-id range they span."""
    return ((lo ^ SIGN) & M64, (hi ^ SIGN) & M64)


def _sorts_in(spark, path, lo, hi):
    """cell_sort values in [lo, hi] from a plain inferring read."""
    return sorted(s for s in (r[IO.CELL_SORT_COL]
                              for r in spark.read.parquet(path).collect())
                  if lo <= s <= hi)


@pytest.fixture(scope="module")
def clustered_small(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("clustered_small"))
    IO.write_clustered(with_cell_id(FX.points_df(spark, sf_dir)), path,
                       num_files=4)
    return path


def test_covering_scan_plans_without_spark_jobs(spark, clustered_small):
    """building a covering scan over a Spark-written layout reads the
    schema from the parquet footer: no schema-inference job before the
    action, and the same schema as an inferring read."""
    sorts = _sorts_in(spark, clustered_small, -SIGN, SIGN - 1)
    lo, hi = sorts[len(sorts) // 4], sorts[len(sorts) // 2]

    sc = spark.sparkContext
    group = "s2spark-scan-build"
    sc.setJobGroup(group, group)
    try:
        scan = IO.scan_cell_ranges(spark, clustered_small,
                                   [_raw_range(lo, hi)])
        schema = scan.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert schema == spark.read.parquet(clustered_small).schema

    got = sorted(r[IO.CELL_SORT_COL] for r in scan.collect())
    assert got == [s for s in sorts if lo <= s <= hi]


def test_empty_covering_scans_nothing(spark, clustered_small):
    """an empty covering matches no row: an empty DataFrame with the
    table's schema, not a crash on `.where(None)`."""
    scan = IO.scan_cell_ranges(spark, clustered_small, [])
    assert scan.schema == spark.read.parquet(clustered_small).schema
    assert scan.count() == 0


def test_covering_scan_without_spark_footer(spark, tmp_path):
    """files with no Spark schema in their footer (written by pyarrow),
    and a path that is a single file, fall back to an inferring read
    and still return exactly the rows in range."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(3)
    ids = rng.integers(0, 2 ** 64, size=2000, dtype=np.uint64)
    sort = np.sort((ids ^ np.uint64(SIGN)).view(np.int64))
    d = tmp_path / "pyarrow_written"
    d.mkdir()
    for k, part in enumerate(np.array_split(sort, 2)):
        pq.write_table(pa.table({IO.CELL_SORT_COL: part,
                                 "k": np.arange(len(part)) + k * len(sort)}),
                       str(d / f"part-{k}.parquet"))
    lo, hi = int(sort[300]), int(sort[1200])   # spans both files

    for path in (str(d), str(d / "part-0.parquet")):
        scan = IO.scan_cell_ranges(spark, path, [_raw_range(lo, hi)])
        got = sorted(r[IO.CELL_SORT_COL] for r in scan.collect())
        assert got and got == _sorts_in(spark, path, lo, hi), path
        assert scan.schema == spark.read.parquet(path).schema
