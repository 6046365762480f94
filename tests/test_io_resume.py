"""Resumable checkpointed writes: kill mid-job -> resume -> identical
final output (SURVEY.md §5.2-6); manifest lineage + row-count metrics."""

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from s2spark import io as SIO
from s2spark.fixtures import points_df
from s2spark.joins import with_cell_id

N_CHUNKS = 4


def _chunk_fn(spark, sf_dir):
    base = with_cell_id(points_df(spark, sf_dir))

    def df_for_chunk(chunk: int):
        return base.where(F.pmod(F.col("point_id"), N_CHUNKS) == chunk)

    return df_for_chunk


def result_fingerprint(df):
    """order-insensitive content hash of a DataFrame: interrupted and
    resumed output must fingerprint-equal a clean run."""
    h = df.select(F.xxhash64(*sorted(df.columns)).alias("h")) \
        .agg(F.expr("bit_xor(h)").alias("s"),
             F.count("*").alias("n")).collect()[0]
    return (h["s"] or 0, h["n"])


def write_bucketed_table(df, table: str, bucket_col: str,
                         n_buckets: int) -> None:
    """persist ``df`` as a Hive-bucketed parquet table on
    ``bucket_col`` (SURVEY §4.3 storage partitioning)."""
    df.write.mode("overwrite").format("parquet") \
        .bucketBy(n_buckets, bucket_col).saveAsTable(table)


def test_resume_after_crash(spark, sf_dir, tmp_path):
    out_clean = str(tmp_path / "clean")
    out_crash = str(tmp_path / "crash")
    fn = _chunk_fn(spark, sf_dir)

    clean = SIO.checkpointed_write(spark, fn, out_clean, N_CHUNKS,
                                   cluster_col="cell_id")
    assert all(not c.skipped for c in clean)

    # crash after 2 chunks
    with pytest.raises(RuntimeError, match="injected failure"):
        SIO.checkpointed_write(spark, fn, out_crash, N_CHUNKS,
                               cluster_col="cell_id", fail_after=2)
    m = SIO.read_manifest(out_crash)
    assert len(m["chunks"]) == 2  # snapshot: only committed chunks

    # resume: completed chunks skipped, remainder recomputed
    resumed = SIO.checkpointed_write(spark, fn, out_crash, N_CHUNKS,
                                     cluster_col="cell_id")
    assert [c.skipped for c in resumed] == [True, True, False, False]

    a = SIO.read_checkpointed(spark, out_clean)
    b = SIO.read_checkpointed(spark, out_crash)
    assert result_fingerprint(a) == result_fingerprint(b)

    # lineage + metrics recorded
    m = SIO.read_manifest(out_crash)
    assert set(m["chunks"]) == {str(i) for i in range(N_CHUNKS)}
    total = sum(v["rows"] for v in m["chunks"].values())
    assert total == a.count()
    # the crashed call never finished, so only the resuming call's
    # chunks (2 and 3) are in the completed-call row total
    assert m["accumulator_rows"] == sum(c.rows for c in resumed[2:]) \
        == m["chunks"]["2"]["rows"] + m["chunks"]["3"]["rows"]
    for k, v in m["chunks"].items():
        assert v["files"] and v["lineage"]["num_chunks"] == N_CHUNKS
        # footer row counts == what Spark reads back from the chunk
        assert v["rows"] == spark.read.parquet(
            os.path.join(out_crash, f"chunk={k}")).count()


def test_snapshot_isolation(spark, sf_dir, tmp_path):
    """an uncommitted chunk directory is invisible to readers."""
    out = str(tmp_path / "iso")
    fn = _chunk_fn(spark, sf_dir)
    SIO.checkpointed_write(spark, fn, out, 2)
    # fake a partially-written (uncommitted) chunk
    os.makedirs(os.path.join(out, "chunk=9"), exist_ok=True)
    fn(0).limit(5).write.mode("overwrite") \
        .parquet(os.path.join(out, "chunk=9"))
    df = SIO.read_checkpointed(spark, out)
    committed = sum(v["rows"]
                    for v in SIO.read_manifest(out)["chunks"].values())
    assert df.count() == committed


def test_hilbert_clustered_files(spark, sf_dir, tmp_path):
    """routing each chunk by range id over sampled leaf bounds
    (``repartitionById``) yields files with disjoint cell-id ranges
    (min/max prunable)."""
    out = str(tmp_path / "clust")
    fn = _chunk_fn(spark, sf_dir)
    SIO.checkpointed_write(spark, fn, out, 1, cluster_col="cell_id")
    import pyarrow.parquet as pq
    from s2spark import columns as CC  # noqa: F401
    chunk_dir = os.path.join(out, "chunk=0")
    ranges = []
    for f in sorted(os.listdir(chunk_dir)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(chunk_dir, f), columns=["cell_id"])
        ids = t["cell_id"].to_numpy()
        if len(ids) == 0:
            continue
        s = (ids.astype("int64") ^ -(2 ** 63))
        ranges.append((s.min(), s.max()))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo  # disjoint sortable ranges


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """SURVEY §4.3: two tables bucketed on the same tile key must
    hash-join with ZERO Exchange (the pre-bucketed co-located join —
    at 100 TB the shuffle is paid once at write time, not per query).
    The bucketed join result equals the plain shuffle join."""
    from s2spark import columns as CC
    from s2spark import synth

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    base = li.select(F.col("l_orderkey").alias("k"),
                     synth.synth_cell_col().alias("cell_id")) \
        .withColumn("tile", CC.parent("cell_id", 8))
    left = base.groupBy("tile").agg(F.count("*").alias("n_left"))
    right = base.where(F.col("k") % 2 == 0).groupBy("tile") \
        .agg(F.count("*").alias("n_right"))
    old_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        write_bucketed_table(left, "t_left", "tile", n_buckets=8)
        write_bucketed_table(right, "t_right", "tile", n_buckets=8)
        j = spark.table("t_left").join(spark.table("t_right"), "tile")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        expected = sorted(map(tuple, left.join(right, "tile").collect()))
        assert sorted(map(tuple, j.collect())) == expected
    finally:
        spark.sql("DROP TABLE IF EXISTS t_left")
        spark.sql("DROP TABLE IF EXISTS t_right")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
                       old_threshold)


def test_snapshot_log_and_time_travel(spark, sf_dir, tmp_path):
    """r5 Iceberg-parity surface: every chunk commit appends a
    snapshot; reading `as_of` an earlier snapshot reproduces exactly
    that table state (committed chunk dirs are immutable), including
    across a crash + resume."""
    import pytest as _pytest

    out = str(tmp_path / "snap")
    fn = _chunk_fn(spark, sf_dir)
    with _pytest.raises(RuntimeError, match="injected failure"):
        SIO.checkpointed_write(spark, fn, out, N_CHUNKS, fail_after=2)
    SIO.checkpointed_write(spark, fn, out, N_CHUNKS)

    snaps = SIO.snapshots(out)
    assert [s["snapshot_id"] for s in snaps] == [1, 2, 3, 4]
    # chunk sets strictly grow and are prefixes of each other
    for a, b in zip(snaps, snaps[1:]):
        assert set(a["chunks"]) < set(b["chunks"])

    m = SIO.read_manifest(out)
    for s in snaps:
        df = SIO.read_checkpointed(spark, out, as_of=s["snapshot_id"])
        expect = sum(m["chunks"][str(c)]["rows"] for c in s["chunks"])
        assert df.count() == expect
    # latest == as_of last snapshot == plain read
    latest = SIO.read_checkpointed(spark, out)
    assert result_fingerprint(latest) == result_fingerprint(
        SIO.read_checkpointed(spark, out, as_of=snaps[-1]["snapshot_id"]))
    with _pytest.raises(ValueError, match="no snapshot 99"):
        SIO.read_checkpointed(spark, out, as_of=99)
