#!/usr/bin/env python
"""spark-submit entry point for the flagship tile+join pipeline.

Usage (the north rule's deployment shape — BASELINE.json):

    python scripts/make_pyfiles.py                 # -> dist/s2spark.zip
    spark-submit --master local[8] \
        --py-files dist/s2spark.zip \
        scripts/flagship_submit.py <points_parquet> <out_dir> [chunks]

Reads a parquet point table (point_id, lat, lng), S2-encodes, assigns
tiles, joins against the fixture regions, and writes per-(region,
tile) aggregates through the resumable manifest-checkpointed sink
(re-running after a kill resumes from the last committed chunk).
"""

import sys

from pyspark.sql import functions as F


def main() -> None:
    points_path = sys.argv[1]
    out_dir = sys.argv[2]
    num_chunks = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from s2spark import fixtures as FX
    from s2spark import io as SIO
    from s2spark import joins as J
    from s2spark.session import make_session

    spark = make_session(None)

    cov_rows = J.compute_coverings(FX.region_objects())
    params = FX.region_params()
    base = spark.read.parquet(points_path)

    def df_for_chunk(chunk: int):
        pts = base.where(F.pmod(F.col("point_id"), num_chunks) == chunk)
        return J.raster_vector_align(pts, cov_rows, params, level=8)

    results = SIO.checkpointed_write(spark, df_for_chunk, out_dir,
                                     num_chunks)
    done = sum(1 for r in results if not r.skipped)
    skipped = sum(1 for r in results if r.skipped)
    rows = sum(r.rows for r in results)
    print(f"s2spark flagship: {rows} output rows across {num_chunks} "
          f"chunks ({done} computed, {skipped} resumed-over)")
    spark.stop()


if __name__ == "__main__":
    main()
