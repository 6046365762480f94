#!/usr/bin/env python
"""spark-submit entry point for the IMAGE+caption ingest pipeline —
the north rule's shape end to end (BASELINE.json): a parquet table of
image+caption rows (image_id, bytes, w, h, fmt, caption, phash, lat,
lng) is decoded and VERIFIED per row (exact pixels for lossless
codecs, PSNR >= 40 dB for lossy, phash recompute, caption equality
rides through), geo-tiled via the S2 encode, point-in-region joined
against the fixture regions, and aggregated per (region, tile) —
written through the resumable manifest-checkpointed sink with
Hilbert-clustered files, per-chunk lineage, and per-chunk row
counts. Re-running after a kill resumes from the last committed
chunk.

Usage:

    python scripts/make_pyfiles.py                 # -> dist/s2spark.zip
    spark-submit --master local[8] \
        --py-files dist/s2spark.zip \
        scripts/image_submit.py <images_parquet> <out_dir> [chunks]

Rows failing the decode invariant are COUNTED and excluded (the
training-ingest quarantine gate), not silently passed through.
"""

import sys

from pyspark.sql import functions as F


def main() -> None:
    images_path = sys.argv[1]
    out_dir = sys.argv[2]
    num_chunks = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    from s2spark import columns as CC
    from s2spark import fixtures as FX
    from s2spark import images as IM
    from s2spark import io as SIO
    from s2spark import joins as J
    from s2spark.session import make_session
    from s2spark.text import md5_int64

    spark = make_session(None)

    cov_rows = J.compute_coverings(FX.region_objects())
    params = FX.region_params()
    base = spark.read.parquet(images_path)
    bad_rows = spark.sparkContext.accumulator(0)

    def df_for_chunk(chunk: int):
        # per-row invariant gate: decode + PSNR/exact-pixel + phash
        # recompute (BASELINE.json input_hint); caption equality is
        # carried as a 60-bit hash into the per-(region, tile) XOR
        # checksum so a caption corruption anywhere flips the output
        idx = F.substring("image_id", 4, 12).cast("long")
        imgs = base.where(F.pmod(idx, num_chunks) == chunk)
        v = IM.verify_images(imgs).select("image_id", "pixel_ok")
        n_bad = v.where(~F.col("pixel_ok")).count()
        if n_bad:
            bad_rows.add(n_bad)
        ok = v.where(F.col("pixel_ok")).select("image_id")
        pts = imgs.join(ok, "image_id").select(
            idx.alias("point_id"), "lat", "lng", "phash",
            md5_int64(F.col("caption")).alias("caption_h"))
        m = J.pip_join_broadcast(
            pts, cov_rows, params,
            extra_cols=("phash", "caption_h"), emit_cell_id=True)
        df = m.groupBy(
            F.col("region_id"),
            CC.parent("cell_id", 6).alias("tile_id")) \
            .agg(F.count("*").alias("n_images"),
                 F.count_distinct("phash").alias("phash_distinct"),
                 F.expr("bit_xor(caption_h)").alias("caption_crc"))
        return df.withColumn("tile_token", CC.token("tile_id")) \
            .select("region_id", "tile_id", "tile_token", "n_images",
                    "phash_distinct", "caption_crc")

    results = SIO.checkpointed_write(spark, df_for_chunk,
                                     out_dir, num_chunks,
                                     cluster_col="tile_id")
    done = sum(1 for r in results if not r.skipped)
    skipped = sum(1 for r in results if r.skipped)
    rows = sum(r.rows for r in results)
    print(f"s2spark image-ingest: {rows} output rows across "
          f"{num_chunks} chunks ({done} computed, {skipped} "
          f"resumed-over); {bad_rows.value} rows failed the decode "
          f"invariant")
    spark.stop()


if __name__ == "__main__":
    main()
