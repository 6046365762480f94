#!/usr/bin/env python
"""Generate FROZEN media-pipeline fixtures (VERDICT r2 item 4):

  tests/golden/resized_images.parquet  — resize_images(synth 500, 16x16)
  tests/golden/audio_features.parquet  — audio_features(synth 300)
  tests/golden/video_frames.parquet    — sample_frames(synth 200)
  tests/golden/image_verify.parquet    — verify_images(synth 500)

Every pipeline is deterministic pure-numpy over deterministic
synthetic payloads and its OUTPUT has no binary columns, so freezing
the output gives each query a DuckDB value-hash oracle: a silent
regression in the generator, a codec, the resize kernel, the phash
DCT, or the rFFT DSP trips the driver gate, not just pytest.
Do NOT regenerate casually (FROZEN — a regenerate would mask a
kernel regression)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tests", "golden")


def main() -> None:
    from s2spark import images as IM
    from s2spark import multimodal as MM
    from s2spark.session import make_session

    spark = make_session(8)

    jobs = {
        "resized_images": IM.resize_images(IM.synth_images(spark, 500),
                                           16, 16)
        .select("image_id", "w", "h", "fmt", "phash", "caption"),
        "audio_features": MM.audio_features(MM.synth_audio(spark, 300)),
        "video_frames": MM.sample_frames(MM.synth_video(spark, 200)),
        "image_verify": IM.verify_images(IM.synth_images(spark, 500)),
    }
    for name, df in jobs.items():
        out = os.path.join(GOLDEN, f"{name}.parquet")
        pdf = df.toPandas().sort_values(df.columns[:2]) \
            .reset_index(drop=True)
        pdf.to_parquet(out, compression="zstd", index=False)
        print(f"wrote {out}: {len(pdf)} rows, "
              f"{os.path.getsize(out) / 1e3:.1f} KB")
    spark.stop()


if __name__ == "__main__":
    main()
