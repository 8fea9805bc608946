"""Multimodal pipeline on the engine: video -> frames -> resize ->
features -> exact dedup, all real byte-layout codecs (no PIL/ffmpeg).

    videos (RIFF/AVI DIB)  -> sample every 2nd frame  -> image rows
    image rows             -> nearest-neighbor resize -> 8x8 thumbs
    thumbnails             -> pixel feature vectors   -> exact dedup

Synthetic corpus: 12 deterministic videos, where some share identical
frames -- the dedup stage finds the duplicate thumbnails by feature
fingerprint, exactly how a pretraining pipeline drops repeated stills.

Run: python examples/media_pipeline.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from pyspark.sql import functions as F

from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    encode_avi,
    extract_features,
    resize_images,
    sample_video_frames,
)
from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.session import (
    get_spark,
)


def main() -> None:
    spark = get_spark(app_name="media-pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    # 12 videos, 4 frames each; videos i and i+6 share frame content so
    # the dedup stage has real duplicates to find
    rng = np.random.RandomState(42)
    bases = [rng.randint(0, 256, size=(4, 12, 16, 3), dtype=np.uint8) for _ in range(6)]
    rows = [
        (i, "video", bytearray(encode_avi(bases[i % 6], fps=10)),
         {"width": 16, "height": 12, "duration_ms": 400, "codec": "avi"})
        for i in range(12)
    ]
    videos = spark.createDataFrame(rows, MEDIA_SCHEMA)

    frames = sample_video_frames(videos, every_n=2)          # real AVI decode
    thumbs = resize_images(frames, 8, 8)                      # real NN resample
    feats = extract_features(thumbs, decode="image")          # real pixel features

    print("== sampled thumbnails with pixel features ==")
    feats.select(
        "media_id",
        (F.col("media_id") / 1_000_000).cast("long").alias("video_id"),
        (F.col("media_id") % 1_000_000).alias("frame_idx"),
        F.col("feature")[5].alias("energy_mod_997"),
    ).orderBy("media_id").show(6)

    print("== duplicate stills by feature fingerprint ==")
    fingerprinted = feats.select(
        "media_id", F.sha2(F.concat_ws(",", "feature"), 256).alias("fp")
    )
    dups = (
        fingerprinted.groupBy("fp")
        .agg(F.count("*").alias("n"), F.sort_array(F.collect_list("media_id")).alias("media_ids"))
        .filter(F.col("n") > 1)
        .orderBy("media_ids")
    )
    dups.show(6, truncate=False)
    n_dup_groups = dups.count()
    print(f"duplicate still groups: {n_dup_groups} "
          f"(expected 12: 6 shared videos x 2 sampled frames each)")

    # -- perceptual tier: byte/feature fingerprints miss RE-PROCESSED
    # copies (noise, re-leveling); the perceptual hashes catch them --
    from sfguide_intro_to_cdc_using_snowflake_postgres_connector_dynamic_tables_spark.operators.multimodal import (
        audio_fingerprints,
        encode_wav,
        phash_near_dup,
        video_hash_seq,
        video_near_dup,
    )

    print("== perceptual video near-dup (noised re-encode of video 0) ==")
    big = rng.randint(0, 256, size=(4, 32, 32, 3), dtype=np.uint8)
    noised = big.copy()
    noised[:, ::7, ::7] = ((noised[:, ::7, ::7].astype(int) + 7) % 256).astype(np.uint8)
    vids = spark.createDataFrame(
        [
            (100, "video", bytearray(encode_avi(big, fps=10)), None),
            (101, "video", bytearray(encode_avi(noised, fps=10)), None),
            (102, "video", bytearray(
                encode_avi(rng.randint(0, 256, size=(4, 32, 32, 3), dtype=np.uint8), fps=10)
            ), None),
        ],
        MEDIA_SCHEMA,
    )
    video_near_dup(video_hash_seq(vids), max_dist=4, min_frac=0.8).show()

    print("== perceptual audio near-dup (half-volume re-encode of clip 0) ==")
    t = np.arange(4000)
    tone = lambda f, amp: (amp * np.sin(2 * np.pi * f * t / 8000)).astype(np.int16)
    clips = spark.createDataFrame(
        [
            (200, "audio", bytearray(encode_wav(tone(440, 3000), 8000)), None),
            (201, "audio", bytearray(encode_wav(tone(440, 1400), 8000)), None),
            (202, "audio", bytearray(encode_wav(tone(1333, 3000), 8000)), None),
        ],
        MEDIA_SCHEMA,
    )
    phash_near_dup(
        audio_fingerprints(clips), max_dist=4, hash_col="afp"
    ).show()

    spark.stop()


if __name__ == "__main__":
    main()
