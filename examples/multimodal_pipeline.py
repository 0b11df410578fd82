"""Multimodal ingestion pipeline: sniff -> route -> decode -> features.

Demonstrates the full binary-payload path on REAL decodable media
(uncompressed formats need no codec library): P6 PPM images, PCM WAV
audio, and P6-stream video. Declared formats are deliberately
unreliable — routing uses magic-bytes sniffing, the standard defense
against mislabeled uploads at ingestion scale. Payload bytes never
shuffle: every stage is a scan-side expression or a
partition-preserving mapInPandas transform.

Run: python examples/multimodal_pipeline.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dbldatagen_spark import local_session
from dbldatagen_spark.functions import (
    detect_media_types,
    extract_audio_features,
    resize_ppm_images,
    sample_video_frames,
)
from dbldatagen_spark.functions.multimodal import (
    extract_image_features,
    synthesize_ppm_table,
    synthesize_ppm_video_table,
    synthesize_wav_table,
)


def main() -> None:
    spark = local_session("multimodal-pipeline")
    spark.sparkContext.setLogLevel("WARN")

    # ------------------------------------------------------------------
    # 1. A mixed-media landing table with unreliable declared types
    # ------------------------------------------------------------------
    images = synthesize_ppm_table(spark, rows=200, partitions=4, size=8) \
        .withColumn("declared", F.lit("ppm"))
    audio = synthesize_wav_table(spark, rows=200, partitions=4) \
        .withColumn("media_id", F.col("media_id") + 1000) \
        .withColumn("declared", F.lit("riff"))
    video = synthesize_ppm_video_table(spark, rows=100, partitions=4) \
        .withColumn("media_id", F.col("media_id") + 2000) \
        .withColumn("declared", F.when(F.col("media_id") % 7 == 0,
                                       F.lit("jpeg"))  # planted lies
                    .otherwise(F.lit("ppm")))
    landing = images.union(audio).union(video)

    # ------------------------------------------------------------------
    # 2. Sniff actual formats in the scan; quarantine mismatches
    # ------------------------------------------------------------------
    sniffed = detect_media_types(landing, "media_id", "payload",
                                 declared_col="declared")
    mismatched = sniffed.where("type_mismatch").count()
    print(f"declared-vs-actual mismatches quarantined: {mismatched}")

    routed = landing.join(
        sniffed.select("media_id", "detected_type"), "media_id"
    )

    # ------------------------------------------------------------------
    # 3. Route by ACTUAL type into the real decode paths
    # ------------------------------------------------------------------
    # note: single-frame PPM and P6-stream video share the magic; route
    # video by id-space here (a real pipeline carries a container hint)
    imgs = routed.where((F.col("detected_type") == "ppm")
                        & (F.col("media_id") < 1000))
    feats = extract_image_features(imgs.select("media_id", "payload"))
    print("image features:", feats.count(),
          "mean gray std:", round(feats.agg(F.avg("std_gray")).first()[0], 2))

    resized = resize_ppm_images(imgs.select("media_id", "payload"),
                                target_width=4, target_height=4)
    print("resized images:", resized.count())

    wavs = routed.where(F.col("detected_type") == "riff")
    afeats = extract_audio_features(wavs.select("media_id", "payload"))
    print("audio clips:", afeats.count(),
          "mean RMS:", round(afeats.agg(F.avg("rms")).first()[0], 3))

    vids = routed.where((F.col("detected_type") == "ppm")
                        & (F.col("media_id") >= 2000))
    frames = sample_video_frames(vids.select("media_id", "payload"), every_n=4)
    print("sampled video frames:", frames.count())

    spark.stop()


if __name__ == "__main__":
    main()
