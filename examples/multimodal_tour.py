"""Tour of the multimodal surface on the sf0.001 testdata: opaque
binary columns (image/audio/video) with typed metadata, decode /
resize / frame-sample kernels, and perceptual near-dup across all
three modalities via the shared 60-bit fingerprint machinery.

The reference ships image-centric examples (examples/imagenet,
examples/mnist); this is the Spark-first equivalent over the engine's
own pure-python codecs — no PIL/ffmpeg needed.

    PYTHONPATH=. python examples/multimodal_tour.py
"""

import numpy as np
from pyspark.sql import functions as F

from petastorm_spark.functions.pure_png import png_encode
from petastorm_spark.operators.audio import (
    audio_dup_pairs,
    encode_wav,
    with_audio_meta,
)
from petastorm_spark.operators.multimodal import (
    encode_fake_image,
    image_dup_pairs,
    resize_images,
    row_udf,
    with_image_meta,
)
from petastorm_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark("multimodal_tour")
    ids = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")

    # 1. attach binary columns: real PNG images and real PCM WAV clips.
    # Content derives from md5(doc_id) — arithmetic pixel patterns give
    # every image the same pixel-to-pixel deltas and perceptual hashes
    # collide corpus-wide. Every 50th doc also gets a near-duplicate
    # twin (id + 100000) with a one-sample perturbation, so the dup
    # counts below are meaningful. One per-row UDF builds all three
    # blobs of an id.
    twins = ids.where(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 100_000).alias("doc_id")
    )

    def media(did):
        import hashlib

        def md5_grid(d, tag, n_chunks):
            raw = b"".join(
                hashlib.md5(f"{d}_{tag}{c}".encode()).digest()
                for c in range(n_chunks)
            )
            return np.frombuffer(raw, dtype=np.uint8).astype(np.int64)

        d = did % 100_000
        px = md5_grid(d, "i", 3)[:48]
        au = md5_grid(d, "a", 61)
        fr = md5_grid(d, "v", 16)[:244]
        if did >= 100_000:
            px, au, fr = px.copy(), au.copy(), fr.copy()
            px[0] = (px[0] + 13) % 251
            au[0] = (au[0] + 50) % 256
            fr[0] = (fr[0] + 50) % 256
        return (
            png_encode(px.reshape(6, 8).astype(np.uint8)),
            encode_wav(au.astype(np.int16), 16000),
            encode_fake_image(fr.reshape(61, 2, 2).astype(np.uint8)),
        )

    blobs = row_udf(media, "image binary, audio binary, video binary")
    df = (
        ids.unionByName(twins)
        .select("doc_id", blobs("doc_id").alias("m"))
        .select("doc_id", "m.*")
    )

    # 2. typed metadata without decoding into rows
    with_image_meta(df, "image").select("doc_id", "image_meta.*").show(3)
    with_audio_meta(df, "audio").select("doc_id", "audio_meta.*").show(3)

    # 3. transform kernel: decode -> nearest-neighbor resize -> PNG out
    small = resize_images(df, "image", "thumb", (3, 4))
    print("thumbnails:", small.select("doc_id", "thumb").count())

    # 4. perceptual near-dup, image and audio legs (same banded join)
    print("image dup pairs:",
          image_dup_pairs(df, "image", "doc_id", max_hamming=3).count())
    print("audio dup pairs:",
          audio_dup_pairs(df, "audio", "doc_id", max_hamming=3).count())

    spark.stop()


if __name__ == "__main__":
    main()
