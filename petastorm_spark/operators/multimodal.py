"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed by Arrow-batched pandas functions.

Image decode is real for the formats the engine itself produces: RAW0
deterministic containers AND spec-compliant PNG byte streams (via
functions.pure_png, or PIL when present) — so a column written by
codecs.CompressedImageCodec('.png') round-trips through every kernel
here. jpeg without PIL raises NotImplementedError. Everything
Spark-side — schemas, mapInPandas batch shapes, partition behavior —
is real and tested.

Scale: mapInPandas streams Arrow batches; per-batch Python overhead is
amortized, memory is bounded by the batch size
(spark.sql.execution.arrow.maxRecordsPerBatch), and the operator is a
pure map — no shuffle, linear scale-out.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from petastorm_spark.codecs import _npy_decode

RAW_MAGIC = b"RAW0"


def encode_fake_image(arr: np.ndarray) -> bytes:
    """Deterministic stand-in for png/jpeg encoding (RAW0 container)."""
    buf = io.BytesIO()
    np.save(buf, arr)
    return RAW_MAGIC + buf.getvalue()


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def decode_image_bytes(raw: bytes) -> tuple[np.ndarray, str]:
    """Decode one image blob -> (array, format). RAW0 containers, real
    PNG byte streams, and real baseline JPEG byte streams all decode
    via the pure-python codecs (PIL is preferred when present)."""
    if raw[:4] == RAW_MAGIC:
        return _npy_decode(memoryview(raw)[4:]), "raw0"
    try:
        from PIL import Image  # noqa: F401 - optional, absent in container
    except ImportError:
        pass
    else:
        import PIL.Image

        img = PIL.Image.open(io.BytesIO(raw))
        return np.asarray(img), (img.format or "pil").lower()
    if raw[:8] == PNG_SIG:
        from petastorm_spark.functions.pure_png import png_decode

        return png_decode(raw), "png"
    if raw[:2] == b"\xff\xd8":
        from petastorm_spark.functions.pure_jpeg import jpeg_decode

        return jpeg_decode(raw), "jpeg"
    raise NotImplementedError(
        "unrecognized image byte stream; RAW0, PNG, and baseline JPEG "
        "decode via the pure-python codecs (PIL extends coverage)"
    )


IMAGE_META_SCHEMA = StructType(
    [
        StructField("byte_len", LongType(), False),
        StructField("height", IntegerType(), True),
        StructField("width", IntegerType(), True),
        StructField("channels", IntegerType(), True),
        StructField("format", StringType(), False),
    ]
)


def with_image_meta(df: DataFrame, binary_col: str, out_col: str = "image_meta") -> DataFrame:
    """Attach typed metadata extracted from the binary column via a
    mapInPandas stage (byte length always; shape when decodable)."""
    out_schema = StructType(df.schema.fields + [StructField(out_col, IMAGE_META_SCHEMA, True)])

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for raw in pdf[binary_col]:
                raw = bytes(raw)
                try:
                    arr, fmt = decode_image_bytes(raw)
                    h = int(arr.shape[0]) if arr.ndim >= 1 else None
                    w = int(arr.shape[1]) if arr.ndim >= 2 else None
                    c = int(arr.shape[2]) if arr.ndim >= 3 else 1
                    metas.append((len(raw), h, w, c, fmt))
                except NotImplementedError:
                    metas.append((len(raw), None, None, None, "opaque"))
            pdf[out_col] = [
                {"byte_len": m[0], "height": m[1], "width": m[2], "channels": m[3], "format": m[4]}
                for m in metas
            ]
            yield pdf

    return df.mapInPandas(extract, schema=out_schema)


def resize_images(
    df: DataFrame, binary_col: str, out_col: str, target_hw: tuple[int, int]
) -> DataFrame:
    """Nearest-neighbor resize to (H, W) — the decode → transform →
    re-encode kernel pattern (petastorm TransformSpec over image
    codecs). Output stays in the input's container: PNG in → PNG out
    (pure-python encoder), RAW0 in → RAW0 out."""
    out_schema = StructType(df.schema.fields + [StructField(out_col, BinaryType(), True)])
    th, tw = target_hw

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for raw in pdf[binary_col]:
                arr, fmt = decode_image_bytes(bytes(raw))
                ys = (np.arange(th) * arr.shape[0] // th).astype(int)
                xs = (np.arange(tw) * arr.shape[1] // tw).astype(int)
                resized = arr[np.ix_(ys, xs)]
                if fmt == "png":
                    from petastorm_spark.functions.pure_png import png_encode

                    out.append(png_encode(np.ascontiguousarray(resized)))
                else:
                    out.append(encode_fake_image(resized))
            pdf[out_col] = out
            yield pdf

    return df.mapInPandas(kernel, schema=out_schema)


def frame_sample_video(
    df: DataFrame, binary_col: str, out_col: str, every_nth: int
) -> DataFrame:
    """Frame sampling for RAW0 'videos' (T,H,W[,C] arrays): keep every
    n-th frame. Same mapInPandas plumbing a real ffmpeg kernel uses."""
    out_schema = StructType(df.schema.fields + [StructField(out_col, BinaryType(), True)])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[out_col] = [
                encode_fake_image(decode_image_bytes(bytes(raw))[0][::every_nth])
                for raw in pdf[binary_col]
            ]
            yield pdf

    return df.mapInPandas(kernel, schema=out_schema)


def embed_images(
    df: DataFrame, binary_col: str, out_col: str = "embedding", dim: int = 16
) -> DataFrame:
    """Deterministic fake feature extractor: channel-mean + histogram
    features from the decoded array (stands in for a CNN/CLIP encoder;
    same signature, same Arrow batch shape)."""
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, ArrayType(FloatTypeCompat()), True)]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for raw in pdf[binary_col]:
                arr = decode_image_bytes(bytes(raw))[0].astype(np.float64)
                hist, _ = np.histogram(arr, bins=dim - 1, range=(0, 255))
                total = hist.sum() or 1
                feats.append(
                    np.concatenate([[arr.mean() / 255.0], hist / total]).astype(
                        np.float32
                    )
                )
            pdf[out_col] = feats
            yield pdf

    return df.mapInPandas(kernel, schema=out_schema)


def FloatTypeCompat():
    from pyspark.sql.types import FloatType

    return FloatType()


DHASH_W, DHASH_H = 11, 6  # (11-1)*6 = 60 bits, matching the simhash
# banding machinery's 60-bit fingerprint contract


def dhash60(arr: np.ndarray) -> int:
    """60-bit difference hash of one image array: grayscale ->
    nearest-neighbor resize to 11x6 -> each bit is left<right for
    horizontally adjacent cells. Brightness/contrast-shift invariant
    (comparisons are relative), robust to small pixel noise — the
    standard perceptual near-dup fingerprint."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3:
        a = a.mean(axis=2)
    h, w = a.shape
    ys = (np.arange(DHASH_H) * h) // DHASH_H
    xs = (np.arange(DHASH_W) * w) // DHASH_W
    g = a[np.ix_(ys, xs)]
    bits = (g[:, :-1] < g[:, 1:]).ravel()
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def image_dhash(
    df: DataFrame, binary_col: str, out_col: str = "dhash"
) -> DataFrame:
    """Attach the 60-bit perceptual dHash of every decodable image
    blob (NULL for opaque bytes). mapInPandas pure map — no shuffle."""
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, LongType(), True)]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = []
            for raw in pdf[binary_col]:
                try:
                    arr, _ = decode_image_bytes(bytes(raw))
                    hs.append(dhash60(arr))
                except (NotImplementedError, ValueError):
                    hs.append(None)
            pdf[out_col] = pd.array(hs, dtype="Int64")
            yield pdf

    return df.mapInPandas(kernel, schema=out_schema)


def fingerprint60_table(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    fp_from_bytes,
    errors: tuple = (NotImplementedError, ValueError),
) -> DataFrame:
    """(id, simhash) 60-bit fingerprint table from a binary column:
    ships ONLY (id, blob) into the Python decode stage and ONLY
    (id, simhash) back out. The attach-style operators (image_dhash,
    audio_fingerprints) echo every input column — including the blob —
    back across the Arrow boundary, which the dup-pair callers drop
    one Project later; at corpus scale that return trip re-serializes
    every payload byte for nothing (guide §4: pass only the columns
    the function needs — in both directions). ``fp_from_bytes`` maps
    raw bytes -> int fingerprint or None; ``errors`` are the decode
    exceptions mapped to NULL."""
    if id_col == "simhash":
        raise ValueError("id_col may not be the output column name 'simhash'")
    out_schema = StructType(
        [df.schema[id_col], StructField("simhash", LongType(), True)]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs = []
            for raw in pdf[binary_col]:
                try:
                    hs.append(fp_from_bytes(bytes(raw)))
                except errors:
                    hs.append(None)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "simhash": pd.array(hs, dtype="Int64")}
            )

    return df.select(id_col, binary_col).mapInPandas(kernel, schema=out_schema)


def _dhash60_from_bytes(raw: bytes) -> int:
    arr, _ = decode_image_bytes(raw)
    return dhash60(arr)


def image_dup_pairs(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hot_threshold: int = 1000,
) -> DataFrame:
    """Image near-dup pairs: perceptual dHash + the SAME two-level
    pigeonhole banded self-join the text SimHash path uses
    (dedup.simhash_pair_candidates — exact for hamming <= max_hamming,
    never quadratic in a hot bucket). Multimodal dedup composes from
    the text machinery because both reduce to 60-bit fingerprints.
    Output: (id_a, id_b, hamming)."""
    from pyspark.sql import functions as F2

    from petastorm_spark.operators.dedup import simhash_pair_candidates

    sig = fingerprint60_table(
        df, binary_col, id_col, _dhash60_from_bytes
    ).where(F2.col("simhash").isNotNull())
    cand = simhash_pair_candidates(
        sig, id_col, bits=60, bands=bands,
        max_hamming=max_hamming, hot_threshold=hot_threshold,
        prefilter_hamming=max_hamming,
    )
    hamming = F2.bit_count(F2.col("sig_a").bitwiseXOR(F2.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.cast("int").alias("hamming"))


def video_fingerprint60(arr: np.ndarray) -> int:
    """60-bit temporal fingerprint of a (T,H,W[,C]) video array: the
    per-frame mean-brightness sequence, block-resampled to 61 points,
    bit i = level[i] < level[i+1] — the time-axis twin of the image
    dHash (brightness-shift invariant; re-encoding and spatial noise
    barely move frame means). Trims/speed changes alter it — by
    design: those are different videos."""
    a = np.asarray(arr, dtype=np.float64)
    frames = a.reshape(a.shape[0], -1).mean(axis=1)
    n = len(frames)
    n_pts = 61
    if n < n_pts:
        frames = np.pad(frames, (0, n_pts - n), mode="edge")
        n = n_pts
    edges = (np.arange(n_pts + 1) * n) // n_pts
    lvl = np.array([frames[edges[i]:edges[i + 1]].mean() for i in range(n_pts)])
    bits = lvl[:-1] < lvl[1:]
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def video_dup_pairs(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hot_threshold: int = 1000,
) -> DataFrame:
    """Video near-dup pairs: temporal fingerprint + the same two-level
    pigeonhole banded self-join as text/image/audio — all four
    modalities reduce to 60-bit fingerprints and share the machinery.
    Output: (id_a, id_b, hamming)."""
    from pyspark.sql import functions as F2

    from petastorm_spark.operators.dedup import simhash_pair_candidates

    def fp(raw: bytes):
        arr, _ = decode_image_bytes(raw)
        return video_fingerprint60(arr) if arr.ndim >= 3 else None

    sig = fingerprint60_table(df, binary_col, id_col, fp).where(
        F2.col("simhash").isNotNull()
    )
    cand = simhash_pair_candidates(
        sig, id_col, bits=60, bands=bands,
        max_hamming=max_hamming, hot_threshold=hot_threshold,
        prefilter_hamming=max_hamming,
    )
    hamming = F2.bit_count(F2.col("sig_a").bitwiseXOR(F2.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.cast("int").alias("hamming"))


def shot_boundaries(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    threshold: int,
) -> DataFrame:
    """Shot-boundary (cut) detection for RAW0 'videos': a cut at frame
    ``t >= 1`` wherever the absolute difference of consecutive frames'
    INTEGER pixel sums reaches ``threshold`` — the classic
    sum-of-absolute-differences cut detector reduced to its per-frame
    sufficient statistic. Integer sums end to end (no float), so the
    cut set is trivially engine-exact. Output per video:
    (id, n_frames, n_cuts, cuts_csv) with cut frame indexes joined
    ascending into a comma string (scalar columns only — the registry
    contract).

    Scale: one mapInPandas pure map (decode -> per-frame sum -> diff),
    n rows in / n rows out; the real-ffmpeg swap-in keeps this exact
    plumbing and replaces only the decode."""
    import pandas as pd

    id_t = df.schema[id_col].dataType.simpleString()  # native id type
    out_schema = (
        f"{id_col} {id_t}, n_frames bigint, n_cuts bigint, cuts_csv string"
    )

    def kernel(batches):
        for pdf in batches:
            ids, nf, nc, csv = [], [], [], []
            for did, raw in zip(pdf[id_col], pdf[binary_col]):
                arr, _ = decode_image_bytes(bytes(raw))
                sums = arr.reshape(arr.shape[0], -1).astype(np.int64).sum(axis=1)
                cuts = [
                    int(t)
                    for t in range(1, len(sums))
                    if abs(int(sums[t]) - int(sums[t - 1])) >= threshold
                ]
                ids.append(did)
                nf.append(len(sums))
                nc.append(len(cuts))
                csv.append(",".join(str(t) for t in cuts))
            yield pd.DataFrame(
                {id_col: ids, "n_frames": nf, "n_cuts": nc, "cuts_csv": csv}
            )

    return df.mapInPandas(kernel, out_schema)
