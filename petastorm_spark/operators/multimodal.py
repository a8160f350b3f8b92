"""Multimodal columns: image/audio/video as opaque binary columns with
typed metadata, processed by per-row Python kernels.

Image decode is real for the formats the engine itself produces: RAW0
deterministic containers AND spec-compliant PNG byte streams (via
functions.pure_png, or PIL when present) — so a column written by
codecs.CompressedImageCodec('.png') round-trips through every kernel
here. jpeg without PIL raises NotImplementedError. Everything
Spark-side — schemas, UDF plans, partition behavior — is real and
tested.

Scale: every kernel is a plain function of one blob, run through
:func:`row_udf` — an Arrow-batched scalar Python UDF that receives
only the column it reads and returns only its result (the other
columns of the row never leave the engine). Per-batch Python overhead
is amortized, memory is bounded by the batch size
(spark.sql.execution.arrow.maxRecordsPerBatch), and every operator is
a pure map — no shuffle, linear scale-out.
"""

from __future__ import annotations

import functools
import io
import struct
import tokenize
import zlib

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from petastorm_spark.codecs import _npy_decode

RAW_MAGIC = b"RAW0"

# what a decoder raises for bytes it cannot decode: NotImplementedError
# for a format it does not read, ValueError for a malformed stream; the
# operators that map undecodable input to NULL catch exactly these
UNDECODABLE = (NotImplementedError, ValueError)


def row_udf(fn, return_type, errors: tuple = ()):
    """``fn`` as an Arrow-batched per-row Python UDF: call the result on
    the input columns, ``df.withColumn(out, row_udf(fn, T)(col))``. A
    call that raises one of ``errors`` yields NULL; anything else fails
    the task. The UDF is marked nondeterministic so Catalyst never
    copies the call into a filter it pushes below the projection (with
    a deterministic UDF, ``where(out IS NOT NULL)`` planned a second
    ArrowEvalPython and decoded every blob twice)."""

    @functools.wraps(fn)
    def call(*args):
        try:
            return fn(*args)
        except errors:
            return None

    return F.udf(call, return_type, useArrow=True).asNondeterministic()


def encode_fake_image(arr: np.ndarray) -> bytes:
    """Deterministic stand-in for png/jpeg encoding (RAW0 container)."""
    buf = io.BytesIO()
    np.save(buf, arr)
    return RAW_MAGIC + buf.getvalue()


PNG_SIG = b"\x89PNG\r\n\x1a\n"
_MALFORMED = (struct.error, zlib.error, tokenize.TokenError, IndexError)


def decode_image_bytes(raw: bytes) -> tuple[np.ndarray, str]:
    """Decode one image blob -> (array, format). RAW0 containers, real
    PNG byte streams, and real baseline JPEG byte streams all decode
    via the pure-python codecs (PIL is preferred when present). An
    unrecognized stream raises NotImplementedError and a malformed one
    (truncated, corrupted) ValueError: the errors the container parsers
    raise on such bytes (struct, zlib, numpy's .npy header tokenizer,
    reads past the end of a truncated JPEG) are translated here."""
    try:
        return _decode_image(raw)
    except _MALFORMED as e:
        raise ValueError(f"malformed image byte stream: {e}") from e


def _decode_image(raw: bytes) -> tuple[np.ndarray, str]:
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
    """Attach typed metadata extracted from the binary column (byte
    length always; shape when decodable). An undecodable blob gets
    byte_len + format='opaque' instead of failing the job."""

    def meta(raw: bytes) -> tuple:
        try:
            arr, fmt = decode_image_bytes(raw)
        except UNDECODABLE:
            return len(raw), None, None, None, "opaque"
        h = int(arr.shape[0]) if arr.ndim >= 1 else None
        w = int(arr.shape[1]) if arr.ndim >= 2 else None
        c = int(arr.shape[2]) if arr.ndim >= 3 else 1
        return len(raw), h, w, c, fmt

    return df.withColumn(out_col, row_udf(meta, IMAGE_META_SCHEMA)(binary_col))


def resize_images(
    df: DataFrame, binary_col: str, out_col: str, target_hw: tuple[int, int]
) -> DataFrame:
    """Nearest-neighbor resize to (H, W) — the decode → transform →
    re-encode kernel pattern (petastorm TransformSpec over image
    codecs). Output stays in the input's container: PNG in → PNG out
    (pure-python encoder), RAW0 in → RAW0 out."""
    th, tw = target_hw

    def resize(raw: bytes) -> bytes:
        arr, fmt = decode_image_bytes(raw)
        ys = (np.arange(th) * arr.shape[0] // th).astype(int)
        xs = (np.arange(tw) * arr.shape[1] // tw).astype(int)
        resized = arr[np.ix_(ys, xs)]
        if fmt == "png":
            from petastorm_spark.functions.pure_png import png_encode

            return png_encode(np.ascontiguousarray(resized))
        return encode_fake_image(resized)

    return df.withColumn(out_col, row_udf(resize, BinaryType())(binary_col))


def frame_sample_video(
    df: DataFrame, binary_col: str, out_col: str, every_nth: int
) -> DataFrame:
    """Frame sampling for RAW0 'videos' (T,H,W[,C] arrays): keep every
    n-th frame. Same per-row plumbing a real ffmpeg kernel uses."""

    def sample(raw: bytes) -> bytes:
        return encode_fake_image(decode_image_bytes(raw)[0][::every_nth])

    return df.withColumn(out_col, row_udf(sample, BinaryType())(binary_col))


def embed_images(
    df: DataFrame, binary_col: str, out_col: str = "embedding", dim: int = 16
) -> DataFrame:
    """Deterministic fake feature extractor: channel-mean + histogram
    features from the decoded array (stands in for a CNN/CLIP encoder;
    same signature, same per-row UDF shape)."""

    def embed(raw: bytes) -> np.ndarray:
        arr = decode_image_bytes(raw)[0].astype(np.float64)
        hist, _ = np.histogram(arr, bins=dim - 1, range=(0, 255))
        total = hist.sum() or 1
        return np.concatenate([[arr.mean() / 255.0], hist / total]).astype(
            np.float32
        )

    return df.withColumn(
        out_col, row_udf(embed, ArrayType(FloatType()))(binary_col)
    )


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


def _dhash60_from_bytes(raw: bytes) -> int:
    arr, _ = decode_image_bytes(raw)
    return dhash60(arr)


def image_dhash(
    df: DataFrame, binary_col: str, out_col: str = "dhash"
) -> DataFrame:
    """Attach the 60-bit perceptual dHash of every decodable image
    blob (NULL for undecodable bytes). Per-row pure map — no shuffle."""
    udf = row_udf(_dhash60_from_bytes, LongType(), UNDECODABLE)
    return df.withColumn(out_col, udf(binary_col))


def _fingerprint_pairs(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    fp,
    max_hamming: int,
    bands: int,
    hot_threshold: int,
) -> DataFrame:
    """(id_a, id_b, hamming) near-dup pairs over the 60-bit fingerprint
    ``fp`` maps each blob to (``fp`` returns an int or None; an
    undecodable blob has none): the (id, simhash) table, then the SAME
    two-level pigeonhole banded self-join the text SimHash path uses
    (dedup.simhash_pair_candidates — exact for hamming <= max_hamming,
    never quadratic in a hot bucket) and its bit_count verify. Only the
    blob enters the Python UDF and only the fingerprint comes back."""
    from petastorm_spark.operators.dedup import simhash_pair_candidates

    if id_col == "simhash":
        raise ValueError("id_col may not be the fingerprint column name 'simhash'")
    sig = df.select(
        id_col, row_udf(fp, LongType(), UNDECODABLE)(binary_col).alias("simhash")
    ).where(F.col("simhash").isNotNull())
    cand = simhash_pair_candidates(
        sig, id_col, bits=60, bands=bands,
        max_hamming=max_hamming, hot_threshold=hot_threshold,
        prefilter_hamming=max_hamming,
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select("id_a", "id_b", hamming.cast("int").alias("hamming"))


def image_dup_pairs(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hot_threshold: int = 1000,
) -> DataFrame:
    """Image near-dup pairs: perceptual dHash + the text-SimHash banded
    self-join. Multimodal dedup composes from the text machinery
    because both reduce to 60-bit fingerprints.
    Output: (id_a, id_b, hamming)."""
    return _fingerprint_pairs(
        df, binary_col, id_col, _dhash60_from_bytes,
        max_hamming, bands, hot_threshold,
    )


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


def _video_fp_from_bytes(raw: bytes) -> int | None:
    arr, _ = decode_image_bytes(raw)
    return video_fingerprint60(arr) if arr.ndim >= 3 else None


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
    return _fingerprint_pairs(
        df, binary_col, id_col, _video_fp_from_bytes,
        max_hamming, bands, hot_threshold,
    )


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

    Scale: one per-row pure map (decode -> per-frame sum -> diff),
    n rows in / n rows out; the real-ffmpeg swap-in keeps this exact
    plumbing and replaces only the decode."""

    def cuts(raw: bytes) -> tuple:
        arr, _ = decode_image_bytes(raw)
        sums = arr.reshape(arr.shape[0], -1).astype(np.int64).sum(axis=1)
        at = [
            t
            for t in range(1, len(sums))
            if abs(int(sums[t]) - int(sums[t - 1])) >= threshold
        ]
        return len(sums), len(at), ",".join(map(str, at))

    udf = row_udf(cuts, "n_frames bigint, n_cuts bigint, cuts_csv string")
    return df.select(id_col, udf(binary_col).alias("_out")).select(id_col, "_out.*")
