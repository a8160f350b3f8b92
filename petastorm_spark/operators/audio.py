"""Audio columns: PCM WAV as an opaque binary column with typed
metadata, processed by per-row Python kernels — the audio leg of the
multimodal family (images/video live in operators/multimodal.py, same
design: real pure-python decode for the formats the engine itself
produces, per-row pure maps through ``multimodal.row_udf``, no shuffle
anywhere).

WAV (RIFF PCM) decode is REAL and dependency-free: the container is a
fixed header plus chunks, parsed with numpy/struct — no audio library
needed. Integer PCM at 8/16/32 bits and float32, mono or multichannel.
Compressed codecs (mp3/ogg/flac) raise NotImplementedError — the
libraries are absent from this container; the Spark-side plumbing
(schemas, UDF plans, partition behavior) is identical and tested.

Scale: every operator is an Arrow-batched scalar Python UDF over the
blob column alone — memory bounded by
spark.sql.execution.arrow.maxRecordsPerBatch, linear scale-out, zero
exchanges.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from petastorm_spark.operators.multimodal import (
    UNDECODABLE,
    _fingerprint_pairs,
    row_udf,
)

_PCM_DTYPES = {8: np.uint8, 16: np.int16, 32: np.int32}
def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal spec-compliant PCM WAV writer (the audio twin of
    multimodal.encode_fake_image, except the container is the real
    format). ``samples``: int16 array shaped (frames,) or
    (frames, channels)."""
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n_ch = s.shape[1]
    data = s.astype("<i2").tobytes()
    byte_rate = sample_rate * n_ch * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, 1, n_ch, sample_rate, byte_rate, n_ch * 2, 16
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def decode_wav_ex(raw: bytes) -> tuple[np.ndarray, int, int, int]:
    """Parse a RIFF PCM WAV blob -> (float64 array (frames, channels)
    scaled to [-1, 1], sample_rate, audio_format, bits). Chunk-walks
    the container, so extra chunks (LIST/fact/cue) are skipped
    correctly. ``audio_format`` is the fmt-chunk code (1 = integer
    PCM, 3 = IEEE float); ``bits`` the container bit depth — what an
    exactness-sensitive consumer needs to undo the normalization
    (integer PCM divides by 1 << (bits-1), a dyadic scale, so
    multiplying back recovers the original integers exactly). A
    malformed stream (truncated, bad chunk sizes) raises ValueError, a
    format this parser does not read NotImplementedError."""
    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise NotImplementedError(
            "not a RIFF/WAVE byte stream; compressed audio codecs need "
            "libraries absent from this container"
        )
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        cid = raw[pos : pos + 4]
        (size,) = struct.unpack("<I", raw[pos + 4 : pos + 8])
        body = raw[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("WAV fmt chunk shorter than 16 bytes")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_format, n_ch, rate, _br, _ba, bits = fmt
    if n_ch == 0 or rate == 0:
        raise ValueError("WAV fmt chunk declares 0 channels or 0 Hz")
    if audio_format == 3 and bits == 32:  # IEEE float
        arr = np.frombuffer(data, dtype="<f4").astype(np.float64)
    elif audio_format == 1 and bits in _PCM_DTYPES:
        raw_arr = np.frombuffer(data, dtype=_PCM_DTYPES[bits])
        if bits == 8:  # 8-bit WAV is unsigned
            arr = (raw_arr.astype(np.float64) - 128.0) / 128.0
        else:
            arr = raw_arr.astype(np.float64) / float(1 << (bits - 1))
    else:
        raise NotImplementedError(f"WAV format {audio_format}/{bits}bit")
    frames = len(arr) // n_ch
    return arr[: frames * n_ch].reshape(frames, n_ch), rate, audio_format, bits


def decode_wav(raw: bytes) -> tuple[np.ndarray, int]:
    """:func:`decode_wav_ex` without the format fields — the decode
    surface every feature kernel uses."""
    arr, rate, _fmt, _bits = decode_wav_ex(raw)
    return arr, rate


AUDIO_META_SCHEMA = StructType(
    [
        StructField("byte_len", LongType(), False),
        StructField("n_frames", LongType(), True),
        StructField("channels", IntegerType(), True),
        StructField("sample_rate", IntegerType(), True),
        StructField("duration_s", DoubleType(), True),
        StructField("format", StringType(), False),
    ]
)


def with_audio_meta(
    df: DataFrame, binary_col: str, out_col: str = "audio_meta"
) -> DataFrame:
    """Attach typed audio metadata (frames/channels/rate/duration)
    parsed from the binary column; undecodable blobs get byte_len +
    format='opaque' instead of failing the job."""

    def meta(raw: bytes) -> tuple:
        try:
            arr, rate = decode_wav(raw)
        except UNDECODABLE:
            return len(raw), None, None, None, None, "opaque"
        n, ch = arr.shape
        return len(raw), n, ch, rate, n / rate, "wav_pcm"

    return df.withColumn(out_col, row_udf(meta, AUDIO_META_SCHEMA)(binary_col))


def resample_audio(
    df: DataFrame, binary_col: str, out_col: str, target_rate: int
) -> DataFrame:
    """Linear-interpolation resample to ``target_rate``, re-encoded as
    16-bit PCM WAV bytes (NULL for undecodable bytes) — the decode ->
    transform -> re-encode kernel shape (twin of
    multimodal.resize_images). Not a polyphase filter; swap the kernel
    for scipy/soxr where available, the Spark plumbing is unchanged."""

    def resample(raw: bytes) -> bytes:
        arr, rate = decode_wav(raw)
        n_out = max(1, int(round(arr.shape[0] * target_rate / rate)))
        t_in = np.arange(arr.shape[0], dtype=np.float64)
        t_out = np.linspace(0, arr.shape[0] - 1, n_out)
        res = np.stack(
            [np.interp(t_out, t_in, arr[:, c]) for c in range(arr.shape[1])],
            axis=1,
        )
        pcm = np.clip(res * 32767.0, -32768, 32767).astype(np.int16)
        return encode_wav(pcm, target_rate)

    udf = row_udf(resample, df.schema[binary_col].dataType, UNDECODABLE)
    return df.withColumn(out_col, udf(binary_col))


def audio_energy_features(
    df: DataFrame,
    binary_col: str,
    out_col: str = "energy",
    frame_ms: int = 25,
) -> DataFrame:
    """Per-window RMS energy features (the classic VAD/quality
    front-end): frames of ``frame_ms`` milliseconds, channel-averaged,
    one float per window (NULL for undecodable bytes). The
    feature-extraction kernel shape of the audio family (twin of
    multimodal.embed_images)."""

    def energy(raw: bytes) -> np.ndarray:
        arr, rate = decode_wav(raw)
        mono = arr.mean(axis=1)
        win = max(1, int(rate * frame_ms / 1000))
        n_win = len(mono) // win
        frames = mono[: n_win * win].reshape(n_win, win)
        return np.sqrt((frames**2).mean(axis=1))

    udf = row_udf(energy, ArrayType(DoubleType()), UNDECODABLE)
    return df.withColumn(out_col, udf(binary_col))


N_ENV = 61  # 60 adjacent comparisons -> the 60-bit fingerprint contract


def audio_fingerprint60(arr: np.ndarray) -> int:
    """60-bit audio fingerprint: channel-mean signal -> 61-window RMS
    energy envelope -> each bit is energy[i] < energy[i+1] (the dHash
    idea on the time axis). Volume-scaling invariant (comparisons are
    relative), robust to resampling — the perceptual near-dup
    fingerprint for audio."""
    mono = np.asarray(arr, dtype=np.float64)
    if mono.ndim == 2:
        mono = mono.mean(axis=1)
    n = len(mono)
    if n < N_ENV:
        mono = np.pad(mono, (0, N_ENV - n))
        n = N_ENV
    edges = (np.arange(N_ENV + 1) * n) // N_ENV
    env = np.array(
        [np.sqrt((mono[edges[i]:edges[i + 1]] ** 2).mean()) for i in range(N_ENV)]
    )
    bits = env[:-1] < env[1:]
    out = 0
    for b in bits:
        out = (out << 1) | int(b)
    return out


def _audio_fp_from_bytes(raw: bytes) -> int:
    arr, _ = decode_wav(raw)
    return audio_fingerprint60(arr)


def audio_fingerprints(
    df: DataFrame, binary_col: str, out_col: str = "afp"
) -> DataFrame:
    """Attach the 60-bit audio fingerprint of every decodable WAV blob
    (NULL for undecodable bytes). Per-row pure map."""
    udf = row_udf(_audio_fp_from_bytes, LongType(), UNDECODABLE)
    return df.withColumn(out_col, udf(binary_col))


def audio_dup_pairs(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    hot_threshold: int = 1000,
) -> DataFrame:
    """Audio near-dup pairs: energy-envelope fingerprint + the same
    two-level pigeonhole banded self-join as text SimHash and image
    dHash — near-dup dedup composes identically across all three
    modalities because each reduces to a 60-bit fingerprint.
    Output: (id_a, id_b, hamming)."""
    return _fingerprint_pairs(
        df, binary_col, id_col, _audio_fp_from_bytes,
        max_hamming, bands, hot_threshold,
    )


def silence_spans(
    df: DataFrame,
    binary_col: str,
    id_col: str,
    window: int,
    threshold: int,
    assume_bits: int | None = None,
) -> DataFrame:
    """Silence detection for PCM WAV clips — the trim/VAD-proxy
    preprocessing every speech pipeline runs first: the clip is cut
    into non-overlapping ``window``-sample blocks, a block is silent
    when the INTEGER sum of absolute sample values (across channels)
    is below ``threshold``, and the report is
    (id, n_windows, n_silent, longest_silence) with the longest run
    of consecutive silent blocks. Integer statistics end to end, so
    the spans are trivially engine-exact (the shot_boundaries
    contract, audio leg). ``threshold`` is in the container's native
    integer sample units (half-scale = 1 << (bits-1)), so the same
    clip at a different bit depth needs a proportionally scaled
    threshold; IEEE-float WAVs have no exact integer samples to
    recover and raise NotImplementedError rather than silently
    quantizing. Callers with float-WAV corpora can OPT IN to
    quantization with ``assume_bits`` (e.g. ``assume_bits=16``
    rescales float samples by 1 << 15 and rounds — the pre-round-12
    implicit behavior, now explicit because the silent rescale
    corrupted thresholds for non-16-bit expectations; documented as
    a behavior change in README round-12 status).

    Scale: one per-row pure map (decode -> block abs-sums ->
    run-length), n rows in / n rows out; a real VAD swaps in for the
    block statistic and keeps the plumbing."""

    def spans(raw: bytes) -> tuple:
        samples, _rate, audio_format, bits = decode_wav_ex(raw)
        if audio_format != 1:
            if assume_bits is None:
                raise NotImplementedError(
                    "silence_spans needs integer PCM: IEEE-float "
                    "WAV samples have no exact integer recovery, "
                    "and a silent mis-scale would corrupt the "
                    "threshold; pass assume_bits=16 (or the bit "
                    "depth your threshold is scaled for) to opt "
                    "in to quantization"
                )
            bits = assume_bits
        # decode_wav_ex normalizes integer PCM by the dyadic
        # 1 << (bits-1), so multiplying back recovers the original
        # integer samples EXACTLY (8-bit: the signed x-128 value; no
        # rounding drift at any depth). Float input (assume_bits set)
        # quantizes here — the caller chose the scale.
        samples = np.round(samples * float(1 << (bits - 1)))
        n = (samples.shape[0] // window) * window
        blocks = (
            np.abs(samples[:n].astype(np.int64))
            .reshape(n // window, window, samples.shape[1])
            .sum(axis=(1, 2))
        )
        silent = blocks < threshold
        best = cur = 0
        for s in silent:
            cur = cur + 1 if s else 0
            best = max(best, cur)
        return len(blocks), int(silent.sum()), best

    udf = row_udf(spans, "n_windows bigint, n_silent bigint, longest_silence bigint")
    return df.select(id_col, udf(binary_col).alias("_out")).select(id_col, "_out.*")
