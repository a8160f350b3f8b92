"""Media kernels as per-row Python UDFs (``multimodal.row_udf``).

- One rule for undecodable input: the decoders raise ValueError for
  every malformed stream (a truncated or corrupted container's
  struct/zlib errors included), and the operators that map undecodable
  input to NULL (or to format='opaque') do so for all of them, so one
  bad blob never fails the job.
- The UDF is nondeterministic on purpose: a NULL filter over its
  output must not be pushed below the projection with a second copy of
  the call, which would decode every blob twice.
"""
from __future__ import annotations

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from petastorm_spark.functions.pure_jpeg import jpeg_encode
from petastorm_spark.functions.pure_png import png_encode
from petastorm_spark.operators.audio import (
    audio_fingerprints,
    decode_wav_ex,
    encode_wav,
    with_audio_meta,
)
from petastorm_spark.operators.multimodal import (
    decode_image_bytes,
    encode_fake_image,
    image_dhash,
    with_image_meta,
)
from petastorm_spark.plans.checks import _operators

_IMG = np.tile(np.arange(11, dtype=np.uint8) * 20, (6, 1))
_PNG = png_encode(_IMG)
_RAW0 = encode_fake_image(_IMG)
_WAV = encode_wav(np.arange(-200, 200, dtype=np.int16), 8000)


def _idat_corrupted(png: bytes) -> bytes:
    """``png`` with the first bytes of its IDAT payload overwritten:
    the chunk layout stays intact, the zlib stream does not."""
    at = png.index(b"IDAT") + 4
    return png[:at] + b"\xff" * 6 + png[at + 6:]


# image id -> blob; ids >= 10 are malformed
_IMAGES = {
    0: _PNG,
    1: _RAW0,
    10: _PNG[: len(_PNG) // 2],
    11: _idat_corrupted(_PNG),
    12: _RAW0[: len(_RAW0) // 2],
}
# a WAV cut inside its 16-byte fmt chunk (RIFF header 12 + chunk header 8)
_AUDIO = {0: _WAV, 10: _WAV[:30], 11: _WAV[: len(_WAV) // 2 + 1]}


def _patched(blob: bytes, at: int, value: int) -> bytes:
    return blob[:at] + bytes([value]) + blob[at + 1:]


def test_decoders_raise_value_error_on_malformed_streams():
    jpeg = jpeg_encode(np.full((16, 16), 128, dtype=np.uint8))
    # first component of the frame header, after marker, length,
    # precision, height, width and count: (id, sampling, quant table)
    sof = jpeg.index(b"\xff\xc0") + 10
    # DC/AC Huffman table selectors of the scan's first component,
    # after marker, length, count and component id
    sos = jpeg.index(b"\xff\xda") + 6
    color = jpeg_encode(
        (np.arange(16 * 16 * 3).reshape(16, 16, 3) * 7 % 251).astype(np.uint8)
    )
    jpegs = (
        color[:250],  # cut inside the entropy-coded scan
        _patched(jpeg, sof + 1, 0x00),  # sampling factor 0
        _patched(jpeg, sof + 2, 3),  # undefined quantization table
        _patched(jpeg, sos, 0x33),  # undefined Huffman tables
    )
    unclosed_shape = _RAW0.replace(b"11)", b"11 ", 1)  # numpy's tokenizer fails
    for blob in (_IMAGES[10], _IMAGES[11], _IMAGES[12], unclosed_shape, *jpegs):
        with pytest.raises(ValueError):
            decode_image_bytes(blob)
    # the fmt chunk body starts at byte 20: format, channels, rate
    no_channels = _WAV[:22] + b"\0\0" + _WAV[24:]
    no_rate = _WAV[:24] + b"\0\0\0\0" + _WAV[28:]
    for blob in (_AUDIO[10], _AUDIO[11], no_channels, no_rate):
        with pytest.raises(ValueError):
            decode_wav_ex(blob)


def test_undecodable_blobs_map_to_null_not_a_failed_job(spark):
    images = spark.createDataFrame(list(_IMAGES.items()), "id bigint, img binary")
    audio = spark.createDataFrame(list(_AUDIO.items()), "id bigint, audio binary")

    dhash = {r.id: r.dhash for r in image_dhash(images, "img").collect()}
    assert dhash[0] is not None and dhash[0] == dhash[1]
    assert [dhash[i] for i in (10, 11, 12)] == [None, None, None]

    meta = {r.id: r.image_meta for r in with_image_meta(images, "img").collect()}
    assert (meta[0].height, meta[0].width, meta[0].format) == (6, 11, "png")
    assert (meta[1].height, meta[1].width, meta[1].format) == (6, 11, "raw0")
    for i in (10, 11, 12):
        assert meta[i].format == "opaque" and meta[i].height is None
        assert meta[i].byte_len == len(_IMAGES[i])

    afp = {r.id: r.afp for r in audio_fingerprints(audio, "audio").collect()}
    assert afp[0] is not None and afp[10] is None and afp[11] is None

    ameta = {r.id: r.audio_meta for r in with_audio_meta(audio, "audio").collect()}
    assert (ameta[0].n_frames, ameta[0].format) == (400, "wav_pcm")
    for i in (10, 11):
        assert ameta[i].format == "opaque" and ameta[i].n_frames is None
        assert ameta[i].byte_len == len(_AUDIO[i])


@pytest.mark.parametrize("op", ["image_dhash", "audio_fingerprints"])
def test_null_filter_plans_one_python_udf(spark, op):
    """``where(fp IS NOT NULL)`` over a fingerprint column runs the
    decode UDF once per row: a deterministic UDF lets Catalyst push
    the filter below the projection with its own copy of the call."""
    if op == "image_dhash":
        df = spark.createDataFrame(list(_IMAGES.items()), "id bigint, blob binary")
        out = image_dhash(df, "blob", "fp")
    else:
        df = spark.createDataFrame(list(_AUDIO.items()), "id bigint, blob binary")
        out = audio_fingerprints(df, "blob", "fp")
    kept = out.where(F.col("fp").isNotNull())
    udfs = [
        s for s in _operators(kept).values()
        if re.match(r"\(\d+\) ArrowEvalPython\b", s)
    ]
    assert len(udfs) == 1, "\n\n".join(udfs)
    assert {r.id for r in kept.collect()} == ({0, 1} if op == "image_dhash" else {0})
