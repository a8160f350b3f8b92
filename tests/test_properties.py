"""Property-based tests (hypothesis): codec round-trips over random
shapes/dtypes/values, md5_fraction uniformity contract, and the
schema-driven row generator feeding dict_to_spark_row."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import IntegerType, StringType

from petastorm_spark.codecs import (
    CompressedImageCodec,
    CompressedNdarrayCodec,
    NdarrayCodec,
    ScalarCodec,
)
from petastorm_spark.unischema import Unischema, UnischemaField, dict_to_spark_row

_DTYPES = [np.uint8, np.int16, np.int32, np.int64, np.float32, np.float64]


@st.composite
def arrays(draw):
    dtype = draw(st.sampled_from(_DTYPES))
    ndim = draw(st.integers(1, 4))
    shape = tuple(draw(st.integers(1, 5)) for _ in range(ndim))
    if np.dtype(dtype).kind == "f":
        arr = draw(
            st.just(
                np.random.default_rng(draw(st.integers(0, 2**31))).random(shape).astype(dtype)
            )
        )
    else:
        info = np.iinfo(dtype)
        arr = np.random.default_rng(draw(st.integers(0, 2**31))).integers(
            max(info.min, -1000), min(info.max, 1000), shape, dtype=dtype
        )
    return arr


@settings(max_examples=40, deadline=None)
@given(arr=arrays(), codec_cls=st.sampled_from([NdarrayCodec, CompressedNdarrayCodec]))
def test_ndarray_codec_roundtrip_any_shape(arr, codec_cls):
    field = UnischemaField("x", arr.dtype.type, tuple(None for _ in arr.shape), codec_cls(), False)
    codec = codec_cls()
    out = codec.decode(field, bytes(codec.encode(field, arr)))
    np.testing.assert_array_equal(out, arr)
    assert out.dtype == arr.dtype


@settings(max_examples=20, deadline=None)
@given(
    h=st.integers(1, 32),
    w=st.integers(1, 32),
    seed=st.integers(0, 2**31),
    fmt=st.sampled_from(["png", "jpeg"]),
)
def test_image_codec_roundtrip(h, w, seed, fmt):
    arr = np.random.default_rng(seed).integers(0, 255, (h, w, 3), dtype=np.uint8)
    field = UnischemaField("img", np.uint8, (None, None, 3), CompressedImageCodec(fmt), False)
    codec = CompressedImageCodec(fmt)
    out = codec.decode(field, bytes(codec.encode(field, arr)))
    if fmt == "png":
        np.testing.assert_array_equal(out, arr)
    else:
        # jpeg is genuinely lossy (real DCT codec, quality 80); random
        # noise is its worst case — bound the reconstruction error
        # instead of demanding bit equality.
        assert out.shape == arr.shape and out.dtype == arr.dtype
        mae = float(np.abs(out.astype(np.int32) - arr.astype(np.int32)).mean())
        assert mae < 25.0, f"jpeg round-trip MAE {mae:.1f} out of bounds"


def test_jpeg_roundtrip_smooth_image_is_near_exact():
    # On smooth content (JPEG's design target) quality-80 reconstruction
    # should be within a couple of counts everywhere.
    y, x = np.mgrid[0:24, 0:24]
    arr = np.stack([50 + y * 2, 80 + x * 2, 120 + 0 * x], axis=-1).astype(np.uint8)
    field = UnischemaField(
        "img", np.uint8, (None, None, 3), CompressedImageCodec("jpeg"), False
    )
    codec = CompressedImageCodec("jpeg")
    out = codec.decode(field, bytes(codec.encode(field, arr)))
    assert float(np.abs(out.astype(np.int32) - arr.astype(np.int32)).mean()) < 3.0


@settings(max_examples=30, deadline=None)
@given(value=st.one_of(st.integers(-(2**40), 2**40), st.text(max_size=40)))
def test_md5_fraction_pandas_matches_definition(value):
    import hashlib

    from petastorm_spark.predicates import HASH_SPACE, in_pseudorandom_split

    p = in_pseudorandom_split([1.0], 0, "k")
    import pandas as pd

    s = p.do_include_pandas(pd.DataFrame({"k": [value]}))
    assert bool(s.iloc[0])  # fraction always in [0,1) -> subset 0 of [1.0]
    frac = int(hashlib.md5(str(value).encode()).hexdigest()[:15], 16) / HASH_SPACE
    assert 0.0 <= frac < 1.0


def test_generator_rows_encode(spark):
    from petastorm_spark.test_util.generator import random_rows

    schema = Unischema(
        "Gen",
        [
            UnischemaField("id", np.int64, (), ScalarCodec(IntegerType()), False),
            UnischemaField("name", np.str_, (), ScalarCodec(StringType()), False),
            UnischemaField("mat", np.float32, (None, 3), NdarrayCodec(), False),
            UnischemaField("opt", np.int32, (), ScalarCodec(IntegerType()), True),
        ],
    )
    rows = random_rows(schema, 25, seed=11)
    encoded = [dict_to_spark_row(schema, r) for r in rows]
    df = spark.createDataFrame(encoded, schema.as_spark_schema())
    assert df.count() == 25


def test_shuffle_row_drop_partitions_complete(spark, sf_dir):
    from petastorm_spark.reader import make_reader

    url = f"{sf_dir}/nation.parquet"
    with make_reader(url, spark=spark, shuffle_row_drop_partitions=3) as r:
        keys = sorted(row.n_nationkey for row in r)
    assert keys == list(range(25))  # every row exactly once across slices


@settings(max_examples=15, deadline=None)
@given(
    data=st.data(),
    direction=st.sampled_from(["backward", "forward"]),
    tolerance=st.sampled_from([None, 3, 10]),
)
def test_asof_join_matches_pandas_merge_asof(spark, data, direction, tolerance):
    """Differential test: asof_join (union + window, no join node) must
    agree with pandas.merge_asof on random keyed, deduped frames —
    including NULL right values attaching verbatim (row atomicity)."""
    import pandas as pd

    from petastorm_spark.operators.temporal import asof_join

    keys = st.integers(0, 2)
    ts = st.integers(0, 40)
    left_rows = data.draw(
        st.lists(st.tuples(keys, ts), min_size=1, max_size=12, unique=True)
    )
    right_rows = data.draw(
        st.lists(
            st.tuples(keys, ts, st.one_of(st.none(), st.integers(0, 99))),
            min_size=0,
            max_size=12,
            unique_by=lambda r: (r[0], r[1]),
        )
    )
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(left_rows)],
        "k bigint, ts bigint, lid bigint",
    )
    right = spark.createDataFrame(right_rows, "k bigint, ts bigint, v bigint")
    got = {
        r.lid: (r.asof_ts, r.asof_v)
        for r in asof_join(
            left, right, "k", "ts", ["v"],
            tolerance_us=tolerance, direction=direction,
        ).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["k", "ts"]).assign(
        lid=range(len(left_rows))
    ).sort_values("ts", kind="stable")
    rp = (
        pd.DataFrame(right_rows, columns=["k", "ts", "v"])
        .astype({"k": "int64", "ts": "int64", "v": "float64"})
        .assign(rts=lambda d: d.ts)
        .sort_values("ts", kind="stable")
    )
    merged = pd.merge_asof(
        lp,
        rp,
        on="ts",
        by="k",
        direction=direction,
        tolerance=tolerance,
        suffixes=("", "_r"),
    )
    for _, row in merged.iterrows():
        want_ts = None if pd.isna(row["rts"]) else int(row["rts"])
        want_v = None if pd.isna(row["v"]) else int(row["v"])
        assert got[int(row["lid"])] == (want_ts, want_v), (
            left_rows, right_rows, direction, tolerance,
        )


@settings(max_examples=30, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=2000),
    n_ch=st.integers(min_value=1, max_value=4),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_wav_roundtrip_any_shape(n_frames, n_ch, rate, seed):
    """encode_wav -> decode_wav is exact for any int16 payload: same
    shape, same rate, samples scaled by 1/32768."""
    from petastorm_spark.operators.audio import decode_wav, encode_wav

    rng = np.random.default_rng(seed)
    samples = rng.integers(-32768, 32767, (n_frames, n_ch)).astype(np.int16)
    arr, got_rate = decode_wav(encode_wav(samples, rate))
    assert got_rate == rate and arr.shape == (n_frames, n_ch)
    np.testing.assert_allclose(arr, samples / 32768.0, atol=0)


@settings(max_examples=20, deadline=None)
@given(
    brightness=st.integers(min_value=-40, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_dhash_brightness_invariant(brightness, seed):
    """dhash60 is exactly invariant under any global brightness shift
    that does not clip (comparisons are relative)."""
    from petastorm_spark.operators.multimodal import dhash60

    rng = np.random.default_rng(seed)
    base = rng.integers(60, 190, (32, 48)).astype(np.int64)  # clip-safe band
    assert dhash60(base.astype(np.uint8)) == dhash60(
        (base + brightness).astype(np.uint8)
    )


@settings(max_examples=20, deadline=None)
@given(
    gain=st.floats(min_value=0.05, max_value=4.0),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_audio_fingerprint_volume_invariant(gain, seed):
    """audio_fingerprint60 is invariant under any positive gain (the
    RMS envelope scales uniformly, comparisons are relative)."""
    from petastorm_spark.operators.audio import audio_fingerprint60

    rng = np.random.default_rng(seed)
    x = rng.standard_normal(976)
    assert audio_fingerprint60(x) == audio_fingerprint60(x * gain)


@settings(max_examples=20, deadline=None)
@given(
    brightness=st.integers(min_value=-40, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_video_fingerprint_brightness_invariant(brightness, seed):
    """video_fingerprint60 is exactly invariant under a global
    brightness shift that does not clip — frame means all move by the
    same constant, so every adjacent comparison is unchanged."""
    from petastorm_spark.operators.multimodal import video_fingerprint60

    rng = np.random.default_rng(seed)
    base = rng.integers(60, 190, (61, 4, 4)).astype(np.int64)
    assert video_fingerprint60(base) == video_fingerprint60(base + brightness)


@settings(max_examples=60, deadline=None)
@given(data=st.binary(min_size=0, max_size=400))
def test_binary_decoders_fail_cleanly_on_garbage(data):
    """The pure-python container parsers run over untrusted binary
    columns; arbitrary bytes must raise a clean, typed error (or
    decode, for bytes that happen to be a valid container) — never
    hang, loop, or raise anything but the UNDECODABLE errors the
    operators map to NULL."""
    from petastorm_spark.operators.audio import decode_wav
    from petastorm_spark.operators.multimodal import (
        UNDECODABLE,
        decode_image_bytes,
    )

    for fn in (decode_wav, decode_image_bytes):
        try:
            fn(data)
        except UNDECODABLE:
            pass


@settings(max_examples=30, deadline=None)
@given(data=st.binary(min_size=8, max_size=400))
def test_wav_header_prefix_fuzz(data):
    """Garbage wearing a RIFF/WAVE header still fails cleanly — the
    chunk walker must tolerate truncated/overlong chunk sizes."""
    from petastorm_spark.operators.audio import decode_wav
    from petastorm_spark.operators.multimodal import UNDECODABLE

    try:
        decode_wav(b"RIFF" + data[:4] + b"WAVE" + data[4:])
    except UNDECODABLE:
        pass


# ---- .npy / npz decoder: differential against np.load ---------------------


def _npy_bytes(arr, version=None):
    import io

    buf = io.BytesIO()
    np.lib.format.write_array(buf, arr, version=version)
    return buf.getvalue()


def _savez_bytes(**arrays):
    import io

    buf = io.BytesIO()
    np.savez_compressed(buf, **arrays)
    return buf.getvalue()


def _arrow_slice(payload: bytes) -> memoryview:
    """The payload as the reader hands it to codecs: an unsigned-byte
    memoryview slice of a pyarrow binary data buffer (not at offset 0)."""
    import pyarrow as pa

    data = memoryview(pa.array([b"lead", payload, b"tail"]).buffers()[2]).cast("B")
    return data[4 : 4 + len(payload)]


def _np_load(payload: bytes):
    import io

    out = np.load(io.BytesIO(payload), allow_pickle=False)
    return out["arr"] if isinstance(out, np.lib.npyio.NpzFile) else out


def _assert_same_array(out, ref):
    assert type(out) is np.ndarray
    assert out.dtype == ref.dtype and out.shape == ref.shape
    assert out.flags.c_contiguous == ref.flags.c_contiguous
    assert out.flags.f_contiguous == ref.flags.f_contiguous
    np.testing.assert_array_equal(out, ref)
    # writable and independent of the input buffer (owns its data, or is
    # the transposed view of an array that does)
    assert out.flags.writeable
    owner = out if out.base is None else out.base
    assert owner.flags.owndata


_SPECIAL_ARRAYS = {
    "float32_2d": np.arange(12, dtype=np.float32).reshape(3, 4),
    "fortran": np.asfortranarray(np.arange(24, dtype=np.int16).reshape(2, 3, 4)),
    "zero_d": np.array(2.5),
    "empty": np.zeros((0, 3), dtype=np.float64),
    "unicode": np.array([["ab", "cde"], ["", "fghi"]]),
    "big_endian": np.arange(6, dtype=">i4"),
    "bool": np.array([True, False, True]),
}


def _containers(arr):
    """(name, codec, payload) for every wire format that decodes ``arr``."""
    import zlib

    field = UnischemaField("x", arr.dtype.type, None, None, False)
    return [
        ("npy", NdarrayCodec(), _npy_bytes(arr)),
        ("npy_v2", NdarrayCodec(), _npy_bytes(arr, version=(2, 0))),
        ("npz_codec", CompressedNdarrayCodec(), bytes(CompressedNdarrayCodec().encode(field, arr))),
        ("npz_savez_zip64", CompressedNdarrayCodec(), _savez_bytes(arr=arr)),
        ("legacy_zlib", CompressedNdarrayCodec(), zlib.compress(_npy_bytes(arr))),
    ]


@pytest.mark.parametrize("name", sorted(_SPECIAL_ARRAYS))
def test_npy_npz_decode_matches_np_load(name, monkeypatch):
    """Codec decode returns exactly what np.load returns on the same bytes,
    for bytes and zero-copy Arrow-slice inputs, without going through
    np.load for any recognised container."""
    import zlib

    from petastorm_spark.etl.petastorm_compat import PetastormNpzCodec

    arr = _SPECIAL_ARRAYS[name]
    field = UnischemaField("x", arr.dtype.type, None, None, False)
    cases = []
    for kind, codec, payload in _containers(arr):
        ref = _np_load(zlib.decompress(payload) if kind == "legacy_zlib" else payload)
        np.testing.assert_array_equal(ref, arr)
        cases.append((codec, payload, ref))
        if kind.startswith("npz"):
            cases.append((PetastormNpzCodec(), payload, ref))

    def _no_np_load(*a, **k):
        raise AssertionError("np.load fallback taken for a recognised container")

    monkeypatch.setattr(np, "load", _no_np_load)
    for codec, payload, ref in cases:
        for inp in (payload, _arrow_slice(payload)):
            _assert_same_array(codec.decode(field, inp), ref)


@settings(max_examples=40, deadline=None)
@given(arr=arrays(), fortran=st.booleans())
def test_npy_npz_decode_matches_np_load_any_shape(arr, fortran):
    if fortran:
        arr = np.asfortranarray(arr)
    field = UnischemaField("x", arr.dtype.type, None, None, False)
    for kind, codec, payload in _containers(arr):
        if kind == "legacy_zlib":
            continue
        ref = _np_load(payload)
        _assert_same_array(codec.decode(field, payload), ref)
        _assert_same_array(codec.decode(field, _arrow_slice(payload)), ref)


def test_image_raw0_container_decodes_through_npy_decoder():
    from petastorm_spark.operators.multimodal import decode_image_bytes

    img = np.arange(2 * 3 * 3, dtype=np.uint16).reshape(2, 3, 3)
    payload = b"RAW0" + _npy_bytes(img)
    field = UnischemaField("img", np.uint16, (None, None, 3), CompressedImageCodec("jpeg"), False)
    for inp in (payload, _arrow_slice(payload)):
        _assert_same_array(CompressedImageCodec("jpeg").decode(field, inp), img)
    out, fmt = decode_image_bytes(payload)
    assert fmt == "raw0"
    _assert_same_array(out, img)


def test_npy_decoder_rejects_object_dtype():
    import io

    buf = io.BytesIO()
    np.save(buf, np.array([{"a": 1}, None], dtype=object), allow_pickle=True)
    payload = buf.getvalue()
    field = UnischemaField("x", np.object_, None, None, False)
    with pytest.raises(ValueError, match="allow_pickle"):
        NdarrayCodec().decode(field, payload)
    with pytest.raises(ValueError, match="allow_pickle"):
        CompressedNdarrayCodec().decode(
            field, _savez_bytes(arr=np.array([{"a": 1}], dtype=object))
        )


def test_npy_npz_decoder_raises_on_truncation_and_bad_crc():
    import zipfile

    arr = np.arange(64, dtype=np.float64).reshape(8, 8)
    field = UnischemaField("x", np.float64, None, None, False)
    npy = _npy_bytes(arr)
    for cut in (3, 9, len(npy) - 1):
        with pytest.raises(ValueError):
            NdarrayCodec().decode(field, npy[:cut])
    for npz in (
        bytes(CompressedNdarrayCodec().encode(field, arr)),
        _savez_bytes(arr=arr),
    ):
        for cut in (60, len(npz) - 1):
            with pytest.raises(zipfile.BadZipFile):
                CompressedNdarrayCodec().decode(field, npz[:cut])
        # local header sizes (offsets 18, 22) past the end of the buffer
        if npz[18:26] != b"\xff" * 8:
            overlong = bytearray(npz)
            overlong[18:22] = (len(npz) + 1).to_bytes(4, "little")
            with pytest.raises(zipfile.BadZipFile, match="truncated"):
                CompressedNdarrayCodec().decode(field, bytes(overlong))
        # zip64 uncompressed size (offset 41) far past what the member holds
        if npz[18:26] == b"\xff" * 8:
            huge = bytearray(npz)
            huge[41:49] = b"\xff" * 8
            with pytest.raises(zipfile.BadZipFile):
                CompressedNdarrayCodec().decode(field, bytes(huge))
        # CRC-32 field of the local file header (offset 14)
        bad_crc = bytearray(npz)
        bad_crc[14] ^= 0xFF
        with pytest.raises(zipfile.BadZipFile, match="CRC"):
            CompressedNdarrayCodec().decode(field, bytes(bad_crc))


def test_npz_decoder_falls_back_for_unrecognised_containers(monkeypatch):
    """Containers the local-header parser does not take (data descriptor,
    stored member, first member not arr.npy) still decode via np.load."""
    import io
    import zipfile

    arr = np.arange(10, dtype=np.int32).reshape(2, 5)
    npy = _npy_bytes(arr)

    class _Unseekable:  # zipfile writes data descriptors to streams
        def __init__(self):
            self.buf = io.BytesIO()

        def write(self, b):
            return self.buf.write(b)

        def flush(self):
            pass

    stream = _Unseekable()
    with zipfile.ZipFile(stream, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("arr.npy", npy)
    descriptor = stream.buf.getvalue()
    assert descriptor[6] & 0x08

    stored = io.BytesIO()
    np.savez(stored, arr=arr)
    payloads = [descriptor, stored.getvalue(), _savez_bytes(other=arr * 2, arr=arr)]

    real_load = np.load
    calls = []

    def _spy(*a, **k):
        calls.append(1)
        return real_load(*a, **k)

    monkeypatch.setattr(np, "load", _spy)
    field = UnischemaField("x", np.int32, None, None, False)
    for payload in payloads:
        _assert_same_array(CompressedNdarrayCodec().decode(field, payload), arr)
    assert len(calls) == len(payloads)
