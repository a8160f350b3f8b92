"""Read-only interop with datasets written by the original petastorm.

The reference stores a **pickled** ``Unischema`` under the
``dataset-toolkit.unischema.v1`` key and a JSON ``{relative file path:
num row groups}`` map under ``dataset-toolkit.num_row_groups_per_file.v1``
in the parquet ``_common_metadata`` footer
(petastorm/etl/dataset_metadata.py:34-35,194-241). This module loads
both so an existing petastorm dataset decodes tensors here without
rewriting.

Safety: the pickle is parsed with a RESTRICTED unpickler — only the
petastorm schema/codec class names (mapped to local shims), numpy,
decimal, collections, and pyspark.sql.types resolve; anything else
raises. We never execute reference code.

Format notes:
  - reference ``NdarrayCodec`` payloads are plain ``np.save`` bytes —
    byte-compatible with our own ``NdarrayCodec``;
  - reference ``CompressedNdarrayCodec`` uses ``np.savez_compressed``
    (petastorm/codecs.py:174-212); since round 9 our own
    ``CompressedNdarrayCodec`` emits the same npz container (and still
    decodes its pre-round-9 zlib payloads), so both directions are
    byte-compatible. :class:`PetastormNpzCodec` remains registered so
    sidecars written under that name keep loading;
  - ``CompressedImageCodec`` maps by (format, quality); decoding real
    png/jpeg stays gated on an image library being importable.
"""

from __future__ import annotations

import io
import json
import pickle
from typing import NamedTuple

import numpy as np
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql.types import BinaryType

from petastorm_spark.codecs import (
    _CODEC_CLASSES,
    CompressedImageCodec,
    CompressedNdarrayCodec,
    DataframeColumnCodec,
    NdarrayCodec,
    ScalarCodec,
    _npz_arr_decode,
)
from petastorm_spark.unischema import Unischema, UnischemaField

UNISCHEMA_KEY = b"dataset-toolkit.unischema.v1"
ROW_GROUPS_KEY = b"dataset-toolkit.num_row_groups_per_file.v1"


class PetastormNpzCodec(DataframeColumnCodec):
    """ndarray <-> ``np.savez_compressed`` container — the reference's
    CompressedNdarrayCodec wire format (array stored under key 'arr')."""

    name = "petastorm_npz"

    def spark_dtype(self):
        return BinaryType()

    def encode(self, field, value):
        buf = io.BytesIO()
        np.savez_compressed(buf, arr=np.asarray(value))
        return bytearray(buf.getvalue())

    def decode(self, field, encoded):
        return _npz_arr_decode(encoded)


_CODEC_CLASSES[PetastormNpzCodec.name] = PetastormNpzCodec


# ---- the reference's schema and codec classes, as local shims --------------
#
# One set serves both directions. The restricted unpickler maps the
# reference names to them; the writer pickles instances of them, and
# because each carries its reference __module__/__qualname__, the real
# petastorm on the reading side resolves the same names to its own
# classes. No reference code is imported or executed here.


class _RefUnischemaField(NamedTuple):
    name: str
    numpy_dtype: object
    shape: object
    codec: object = None
    nullable: object = False


class _RefUnischema:
    pass


class _RefScalarCodec:
    pass


class _RefNdarrayCodec:
    pass


class _RefCompressedNdarrayCodec:
    pass


class _RefCompressedImageCodec:
    pass


_SHIMS = {
    ("petastorm.unischema", "Unischema"): _RefUnischema,
    ("petastorm.unischema", "UnischemaField"): _RefUnischemaField,
    ("petastorm.codecs", "ScalarCodec"): _RefScalarCodec,
    ("petastorm.codecs", "NdarrayCodec"): _RefNdarrayCodec,
    ("petastorm.codecs", "CompressedNdarrayCodec"): _RefCompressedNdarrayCodec,
    ("petastorm.codecs", "CompressedImageCodec"): _RefCompressedImageCodec,
}
for (_mod, _qual), _cls in _SHIMS.items():
    _cls.__module__ = _mod
    _cls.__qualname__ = _cls.__name__ = _qual

# Datasets written before the reference's package rename pickle the same
# classes under two historical package roots (reference etl/legacy.py:
# LEGACY_PACKAGE_NAMES, depickle_legacy_package_name_compatible). Mapping
# the names in find_class covers every pickle protocol, where the
# reference's raw \n(c...\n byte substitution only handles the text
# GLOBAL opcode of protocols <= 2.
_LEGACY_PACKAGES = (
    "av.experimental.deepdrive.dataset_toolkit",
    "av.ml.dataset_toolkit",
)
for _pkg in _LEGACY_PACKAGES:
    for (_mod, _cls), _shim in list(_SHIMS.items()):
        _SHIMS[(_mod.replace("petastorm", _pkg, 1), _cls)] = _shim

# NOTE: 'builtins' is deliberately ABSENT — whitelisting it wholesale
# would let a crafted footer resolve builtins.eval/exec/getattr and
# execute code. The handful of benign builtins a pickle can legitimately
# name are enumerated explicitly in _PY2_SYMBOLS below (py3 'builtins'
# aliases of the same py2 '__builtin__' set).
_SAFE_MODULES = ("numpy", "decimal", "collections", "pyspark.sql.types")

# Python-2-era pickles (petastorm 0.4.x-0.7.x wrote protocol <= 2 under
# py2) route object reconstruction through copy_reg._reconstructor and
# name builtins as __builtin__; map both to their py3 homes instead of
# whitelisting the modules wholesale (the reference's legacy.py:22-30
# allows all of copy_reg/__builtin__ — we resolve only the two symbols
# these footers actually need).
import copyreg as _copyreg


def _restore_namedtuple(name, fields, value):
    """Replacement for the long-removed ``pyspark.serializers._restore``
    (Spark <= 2.x hijacked collections.namedtuple so that instances —
    petastorm 0.4.x's UnischemaField among them — pickled through this
    hook). UnischemaField payloads rebuild as the local shim (older
    footers carry 4 elements, before ``nullable`` existed — padded
    False); anything else rebuilds as a plain namedtuple."""
    if name == "UnischemaField":
        vals = tuple(value) + (False,) * (5 - len(value))
        return _RefUnischemaField(*vals[:5])
    import collections

    return collections.namedtuple(name, fields)(*value)


_PY2_SYMBOLS = {
    ("copy_reg", "_reconstructor"): _copyreg._reconstructor,
    ("copyreg", "_reconstructor"): _copyreg._reconstructor,
    ("pyspark.serializers", "_restore"): _restore_namedtuple,
}
# Benign container/value types a footer pickle can legitimately name,
# under both the py2 and py3 module names. Nothing callable-with-effect
# (eval/exec/getattr/__import__) is resolvable.
for _t in (object, tuple, list, dict, set, frozenset, bytearray, complex, bool, int, float, str, bytes):
    _PY2_SYMBOLS[("__builtin__", _t.__name__)] = _t
    _PY2_SYMBOLS[("builtins", _t.__name__)] = _t


class _RestrictedUnpickler(pickle.Unpickler):
    def find_class(self, module, name):
        shim = _SHIMS.get((module, name))
        if shim is not None:
            return shim
        py2 = _PY2_SYMBOLS.get((module, name))
        if py2 is not None:
            return py2
        if module in _SAFE_MODULES or module.startswith("numpy."):
            return super().find_class(module, name)
        raise pickle.UnpicklingError(
            f"refusing to unpickle {module}.{name} from petastorm metadata"
        )


def _fresh_spark_type(t):
    """Rebuild an unpickled pyspark DataType with the CURRENT class:
    a Spark-2.x-era pickled StringType lacks attributes modern pyspark
    expects (e.g. ``collation``, added in 4.x), so trusting unpickled
    state produces objects that crash on first use. Parameterized
    types re-init from their own pickled parameters."""
    import pyspark.sql.types as T

    if isinstance(t, T.DecimalType):
        return T.DecimalType(int(t.precision), int(t.scale))
    if isinstance(t, T.CharType):
        return T.CharType(int(t.length))
    if isinstance(t, T.VarcharType):
        return T.VarcharType(int(t.length))
    return type(t)()


def _convert_codec(ref) -> DataframeColumnCodec | None:
    if ref is None:
        return None
    if isinstance(ref, _RefScalarCodec):
        return ScalarCodec(_fresh_spark_type(ref.__dict__["_spark_type"]))
    if isinstance(ref, _RefNdarrayCodec):
        return NdarrayCodec()  # both sides are plain np.save bytes
    if isinstance(ref, _RefCompressedNdarrayCodec):
        return CompressedNdarrayCodec()  # same npz container since round 9
    if isinstance(ref, _RefCompressedImageCodec):
        d = ref.__dict__
        fmt = d.get("_image_codec", ".png").lstrip(".")
        fmt = {"jpg": "jpeg"}.get(fmt, fmt)
        return CompressedImageCodec(fmt, d.get("_quality", 80))
    raise TypeError(f"unsupported reference codec {type(ref).__name__}")


def unischema_from_pickle(payload: bytes) -> Unischema:
    """Parse a reference-pickled Unischema into our JSON-native one."""
    ref = _RestrictedUnpickler(io.BytesIO(payload)).load()
    state = getattr(ref, "__dict__", {})
    name = state.get("_name", "petastorm_dataset")
    ref_fields = state.get("_fields", {})
    fields = []
    for f in ref_fields.values():
        shape = tuple(f.shape) if f.shape is not None else None
        fields.append(
            UnischemaField(
                f.name,
                f.numpy_dtype,
                shape,
                _convert_codec(f.codec),
                bool(f.nullable),
            )
        )
    return Unischema(name, fields)


def load_petastorm_metadata(
    dataset_url: str,
) -> tuple[Unischema | None, dict | None]:
    """(Unischema, rowgroup-count map) from a reference dataset's
    ``_common_metadata``, or (None, None) when absent/foreign."""
    from petastorm_spark.reader import _resolve_fs

    pair = _resolve_fs(dataset_url)
    if pair is None:
        return None, None
    fs, root = pair
    path = root.rstrip("/") + "/_common_metadata"
    try:
        info = fs.get_file_info([path])[0]
        if info.type != pafs.FileType.File:
            return None, None
        with fs.open_input_file(path) as f:
            meta = pq.read_metadata(f).metadata or {}
    except (OSError, pq.lib.ArrowInvalid):
        return None, None
    schema = None
    counts = None
    if UNISCHEMA_KEY in meta:
        schema = unischema_from_pickle(meta[UNISCHEMA_KEY])
    if ROW_GROUPS_KEY in meta:
        try:
            counts = json.loads(meta[ROW_GROUPS_KEY].decode())
        except (ValueError, UnicodeDecodeError):
            counts = None
    return schema, counts


# ---------------------------------------------------------------------------
# Write-side interop: store the reference's pickled-Unischema key so that
# ORIGINAL petastorm readers can consume datasets this engine writes
# (format: petastorm/etl/dataset_metadata.py:194-241).
#
# The pickle names petastorm.unischema.Unischema / petastorm.codecs.*,
# modules that do not exist in this environment: matching fake modules
# holding the shims above are injected into sys.modules only for the
# duration of the dump (pickle verifies global identity at save time).
# ---------------------------------------------------------------------------

import sys
import types
import warnings
from collections import OrderedDict
from contextlib import contextmanager


@contextmanager
def _fake_petastorm_modules():
    mods: dict[str, types.ModuleType] = {}
    for cls in set(_SHIMS.values()):
        mod = mods.setdefault(cls.__module__, types.ModuleType(cls.__module__))
        setattr(mod, cls.__qualname__, cls)
    pkg = types.ModuleType("petastorm")
    pkg.unischema = mods["petastorm.unischema"]
    pkg.codecs = mods["petastorm.codecs"]
    injected = {"petastorm": pkg, **mods}
    saved = {name: sys.modules.get(name) for name in injected}
    sys.modules.update(injected)
    try:
        yield
    finally:
        for name, old in saved.items():
            if old is None:
                sys.modules.pop(name, None)
            else:
                sys.modules[name] = old


def _codec_to_ref(codec):
    # Exact-type checks, not isinstance: a user codec SUBCLASSING one of
    # ours may override encode/decode (round-9 red test: ReversedBytesCodec),
    # so its payload bytes are NOT what the reference class decodes — it
    # must fall through to the ValueError refusal below.
    if codec is None:
        return None
    if type(codec) is ScalarCodec:
        c = _RefScalarCodec()
        c.__dict__["_spark_type"] = codec.spark_dtype()
        return c
    if type(codec) is NdarrayCodec:
        return _RefNdarrayCodec()  # both sides: plain np.save bytes
    if type(codec) in (PetastormNpzCodec, CompressedNdarrayCodec):
        return _RefCompressedNdarrayCodec()  # npz container, byte-compatible
    if type(codec) is CompressedImageCodec:
        c = _RefCompressedImageCodec()
        c.__dict__["_image_codec"] = "." + codec.to_json()["format"]
        c.__dict__["_quality"] = codec.to_json()["quality"]
        return c
    # custom/unknown codec: the PAYLOAD bytes would not decode in
    # original petastorm, so advertising a schema would produce silent
    # garbage — refuse instead.
    raise ValueError(
        f"codec {type(codec).__name__} has no byte-compatible original-"
        "petastorm equivalent; use NdarrayCodec or CompressedNdarrayCodec "
        "for datasets that original petastorm must read"
    )


def unischema_to_pickle(schema: Unischema) -> bytes:
    """Reference-compatible pickled Unischema bytes (the
    dataset-toolkit.unischema.v1 value)."""
    fields = OrderedDict()
    for name, f in schema.fields.items():
        fields[name] = _RefUnischemaField(
            f.name,
            f.numpy_dtype,
            tuple(f.shape) if f.shape is not None else None,
            _codec_to_ref(f.codec),
            bool(f.nullable),
        )
    ref = _RefUnischema()
    ref.__dict__["_name"] = schema._name
    ref.__dict__["_fields"] = fields
    # the reference also exposes each field as an instance attribute
    # (unischema.py:190-198); mirror that state for faithful pickles
    for name, wf in fields.items():
        ref.__dict__.setdefault(name, wf)
    with _fake_petastorm_modules():
        return pickle.dumps(ref, protocol=2)


def write_petastorm_compat_metadata(
    dataset_url: str,
    schema: Unischema | None = None,
    row_groups: dict | None = None,
) -> bool:
    """Write a ``_common_metadata`` footer carrying the reference's
    pickled-Unischema and rowgroup-count keys. Returns False (with a
    warning) when a codec has no byte-compatible reference equivalent."""
    from petastorm_spark.reader import _list_parquet_files_fs, _resolve_fs

    pair = _resolve_fs(dataset_url)
    if pair is None:
        return False
    fs, root = pair
    files = _list_parquet_files_fs(fs, root)
    if not files:
        return False
    with fs.open_input_file(files[0]) as fh:
        arrow_schema = pq.ParquetFile(fh).schema_arrow
    meta = dict(arrow_schema.metadata or {})
    if schema is not None:
        try:
            meta[UNISCHEMA_KEY] = unischema_to_pickle(schema)
        except ValueError as e:
            warnings.warn(
                f"skipping petastorm-compat unischema key: {e}", stacklevel=2
            )
            return False
    if row_groups is not None:
        meta[ROW_GROUPS_KEY] = json.dumps(row_groups).encode()
    out_path = root.rstrip("/") + "/_common_metadata"
    with fs.open_output_stream(out_path) as f:
        pq.write_metadata(arrow_schema.with_metadata(meta), f)
    return True
