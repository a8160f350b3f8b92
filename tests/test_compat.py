"""petastorm drop-in signature compatibility."""

import warnings

import pytest

from petastorm_spark.reader import make_reader


def test_compat_kwargs_accepted_with_warning(spark, sf_dir):
    url = f"{sf_dir}/region.parquet"
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        with make_reader(
            url,
            spark=spark,
            hdfs_driver="libhdfs3",
            results_queue_size=100,
            zmq_copy_buffers=True,
        ) as r:
            assert len(list(r)) == 5
        assert any("petastorm-compat" in str(x.message) for x in w)


def test_unknown_kwargs_rejected(spark, sf_dir):
    with pytest.raises(TypeError, match="unexpected reader arguments"):
        make_reader(f"{sf_dir}/region.parquet", spark=spark, not_a_real_arg=1)


def test_cache_type_local_disk(spark, sf_dir, tmp_path):
    with make_reader(
        f"{sf_dir}/region.parquet",
        spark=spark,
        cache_type="local-disk",
        cache_location=str(tmp_path / "cache"),
    ) as r:
        assert len(list(r)) == 5
    with pytest.raises(ValueError, match="unsupported cache_type"):
        make_reader(f"{sf_dir}/region.parquet", spark=spark, cache_type="redis")


def test_dataloader_shuffling_queue(spark, sf_dir):
    from petastorm_spark.bridges.torch import DataLoader
    from petastorm_spark.reader import make_batch_reader

    with DataLoader(
        make_batch_reader(
            f"{sf_dir}/customer.parquet", spark=spark, schema_fields=["c_custkey"]
        ),
        batch_size=32,
        shuffling_queue_capacity=8,
        shuffling_queue_seed=3,
    ) as loader:
        total = sum(len(b["c_custkey"]) for b in loader)
    assert total == spark.read.parquet(f"{sf_dir}/customer.parquet").count()


# ---- legacy-layout matrix (reference etl/legacy.py + pre-sidecar) ----------


def _legacy_pickled_unischema(pkg: str) -> bytes:
    """Pickle a Unischema the way a pre-rename reference version did:
    class globals under ``<pkg>.unischema`` / ``<pkg>.codecs``. Fake
    modules exist only for the duration of the dump."""
    import pickle
    import sys
    import types
    from collections import namedtuple

    import numpy as np
    from pyspark.sql.types import LongType

    uni_name, cod_name = f"{pkg}.unischema", f"{pkg}.codecs"
    uni_mod = types.ModuleType(uni_name)
    cod_mod = types.ModuleType(cod_name)

    UF = namedtuple(
        "UnischemaField", ["name", "numpy_dtype", "shape", "codec", "nullable"]
    )
    UF.__module__ = uni_name

    class Unischema:  # noqa: N801 - mirrors the reference class name
        pass

    class ScalarCodec:
        pass

    class NdarrayCodec:
        pass

    for cls, mod in ((Unischema, uni_name), (ScalarCodec, cod_name), (NdarrayCodec, cod_name)):
        cls.__module__ = mod
        cls.__qualname__ = cls.__name__
    uni_mod.Unischema, uni_mod.UnischemaField = Unischema, UF
    cod_mod.ScalarCodec, cod_mod.NdarrayCodec = ScalarCodec, NdarrayCodec

    sc = ScalarCodec()
    sc._spark_type = LongType()
    f_id = UF("id", np.int64, (), sc, False)
    f_vec = UF("vec", np.float32, (3,), NdarrayCodec(), False)
    sch = Unischema()
    sch._name = "LegacySchema"
    sch._fields = {"id": f_id, "vec": f_vec}
    sch.id, sch.vec = f_id, f_vec  # reference mirrors fields as attrs

    # pickle's save_global __import__s the module, which needs every
    # ancestor package importable too
    injected = {uni_name: uni_mod, cod_name: cod_mod}
    parts = pkg.split(".")
    for i in range(1, len(parts) + 1):
        name = ".".join(parts[:i])
        if name not in sys.modules:
            injected[name] = types.ModuleType(name)
    inserted = [n for n in injected if n not in sys.modules]
    sys.modules.update({n: injected[n] for n in inserted})
    try:
        return pickle.dumps(sch, protocol=2)
    finally:
        for n in inserted:
            del sys.modules[n]


def _write_legacy_dataset(spark, url: str, pkg: str, with_rowgroup_key: bool) -> None:
    """Plain parquet + a hand-written reference-style ``_common_metadata``
    (pickled Unischema under the legacy package name; optionally the
    rowgroup-count JSON) and NO JSON sidecar — the layout an old
    petastorm version left on disk."""
    import io
    import json
    import os

    import numpy as np
    import pyarrow.parquet as pq

    from petastorm_spark.etl.petastorm_compat import ROW_GROUPS_KEY, UNISCHEMA_KEY

    def np_bytes(arr):
        buf = io.BytesIO()
        np.save(buf, arr)
        return bytearray(buf.getvalue())

    rows = [
        (i, np_bytes(np.arange(3, dtype=np.float32) + i)) for i in range(20)
    ]
    spark.createDataFrame(rows, "id: long, vec: binary").coalesce(2).write.mode(
        "overwrite"
    ).parquet(url)

    files = sorted(
        f for f in os.listdir(url) if f.endswith(".parquet") and not f.startswith("_")
    )
    meta = {UNISCHEMA_KEY: _legacy_pickled_unischema(pkg)}
    if with_rowgroup_key:
        counts = {f: pq.ParquetFile(os.path.join(url, f)).num_row_groups for f in files}
        meta[ROW_GROUPS_KEY] = json.dumps(counts).encode()
    arrow_schema = pq.ParquetFile(os.path.join(url, files[0])).schema_arrow
    pq.write_metadata(
        arrow_schema.with_metadata(meta), os.path.join(url, "_common_metadata")
    )


@pytest.mark.parametrize(
    "pkg,with_rowgroup_key",
    [
        # the two historical package names (reference etl/legacy.py)
        ("av.experimental.deepdrive.dataset_toolkit", True),
        ("av.ml.dataset_toolkit", True),
        # pre-sidecar current-name layout with no rowgroup-count key:
        # the reader must fall back to footer reads for splitting
        ("petastorm", False),
    ],
)
def test_make_reader_reads_legacy_layouts(spark, tmp_path, pkg, with_rowgroup_key):
    import numpy as np

    url = str(tmp_path / "legacyds")
    _write_legacy_dataset(spark, url, pkg, with_rowgroup_key)
    with make_reader(url, spark=spark) as r:
        rows = sorted(r, key=lambda x: x.id)
    assert len(rows) == 20
    # tensor column decoded through the legacy-pickled codec mapping
    assert isinstance(rows[5].vec, np.ndarray)
    assert rows[5].vec.dtype == np.float32
    np.testing.assert_array_equal(rows[5].vec, np.arange(3, dtype=np.float32) + 5)


# ---- CompressedNdarrayCodec interop contract (r5 missing item #3) ----------


def test_compressed_ndarray_codec_compat_contract(spark, tmp_path):
    """Since round 9 ``CompressedNdarrayCodec`` emits the reference's
    np.savez_compressed npz container (petastorm/codecs.py:174-212), so
    ``materialize_dataset(petastorm_compat=True)`` (a) writes the compat
    ``_common_metadata`` footer with NO skip warning, (b) stores
    payloads a reference-style consumer (np.load(...)['arr'] on the raw
    parquet binary) decodes byte-for-byte, and (c) the engine's own
    reader still round-trips — including LEGACY pre-round-9 zlib
    payloads, pinned at the codec level."""
    import io
    import os
    import warnings
    import zlib

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    from petastorm_spark.codecs import CompressedNdarrayCodec, ScalarCodec
    from petastorm_spark.etl.dataset_metadata import materialize_dataset
    from petastorm_spark.etl.petastorm_compat import UNISCHEMA_KEY
    from petastorm_spark.reader import make_reader
    from petastorm_spark.unischema import (
        Unischema,
        UnischemaField,
        dict_to_spark_row,
    )

    schema = Unischema(
        "Z",
        [
            UnischemaField("id", np.int64, (), ScalarCodec(LongType()), False),
            UnischemaField("vec", np.float32, (3,), CompressedNdarrayCodec(), False),
        ],
    )
    url = str(tmp_path / "npzds")
    rows = [
        {"id": i, "vec": np.arange(3, dtype=np.float32) + i} for i in range(10)
    ]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        with materialize_dataset(spark, url, schema):
            spark.createDataFrame(
                [dict_to_spark_row(schema, r) for r in rows],
                schema.as_spark_schema(),
            ).coalesce(1).write.mode("overwrite").parquet(url)
    assert not any("petastorm-compat" in str(x.message) for x in w)
    cm = os.path.join(url, "_common_metadata")
    assert os.path.exists(cm)
    assert UNISCHEMA_KEY in (pq.read_metadata(cm).metadata or {})
    # reference-style consumption: raw binary column -> np.load ['arr']
    part = next(
        f for f in os.listdir(url) if f.endswith(".parquet") and f[0] != "_"
    )
    tbl = pq.read_table(os.path.join(url, part), columns=["id", "vec"])
    for rid, payload in zip(tbl["id"].to_pylist(), tbl["vec"].to_pylist()):
        arr = np.load(io.BytesIO(payload))["arr"]
        np.testing.assert_array_equal(arr, rows[rid]["vec"])
    with make_reader(url, spark=spark) as r:
        got = sorted((row.id, row.vec.tolist()) for row in r)
    assert got == [(i, [float(i), float(i + 1), float(i + 2)]) for i in range(10)]
    # legacy pre-round-9 payload (zlib-wrapped np.save) still decodes
    codec = CompressedNdarrayCodec()
    f = schema.fields["vec"]
    legacy_raw = io.BytesIO()
    np.save(legacy_raw, rows[0]["vec"])
    legacy = bytearray(zlib.compress(legacy_raw.getvalue()))
    np.testing.assert_array_equal(codec.decode(f, legacy), rows[0]["vec"])


def test_npz_codec_is_reference_byte_compatible(spark, tmp_path):
    """The supported compat path, end-to-end: ``PetastormNpzCodec``
    payloads are the reference CompressedNdarrayCodec wire format
    (np.savez_compressed, key 'arr'), so the compat footer IS written
    (no warning) and a reference-style consumer — np.load on the raw
    parquet binary, schema from the pickled unischema key — recovers
    the arrays byte-for-byte."""
    import io
    import os
    import warnings

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    from petastorm_spark.codecs import ScalarCodec
    from petastorm_spark.etl.dataset_metadata import materialize_dataset
    from petastorm_spark.etl.petastorm_compat import (
        UNISCHEMA_KEY,
        PetastormNpzCodec,
        unischema_from_pickle,
    )
    from petastorm_spark.unischema import (
        Unischema,
        UnischemaField,
        dict_to_spark_row,
    )

    schema = Unischema(
        "N",
        [
            UnischemaField("id", np.int64, (), ScalarCodec(LongType()), False),
            UnischemaField("vec", np.float32, (3,), PetastormNpzCodec(), False),
        ],
    )
    url = str(tmp_path / "npzds")
    rows = [
        {"id": i, "vec": np.arange(3, dtype=np.float32) * i} for i in range(8)
    ]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        with materialize_dataset(spark, url, schema):
            spark.createDataFrame(
                [dict_to_spark_row(schema, r) for r in rows],
                schema.as_spark_schema(),
            ).coalesce(1).write.mode("overwrite").parquet(url)
    assert not any("petastorm-compat" in str(x.message) for x in w)
    meta_path = os.path.join(url, "_common_metadata")
    assert os.path.exists(meta_path)

    # reference-style consumption: schema from the pickled key, payload
    # via plain np.load (exactly what petastorm's decoder runs)
    kv = pq.read_schema(meta_path).metadata
    back = unischema_from_pickle(kv[UNISCHEMA_KEY.encode()
                                    if isinstance(UNISCHEMA_KEY, str)
                                    else UNISCHEMA_KEY])
    assert "vec" in back.fields
    table = pq.read_table(url)
    ids = table.column("id").to_pylist()
    for i, payload in zip(ids, table.column("vec").to_pylist()):
        arr = np.load(io.BytesIO(payload), allow_pickle=False)["arr"]
        np.testing.assert_array_equal(arr, np.arange(3, dtype=np.float32) * i)


# ---- one metadata chain for the Reader and every ETL tool ------------------


def test_reference_footer_only_dataset_keeps_codecs_through_etl_tools(spark, tmp_path):
    """A dataset whose only metadata is the reference ``_common_metadata``
    footer (a ``materialize_dataset`` write with the JSON sidecar
    deleted): ``load_unischema``, ``dataset_as_rdd``, and ``make_reader``
    over the outputs of ``copy_dataset``, ``compact_dataset`` and an
    in-place ``generate_metadata`` keep the ``NdarrayCodec`` and return
    arrays. The retrofit also rewrites the footer's row-group counts,
    which a later append left stale."""
    import json
    import os

    import numpy as np
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType

    from petastorm_spark.codecs import NdarrayCodec, ScalarCodec
    from petastorm_spark.etl.compact import compact_dataset
    from petastorm_spark.etl.dataset_metadata import (
        SIDECAR_NAME,
        load_unischema,
        materialize_dataset,
    )
    from petastorm_spark.etl.generate_metadata import generate_metadata
    from petastorm_spark.etl.petastorm_compat import (
        ROW_GROUPS_KEY,
        load_petastorm_metadata,
    )
    from petastorm_spark.spark_utils import dataset_as_rdd
    from petastorm_spark.tools.copy_dataset import copy_dataset
    from petastorm_spark.unischema import Unischema, UnischemaField, dict_to_spark_row

    schema = Unischema(
        "FooterOnly",
        [
            UnischemaField("id", np.int64, (), ScalarCodec(LongType()), False),
            UnischemaField("vec", np.float32, (2, 3), NdarrayCodec(), False),
        ],
    )

    def vec(i):
        return np.arange(6, dtype=np.float32).reshape(2, 3) + i

    def frame(ids):
        return spark.createDataFrame(
            [dict_to_spark_row(schema, {"id": i, "vec": vec(i)}) for i in ids],
            schema.as_spark_schema(),
        ).coalesce(1)

    def assert_arrays(url, n):
        with make_reader(url, spark=spark) as r:
            rows = sorted(r, key=lambda x: x.id)
        assert [row.id for row in rows] == list(range(n))
        for row in rows:
            assert isinstance(row.vec, np.ndarray), (url, type(row.vec))
            np.testing.assert_array_equal(row.vec, vec(row.id))

    src = str(tmp_path / "src")
    with materialize_dataset(spark, src, schema):
        frame(range(10)).write.mode("overwrite").parquet(src)
    os.remove(os.path.join(src, SIDECAR_NAME))
    assert_arrays(src, 10)

    assert isinstance(load_unischema(spark, src).fields["vec"].codec, NdarrayCodec)
    got = sorted(dataset_as_rdd(src, spark).collect(), key=lambda t: t.id)
    assert [type(t.vec) for t in got] == [np.ndarray] * 10
    np.testing.assert_array_equal(got[3].vec, vec(3))

    copied = str(tmp_path / "copied")
    copy_dataset(spark, src, copied)
    assert_arrays(copied, 10)
    compacted = str(tmp_path / "compacted")
    compact_dataset(spark, src, compacted)
    assert_arrays(compacted, 10)

    # an append the footer does not know of, then the retrofit in place
    frame(range(10, 14)).write.mode("append").parquet(src)
    generate_metadata(spark, src)
    assert_arrays(src, 14)
    footers = {
        f: pq.ParquetFile(os.path.join(src, f)).num_row_groups
        for f in os.listdir(src)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }
    assert len(footers) == 2
    meta = pq.read_schema(os.path.join(src, "_common_metadata")).metadata
    assert json.loads(meta[ROW_GROUPS_KEY]) == footers
    with open(os.path.join(src, SIDECAR_NAME)) as f:
        assert json.load(f)["row_groups"] == footers
    stored, counts = load_petastorm_metadata(src)
    assert isinstance(stored.fields["vec"].codec, NdarrayCodec)
    assert counts == footers
