"""Round-2 reader scale features: direct streaming with DNF filters,
statistics-based row-group pruning, sidecar row-group counts, process
reader pool, cache eviction, shard-consistency check, and petastorm
dataset interop."""

import json
import os
import pickle
import sys
import types
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

import petastorm_spark.reader as reader_mod
from petastorm_spark.codecs import NdarrayCodec, ScalarCodec
from petastorm_spark.etl.dataset_metadata import materialize_dataset, read_sidecar
from petastorm_spark.reader import make_batch_reader, make_reader
from petastorm_spark.unischema import Unischema, UnischemaField, dict_to_spark_row


# ---------------------------------------------------------------------------
# DNF filters stream directly — no materialization
# ---------------------------------------------------------------------------


def test_dnf_filters_no_materialization(spark, sf_dir):
    with make_reader(
        f"{sf_dir}/nation.parquet",
        spark=spark,
        filters=[("n_nationkey", "<", 10)],
    ) as r:
        assert r._owned_cache is None, "DNF filters must not copy the dataset"
        rows = list(r)
    assert sorted(x.n_nationkey for x in rows) == list(range(10))


def test_dnf_disjunction_and_in(spark, sf_dir):
    with make_reader(
        f"{sf_dir}/nation.parquet",
        spark=spark,
        filters=[
            [("n_regionkey", "=", 0), ("n_nationkey", "<", 10)],
            [("n_nationkey", "in", [20, 21])],
        ],
    ) as r:
        assert r._owned_cache is None
        got = sorted(x.n_nationkey for x in r)
    import duckdb

    want = [
        row[0]
        for row in duckdb.sql(
            f"SELECT n_nationkey FROM '{sf_dir}/nation.parquet' "
            "WHERE (n_regionkey = 0 AND n_nationkey < 10) "
            "OR n_nationkey IN (20, 21) ORDER BY 1"
        ).fetchall()
    ]
    assert got == want


def test_dnf_matches_spark_plan_tier(spark, sf_dir):
    dnf = [("o_totalprice", ">=", 100000.0), ("o_orderpriority", "=", "1-URGENT")]
    with make_batch_reader(
        f"{sf_dir}/orders.parquet", spark=spark, filters=dnf
    ) as r:
        direct = sum(len(b.o_orderkey) for b in r)
        plan_count = r.dataframe.count()
    assert direct == plan_count > 0


def test_file_scheme_streams_directly(spark, sf_dir):
    with make_reader(f"file://{sf_dir}/region.parquet", spark=spark) as r:
        assert r._owned_cache is None
        assert len(list(r)) == 5


def test_stats_prune_rowgroups(spark, tmp_path):
    """Row groups whose min/max can't satisfy the filter never get read."""
    url = str(tmp_path / "sorted_ds")
    spark.range(10000).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartitionByRange(8, "id").write.parquet(url)
    with make_reader(url, spark=spark) as r:
        total_pieces = len(r._pieces)
    with make_reader(url, spark=spark, filters=[("id", "<", 100)]) as r:
        assert len(r._pieces) < total_pieces
        assert sorted(x.id for x in r) == list(range(100))
    with make_reader(url, spark=spark, filters=[("id", "=", -5)]) as r:
        assert len(r._pieces) == 0 or not list(r)


# ---------------------------------------------------------------------------
# Sidecar row-group counts: no footers opened when present
# ---------------------------------------------------------------------------

SimpleSchema = Unischema(
    "S",
    [
        UnischemaField("id", np.int64, (), ScalarCodec(IntegerType()), False),
        UnischemaField("vec", np.float32, (4,), NdarrayCodec(), False),
    ],
)


def _write_simple(spark, url, n=40, parts=4):
    rows = [
        {"id": i, "vec": np.full((4,), float(i), dtype=np.float32)}
        for i in range(n)
    ]
    with materialize_dataset(spark, url, SimpleSchema):
        spark.createDataFrame(
            [dict_to_spark_row(SimpleSchema, r) for r in rows],
            SimpleSchema.as_spark_schema(),
        ).repartition(parts).write.mode("overwrite").parquet(url)


def test_sidecar_stores_rowgroup_counts(spark, tmp_path):
    url = str(tmp_path / "rgds")
    _write_simple(spark, url)
    payload = read_sidecar(spark, url)
    assert payload["row_groups"], payload
    assert sum(payload["row_groups"].values()) >= 4


def test_pieces_built_without_footit_scan(spark, tmp_path, monkeypatch):
    url = str(tmp_path / "rgds2")
    _write_simple(spark, url)

    def boom(*a, **k):
        raise AssertionError("footer scan must not run when sidecar has counts")

    monkeypatch.setattr(reader_mod, "_parallel_footers", boom)
    with make_reader(url, spark=spark) as r:
        assert len({x.id for x in r}) == 40


# ---------------------------------------------------------------------------
# Process reader pool
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("pool", ["dummy", "thread", "process"])
def test_reader_pool_matrix(spark, tmp_path_factory, pool):
    url = str(tmp_path_factory.mktemp("poolds") / "ds")
    _write_simple(spark, url, n=30, parts=3)
    with make_reader(
        url, spark=spark, reader_pool_type=pool, workers_count=2
    ) as r:
        rows = {x.id: x.vec for x in r}
    assert sorted(rows) == list(range(30))
    assert isinstance(rows[7], np.ndarray)
    np.testing.assert_array_equal(rows[7], np.full((4,), 7.0, dtype=np.float32))

    # One piece kernel for every pool: with the row predicate (on a
    # column outside the view), DNF filters, a TransformSpec, row
    # shuffle and strided row-group slices all on, each pool delivers
    # the dummy pool's exact row sequence.
    from petastorm_spark.predicates import in_lambda
    from petastorm_spark.transform import TransformSpec

    def sequence(pool_type):
        with make_reader(
            url,
            spark=spark,
            reader_pool_type=pool_type,
            workers_count=2,
            schema_fields=["id"],
            predicate=in_lambda(
                ["vec"], lambda cols: np.array([v.sum() >= 20 for v in cols["vec"]])
            ),
            filters=[("id", "<", 25)],
            transform_spec=TransformSpec(
                lambda pdf: pdf.assign(twice=pdf["id"] * 2),
                edit_fields=[("twice", np.int64, (), False)],
            ),
            shuffle_rows=True,
            seed=3,
            shuffle_row_drop_partitions=2,
        ) as r:
            return [(int(x.id), int(x.twice)) for x in r]

    got = sequence(pool)
    assert sorted(got) == [(i, 2 * i) for i in range(5, 25)]
    assert got == sequence("dummy")


def test_process_pool_with_predicate_and_shuffle(spark, tmp_path):
    from petastorm_spark.predicates import in_lambda

    url = str(tmp_path / "procds")
    _write_simple(spark, url, n=30, parts=3)
    pred = in_lambda(["vec"], lambda cols: np.array([v.sum() >= 40 for v in cols["vec"]]))
    with make_reader(
        url,
        spark=spark,
        reader_pool_type="process",
        workers_count=2,
        predicate=pred,
        shuffle_rows=True,
        seed=11,
    ) as r:
        got = sorted(x.id for x in r)
    assert got == list(range(10, 30))


def test_process_pool_lives_as_long_as_the_reader(spark, tmp_path):
    """The spawn pool starts on the first iteration and serves every
    later one (a pool per epoch paid ~1 s of spawn and import each
    time), an iteration left half-way leaves no piece running, and
    close() leaves no worker process behind."""
    import multiprocessing
    import time

    url = str(tmp_path / "procds")
    _write_simple(spark, url, n=30, parts=3)
    r = make_reader(url, spark=spark, reader_pool_type="process", workers_count=2)
    walls, pools = [], []
    for _ in range(3):
        t0 = time.perf_counter()
        assert sorted(x.id for x in r) == list(range(30))
        walls.append(time.perf_counter() - t0)
        pools.append(r._pool)
    workers = list(r._pool._processes.values())
    assert len(workers) == 2 and pools[0] is pools[1] is pools[2]
    assert walls[1] <= walls[2] + 0.25, walls

    it = iter(r)
    next(it)
    it.close()  # abandoned mid-epoch: nothing left queued or running
    pending = r._pool._pending_work_items.values()
    assert all(item.future.done() for item in pending)
    assert sorted(x.id for x in r) == list(range(30))

    r.close()
    assert r._pool is None
    assert not any(p.is_alive() for p in workers)
    assert not set(multiprocessing.active_children()) & set(workers)


def test_process_pool_runs_the_transform_in_workers(spark, tmp_path):
    """The process pool's workers run the whole piece function, the
    TransformSpec included: the pids the transform records are the
    workers', not the parent's."""
    from petastorm_spark.transform import TransformSpec

    url = str(tmp_path / "procds")
    _write_simple(spark, url, n=30, parts=3)
    with make_reader(
        url,
        spark=spark,
        reader_pool_type="process",
        workers_count=2,
        transform_spec=TransformSpec(
            lambda pdf: pdf.assign(pid=os.getpid()),
            edit_fields=[("pid", np.int64, (), False)],
        ),
    ) as r:
        rows = list(r)
    assert sorted(x.id for x in rows) == list(range(30))
    pids = {int(x.pid) for x in rows}
    assert pids and os.getpid() not in pids


def test_thread_pool_lives_as_long_as_the_reader(spark, tmp_path):
    """The thread pool is one executor for every epoch of a reader, and
    close() leaves no worker thread behind."""
    url = str(tmp_path / "thrds")
    _write_simple(spark, url, n=30, parts=3)
    r = make_reader(url, spark=spark, reader_pool_type="thread", workers_count=2)
    pools = []
    for _ in range(3):
        assert sorted(x.id for x in r) == list(range(30))
        pools.append(r._pool)
    assert pools[0] is not None and pools[0] is pools[1] is pools[2]
    threads = list(pools[0]._threads)
    assert threads
    r.close()
    assert r._pool is None
    for t in threads:
        t.join(timeout=10)
    assert not any(t.is_alive() for t in threads)


def test_close_under_a_suspended_iteration_does_not_hang(spark, tmp_path):
    """bench.py's reader protocol: ``it = iter(reader); next(it)``, then
    the reader closes while ``it`` is suspended. close() cancels the
    queued pieces, and ``it``'s cleanup then waited for them forever."""
    import threading
    import time

    from petastorm_spark.transform import TransformSpec

    url = str(tmp_path / "thrds")
    _write_simple(spark, url, n=30, parts=3)
    slow = TransformSpec(lambda pdf: time.sleep(0.5) or pdf)
    r = make_reader(
        url, spark=spark, reader_pool_type="thread", workers_count=2,
        num_epochs=None, transform_spec=slow,
    )
    it = iter(r)
    next(it)  # two pieces running, two queued
    r.close()
    closer = threading.Thread(target=it.close, daemon=True)
    closer.start()
    closer.join(timeout=30)
    assert not closer.is_alive()


def test_process_pool_names_an_unpicklable_predicate(spark, tmp_path):
    """A predicate cloudpickle cannot serialize fails on the process
    pool at the first iteration, with a TypeError naming it."""
    import threading

    from petastorm_spark.predicates import in_lambda

    url = str(tmp_path / "procds")
    _write_simple(spark, url, n=30, parts=3)
    lock = threading.Lock()

    def keep(cols):
        with lock:
            return np.array([True] * len(cols["id"]))

    pred = in_lambda(["id"], keep)
    with make_reader(
        url, spark=spark, reader_pool_type="process", workers_count=2,
        predicate=pred,
    ) as r:
        with pytest.raises(TypeError, match="predicate") as info:
            next(iter(r))
        assert repr(pred) in str(info.value)
        assert r._pool is None
    # the same predicate runs on the thread pool, which pickles nothing
    with make_reader(
        url, spark=spark, reader_pool_type="thread", workers_count=2,
        predicate=pred,
    ) as r:
        assert sorted(x.id for x in r) == list(range(30))


# ---------------------------------------------------------------------------
# Cache size limit + eviction
# ---------------------------------------------------------------------------


def test_cache_eviction(spark, sf_dir, tmp_path):
    cache = str(tmp_path / "cache")
    os.makedirs(cache)

    def read(filt):
        with make_reader(
            f"{sf_dir}/nation.parquet",
            spark=spark,
            filters=(F.col("n_nationkey") % 100) < filt,  # JVM-only filter -> materialize
            cache_dir=cache,
            cache_size_limit=1,  # 1 byte: everything but current evicts
        ) as r:
            list(r)

    read(10)
    first = [d for d in os.listdir(cache) if d.startswith("_ps_materialized_")]
    assert len(first) == 1
    with pytest.warns(UserWarning, match="evicted"):
        read(20)
    after = [d for d in os.listdir(cache) if d.startswith("_ps_materialized_")]
    assert len(after) == 1 and after != first


# ---------------------------------------------------------------------------
# Converter shard-consistency
# ---------------------------------------------------------------------------


def test_converter_shard_consistency(spark, sf_dir, tmp_path, monkeypatch):
    from petastorm_spark.converter import make_spark_converter

    df = spark.range(1000).repartition(8)
    conv = make_spark_converter(df, parent_cache_dir=str(tmp_path))
    monkeypatch.setenv("RANK", "1")
    monkeypatch.setenv("WORLD_SIZE", "4")
    with pytest.raises(ValueError, match="inconsistent"):
        conv.make_batch_reader(cur_shard=0, shard_count=2)
    with conv.make_batch_reader(cur_shard=1, shard_count=4) as r:
        assert r is not None
    conv.delete()


# ---------------------------------------------------------------------------
# Petastorm dataset interop (pickled Unischema in _common_metadata)
# ---------------------------------------------------------------------------


def _install_fake_petastorm():
    """Register classes under the reference's module/class names so a
    pickle byte-stream identical to a real petastorm dataset's can be
    produced WITHOUT importing the reference."""
    pkg = types.ModuleType("petastorm")
    um = types.ModuleType("petastorm.unischema")
    cm = types.ModuleType("petastorm.codecs")

    class UnischemaField(NamedTuple):
        name: str
        numpy_dtype: object
        shape: object
        codec: object = None
        nullable: object = False

    class Unischema:
        def __init__(self, name, fields):
            self._name = name
            self._fields = {f.name: f for f in fields}

    class ScalarCodec:
        def __init__(self, spark_type):
            self._spark_type = spark_type

    class NdarrayCodec:
        pass

    class CompressedNdarrayCodec:
        pass

    for cls in (UnischemaField, Unischema):
        cls.__module__ = "petastorm.unischema"
        cls.__qualname__ = cls.__name__
        setattr(um, cls.__name__, cls)
    for cls in (ScalarCodec, NdarrayCodec, CompressedNdarrayCodec):
        cls.__module__ = "petastorm.codecs"
        cls.__qualname__ = cls.__name__
        setattr(cm, cls.__name__, cls)
    sys.modules["petastorm"] = pkg
    sys.modules["petastorm.unischema"] = um
    sys.modules["petastorm.codecs"] = cm
    return um, cm


def _np_save_bytes(arr):
    import io

    buf = io.BytesIO()
    np.save(buf, arr)
    return buf.getvalue()


def _npz_bytes(arr):
    import io

    buf = io.BytesIO()
    np.savez_compressed(buf, arr=arr)
    return buf.getvalue()


@pytest.fixture()
def petastorm_dataset(tmp_path):
    """A dataset laid out exactly as the reference writes it: data
    parquet + _common_metadata with pickled Unischema + rowgroup map."""
    um, cm = _install_fake_petastorm()
    try:
        rng = np.random.default_rng(5)
        mats = [rng.random((3, 2)).astype(np.float32) for _ in range(12)]
        zs = [rng.random((2, 2)) for _ in range(12)]
        table = pa.table(
            {
                "id": pa.array(range(12), pa.int32()),
                "matrix": pa.array([_np_save_bytes(m) for m in mats], pa.binary()),
                "zmat": pa.array([_npz_bytes(z) for z in zs], pa.binary()),
            }
        )
        root = tmp_path / "refds"
        root.mkdir()
        pq.write_table(table, root / "part-00000.parquet", row_group_size=4)

        ref_schema = um.Unischema(
            "RefSchema",
            [
                um.UnischemaField("id", np.int32, (), cm.ScalarCodec(IntegerType()), False),
                um.UnischemaField("matrix", np.float32, (3, 2), cm.NdarrayCodec(), False),
                um.UnischemaField("zmat", np.float64, (2, 2), cm.CompressedNdarrayCodec(), False),
            ],
        )
        meta_schema = pq.read_table(root / "part-00000.parquet").schema.with_metadata(
            {
                b"dataset-toolkit.unischema.v1": pickle.dumps(ref_schema),
                b"dataset-toolkit.num_row_groups_per_file.v1": json.dumps(
                    {"part-00000.parquet": 3}
                ).encode(),
            }
        )
        pq.write_metadata(meta_schema, root / "_common_metadata")
        yield str(root), mats, zs
    finally:
        for m in ("petastorm", "petastorm.unischema", "petastorm.codecs"):
            sys.modules.pop(m, None)


def test_petastorm_interop_decodes_tensors(spark, petastorm_dataset):
    url, mats, zs = petastorm_dataset
    with make_reader(url, spark=spark) as r:
        assert r.schema.fields["matrix"].shape == (3, 2)
        rows = {x.id: x for x in r}
    assert len(rows) == 12
    np.testing.assert_array_almost_equal(rows[3].matrix, mats[3])
    np.testing.assert_array_almost_equal(rows[7].zmat, zs[7])
    assert rows[0].id == 0 and rows[11].id == 11


def test_petastorm_interop_rejects_malicious_pickle(tmp_path):
    from petastorm_spark.etl.petastorm_compat import unischema_from_pickle

    with pytest.raises(pickle.UnpicklingError, match="refusing"):
        unischema_from_pickle(pickle.dumps(os.system))


def test_restricted_unpickler_refuses_builtins_callables():
    """'builtins' is NOT whitelisted wholesale: eval/exec/getattr must
    not resolve (a crafted footer naming them would be code execution),
    while the enumerated benign container types still do."""
    import builtins
    import io

    from petastorm_spark.etl.petastorm_compat import _RestrictedUnpickler

    def load_global(module, name):
        # raw GLOBAL opcode (pickle.dumps would refuse to build these)
        payload = b"c" + module.encode() + b"\n" + name.encode() + b"\n."
        return _RestrictedUnpickler(io.BytesIO(payload)).load()

    for dangerous in ("eval", "exec", "getattr", "__import__", "compile", "open"):
        with pytest.raises(pickle.UnpicklingError, match="refusing"):
            load_global("builtins", dangerous)
    for benign in ("set", "frozenset", "dict", "bytearray"):
        assert load_global("builtins", benign) is getattr(builtins, benign)
        assert load_global("__builtin__", benign) is getattr(builtins, benign)


# ---------------------------------------------------------------------------
# Multi-URL make_batch_reader (reference petastorm/reader.py:51-57,209)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def two_shard_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("multiurl")
    a, b = str(base / "shard_a"), str(base / "shard_b")
    spark.range(0, 600).repartition(4).write.parquet(a)
    spark.range(600, 1000).repartition(3).write.parquet(b)
    return a, b


def test_multi_url_batch_reader_merges(spark, two_shard_dirs):
    a, b = two_shard_dirs
    with make_batch_reader([a, b], spark=spark) as r:
        assert r._direct_root is not None  # streams, no materialization
        got = sorted(int(i) for bt in r for i in np.asarray(bt.id).ravel())
    assert got == list(range(1000))


def test_multi_url_sharding_spans_both(spark, two_shard_dirs):
    a, b = two_shard_dirs
    seen = []
    for shard in range(3):
        with make_batch_reader(
            [a, b], spark=spark, cur_shard=shard, shard_count=3
        ) as r:
            seen.append(
                {int(i) for bt in r for i in np.asarray(bt.id).ravel()}
            )
    assert seen[0] | seen[1] | seen[2] == set(range(1000))
    assert not (seen[0] & seen[1] or seen[0] & seen[2] or seen[1] & seen[2])
    # pieces from BOTH dirs land in shards (7 rowgroups over 3 shards)
    assert all(s for s in seen)


def test_multi_url_filters_push_to_both(spark, two_shard_dirs):
    a, b = two_shard_dirs
    with make_batch_reader(
        [a, b], spark=spark, filters=[("id", ">=", 550), ("id", "<", 650)]
    ) as r:
        got = sorted(int(i) for bt in r for i in np.asarray(bt.id).ravel())
    assert got == list(range(550, 650))


def test_multi_url_schema_mismatch_rejected(spark, tmp_path):
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    spark.range(10).write.parquet(a)
    spark.range(10).selectExpr("id", "id * 2 AS other").write.parquet(b)
    with pytest.raises(ValueError, match="incompatible"):
        make_batch_reader([a, b], spark=spark)


def test_multi_url_mixed_schemes_rejected(spark, two_shard_dirs):
    a, b = two_shard_dirs
    with pytest.raises(ValueError, match="scheme"):
        make_batch_reader([a, f"s3://bucket/x"], spark=spark)


def test_make_reader_rejects_url_list(spark, two_shard_dirs):
    a, b = two_shard_dirs
    with pytest.raises(ValueError, match="single dataset URL"):
        make_reader([a, b], spark=spark)


# ---------------------------------------------------------------------------
# Write-side petastorm interop: datasets materialized HERE carry the
# reference's pickled-Unischema _common_metadata so original petastorm
# readers can consume them (reference dataset_metadata.py:194-241)
# ---------------------------------------------------------------------------


def test_materialize_writes_petastorm_readable_metadata(spark, tmp_path):
    from petastorm_spark.codecs import NdarrayCodec, ScalarCodec
    from petastorm_spark.etl.dataset_metadata import materialize_dataset
    from petastorm_spark.etl.petastorm_compat import (
        ROW_GROUPS_KEY,
        UNISCHEMA_KEY,
        unischema_from_pickle,
    )
    from petastorm_spark.unischema import (
        Unischema,
        UnischemaField,
        dict_to_spark_row,
    )

    schema = Unischema(
        "WSchema",
        [
            UnischemaField("id", np.int32, (), ScalarCodec(IntegerType()), False),
            UnischemaField("vec", np.float32, (4,), NdarrayCodec(), False),
        ],
    )
    url = str(tmp_path / "wds")
    rows = [
        {"id": i, "vec": np.full((4,), float(i), dtype=np.float32)}
        for i in range(8)
    ]
    with materialize_dataset(spark, url, schema):
        spark.createDataFrame(
            [dict_to_spark_row(schema, r) for r in rows],
            schema.as_spark_schema(),
        ).coalesce(1).write.mode("overwrite").parquet(url)

    meta = pq.read_metadata(os.path.join(url, "_common_metadata")).metadata
    assert UNISCHEMA_KEY in meta and ROW_GROUPS_KEY in meta

    # 1) a stand-in for ORIGINAL petastorm (its class names installed as
    # importable modules) unpickles the key with plain pickle.loads —
    # exactly what the reference reader does
    _install_fake_petastorm()
    try:
        ref = pickle.loads(meta[UNISCHEMA_KEY])
        assert ref._name == "WSchema"
        assert set(ref._fields) == {"id", "vec"}
        f_id, f_vec = ref._fields["id"], ref._fields["vec"]
        assert f_id.codec._spark_type == IntegerType()
        assert f_vec.shape == (4,) and f_vec.numpy_dtype is np.float32
        assert type(f_vec.codec).__name__ == "NdarrayCodec"
    finally:
        for m in ("petastorm", "petastorm.unischema", "petastorm.codecs"):
            sys.modules.pop(m, None)

    # 2) our own restricted read-side unpickler round-trips it
    back = unischema_from_pickle(meta[UNISCHEMA_KEY])
    assert set(back.fields) == {"id", "vec"}
    assert back.fields["vec"].shape == (4,)

    # 3) rowgroup map matches the physical files
    counts = json.loads(meta[ROW_GROUPS_KEY].decode())
    assert sum(counts.values()) >= 1 and all(
        not k.startswith("/") for k in counts
    )

    # 4) payloads decode back through a fresh reader (full round trip)
    with make_reader(url, spark=spark) as r:
        got = {x.id: x.vec for x in r}
    np.testing.assert_array_almost_equal(got[3], rows[3]["vec"])


def test_compat_metadata_in_a_directory_named_with_hash(tmp_path):
    """A bare local path is a path, not a URL: a ``#`` in a directory
    name must not cut it short, so the compat footer is written into
    the dataset root and read back from there."""
    from petastorm_spark.etl.petastorm_compat import (
        load_petastorm_metadata,
        write_petastorm_compat_metadata,
    )

    schema = Unischema(
        "HashSchema",
        [
            UnischemaField("id", np.int32, (), ScalarCodec(IntegerType()), False),
            UnischemaField("vec", np.float32, (4,), NdarrayCodec(), False),
        ],
    )
    root = tmp_path / "run#3" / "ds"
    root.mkdir(parents=True)
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int32()),
                  "vec": pa.array([b"x", b"y"], pa.binary())}),
        str(root / "part-0.parquet"),
    )
    assert write_petastorm_compat_metadata(
        str(root), schema, {"part-0.parquet": 1}
    )
    assert sorted(os.listdir(root)) == ["_common_metadata", "part-0.parquet"]
    back, counts = load_petastorm_metadata(str(root))
    assert set(back.fields) == {"id", "vec"}
    assert counts == {"part-0.parquet": 1}


def test_materialize_compat_skips_incompatible_codec(spark, tmp_path):
    """A codec with no byte-compatible reference equivalent (here: a
    custom user codec; CompressedNdarrayCodec graduated to the npz
    container in round 9) — the compat key must be SKIPPED
    (advertising a schema the reference would decode into garbage is
    worse than absence)."""
    from petastorm_spark.codecs import NdarrayCodec, ScalarCodec
    from petastorm_spark.etl.dataset_metadata import materialize_dataset
    from petastorm_spark.etl.petastorm_compat import UNISCHEMA_KEY
    from petastorm_spark.unischema import (
        Unischema,
        UnischemaField,
        dict_to_spark_row,
    )

    class ReversedBytesCodec(NdarrayCodec):
        """np.save bytes, reversed — valid here, garbage elsewhere."""

        name = "reversed_bytes"

        def encode(self, field, value):
            return bytearray(bytes(super().encode(field, value))[::-1])

        def decode(self, field, encoded):
            return super().decode(field, bytes(encoded)[::-1])

    schema = Unischema(
        "ZSchema",
        [
            UnischemaField("id", np.int32, (), ScalarCodec(IntegerType()), False),
            UnischemaField("z", np.float64, (2,), ReversedBytesCodec(), False),
        ],
    )
    url = str(tmp_path / "zds")
    rows = [{"id": i, "z": np.ones(2)} for i in range(4)]
    with pytest.warns(UserWarning, match="petastorm-compat"):
        with materialize_dataset(spark, url, schema):
            spark.createDataFrame(
                [dict_to_spark_row(schema, r) for r in rows],
                schema.as_spark_schema(),
            ).coalesce(1).write.mode("overwrite").parquet(url)
    cm = os.path.join(url, "_common_metadata")
    if os.path.exists(cm):
        assert UNISCHEMA_KEY not in (pq.read_metadata(cm).metadata or {})
