"""End-to-end round trip: materialize a TestSchema-like dataset, read
it back exactly (mirrors petastorm/tests/test_end_to_end.py:107 simple
read, :318 column subset, :605 predicates)."""

import random
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql.types import IntegerType, StringType

from petastorm_spark.codecs import (
    CompressedImageCodec,
    CompressedNdarrayCodec,
    NdarrayCodec,
    ScalarCodec,
)
from petastorm_spark.etl.dataset_metadata import load_unischema, materialize_dataset
from petastorm_spark.predicates import in_set
from petastorm_spark.reader import make_batch_reader, make_reader
from petastorm_spark.transform import TransformSpec
from petastorm_spark.unischema import Unischema, UnischemaField, dict_to_spark_row

TestSchema = Unischema(
    "TestSchema",
    [
        UnischemaField("id", np.int64, (), ScalarCodec(IntegerType()), False),
        UnischemaField("partition_key", np.str_, (), ScalarCodec(StringType()), False),
        UnischemaField("image_png", np.uint8, (16, 8, 3), CompressedImageCodec("png"), False),
        UnischemaField("matrix", np.float32, (8, 4, 3), NdarrayCodec(), False),
        UnischemaField("matrix_var", np.float64, (None, 2), CompressedNdarrayCodec(), False),
        UnischemaField("decimal", Decimal, (), ScalarCodec(StringType()), False),
        UnischemaField("nullable_int", np.int32, (), ScalarCodec(IntegerType()), True),
    ],
)

N_ROWS = 30


def _make_rows(seed=42):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(N_ROWS):
        rows.append(
            {
                "id": i,
                "partition_key": f"p_{i % 3}",
                "image_png": rng.integers(0, 255, (16, 8, 3), dtype=np.uint8),
                "matrix": rng.random((8, 4, 3), dtype=np.float32),
                "matrix_var": rng.random((int(rng.integers(1, 5)), 2)),
                "decimal": Decimal(f"{i}.5"),
                "nullable_int": None if i % 4 == 0 else np.int32(i * 10),
            }
        )
    return rows


@pytest.fixture(scope="module")
def dataset(spark, tmp_path_factory):
    url = str(tmp_path_factory.mktemp("ds") / "test_dataset")
    rows = _make_rows()
    with materialize_dataset(spark, url, TestSchema, row_group_size_mb=1):
        spark_rows = [dict_to_spark_row(TestSchema, r) for r in rows]
        df = spark.createDataFrame(spark_rows, TestSchema.as_spark_schema())
        df.repartition(4).write.mode("overwrite").parquet(url)
    return url, rows


def test_sidecar_schema_roundtrip(spark, dataset):
    url, _ = dataset
    loaded = load_unischema(spark, url)
    assert loaded is not None
    assert loaded.field_names() == TestSchema.field_names()
    assert loaded.fields["image_png"].codec == CompressedImageCodec("png")
    assert loaded.fields["matrix"].shape == (8, 4, 3)


def test_full_round_trip(spark, dataset):
    url, rows = dataset
    by_id = {r["id"]: r for r in rows}
    seen = set()
    with make_reader(url, spark=spark) as reader:
        for row in reader:
            src = by_id[row.id]
            seen.add(row.id)
            assert row.partition_key == src["partition_key"]
            np.testing.assert_array_equal(row.image_png, src["image_png"])
            np.testing.assert_array_equal(row.matrix, src["matrix"])
            np.testing.assert_array_equal(row.matrix_var, src["matrix_var"])
            assert Decimal(row.decimal) == src["decimal"]
            if src["nullable_int"] is None:
                assert row.nullable_int is None
            else:
                assert row.nullable_int == src["nullable_int"]
    assert seen == set(range(N_ROWS))


def test_schema_view_projection(spark, dataset):
    url, _ = dataset
    with make_reader(url, spark=spark, schema_fields=["id", "matrix"]) as reader:
        row = next(iter(reader))
        assert set(row._fields) == {"id", "matrix"}


def test_regex_schema_view(spark, dataset):
    url, _ = dataset
    with make_reader(url, spark=spark, schema_fields=["matrix.*"]) as reader:
        row = next(iter(reader))
        assert set(row._fields) == {"matrix", "matrix_var"}


def test_predicate_with_fields_outside_view(spark, dataset):
    url, rows = dataset
    want = {r["id"] for r in rows if r["partition_key"] == "p_1"}
    with make_reader(
        url,
        spark=spark,
        schema_fields=["id"],
        predicate=in_set(["p_1"], "partition_key"),
    ) as reader:
        got = {row.id for row in reader}
    assert got == want


def test_sharding_partitions_rows(spark, dataset):
    url, _ = dataset
    all_ids = []
    for shard in range(2):
        with make_reader(
            url, spark=spark, schema_fields=["id"], cur_shard=shard, shard_count=2
        ) as reader:
            all_ids += [r.id for r in reader]
    assert sorted(all_ids) == list(range(N_ROWS))


def test_shuffle_determinism(spark, dataset):
    url, _ = dataset

    def read_ids(seed):
        with make_reader(
            url,
            spark=spark,
            schema_fields=["id"],
            shuffle_row_groups=True,
            shuffle_rows=True,
            seed=seed,
        ) as r:
            return [row.id for row in r]

    a, b, c = read_ids(7), read_ids(7), read_ids(8)
    assert a == b
    assert sorted(a) == list(range(N_ROWS))
    assert a != c  # overwhelmingly likely


def test_num_epochs(spark, dataset):
    url, _ = dataset
    with make_reader(url, spark=spark, schema_fields=["id"], num_epochs=3) as reader:
        ids = [r.id for r in reader]
    assert len(ids) == 3 * N_ROWS


def test_batch_reader_vectors(spark, dataset):
    url, rows = dataset
    total = 0
    with make_batch_reader(url, spark=spark, schema_fields=["id", "matrix"]) as reader:
        for batch in reader:
            assert batch.matrix.shape[1:] == (8, 4, 3)
            total += len(batch.id)
    assert total == N_ROWS


def test_transform_spec(spark, dataset):
    url, _ = dataset

    def double_matrix(pdf):
        pdf["matrix"] = pdf["matrix"].map(lambda m: m * 2)
        pdf["id_sq"] = pdf["id"] * pdf["id"]
        return pdf

    spec = TransformSpec(
        double_matrix,
        edit_fields=[("id_sq", np.int64, (), False)],
        removed_fields=["image_png", "matrix_var", "decimal", "nullable_int", "partition_key"],
    )
    with make_reader(url, spark=spark, transform_spec=spec) as reader:
        row = next(iter(reader))
        assert set(row._fields) == {"id", "matrix", "id_sq"}
        assert row.id_sq == row.id**2


def test_plain_parquet_batch_reader(spark, sf_dir):
    with make_batch_reader(f"{sf_dir}/lineitem.parquet", spark=spark) as reader:
        batch = next(iter(reader))
        assert batch.l_orderkey.dtype == np.int64
        assert len(batch.l_orderkey) > 0


def test_reader_dataframe_plan_exposed(spark, dataset):
    url, _ = dataset
    with make_reader(url, spark=spark, schema_fields=["id"]) as reader:
        assert reader.dataframe.columns == ["id"]


@pytest.mark.parametrize("before", [None, "1048576"])
def test_materialize_dataset_restores_row_group_size(spark, tmp_path, before):
    """``materialize_dataset`` sets ``parquet.block.size`` for its block
    only: after a normal exit and after an exception inside it, the
    session's Hadoop conf holds the value from before (an unset value
    stays unset)."""
    from pyspark.sql.types import LongType

    key = "parquet.block.size"
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    saved = hconf.get(key)
    schema = Unischema(
        "Ids", [UnischemaField("id", np.int64, (), ScalarCodec(LongType()), False)]
    )
    try:
        if before is None:
            hconf.unset(key)
        else:
            hconf.set(key, before)
        url = str(tmp_path / "ok")
        with materialize_dataset(spark, url, schema, row_group_size_mb=2):
            assert hconf.get(key) == str(2 * 1024 * 1024)
            spark.range(10).write.parquet(url)
        assert hconf.get(key) == before
        assert load_unischema(spark, url).field_names() == ["id"]

        with pytest.raises(RuntimeError, match="inside the write"):
            with materialize_dataset(
                spark, str(tmp_path / "failed"), schema, row_group_size_mb=3
            ):
                assert hconf.get(key) == str(3 * 1024 * 1024)
                raise RuntimeError("inside the write")
        assert hconf.get(key) == before
    finally:
        if saved is None:
            hconf.unset(key)
        else:
            hconf.set(key, saved)
