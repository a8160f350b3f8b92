"""The reader's filter language (``filters=[(column, op, value), ...]``):
one op table drives the Spark plan filter (``reader.dataframe``), the
streamed row mask and row-group pruning, so the streamed rows are
exactly the plan tier's rows (Spark SQL semantics: a null never
matches; NaN equals NaN and sorts above every other value)."""

from __future__ import annotations

import math
import types

import numpy as np
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from petastorm_spark._piece_worker import OPS, rg_may_match
from petastorm_spark.reader import make_batch_reader


def _streamed_ids(reader) -> list[int]:
    return sorted(int(i) for b in reader for i in np.asarray(b.id).ravel())


def _plan_ids(reader) -> list[int]:
    return sorted(row.id for row in reader.dataframe.select("id").collect())


@pytest.fixture(scope="module")
def nan_ds(spark, tmp_path_factory):
    """40 rows in one row group written by Spark: ``f`` holds NaN (every
    5th row, so the group's max statistic is NaN), nulls and 0.0-3.0."""
    url = str(tmp_path_factory.mktemp("nands") / "ds")
    rows = [
        (
            i,
            math.nan if i % 5 == 0 else None if i % 7 == 0 else float(i % 4),
        )
        for i in range(40)
    ]
    spark.createDataFrame(rows, "id bigint, f double").coalesce(1).write.parquet(url)
    return url


@pytest.mark.parametrize("flt", [("f", ">", 2.0), ("f", "=", 3.0)])
def test_nan_max_statistic_does_not_prune(spark, nan_ds, flt):
    """A NaN max statistic compared as ``NaN > 2.0`` is False, which
    pruned the only row group: the stream delivered 0 rows where the plan
    tier has the NaN rows and the 3.0 rows."""
    with make_batch_reader(nan_ds, spark=spark, filters=[flt]) as r:
        streamed = _streamed_ids(r)
        assert streamed == _plan_ids(r)
    assert streamed


@pytest.mark.parametrize(
    "flt", [("f", "!=", 1.0), ("f", "not in", [1.0, 2.0])]
)
def test_nan_is_not_null_under_negated_ops(spark, nan_ds, flt):
    """``NaN != 1.0`` is true in Spark; only nulls are dropped. Masking
    nulls through pandas ``notna()`` dropped the NaN rows too."""
    with make_batch_reader(nan_ds, spark=spark, filters=[flt]) as r:
        streamed = _streamed_ids(r)
        assert streamed == _plan_ids(r)
    assert 0 in streamed  # a NaN row
    assert 7 not in streamed  # a null row


def test_string_literal_on_bigint_is_cast_at_construction(spark, nan_ds):
    """Spark casts ``'30'`` to bigint; the stream compared the int64
    column with a str and raised TypeError from its first piece."""
    for flt, want in (
        (("id", ">", "30"), list(range(31, 40))),
        (("id", "in", ["3", " 4 "]), [3, 4]),
    ):
        with make_batch_reader(nan_ds, spark=spark, filters=[flt]) as r:
            assert _streamed_ids(r) == _plan_ids(r) == want
    # a literal Spark's cast would refuse fails at construction, by name
    with pytest.raises(ValueError, match="'abc'"):
        make_batch_reader(nan_ds, spark=spark, filters=[("id", ">", "abc")])


def test_unknown_op_fails_at_construction_without_plan_tier(
    spark, tmp_path, monkeypatch
):
    """A reader whose URL scheme the JVM cannot reach has no plan tier;
    its unknown op used to survive pruning and fail only inside the
    first piece."""
    import pyarrow.fs as real_pafs

    import petastorm_spark.reader as reader_mod

    root = str(tmp_path / "a")
    spark.range(10).write.parquet(root)
    shim = types.SimpleNamespace(
        LocalFileSystem=real_pafs.LocalFileSystem,
        FileSelector=real_pafs.FileSelector,
        FileType=real_pafs.FileType,
        FileSystem=types.SimpleNamespace(
            from_uri=lambda uri: (real_pafs.LocalFileSystem(), root)
        ),
    )
    monkeypatch.setattr(reader_mod, "pafs", shim)
    with make_batch_reader("s3a://bucket/a", spark=spark, filters=[("id", ">", 5)]) as r:
        assert r.dataframe is None  # no plan tier
        assert _streamed_ids(r) == [6, 7, 8, 9]
    with pytest.raises(ValueError, match="unsupported op '~'"):
        make_batch_reader("s3a://bucket/a", spark=spark, filters=[("id", "~", 5)])


@pytest.fixture(scope="module")
def pyarrow_nan_ds(tmp_path_factory):
    """Two row groups written by pyarrow, which leaves NaN out of the
    float statistics: ``f`` = [1.0, NaN, 3.0] (max 3.0) and
    [5.0, NaN, 5.0] (min = max = 5.0)."""
    import pyarrow as pa

    path = tmp_path_factory.mktemp("pyarrownan") / "part-0.parquet"
    table = pa.table({"id": list(range(6)), "f": [1.0, math.nan, 3.0, 5.0, math.nan, 5.0]})
    pq.write_table(table, path, row_group_size=3)
    return str(path.parent)


@pytest.mark.parametrize(
    "flt, want",
    [
        (("f", ">", 4.0), [1, 3, 4, 5]),
        (("f", ">=", 6.0), [1, 4]),
        (("f", "!=", 5.0), [0, 1, 2, 4]),
        (("f", "not in", [5.0]), [0, 1, 2, 4]),
        (("f", "=", math.nan), [1, 4]),
    ],
    ids=[">", ">=", "!=", "not in", "= NaN"],
)
def test_plan_tier_keeps_nan_rows_of_nan_free_statistics(spark, pyarrow_nan_ds, flt, want):
    """Spark's Parquet pushdown pruned a row group from its NaN-free
    min/max, so ``reader.dataframe`` lost the NaN rows that pass the
    condition; the streamed rows were right."""
    with make_batch_reader(pyarrow_nan_ds, spark=spark, filters=[flt]) as r:
        assert _plan_ids(r) == _streamed_ids(r) == want


# ---------------------------------------------------------------------------
# parity: random filters over int, float (NaN and null) and string columns
# ---------------------------------------------------------------------------

_N = 160


def _f(k: int):
    if k % 13 == 0:
        return None
    if k >= 80 and k % 7 == 0:
        return math.nan  # only the upper row groups hold NaN
    return k / 10 - 3


@pytest.fixture(scope="module")
def mixed_ds(spark, tmp_path_factory):
    """Four row groups (one per file, ranged on id): ``i`` and ``s``
    follow id, so statistics prune on them; ``f`` has NaN in the upper
    two groups only, and every column has nulls."""
    url = str(tmp_path_factory.mktemp("mixedds") / "ds")
    rows = [
        (
            k,
            None if k % 11 == 0 else k // 10,
            _f(k),
            None if k % 10 == 3 else "abcdefgh"[k // 20] * (1 + k % 2),
        )
        for k in range(_N)
    ]
    spark.createDataFrame(
        rows, "id bigint, i bigint, f double, s string"
    ).repartitionByRange(4, "id").write.parquet(url)
    return url


_LITERALS = {
    "i": st.one_of(
        st.integers(-1, 17),
        st.integers(-1, 17).map(str),  # cast to bigint, as Spark does
        st.sampled_from([2.5, 7.0, math.nan, math.inf]),  # compared as doubles
    ),
    "f": st.one_of(
        st.sampled_from([_f(k) for k in range(1, _N, 9)]),
        st.sampled_from([math.nan, math.inf, -math.inf, 0.25, 3.05]),
        st.integers(-4, 13),
    ),
    "s": st.sampled_from(["", "a", "bb", "c", "dd", "e", "hh", "z"]),
}


@st.composite
def _conds(draw):
    col = draw(st.sampled_from(sorted(_LITERALS)))
    op = draw(st.sampled_from(sorted(OPS) + ["=="]))
    lit = _LITERALS[col]
    if OPS.get(op, OPS["="]).mirror is None:
        value = draw(st.lists(st.one_of(lit, st.none()), max_size=3))
    else:
        value = draw(st.one_of(lit, lit, lit, st.none()))
    return (col, op, value)


@settings(max_examples=40, deadline=None)
@given(filters=st.lists(st.lists(_conds(), min_size=1, max_size=3), min_size=1, max_size=2))
def test_streamed_rows_match_plan_tier(spark, mixed_ds, filters):
    with make_batch_reader(
        mixed_ds, spark=spark, filters=filters, reader_pool_type="dummy"
    ) as r:
        streamed = _streamed_ids(r)
        planned = _plan_ids(r)
        assert streamed == planned, filters
        matching = set(planned)
        for path in r._files:
            pf = pq.ParquetFile(path)
            for rg in range(pf.metadata.num_row_groups):
                if not rg_may_match(pf.metadata, rg, r._dnf):
                    ids = pf.read_row_group(rg, columns=["id"]).column(0)
                    assert not matching & set(ids.to_pylist()), (filters, path, rg)
