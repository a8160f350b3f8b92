"""Seeded input generators. Every dataset is a pure function of the seed
(and a size scale), so the same seed always yields the same bytes-level
content and the workloads can recompute their expected outputs."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# tensor_rows / tensor_write: a petastorm dataset of codec-encoded tensors
# ---------------------------------------------------------------------------

IMAGE_SHAPE = (64, 64, 3)
FEATURE_DIM = 128
MASK_SHAPE = (32, 32)


def tensor_schema():
    from pyspark.sql.types import IntegerType, LongType

    from petastorm_spark.codecs import (
        CompressedImageCodec,
        CompressedNdarrayCodec,
        NdarrayCodec,
        ScalarCodec,
    )
    from petastorm_spark.unischema import Unischema, UnischemaField

    return Unischema(
        "BenchTensorRows",
        [
            UnischemaField("id", np.int64, (), ScalarCodec(LongType()), False),
            UnischemaField("label", np.int32, (), ScalarCodec(IntegerType()), False),
            UnischemaField(
                "image", np.uint8, IMAGE_SHAPE, CompressedImageCodec("png"), False
            ),
            UnischemaField(
                "feature", np.float32, (FEATURE_DIM,), NdarrayCodec(), False
            ),
            UnischemaField(
                "mask", np.uint8, MASK_SHAPE, CompressedNdarrayCodec(), False
            ),
        ],
    )


_GRID = np.add.outer(np.arange(64) * 2, np.arange(64) * 3)[..., None] + np.array(
    [0, 40, 80]
)


def tensor_row(seed: int, row_id: int) -> dict:
    """The generator's row ``row_id``: a smooth image with noise (so PNG
    filtering has real work), a dense feature vector and a sparse mask."""
    rng = np.random.default_rng((seed, row_id))
    noise = rng.integers(0, 12, IMAGE_SHAPE)
    return {
        "id": np.int64(row_id),
        "label": np.int32(rng.integers(0, 10)),
        "image": ((_GRID + row_id + noise) % 256).astype(np.uint8),
        "feature": rng.standard_normal(FEATURE_DIM).astype(np.float32),
        "mask": (rng.random(MASK_SHAPE) < 0.2).astype(np.uint8),
    }


def write_tensor_dataset(
    spark, path: str, seed: int, n_rows: int, rg_rows: int, n_files: int
) -> None:
    """Encode rows in this process with the dataset's codecs and write
    them with pyarrow inside ``materialize_dataset`` (which adds the sidecar
    and the petastorm-compat footer)."""
    from petastorm_spark.etl.dataset_metadata import materialize_dataset

    schema = tensor_schema()
    arrow_schema = pa.schema(
        [
            ("id", pa.int64()),
            ("label", pa.int32()),
            ("image", pa.binary()),
            ("feature", pa.binary()),
            ("mask", pa.binary()),
        ]
    )
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, n_rows, n_files + 1).astype(int)
    with materialize_dataset(spark, "file://" + path, schema):
        for f in range(n_files):
            cols = {name: [] for name in arrow_schema.names}
            for i in range(bounds[f], bounds[f + 1]):
                row = tensor_row(seed, i)
                for name, field in schema.fields.items():
                    v = row[name]
                    cols[name].append(
                        bytes(field.codec.encode(field, v))
                        if name in ("image", "feature", "mask")
                        else v.item()
                    )
            pq.write_table(
                pa.table(cols, schema=arrow_schema),
                os.path.join(path, f"part-{f:05d}.parquet"),
                row_group_size=rg_rows,
            )


# ---------------------------------------------------------------------------
# columnar_batches: a plain (non-petastorm) Parquet store
# ---------------------------------------------------------------------------

N_FLOAT64 = 8
N_FLOAT32 = 4
N_INT32 = 4
N_INT64 = 2
TOKENS = 8


def columnar_columns(seed: int, n_rows: int) -> dict[str, np.ndarray]:
    """Column arrays of the whole store in file order. ``ts`` is sorted
    (row-group statistics can prune on it); ``id`` is a shuffled
    permutation so the delivered id sum checks which rows arrived."""
    rng = np.random.default_rng((seed, 1))
    cols: dict[str, np.ndarray] = {
        "id": rng.permutation(n_rows).astype(np.int64) + 1_000_000,
        "ts": np.cumsum(rng.integers(1, 100, n_rows)).astype(np.int64),
        "flag": rng.random(n_rows) < 0.5,
    }
    for i in range(N_FLOAT64):
        cols[f"f{i}"] = rng.standard_normal(n_rows)
    for i in range(N_FLOAT32):
        cols[f"g{i}"] = rng.standard_normal(n_rows).astype(np.float32)
    for i in range(N_INT32):
        cols[f"c{i}"] = rng.integers(0, 1 << 20, n_rows).astype(np.int32)
    for i in range(N_INT64):
        cols[f"n{i}"] = rng.integers(0, 1 << 40, n_rows).astype(np.int64)
    cols["tokens"] = rng.integers(0, 50_000, (n_rows, TOKENS)).astype(np.int32)
    return cols


def write_columnar_store(
    path: str, cols: dict[str, np.ndarray], n_files: int, rg_rows: int
) -> None:
    os.makedirs(path, exist_ok=True)
    n_rows = len(cols["id"])
    per_file = n_rows // n_files
    for f in range(n_files):
        lo, hi = f * per_file, (f + 1) * per_file
        arrays = {}
        for name, v in cols.items():
            if name == "tokens":
                arrays[name] = pa.FixedSizeListArray.from_arrays(
                    pa.array(v[lo:hi].ravel()), TOKENS
                ).cast(pa.list_(pa.int32()))
            else:
                arrays[name] = pa.array(v[lo:hi])
        pq.write_table(
            pa.table(arrays),
            os.path.join(path, f"part-{f:05d}.parquet"),
            row_group_size=rg_rows,
        )


# ---------------------------------------------------------------------------
# curation_queries: the star schema the query registry reads
# ---------------------------------------------------------------------------

# rows per table at scale 1.0 (about the size of TESTDATA's sf0.001)
STAR_ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1500,
    "event_users": 30,
    "documents": 300,
    "embeddings": 300,
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_COLORS = ["red", "blue", "green", "small", "large", "shiny", "rusty", "matte"]
_NOUNS = ["ring", "widget", "bolt", "anvil", "gear", "spring", "valve", "plate"]
_PTYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_WORDS = (
    "a the data table query scan join agg group order sort filter window "
    "hash merge batch stream spark key value row column part line customer "
    "fast slow big small vector index shard split sample token model train"
).split()


def _ts_us(days: np.ndarray, base: str) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + (days * 86_400_000_000).astype("timedelta64[us]"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    """Word-salad documents; a fifth are near-copies of an earlier one
    with a few words replaced, so the dedup queries find real pairs."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.2:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(
                    rng.choice(_WORDS)
                )
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(12, 90))))
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(_LANGS, n)),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def star_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    rng = np.random.default_rng((seed, 2))
    n = {k: max(8, int(v * scale)) for k, v in STAR_ROWS.items()}
    n["supplier"] = max(10, n["supplier"])
    nc, ns, np_, no, nl = (
        n["customer"], n["supplier"], n["part"], n["orders"], n["lineitem"]
    )
    tables = {
        "region": {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": list(rng.choice(_SEGMENTS, nc)),
        },
        "supplier": {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        },
        "part": {
            "p_partkey": np.arange(np_, dtype=np.int64),
            "p_name": [
                f"{rng.choice(_COLORS)} {rng.choice(_NOUNS)}" for _ in range(np_)
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
            "p_type": list(rng.choice(_PTYPES, np_)),
            "p_size": rng.integers(1, 51, np_).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _ts_us(rng.integers(0, 2404, no), "1995-01-01"),
            "o_orderpriority": list(rng.choice(_PRIORITIES, no)),
        },
    }
    qty = rng.integers(1, 51, nl).astype(np.float64)
    # Prices are not rounded to cents: with cent prices and whole-percent
    # discounts, revenue sums land exactly on half cents, where
    # round(sum, 2) depends on the float summation order, which differs
    # between any two engines (Spark and the DuckDB oracle here).
    tables["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": qty * rng.uniform(900, 2100, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": list(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts_us(rng.integers(1, 2499, nl), "1995-01-01"),
    }
    ne = n["events"]
    offsets_us = np.sort(rng.choice(30 * 86_400_000_000, ne, replace=False))
    tables["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01", "us") + offsets_us.astype("timedelta64[us]")
        ),
        "user_id": rng.integers(0, n["event_users"], ne).astype(np.int64),
        "event_type": list(rng.choice(_EVENT_TYPES, ne)),
        "value": _money(rng, 0.01, 490.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    tables["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.standard_normal((10, 64))
    vecs = (centers[labels] + 0.6 * rng.standard_normal((nv, 64))).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    }
    return {name: pa.table(cols) for name, cols in tables.items()}


def write_star_schema(path: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write one parquet file per table; returns the row count per table."""
    os.makedirs(path, exist_ok=True)
    rows = {}
    for name, table in star_tables(seed, scale).items():
        pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
