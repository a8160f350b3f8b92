"""The persisted-index format, pinned once for all six families.

For each family: the entry names under the index directory (the table
directories and the params file, see README "Persisted indexes"), a
write-then-read round trip, and the refusal of an append whose ids are
already indexed. Then the optional-table rule on LSH tombstones: an
absent ``tombstones/`` means none, an unreadable one is an error.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from petastorm_spark.operators import dedup as dd
from petastorm_spark.operators import similarity as sim
from petastorm_spark.session import arrow_local_df


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(5)
    V = rng.standard_normal((60, 8))
    return arrow_local_df(
        spark,
        {"vec_id": list(range(60)), "embedding": [list(map(float, v)) for v in V]},
        "vec_id bigint, embedding array<double>",
    )


@pytest.fixture(scope="module")
def docs(spark):
    texts = [
        f"doc {i} on topic {i % 5}: " + " ".join(f"w{j}" for j in range(i % 7 + 4))
        for i in range(30)
    ]
    return arrow_local_df(
        spark,
        {"doc_id": list(range(30)), "text": texts},
        "doc_id bigint, text string",
    )


# Each family function writes an index at ``url`` and returns the (written,
# read back) pairs plus a call that appends an already-indexed id
# (None for PQ, which has no append).


def _lsh(spark, url, corpus, docs):
    b, s = dd.lsh_index_build(docs, "text", "doc_id")
    dd.lsh_index_write(url, b, s)
    rb, rs = dd.lsh_index_read(spark, url)
    one = F.col("doc_id") == 3
    return [(b, rb), (s, rs)], lambda: dd.lsh_index_append(
        url, b.where(one), s.where(one)
    )


def _ivf(spark, url, corpus, docs):
    cent, assigned = sim.ivf_build(corpus, n_cells=4)
    sim.ivf_write(url, cent, assigned)
    rc, ra = sim.ivf_read(spark, url)
    return [(cent, rc), (assigned, ra)], lambda: sim.ivf_append(
        spark, url, corpus.where(F.col("vec_id") == 3)
    )


def _knn_graph(spark, url, corpus, docs):
    sim.knn_graph_write(url, corpus, k=3, n_cells=4, n_probe=2)
    params, edges = sim.knn_graph_read(spark, url)
    want = {
        "k": 3, "n_probe": 2, "n_cells": 4,
        "id_col": "vec_id", "vec_col": "embedding",
        "hierarchical": False, "l1_probe": 4, "l1_rounds": 4,
    }
    graph = sim.knn_graph(corpus, k=3, n_cells=4, n_probe=2)
    return [(want, params), (graph, edges)], lambda: sim.knn_graph_append(
        spark, url, corpus.where(F.col("vec_id") == 3)
    )


def _pq(spark, url, corpus, docs):
    cb = sim.pq_codebooks(corpus, dim=8, m=2, k_codes=4)
    coded = sim.pq_encode(corpus, cb)
    sim.pq_index_write(url, cb, coded)
    rcb, rcodes = sim.pq_index_read(spark, url)
    return [(cb, rcb), (coded.drop("embedding"), rcodes)], None


def _ivfpq(spark, url, corpus, docs):
    cent, cb, coded = sim.ivfpq_build(corpus, dim=8, n_cells=4, m=2, k_codes=4)
    sim.ivfpq_index_write(url, cent, cb, coded)
    rcent, rcb, rcoded = sim.ivfpq_index_read(spark, url)
    return [(cent, rcent), (cb, rcb), (coded, rcoded)], lambda: sim.ivfpq_append(
        spark, url, corpus.where(F.col("vec_id") == 3)
    )


def _prefix(spark, url, corpus, docs):
    sim.prefix_index_write(url, corpus, prefix_dim=4)
    dim, pdf = sim.prefix_index_read(spark, url)
    written = corpus.select("vec_id", F.slice("embedding", 1, 4).alias("prefix"))
    return [(4, dim), (written, pdf)], lambda: sim.prefix_index_append(
        spark, url, corpus.where(F.col("vec_id") == 3)
    )


FAMILIES = {
    "lsh": (_lsh, {"buckets", "signatures"}),
    "ivf": (_ivf, {"cells", "centroids"}),
    "knn_graph": (_knn_graph, {"cells", "centroids", "edges", "knn_graph.json"}),
    "pq": (_pq, {"codes", "codebooks.json"}),
    "ivfpq": (_ivfpq, {"codes", "centroids", "codebooks.json"}),
    "prefix": (_prefix, {"prefix", "prefix.json"}),
}


def _rows(df):
    """Rows as column-name-keyed tuples: a partition column comes back
    last on read, so column order is not compared."""
    return sorted(tuple(sorted(r.asDict().items())) for r in df.collect())


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_index_format_round_trip_and_duplicate_refusal(
    spark, corpus, docs, tmp_path, family
):
    build, entries = FAMILIES[family]
    url = str(tmp_path / "idx")
    pairs, append_dup = build(spark, url, corpus, docs)
    assert set(os.listdir(url)) == entries
    for written, read in pairs:
        if isinstance(written, np.ndarray):
            np.testing.assert_array_equal(read, written)
        elif hasattr(written, "collect"):
            assert _rows(read) == _rows(written)
        else:
            assert read == written
    if append_dup is not None:
        with pytest.raises(ValueError, match="already indexed"):
            append_dup()


def test_lsh_tombstones_absent_is_none_unreadable_raises(spark, docs, tmp_path):
    """No ``tombstones/`` means every id is live; a ``tombstones/``
    that cannot be read fails the read instead of reviving deleted
    docs."""
    url = str(tmp_path / "lsh")
    dd.lsh_index_write(url, *dd.lsh_index_build(docs, "text", "doc_id"))

    def live_ids():
        _, sigs = dd.lsh_index_read_live(spark, url)
        return {r.doc_id for r in sigs.select("doc_id").collect()}

    assert live_ids() == set(range(30))
    dd.lsh_index_tombstone(url, docs.select("doc_id").where(F.col("doc_id") == 1))
    assert live_ids() == set(range(30)) - {1}

    tdir = os.path.join(url, "tombstones")
    for name in os.listdir(tdir):
        path = os.path.join(tdir, name)
        if name.endswith(".crc"):
            os.remove(path)
        elif name.endswith(".parquet"):
            with open(path, "wb") as f:
                f.write(b"not parquet")
    with pytest.raises(Exception, match="FAILED_READ_FILE|CANNOT_READ_FILE_FOOTER"):
        live_ids()
