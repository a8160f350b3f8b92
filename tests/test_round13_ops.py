"""Round-13 operators: knn_graph auto-sizing (sqrt(N) cells + k-means
quantizer as the DEFAULT, not a docstring rule) and friends."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from petastorm_spark.session import arrow_local_df


@pytest.fixture(scope="module")
def clustered(spark):
    """5 well-separated Gaussian clusters, 120 vectors, dim 16 — the
    geometry where quantizer quality (k-means vs arbitrary lowest-id
    seeds) actually moves recall."""
    rng = np.random.default_rng(13)
    centers = rng.normal(size=(5, 16)) * 8.0
    vecs = np.concatenate(
        [c + rng.normal(size=(24, 16)) for c in centers]
    ).astype(np.float64)
    return arrow_local_df(
        spark,
        {
            "vec_id": list(range(len(vecs))),
            "embedding": [list(map(float, v)) for v in vecs],
        },
        "vec_id bigint, embedding array<double>",
    )


def test_auto_n_cells_sizing():
    """Pin the derived cell count: max(16, ceil(sqrt(N))). The sizing
    rule is the scale guarantee (candidate work ~ N*sqrt(N)), so it is
    pinned as a function, not trusted as documentation."""
    from petastorm_spark.operators.similarity import auto_n_cells

    assert auto_n_cells(0) == 16
    assert auto_n_cells(100) == 16
    assert auto_n_cells(256) == 16
    assert auto_n_cells(257) == 17
    assert auto_n_cells(60_000) == 245
    assert auto_n_cells(1_000_000) == 1000
    assert auto_n_cells(6_000_000) == 2450


def _edge_set(df):
    return {(r["query_id"], r["neighbor_id"]) for r in df.collect()}


def test_knn_graph_auto_recall_not_worse_than_fixed16(spark, clustered):
    """n_cells=None (auto: sqrt(N) cells + seeded k-means quantizer)
    must recall at least as much of the exact top-3 graph as the old
    fixed-16 lowest-id default on the clustered fixture."""
    pytest.importorskip("pyspark.ml")
    from petastorm_spark.operators.similarity import cosine_topk, knn_graph

    exact = _edge_set(cosine_topk(clustered, clustered, k=3))
    fixed = _edge_set(knn_graph(clustered, k=3, n_cells=16, n_probe=2))
    auto = _edge_set(knn_graph(clustered, k=3, n_probe=2))
    recall_fixed = len(fixed & exact) / len(exact)
    recall_auto = len(auto & exact) / len(exact)
    assert recall_auto >= recall_fixed
    # k-means on 5 separated clusters should be near-exact at 2 probes
    assert recall_auto >= 0.9


def test_knn_graph_auto_plan_still_cell_equijoin(spark, clustered):
    """Auto mode must keep the scale shape: candidates come from a
    cell equi-join, never a BroadcastNestedLoopJoin of the corpus."""
    pytest.importorskip("pyspark.ml")
    from petastorm_spark.operators.similarity import knn_graph

    plan = (
        knn_graph(clustered, k=3, n_probe=2)
        ._jdf.queryExecution()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "cell" in plan


def test_knn_graph_explicit_n_cells_stays_deterministic(spark, clustered):
    """Passing an explicit n_cells must keep the lowest-id quantizer
    (the SQL-oracle contract) — identical edges run to run, no ML."""
    from petastorm_spark.operators.similarity import knn_graph

    a = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in knn_graph(clustered, k=3, n_cells=8, n_probe=2).collect()
    )
    b = sorted(
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in knn_graph(clustered, k=3, n_cells=8, n_probe=2).collect()
    )
    assert a == b and len(a) == clustered.count() * 3


def test_reader_schema_evolution_widens_types(spark, tmp_path):
    """schema_evolution=True widens across files along the safe chains
    (int32->int64, float->double) on BOTH pools and the batch path —
    what Spark's parquet scan tolerates under an explicit requested
    schema (mergeSchema itself refuses type changes, so the reader
    retries under the widened union schema). The unified Unischema is
    pinned at the WIDE types; values from narrow files are exact."""
    import numpy as np

    from petastorm_spark.reader import make_batch_reader

    d = str(tmp_path / "wide_ds")
    spark.createDataFrame([(1, 1.5)], "id int, v float").coalesce(
        1
    ).write.parquet(d)
    spark.createDataFrame(
        [(2**40, 2.25)], "id bigint, v double"
    ).coalesce(1).write.mode("append").parquet(d)

    for pool in ("thread", "process"):
        with make_batch_reader(
            d, spark=spark, schema_evolution=True, reader_pool_type=pool
        ) as r:
            assert r.schema.fields["id"].numpy_dtype == np.int64, pool
            assert r.schema.fields["v"].numpy_dtype == np.float64, pool
            rows = sorted(
                (int(i), float(v))
                for b in r
                for i, v in zip(b.id, b.v)
            )
        assert rows == [(1, 1.5), (2**40, 2.25)], pool

    # plan tier (dataset_as_rdd-style spark read through the Reader's
    # DataFrame) carries the widened schema too
    with make_batch_reader(d, spark=spark, schema_evolution=True) as r:
        df = r.dataframe
        assert df is not None
        t = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
        assert t == {"id": "bigint", "v": "double"}


def test_reader_schema_evolution_widens_across_urls(spark, tmp_path):
    """Multi-URL widening: one shard int32/float, the other
    int64/double — the union Unischema takes the widest; a cross-kind
    conflict (string vs double) still raises."""
    import numpy as np
    import pytest

    from petastorm_spark.reader import make_batch_reader

    d1, d2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    spark.createDataFrame([(1, 1.5)], "id int, v float").write.parquet(d1)
    spark.createDataFrame(
        [(2**40, 2.25)], "id bigint, v double"
    ).write.parquet(d2)
    with make_batch_reader(
        [d1, d2], spark=spark, schema_evolution=True
    ) as r:
        assert r.schema.fields["id"].numpy_dtype == np.int64
        assert r.schema.fields["v"].numpy_dtype == np.float64
        rows = sorted(
            (int(i), float(v)) for b in r for i, v in zip(b.id, b.v)
        )
    assert rows == [(1, 1.5), (2**40, 2.25)]

    # cross-kind change never merges (the old strict contract)
    d3 = str(tmp_path / "w3")
    spark.createDataFrame([("s", 2.0)], "id string, v double").write.parquet(d3)
    with pytest.raises(Exception, match="conflict|merge|incompatible"):
        with make_batch_reader(
            [d1, d3], spark=spark, schema_evolution=True
        ) as r:
            list(r)


def test_multilevel_partition_pruning_reaches_plan(spark, tmp_path):
    """P10, two hive levels (source=/lang=): filters on BOTH levels
    must land in the scan's PartitionFilters — Catalyst prunes every
    partition level for free, where the reference hand-prunes exactly
    one (petastorm/reader.py:632-633). Also pinned: a filter on only
    the INNER level still reaches PartitionFilters (no prefix
    requirement)."""
    import re

    from pyspark.sql import functions as F

    from petastorm_spark.plans.checks import formatted_plan

    url = str(tmp_path / "two_level")
    spark.range(120).select(
        "id",
        (F.col("id") % 3).cast("string").alias("source"),
        (F.col("id") % 2).cast("string").alias("lang"),
    ).write.partitionBy("source", "lang").parquet(url)

    df = (
        spark.read.parquet(url)
        .where((F.col("source") == 1) & (F.col("lang") == 0))
        .select("id")
    )
    plan = formatted_plan(df)
    assert "PartitionFilters: [" in plan
    seg = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert re.search(r"\(source#?\d* = 1\)", seg), seg
    assert re.search(r"\(lang#?\d* = 0\)", seg), seg
    assert df.count() == 20  # id%3==1 and id%2==0

    inner = spark.read.parquet(url).where(F.col("lang") == 1).select("id")
    seg2 = formatted_plan(inner).split("PartitionFilters:")[1].splitlines()[0]
    assert re.search(r"\(lang#?\d* = 1\)", seg2), seg2
    assert inner.count() == 60


def test_reader_recovers_two_level_partition_values(spark, tmp_path):
    """Iteration tier on the nested hive layout: both partition
    columns come back typed from the PATH (they are not stored in the
    files), and an in_set predicate on the inner level prunes."""
    from pyspark.sql import functions as F

    from petastorm_spark.predicates import in_set
    from petastorm_spark.reader import make_reader

    url = str(tmp_path / "two_level_rd")
    spark.range(60).select(
        "id",
        (F.col("id") % 3).alias("source"),
        (F.col("id") % 2).alias("lang"),
    ).write.partitionBy("source", "lang").parquet(url)

    with make_reader(url, spark=spark) as r:
        rows = list(r)
    assert len(rows) == 60
    assert all(
        x.source == x.id % 3 and x.lang == x.id % 2 for x in rows
    )

    with make_reader(
        url, spark=spark, predicate=in_set([1], "lang")
    ) as r:
        odd = list(r)
    assert sorted(x.id for x in odd) == [i for i in range(60) if i % 2 == 1]
    assert all(x.source == x.id % 3 for x in odd)

    # typed from the dataset schema even when the view leaves them out:
    # a DNF filter and a predicate on partition columns outside
    # schema_fields compare ints, not path strings
    with make_reader(
        url,
        spark=spark,
        schema_fields=["id"],
        filters=[("source", "=", 2)],
        predicate=in_set([1], "lang"),
    ) as r:
        ids = sorted(x.id for x in r)
    assert ids == [i for i in range(60) if i % 3 == 2 and i % 2 == 1]


def _edge_tuples(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], round(r["cos_sim"], 12))
        for r in df.collect()
    )


def test_knn_graph_write_read_round_trip(spark, clustered, tmp_path):
    """The persisted graph reproduces knn_graph row for row (ids,
    ranks, fold-exact cosines), and the marker JSON carries the build
    params."""
    from petastorm_spark.operators.similarity import (
        knn_graph,
        knn_graph_read,
        knn_graph_write,
    )

    url = str(tmp_path / "kg_idx")
    knn_graph_write(url, clustered, k=3, n_cells=8, n_probe=2)
    params, edges = knn_graph_read(spark, url)
    assert params == {
        "k": 3, "n_probe": 2, "n_cells": 8,
        "id_col": "vec_id", "vec_col": "embedding",
        # r15: the probe configuration is part of the index, so an
        # append can reproduce the build's assignment
        "hierarchical": False, "l1_probe": 4, "l1_rounds": 4,
    }
    want = knn_graph(clustered, k=3, n_cells=8, n_probe=2)
    assert _edge_tuples(edges) == _edge_tuples(want)


def test_knn_graph_append_matches_full_rebuild(spark, clustered, tmp_path):
    """Incremental contract: write on the first 100 vectors, append
    the last 20 — the stored graph must equal knn_graph rebuilt over
    the FULL corpus under the same quantizer; the changed-edge return
    covers exactly the batch plus the displaced existing vectors; and
    edge partitions of unaffected cells are BYTE-untouched (the
    dynamic overwrite rewrote only the affected home cells — the
    append-cost-scales-with-the-batch receipt)."""
    import os

    from pyspark.sql import functions as F

    from petastorm_spark.operators.similarity import (
        knn_graph,
        knn_graph_append,
        knn_graph_read,
        knn_graph_write,
    )

    # one explicit centroid per cluster (medoid-ish members), so the
    # batch (cluster 4) interacts with exactly one cell's neighborhood
    cents = clustered.where(F.col("vec_id").isin([0, 24, 48, 72, 96]))
    initial = clustered.where(F.col("vec_id") < 100)
    batch = clustered.where(F.col("vec_id") >= 100)

    url = str(tmp_path / "kg_inc")
    knn_graph_write(url, initial, k=3, n_probe=2, centroids=cents)

    def partition_snapshot():
        snap = {}
        root = os.path.join(url, "edges")
        for d in os.listdir(root):
            if not d.startswith("qcell="):
                continue
            files = sorted(
                (f, os.path.getmtime(os.path.join(root, d, f)))
                for f in os.listdir(os.path.join(root, d))
                if not f.startswith((".", "_"))
            )
            snap[d] = files
        return snap

    before = partition_snapshot()
    changed = knn_graph_append(spark, url, batch)
    changed_rows = changed.collect()
    after = partition_snapshot()

    _, edges = knn_graph_read(spark, url)
    want = knn_graph(clustered, k=3, n_probe=2, centroids=cents)
    assert _edge_tuples(edges) == _edge_tuples(want)

    # every batch vector's edges are in the changed set
    changed_q = {r["query_id"] for r in changed_rows}
    assert set(range(100, 120)) <= changed_q
    # changed rows agree with the final stored graph
    final = {
        (t[0], t[1]): (t[2], t[3]) for t in _edge_tuples(edges)
    }
    for r in changed_rows:
        assert final[(r["query_id"], r["rank"])] == (
            r["neighbor_id"], round(r["cos_sim"], 12)
        )
    # at least one far cluster's partition exists and was not rewritten
    untouched = [
        d for d in before
        if d in after and before[d] == after[d]
    ]
    assert untouched, (before.keys(), after.keys())
    # and the batch's own home partition WAS rewritten
    assert any(
        d not in before or before[d] != after[d] for d in after
    )


def test_knn_graph_append_rejects_duplicate_ids(spark, clustered, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from petastorm_spark.operators.similarity import (
        knn_graph_append,
        knn_graph_write,
    )

    url = str(tmp_path / "kg_dup")
    knn_graph_write(
        url, clustered.where(F.col("vec_id") < 100), k=3, n_cells=8,
        n_probe=2,
    )
    with pytest.raises(ValueError, match="already indexed"):
        knn_graph_append(
            spark, url, clustered.where(F.col("vec_id") < 10)
        )


def test_knn_graph_append_updates_via_non_home_probe(spark, tmp_path):
    """The merge-completeness case the sf0.01 oracle caught in r13
    development: an existing vector u whose HOME cell is untouched by
    the batch, but whose RANK-2 probe cell receives a new vector b
    that displaces u's top edge. u is affected only through the
    non-home probe — the replicated cells rows must carry u's home
    cell so the merge join keeps u's pair scores."""
    from pyspark.sql import functions as F

    from petastorm_spark.operators.similarity import (
        knn_graph,
        knn_graph_append,
        knn_graph_read,
        knn_graph_write,
    )
    from petastorm_spark.session import arrow_local_df

    def frame(ids, vecs):
        return arrow_local_df(
            spark,
            {"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]},
            "vec_id bigint, embedding array<double>",
        )

    cents = arrow_local_df(
        spark,
        {"cell": [0, 1], "cent_vec": [[1.0, 0.0], [0.0, 1.0]]},
        "cell int, cent_vec array<double>",
    )
    # u=(0.8,0.6): home cell 0, rank-2 probe cell 1. w/x: cell-0
    # fillers (w is u's initial top-1). y: cell-1 member.
    initial = frame(
        [1, 2, 3, 4],
        [[0.8, 0.6], [1.0, 0.05], [0.99, -0.1], [0.1, 0.995]],
    )
    # b homes to cell 1 (cos 0.835 vs 0.55) and beats w for u's top-1:
    # cos(u,b) ~ 0.941 > cos(u,w) ~ 0.829
    batch = frame([10], [[0.55, 0.835]])

    url = str(tmp_path / "kg_nonhome")
    knn_graph_write(url, initial, k=1, n_probe=2, centroids=cents)
    _, before = knn_graph_read(spark, url)
    assert {
        (r["query_id"], r["neighbor_id"]) for r in before.collect()
    } >= {(1, 2)}  # u's initial top-1 is w

    changed = knn_graph_append(spark, url, batch).collect()
    # u's updated edge is in the changed set despite u's home cell
    # receiving no batch vector
    assert (1, 10) in {(r["query_id"], r["neighbor_id"]) for r in changed}

    _, edges = knn_graph_read(spark, url)
    got = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in edges.collect()}
    assert got[(1, 1)] == 10
    full = knn_graph(
        initial.unionByName(batch), k=1, n_probe=2, centroids=cents
    )
    want = {
        (r["query_id"], r["rank"]): r["neighbor_id"] for r in full.collect()
    }
    assert got == want


def test_knn_edges_stream_matches_numpy(spark, clustered, tmp_path):
    """Streaming forward edges against the persisted graph index
    (availableNow) match a from-scratch numpy construction of the
    candidate rule: probe the 2 nearest quantizer cells (cos DESC,
    cell ASC ties), candidates = the STORED home members of those
    cells, top-3 by (cos DESC, neighbor ASC), rounded like the batch
    graph."""
    import numpy as np
    from pyspark.sql import functions as F

    from petastorm_spark.operators.similarity import knn_graph_write
    from petastorm_spark.streaming.feed import knn_edges_stream, stream_dataset

    initial = clustered.where(F.col("vec_id") < 100)
    batch = clustered.where(F.col("vec_id") >= 100)
    url = str(tmp_path / "kg_stream_idx")
    knn_graph_write(url, initial, k=3, n_cells=8, n_probe=2)

    bdir = str(tmp_path / "batch_in")
    batch.coalesce(1).write.parquet(bdir)
    q = (
        knn_edges_stream(
            stream_dataset(spark, bdir),
            spark.read.parquet(url + "/centroids"),
            spark.read.parquet(url + "/cells"),
            k=3,
            n_probe=2,
        )
        .writeStream.format("memory")
        .queryName("kg_stream_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.query_id: [(s.neighbor_id, s.cos_sim) for s in r.topk]
        for r in spark.sql("SELECT * FROM kg_stream_out").collect()
    }

    V = {r["vec_id"]: np.array(r["embedding"]) for r in clustered.collect()}
    cent = {c: V[c] for c in range(8)}  # lowest-id quantizer

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    homes: dict[int, list[int]] = {c: [] for c in cent}
    for i in range(100):  # stored home members
        best = sorted(cent, key=lambda c: (-cos(V[i], cent[c]), c))
        homes[best[0]].append(i)

    want = {}
    for b in range(100, 120):
        probe = sorted(cent, key=lambda c: (-cos(V[b], cent[c]), c))[:2]
        cands = [i for c in probe for i in homes[c]]
        top = sorted(cands, key=lambda i: (-cos(V[b], V[i]), i))[:3]
        want[b] = [(i, round(cos(V[b], V[i]), 4)) for i in top]

    assert got == want


def test_make_reader_row_path_widens_types(spark, tmp_path):
    """S1 symmetry: the ROW reader (make_reader namedtuples) widens
    across files like the batch path — narrow-file values come back
    as the wide numpy dtypes."""
    import numpy as np
    from pyspark.sql import functions as F  # noqa: F401

    from petastorm_spark.reader import make_reader

    d = str(tmp_path / "wide_rows")
    spark.createDataFrame([(1, 1.5)], "id int, v float").coalesce(
        1
    ).write.parquet(d)
    spark.createDataFrame(
        [(2**40, 2.25)], "id bigint, v double"
    ).coalesce(1).write.mode("append").parquet(d)

    with make_reader(d, spark=spark, schema_evolution=True) as r:
        rows = sorted((int(x.id), float(x.v)) for x in r)
        assert r.schema.fields["id"].numpy_dtype == np.int64
        assert r.schema.fields["v"].numpy_dtype == np.float64
    assert rows == [(1, 1.5), (2**40, 2.25)]


# ---------------------------------------------------------------------------
# Engine-exact Lloyd's k-means (kmeans_lloyd)
# ---------------------------------------------------------------------------


def test_kmeans_lloyd_recovers_separated_clusters(spark):
    """5 well-separated blobs with INTERLEAVED ids (vec_id % 5 =
    blob), so the k=5 lowest-id seeds start one per blob: two Lloyd
    rounds must land every vector in its blob's cell (blobs are many
    sigma apart, so the argmin is unambiguous), and the report's
    member counts must be the blob sizes. Lowest-id init is the
    documented determinism contract — when seeds cluster in one blob
    it behaves like any k-means with bad init, which is why callers
    with unknown layouts use the ML twin's k-means|| seeding."""
    from petastorm_spark.operators.similarity import kmeans_lloyd

    rng = np.random.default_rng(13)
    centers = rng.normal(size=(5, 16)) * 8.0
    n = 120
    vecs = [
        centers[i % 5] + rng.normal(size=16) * 0.3 for i in range(n)
    ]
    df = arrow_local_df(
        spark,
        {
            "vec_id": list(range(n)),
            "embedding": [list(map(float, v)) for v in vecs],
        },
        "vec_id bigint, embedding array<double>",
    )
    assign = kmeans_lloyd(df, k=5, dims=16, rounds=2, output="assign").collect()
    cell_by_blob = {}
    for r in assign:
        cell_by_blob.setdefault(r["vec_id"] % 5, set()).add(r["cell"])
    # every blob maps to exactly one cell, all cells distinct
    assert all(len(cells) == 1 for cells in cell_by_blob.values())
    assert len({c for s in cell_by_blob.values() for c in s}) == 5
    report = kmeans_lloyd(df, k=5, dims=16, rounds=2).collect()
    assert sorted(r["n_members"] for r in report) == [24] * 5
    # the report carries the full integer centroid state
    for r in report:
        assert len(r["cent_csv"].split(",")) == 16


def test_kmeans_lloyd_drops_emptied_cells(spark):
    """Two identical seed vectors: every point ties between cell 0 and
    cell 1, the lowest-cell tie-break sends all of them to cell 0, and
    cell 1 must be DROPPED from the report (surviving ids keep their
    numbering) — the documented empty-cell contract."""
    from petastorm_spark.operators.similarity import kmeans_lloyd

    df = arrow_local_df(
        spark,
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [[0.0, 0.0], [0.0, 0.0], [9.0, 9.0], [9.1, 9.1]],
        },
        "vec_id bigint, embedding array<double>",
    )
    report = kmeans_lloyd(df, k=2, dims=2, rounds=2).collect()
    cells = sorted(r["cell"] for r in report)
    assert cells == [0]
    assert report[0]["n_members"] == 4


def test_kmeans_lloyd_deterministic_across_runs(spark, clustered):
    """Same input, same params -> bit-identical report (the integer
    path has no float-order, hash-seed, or partitioning sensitivity)."""
    from petastorm_spark.operators.similarity import kmeans_lloyd

    a = sorted(map(tuple, kmeans_lloyd(clustered, k=5, dims=16).collect()))
    b = sorted(
        map(
            tuple,
            kmeans_lloyd(
                clustered.repartition(7), k=5, dims=16
            ).collect(),
        )
    )
    assert a == b


def test_kmeans_lloyd_assign_plan_is_join_free(spark, clustered):
    """The assignment stage must be a pure per-row map: centroids ride
    the plan as literals, so the physical plan of output='assign' has
    NO join node and no exchange beyond the source scan."""
    from petastorm_spark.operators.similarity import kmeans_lloyd

    plan = (
        kmeans_lloyd(clustered, k=5, dims=16, output="assign")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_kmeans_assign_stream_matches_batch(spark, clustered, tmp_path):
    """Streaming assignment against the frozen kmeans_fit model
    (availableNow) is bit-identical to the batch output='assign'
    path — the two share the quantize + integer-argmin expressions,
    so this pins that the shared expressions stay streaming-safe
    (stateless, append-mode)."""
    from petastorm_spark.operators.similarity import kmeans_fit, kmeans_lloyd
    from petastorm_spark.streaming.feed import (
        kmeans_assign_stream,
        stream_dataset,
    )

    cents = kmeans_fit(clustered, k=5, dims=16, rounds=2)
    batch = {
        (r["vec_id"], r["cell"], r["dist_q"])
        for r in kmeans_lloyd(
            clustered, k=5, dims=16, rounds=2, output="assign"
        ).collect()
    }

    sdir = str(tmp_path / "km_stream_in")
    clustered.coalesce(2).write.parquet(sdir)
    q = (
        kmeans_assign_stream(stream_dataset(spark, sdir), cents, dims=16)
        .writeStream.format("memory")
        .queryName("km_assign_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["vec_id"], r["cell"], r["dist_q"])
        for r in spark.sql("SELECT * FROM km_assign_out").collect()
    }
    assert got == batch


def test_readability_known_values(spark):
    """Hand-checked Flesch / FK on punctuation-bearing text (the
    testdata corpus is punctuation-free, so the sentence counter only
    exercises its floor there): 'The cat sat. The dog ran!' = 6 words,
    2 sentences, 6 vowel groups -> flesch 119.19, grade -2.62; a
    no-punctuation fragment floors at 1 sentence."""
    from petastorm_spark.operators.text import (
        fk_grade_level,
        flesch_reading_ease,
        sentence_count,
        syllable_count,
        token_count,
    )

    df = arrow_local_df(
        spark,
        {"doc_id": [1, 2], "text": ["The cat sat. The dog ran!", "no stops here"]},
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            token_count("text").alias("w"),
            sentence_count("text").alias("s"),
            syllable_count("text").alias("y"),
            F.round(flesch_reading_ease("text"), 2).alias("fre"),
            F.round(fk_grade_level("text"), 2).alias("fk"),
        ).collect()
    }
    assert (rows[1]["w"], rows[1]["s"], rows[1]["y"]) == (6, 2, 6)
    assert rows[1]["fre"] == 119.19 and rows[1]["fk"] == -2.62
    assert rows[2]["s"] == 1


def test_token_label_mi_hand_computed(spark):
    """Hand-checked MI terms on a 4-doc corpus: a label-independent
    token gets exactly 0; a token perfectly aligned with one label
    contributes 0.5*ln(2) (~0.346574) in BOTH its present (aligned
    label) and absent (other label) rows."""
    import math

    from petastorm_spark.operators.text import token_label_mi

    df = arrow_local_df(
        spark,
        {
            "doc_id": [1, 2, 3, 4],
            "lang": ["en", "en", "fr", "fr"],
            "text": ["cat dog", "dog", "cat", "x"],
        },
        "doc_id bigint, lang string, text string",
    )
    rows = {
        (r["token"], r["label"]): r
        for r in token_label_mi(df, "text", "lang", min_df=1).collect()
    }
    # "cat" is in one en and one fr doc -> independent of label
    assert rows[("cat", "en")]["mi_term"] == 0.0
    assert rows[("cat", "fr")]["mi_term"] == 0.0
    # "dog" only in en docs -> 0.5*ln(2) on both label rows
    expect = round(0.5 * math.log(2.0), 6)
    assert rows[("dog", "en")]["mi_term"] == expect
    assert rows[("dog", "fr")]["mi_term"] == expect
    assert rows[("dog", "en")]["n_tl"] == 2
    assert rows[("dog", "fr")]["n_tl"] == 0
    # the grid is complete: every kept token has a row per label
    assert {(t, l) for (t, l) in rows} >= {("x", "en"), ("x", "fr")}


def test_dp_group_release_clips_and_is_deterministic(spark):
    """DP release mechanics: an outlier value contributes at most
    clip_hi to the released sum (sensitivity is bounded BEFORE noise),
    the seeded noise is partitioning-invariant, and a different seed
    moves the release."""
    from petastorm_spark.operators.privacy import dp_group_release

    df = arrow_local_df(
        spark,
        {
            "grp": ["a"] * 5 + ["b"] * 3,
            "value": [1.0, 2.0, 3.0, 4.0, 1e9, 10.0, 20.0, 30.0],
        },
        "grp string, value double",
    )
    rel = {
        r["grp"]: r
        for r in dp_group_release(
            df, "grp", epsilon=1.0, value_col="value",
            clip_lo=0.0, clip_hi=100.0,
        ).collect()
    }
    # outlier clipped to 100: true clipped sum for a = 110, Laplace
    # b=100 noise keeps the release within a plausible band and FAR
    # from the unclipped 1e9
    assert abs(rel["a"]["noisy_sum"] - 110.0) < 5000.0
    assert abs(rel["a"]["noisy_count"] - 5.0) < 50.0
    assert abs(rel["b"]["noisy_sum"] - 60.0) < 5000.0

    again = {
        r["grp"]: r
        for r in dp_group_release(
            df.repartition(5), "grp", epsilon=1.0, value_col="value",
            clip_lo=0.0, clip_hi=100.0,
        ).collect()
    }
    assert {(k, v["noisy_count"], v["noisy_sum"]) for k, v in rel.items()} == {
        (k, v["noisy_count"], v["noisy_sum"]) for k, v in again.items()
    }
    other = {
        r["grp"]: r["noisy_count"]
        for r in dp_group_release(df, "grp", epsilon=1.0, seed=1).collect()
    }
    assert any(other[k] != rel[k]["noisy_count"] for k in other)


def test_rank_rbo_hand_computed(spark):
    """Hand-checked RBO terms: identical rankings give x_d = d at
    every depth (term = (1-p)p^(d-1)); a ranking sharing only the
    top-1 item at rank 1 on both sides activates x_d = 1 everywhere;
    RBO favors top-heavy agreement over tail agreement at equal
    recall."""
    import math

    from petastorm_spark.operators.similarity import rank_rbo_report

    def ranking(qid, ids):
        return arrow_local_df(
            spark,
            {
                "query_id": [qid] * len(ids),
                "neighbor_id": ids,
                "rank": list(range(1, len(ids) + 1)),
            },
            "query_id bigint, neighbor_id bigint, rank int",
        )

    exact = ranking(1, [10, 11, 12])
    same = rank_rbo_report(exact, ranking(1, [10, 11, 12]), k=3).collect()
    p = 0.9
    for r in same:
        assert r["x_d"] == r["d"]
        assert r["rbo_term"] == round(
            (1 - p) * p ** (r["d"] - 1) * 1.0, 6
        )
    # top-1 agreement beats bottom-1 agreement (equal recall = 1/3)
    top = sum(
        r["rbo_term"]
        for r in rank_rbo_report(exact, ranking(1, [10, 98, 99]), k=3).collect()
    )
    tail = sum(
        r["rbo_term"]
        for r in rank_rbo_report(exact, ranking(1, [98, 99, 12]), k=3).collect()
    )
    assert top > tail > 0
    # identical rankings sum to the truncated-RBO closed form
    full = sum(r["rbo_term"] for r in same)
    expect = sum((1 - p) * p ** (d - 1) for d in range(1, 4))
    assert math.isclose(full, expect, abs_tol=2e-6)


def test_lsh_plan_picks_knee_near_threshold(spark):
    """The banding planner lands the s-curve knee (1/b)^(1/r) near the
    requested threshold, leans to more bands (recall) on ties, and the
    returned curve is monotone with high catch probability above the
    threshold and low below."""
    from petastorm_spark.operators.dedup import lsh_plan

    plan = lsh_plan(0.5, 16)
    assert plan["bands"] * plan["rows"] == 16
    assert abs(plan["knee"] - 0.5) <= 0.15
    c = plan["curve"]
    ss = sorted(c)
    assert all(c[a] <= c[b] for a, b in zip(ss, ss[1:]))
    assert c[0.9] > 0.95 and c[0.2] < 0.35
    # 16 hashes offer knees at 0.707 (4x4) and 0.354 (8x2): 0.5 picks
    # the recall-leaning 8x2, 0.6+ picks the 4x4 the catalog's
    # dedup_minhash_lsh default uses — pin both choices
    assert (plan["bands"], plan["rows"]) == (8, 2)
    assert (lsh_plan(0.65, 16)["bands"], lsh_plan(0.65, 16)["rows"]) == (4, 4)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lsh_plan(1.5, 16)
    with _pytest.raises(ValueError):
        lsh_plan(0.5, 1)


def test_profile_and_constraints_hand_fixture(spark):
    """Profiling counts nulls/distincts exactly and splits extremes by
    type family; constraint checks count each violation kind (null
    violates range/in_set/regex; unique counts ALL rows of a
    duplicated key)."""
    from petastorm_spark.operators.profiling import (
        check_constraints,
        profile_columns,
    )

    df = arrow_local_df(
        spark,
        {
            "k": [1, 2, 2, 3, None],
            "s": ["a", "b", None, "b", "z"],
            "v": [0.5, 1.5, 2.5, -1.0, 99.0],
        },
        "k bigint, s string, v double",
    )
    prof = {r["column"]: r for r in profile_columns(df).collect()}
    assert prof["k"]["n"] == 5 and prof["k"]["n_null"] == 1
    assert prof["k"]["n_distinct"] == 3
    assert (prof["k"]["min_num"], prof["k"]["max_num"]) == (1.0, 3.0)
    assert prof["k"]["min_str"] is None
    assert (prof["s"]["min_str"], prof["s"]["max_str"]) == ("a", "z")
    assert prof["s"]["min_num"] is None

    checks = {
        (r["check"], r["column"]): r
        for r in check_constraints(
            df,
            [
                ("not_null", "k"),
                ("unique", "k"),
                ("range", "v", 0.0, 10.0),
                ("in_set", "s", ["a", "b"]),
                ("regex", "s", "^[ab]$"),
            ],
        ).collect()
    }
    assert checks[("not_null", "k")]["n_violations"] == 1
    # key 2 appears twice -> both rows count
    assert checks[("unique", "k")]["n_violations"] == 2
    # -1.0 and 99.0 out of range
    assert checks[("range", "v")]["n_violations"] == 2
    # None and "z" not in set
    assert checks[("in_set", "s")]["n_violations"] == 2
    assert checks[("regex", "s")]["n_violations"] == 2
    assert not checks[("unique", "k")]["passed"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown check"):
        check_constraints(df, [("bogus", "k")]).collect()


def test_profile_single_exchange(spark, tmp_path):
    """profile_columns is ONE Aggregate over the scan: the physical
    plan has no join and a single hash-aggregate pair around one
    exchange regardless of column count."""
    from petastorm_spark.operators.profiling import profile_columns

    d = str(tmp_path / "prof_ds")
    spark.range(100).select(
        "id", (F.col("id") % 7).cast("string").alias("s")
    ).write.parquet(d)
    df = profile_columns(spark.read.parquet(d))
    df.collect()
    ep = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in ep
    assert "EvalPython" not in ep


def test_constraint_check_stream_matches_batch(spark, tmp_path):
    """Streaming contract gate (availableNow, update mode) lands on
    the same running violation counts as the batch gate over the same
    files; the unique kind is rejected with a pointer to batch."""
    from petastorm_spark.operators.profiling import check_constraints
    from petastorm_spark.streaming.feed import (
        constraint_check_stream,
        stream_dataset,
    )

    d = str(tmp_path / "cc_stream_in")
    arrow_local_df(
        spark,
        {
            "k": [1, None, 3, 4],
            "v": [0.5, 20.0, -3.0, 1.0],
        },
        "k bigint, v double",
    ).coalesce(2).write.parquet(d)

    checks = [("not_null", "k"), ("range", "v", 0.0, 10.0)]
    q = (
        constraint_check_stream(stream_dataset(spark, d), checks)
        .writeStream.format("memory")
        .queryName("cc_stream_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["check"], r["column"]): (r["n_violations"], r["passed"])
        for r in spark.sql(
            "SELECT * FROM cc_stream_out ORDER BY n_violations"
        ).collect()
    }
    want = {
        (r["check"], r["column"]): (r["n_violations"], r["passed"])
        for r in check_constraints(
            spark.read.parquet(d), checks
        ).collect()
    }
    assert got == want
    assert got[("not_null", "k")] == (1, False)
    assert got[("range", "v")] == (2, False)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unique"):
        constraint_check_stream(
            stream_dataset(spark, d), [("unique", "k")]
        )


def test_feature_hash_embed_mechanics_and_similarity(spark):
    """Hashing-trick mechanics: a repeated token adds +/-2 in ONE
    bucket, different docs with identical text embed identically, and
    near-duplicate texts score near-top cosine through the similarity
    stack — the model-free text->vector bridge actually retrieves."""
    from petastorm_spark.operators.similarity import cosine_topk
    from petastorm_spark.operators.text import feature_hash_embed

    df = arrow_local_df(
        spark,
        {
            "doc_id": [1, 2, 3, 4],
            "text": [
                "alpha alpha",
                "alpha alpha",
                "alpha alpha beta",
                "totally different words here",
            ],
        },
        "doc_id bigint, text string",
    )
    emb = feature_hash_embed(df, "text", "doc_id", dim=16)
    vecs = {r["doc_id"]: r["embedding"] for r in emb.collect()}
    assert all(len(v) == 16 for v in vecs.values())
    # one token repeated twice -> exactly one bucket at +/-2
    assert sorted(abs(x) for x in vecs[1])[-1] == 2.0
    assert sum(1 for x in vecs[1] if x != 0.0) == 1
    assert vecs[1] == vecs[2]
    # near-dup text is doc 1's nearest non-identical neighbor
    top = cosine_topk(
        emb, emb.where(F.col("doc_id") == 1), k=3, id_col="doc_id"
    ).collect()
    ranked = [r["neighbor_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert ranked[0] == 2  # identical text, cosine 1
    assert ranked[1] == 3  # shared-token near-dup beats unrelated


def test_observed_constraints_piggyback_on_write(spark, tmp_path):
    """The Observation-API gate evaluates the contract during the
    pipeline's OWN action (a parquet write here) — no second scan —
    and reports the same counts as the standalone gate."""
    from petastorm_spark.operators.profiling import (
        check_constraints,
        observed_constraints,
    )

    df = arrow_local_df(
        spark,
        {"k": [1, None, 3], "v": [0.5, 50.0, 2.0]},
        "k bigint, v double",
    )
    checks = [("not_null", "k"), ("range", "v", 0.0, 10.0)]
    observed, fetch = observed_constraints(df, checks)
    observed.write.mode("overwrite").parquet(str(tmp_path / "out_ds"))
    got = fetch()
    want = {
        (r["check"], r["column"]): r["n_violations"]
        for r in check_constraints(df, checks).collect()
    }
    assert got == want == {
        ("not_null", "k"): 1,
        ("range", "v"): 1,
    }
    # the written data is untouched by the observation
    assert spark.read.parquet(str(tmp_path / "out_ds")).count() == 3


def test_file_layout_report_counts_and_recommendation(spark, tmp_path):
    """The compaction report ties out: per-file rows sum to the table,
    bytes match the filesystem, and the recommendation is
    ceil(total_bytes / target)."""
    from petastorm_spark.operators.layout import file_layout_report

    d = str(tmp_path / "layout_ds")
    spark.range(1000).repartition(4).write.parquet(d)
    rep = file_layout_report(spark, d, target_file_bytes=4096).collect()
    per_file = [r for r in rep if r["file"] != "_TOTAL_"]
    total = [r for r in rep if r["file"] == "_TOTAL_"][0]
    assert len(per_file) == 4
    assert sum(r["n_rows"] for r in per_file) == 1000 == total["n_rows"]
    assert all(r["bytes"] > 0 for r in per_file)
    assert total["bytes"] == sum(r["bytes"] for r in per_file)
    import math

    assert total["recommended_files"] == math.ceil(total["bytes"] / 4096)
    assert all(r["recommended_files"] is None for r in per_file)


def test_kmeans_lloyd_tie_break_assigns_lowest_cell(spark):
    """Exact distance ties go to the LOWEST cell. Both seeds sit at
    (0, 0), so with no update round every point ties between cells 0
    and 1 and is assigned cell 0 at its exact integer distance; one
    Lloyd round then leaves cell 1 empty, so the fitted model drops it
    and keeps cell 0 at the round-half-up mean."""
    from petastorm_spark.operators.similarity import kmeans_fit, kmeans_lloyd

    tie = arrow_local_df(
        spark,
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [[0.0, 0.0], [0.0, 0.0], [9.0, 9.0], [9.1, 9.1]],
        },
        "vec_id bigint, embedding array<double>",
    )
    got = sorted(
        map(
            tuple,
            kmeans_lloyd(tie, k=2, dims=2, rounds=0, output="assign").collect(),
        )
    )
    assert got == [
        (0, 0, 0),
        (1, 0, 0),
        (2, 0, 2 * 9_000_000**2),
        (3, 0, 2 * 9_100_000**2),
    ]
    # S = 18.1e6 over N = 4 per dim: floor((2S + N) / 2N) = 4525000
    assert kmeans_fit(tie, k=2, dims=2, rounds=1) == {0: [4_525_000, 4_525_000]}


def test_kmeans_lloyd_rejects_unknown_output(spark, clustered):
    """Only "report" and "assign" are outputs: a misspelt value raises
    instead of silently returning the report."""
    from petastorm_spark.operators.similarity import kmeans_lloyd

    with pytest.raises(ValueError, match="'report' or 'assign'"):
        kmeans_lloyd(clustered, k=5, dims=16, output="assignment")


def test_l_diversity_flags_homogeneous_classes(spark):
    """A class that is k-anonymous by size but single-valued in the
    sensitive attribute is flagged; a diverse class of the same size
    is not; sensitive NULLs disclose nothing and don't count."""
    from petastorm_spark.operators.privacy import l_diversity_report

    df = arrow_local_df(
        spark,
        {
            "qi": ["a"] * 4 + ["b"] * 4 + ["c"] * 3,
            "s": [1, 1, 1, 1, 1, 2, 3, 4, None, None, 7],
        },
        "qi string, s bigint",
    )
    rep = {
        r["qi"]: r
        for r in l_diversity_report(df, ["qi"], "s", l=2).collect()
    }
    assert rep["a"]["class_size"] == 4
    assert rep["a"]["n_sensitive_values"] == 1 and rep["a"]["at_risk"] == 1
    assert rep["b"]["n_sensitive_values"] == 4 and rep["b"]["at_risk"] == 0
    # nulls excluded: class c has one real value -> at risk at l=2
    assert rep["c"]["n_sensitive_values"] == 1 and rep["c"]["at_risk"] == 1


def test_t_closeness_flags_skewed_class(spark):
    """A class concentrated on one tail value has large EMD (flagged
    at t=0.2); a class mirroring the global distribution has EMD ~ 0;
    hand-check: global over {0,1} is 50/50, the skewed class is all-1
    -> EMD = |0*N - cumG*nq| step at v=0 = 0.5 exactly."""
    from petastorm_spark.operators.privacy import t_closeness_report

    df = arrow_local_df(
        spark,
        {
            "qi": ["a"] * 4 + ["b"] * 4,
            "s": [0, 1, 0, 1, 1, 1, 1, 1],
        },
        "qi string, s bigint",
    )
    # global: v=0 count 2, v=1 count 6; N=8, m=2
    # class a (2,2): cum diffs at v=0: |2*8 - 2*4| = 8 -> emd 8/(4*8*1)=0.25
    # class b (0,4): at v=0: |0*8 - 2*4| = 8 -> emd 8/(4*8*1) = 0.25
    # (final step always 0). Rebalance so a mirrors global:
    df2 = arrow_local_df(
        spark,
        {
            "qi": ["a"] * 4 + ["b"] * 4,
            "s": [0, 1, 1, 1, 1, 1, 1, 1],
        },
        "qi string, s bigint",
    )
    rep = {
        r["qi"]: r for r in t_closeness_report(df2, ["qi"], "s", t=0.2).collect()
    }
    # global: v0=1, v1=7. class a (1,3): |4*8-8*4|/... v=0: |1*8-1*4|=4
    # emd_a = 4/(4*8*1) = 0.125 ; class b (0,4): |0*8-1*4|=4 -> 0.125
    assert rep["a"]["emd"] == 0.125 and rep["a"]["at_risk"] == 0
    assert rep["b"]["emd"] == 0.125
    rep1 = {
        r["qi"]: r for r in t_closeness_report(df, ["qi"], "s", t=0.2).collect()
    }
    assert rep1["a"]["emd"] == 0.25 and rep1["a"]["at_risk"] == 1
    assert rep1["b"]["emd"] == 0.25
    # single-value domain -> EMD defined 0
    one = arrow_local_df(
        spark,
        {"qi": ["a", "b"], "s": [5, 5]},
        "qi string, s bigint",
    )
    assert all(
        r["emd"] == 0.0
        for r in t_closeness_report(one, ["qi"], "s").collect()
    )


def test_partition_digests_detect_changes_and_ignore_order(spark):
    """The digest is order/partitioning-invariant (additive), detects
    a single-row change, and NULLs don't alias with absent columns
    (the concat_ws-skips-nulls trap is sentinel-guarded)."""
    from petastorm_spark.operators.layout import partition_digests

    df = arrow_local_df(
        spark,
        {
            "p": ["x", "x", "y"],
            "a": [1, 2, 3],
            "b": ["u", None, "w"],
        },
        "p string, a bigint, b string",
    )
    base = {
        r["p"]: (r["n_rows"], r["digest"])
        for r in partition_digests(df, ["p"]).collect()
    }
    reordered = {
        r["p"]: (r["n_rows"], r["digest"])
        for r in partition_digests(df.repartition(5), ["p"]).collect()
    }
    assert base == reordered
    # change one row in partition x -> x's digest moves, y's doesn't
    df2 = arrow_local_df(
        spark,
        {
            "p": ["x", "x", "y"],
            "a": [1, 99, 3],
            "b": ["u", None, "w"],
        },
        "p string, a bigint, b string",
    )
    changed = {
        r["p"]: (r["n_rows"], r["digest"])
        for r in partition_digests(df2, ["p"]).collect()
    }
    assert changed["x"] != base["x"] and changed["y"] == base["y"]
    # null sentinel: (1, NULL) must not hash like concat would (just "1")
    df3 = arrow_local_df(
        spark,
        {"p": ["x"], "a": [1], "b": ["\x00"]},
        "p string, a bigint, b string",
    )
    df4 = arrow_local_df(
        spark,
        {"p": ["x"], "a": [1], "b": [None]},
        "p string, a bigint, b string",
    )
    d3 = partition_digests(df3, ["p"]).collect()[0]["digest"]
    d4 = partition_digests(df4, ["p"]).collect()[0]["digest"]
    assert d3 == d4  # sentinel IS chr(0): documented aliasing boundary


def test_null_handling_across_r13_ops(spark):
    """Review regressions pinned: (a) token_label_mi treats a NULL
    label as its own class (null-safe grid join — n_tl no longer
    silently zeroes); (b) feature_hash_embed emits the ZERO vector for
    NULL-text docs instead of dropping them; (c) t_closeness keeps a
    NULL QI class's real distribution (null-safe grid join);
    (d) check_constraints rejects an empty check list."""
    import pytest as _pytest

    from petastorm_spark.operators.privacy import t_closeness_report
    from petastorm_spark.operators.profiling import check_constraints
    from petastorm_spark.operators.text import (
        feature_hash_embed,
        token_label_mi,
    )

    # (a) NULL label class
    df = arrow_local_df(
        spark,
        {
            "doc_id": [1, 2, 3, 4],
            "lang": ["en", "en", None, None],
            "text": ["dog", "dog", "dog", "dog"],
        },
        "doc_id bigint, lang string, text string",
    )
    rows = {
        (r["token"], r["label"]): r["n_tl"]
        for r in token_label_mi(df, "text", "lang", min_df=1).collect()
    }
    assert rows[("dog", None)] == 2  # was 0 before the null-safe join
    assert rows[("dog", "en")] == 2

    # (b) NULL text -> zero vector, not a missing row
    df2 = arrow_local_df(
        spark,
        {"doc_id": [1, 2], "text": ["alpha", None]},
        "doc_id bigint, text string",
    )
    emb = {
        r["doc_id"]: r["embedding"]
        for r in feature_hash_embed(df2, "text", "doc_id", dim=8).collect()
    }
    assert set(emb) == {1, 2}
    assert emb[2] == [0.0] * 8

    # (c) NULL QI class mirrors the global distribution -> emd 0.5
    # band, never the bogus maximal value from a dropped join
    df3 = arrow_local_df(
        spark,
        {"qi": [None, None, "b", "b"], "s": [0, 1, 0, 1]},
        "qi string, s bigint",
    )
    rep = {
        r["qi"]: r["emd"]
        for r in t_closeness_report(df3, ["qi"], "s", t=0.2).collect()
    }
    assert rep[None] == 0.0 and rep["b"] == 0.0

    # (d) empty checks
    with _pytest.raises(ValueError, match="empty"):
        check_constraints(df3, [])


def test_source_mix_report_gini_and_entropy(spark):
    """Hand-checked mix diagnostics: a perfectly balanced 2-source mix
    has entropy ln(2) and Gini 0; a fully concentrated mix has entropy
    ~0 and Gini (n-1)/n; the Gini numerator terms are exact integers
    that assemble to G = sum(gini_num) / (n * total)."""
    import math

    from petastorm_spark.operators.sampling_extra import source_mix_report

    def report(tokens_by_source):
        rows = {"doc_id": [], "source": [], "text": []}
        i = 0
        for src, n in tokens_by_source.items():
            rows["doc_id"].append(i); i += 1
            rows["source"].append(src)
            rows["text"].append(" ".join(["tok"] * n))
        df = arrow_local_df(
            spark, rows, "doc_id bigint, source string, text string"
        )
        return source_mix_report(df, "text", "source").collect()

    bal = report({"a": 10, "b": 10})
    ent = sum(r["ent_term"] for r in bal)
    gini = sum(int(r["gini_num"]) for r in bal) / (2 * 20)
    assert math.isclose(ent, math.log(2), abs_tol=2e-6)
    assert gini == 0.0
    assert all(r["token_share"] == 0.5 for r in bal)

    skew = report({"a": 99, "b": 1})
    ent_s = sum(r["ent_term"] for r in skew)
    gini_s = sum(int(r["gini_num"]) for r in skew) / (2 * 100)
    assert ent_s < 0.1
    assert math.isclose(gini_s, 0.49, abs_tol=1e-9)  # (n-1)/n * 98/100


def test_rank_mrr_hand_computed(spark):
    """MRR mechanics: true neighbor at approx rank 1 -> rr 1.0, at
    rank 3 -> 1/3, absent -> rr 0.0 with NULL rank."""
    from petastorm_spark.operators.similarity import rank_mrr_report

    def ranking(rows):
        return arrow_local_df(
            spark,
            {
                "query_id": [r[0] for r in rows],
                "neighbor_id": [r[1] for r in rows],
                "rank": [r[2] for r in rows],
            },
            "query_id bigint, neighbor_id bigint, rank int",
        )

    exact = ranking([(1, 10, 1), (1, 11, 2), (2, 20, 1), (3, 30, 1)])
    approx = ranking(
        [(1, 10, 1), (1, 99, 2), (2, 98, 1), (2, 97, 2), (2, 20, 3),
         (3, 96, 1), (3, 95, 2)]
    )
    rows = {
        r["query_id"]: r
        for r in rank_mrr_report(exact, approx, k=3).collect()
    }
    assert rows[1]["rr"] == 1.0 and rows[1]["rank_in_approx"] == 1
    assert rows[2]["rr"] == round(1 / 3, 6) and rows[2]["rank_in_approx"] == 3
    assert rows[3]["rr"] == 0.0 and rows[3]["rank_in_approx"] is None
    assert rows[1]["rel_id"] == 10


def test_manifest_diff_statuses(spark):
    """All four statuses: same, changed (digest moved), added (only in
    B), removed (only in A); null-safe on the partition key."""
    from petastorm_spark.operators.layout import (
        manifest_diff,
        partition_digests,
    )

    a_src = arrow_local_df(
        spark,
        {"p": ["x", "y", None], "v": [1, 2, 3]},
        "p string, v bigint",
    )
    b_src = arrow_local_df(
        spark,
        {"p": ["x", "z", None], "v": [1, 9, 4]},
        "p string, v bigint",
    )
    d = manifest_diff(
        partition_digests(a_src, ["p"]),
        partition_digests(b_src, ["p"]),
        ["p"],
    )
    got = {r["p"]: r["status"] for r in d.collect()}
    assert got == {
        "x": "same",
        "y": "removed",
        "z": "added",
        None: "changed",
    }


def test_curation_l_div_stage(spark):
    """The opt-in l-diversity stage: after k-anonymity passes, a class
    homogeneous in the sensitive column is suppressed; requires the QI
    columns; the attrition report carries the stage."""
    import pytest as _pytest

    from petastorm_spark.operators.pipeline import (
        curate_corpus,
        curation_report,
    )

    df = arrow_local_df(
        spark,
        {
            "doc_id": list(range(8)),
            "text": [f"clean document number {i} with words" for i in range(8)],
            "grp": ["a"] * 4 + ["b"] * 4,
            "sens": [1, 1, 1, 1, 1, 2, 3, 4],
        },
        "doc_id bigint, text string, grp string, sens bigint",
    )
    stages = curate_corpus(
        df, "text", "doc_id",
        quality_floor=0.0,
        k_anon_cols=["grp"], k_anon_k=2,
        l_div_sensitive="sens", l_div_l=2,
    )
    out = stages["output"].select("grp").collect()
    assert {r["grp"] for r in out} == {"b"}  # class a is homogeneous
    assert "l_div" in stages
    rep = {r["stage"]: r["n_rows"] for r in curation_report(stages).collect()}
    assert rep["k_anon"] == 8 and rep["l_div"] == 4

    with _pytest.raises(ValueError, match="k_anon_cols"):
        curate_corpus(df, "text", "doc_id", l_div_sensitive="sens")
