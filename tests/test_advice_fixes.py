"""Regression tests for the round-1 ADVICE findings."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from petastorm_spark.codecs import NdarrayCodec, ScalarCodec
from petastorm_spark.etl.dataset_metadata import materialize_dataset
from petastorm_spark.predicates import (
    _spark_cast_string,
    in_lambda,
    in_pseudorandom_split,
)
from petastorm_spark.reader import make_reader
from petastorm_spark.unischema import Unischema, UnischemaField, dict_to_spark_row


@pytest.fixture(scope="module")
def many_rowgroup_ds(spark, tmp_path_factory):
    url = str(tmp_path_factory.mktemp("shardds") / "ds")
    # 16 files -> >= 16 row groups, ids recoverable per row
    spark.range(1600).repartition(16).write.parquet(url)
    return url


def test_shards_disjoint_under_unseeded_shuffle(spark, many_rowgroup_ds):
    """ADVICE high: shard AFTER shuffle with per-worker RNGs made shards
    overlap/drop. Sharding is now index-based before the shuffle."""
    seen = []
    for shard in range(3):
        with make_reader(
            many_rowgroup_ds,
            spark=spark,
            shuffle_row_groups=True,  # no seed on purpose
            cur_shard=shard,
            shard_count=3,
        ) as r:
            seen.append({row.id for row in r})
    assert seen[0] | seen[1] | seen[2] == set(range(1600))
    assert not (seen[0] & seen[1] or seen[0] & seen[2] or seen[1] & seen[2])


def test_cur_shard_validated(spark, many_rowgroup_ds):
    with pytest.raises(ValueError, match="cur_shard"):
        make_reader(many_rowgroup_ds, spark=spark, cur_shard=3, shard_count=3)
    with pytest.raises(ValueError, match="cur_shard"):
        make_reader(many_rowgroup_ds, spark=spark, cur_shard=-1, shard_count=3)


def test_unischema_none_dtype_sidecar_roundtrip(spark):
    """ADVICE medium: numpy_dtype=None serialized as float64 (np.dtype(None))."""
    df = spark.createDataFrame(
        [(1, {"a": 2})], "id bigint, s struct<a:bigint>"
    )
    sch = Unischema.from_spark_schema(df.schema)
    assert sch.fields["s"].numpy_dtype is None
    js = sch.to_json()
    assert js["fields"][1]["numpy_dtype"] is None
    back = Unischema.from_json(js)
    assert back.fields["s"].numpy_dtype is None
    assert back.fields["s"] == sch.fields["s"]


def test_predicate_sees_decoded_tensor_values(spark, tmp_path):
    """ADVICE medium: in_lambda over a codec'd field must receive decoded
    ndarrays, not np.save bytes (reference two-phase load)."""
    schema = Unischema(
        "S",
        [
            UnischemaField("id", np.int64, (), ScalarCodec(IntegerType()), False),
            UnischemaField("vec", np.float32, (4,), NdarrayCodec(), False),
        ],
    )
    url = str(tmp_path / "predds")
    rows = [
        {"id": i, "vec": np.full((4,), float(i), dtype=np.float32)}
        for i in range(20)
    ]
    with materialize_dataset(spark, url, schema):
        spark.createDataFrame(
            [dict_to_spark_row(schema, r) for r in rows],
            schema.as_spark_schema(),
        ).coalesce(1).write.mode("overwrite").parquet(url)

    seen_types = []

    def pred(cols):
        vals = list(cols["vec"])
        seen_types.extend(type(v) for v in vals)
        return np.array([v.sum() >= 40 for v in vals])

    with make_reader(
        url, spark=spark, predicate=in_lambda(["vec"], pred)
    ) as r:
        got = sorted(row.id for row in r)
    assert got == list(range(10, 20))
    assert seen_types and all(t is np.ndarray for t in seen_types)


def test_pseudorandom_split_bool_timestamp_parity(spark):
    """ADVICE low: pandas path hashed str(v) ('True'), Spark path
    hashes cast-to-string ('true') — subsets disagreed for booleans."""
    pdf = pd.DataFrame(
        {
            "flag": [True, False] * 10,
            "ts": pd.to_datetime(
                ["2021-03-04 05:06:07.125000", "2021-03-04 05:06:07"] * 10,
                format="mixed",
            ),
        }
    )
    df = spark.createDataFrame(pdf)
    for field in ("flag", "ts"):
        for idx in range(2):
            pred = in_pseudorandom_split([0.5, 0.5], idx, field)
            spark_n = df.filter(pred.to_column()).count()
            pandas_n = int(pred.do_include_pandas(pdf).sum())
            assert spark_n == pandas_n, (field, idx)


def test_spark_cast_string_rendering():
    assert _spark_cast_string(True) == "true"
    assert _spark_cast_string(np.bool_(False)) == "false"
    assert (
        _spark_cast_string(pd.Timestamp("2021-03-04 05:06:07.125000"))
        == "2021-03-04 05:06:07.125"
    )
    assert (
        _spark_cast_string(pd.Timestamp("2021-03-04 05:06:07"))
        == "2021-03-04 05:06:07"
    )
    assert _spark_cast_string(np.int64(7)) == "7"


# ---------------------------------------------------------------------------
# Round-2 ADVICE findings
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def nullable_ds(spark, tmp_path_factory):
    url = str(tmp_path_factory.mktemp("nullds") / "ds")
    spark.createDataFrame(
        [(i, None if i % 3 == 0 else i % 7) for i in range(90)],
        "id bigint, x int",
    ).coalesce(1).write.parquet(url)
    return url


def test_dnf_neq_null_semantics(spark, nullable_ds):
    """ADVICE medium: pandas `s != val` keeps NaN rows, so the direct
    tier returned MORE rows than the Spark plan tier for '!='/'not in'.
    Both tiers must drop nulls (SQL / pyarrow semantics)."""
    from petastorm_spark.reader import make_batch_reader

    for filters in ([("x", "!=", 5)], [("x", "not in", [5, 6])]):
        with make_batch_reader(nullable_ds, spark=spark, filters=filters) as r:
            assert r._direct_root is not None  # direct tier engaged
            direct_ids = sorted(
                int(i) for batch in r for i in np.asarray(batch.id).ravel()
            )
        plan_ids = sorted(
            row.id
            for row in spark.read.parquet(nullable_ds)
            .filter(
                F.col("x") != 5
                if filters[0][1] == "!="
                else ~F.col("x").isin(5, 6)
            )
            .collect()
        )
        assert direct_ids == plan_ids, filters
        assert all(i % 3 != 0 for i in direct_ids)  # null rows dropped


def test_converter_shard_consistency_single_world(monkeypatch):
    """ADVICE medium: torchrun exports RANK=0/WORLD_SIZE=1 for plain
    single-process runs; an unsharded reader must not raise."""
    from petastorm_spark.converter import _check_shard_consistency

    monkeypatch.setenv("RANK", "0")
    monkeypatch.setenv("WORLD_SIZE", "1")
    _check_shard_consistency({})  # no raise
    _check_shard_consistency({"cur_shard": None, "shard_count": None})
    _check_shard_consistency({"cur_shard": 0, "shard_count": 1})  # consistent
    # ADVICE r3 low: an EXPLICIT mismatch must still raise in a world
    # of one — shard_count=8 here silently reads 1/8 of the dataset
    with pytest.raises(ValueError, match="inconsistent"):
        _check_shard_consistency({"cur_shard": 0, "shard_count": 8})


def test_converter_shard_consistency_omitted_warns(monkeypatch):
    """Deliberate unsharded read in a multi-worker world: warn like the
    reference, don't forbid."""
    from petastorm_spark.converter import _check_shard_consistency

    monkeypatch.setenv("RANK", "1")
    monkeypatch.setenv("WORLD_SIZE", "2")
    with pytest.warns(UserWarning, match="unsharded"):
        _check_shard_consistency({})
    # explicit but WRONG values still hard-fail
    with pytest.raises(ValueError, match="inconsistent"):
        _check_shard_consistency({"cur_shard": 0, "shard_count": 4})
    # correct values pass silently
    _check_shard_consistency({"cur_shard": 1, "shard_count": 2})


def test_selective_dnf_filter_allows_empty_shards(spark, tmp_path_factory):
    """ADVICE low: stats pruning ran before the shard_count check, so a
    selective filter could turn a valid sharded read into a ValueError.
    shard_count now validates against the UNPRUNED piece count."""
    from petastorm_spark.reader import make_batch_reader

    url = str(tmp_path_factory.mktemp("pruneshard") / "ds")
    # 8 files; filter keeps only ids < 100 (1 file survives pruning)
    spark.range(800).repartition(8).write.parquet(url)
    got = set()
    for shard in range(8):
        with make_batch_reader(
            url,
            spark=spark,
            filters=[("id", "<", 100)],
            cur_shard=shard,
            shard_count=8,
        ) as r:
            for batch in r:
                got.update(int(i) for i in np.asarray(batch.id).ravel())
    assert got == set(range(100))


def test_dedup_stream_drops_helper_columns(spark, sf_dir):
    """ADVICE low: _digest leaked into the dedup_stream output schema."""
    from petastorm_spark.streaming.feed import dedup_stream

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .withColumn("created_at", F.lit(1_600_000_000_000_000_000))
    )
    assert "_digest" not in dedup_stream(docs, "text").columns
    assert "_digest" not in dedup_stream(docs, "text", ts_col="created_at").columns


def test_cache_eviction_skips_live_reader(tmp_path):
    """ADVICE low: eviction could delete a managed subdir another live
    reader was iterating. Live same-host sentinels now pin the dir."""
    import os

    from petastorm_spark.reader import _enforce_cache_limit

    cache = tmp_path / "cache"
    live, dead = cache / "_ps_materialized_live", cache / "_ps_materialized_dead"
    for d in (live, dead):
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x" * 1024)
    (live / f".ps_inuse_{os.getpid()}").touch()
    (dead / ".ps_inuse_999999999").touch()  # stale pid: not pinned
    os.utime(dead, (1, 1))
    os.utime(live, (2, 2))
    keep = cache / "_ps_materialized_keep"
    keep.mkdir()
    _enforce_cache_limit(str(cache), limit_bytes=512, keep=str(keep))
    assert live.is_dir()  # pinned by live sentinel despite limit
    assert not dead.is_dir()  # stale sentinel did not protect it


def test_cache_sentinel_foreign_host_and_ttl(tmp_path):
    """ADVICE r3 low: on a shared filesystem a pid probe can't see
    readers on other hosts, and a recycled pid could pin forever.
    Sentinels are mtime leases: fresh foreign-host leases pin, expired
    leases (any host, even a live local pid) do not."""
    import os
    import time

    from petastorm_spark.reader import _SENTINEL_TTL_SEC, _cache_dir_in_use

    d = tmp_path / "_ps_materialized_x"
    d.mkdir()
    assert not _cache_dir_in_use(str(d))

    foreign = d / ".ps_inuse_12345@other-host"
    foreign.touch()
    assert _cache_dir_in_use(str(d))  # fresh foreign lease: trusted

    old = time.time() - _SENTINEL_TTL_SEC - 60
    os.utime(foreign, (old, old))
    assert not _cache_dir_in_use(str(d))  # expired foreign lease
    foreign.unlink()

    import socket

    local = d / f".ps_inuse_{os.getpid()}@{socket.gethostname()}"
    local.touch()
    assert _cache_dir_in_use(str(d))  # live pid + fresh lease
    os.utime(local, (old, old))
    # expired lease loses the pin even though the pid is alive
    # (recycled-pid defense; real readers refresh the lease in __iter__)
    assert not _cache_dir_in_use(str(d))


# --------------------------------------------------------------------------
# round-9 ADVICE findings
# --------------------------------------------------------------------------


def test_incremental_near_dup_never_self_matches(spark, sf_dir):
    """ADVICE r8: probing a batch whose ids overlap the index silently
    emitted (id, id, 1.0) self-pairs. The candidate join now drops
    new_id == old_id, so re-probing indexed documents yields only
    genuine cross-document matches."""
    from petastorm_spark.operators.dedup import (
        incremental_near_dup,
        lsh_index_build,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    buckets, sigs = lsh_index_build(corpus, "text", "doc_id")
    # probe the EXACT indexed batch back against its own index
    pairs = incremental_near_dup(
        corpus, buckets, sigs, "text", "doc_id", min_est=0.5
    ).collect()
    assert all(r.new_id != r.old_id for r in pairs)


def test_lsh_index_append_refuses_duplicate_ids(spark, sf_dir, tmp_path_factory):
    """ADVICE r8: appending a batch with an already-indexed id planted
    permanent duplicate bucket/signature rows. The append now
    semi-joins batch ids against the persisted signatures and raises."""
    import pytest as _pytest

    from petastorm_spark.operators.dedup import (
        lsh_index_append,
        lsh_index_build,
        lsh_index_write,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    url = str(tmp_path_factory.mktemp("lshidx") / "idx")
    buckets, sigs = lsh_index_build(corpus, "text", "doc_id")
    lsh_index_write(url, buckets, sigs)

    # fresh ids append fine
    fresh = corpus.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    fb, fs = lsh_index_build(fresh, "text", "doc_id")
    lsh_index_append(url, fb, fs)

    # overlapping ids are refused (and the message counts them)
    with _pytest.raises(ValueError, match="already exist"):
        lsh_index_append(url, buckets, sigs)


def test_postings_volume_estimator_tracks_exact(spark, sf_dir):
    """ADVICE r8: jaccard_pairs paid a full corpus tokenize pass just
    to choose a plan. The chooser now samples docs above a size cutoff;
    the Binomial-corrected estimator must track the exact sum(df^2)
    closely enough to pick the same regime (budgets differ by orders
    of magnitude, so a small relative error never flips a sane one)."""
    from petastorm_spark.operators.dedup import (
        estimate_postings_volume,
        exploded_shingles,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    exact = estimate_postings_volume(docs, "text", "doc_id", 3)
    truth = (
        exploded_shingles(docs, "text", "doc_id", 3)
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .agg(F.sum(F.col("_df") * F.col("_df")))
        .collect()[0][0]
    )
    assert exact == float(truth)  # at-or-under-cutoff corpora: exact

    n = docs.count()
    sampled = estimate_postings_volume(
        docs, "text", "doc_id", 3, sample_docs=max(2, n // 2)
    )
    # inflate=1.25 biases high on purpose; allow sampling noise around it
    assert 0.4 * truth <= sampled <= 4.0 * truth


def test_lsh_index_append_id_col_from_index_not_batch_order(
    spark, sf_dir, tmp_path_factory
):
    """ADVICE r9: the duplicate-id guard took the BATCH's first column
    as the id — a column-reordered signatures frame semi-joined on a
    minhash column. The id now comes from the persisted index's schema
    (written id-first), with an explicit id_col override + validation."""
    from petastorm_spark.operators.dedup import (
        lsh_index_append,
        lsh_index_build,
        lsh_index_write,
    )

    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    url = str(tmp_path_factory.mktemp("lshidx2") / "idx")
    buckets, sigs = lsh_index_build(corpus, "text", "doc_id")
    lsh_index_write(url, buckets, sigs)

    # duplicate batch with columns REORDERED (mh_* first): still refused
    reordered = sigs.select(*[c for c in sigs.columns if c != "doc_id"], "doc_id")
    with pytest.raises(ValueError, match="already exist"):
        lsh_index_append(url, buckets, reordered)

    # a bogus explicit id_col is rejected with guidance, not mis-joined
    with pytest.raises(ValueError, match="id_col"):
        lsh_index_append(url, buckets, sigs, id_col="no_such_col")


def test_probe_cells_zero_norm_handling(spark):
    """ADVICE r9: a zero-norm CENTROID made numpy rank NaN cosines
    differently than Spark/DuckDB — now refused outright; a zero-norm
    VECTOR (all cells tie) assigns to the lowest cells on both the
    numpy path and the Catalyst fallback semantics (tie -> cell ASC)."""
    from petastorm_spark.operators.similarity import _probe_cells_numpy
    from petastorm_spark.session import arrow_local_df

    corpus = arrow_local_df(
        spark,
        {
            "vec_id": [0, 1, 2, 3],
            "embedding": [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [0.0, 0.0]],
        },
        "vec_id bigint, embedding array<double>",
    )

    class Row(dict):
        def __getitem__(self, k):
            return dict.__getitem__(self, k)

    good = [Row(cell=0, cent_vec=[1.0, 0.0]), Row(cell=1, cent_vec=[0.0, 1.0])]
    out = {
        r.vec_id: list(r._cells)
        for r in _probe_cells_numpy(corpus, good, "vec_id", "embedding", 1).collect()
    }
    assert out[0] == [0] and out[1] == [1]
    # zero-norm vector: every cosine NaN -> -inf, all tie -> lowest cell
    assert out[3] == [0]

    bad = [Row(cell=0, cent_vec=[0.0, 0.0]), Row(cell=1, cent_vec=[0.0, 1.0])]
    with pytest.raises(ValueError, match="zero-norm centroid"):
        _probe_cells_numpy(corpus, bad, "vec_id", "embedding", 1).collect()


# One zero vector, given the HIGHEST id: the default quantizers take
# the lowest-id vectors as centroids and codebooks, and a zero-norm
# centroid is refused by design (test above).
_ZERO_ID = 23
_ZERO_QUERIES = (0, 5, _ZERO_ID)


@pytest.fixture(scope="module")
def zero_vector_corpus(spark):
    from petastorm_spark.session import arrow_local_df

    vecs = np.random.default_rng(11).standard_normal((_ZERO_ID + 1, 8)).tolist()
    vecs[_ZERO_ID] = [0.0] * 8
    return arrow_local_df(
        spark,
        {
            "vec_id": list(range(_ZERO_ID + 1)),
            "embedding": vecs,
            "label": [i % 3 for i in range(_ZERO_ID + 1)],
        },
        "vec_id bigint, embedding array<double>, label int",
    )


def _zero_vector_search(name, df, q):
    from petastorm_spark.operators import similarity as S

    if name == "cosine_topk":
        return S.cosine_topk(df, q, k=3)
    if name == "cosine_topk_lsh":
        return S.cosine_topk_lsh(df, q, dim=8, k=3, n_planes=1)
    if name == "cosine_topk_multiprobe":
        return S.cosine_topk_multiprobe(df, q, dim=8, k=3, n_planes=2)
    if name == "cosine_topk_ivf":
        return S.cosine_topk_ivf(df, q, k=3, n_cells=4)
    if name == "cosine_topk_sq8":
        return S.cosine_topk_sq8(df, q, k=3)
    if name == "cosine_topk_pq":
        return S.cosine_topk_pq(df, q, k=3, dim=8, m=4, k_codes=4)
    if name == "cosine_topk_ivfpq":
        return S.cosine_topk_ivfpq(df, q, k=3, dim=8, n_cells=4, m=4, k_codes=4)
    if name == "cosine_topk_prefix":
        return S.cosine_topk_prefix(df, q, k=3, prefix_dim=4)
    if name == "ivf_query":
        return S.ivf_query(*S.ivf_build(df, n_cells=4), q, k=3)
    if name == "pq_query":
        books = S.pq_codebooks(df, dim=8, m=4, k_codes=4)
        return S.pq_query(books, S.pq_encode(df, books), df, q, k=3)
    if name == "ivfpq_query":
        cent, books, coded = S.ivfpq_build(df, dim=8, n_cells=4, m=4, k_codes=4)
        return S.ivfpq_query(cent, books, coded, df, q, k=3)
    if name == "prefix_query":
        prefix = df.select("vec_id", F.slice("embedding", 1, 4).alias("prefix"))
        return S.prefix_query(prefix, df, q, k=3, prefix_dim=4)
    if name == "hard_negative_mining":
        return S.hard_negative_mining(df, q, k=3)
    assert name == "embedding_near_dup_pairs"
    return S.embedding_near_dup_pairs(df, dim=8, threshold=0.3, n_planes=1)


@pytest.mark.parametrize(
    "name",
    [
        "cosine_topk",
        "cosine_topk_lsh",
        "cosine_topk_multiprobe",
        "cosine_topk_ivf",
        "cosine_topk_sq8",
        "cosine_topk_pq",
        "cosine_topk_ivfpq",
        "cosine_topk_prefix",
        "ivf_query",
        "pq_query",
        "ivfpq_query",
        "prefix_query",
        "hard_negative_mining",
        "embedding_near_dup_pairs",
    ],
)
def test_zero_vector_never_wins_any_search(spark, zero_vector_corpus, name):
    """A zero-norm vector in the corpus and among the queries: under
    ANSI every search path runs (the unguarded cosine raised
    DIVIDE_BY_ZERO), the zero vector is never a non-zero query's
    nearest neighbor, and every row a zero query gets scores -inf."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    df = zero_vector_corpus
    q = df.where(F.col("vec_id").isin(*_ZERO_QUERIES))
    rows = _zero_vector_search(name, df, q).collect()
    assert rows
    if name == "embedding_near_dup_pairs":
        assert all(_ZERO_ID not in (r["id_a"], r["id_b"]) for r in rows)
        return
    top1 = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
    assert {0, 5} <= set(top1) and _ZERO_ID not in {top1[0], top1[5]}
    assert all(
        r["cos_sim"] == float("-inf") for r in rows if r["query_id"] == _ZERO_ID
    )
    if name == "cosine_topk":
        nz = df.where(F.col("vec_id") != _ZERO_ID)
        clean = _zero_vector_search(name, nz, q.where(F.col("vec_id") != _ZERO_ID))
        assert sorted(r for r in rows if r["query_id"] != _ZERO_ID) == sorted(
            clean.collect()
        )


def test_ivf_build_catalyst_fallback_assigns_zero_vector_like_numpy(
    spark, zero_vector_corpus, monkeypatch
):
    """Past the local-matrix bound ivf_build assigns cells with a
    broadcast join and a max(struct(cos, -cell)) argmax. A zero-norm
    vector scores -inf against every cell there, so it lands in the
    lowest cell, as on the numpy path."""
    from petastorm_spark.operators import similarity as S

    df = zero_vector_corpus.select("vec_id", "embedding")
    crows = df.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cell"), F.col("embedding").alias("cent_vec")
    ).collect()
    numpy_cells = {
        r["vec_id"]: r["_cells"][0]
        for r in S._probe_cells_numpy(df, crows, "vec_id", "embedding", 1).collect()
    }
    monkeypatch.setattr(S, "_MAX_LOCAL_CELLS", 0)
    _, assigned = S.ivf_build(df, n_cells=4)
    fallback_cells = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    assert numpy_cells[_ZERO_ID] == 0
    assert fallback_cells == numpy_cells


def test_null_text_embedding_searches_end_to_end(spark):
    """feature_hash_embed maps NULL text to the all-zero vector; the
    "embed, then search" chain must rank that document last rather
    than fail the whole search."""
    from petastorm_spark.operators.similarity import cosine_topk
    from petastorm_spark.operators.text import feature_hash_embed
    from petastorm_spark.session import arrow_local_df

    docs = arrow_local_df(
        spark,
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["red apple pie", "red apple tart", "blue sky", None],
        },
        "doc_id bigint, text string",
    )
    emb = feature_hash_embed(docs, "text", "doc_id", dim=16)
    rows = cosine_topk(emb, emb, id_col="doc_id", k=3).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
    assert top1[1] == 2 and top1[2] == 1 and top1[3] != 4
    assert [r["cos_sim"] for r in rows if r["query_id"] == 4] == [float("-inf")] * 3


def test_semantic_dedup_registers_releasable_cache(spark):
    """ADVICE r9: semantic_dedup persisted its unit-vector table and
    never unpersisted — the cache is now registered for
    session.release_persisted(), which frees it after consumption."""
    from petastorm_spark.operators.similarity import semantic_dedup
    from petastorm_spark.session import arrow_local_df, release_persisted

    rng = np.random.default_rng(5)
    vecs = [[float(x) for x in rng.standard_normal(8)] for _ in range(40)]
    corpus = arrow_local_df(
        spark,
        {"vec_id": list(range(40)), "embedding": vecs},
        "vec_id bigint, embedding array<double>",
    )
    jsc = spark.sparkContext._jsc  # JavaSparkContext: java.util.Map

    def rdd_ids():
        return {int(k) for k in jsc.getPersistentRDDs().keySet().toArray()}

    release_persisted()  # drain any leftovers from other tests
    spark.catalog.clearCache()  # other tests cache frames of their own
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = rdd_ids()
    out = semantic_dedup(corpus, n_cells=4, threshold=0.99)
    out.count()  # consume
    assert not cache.isEmpty()  # the unit table is cached ...
    assert rdd_ids() - before  # ... and its blocks are resident
    assert release_persisted() >= 1
    assert cache.isEmpty()
    assert rdd_ids() - before == set()


def test_dp_group_release_stability_threshold(spark):
    """r13 ADVICE medium: over an unbounded key domain the bare
    release leaks group PRESENCE. delta= enables the stability
    histogram: groups whose noisy count falls under
    1 + ln(1/(2*delta))/eps are withheld."""
    import math

    from petastorm_spark.operators.privacy import dp_group_release

    from petastorm_spark.session import arrow_local_df

    df = arrow_local_df(
        spark,
        {
            "g": ["common"] * 200 + ["rare"],
            "v": [1.0] * 201,
        },
        "g string, v double",
    )
    eps, delta = 1.0, 1e-6
    out = dp_group_release(df, "g", epsilon=eps, seed=0, delta=delta)
    rows = {r["g"]: r["noisy_count"] for r in out.collect()}
    tau = 1.0 + math.log(1.0 / (2.0 * delta)) / eps
    # the singleton group cannot beat the ~14.8 threshold except with
    # probability <= delta; the 200-count group always survives
    assert "rare" not in rows
    assert rows["common"] >= tau
    # delta=None keeps the old (known-domain) behavior: both released
    both = dp_group_release(df, "g", epsilon=eps, seed=0)
    assert both.count() == 2
    with pytest.raises(ValueError):
        dp_group_release(df, "g", epsilon=eps, delta=1.5)


def test_t_closeness_rejects_nan_sensitive(spark):
    """r13 ADVICE low: NaN sensitive values break Python sorted()'s
    total order while Spark windows order NaN last — they are now
    excluded like NULL, so the report matches the NaN-free twin."""
    from petastorm_spark.operators.privacy import t_closeness_report

    from petastorm_spark.session import arrow_local_df

    clean = arrow_local_df(
        spark,
        {"qi": ["a", "a", "b", "b"], "s": [1.0, 2.0, 1.0, 2.0]},
        "qi string, s double",
    )
    dirty = arrow_local_df(
        spark,
        {
            "qi": ["a", "a", "b", "b", "a", "b"],
            "s": [1.0, 2.0, 1.0, 2.0, float("nan"), float("nan")],
        },
        "qi string, s double",
    )
    want = sorted(map(tuple, t_closeness_report(clean, ["qi"], "s").collect()))
    got = sorted(map(tuple, t_closeness_report(dirty, ["qi"], "s").collect()))
    assert got == want


def test_source_mix_report_null_token_mass_ranks_last(spark):
    """r13 ADVICE low: a group whose docs all have NULL text has
    n_tokens=NULL; Spark ASC would rank it FIRST while DuckDB ranks
    NULLS LAST, shifting every Gini term. Pinned to NULLS LAST."""
    from petastorm_spark.operators.sampling_extra import source_mix_report

    from petastorm_spark.session import arrow_local_df

    df = arrow_local_df(
        spark,
        {
            "source": ["nulls", "nulls", "tiny", "big", "big"],
            "text": [None, None, "one two", "a b c d", "e f g h"],
        },
        "source string, text string",
    )
    out = {
        r["source"]: r for r in source_mix_report(df, "text", "source").collect()
    }
    # gini_num = (2*rank - n_groups - 1) * n_tokens with n_groups=3:
    # NULLS LAST puts tiny at rank 1 (coeff -2 -> -4) and big at
    # rank 2 (coeff 0 -> 0); NULLS FIRST would give tiny 0 and big 16
    assert out["tiny"]["gini_num"] == "-4"
    assert out["big"]["gini_num"] == "0"
