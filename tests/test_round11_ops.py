"""Round-11: distributed PQ/IVF-PQ query-side (no driver collect,
native id/cell types through the ADC path), index-URL resolution
errors, and WebDataset hardening (atomic shard writes, non-regular
member skip, chunked extraction)."""
from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from petastorm_spark.session import arrow_local_df


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(23)
    n, dim = 120, 16
    V = rng.standard_normal((n, dim))
    return arrow_local_df(
        spark,
        {"vec_id": list(range(n)), "embedding": [list(map(float, v)) for v in V]},
        "vec_id bigint, embedding array<double>",
    )


@pytest.fixture(scope="module")
def corpus_str(spark):
    """Same vectors as ``corpus`` but with uuid-style STRING ids — the
    id-type-agnosticism fixture (the round-6 connected-components
    lesson, re-applied to the PQ family)."""
    rng = np.random.default_rng(23)
    n, dim = 120, 16
    V = rng.standard_normal((n, dim))
    ids = [f"doc-{i:04d}-beef" for i in range(n)]
    return arrow_local_df(
        spark,
        {"vec_id": ids, "embedding": [list(map(float, v)) for v in V]},
        "vec_id string, embedding array<double>",
    )


def _pairs(df):
    return sorted((r["query_id"], r["neighbor_id"], r["rank"]) for r in df.collect())


def test_pq_query_string_ids(spark, corpus, corpus_str):
    """pq_query must work end-to-end with string/uuid query AND corpus
    ids; neighbors must agree with the bigint-id run row for row."""
    from petastorm_spark.operators.similarity import cosine_topk_pq

    q_int = corpus.orderBy("vec_id").limit(6)
    q_str = corpus_str.orderBy("vec_id").limit(6)
    got_int = _pairs(cosine_topk_pq(corpus, q_int, dim=16, m=4, k_codes=8, k=3))
    got_str = _pairs(cosine_topk_pq(corpus_str, q_str, dim=16, m=4, k_codes=8, k=3))
    assert len(got_str) == len(got_int) > 0
    # same vectors, ids map i <-> f"doc-{i:04d}-beef": results must align
    remap = [(f"doc-{q:04d}-beef", f"doc-{n:04d}-beef", rk) for q, n, rk in got_int]
    assert sorted(remap) == got_str


def test_ivfpq_query_string_ids(spark, corpus, corpus_str):
    from petastorm_spark.operators.similarity import cosine_topk_ivfpq

    q_int = corpus.orderBy("vec_id").limit(6)
    q_str = corpus_str.orderBy("vec_id").limit(6)
    kw = dict(dim=16, n_cells=8, n_probe=2, m=4, k_codes=8, k=3)
    got_int = _pairs(cosine_topk_ivfpq(corpus, q_int, **kw))
    got_str = _pairs(cosine_topk_ivfpq(corpus_str, q_str, **kw))
    assert len(got_str) == len(got_int) > 0
    remap = [(f"doc-{q:04d}-beef", f"doc-{n:04d}-beef", rk) for q, n, rk in got_int]
    assert sorted(remap) == got_str


def test_pq_query_side_is_distributed(spark, corpus):
    """Plan-pin the round-11 contract: the PQ query side is a
    mapInPandas over the queries DataFrame (ADC tables built on
    executors), NOT a driver-collected local relation."""
    from petastorm_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
        pq_query,
    )

    cb = pq_codebooks(corpus, dim=16, m=4, k_codes=8)
    coded = pq_encode(corpus, cb)
    q = corpus.limit(5)
    plan = pq_query(cb, coded, corpus, q, k=3)._jdf.queryExecution().toString()
    assert "MapInPandas" in plan
    # the old driver-built path surfaced the query table as a scanned
    # LocalRelation/LocalTableScan of _tbl; the ADC column must now be
    # produced by the python map, not scanned from a local relation
    for ln in plan.splitlines():
        if "LocalTableScan" in ln or "LocalRelation" in ln:
            assert "_tbl" not in ln


def test_ivfpq_query_side_is_distributed(spark, corpus):
    from petastorm_spark.operators.similarity import ivfpq_build, ivfpq_query

    cent, cb, coded = ivfpq_build(corpus, dim=16, n_cells=8, m=4, k_codes=8)
    q = corpus.limit(5)
    plan = ivfpq_query(
        cent, cb, coded, corpus, q, k=3, n_probe=2
    )._jdf.queryExecution().toString()
    assert "MapInPandas" in plan
    for ln in plan.splitlines():
        if "LocalTableScan" in ln or "LocalRelation" in ln:
            assert "_tbl" not in ln


def test_pq_broadcast_queries_off_matches(spark, corpus):
    """broadcast_queries=False (the unbounded-query-side regime) must
    produce identical results via whatever join strategy AQE picks."""
    from petastorm_spark.operators.similarity import (
        ivfpq_build,
        ivfpq_query,
        pq_codebooks,
        pq_encode,
        pq_query,
    )

    cb = pq_codebooks(corpus, dim=16, m=4, k_codes=8)
    coded = pq_encode(corpus, cb)
    q = corpus.limit(6)
    on = _pairs(pq_query(cb, coded, corpus, q, k=3))
    off = _pairs(pq_query(cb, coded, corpus, q, k=3, broadcast_queries=False))
    assert on == off

    cent, cb2, coded2 = ivfpq_build(corpus, dim=16, n_cells=8, m=4, k_codes=8)
    on2 = _pairs(ivfpq_query(cent, cb2, coded2, corpus, q, k=3))
    off2 = _pairs(
        ivfpq_query(cent, cb2, coded2, corpus, q, k=3, broadcast_queries=False)
    )
    assert on2 == off2


def test_index_fs_unresolvable_url_raises_value_error(spark, corpus):
    """_index_fs names the URL instead of crashing with 'cannot unpack
    non-iterable NoneType' (round-11 advice)."""
    from petastorm_spark.operators.similarity import pq_index_read

    with pytest.raises(ValueError, match="nosuchscheme://"):
        pq_index_read(spark, "nosuchscheme://bucket/index")


# ---------------------------------------------------------------- webdataset


def _write_corpus_shards(spark, out_dir, n=8):
    from petastorm_spark.sources.webdataset import write_webdataset

    df = arrow_local_df(
        spark,
        {
            "k": [f"{i:05d}" for i in range(n)],
            "shard": [i % 2 for i in range(n)],
            "img": [bytes([i]) * 200 for i in range(n)],
            "label": [i * 10 for i in range(n)],
        },
        "k string, shard int, img binary, label bigint",
    )
    return write_webdataset(df, out_dir, key_col="k")


def test_webdataset_write_is_atomic_no_inprogress_left(spark, tmp_path_factory):
    import os

    out = str(tmp_path_factory.mktemp("wds_atomic"))
    n_shards = _write_corpus_shards(spark, out)
    names = sorted(os.listdir(out))
    assert n_shards == 2
    assert names == ["shard-000000.tar", "shard-000001.tar"]
    assert not [f for f in names if "inprogress" in f]


def test_webdataset_read_skips_non_regular_members(spark, tmp_path_factory):
    """Foreign-written shards may contain directory and symlink
    entries; the reader must skip them instead of crashing on
    extractfile(None)."""
    import tarfile

    from petastorm_spark.sources.webdataset import read_webdataset

    out = tmp_path_factory.mktemp("wds_foreign")
    with tarfile.open(str(out / "shard-000000.tar"), "w") as tar:
        d = tarfile.TarInfo("samples")
        d.type = tarfile.DIRTYPE
        tar.addfile(d)
        link = tarfile.TarInfo("alias.img")
        link.type = tarfile.SYMTYPE
        link.linkname = "00000.img"
        tar.addfile(link)
        real = tarfile.TarInfo("00000.img")
        payload = b"\x07" * 64
        real.size = len(payload)
        import io as _io

        tar.addfile(real, _io.BytesIO(payload))
    rows = read_webdataset(spark, str(out)).collect()
    assert [(r["key"], r["column"], bytes(r["payload"])) for r in rows] == [
        ("00000", "img", payload)
    ]


def test_webdataset_chunked_yield_bounds_task_memory(spark, tmp_path_factory):
    """A shard bigger than chunk_bytes must stream out in multiple
    chunks (unit: count generator flushes) and read back identically
    through Spark under an absurdly small chunk size."""
    from petastorm_spark.sources.webdataset import (
        _iter_tar_chunks,
        read_webdataset,
    )

    out = str(tmp_path_factory.mktemp("wds_chunks"))
    _write_corpus_shards(spark, out, n=8)
    # 8 samples x (200B img + json) across 2 shards; chunk at 256B
    chunks = list(_iter_tar_chunks(out + "/shard-000000.tar", 256))
    assert len(chunks) > 1  # actually flushed mid-shard
    assert sum(len(c) for c in chunks) == 8  # 4 samples x (img + json)

    full = read_webdataset(spark, out)
    tiny = read_webdataset(spark, out, chunk_bytes=1)
    canon = lambda df: sorted(  # noqa: E731
        (r["key"], r["column"], bytes(r["payload"])) for r in df.collect()
    )
    assert canon(full) == canon(tiny)
    assert len(canon(full)) == 16


def test_webdataset_read_plan_prunes_tar_content(spark, tmp_path_factory):
    """The binaryFile scan must read only `path` — the tar bytes never
    enter Spark rows (ReadSchema pins the column pruning)."""
    out = str(tmp_path_factory.mktemp("wds_prune"))
    _write_corpus_shards(spark, out)
    from petastorm_spark.sources.webdataset import read_webdataset

    plan = read_webdataset(spark, out)._jdf.queryExecution().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("content" not in ln for ln in scans)


def test_webdataset_scheme_translation_and_content_fallback(
    spark, tmp_path_factory, monkeypatch
):
    """Round-12 advice: URLs readable by Spark's Hadoop connectors but
    not by pyarrow must still read — (a) s3a/s3n translate to
    pyarrow's s3 scheme, (b) anything pyarrow can't resolve at all
    falls back to extracting from the binaryFile content column, with
    identical rows."""
    from petastorm_spark.sources import webdataset as wds

    assert wds._translate_scheme("s3a://bkt/p/x.tar") == "s3://bkt/p/x.tar"
    assert wds._translate_scheme("s3n://bkt/x") == "s3://bkt/x"
    assert wds._translate_scheme("abfss://c@a.dfs.core.windows.net/p").startswith(
        "abfss://"
    )
    assert wds._translate_scheme("/local/dir") == "/local/dir"

    out = str(tmp_path_factory.mktemp("wds_fallback"))
    _write_corpus_shards(spark, out)
    canon = lambda df: sorted(  # noqa: E731
        (r["key"], r["column"], bytes(r["payload"])) for r in df.collect()
    )
    want = canon(wds.read_webdataset(spark, out))
    assert len(want) == 16
    # simulate a Hadoop-only scheme: pyarrow resolution fails for the
    # directory, so the reader must take the content-column path
    from petastorm_spark import reader

    monkeypatch.setattr(reader, "_resolve_fs", lambda url: None)
    fallback = wds.read_webdataset(spark, out)
    plan = fallback._jdf.queryExecution().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("content" in ln for ln in scans)
    assert canon(fallback) == want


# -------------------------------------------------------------- reader tier


def test_transient_sidecar_failure_keeps_plan_tier(
    spark, sf_dir, monkeypatch
):
    """A JVM-reachable dataset whose read_sidecar call hiccups must
    KEEP the Spark plan tier (round-11 advice: the old single try
    around both reads dropped df to None, and a later Column filter
    failed with a misleading no-filesystem message). The sidecar is
    retried through pyarrow, so sidecar metadata still loads."""
    import petastorm_spark.etl.dataset_metadata as metadata_mod
    import petastorm_spark.reader as reader_mod

    url = f"{sf_dir}/lineitem.parquet"

    def boom(*a, **k):
        raise OSError("transient sidecar read failure")

    monkeypatch.setattr(metadata_mod, "read_sidecar", boom)
    with reader_mod.make_batch_reader(url, spark=spark) as r:
        assert r.dataframe is not None  # plan tier survived
        batch = next(iter(r))
        assert len(batch.l_orderkey) > 0


def test_doubly_failing_sidecar_degrades_to_none(spark, sf_dir, monkeypatch):
    """Round-12 advice: when read_sidecar fails AND the pyarrow retry
    itself raises (fs error after resolution succeeds), Reader
    construction must still succeed with payload=None — a dataset
    whose parquet read works is never aborted by sidecar trouble."""
    import petastorm_spark.etl.dataset_metadata as metadata_mod
    import petastorm_spark.reader as reader_mod

    url = f"{sf_dir}/lineitem.parquet"

    def boom(*a, **k):
        raise OSError("sidecar read failure")

    monkeypatch.setattr(metadata_mod, "read_sidecar", boom)
    monkeypatch.setattr(metadata_mod, "_sidecar_via_pyarrow", boom)
    with reader_mod.make_batch_reader(url, spark=spark) as r:
        assert r.dataframe is not None  # plan tier survived
        batch = next(iter(r))
        assert len(batch.l_orderkey) > 0


# ------------------------------------------------------- round-11 operators


def test_bigram_lm_score_hand_computed(spark):
    """Stupid backoff on a hand-checkable fixture: model = doc 1 only
    ('a b a b c'), scored docs exercise all three rule branches (seen
    bigram, backoff to in-vocab unigram, unknown-word floor)."""
    import math

    from petastorm_spark.operators.text import bigram_lm_score

    df = arrow_local_df(
        spark,
        {
            "doc_id": [1, 2, 3],
            "text": ["a b a b c", "b a x", "q q"],
        },
        "doc_id bigint, text string",
    )
    model = df.where(F.col("doc_id") == 1)
    got = {
        r["doc_id"]: r
        for r in bigram_lm_score(df, "text", "doc_id", model_df=model).collect()
    }
    # model counts: bigrams ab:2, ba:1, bc:1; unigrams a:2 b:2 c:1; N=5
    mu = lambda x: math.floor(math.log(x) * 10**6)  # noqa: E731

    # doc 1: ab ba ab bc -> all seen: 2/2, 1/2, 2/2, 1/2
    assert got[1]["n_bigrams"] == 4 and got[1]["seen_bigrams"] == 4
    assert got[1]["score_micro"] == 2 * mu(2 / 2) + 2 * mu(1 / 2)
    # doc 2: 'b a' seen (1/2); 'a x' unseen, x OOV -> alpha * 1/5
    assert got[2]["n_bigrams"] == 2 and got[2]["seen_bigrams"] == 1
    assert got[2]["score_micro"] == mu(1 / 2) + mu(0.4 * (1 / 5))
    # doc 3: 'q q' unseen, q OOV -> unk floor alpha * 1/5
    assert got[3]["n_bigrams"] == 1 and got[3]["seen_bigrams"] == 0
    assert got[3]["score_micro"] == mu(0.4 * (1 / 5))
    assert got[3]["avg_logprob"] == round(mu(0.4 * (1 / 5)) / 10**6 / 1, 4)


def test_bigram_lm_backoff_branch_fires_in_fixture(spark, sf_dir):
    """The registered query's held-out sources must actually exercise
    the backoff (otherwise the oracle never checks that branch)."""
    from petastorm_spark.queries import QUERIES

    rows = QUERIES["lm_score_backoff"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert any(r["seen_bigrams"] < r["n_bigrams"] for r in rows)
    assert all(r["score_micro"] < 0 for r in rows)  # log-probs are negative


def test_bigram_lm_default_model_is_self(spark):
    """Scoring the training corpus itself: every bigram is seen."""
    from petastorm_spark.operators.text import bigram_lm_score

    df = arrow_local_df(
        spark,
        {"doc_id": [1, 2], "text": ["a b c", "c b a"]},
        "doc_id bigint, text string",
    )
    rows = bigram_lm_score(df, "text", "doc_id").collect()
    assert all(r["seen_bigrams"] == r["n_bigrams"] for r in rows)


def test_prefix_ann_full_dim_equals_exact(spark, corpus):
    """With prefix_dim = dim the funnel IS brute force — results must
    match cosine_topk row for row (same tie-breaks, same rounding)."""
    from petastorm_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_prefix,
    )

    q = corpus.limit(6)
    exact = sorted(map(tuple, cosine_topk(corpus, q, k=4).collect()))
    full = sorted(
        map(tuple, cosine_topk_prefix(corpus, q, k=4, prefix_dim=16).collect())
    )
    assert exact == full


def test_prefix_ann_recall_and_exact_rescore(spark, corpus):
    """Truncated prefix: output cosines must still be EXACT (rescore)
    and recall must be a valid fraction."""
    from petastorm_spark.operators.similarity import (
        ann_recall_report,
        cosine_topk,
        cosine_topk_prefix,
    )

    q = corpus.limit(6)
    approx = cosine_topk_prefix(corpus, q, k=4, rescore_factor=4, prefix_dim=4)
    exact = cosine_topk(corpus, q, k=4)
    ex = {(r["query_id"], r["neighbor_id"]): r["cos_sim"] for r in exact.collect()}
    for r in approx.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in ex:  # any overlap must carry the exact cosine
            assert r["cos_sim"] == ex[key]
    rep = ann_recall_report(exact, approx, k=4).collect()
    assert len(rep) == 6
    assert all(0.0 <= r["recall"] <= 1.0 for r in rep)


def test_lm_score_stream_matches_batch_twin(spark, sf_dir, tmp_path_factory):
    """lm_score_stream (stream-static model joins, occurrence-level
    terms, one update-mode agg) over a static dir must reproduce
    bigram_lm_score exactly — integer micro-unit terms make the
    occurrence/type-count split bit-identical."""
    from petastorm_spark.operators.text import bigram_lm_model, bigram_lm_score
    from petastorm_spark.streaming.feed import lm_score_stream, stream_dataset

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "source"
    )
    model = docs.where(F.col("source").isin("src0", "src1", "src2", "src3"))
    d = str(tmp_path_factory.mktemp("lmscore") / "docs")
    docs.coalesce(1).write.parquet(d)

    big, muni, n_total = bigram_lm_model(model, "text")
    q = (
        lm_score_stream(
            stream_dataset(spark, d).select("doc_id", "text"),
            big, muni, n_total, "text", "doc_id",
        )
        .writeStream.format("memory")
        .queryName("lm_out")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_rows = {
        r.doc_id: (r.n_bigrams, r.seen_bigrams, r.score_micro, r.avg_logprob)
        for r in spark.sql("SELECT * FROM lm_out").collect()
    }
    batch_rows = {
        r.doc_id: (r.n_bigrams, r.seen_bigrams, r.score_micro, r.avg_logprob)
        for r in bigram_lm_score(docs, "text", "doc_id", model_df=model).collect()
    }
    assert stream_rows == batch_rows and stream_rows


def test_ivfpq_append_extends_persisted_index(spark, corpus, tmp_path_factory):
    """ivfpq_append: new vectors become findable through the persisted
    index without re-encoding old rows; duplicate-id appends refused;
    cell partition layout (and thus probe pruning) preserved."""
    import re

    from petastorm_spark.operators.similarity import (
        ivfpq_append,
        ivfpq_build,
        ivfpq_index_read,
        ivfpq_index_write,
        ivfpq_query,
    )

    url = str(tmp_path_factory.mktemp("ivfpq_append") / "idx")
    base = corpus.where(F.col("vec_id") < 100)
    extra = corpus.where(F.col("vec_id") >= 100).withColumn(
        "vec_id", F.col("vec_id") + 10_000
    )
    cent, cb, coded = ivfpq_build(base, dim=16, n_cells=8, m=4, k_codes=8)
    ivfpq_index_write(url, cent, cb, coded)

    n = ivfpq_append(spark, url, extra)
    assert n == extra.count() > 0
    with pytest.raises(ValueError, match="already indexed"):
        ivfpq_append(spark, url, extra.limit(3))

    cent2, cb2, codes2 = ivfpq_index_read(spark, url)
    assert codes2.count() == 120
    # an appended vector must find itself top-1 through the index
    q = extra.limit(3)
    got = ivfpq_query(
        cent2, cb2, codes2, base.unionByName(extra), q,
        k=3, n_probe=8,  # probe all cells: exact within the rescore
    )
    plan = got._jdf.queryExecution().toString()
    assert re.search(r"PartitionFilters: \[.*cell.* IN \(", plan)
    rows = got.collect()
    assert {r["query_id"] for r in rows} == {r["vec_id"] for r in q.collect()}


def test_embedding_covariance_matches_numpy(spark, corpus):
    """36 upper-triangle cells vs numpy's population covariance of the
    micro-quantized coordinates (the operator's exact contract)."""
    import numpy as np

    from petastorm_spark.operators.similarity import embedding_covariance

    got = {
        (r["i"], r["j"]): (r["n"], r["cov"])
        for r in embedding_covariance(corpus, dims=8).collect()
    }
    V = np.array(
        [r["embedding"] for r in corpus.orderBy("vec_id").collect()],
        dtype=np.float64,
    )[:, :8]
    Q = np.round(V * 10**6)  # the micro-unit quantization
    n = len(Q)
    assert len(got) == 36
    for (i, j), (gn, gcov) in got.items():
        assert gn == n and 1 <= i <= j <= 8
        xa, xb = Q[:, i - 1], Q[:, j - 1]
        want = (n * (xa * xb).sum() - xa.sum() * xb.sum()) / (n * n) / 1e12
        assert abs(gcov - want) < 1.5e-6  # round(.,6) vs unrounded


def test_pca_project_matches_numpy(spark, corpus):
    """pca_project_embeddings vs numpy: eigh of the micro-quantized
    covariance, same component ordering and sign convention, projection
    within float tolerance of numpy's (the Spark fold is sequential,
    numpy may pairwise-sum — not bit-pinned, but this is a learned
    transform, not an oracle query)."""
    import numpy as np

    from petastorm_spark.operators.similarity import pca_project_embeddings

    dims, k = 8, 4
    rows = pca_project_embeddings(
        corpus, dims=dims, n_components=k
    ).orderBy("vec_id").collect()
    V = np.array(
        [r["embedding"] for r in corpus.orderBy("vec_id").collect()],
        dtype=np.float64,
    )[:, :dims]
    n = len(V)
    Q = np.round(V * 1e6)
    Cn = np.zeros((dims, dims))
    for i in range(dims):
        for j in range(dims):
            Cn[i, j] = round(
                (n * (Q[:, i] * Q[:, j]).sum() - Q[:, i].sum() * Q[:, j].sum())
                / (n * n) / 1e12, 6,
            )
    w, E = np.linalg.eigh(Cn)
    comps = E[:, np.argsort(-w)[:k]].T
    for c in range(k):
        p = np.argmax(np.abs(comps[c]))
        if comps[c, p] < 0:
            comps[c] = -comps[c]
    # centered with the exact micro-unit means (Sa/n of the i==j
    # cells), not the float mean of the raw doubles
    want = (V - Q.mean(axis=0) / 1e6) @ comps.T
    got = np.array([r["pca"] for r in rows])
    assert got.shape == (n, k)
    assert np.abs(got - want).max() < 1e-9


def test_shot_boundaries_hand_computed(spark):
    """A hand-built video with known cuts: frame sums 0,0,1020,1020,0
    at threshold 300 -> cuts at t=2 and t=4; an all-constant video has
    none; a 1-frame video has none."""
    import numpy as np
    import pandas as pd

    from petastorm_spark.operators.multimodal import (
        encode_fake_image,
        shot_boundaries,
    )

    def vid(levels):
        return encode_fake_image(
            np.stack([np.full((2, 2), v, dtype=np.uint8) for v in levels])
        )

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "video": [vid([0, 0, 255, 255, 0]), vid([7] * 4), vid([9])],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: (r["n_frames"], r["n_cuts"], r["cuts_csv"])
        for r in shot_boundaries(df, "video", "doc_id", 300).collect()
    }
    assert got[1] == (5, 2, "2,4")
    assert got[2] == (4, 0, "")
    assert got[3] == (1, 0, "")


def test_silence_spans_hand_computed(spark):
    """Known silence pattern: blocks quiet,loud,quiet,quiet,loud at
    window 4, threshold 40 -> n_silent=3, longest run=2; an all-loud
    clip has zeros."""
    import numpy as np
    import pandas as pd

    from petastorm_spark.operators.audio import encode_wav, silence_spans

    def clip(levels):
        s = np.concatenate(
            [np.full(4, v, dtype=np.int16) for v in levels]
        ).reshape(-1, 1)
        return encode_wav(s, 8000)

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2],
            "audio": [clip([2, 100, -3, 0, 50]), clip([99, 99])],
        }
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["n_silent"], r["longest_silence"])
        for r in silence_spans(
            spark.createDataFrame(pdf), "audio", "doc_id", 4, 40
        ).collect()
    }
    assert got[1] == (5, 3, 2)
    assert got[2] == (2, 0, 0)


def _wav_bytes(samples, rate, bits, audio_format=1):
    """Hand-rolled WAV container at arbitrary bit depth / format —
    encode_wav only writes 16-bit PCM, so depth coverage needs this."""
    import struct

    import numpy as np

    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    n_ch = s.shape[1]
    if audio_format == 3:
        data = s.astype("<f4").tobytes()
    elif bits == 8:
        data = (s.astype(np.int64) + 128).astype(np.uint8).tobytes()
    elif bits == 16:
        data = s.astype("<i2").tobytes()
    else:
        data = s.astype("<i4").tobytes()
    ba = n_ch * bits // 8
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, audio_format, n_ch, rate, rate * ba, ba, bits
    )
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def test_silence_spans_bit_depths(spark):
    """The SAME signed sample values at 8/16/32-bit PCM must yield the
    SAME silence report — the rescale factor is derived from the
    container's bit depth, not hardwired to 2^15 (8-bit would read
    256x loud, 32-bit would collapse to all-silent). IEEE-float WAVs
    raise instead of silently quantizing."""
    import re

    import numpy as np
    import pandas as pd
    import pytest

    from petastorm_spark.operators.audio import silence_spans

    vals = np.repeat([1, 100, 2], 4)  # block abs-sums 4, 400, 8
    for bits in (8, 16, 32):
        df = spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": [1], "audio": [_wav_bytes(vals, 8000, bits)]}
            )
        )
        rows = silence_spans(df, "audio", "doc_id", 4, 10).collect()
        assert [
            (r["n_windows"], r["n_silent"], r["longest_silence"])
            for r in rows
        ] == [(3, 2, 1)], f"bits={bits}"
    fdf = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1],
                "audio": [
                    _wav_bytes(vals / 32768.0, 8000, 32, audio_format=3)
                ],
            }
        )
    )
    with pytest.raises(Exception, match=re.escape("integer PCM")):
        silence_spans(fdf, "audio", "doc_id", 4, 10).collect()
    # opt-in quantization: assume_bits=16 rescales the float samples
    # by 1<<15 (the pre-r12 implicit behavior, now an explicit choice)
    # and reproduces the integer-PCM report exactly
    rows = silence_spans(
        fdf, "audio", "doc_id", 4, 10, assume_bits=16
    ).collect()
    assert [
        (r["n_windows"], r["n_silent"], r["longest_silence"]) for r in rows
    ] == [(3, 2, 1)]


def test_shot_and_silence_accept_string_ids(spark):
    """The round-11 dtype lesson applied to the new kernels: string
    ids must flow through shot_boundaries and silence_spans."""
    import numpy as np
    import pandas as pd

    from petastorm_spark.operators.audio import encode_wav, silence_spans
    from petastorm_spark.operators.multimodal import (
        encode_fake_image,
        shot_boundaries,
    )

    vid = encode_fake_image(
        np.stack([np.full((2, 2), v, dtype=np.uint8) for v in (0, 255)])
    )
    clip = encode_wav(np.zeros((8, 1), dtype=np.int16), 8000)
    df = spark.createDataFrame(
        pd.DataFrame({"k": ["doc-a"], "video": [vid], "audio": [clip]})
    )
    s = shot_boundaries(df, "video", "k", 300).collect()
    assert [(r["k"], r["n_cuts"]) for r in s] == [("doc-a", 1)]
    a = silence_spans(df, "audio", "k", 4, 10).collect()
    assert [(r["k"], r["n_silent"]) for r in a] == [("doc-a", 2)]


def test_prefix_persistent_index_matches_and_prunes(
    spark, corpus, tmp_path_factory
):
    """prefix_query over a persisted index must equal the in-plan
    cosine_topk_prefix row for row, and its approx scan must read ONLY
    (id, prefix) — the physical payoff (ReadSchema pinned)."""
    from petastorm_spark.operators.similarity import (
        cosine_topk_prefix,
        prefix_index_read,
        prefix_index_write,
        prefix_query,
    )

    url = str(tmp_path_factory.mktemp("prefix_idx") / "idx")
    prefix_index_write(url, corpus, prefix_dim=4)
    p, pdf_idx = prefix_index_read(spark, url)
    assert p == 4
    q = corpus.limit(5)
    got = prefix_query(pdf_idx, corpus, q, k=3, prefix_dim=4)
    want = sorted(
        map(tuple, cosine_topk_prefix(corpus, q, k=3, prefix_dim=4).collect())
    )
    assert sorted(map(tuple, got.collect())) == want
    plan = got._jdf.queryExecution().toString()
    idx_scans = [
        ln for ln in plan.splitlines()
        if "ReadSchema" in ln and "/prefix]" in ln.replace("\\", "/")
    ]
    # the index scan reads id + prefix, never a full vector column
    assert idx_scans and all("embedding" not in ln for ln in idx_scans)
